package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data pipeline operators over the `documents` table:
  * deduplication (exact, shingle-Jaccard, MinHash+LSH, SimHash), text
  * analysis (token counting, quality scoring, language id, fingerprinting).
  *
  * Scale design: nothing here does an O(n^2) cross join — near-dup
  * detection goes through an inverted shingle index (explode -> join on
  * shingle -> pair counts), MinHash goes through banded LSH buckets, and
  * SimHash through 16-bit band buckets, so each is a set of key-partitioned
  * shuffles that scale out linearly-ish with corpus size.
  */
object TextPipeline {
  import QueryDef._

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.TextPipeline")

  /** Shingles shared by more documents than this carry no near-dup signal
    * (they're stop-phrases), and any one of them makes the inverted-index
    * self-join quadratic on a single key — 10^6 docs sharing one shingle is
    * 10^12 joined pairs in one task. Dropping them is standard MinHash-LSH
    * practice. 128 is ~5x the max df observed in the test corpora (25 at
    * sf0.1), so small-sf results are unchanged; drops are logged. */
  private[graft] val ShingleDfCap = 128

  /** Same hazard for LSH band buckets: a bucket with m members expands to
    * m^2/2 candidate pairs on one join key. A hot bucket is almost always a
    * cluster of exact dups (better handled by q_dedup_exact first); with 8
    * independent bands a true near-dup pair that loses one capped bucket
    * still collides in the others. */
  private[graft] val BucketCap = 128

  /** MinHash banding geometry: MinhashBands bands x MinhashRows rows over a
    * (bands*rows)-wide signature. The LSH collision threshold is
    * (1/bands)^(1/rows); 8x4 gives ~0.59, ALIGNED with the pipeline's
    * jaccard >= 0.5 output filter — so bands rarely admit pairs the filter
    * would discard (8x2's threshold of ~0.35 flooded the candidate join +
    * exact verify with sub-threshold pairs; 4x4's ~0.71 missed real 0.9
    * pairs: P[miss] = (1-0.9^4)^4 ~ 1.4%, vs ~2e-4 for 8x4). The md5
    * oracle twin generates BOTH its SQL and its Spark side from these same
    * constants, so geometry can never drift between engines. */
  private[graft] val MinhashBands = 8
  private[graft] val MinhashRows = 4
  private[graft] val MinhashSigN = MinhashBands * MinhashRows

  /** Banded random-hyperplane LSH geometry for embedding near-dup: LshBands
    * independent bands of LshBits sign-planes each. Minhash-style banding
    * (vs the old single 16-plane bucket) buys two scale properties at once:
    * RECALL — a cos-0.95 pair agrees with one 10-plane band w.p. ~0.35, so
    * 8 bands catch it w.p. ~0.97 where a single 16-plane bucket managed
    * ~0.18; and CAP SAFETY — a hot bucket (dense embedding region) can be
    * dropped from ONE band without losing pairs that collide in the other
    * seven, so the quadratic hot-key hazard gets the same bounded-per-key
    * treatment as the minhash/jaccard caps. */
  private[graft] val LshBands = 8
  private[graft] val LshBits = 10
  private[graft] val LshPlanes = LshBands * LshBits

  /** Decontamination window in tokens: a document sharing any
    * [[DeconNgram]]-token shingle with the benchmark set is flagged as
    * contaminated — the published eval-decontamination setups (GPT-3
    * appendix C, PaLM) use 8-13-token windows; 8 is the strict end. The
    * deterministic stand-in benchmark set is every doc_id divisible by
    * [[DeconBenchMod]] (a real pipeline would read the eval suites). */
  private[graft] val DeconNgram = 8
  private[graft] val DeconBenchMod = 31

  /** Per-source document cap for q_source_cap (domain-cap pipeline rule). */
  private[graft] val SourceCap = 20

  /** q_decontaminate_fuzzy: bench-set stand-in modulus. DENSER than the
    * exact-decon stand-in ([[DeconBenchMod]] = 31) on purpose: near-dup
    * pairs straddling a 1-in-31 split are so rare at the test scale
    * (2 pairs at sf0.01) that the fuzzy matcher would go un-exercised; at
    * 1-in-7 the split crosses ~9 near-dup pairs, so banding, the
    * cross-join, the exact verify, and the best-match cut all carry
    * signal. A production caller passes a REAL eval corpus either way. */
  private[graft] val DeconFuzzyBenchMod = 7


  /** Fixed-point scale for q_lang_mix sampling rates (mils). */
  private[graft] val MixScale = 1000

  /** q_doc_chunk: context-window prep — 64-token windows at stride 48
    * (16-token overlap keeps boundary n-grams visible to both sides). */
  private[graft] val ChunkTokens = 64
  private[graft] val ChunkStride = 48

  /** q_span_dedup: granularity of the repeated-span audit — non-overlapping
    * 16-token spans (half of Lee et al.'s 50-token exact-substring unit;
    * the synthetic corpus' docs are short, so spans must be too). */
  private[graft] val SpanTokens = 16

  /** q_decontaminate_chunked: synthetic chunk id = doc_id * scale +
    * chunk_idx, parent recoverable as id div scale. 100k bounds docs at
    * ~4.8M tokens (ChunkStride windows) and ids at Long.MaxValue/1e5 —
    * callers beyond either re-key first. */
  private[graft] val ChunkIdScale = 100000L

  /** q_seq_pack: training-sequence length for the concatenate-and-cut
    * packing manifest, and the doc_id range width of its prefix-sum
    * buckets (docs per bucket; bucket totals are the metadata-sized
    * second phase). */
  private[graft] val PackTokens = 1024
  private[graft] val PackBucketDocs = 256

  /** q_pii_redact: PII patterns, written in the DIALECT INTERSECTION of
    * Java regex (Spark's engine) and RE2 (DuckDB's) — character classes,
    * bounded repetition and ASCII `\b` word boundaries mean the same thing
    * in both, so the hash-checked twin pins the kernels bit-for-bit. Kept
    * deliberately simple (the C4/Dolma-style scrub patterns): high-recall
    * PII scrubbing with NER models is out of scope for a SQL-shaped
    * operator; these are the regex tier every published corpus pipeline
    * runs first. */
  private[graft] val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiIpv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val PiiPhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** q_train_order: shard count for the global training-order shuffle.
    * Production sets this O(cluster cores); the oracle twin pins 8. */
  private[graft] val OrderShards = 8

  /** q_sample_weighted: sample size for the weighted priority draw. */
  private[graft] val WeightedSampleN = 100

  /** q_stratified_sample: docs kept per stratum (language). */
  private[graft] val StratifiedPerKey = 40

  /** q_bm25 query terms: one rare discriminative term plus two common ones
    * (the realistic keyword-audit shape — the rare term dominates by idf). */
  private[graft] val Bm25Terms = Seq("dup", "merge", "scan")

  /** q_tfidf_terms: keywords kept per document. */
  private[graft] val TfidfTopN = 3

  /** q_snippet knobs: how many top BM25 docs get a snippet, and the
    * snippet window width in tokens.
    * NOTE: must precede the `queries` Seq (oracle SQL generated at Seq
    * construction). */
  private[graft] val SnippetDocs = 10
  private[graft] val SnippetWin = 8

  /** q_prf_expand knobs: feedback depth (docs), expansion width (terms),
    * and the fixed-point weight scale (original terms carry weight
    * [[PrfWeightScale]]; expansion terms are normalized to <= it).
    * NOTE: must precede the `queries` Seq in initialization order — the
    * oracle SQL is generated from these at Seq construction. */
  private[graft] val PrfFbDocs = 10
  private[graft] val PrfExpTerms = 5
  private[graft] val PrfWeightScale = 1000L

  /** q_vocab_topk: vocabulary size for the tokenizer-vocab builder.
    * Production would be 30k-plus; 20 is BELOW the synthetic corpus'
    * 31-token vocabulary on purpose, so the oracle actually exercises the
    * top-K cut (100 would pass every token through and never test it). */
  private[graft] val VocabTopK = 20

  /** q_bpe_train: number of merge rules the BPE trainer learns. Production
    * tokenizers learn 30k-100k merges; 8 keeps the hash-checked oracle twin
    * (one unrolled CTE block per merge) readable while exercising every
    * moving part — the pair-count aggregation, the deterministic argmax
    * tie-break, and the non-overlapping left-to-right merge apply — through
    * several rounds of genuinely data-dependent rule selection. */
  private[graft] val BpeMerges = 8

  /** q_dsir_select: DSIR-style data selection (Xie et al., NeurIPS 2023,
    * "Data Selection for Language Models via Importance Resampling") over
    * hashed n-gram (unigram + bigram) features. [[DsirBuckets]] = feature-
    * hash cells: 64 keeps the histograms and the plan-literal scoring map
    * test-readable (production would use 10k-100k; the tables stay
    * metadata-sized either way). [[DsirTopK]] is the selection size.
    * [[DsirRatioCap]] clips the quantized per-bucket importance ratio at
    * 1000x (scale 1e6), so a doc's integer score is bounded by
    * nf * 1e9 — inside int64 for any document under ~9e9 features. */
  private[graft] val DsirBuckets = 64
  private[graft] val DsirTopK = 25
  private[graft] val DsirRatioCap = 1000000000L

  /** Session-conf knobs for every cap / banding constant above, so a
    * 100 TB operator can re-tune per-corpus without a rebuild (same
    * pattern as `graft.index.maxTargetedPartitions`). Defaults are the
    * constants, which are ALSO what the generated DuckDB oracle twins pin —
    * the hash-checked twins stay green under default conf, and ScaleSpec
    * exercises non-default values through the internal APIs. */
  private[graft] object Knobs {
    private def int(s: SparkSession, key: String, default: Int): Int =
      s.conf.getOption(key).map(_.trim.toInt).getOrElse(default)
    def shingleDfCap(s: SparkSession): Int = int(s, "graft.text.shingleDfCap", ShingleDfCap)
    def bucketCap(s: SparkSession): Int = int(s, "graft.text.bucketCap", BucketCap)
    def minhashBands(s: SparkSession): Int = int(s, "graft.text.minhashBands", MinhashBands)
    def minhashRows(s: SparkSession): Int = int(s, "graft.text.minhashRows", MinhashRows)
    def simhashBandBits(s: SparkSession): Int = int(s, "graft.text.simhashBandBits", 8)
    def lshBands(s: SparkSession): Int = int(s, "graft.lsh.bands", LshBands)
    def lshBits(s: SparkSession): Int = int(s, "graft.lsh.bits", LshBits)
    def dsirBuckets(s: SparkSession): Int = int(s, "graft.text.dsirBuckets", DsirBuckets)
    /** Max n-gram order of the DSIR feature map (1 = unigrams only, 2 =
      * unigram + bigram — the paper's and the oracle twin's shape).
      * Consumed by the production arm only. */
    def dsirNgram(s: SparkSession): Int = int(s, "graft.text.dsirNgram", 2)
  }

  /** deterministic pseudo-random plane weight, shared by the Spark kernel
    * and the generated oracle. */
  private[graft] def lshWeight(p: Int, d: Int, planes: Int = LshPlanes): Double =
    ((d * planes + p) * 2654435761L % 1000003L).toDouble / 1000003.0 - 0.5

  /** Generated DuckDB oracle for q_neardup_lsh: the same deterministic
    * hyperplane weights as literals, the same banding, the same hot-bucket
    * cap, with every sum written as an explicit left-associated term chain
    * so f64 accumulation order matches the Spark kernels (band-bucket UDF,
    * DotProduct) exactly. DuckDB lists are 1-based. */
  private[queries] lazy val lshOracleSql: String = {
    val dim = 64
    def planeSum(p: Int): String =
      (0 until dim).map(d => s"embedding[${d + 1}]::DOUBLE * ${lshWeight(p, d)}").mkString(" + ")
    def bucketExpr(band: Int): String =
      (0 until LshBits).map(i =>
        s"(CASE WHEN (${planeSum(band * LshBits + i)}) >= 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
    val bandSelects = (0 until LshBands).map(b =>
      s"SELECT vec_id, $b AS band, ${bucketExpr(b)} AS bucket FROM e").mkString("\nUNION ALL\n")
    val normSum = (0 until dim).map(d => s"emb[${d + 1}] * emb[${d + 1}]").mkString(" + ")
    val dotSum = (0 until dim).map(d => s"ua.ue[${d + 1}] * ub.ue[${d + 1}]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS emb FROM embeddings),
       |n AS (SELECT vec_id, emb, sqrt($normSum) AS nrm FROM e),
       |u AS (SELECT vec_id, list_transform(emb, x -> x / nrm) AS ue FROM n),
       |bands AS (
       |$bandSelects),
       |hot AS (SELECT band, bucket FROM bands GROUP BY band, bucket
       |        HAVING count(*) > $BucketCap),
       |pruned AS (SELECT b.* FROM bands b WHERE NOT EXISTS
       |  (SELECT 1 FROM hot h WHERE h.band = b.band AND h.bucket = b.bucket)),
       |p AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |      FROM pruned a JOIN pruned b
       |      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |c AS (SELECT a_id, b_id, round($dotSum, 4) AS cos
       |      FROM p JOIN u ua ON ua.vec_id = a_id JOIN u ub ON ub.vec_id = b_id)
       |SELECT a_id, b_id, cos FROM c WHERE cos >= 0.2
       |ORDER BY cos DESC, a_id, b_id""".stripMargin
  }

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.t(s, dir, "documents")

  /** Per-row distinct [[DeconNgram]]-token shingles of a text column — the
    * decontamination kernel, shared by batch `q_decontaminate` and the
    * streaming ingest guard ([[graft.streaming.StreamingIngest
    * .decontaminatedStream]]) so the two paths can never drift. Pure
    * collection expressions (codegen'd, zero shuffle); documents shorter
    * than the window yield an empty array. */
  private[graft] def deconShingles(textCol: Column): Column = {
    val t = split(textCol, " ")
    array_distinct(when(size(t) >= DeconNgram,
      transform(sequence(lit(1), size(t) - (DeconNgram - 1)),
        n => array_join(slice(t, n, lit(DeconNgram)), " ")))
      .otherwise(array().cast("array<string>")))
  }

  /** Benchmark-decontamination audit of a corpus against a REAL benchmark
    * set — the production entry point behind `q_decontaminate` (whose
    * doc_id-derived stand-in only exists so the driver's DuckDB oracle can
    * re-derive the benchmark from the same parquet).
    *
    * `corpus` needs (doc_id, text). `bench` is the eval-suite input in
    * either supported schema: a column `sh` of ready
    * [[DeconNgram]]-token shingle strings, or a column `text` of raw
    * benchmark documents — shingled here by the SAME kernel as the corpus
    * side ([[deconShingles]]), so the two sides can never tokenize apart.
    *
    * Returns one row per corpus doc: (doc_id, n_hits, n_shingles,
    * contam_mils, contaminated) — the any-hit verdict plus the graded
    * PaLM-style fraction in integer [[MixScale]]-mils.
    *
    * Scale shape: identical to the oracle twin's — the benchmark set is
    * metadata-sized by nature (eval suites, ~1e6 shingles at production
    * scale) and rides a BROADCAST membership probe (the streaming guard
    * [[graft.streaming.StreamingIngest.decontaminatedStream]] enforces the
    * same metadata-sized contract with an explicit collect-side cap); the
    * corpus-side shingle stream is never shuffled by shingle — the only
    * shuffle is the output-sized per-doc hit count. */
  def decontaminate(corpus: DataFrame, bench: DataFrame): DataFrame = {
    val benchSh =
      (if (bench.columns.contains("sh")) bench.select(col("sh").cast("string").as("sh"))
       else bench.select(explode(deconShingles(col("text"))).as("sh")))
        .distinct()
    val withShs = corpus.select(col("doc_id"), deconShingles(col("text")).as("shs"))
    val hits = withShs.select(col("doc_id"), explode(col("shs")).as("sh"))
      .join(broadcast(benchSh), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    withShs
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_shingles"),
        when(col("n_shingles") > 0,
          floor(coalesce(col("n_hits"), lit(0L)) * MixScale / col("n_shingles"))
            .cast("long"))
          .otherwise(lit(0L)).as("contam_mils"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Regex-tier PII scrub of a text column — the privacy pass every
    * published corpus pipeline (C4, Dolma, RefinedWeb) runs before a
    * corpus ships: emails, IPv4 addresses and US-phone-shaped numbers are
    * counted (on the original text, per pattern) and replaced with typed
    * placeholder tokens, emails first so an address' digits can never be
    * re-matched by the numeric patterns. Adds columns (n_email, n_ipv4,
    * n_phone, pii_total, `textCol`_redacted).
    *
    * Scale shape: pure per-row codegen'd expression work — zero shuffles,
    * zero state; the patterns ([[PiiEmailRe]] etc.) are Java/RE2
    * dialect-intersection so the DuckDB twin hash-checks the kernel. */
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def n(re: String) = size(regexp_extract_all(t, lit(re), lit(0))).cast("long")
    df.withColumn("n_email", n(PiiEmailRe))
      .withColumn("n_ipv4", n(PiiIpv4Re))
      .withColumn("n_phone", n(PiiPhoneRe))
      .withColumn("pii_total", col("n_email") + col("n_ipv4") + col("n_phone"))
      .withColumn(s"${textCol}_redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, PiiEmailRe, "<EMAIL>"),
            PiiIpv4Re, "<IP>"),
          PiiPhoneRe, "<PHONE>"))
  }

  /** Deterministic global training-order shuffle WITHOUT a global sort —
    * the epoch-ordering step of a training pipeline. Every id gets a
    * pseudo-random md5 draw; rows hash-shard on the draw's top bits and
    * sort only WITHIN each shard (`pos` = 1-based rank), so a trainer that
    * consumes shards in index order and rows in `pos` order reads a
    * reproducible global permutation. Scale shape: ONE hash exchange on
    * `shard` plus per-shard sorts of n/shards rows each — no single-task
    * global ordering anywhere (the naive `ORDER BY random()` is a global
    * sort, whose final merge is the 100 TB killer); production sets
    * `shards` O(cluster cores) while the oracle twin pins
    * [[OrderShards]]. Reproducibility is the md5-mod construction already
    * proven for splits/mixing: a pure function of the id and the epoch
    * seed, so re-runs and retries see the same order. */
  def trainOrder(df: DataFrame, idCol: String = "doc_id",
      shards: Int = OrderShards, seed: String = "ord"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    import org.apache.spark.sql.expressions.Window
    val oh = md5(concat(lit(seed), col(idCol).cast("string")))
    df.select(col(idCol), oh.as("oh"),
        (conv(substring(oh, 1, 15), 16, 10).cast("long") % shards).as("shard"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard")).orderBy(col("oh"), col(idCol)))
        .cast("long"))
      .drop("oh")
  }

  /** Deterministic weighted priority sampling (Duffield, Lund & Thorup,
    * "Priority sampling", 2007): each row draws a uniform u from the md5 of
    * (seed, id) — the split/order/mix construction already hash-proven
    * cross-engine — and gets priority key u div w; the n SMALLEST keys are
    * the sample (equivalently the n largest w/u priorities), so a row's
    * inclusion odds scale with its weight while the draw stays a pure
    * function of (seed, id): re-runs, retries, and both engines agree
    * bit-for-bit, with NO float pow/log (u^(1/w) a la Efraimidis-Spirakis
    * would not hash-match across engines). Scale shape: one zero-shuffle
    * corpus pass cut by TakeOrderedAndProject (per-partition heaps of n) —
    * the 100 TB plan is a scan. */
  def weightedSample(df: DataFrame, weightExpr: String, n: Int,
      idCol: String = "doc_id", seed: String = "wsamp"): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    // a weight <= 0 or null would make skey null (non-ANSI integer div),
    // and nulls sort FIRST ascending — the invalid rows would silently
    // claim the head of the sample. Refuse loudly per row instead.
    val w = expr(weightExpr).cast("long")
    df.withColumn("weight",
        when(w.isNotNull && w > 0, w).otherwise(raise_error(concat(
          lit(s"weightedSample: weight `$weightExpr` must be > 0, got "),
          coalesce(w.cast("string"), lit("null"))))))
      .withColumn("skey",
        expr(s"cast(conv(substring(md5(concat('$seed', cast($idCol as string))), 1, 15), 16, 10) as bigint) div weight"))
      .select(col(idCol), col("weight"), col("skey"))
      .orderBy(col("skey"), col(idCol)).limit(n)
  }

  /** Deterministic stratified sampling: a fixed-size per-stratum draw
    * (`n` rows per distinct `keyCol` value) under the same seeded md5
    * order as [[trainOrder]] — the "equal representation per language /
    * source / difficulty tier" eval- and probe-set primitive (vs
    * [[weightedSample]]'s corpus-global weighted draw and q_lang_mix's
    * RATE-based rebalancing, this pins an exact per-stratum COUNT). Pure
    * function of (seed, id): re-runs and both engines agree bit-for-bit.
    *
    * A stratum with FEWER than `n` rows yields all of them — the draw is
    * "up to n per stratum", so a balanced eval set can silently
    * under-represent a rare language/tier. Callers that need the exact
    * count pass `strict = true`: any present stratum short of `n` rows
    * then refuses loudly at execution (a stratum with ZERO rows has no
    * value in `keyCol` at all and is undetectable by construction — pin
    * the expected stratum list caller-side if absence matters).
    *
    * Scale shape: ONE hash exchange on the stratum key; the per-stratum
    * rank is a window Catalyst rewrites with a partial pre-shuffle group
    * limit (InferWindowGroupLimit, the q_source_cap plan shape), so each
    * map task forwards <= n rows per stratum — the exchange moves
    * O(tasks x strata x n), never the corpus, and a 5-language 100 TB
    * corpus costs ~tasks x 5 x n narrow rows, not a skewed full sort. The
    * strict check windows over the ALREADY-capped frame (<= strata x n
    * rows), so it never touches the draw's plan shape. */
  def stratifiedSample(df: DataFrame, keyCol: String, n: Int,
      idCol: String = "doc_id", seed: String = "strat",
      strict: Boolean = false): DataFrame = {
    require(n > 0, s"per-stratum sample size must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    val oh = md5(concat(lit(seed), col(idCol).cast("string")))
    val capped = df.select(col(keyCol), col(idCol), oh.as("oh"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col(keyCol)).orderBy(col("oh"), col(idCol)))
        .cast("long"))
      .filter(col("pos") <= n)
    if (!strict) capped.select(col(keyCol), col("pos"), col(idCol))
    else capped
      .withColumn("stratum_rows",
        max(col("pos")).over(Window.partitionBy(col(keyCol))))
      .select(col(keyCol), col("pos"),
        when(col("stratum_rows") >= n, col(idCol)).otherwise(raise_error(concat(
          lit("stratifiedSample(strict): stratum "), col(keyCol).cast("string"),
          lit(" has only "), col("stratum_rows").cast("string"),
          lit(s" rows, fewer than the requested n=$n")))).as(idCol))
  }

  /** q_curriculum_order: difficulty-tier width (docs bucket by
    * `difficulty div width`, capped at [[CurriculumMaxBucket]]) — integer
    * arithmetic on both engines so the oracle twin is bit-exact. */
  private[graft] val CurriculumBucketWidth = 500
  private[graft] val CurriculumMaxBucket = 7L

  /** Curriculum training order (easy-to-hard scheduling): docs are tiered
    * into difficulty buckets by a PER-ROW integer expression on a
    * difficulty column (no quantile pass, no global state — `ntile`-style
    * bucketing would be a single-partition window over the whole corpus,
    * the 100 TB killer), then deterministically shuffled WITHIN each
    * (bucket, shard) by the same seeded md5 draw as [[trainOrder]]. A
    * consumer walks buckets in order and round-robins the shards inside
    * each bucket, so training sees easy docs first with an unbiased order
    * inside every tier. Scale shape: one hash exchange on (bucket, shard)
    * — B x S window partitions, no partition ever holding more than its
    * tier-shard slice — and nothing global anywhere. */
  def curriculumOrder(df: DataFrame, diffCol: String = "n_chars",
      idCol: String = "doc_id", shards: Int = OrderShards,
      bucketWidth: Int = CurriculumBucketWidth,
      maxBucket: Long = CurriculumMaxBucket, seed: String = "cur"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    import org.apache.spark.sql.expressions.Window
    val oh = md5(concat(lit(seed), col(idCol).cast("string")))
    df.select(col(idCol),
        least(expr(s"$diffCol div $bucketWidth"), lit(maxBucket)).as("bucket"),
        oh.as("oh"),
        (conv(substring(oh, 1, 15), 16, 10).cast("long") % shards).as("shard"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("bucket"), col("shard"))
          .orderBy(col("oh"), col(idCol)))
        .cast("long"))
      .drop("oh")
  }

  /** "No silent caps" without a dedicated count job: the hot-key set is tiny
    * (it rides a broadcast), so a pass-through UDF on it ticks a long
    * accumulator while the broadcast relation is built, and a session-level
    * listener logs the total after the job that materialized it finishes.
    * This replaces the round-3 eager `hot.count()` jobs, which serialized a
    * full aggregation pass before the main pipeline could start. */
  private object DropLog {
    private val regs = new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.SparkContext, String),
      (org.apache.spark.util.CollectionAccumulator[Long],
        java.util.concurrent.atomic.AtomicLong)]()
    private val installed =
      scala.collection.concurrent.TrieMap[org.apache.spark.SparkContext, Boolean]()

    /** A counting pass-through for the hot-key frame's key column. The
      * accumulator collects a 64-bit xxhash of each KEY (bounded: the hot
      * set rides a broadcast by design) and the log reports the DISTINCT
      * count, so re-materialization of an uncached plan branch or a
      * retried task can't inflate the number — and ONE accumulator is
      * reused per (context, label), so a long-lived session repeatedly
      * building dedup plans registers O(labels) accumulators, not
      * O(invocations) (distinct semantics make reuse across invocations
      * exact: same corpus, same hot keys). Hashing makes the tick
      * TYPE-AGNOSTIC — the production paths' long buckets and the DuckDB
      * twins' md5 string buckets ride the same shared band/cap code — at
      * the cost of a vanishing (~n²/2⁶⁴) distinct-undercount in the LOG
      * LINE only. The ticked column itself passes through untouched (the
      * tick is a `when`-predicate side effect, not a cast). Entries of
      * stopped contexts are purged on the next job end. */
    def tick(s: SparkSession, label: String): Column => Column = {
      val sc = s.sparkContext
      val (a, _) = regs.computeIfAbsent((sc, label), _ =>
        (sc.collectionAccumulator[Long](s"graft.drops.$label"),
          new java.util.concurrent.atomic.AtomicLong(0)))
      if (installed.putIfAbsent(sc, true).isEmpty) {
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            regs.forEach { (key, entry) =>
              val (ctx, lbl) = key
              val (acc, seen) = entry
              if (ctx.isStopped) { regs.remove(key); installed.remove(ctx); () }
              else {
                val v = scala.jdk.CollectionConverters.ListHasAsScala(acc.value)
                  .asScala.toSet.size.toLong
                if (v > seen.getAndSet(v)) log.warn(
                  s"$lbl: dropped $v hot keys (cap exceeded; no near-dup signal, " +
                    "quadratic join hazard)")
              }
            }
          }
        })
      }
      // asNondeterministic is LOAD-BEARING: the when(...) form is nullable,
      // and with a deterministic UDF InferFiltersFromConstraints derives an
      // isnotnull filter CONTAINING the UDF from the downstream join key
      // and pushes it to the hot frame's SOURCE — the tick then fires once
      // per corpus band row instead of once per hot key (measured: 6621
      // spurious ticks on a corpus whose true hot count is 0).
      // Nondeterministic expressions are excluded from constraint
      // inference, so the tick evaluates exactly where it is written: in
      // the projection over the filtered hot frame.
      val u = udf { (k: Long) => a.add(k); true }.asNondeterministic()
      c => when(u(xxhash64(c)), c)
    }

    /** Max distinct dropped-key count across live accumulators whose label
      * starts with the prefix — lets ScaleSpec assert the caps actually
      * fired on a corpus built to trip them. */
    def dropped(labelPrefix: String): Long = {
      var best = 0L
      regs.forEach { (key, entry) =>
        val (ctx, lbl) = key
        if (!ctx.isStopped && lbl.startsWith(labelPrefix)) {
          val v = scala.jdk.CollectionConverters.ListHasAsScala(entry._1.value)
            .asScala.toSet.size.toLong
          if (v > best) best = v
        }
      }
      best
    }
  }

  /** Test hook: distinct keys dropped by the cap whose DropLog label starts
    * with the prefix (e.g. "jaccardPairs", "q_dedup_minhash"). */
  private[graft] def droppedHotKeys(labelPrefix: String): Long =
    DropLog.dropped(labelPrefix)

  /** Spread a narrow scan across the cluster before CPU-heavy per-token
    * work: a small documents table reads as ONE parquet split, which would
    * run every downstream string kernel (shingling, hashing, simhash votes)
    * in a single task. Only repartitions when the scan is estimated to have
    * fewer splits than cores — at real scale the table has thousands of
    * splits and this is an identity. The estimate uses optimizer statistics
    * (driver-side metadata: file sizes / maxPartitionBytes), NOT
    * `df.rdd.getNumPartitions`, which would instantiate the physical RDD
    * lineage on every query build. Results are partitioning-independent
    * (counts, mins, integer votes), so oracle parity is unaffected. */
  private def spread(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    val target = s.sparkContext.defaultParallelism
    val splitBytes = math.max(1L, s.sessionState.conf.filesMaxPartitionBytes)
    val scanBytes = d.queryExecution.optimizedPlan.stats.sizeInBytes
    if (scanBytes < BigInt(splitBytes) * target) d.repartition(target) else d
  }

  private val toks: Column = split(col("text"), " ")

  /** Unigram + bigram surface features over a tokens column `t`, row-local
    * (q_dsir_select / [[dsirSampleGumbel]]). The bigram arm is guarded with
    * a typed empty slice — `sequence(0, size - 2)` on a 1-token doc would
    * yield [0, -1] (Spark infers a descending step), not an empty array.
    * `order` = max n-gram order (1 drops the bigram arm — the production
    * knob's cheap setting; the oracle twin stays pinned at 2). */
  private def dsirFeatsOf(order: Int): Column =
    if (order <= 1) col("t")
    else expr(
      """concat(t, if(size(t) >= 2,
        |  transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1])),
        |  slice(t, 1, 0)))""".stripMargin)
  private val dsirFeats: Column = dsirFeatsOf(2)

  /** md5-derived feature-hash bucket — both engines compute the identical
    * md5 hex, take the first 15 nibbles (< 2^60, so no sign hazard on
    * either side) and reduce mod B (default [[DsirBuckets]] — what the
    * q_dsir_select oracle twin pins; the production arm reads the
    * `graft.text.dsirBuckets` session knob). */
  private def dsirBucket(f: Column, b: Int = DsirBuckets): Column =
    conv(substring(md5(f), 1, 15), 16, 10).cast("long") % b

  /** (doc_id, is_target, b): one exploded feature-bucket row per n-gram —
    * the single corpus-sized pass both DSIR scorers aggregate from. The
    * target predicate is evaluated against the FULL input row before the
    * explode, so it may reference any input column (lang, source, a
    * quality score...), not just the ones this projection keeps. */
  private def dsirBucketed(d: DataFrame, targetPred: Column,
      b: Int = DsirBuckets, order: Int = 2): DataFrame =
    spread(d).select(col("doc_id"), targetPred.as("is_target"), toks.as("t"))
      .select(col("doc_id"), col("is_target"),
        explode(dsirFeatsOf(order)).as("f"))
      .select(col("doc_id"), col("is_target"), dsirBucket(col("f"), b).as("b"))

  /** Per-bucket (bucket, raw count, target count) plus the two totals, as
    * one corpus explode-aggregate collapsed map-side into <= B groups and
    * collected — metadata-sized at any corpus scale. */
  private def dsirHistogram(d: DataFrame, targetPred: Column,
      b: Int = DsirBuckets, order: Int = 2): (Seq[(Long, Long, Long)], Long, Long) = {
    val rows = dsirBucketed(d, targetPred, b, order)
      .groupBy("b").agg(count(lit(1)).as("cq"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("cp"))
      // bounded: <= `b` hash-bucket groups (DsirBuckets default) whatever
      // the corpus size
      .collect()
      .map(r => (r.getAs[Long]("b"), r.getAs[Long]("cq"), r.getAs[Long]("cp")))
      .toSeq
    (rows, rows.map(_._2).sum, rows.map(_._3).sum)
  }

  /** DSIR's statistically-faithful selection: double-precision
    * log-likelihood-ratio weights plus Gumbel top-k — equivalent to
    * sampling k docs without replacement with probability proportional to
    * the softmax of the importance weights (Xie et al. 2023 §2; Vieira 2014
    * for the Gumbel-top-k equivalence). Deterministic: each doc's Gumbel is
    * G = -ln(-ln(u)) for u = (md5(seed || doc_id) mod 1e9 + 0.5) / 1e9.
    * Shares [[dsirBucketed]]/[[dsirHistogram]]/[[dsirFeats]] with the
    * hash-checked q_dsir_select twin, so the feature/bucket/histogram
    * plumbing cannot drift from the oracle-pinned path; the double log-ratio
    * map and Gumbel key are pinned against a driver-side reference in
    * DsirSpec. Scale shape is the twin's: one corpus explode-aggregate, a
    * plan-literal log-ratio map, zero-shuffle row-local scoring, and a
    * TakeOrderedAndProject cut. */
  private[graft] def dsirSampleGumbel(
      d: DataFrame, targetPred: Column, k: Int, seed: String): DataFrame = {
    val nb = Knobs.dsirBuckets(d.sparkSession)
    val order = Knobs.dsirNgram(d.sparkSession)
    val (hist, nq, np) = dsirHistogram(d, targetPred, nb, order)
    val logR: Seq[(Long, Double)] = hist.map { case (b, cq, cp) =>
      b -> (math.log((cp + 1).toDouble / (np + nb)) -
        math.log((cq + 1).toDouble / (nq + nb)))
    }.sortBy(_._1)
    val rMap = map(logR.flatMap { case (b, v) => Seq(lit(b), lit(v)) }: _*)
    val u = ((conv(substring(md5(concat(lit(seed), col("doc_id").cast("string"))),
      1, 15), 16, 10).cast("long") % 1000000000L).cast("double") + lit(0.5)) /
      lit(1e9)
    spread(d).select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), dsirFeatsOf(order).as("feats"))
      .select(col("doc_id"),
        aggregate(col("feats"), lit(0.0d),
          (acc, f) => acc + element_at(rMap, dsirBucket(f, nb))).as("log_w"))
      .withColumn("key", col("log_w") -
        org.apache.spark.sql.functions.log(
          -org.apache.spark.sql.functions.log(u)))
      .orderBy(col("key").desc, col("doc_id")).limit(k)
  }

  /** distinct 3-word shingles per doc (docs shorter than 3 tokens dropped). */
  private def shingles(d: DataFrame): DataFrame =
    spread(d).select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', slice(t, i + 1, 3)))")).as("s"))
      .distinct()

  /** Per-doc DISTINCT xxhash64'd 3-shingles as an ARRAY column. The dedup is
    * within-doc by definition (doc_id was part of the old distinct key), so
    * it is row-local array_distinct work — shingle construction involves NO
    * shuffle at any corpus size (the round-3 version shuffled the full
    * exploded shingle table once for the distinct and once more for the
    * signature aggregation). Hashing to 8-byte longs keeps every downstream
    * join/shuffle narrow (collision odds ~n^2/2^64 — vanishing; a collision
    * would only merge two distinct shingles). */
  private[graft] def shingleArrays(d: DataFrame): DataFrame =
    spread(d)
      .select(col("doc_id"),
        graft.functions.TextHash.hashedShingles3(col("text")).as("shs"))
      .filter(col("shs").isNotNull)

  /** the exploded (doc_id, sh) row form of [[shingleArrays]]. */
  private def explodedShingles(arrs: DataFrame): DataFrame =
    arrs.select(col("doc_id"), explode(col("shs")).as("sh"))

  /** `n` MinHash signature mins + the set size, as narrow per-row projections
    * over the shingle arrays — no aggregation, no shuffle (TextPipelineSpec
    * pins the plan shape AND the bit-parity with the HOF formulation). */
  private[graft] def minhashSigs(arrs: DataFrame, n: Int = MinhashSigN): DataFrame = {
    val withSig = arrs.select(col("doc_id"),
      graft.functions.TextHash.minhashSigs(n)(col("shs")).as("hs"),
      size(col("shs")).cast("long").as("cnt"))
    withSig.select(col("doc_id") +:
      (0 until n).map(i => col("hs")(i).as(s"h$i")) :+ col("cnt"): _*)
  }

  /** The capped band frame over a MinHash signature frame, in ARRAY form:
    * one (doc_id, bks, band, bucket) row per doc x KEPT band, where `bks`
    * is the doc's full per-band bucket array with NULL at every band the
    * hot-bucket cap dropped (buckets with > `bucketCap` members get no
    * near-dup signal, only a quadratic join hazard; drops DropLog-ticked
    * under `dropLabel`, same accounting as before). bucket = `bandHash` of
    * that band's `rows` signature mins (xxhash64 on the production path;
    * the md5 twins pass md5-of-concat so DuckDB can reproduce it).
    *
    * Array form matters twice (guide §2.4): (a) the cap is applied with a
    * row-local array rewrite against the one collected hot row — the
    * per-row anti-join this replaces carried the same broadcast, so the
    * smallness requirement is unchanged; (b) `bks` rides every banded row
    * into the candidate joins, so "is THIS band the pair's first
    * (surviving) collision?" becomes the row-local
    * [[firstCappedBandCollision]] predicate and the downstream candidate
    * `distinct()` — a full exchange + aggregate of every band collision,
    * the dominant term of q_dedup_minhash once the verify side was pruned
    * — disappears from the within-corpus AND cross-corpus pipelines. The
    * fuzzy-decon md5 twins run through this same code with their oracle
    * hashes unchanged, pinning the dedup-equivalence with ground truth. */
  private def cappedBandFrame(s: SparkSession, sigs: DataFrame, bands: Int,
      rows: Int, bucketCap: Int, dropLabel: String,
      bandHash: Seq[Column] => Column = xxhash64(_: _*)): DataFrame = {
    val arr = array((0 until bands).map(i =>
      bandHash((0 until rows).map(r => col(s"h${rows * i + r}")))): _*)
    cappedBandedFromArrays(s, sigs.select(col("doc_id"), arr.as("bks")),
      bands, bucketCap,
      s"$dropLabel: LSH buckets with > $bucketCap members")
  }

  /** The generic core of [[cappedBandFrame]] over any
    * (doc_id, bks: array of per-band buckets) frame — shared with the
    * random-hyperplane embedding LSH (q_neardup_lsh), whose bucket arrays
    * come from a projection UDF rather than signature columns. Applies the
    * per-(band, bucket) hot cap by NULLING the doc's entry in `bks`
    * (row-local against the one collected hot row) and explodes the kept
    * bands with `bks` riding along for [[firstCappedBandCollision]].
    *
    * Size bound: the hot set is ONE row, built by a global collect_set
    * aggregate on a single reducer and broadcast. An UnsafeRow is capped at
    * 2 GiB, and each hot (band, bucket) costs 8 bytes in it, so past about
    * 2^28 hot buckets in total (minus array headers) the aggregate or the
    * broadcast fails loudly. The row-per-bucket anti-join relation it
    * replaced had no single-row cap. Hot buckets are stop-cluster-sized by
    * construction (> `bucketCap` members each), so reaching the bound needs
    * over 2^28 x `bucketCap` band memberships. */
  private def cappedBandedFromArrays(s: SparkSession, withArr: DataFrame,
      bands: Int, bucketCap: Int, dropMsg: String): DataFrame = {
    val exploded = withArr.select(col("doc_id"),
      posexplode(col("bks")).as(Seq("band", "bucket")))
    val hot = exploded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bc")).filter(col("bc") > bucketCap)
      .select(col("band"),
        DropLog.tick(s, dropMsg)(col("bucket")).as("bucket"))
    // one collected row of per-band hot-bucket arrays (collect_set skips
    // the non-matching bands' nulls); hot is stop-cluster-sized by
    // construction — the exact relation the old anti-join broadcast
    val hotCols = (0 until bands).map(j =>
      collect_set(when(col("band") === j, col("bucket"))).as(s"hot$j"))
    val hotArr = hot.agg(hotCols.head, hotCols.tail: _*)
    val capped = withArr.crossJoin(broadcast(hotArr))
      .select(col("doc_id"), array((0 until bands).map(j =>
        when(array_contains(col(s"hot$j"), col("bks")(j)), lit(null))
          .otherwise(col("bks")(j))): _*).as("bks"))
    capped.select(col("doc_id"), col("bks"),
      posexplode(col("bks")).as(Seq("band", "bucket")))
      .filter(col("bucket").isNotNull)
  }

  /** TRUE iff `band` is the pair's first band that BOTH sides kept (non-
    * null after the cap) and collide on — the capped-banding analogue of
    * [[firstBandCollision]]: each colliding pair then emits exactly one
    * joined row, at its minimal surviving collision band, making the
    * candidate stream distinct by construction with no exchange. A band
    * one side lost to the cap cannot have produced a joined row in the
    * anti-join shape either, so skipping it preserves the old result set
    * exactly (TextPipelineSpec pins multi-band and capped-band cases; the
    * decon md5 twins' oracle hashes pin it cross-engine). */
  private def firstCappedBandCollision(xBks: Column, yBks: Column,
      band: Column, bands: Int): Column =
    (0 until bands - 1).map { jp =>
      val a = xBks(jp)
      val b = yBks(jp)
      band > jp && a.isNotNull && b.isNotNull && a === b
    }.reduceOption(_ || _).map(e => !e).getOrElse(lit(true))

  /** Banded candidate pairs over a MinHash signature frame: within-bucket
    * collisions deduped across bands by the row-local minimal-band
    * conjunct (see [[cappedBandFrame]] — no pair `distinct()` exchange).
    * The geometry knob lives here so the spec can measure candidate volume
    * per (bands x rows) layout on one corpus. */
  private[graft] def minhashCandidates(s: SparkSession, sigs: DataFrame,
      bands: Int, rows: Int, bucketCap: Int = BucketCap): DataFrame = {
    val banded = cappedBandFrame(s, sigs, bands, rows, bucketCap,
      "q_dedup_minhash")
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.doc_id") < col("y.doc_id")
          && firstCappedBandCollision(col("x.bks"), col("y.bks"),
            col("x.band"), bands))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
  }

  /** Cross-corpus near-duplicate screening — "don't re-ingest what the
    * corpus already holds": for each incoming document, find its best
    * near-duplicate (shingle Jaccard >= 0.5) in an EXISTING corpus via the
    * same MinHash+LSH geometry as the within-corpus dedup. Returns one row
    * per flagged incoming doc: (in_id, dup_of, jaccard) with dup_of = the
    * existing doc of maximal exact Jaccard (min ex_id on ties).
    *
    * Scale shape mirrors q_dedup_minhash's, with the self-join replaced by
    * an incoming x existing band join: signatures are row-local projections
    * on BOTH sides (zero shuffle before banding), each side's hot buckets
    * are capped independently (a dense region of the EXISTING corpus would
    * otherwise pair with every incoming doc that lands in it —
    * incoming x existing quadratic, the cross twin of the self-join
    * hazard), candidates are exact-verified by re-joining the narrow
    * hashed-shingle tables, and the final best-match verdict is a
    * per-in_id window over candidate-sized data. The existing corpus'
    * signature/shingle frames depend only on that corpus — at production
    * scale they are computed once and reused across ingest batches
    * (DfCache does this within a session when `cacheKey` is set). */
  def crossCorpusNearDups(s: SparkSession, incoming: DataFrame,
      existing: DataFrame, bands: Int = MinhashBands, rows: Int = MinhashRows,
      bucketCap: Int = BucketCap, cacheKey: String = ""): DataFrame = {
    val arrsIn = shingleArrays(incoming)
    val arrsEx = if (cacheKey.isEmpty) shingleArrays(existing)
      else DfCache.getOrBuild(s, s"cross_ex_arrs#$cacheKey")(shingleArrays(existing))
    val sigsIn = minhashSigs(arrsIn, bands * rows)
    val sigsEx = if (cacheKey.isEmpty) minhashSigs(arrsEx, bands * rows)
      else DfCache.getOrBuild(s, s"cross_ex_sigs:${bands}x$rows#$cacheKey")(
        minhashSigs(arrsEx, bands * rows))
    crossCorpusNearDupsCore(s, sigsIn, sigsEx,
      explodedShingles(arrsIn), explodedShingles(arrsEx),
      bands, rows, bucketCap)
  }

  /** Hash-family-parameterized core of [[crossCorpusNearDups]]: everything
    * downstream of the per-corpus signature/shingle frames — per-side
    * banding with independent hot-bucket caps, the incoming x existing
    * candidate join, the exact-Jaccard verify over the exploded shingle
    * frames, and the best-match-per-incoming-doc cut — is ONE code path
    * shared by the production xxhash64 pipeline and its md5 DuckDB twin
    * (`q_decontaminate_fuzzy_md5`), so the hash-checked twin and the
    * production path cannot drift. `sigs*`: (doc_id, h0..h{bands*rows-1},
    * cnt) with cnt = the doc's DISTINCT shingle count; `sh*`: exploded
    * (doc_id, sh) distinct shingles; `bandHash` folds one band's `rows`
    * signature mins into a bucket value. */
  private[graft] def crossCorpusNearDupsCore(s: SparkSession,
      sigsIn: DataFrame, sigsEx: DataFrame, shInRaw: DataFrame,
      shExRaw: DataFrame, bands: Int, rows: Int, bucketCap: Int,
      bandHash: Seq[Column] => Column = xxhash64(_: _*)): DataFrame = {
    val bIn = cappedBandFrame(s, sigsIn, bands, rows, bucketCap,
      "crossCorpus incoming", bandHash)
    val bEx = cappedBandFrame(s, sigsEx, bands, rows, bucketCap,
      "crossCorpus existing", bandHash)
    // multi-band collisions deduped by the row-local minimal-surviving-band
    // conjunct (each side capped independently; a band either side lost
    // cannot collide) — the candidate distinct() exchange is gone, and the
    // md5 twins' unchanged oracle hashes pin the set-equality
    val cand = bIn.as("x").join(bEx.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && firstCappedBandCollision(col("x.bks"), col("y.bks"),
            col("x.band"), bands))
      .select(col("x.doc_id").as("in_id"), col("y.doc_id").as("ex_id"))
    // deterministic size-bound prune at the >= 0.5 output threshold (see
    // sizeCompatible): size-incompatible incoming x existing candidates are
    // dropped before the verify re-join — the only candidates x set-size
    // term — using the distinct-shingle counts already on the signature
    // frames. Provably recall-safe; the md5 twins' oracle hashes pin it.
    val candSized = cand
      .join(sigsIn.select(col("doc_id").as("in_id"), col("cnt").as("pi")), Seq("in_id"))
      .join(sigsEx.select(col("doc_id").as("ex_id"), col("cnt").as("pe")), Seq("ex_id"))
      .filter(sizeCompatible(0.5)(col("pi"), col("pe")))
      .select("in_id", "ex_id")
    val shIn = shInRaw.toDF("in_id", "sh")
    val shEx = shExRaw.toDF("ex_id", "sh")
    val common = candSized.join(shIn, Seq("in_id")).join(shEx, Seq("ex_id", "sh"))
      .groupBy(col("in_id"), col("ex_id")).agg(count(lit(1)).as("common"))
    val scored = common
      .join(sigsIn.select(col("doc_id").as("in_id"), col("cnt").as("ci")), Seq("in_id"))
      .join(sigsEx.select(col("doc_id").as("ex_id"), col("cnt").as("ce")), Seq("ex_id"))
      .select(col("in_id"), col("ex_id"),
        (col("common") * lit(1.0) / (col("ci") + col("ce") - col("common")))
          .as("jaccard_raw"))
      .filter(col("jaccard_raw") >= 0.5)
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("in_id"))
          .orderBy(col("jaccard_raw").desc, col("ex_id"))))
      .filter(col("rk") === 1)
      .select(col("in_id"), col("ex_id").as("dup_of"),
        QueryDef.floorRound(col("jaccard_raw"), 4).as("jaccard"))
  }

  /** The corpus re-keyed at CHUNK granularity: one (synthetic id, text) row
    * per [[ChunkTokens]]-token window at [[ChunkStride]] (the q_doc_chunk
    * windows), synthetic id = doc_id * scale + chunk_idx so the parent is
    * `id div scale`. Row-local explode — no shuffle at any corpus size;
    * the chunk count per doc is ~n_tokens / stride.
    *
    * Two preconditions FAIL LOUDLY instead of silently corrupting ids:
    * doc_id must be non-negative (Spark `div` truncates toward zero while
    * the DuckDB twin's `//` floors, so a negative parent would diverge the
    * hash-checked twin — and -1 * scale + idx can collide with parent 0's
    * chunk ids outright), and chunk_idx must stay under `scale` (a doc
    * longer than ~scale x stride tokens would bleed its chunk ids into the
    * next parent's range). */
  private[graft] def chunkedDocs(d: DataFrame, scale: Long): DataFrame = {
    val nChunks = lit(1) +
      expr(s"(greatest(0, size(split(text, ' ')) - $ChunkTokens) " +
        s"+ ${ChunkStride - 1}) div $ChunkStride")
    d.select(col("doc_id"), toks.as("t"),
        sequence(lit(0), (nChunks - 1).cast("int")).as("idx"))
      .select(col("doc_id"), col("t"), explode(col("idx")).as("chunk_idx"))
      .select(when(col("doc_id") < 0 || col("chunk_idx") >= scale,
          raise_error(concat(
            lit("chunkedDocs: synthetic chunk ids require 0 <= doc_id and " +
              s"chunk_idx < $scale (doc_id="), col("doc_id"),
            lit(", chunk_idx="), col("chunk_idx"),
            lit(") — negative parents diverge the floor-division twin and " +
              "overlong docs collide into the next parent's id range"))))
          .otherwise(col("doc_id") * scale + col("chunk_idx")).as("doc_id"),
        array_join(slice(col("t"), col("chunk_idx") * ChunkStride + 1,
          lit(ChunkTokens)), " ").as("text"))
  }

  /** Parent rollup for chunk-granularity match frames: map the synthetic
    * chunk ids of (in_id, dup_of, jaccard) back to parent doc ids and keep
    * ONE best row per incoming parent (max rounded jaccard, min dup_of on
    * ties) — rounded-jaccard ordering on BOTH engines so the twin can't
    * diverge on a sub-round tie. */
  private[graft] def bestMatchPerParent(chunkMatches: DataFrame, scale: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    chunkMatches
      .select(expr(s"in_id div $scale").as("in_id"),
        expr(s"dup_of div $scale").as("dup_of"), col("jaccard"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("in_id"))
          .orderBy(col("jaccard").desc, col("dup_of"))))
      .filter(col("rk") === 1)
      .select("in_id", "dup_of", "jaccard")
  }

  /** candidate pairs sharing >= 1 shingle, with exact Jaccard over the
    * distinct-shingle sets — the inverted-index (no cross join) plan,
    * df-capped so no single stop-shingle can turn the self-join quadratic.
    * Jaccard is computed consistently over the capped shingle universe.
    *
    * `minJaccard`: when the caller only consumes pairs at or above a
    * threshold t (q_neardup_jaccard / cluster edges at 0.8), the verify
    * work is pre-pruned with the DETERMINISTIC size bound
    * `J(A,B) <= min(|A|,|B|) / max(|A|,|B|)` — a shared-shingle pair whose
    * capped set sizes differ by more than t cannot reach t, so it is
    * dropped BEFORE the pair-count aggregation (the superlinear term: the
    * shuffle of every co-occurring (a, b, shingle) row). Provably
    * recall-safe, unlike a minhash-estimate prefilter, whose Hoeffding
    * tail (exp(-2 x 32 x margin^2) per pair with 32 perms) can never be
    * zero — an oracle-checked exact operator cannot ship a filter that is
    * merely "usually" lossless. The bound is applied with a 1e-9 relative
    * slack so double rounding (0.8 x 5 > 4.0 in binary) can only ADMIT a
    * boundary pair for exact verification, never drop one
    * (TextPipelineSpec pins the boundary). Size rows ride the cached
    * shingle table via one window count (one linear shuffle, amortized
    * across the session) — the pruned pair stream it buys shrinks the
    * quadratic-in-bucket-size term. None (q_containment) keeps every
    * pair: containment has no size bound BY DESIGN (small-inside-big is
    * exactly what it detects). */
  /** The deterministic verify-prune predicate shared by every >= t Jaccard
    * pipeline: J(A,B) <= min(|A|,|B|) / max(|A|,|B|), so a candidate pair
    * whose distinct-set sizes differ by more than t cannot reach t and can
    * be dropped BEFORE the exact-verify join. Applied with 1e-9 relative
    * slack so double rounding (0.8 x 5 > 4.0 in binary) can only ADMIT a
    * boundary pair for exact verification, never drop one (TextPipelineSpec
    * pins the boundary both at the predicate and through jaccardPairs). */
  private[graft] def sizeCompatible(t: Double)(ca: Column, cb: Column): Column =
    least(ca, cb).cast("double") >= (lit(t) - lit(1e-9)) * greatest(ca, cb)

  private[graft] def jaccardPairs(s: SparkSession, d: DataFrame,
      dfCap: Int = ShingleDfCap, cacheKey: String = "",
      minJaccard: Option[Double] = None): DataFrame = {
    // cap-dependent tables carry the cap in their cache key, so two calls
    // with different caps can never share a capped table
    def cached(key: String)(b: => DataFrame): DataFrame =
      if (cacheKey.isEmpty) b else DfCache.getOrBuild(s, s"$key:$dfCap#$cacheKey")(b)
    // the shingle-array table is cap-independent and SHARED with
    // q_dedup_minhash: both pipelines read the same per-doc arrays, so
    // within a session the shingling runs once for the pair of them
    val arrsAll =
      if (cacheKey.isEmpty) shingleArrays(d)
      else DfCache.getOrBuild(s, s"shingle_arrs#$cacheKey")(shingleArrays(d))
    // the hot set is small by construction (stop-phrases) and was already
    // required to be broadcast-small; folding it to ONE collected array and
    // capping with row-local array_except keeps the per-doc capped set AND
    // its size `c` in array form — so neither a windowed per-doc count (a
    // full doc_id shuffle + sort of every exploded shingle row, the r18
    // sized branch's cost) nor a counts groupBy (a second corpus-sized
    // shuffle) exists anywhere in the pipeline: the only corpus-sized
    // shuffles left are the df aggregation and the self-join itself. The
    // whole cap lives INSIDE this one cached table's plan, so it
    // materializes pipelined with the first query that reads it (round 3
    // ran an eager hot.count() here, which serialized two cold aggregation
    // passes before the self-join could start). Drops are logged by the
    // accumulator pass-through feeding the collected hot array — no
    // dedicated job. array_except builds its lookup set per ROW from the
    // hot array, which is safe precisely because hot is stop-phrase-sized;
    // if a corpus ever produced a huge hot set, the broadcast in the old
    // anti-join shape would have been the same wall.
    val capped = cached("jaccard_capped") {
      val shAll = explodedShingles(arrsAll)
      val hot = shAll.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap).select("sh")
      val ticked = hot.select(
        DropLog.tick(s, s"jaccardPairs: shingles with df > $dfCap")(col("sh")).as("sh"))
      val hotArr = ticked.agg(collect_set(col("sh")).as("hot"))
      arrsAll.crossJoin(broadcast(hotArr))
        .select(col("doc_id"), array_except(col("shs"), col("hot")).as("shs"))
        .select(col("doc_id"), col("shs"), size(col("shs")).cast("long").as("c"))
    }
    // exploded rows carry the doc's capped size for free (row-local), so
    // the size bound can evaluate INSIDE the self-join with no extra
    // shuffle; the doc-level counts table is a zero-shuffle projection
    val sh = capped.select(col("doc_id"), col("c"), explode(col("shs")).as("sh"))
    val n = capped.select(col("doc_id"), col("c"))
    val common = minJaccard match {
      case Some(t) if t > 0.0 =>
        sh.as("x").join(sh.as("y"),
            col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id") &&
              sizeCompatible(t)(col("x.c"), col("y.c")))
          .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .agg(count(lit(1)).as("common"))
      case _ =>
        sh.as("x").join(sh.as("y"),
            col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .agg(count(lit(1)).as("common"))
    }
    common
      .join(n.as("na"), col("a_id") === col("na.doc_id"))
      .join(n.as("nb"), col("b_id") === col("nb.doc_id"))
      .select(col("a_id"), col("b_id"), col("common"),
        col("na.c").as("a_n"), col("nb.c").as("b_n"),
        (col("common") * lit(1.0) / (col("na.c") + col("nb.c") - col("common")))
          .as("jaccard_raw"))
      .select(col("a_id"), col("b_id"), col("common"), col("a_n"), col("b_n"),
        col("jaccard_raw"), QueryDef.floorRound(col("jaccard_raw"), 4).as("jaccard"))
  }

  /** The simhash band frame: one (doc_id, simhash, band, bucket) row per
    * doc x band, all bands from ONE posexplode pass over the signature (no
    * per-band union re-running the signature UDF). The signature itself is
    * one pass over each doc's token array (a scalar function, no explode +
    * 64 shuffled aggregations) — shared with the streaming near-dup twin. */
  private[graft] def simhashBands(d: DataFrame, bandBits: Int): DataFrame = {
    val numBands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    val sig = spread(d)
      .select(col("doc_id"), graft.functions.SimHash64Text(col("text")).as("simhash"))
    sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until numBands).map(b =>
        shiftright(col("simhash"), b * bandBits).bitwiseAND(mask)): _*))
        .as(Seq("band", "bucket")))
  }

  /** TRUE iff `band` is the pair's FIRST colliding band. A pair colliding
    * in several bands produces one joined row per colliding band; both
    * signatures ride each row, and band j' collides exactly when the
    * signatures' XOR is all-zero across band j's bits — so "no band below
    * mine collides" is a ROW-LOCAL predicate, and keeping only the minimal
    * colliding band's row makes the pair stream distinct BY CONSTRUCTION.
    * That replaces the downstream pair-`distinct()` — a full exchange +
    * aggregate of every collision row — with a codegen'd filter (guide
    * §2.4, remove shuffles outright). Emits each colliding pair exactly
    * once, so the result set is identical to the distinct it replaces (the
    * md5 twin's unchanged DuckDB oracle hash pins this with ground truth,
    * and TextPipelineSpec pins the multi-band-collision case). */
  private def firstBandCollision(xSim: Column, ySim: Column, band: Column,
      bandBits: Int, numBands: Int): Column = {
    val z = xSim.bitwiseXOR(ySim)
    val mask = (1L << bandBits) - 1
    (0 until numBands - 1).map(jp =>
        band > jp && shiftright(z, jp * bandBits).bitwiseAND(mask) === 0)
      .reduceOption(_ || _).map(e => !e).getOrElse(lit(true))
  }

  /** SimHash near-dup pairs: same band bucket + hamming <= maxHamming.
    *
    * Banding math (Manku et al., WWW'07 §3): with B = 64/bandBits bands,
    * any pair with hamming <= B-1 shares at least one exact band
    * (pigeonhole); wider bands weaken that guarantee but divide the
    * candidate volume, which is ~n^2 / 2^bandBits per band for a corpus
    * with saturated buckets. bandBits is therefore the CORPUS-SIZE knob:
    * the default 8 (8 bands, full hamming<=7 guarantee) suits corpora up to
    * ~1e6 docs; at larger n raise bandBits toward log2(n) so per-bucket
    * membership — and with it candidate pairs — stays bounded (ScaleSpec
    * measures exactly this trade on a synthetic 10x corpus). The self-
    * join's two sides are plan-identical so the bucket shuffle is computed
    * once (ReusedExchange); multi-band collisions are deduped by the
    * row-local [[firstBandCollision]] conjunct INSIDE the join — no pair
    * `distinct()` exchange exists in the pipeline at any corpus size (it
    * shuffled ~n^2/2^bandBits collision rows on a saturated corpus). */
  private[graft] def simhashPairs(d: DataFrame, bandBits: Int = 8,
      maxHamming: Int = 8): DataFrame = {
    val bands = simhashBands(d, bandBits)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
          && col("x.doc_id") < col("y.doc_id")
          && firstBandCollision(col("x.simhash"), col("y.simhash"),
            col("x.band"), bandBits, 64 / bandBits))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over an undirected (a_id, b_id) edge list.
    * Returns (doc_id, cluster_id) for EVERY node (singletons label
    * themselves) with cluster_id = min doc_id in the component — the
    * deterministic keeper rule of a dedup pipeline.
    *
    * Two-gear scale shape: min-label propagation (one key-partitioned join
    * + aggregation per round, rounds = component diameter) runs first —
    * near-dup graphs have tiny diameters by construction (candidate pairs
    * come from shared LSH buckets / shared shingles, so components are
    * near-cliques; every measured corpus converges in <= 3 rounds). If the
    * graph turns out NOT to be near-clique (adversarial template-drift
    * chains: A~B~C~… with only adjacent pairs above threshold), propagation
    * hands off automatically after [[StarFallbackAt]] rounds to alternating
    * large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — O(log^2 n) rounds on
    * ANY graph, so a 1000-link chain converges in ~a dozen contractions
    * instead of 1000 propagation passes. Convergence probes are one count
    * per round — driver-side control flow, never driver-side data. */
  private[graft] def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 25): DataFrame =
    connectedComponentsWithRounds(nodes, edges, maxRounds)._1

  /** Propagation rounds before handing off to star contraction: measured
    * corpora converge in <= 3, so 5 cheap rounds catch every real graph and
    * the handoff only ever fires on adversarial chain structure. */
  private[graft] val StarFallbackAt = 5

  /** [[connectedComponents]] plus the total number of rounds (propagation +
    * star contractions) it took — ScaleSpec asserts the near-clique
    * diameter argument (rounds stay flat as the corpus grows) on real
    * pipeline output, and chain convergence on a planted 1000-link chain. */
  private[graft] def connectedComponentsWithRounds(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 25): (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val sym = edges.select(col("a_id").as("u"), col("b_id").as("v"))
      .union(edges.select(col("b_id").as("u"), col("a_id").as("v")))
      .persist(lvl)
    var labels = nodes.select(col("doc_id"), col("doc_id").as("cluster_id"))
      .persist(lvl)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < math.min(StarFallbackAt, maxRounds)) {
      val neighborMin = sym.join(labels, sym("v") === labels("doc_id"))
        .select(col("u").as("doc_id"), col("cluster_id").as("nl"))
        .groupBy("doc_id").agg(min(col("nl")).as("nmin"))
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id")))
            .as("cluster_id"))
        .persist(lvl)
      changed = next.as("n")
        .join(labels.select(col("doc_id"), col("cluster_id").as("prev")), Seq("doc_id"))
        .filter(col("cluster_id") =!= col("prev")).count()
      labels.unpersist()
      labels = next
      round += 1
    }
    if (changed == 0) {
      sym.unpersist()
      (labels, round)
    } else {
      // diameter exceeded the propagation budget: star contraction. Current
      // labels ride along as extra (doc, label) edges — they are
      // same-component by construction, so the progress isn't thrown away.
      val shortcuts = labels.filter(col("cluster_id") =!= col("doc_id"))
        .select(col("doc_id").as("u"), col("cluster_id").as("v"))
      val (starLabels, iters) =
        starContract(nodes, sym.select(col("u"), col("v")).union(shortcuts))
      // loud end-to-end guarantee (also discharges any paranoia about the
      // contraction loop's signature-based convergence probe): one more
      // propagation pass over the ORIGINAL edges must find nothing to improve
      val improvable = sym.join(starLabels, sym("v") === starLabels("doc_id"))
        .select(col("u").as("doc_id"), col("cluster_id").as("nl"))
        .groupBy("doc_id").agg(min(col("nl")).as("nmin"))
        .join(starLabels, Seq("doc_id"))
        .filter(col("nmin") < col("cluster_id")).count()
      require(improvable == 0,
        s"star contraction returned non-converged labels ($improvable nodes improvable)")
      labels.unpersist()
      sym.unpersist()
      (starLabels, round + iters)
    }
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * SoCC'14): each round is two join+agg passes over the CURRENT edge set,
    * which keeps shrinking toward a union of stars rooted at each
    * component's minimum node — O(log^2 n) rounds on any graph, including
    * chains that would take min-label propagation O(n) rounds. Convergence
    * = the canonical edge set reaches a fixed point, detected by an
    * order-independent (count, bit_xor of edge hashes) signature (exact on
    * the deduped edge set; the caller additionally verifies the labels
    * against the original graph). */
  private[graft] def starContract(nodes: DataFrame, rawEdges: DataFrame,
      maxIters: Int = 64): (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // large-star: for every node u, connect each strictly-larger neighbor
    // to m = min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val s = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = s.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      s.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }
    // small-star: orient every edge toward its smaller endpoint, then for
    // every node u connect all smaller neighbors AND u itself to
    // m = min(N⁻(u) ∪ {u}) (= min neighbor, since all of N⁻(u) < u)
    def smallStar(e: DataFrame): DataFrame = {
      val d = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).where(col("u") =!= col("v"))
      val mins = d.groupBy("u").agg(min("v").as("m"))
      d.join(mins, "u").select(col("v").as("x"), col("m"))
        .union(mins.select(col("u").as("x"), col("m")))
        .where(col("x") =!= col("m"))
        .select(col("x").as("u"), col("m").as("v")).distinct()
    }
    // Lineage MUST be truncated per iteration: one contraction step embeds
    // ~16 copies of the previous edge plan (two self-unions + two join-agg
    // passes), so persist() alone leaves an exponentially growing logical
    // plan that kills the ANALYZER long before execution. localCheckpoint
    // materializes the step to executor storage and replaces the plan with
    // a flat scan — the standard shape for iterative DataFrame algorithms.
    // Superseded checkpoint blocks are released by the ContextCleaner once
    // the old Dataset is unreachable (bounded: <= maxIters small edge sets).
    var cur = rawEdges.select(col("u"), col("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var curSig = sig(cur)
    var done = curSig._1 == 0L // no edges: every node is its own star
    var it = 0
    while (!done && it < maxIters) {
      val nxt = smallStar(largeStar(cur)).localCheckpoint()
      val nxtSig = sig(nxt)
      done = nxtSig == curSig
      cur = nxt; curSig = nxtSig; it += 1
    }
    require(done, s"star contraction did not converge in $maxIters rounds — " +
      "not a connectivity structure this fixpoint can miss; investigate the edge input")
    // at the fixed point every edge points from a node to its component's
    // minimum: labels = that root, singletons label themselves
    val labels = nodes.select(col("doc_id"))
      .join(cur.select(col("u").as("doc_id"), col("v").as("root")),
        Seq("doc_id"), "left")
      .groupBy("doc_id").agg(min(coalesce(col("root"), col("doc_id"))).as("cluster_id"))
      .persist(lvl)
    labels.count() // materialize off the checkpointed edge set
    (labels, it)
  }

  /** Shared DuckDB CTE chain for the duplicate-cluster oracles: the
    * q_neardup_jaccard pair pipeline (df-cap mirrored) at >= 0.8, then a
    * recursive reachability fixpoint (UNION semantics dedup the frontier,
    * so it terminates); `reach(nd, r)` = node nd is reachable from r.
    * Used by q_dedup_clusters and q_corpus_select — one source of truth. */
  private lazy val clusterCtes: String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |       FROM t, UNNEST(range(1, len(t) - 1)) AS u(i)),
      |dfc AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
      |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc ON sh.s = dfc.s
      |        WHERE dfc.df <= $ShingleDfCap),
      |n AS (SELECT doc_id, count(*) AS c FROM shc GROUP BY 1),
      |p AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS common
      |      FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
      |pr AS (SELECT a_id, b_id FROM p
      |       JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
      |       WHERE common * 1.0 / (na.c + nb.c - common) >= 0.8),
      |e AS (SELECT a_id AS eu, b_id AS ev FROM pr
      |      UNION SELECT b_id, a_id FROM pr),
      |reach(nd, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.ev, reach.r FROM reach JOIN e ON e.eu = reach.nd)""".stripMargin

  /** The per-source cap's kept set — (doc_id, source, rk) for exactly the
    * top-[[SourceCap]] docs per source by the deterministic keeper order.
    * Written as the PLAIN window + rank filter ON PURPOSE: Spark 4's
    * InferWindowGroupLimit rewrites `row_number() <= k` into a PARTIAL
    * WindowGroupLimit below the exchange — every map task sorts only its
    * own split and forwards at most k rows per source, then the final
    * limit ranks <= k*numMapTasks survivors — so a hot source never sorts
    * in one task even without hand-salting. A hand-rolled salted two-phase
    * version measured a WASH against this on a 24M-row corpus with an 80%
    * hot source (ProfMain "cap"), so the optimizer-native form wins on
    * simplicity; the spec pins the partial+final WindowGroupLimit pair so
    * a regression (e.g. a non-rank filter shape the rule can't match)
    * fails loudly. Shared by q_source_cap and the composed selection. */
  private[graft] def sourceCapKept(d: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))
    d.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= SourceCap)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** Materialize the curated training corpus: run the full composed
    * selection (the q_corpus_select_full verdict), keep every doc that
    * passes all CONTENT gates (language, quality, dedup keeper, clean,
    * mix, cap), and write (doc_id, text, lang, source, n_chars) to
    * `outPath` hive-partitioned by `split` — the consumption layout a
    * training run reads (train/val/test prune to whole directories).
    * Split membership is the verdict's own deterministic assignment, NOT
    * a gate: the verdict's `selected` flag additionally requires
    * split=train (it is the training-set verdict), but a materialization
    * that filtered on it would silently discard every val/test doc that
    * passed curation — here the train partition holds exactly the
    * `selected` docs and val/test hold their curated rows too.
    *
    * The pre-write exchange is `repartitionByRange(split, doc_id)`: a
    * range shuffle keeps all [[org.apache.spark.sql.internal.SQLConf]]
    * shuffle partitions busy (hashing on `split` alone would funnel the
    * ~90%-train corpus through single tasks — 3 distinct keys is not a
    * partitioning), while still clustering each output file to one split
    * and keeping files in doc_id order (the range sort + task-local
    * sort), so re-materializations are byte-stable modulo partitioning
    * and downstream shard readers see a deterministic order. Returns the
    * materialized-row count per split (small; driver-side).
    *
    * Scale shape: the verdict plan's own shapes (cached cluster labels,
    * broadcast benchmark probe, group-limited cap) plus one join back to
    * the documents table on doc_id and a partitioned write — no new
    * shuffles beyond the write's own layout range exchange. */
  def materializeSelected(s: SparkSession, dir: String, outPath: String): Map[String, Long] = {
    val verdict = defs.find(_.name == "q_corpus_select_full").get.fn(s, dir)
      .filter(col("lang_ok") && col("quality_ok") && col("dedup_keep") &&
        col("clean") && col("mix_keep") && col("cap_kept"))
      .select(col("doc_id"), col("split"))
    val out = docs(s, dir).join(verdict, Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("split"))
      .repartitionByRange(col("split"), col("doc_id"))
      .sortWithinPartitions(col("split"), col("doc_id"))
    out.write.mode("overwrite").partitionBy("split").parquet(outPath)
    s.read.parquet(outPath).groupBy("split").count()
      // bounded: one row per value of the `split` column the groupBy keys
      // on (3 split values by construction)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The packing prefix sum behind q_seq_pack / [[packedSequences]]: per
    * doc, its token array, count, and the total token count of all earlier
    * docs (doc_id order). Two-phase distributed prefix sum — running sums
    * within doc_id-range buckets (hash-shuffled window, parallel at any
    * width), bucket totals (one row per [[PackBucketDocs]] docs) prefix-
    * summed in one metadata-sized partition and broadcast back — because
    * the naive global running-sum window is a one-partition scale-killer. */
  private def packManifest(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = d.select(col("doc_id"), toks.as("t"),
      size(toks).cast("long").as("n_tokens"),
      expr(s"doc_id div $PackBucketDocs").as("bucket"))
    val inBucket = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withIn = base.withColumn("cum_in",
      coalesce(sum(col("n_tokens")).over(inBucket), lit(0L)))
    val bucketPrefix = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("bucket").agg(sum(col("n_tokens")).as("tot"))
      .withColumn("bucket_offset",
        coalesce(sum(col("tot")).over(bucketPrefix), lit(0L)))
      .select("bucket", "bucket_offset")
    withIn.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum_before", col("bucket_offset") + col("cum_in"))
      .select("doc_id", "t", "n_tokens", "cum_before")
  }

  /** Assembled fixed-length training sequences from a documents frame
    * (GPT-style concatenate-and-cut at [[PackTokens]] tokens): one row per
    * sequence — (seq_id, n_seq_tokens, text) — where concatenating all
    * sequences in seq_id order reproduces the concatenation of all docs in
    * doc_id order exactly (spec-pinned), and every sequence except the last
    * is exactly [[PackTokens]] tokens. Pipeline shape: the [[packManifest]]
    * prefix sum, one explode into per-(doc, sequence) fragments, and ONE
    * hash shuffle on seq_id whose reducer state is bounded by the sequence
    * length itself. Compose with [[materializeSelected]]'s output (or any
    * curated frame) to produce the tensors-ready training layout. */
  def packedSequences(d: DataFrame): DataFrame = {
    val b = lit(PackTokens.toLong)
    val frags = packManifest(d)
      .select(col("t"), col("n_tokens"), col("cum_before"),
        explode(sequence(expr(s"cum_before div $PackTokens"),
          expr(s"(cum_before + n_tokens - 1) div $PackTokens"))).as("seq_id"))
      .select(col("seq_id"),
        greatest(lit(0L), col("cum_before") - col("seq_id") * b).as("off"),
        slice(col("t"),
          (greatest(lit(0L), col("seq_id") * b - col("cum_before")) + 1).cast("int"),
          (least(col("n_tokens"), (col("seq_id") + 1) * b - col("cum_before")) -
            greatest(lit(0L), col("seq_id") * b - col("cum_before"))).cast("int"))
          .as("frag"))
    frags.groupBy(col("seq_id"))
      .agg(array_sort(collect_list(struct(col("off"), col("frag")))).as("fr"))
      .select(col("seq_id"),
        array_join(flatten(expr("transform(fr, x -> x.frag)")), " ").as("text"))
      .select(col("seq_id"), size(split(col("text"), " ")).cast("long").as("n_seq_tokens"),
        col("text"))
  }

  /** (doc_id, cluster_id) labels for a corpus dir, computed once per
    * session: the propagation's final frame is itself persisted, so the
    * session cache both shares it between q_dedup_clusters and
    * q_corpus_select and stops repeated invocations from stacking one
    * persisted frame per call. */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    DfCache.getOrBuild(s, s"cc_labels#$dir") {
      val d = docs(s, dir)
      val edges = jaccardPairs(s, d, dfCap = Knobs.shingleDfCap(s),
          cacheKey = dir, minJaccard = Some(0.8))
        .filter(col("jaccard_raw") >= 0.8).select("a_id", "b_id")
      connectedComponents(d.select("doc_id"), edges)
    }

  val defs: Seq[QueryDef] = Seq(
    // D1 — exact dedup: hash-aggregate on full content; keeper = min id.
    sql("q_dedup_exact", Seq("D1"),
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir).groupBy(col("text"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
          .select("keep_id", "n_dups")
          .orderBy("keep_id")
    },

    // D4 — n-gram Jaccard near-dup pairs via inverted shingle index. The
    // oracle mirrors the df-cap exactly (shc = shingles with df <= cap), so
    // the hash-compare stays green even on a corpus where the cap fires.
    sql("q_neardup_jaccard", Seq("D4"),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM t, UNNEST(range(1, len(t) - 1)) AS u(i)),
        |dfc AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc ON sh.s = dfc.s
        |        WHERE dfc.df <= $ShingleDfCap),
        |n AS (SELECT doc_id, count(*) AS c FROM shc GROUP BY 1),
        |p AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS common
        |      FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |  floor(common * 1.0 / (na.c + nb.c - common) * 10000 + 0.5) / 10000 AS jaccard
        |FROM p JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
        |WHERE common * 1.0 / (na.c + nb.c - common) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin) {
      (s, dir) =>
        jaccardPairs(s, docs(s, dir), dfCap = Knobs.shingleDfCap(s),
            cacheKey = dir, minJaccard = Some(0.8))
          .filter(col("jaccard_raw") >= 0.8)
          .select("a_id", "b_id", "jaccard")
          .orderBy("a_id", "b_id")
    },

    // D4b — CONTAINMENT near-dup: asymmetric overlap |A∩B| / min(|A|,|B|)
    // >= 0.9 — the screen that catches a document EMBEDDED inside a larger
    // one (a quoted article inside a page, a doc re-crawled with boilerplate
    // bolted on), which symmetric Jaccard structurally misses: a 100-shingle
    // doc fully contained in a 1000-shingle doc has containment 1.0 but
    // Jaccard 0.1, far under any dedup threshold. Standard companion measure
    // in web-dedup pipelines (Broder's containment, 'On the resemblance and
    // containment of documents', 1997). Same df-capped inverted-index plan
    // and cached tables as q_neardup_jaccard — within a session the pair
    // generation runs ONCE for the two of them (shared DfCache keys), so
    // the marginal cost of the second verdict is one filter/projection.
    // Emits both measures per flagged pair; jaccard shows why containment
    // was needed (most flagged pairs sit far below the 0.8 jaccard bar).
    sql("q_containment", Seq("D4"),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM t, UNNEST(range(1, len(t) - 1)) AS u(i)),
        |dfc AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
        |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc ON sh.s = dfc.s
        |        WHERE dfc.df <= $ShingleDfCap),
        |n AS (SELECT doc_id, count(*) AS c FROM shc GROUP BY 1),
        |p AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS common
        |      FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |  floor(common * 1.0 / least(na.c, nb.c) * 10000 + 0.5) / 10000 AS containment,
        |  floor(common * 1.0 / (na.c + nb.c - common) * 10000 + 0.5) / 10000 AS jaccard
        |FROM p JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
        |WHERE common * 1.0 / least(na.c, nb.c) >= 0.9
        |ORDER BY a_id, b_id""".stripMargin) {
      (s, dir) =>
        jaccardPairs(s, docs(s, dir), dfCap = Knobs.shingleDfCap(s), cacheKey = dir)
          .withColumn("containment_raw",
            col("common") * lit(1.0) / least(col("a_n"), col("b_n")))
          .filter(col("containment_raw") >= 0.9)
          .select(col("a_id"), col("b_id"),
            QueryDef.floorRound(col("containment_raw"), 4).as("containment"),
            col("jaccard"))
          .orderBy("a_id", "b_id")
    },

    // D6 — duplicate-cluster assignment: connected components over the
    // near-dup pair graph (jaccard >= 0.8 edges), cluster_id = min doc_id
    // in the component, keep = the deterministic keeper rule. This is the
    // step a training-data dedup pipeline runs AFTER pair generation —
    // transitivity matters (A~B, B~C puts A,C in one cluster even when
    // A~C itself is below threshold). Oracle: the same pair CTE chain as
    // q_neardup_jaccard plus a recursive reachability fixpoint (UNION
    // semantics dedup the frontier, so it terminates), min per node.
    sql("q_dedup_clusters", Seq("D6"),
      s"""WITH RECURSIVE $clusterCtes
        |SELECT nd AS doc_id, min(r) AS cluster_id, min(r) = nd AS keep
        |FROM reach GROUP BY nd ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        clusterLabels(s, dir)
          .select(col("doc_id"), col("cluster_id"),
            (col("cluster_id") === col("doc_id")).as("keep"))
          .orderBy("doc_id")
    },

    // TA6 — the composed corpus-selection pipeline a training run actually
    // executes: language gate x quality gate x duplicate-cluster keeper x
    // deterministic split, one verdict row per document. Reuses the cached
    // jaccard pair plan and the cluster propagation; the gates are integer
    // arithmetic only (no float-rounding hazard across engines). The whole
    // composition is hash-checked against one DuckDB query built from the
    // same shared CTE chain as q_dedup_clusters.
    sql("q_corpus_select", Seq("TA1", "TA2", "TA5", "D6"),
      s"""WITH RECURSIVE $clusterCtes,
        |cc AS (SELECT nd AS doc_id, min(r) AS cluster_id FROM reach GROUP BY nd),
        |feat AS (SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of')) AS en_s,
        |  len(list_filter(string_split(text, ' '), x -> x = 'der' OR x = 'die' OR x = 'und')) AS de_s,
        |  len(list_filter(string_split(text, ' '), x -> x = 'el' OR x = 'los' OR x = 'que')) AS es_s,
        |  len(list_filter(string_split(text, ' '), x -> x = 'le' OR x = 'les' OR x = 'est')) AS fr_s,
        |  len(string_split(text, ' ')) AS n_toks, n_chars,
        |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS h
        |  FROM documents)
        |SELECT f.doc_id,
        |  (en_s >= de_s AND en_s >= es_s AND en_s >= fr_s) AS lang_ok,
        |  (n_toks >= 5 AND n_chars - (n_toks - 1) <= 12 * n_toks) AS quality_ok,
        |  (cc.cluster_id = f.doc_id) AS keep,
        |  CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
        |  ((en_s >= de_s AND en_s >= es_s AND en_s >= fr_s)
        |    AND (n_toks >= 5 AND n_chars - (n_toks - 1) <= 12 * n_toks)
        |    AND cc.cluster_id = f.doc_id AND h < 90) AS selected
        |FROM feat f JOIN cc ON cc.doc_id = f.doc_id
        |ORDER BY f.doc_id""".stripMargin) {
      (s, dir) =>
        val d = docs(s, dir)
        val cc = clusterLabels(s, dir)
        def score(words: String*): Column =
          size(filter(toks, x => words.map(x === _).reduce(_ || _))).cast("long")
        val feat = d.select(col("doc_id"),
          score("the", "a", "of").as("en_s"), score("der", "die", "und").as("de_s"),
          score("el", "los", "que").as("es_s"), score("le", "les", "est").as("fr_s"),
          size(toks).cast("long").as("n_toks"), col("n_chars"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 100).as("h"))
        val langOk = col("en_s") >= col("de_s") && col("en_s") >= col("es_s") &&
          col("en_s") >= col("fr_s")
        val qualOk = col("n_toks") >= 5 &&
          (col("n_chars") - (col("n_toks") - 1)) <= lit(12) * col("n_toks")
        val keeper = col("cluster_id") === col("doc_id")
        feat.join(cc, Seq("doc_id"))
          .select(col("doc_id"), langOk.as("lang_ok"), qualOk.as("quality_ok"),
            keeper.as("keep"),
            when(col("h") < 90, "train").when(col("h") < 95, "val")
              .otherwise("test").as("split"),
            (langOk && qualOk && keeper && col("h") < 90).as("selected"))
          .orderBy("doc_id")
    },

    // TA5 — deterministic train/val/test split: assignment is a pure
    // function of doc_id (md5-derived 60-bit hash mod 100 → 90/5/5), so
    // re-running over a grown corpus never reshuffles existing assignments
    // (a rand()-based split leaks val/test docs into train on every
    // re-materialization). The 60-bit-md5-as-BIGINT construction is the
    // cross-engine-proven one from q_dedup_simhash_md5. Scalar column work,
    // embarrassingly parallel at any corpus size.
    sql("q_train_split", Seq("TA5"),
      """SELECT doc_id,
        |  CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS h
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"),
            (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
              .cast("long") % 100).as("h"))
          .select(col("doc_id"),
            when(col("h") < 90, "train").when(col("h") < 95, "val")
              .otherwise("test").as("split"))
          .orderBy("doc_id")
    },

    // TA3 — token counting (whitespace tokenization).
    sql("q_token_count", Seq("TA3"),
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
          .orderBy("doc_id")
    },

    // TA3b — BPE-ish regex tokenization: letter runs, digit runs, and
    // single punctuation marks as pieces (same RE semantics in Java and
    // DuckDB's RE2 for this class of pattern).
    sql("q_token_bpe", Seq("TA3"),
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_pieces
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir).select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .cast("long").as("n_pieces"))
          .orderBy("doc_id")
    },

    // TA2 — quality scoring: stopword ratio + average token length.
    sql("q_quality_score", Seq("TA2"),
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  floor(len(list_filter(string_split(text, ' '), x -> x = 'a' OR x = 'the'))
        |    * 1.0 / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS stop_ratio,
        |  floor((n_chars - (len(string_split(text, ' ')) - 1))
        |    * 1.0 / len(string_split(text, ' ')) * 100 + 0.5) / 100 AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          QueryDef.floorRound(size(filter(toks, x => x === "a" || x === "the"))
            * lit(1.0) / size(toks), 4).as("stop_ratio"),
          QueryDef.floorRound((col("n_chars") - (size(toks) - 1)) * lit(1.0) / size(toks), 2)
            .as("avg_tok_len"))
          .orderBy("doc_id")
    },

    // TA2 — bigram language-model fluency scoring: the CCNet/Gopher-style
    // "perplexity filter" shape (train an n-gram LM on the corpus, score
    // each document by how well its transitions fit) with the float
    // hazards engineered OUT so the cross-engine oracle is hash-exact.
    // Per bigram the add-one-smoothed conditional gets quantized by pure
    // INTEGER arithmetic — ((c(w1,w2)+1) * 1e6) DIV (c(w1)+V) — and the
    // per-doc sum of integers is order-independent, so no log, no double
    // summation, no rounding-boundary risk (same discipline as
    // q_embed_moments). A doc's q is a monotone fluency signal: high =
    // transitions the corpus LM expects, low = word salad. Scale shape:
    // the LM tables are vocabulary-sized aggregates (map-side partial hash
    // agg); scoring is two hash joins keyed on token text — corpus-sized
    // but shuffle-partitioned, with AQE skew-split handling the stopword
    // hot keys; V is one scalar driver agg. Docs with < 2 tokens have no
    // transitions and drop out (both engines).
    sql("q_lm_score", Seq("TA2"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bp AS (SELECT doc_id,
        |    unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS p
        |  FROM t WHERE len(t) >= 2),
        |b AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bp),
        |uni AS (SELECT w, count(*) AS cu
        |  FROM (SELECT unnest(t) AS w FROM t) GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni),
        |bc AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
        |terms AS (SELECT b.doc_id,
        |    ((bc.cb + 1) * 1000000) // (uni.cu + v.v) AS term
        |  FROM b JOIN bc USING (w1, w2) JOIN uni ON b.w1 = uni.w CROSS JOIN v)
        |SELECT doc_id, count(*)::BIGINT AS nb, sum(term)::BIGINT AS q
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val t = docs(s, dir).select(col("doc_id"), toks.as("t"))
        val big = t.filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(t) - 2), " +
              "i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val uni = t.select(explode(col("t")).as("w1"))
          .groupBy("w1").agg(count(lit(1)).as("cu"))
        val v = uni.count()
        val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        big.join(bc, Seq("w1", "w2")).join(uni, Seq("w1"))
          .select(col("doc_id"),
            expr(s"((cb + 1) * 1000000) DIV (cu + ${v}L)").as("term"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("nb"), sum(col("term")).as("q"))
          .orderBy("doc_id")
    },

    // TA1 — language id: stopword-marker scoring with a deterministic
    // argmax (en >= de >= es >= fr on ties).
    sql("q_lang_id", Seq("TA1"),
      """WITH sc AS (SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of')) AS en_s,
        |  len(list_filter(string_split(text, ' '), x -> x = 'der' OR x = 'die' OR x = 'und')) AS de_s,
        |  len(list_filter(string_split(text, ' '), x -> x = 'el' OR x = 'los' OR x = 'que')) AS es_s,
        |  len(list_filter(string_split(text, ' '), x -> x = 'le' OR x = 'les' OR x = 'est')) AS fr_s
        |  FROM documents)
        |SELECT doc_id, en_s,
        |  CASE WHEN en_s >= de_s AND en_s >= es_s AND en_s >= fr_s THEN 'en'
        |       WHEN de_s >= es_s AND de_s >= fr_s THEN 'de'
        |       WHEN es_s >= fr_s THEN 'es' ELSE 'fr' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        def score(words: String*): Column =
          size(filter(toks, x => words.map(x === _).reduce(_ || _))).cast("long")
        docs(s, dir).select(
          col("doc_id"),
          score("the", "a", "of").as("en_s"),
          score("der", "die", "und").as("de_s"),
          score("el", "los", "que").as("es_s"),
          score("le", "les", "est").as("fr_s"))
          .select(col("doc_id"), col("en_s"),
            when(col("en_s") >= col("de_s") && col("en_s") >= col("es_s")
              && col("en_s") >= col("fr_s"), "en")
              .when(col("de_s") >= col("es_s") && col("de_s") >= col("fr_s"), "de")
              .when(col("es_s") >= col("fr_s"), "es")
              .otherwise("fr").as("pred_lang"))
          .orderBy("doc_id")
    },

    // D2 — MinHash + banded LSH near-dup candidates, verified with exact
    // Jaccard. bands*rows xxhash64 permutations (default 32), 8 bands x 4
    // rows; candidates = band-bucket collisions (key-partitioned join, no
    // cross join); exact Jaccard is then computed ONLY for the candidate
    // pairs via their broadcast shingle sets — the O(candidates) verify that
    // makes this the 100 TB path (vs the all-pairs inverted-index join of
    // D4). No SQL oracle: DuckDB lacks Spark's xxhash64; rows-only check
    // (the md5 twin below hash-checks the identical pipeline shape).
    rowsOnly("q_dedup_minhash", Seq("D2")) { (s, dir) =>
      // 8 bands x 4 rows (see MinhashBands scaladoc): collision threshold
      // (1/8)^(1/4) ~ 0.59, aligned with the >= 0.5 output filter; recall
      // P[catch] = 1-(1-s^4)^8 ~ 0.9996 at s=0.9, ~1-1e-11 at s=0.99.
      // Geometry/caps are session-conf knobs (Knobs scaladoc).
      //
      // shingles are hashed to 64-bit longs and deduped per doc in a ROW-
      // LOCAL array (shared cache with jaccardPairs); the exploded row form
      // only exists for the verify joins. Signatures are bands*rows
      // array_min projections over the same arrays — so NOTHING in this
      // pipeline shuffles until the band self-join, at any corpus size
      // (round 3 shuffled the exploded shingle table twice before banding:
      // once for the distinct, once for the signature groupBy).
      val (bands, rows, cap) = (Knobs.minhashBands(s), Knobs.minhashRows(s), Knobs.bucketCap(s))
      val arrs = DfCache.getOrBuild(s, s"shingle_arrs#$dir")(shingleArrays(docs(s, dir)))
      val sh = explodedShingles(arrs)
      // sigs feeds three plan branches (two band-join sides, the count join)
      // — persist the narrow projection (session-aware cache keyed by the
      // geometry, so a conf change can never serve a stale width)
      val sigs = DfCache.getOrBuild(s, s"minhash_sigs:${bands}x$rows#$dir")(
        minhashSigs(arrs, bands * rows))
      // all band rows come from ONE pass over sigs (posexplode), not a
      // per-band union re-running the projection; the band self-join's two
      // sides are plan-identical, so the bucket shuffle is computed once and
      // reused (ReusedExchange) — and unlike a per-bucket collect_list,
      // join-based pair expansion spreads a hot bucket's quadratic output
      // across tasks instead of one row. Hot-bucket cap: see BucketCap
      // scaladoc; recall survives via the other bands. Drops are logged by
      // the accumulator pass-through on the broadcast side — no dedicated
      // job (see minhashCandidates).
      val candPairs = minhashCandidates(s, sigs, bands, rows, cap)
      val cnts = sigs.select(col("doc_id"), col("cnt"))
      // deterministic size-bound prune at the output threshold (0.5): a
      // banded candidate whose distinct-shingle counts are size-incompatible
      // (J <= min/max — see sizeCompatible) cannot reach the >= 0.5 filter,
      // so it is dropped BEFORE the verify re-join, the pipeline's only
      // candidates x set-size term. Sizes ride the already-cached signature
      // frame; the two joins touch candidate-sized data only. Results are
      // provably unchanged (TextPipelineSpec pins pruned == unpruned).
      val candSized = candPairs
        .join(cnts.select(col("doc_id").as("a_id"), col("cnt").as("pa")), Seq("a_id"))
        .join(cnts.select(col("doc_id").as("b_id"), col("cnt").as("pb")), Seq("b_id"))
        .filter(sizeCompatible(0.5)(col("pa"), col("pb")))
        .select("a_id", "b_id")
      // exact-Jaccard verify by re-joining the shingle table on the
      // candidate ids — O(candidates x set size) narrow rows, never a
      // megabyte-wide collected set riding a shuffle. Skew note: a doc in
      // many candidate pairs with a large shingle set concentrates output
      // on one a_id join key; the bucket cap bounds pairs-per-doc (~8x127)
      // and AQE's skew-join splitting handles the residual partition skew,
      // so a Skew.saltedJoin here (which would replicate the 260k-row
      // shingle side salt-fold on EVERY run) is deliberately not wired
      val common = candSized
        .join(sh.select(col("doc_id").as("a_id"), col("sh")), Seq("a_id"))
        .join(sh.select(col("doc_id").as("b_id"), col("sh")), Seq("b_id", "sh"))
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("common"))
      common
        .join(cnts.select(col("doc_id").as("a_id"), col("cnt").as("ca")), Seq("a_id"))
        .join(cnts.select(col("doc_id").as("b_id"), col("cnt").as("cb")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          (col("common") * lit(1.0) / (col("ca") + col("cb") - col("common")))
            .as("jaccard_raw"))
        .filter(col("jaccard_raw") >= 0.5)
        .select(col("a_id"), col("b_id"),
          QueryDef.floorRound(col("jaccard_raw"), 4).as("jaccard"))
        .orderBy("a_id", "b_id")
    },

    // D2-oracle — the SAME MinHash+LSH pipeline built on md5 (which DuckDB
    // shares bit-for-bit), so the full dedup path — signatures, banding,
    // candidate join, exact-Jaccard verify — is hash-checked against an
    // independent SQL implementation. Verify-only: the xxhash64 variant
    // above stays the benched scale path (md5 is ~10x costlier per shingle).
    // Both the SQL text and the Spark plan below are GENERATED from
    // MinhashBands/MinhashRows, so the twin's geometry tracks the scale
    // path's defaults by construction.
    sql("q_dedup_minhash_md5", Seq("D2"),
      ("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM t, UNNEST(range(1, len(t) - 1)) AS u(i)),
        |sig AS (SELECT doc_id, """.stripMargin +
        (0 until MinhashSigN).map(i => s"min(md5('$i|' || s)) AS h$i").mkString(", ") +
        ", list(s) AS st FROM sh GROUP BY doc_id),\nbands AS (" +
        (0 until MinhashBands).map(b =>
          s"SELECT doc_id, $b AS band, md5(${
            (0 until MinhashRows).map(r => s"h${MinhashRows * b + r}").mkString(" || ")
          }) AS bucket FROM sig")
          .mkString(" UNION ALL ") + "),\n" +
        """cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |          FROM bands x JOIN bands y
        |          ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
        |j AS (SELECT a_id, b_id,
        |        len(list_intersect(sa.st, sb.st)) * 1.0 /
        |        (len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st))) AS jr
        |      FROM cand JOIN sig sa ON sa.doc_id = a_id JOIN sig sb ON sb.doc_id = b_id)
        |SELECT a_id, b_id, floor(jr * 10000 + 0.5) / 10000 AS jaccard
        |FROM j WHERE jr >= 0.5 ORDER BY a_id, b_id""".stripMargin)) {
      (s, dir) =>
        // same re-join verify as the xxhash scale path: |sa n sb| counted by
        // joining the shingle table on the candidate ids, never a collected
        // set riding the signature shuffle. Values are identical to the
        // oracle's list_intersect form (common/(ca+cb-common)).
        val sh = DfCache.getOrBuild(s, s"minhash_md5_sh#$dir")(shingles(docs(s, dir)))
        val sigCols = (0 until MinhashSigN).map(i =>
          min(md5(concat(lit(s"$i|"), col("s")))).as(s"h$i"))
        val sigs = DfCache.getOrBuild(s, s"minhash_md5_sigs:${MinhashBands}x$MinhashRows#$dir") {
          sh.groupBy(col("doc_id"))
            .agg(sigCols.head, sigCols.tail :+ count(lit(1)).as("cnt"): _*)
        }
        val bands = sigs.select(col("doc_id"),
          posexplode(array((0 until MinhashBands).map(b =>
            md5(concat((0 until MinhashRows).map(r => col(s"h${MinhashRows * b + r}")): _*))): _*))
            .as(Seq("band", "bucket")))
        val candPairs = bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
              && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .distinct()
        val cnts = sigs.select(col("doc_id"), col("cnt"))
        // same deterministic size-bound verify prune as the xxhash scale
        // path, so the hash-checked twin pins its recall-safety: the oracle
        // SQL does NOT prune, and the hashes must still match
        val candSized = candPairs
          .join(cnts.select(col("doc_id").as("a_id"), col("cnt").as("pa")), Seq("a_id"))
          .join(cnts.select(col("doc_id").as("b_id"), col("cnt").as("pb")), Seq("b_id"))
          .filter(sizeCompatible(0.5)(col("pa"), col("pb")))
          .select("a_id", "b_id")
        val common = candSized
          .join(sh.select(col("doc_id").as("a_id"), col("s")), Seq("a_id"))
          .join(sh.select(col("doc_id").as("b_id"), col("s")), Seq("b_id", "s"))
          .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("common"))
        common
          .join(cnts.select(col("doc_id").as("a_id"), col("cnt").as("ca")), Seq("a_id"))
          .join(cnts.select(col("doc_id").as("b_id"), col("cnt").as("cb")), Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            (col("common") * lit(1.0) / (col("ca") + col("cb") - col("common")))
              .as("jaccard_raw"))
          .filter(col("jaccard_raw") >= 0.5)
          .select(col("a_id"), col("b_id"),
            QueryDef.floorRound(col("jaccard_raw"), 4).as("jaccard"))
          .orderBy("a_id", "b_id")
    },

    // D3 — SimHash: 64-bit signature from token hashes (per-bit majority
    // vote), near-dup pairs = band-bucket collisions + hamming <= 8. See
    // [[simhashPairs]] for the banding scale analysis (candidate volume is
    // ~n^2/2^bandBits — bandBits is the corpus-size knob).
    rowsOnly("q_dedup_simhash", Seq("D3")) { (s, dir) =>
      simhashPairs(docs(s, dir), bandBits = Knobs.simhashBandBits(s))
        .orderBy("a_id", "b_id")
    },

    // D3-oracle — the SimHash pipeline on a 60-bit md5-derived token hash
    // (fits signed BIGINT in both engines), hash-checked against an
    // independent DuckDB implementation: per-bit majority vote over token
    // occurrences, 6 bands x 10 bits, hamming <= 8 over band collisions.
    // Verify-only: the splitmix64 variant above stays the benched path.
    sql("q_dedup_simhash_md5", Seq("D3"),
      ("""WITH tok AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |                  FROM documents)),
        |v AS (SELECT doc_id, """.stripMargin +
        (0 until 60).map(b =>
          s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ") +
        " FROM tok GROUP BY doc_id),\nsig AS (SELECT doc_id, " +
        (0 until 60).map(b =>
          s"(CASE WHEN v$b >= 0 THEN (1::BIGINT << $b) ELSE 0 END)").mkString(" + ") +
        " AS simhash FROM v),\nbands AS (" +
        (0 until 6).map(b =>
          s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 10}) & 1023 AS bucket FROM sig")
          .mkString(" UNION ALL ") + ")\n" +
        """SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
        |  bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
        |FROM bands x JOIN bands y
        |  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 8
        |ORDER BY a_id, b_id""".stripMargin)) {
      (s, dir) =>
        val toks = spread(docs(s, dir))
          .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
          .select(col("doc_id"),
            conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
        val votes = toks.groupBy(col("doc_id")).agg(
          sum(when(shiftright(col("h"), 0).bitwiseAND(1) === 1, 1).otherwise(-1)).as("v0"),
          (1 until 60).map(b =>
            sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
              .as(s"v$b")): _*)
        val sig = votes.select(col("doc_id"),
          (0 until 60).map(b =>
            when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
            .as("simhash"))
        val bands = sig.select(col("doc_id"), col("simhash"),
          posexplode(array((0 until 6).map(b =>
            shiftright(col("simhash"), b * 10).bitwiseAND(1023)): _*))
            .as(Seq("band", "bucket")))
        // multi-band collisions deduped by the row-local minimal-band
        // conjunct, not a pair-distinct exchange — same rewrite as
        // [[simhashPairs]]; the twin's DuckDB oracle keeps its DISTINCT,
        // so the unchanged hash pins the rewrite's set-equality with
        // ground truth
        bands.as("x").join(bands.as("y"),
            col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
              && col("x.doc_id") < col("y.doc_id")
              && firstBandCollision(col("x.simhash"), col("y.simhash"),
                col("x.band"), 10, 6))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
            bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long")
              .as("hamming"))
          .filter(col("hamming") <= 8)
          .orderBy("a_id", "b_id")
    },

    // TA4 — document fingerprinting: full-content hash + min-shingle
    // (winnowing-style) fingerprint. md5 exists identically in both engines,
    // so unlike an xxhash64 fingerprint this one is oracle-checkable (the
    // min over hex strings is plain lexicographic order on both sides).
    sql("q_fingerprint", Seq("TA4"),
      """WITH t AS (SELECT doc_id, md5(text) AS content_fp, string_split(text, ' ') AS t
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS fp
        |       FROM (SELECT doc_id, t FROM t WHERE len(t) >= 3),
        |            UNNEST(range(1, len(t) - 1)) AS u(i)),
        |m AS (SELECT doc_id, min(fp) AS min_shingle_fp FROM sh GROUP BY 1)
        |SELECT t.doc_id, t.content_fp, m.min_shingle_fp
        |FROM t LEFT JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val sh = shingles(docs(s, dir))
        val minSh = sh.groupBy(col("doc_id")).agg(min(md5(col("s"))).as("min_shingle_fp"))
        docs(s, dir).select(col("doc_id"), md5(col("text")).as("content_fp"))
          .join(minSh, Seq("doc_id"), "left")
          .orderBy("doc_id")
    },

    // TA9 — training-sequence chunking: fixed 64-token windows at stride 48
    // (16-token overlap), the context-window prep step between curation and
    // tokenization in an LLM data pipeline. Pure per-row expressions — the
    // window starts, slices, and fingerprints are all computed inside the
    // row, so the plan has ZERO shuffles at any corpus size (the orderBy is
    // verify-determinism only); a chunk's identity is its md5 so downstream
    // chunk-level dedup can run without re-materializing chunk text.
    sql("q_doc_chunk", Seq("TA9"),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |c AS (SELECT doc_id, i AS chunk_idx,
         |        t[i*${ChunkStride}+1 : i*${ChunkStride}+${ChunkTokens}] AS ct
         |      FROM t, UNNEST(range(0,
         |        1 + (greatest(0, len(t) - ${ChunkTokens}) + ${ChunkStride - 1})
         |              // ${ChunkStride})) AS u(i))
         |SELECT doc_id, chunk_idx, len(ct) AS n_chunk_tokens,
         |       md5(array_to_string(ct, ' ')) AS chunk_fp
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) {
      (s, dir) =>
        val nChunks = lit(1) +
          expr(s"(greatest(0, size(split(text, ' ')) - $ChunkTokens) " +
            s"+ ${ChunkStride - 1}) div $ChunkStride")
        docs(s, dir)
          .select(col("doc_id"), toks.as("t"),
            sequence(lit(0), (nChunks - 1).cast("int")).as("idx"))
          .select(col("doc_id"), col("t"), explode(col("idx")).as("chunk_idx"))
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            slice(col("t"), col("chunk_idx") * ChunkStride + 1, lit(ChunkTokens)).as("ct"))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("ct")).cast("long").as("n_chunk_tokens"),
            md5(array_join(col("ct"), " ")).as("chunk_fp"))
          .orderBy("doc_id", "chunk_idx")
    },

    // TA10 — sequence-packing manifest: GPT-style concatenate-and-cut —
    // docs in doc_id order are conceptually concatenated and sliced into
    // fixed 1024-token training sequences; each doc's manifest row says
    // which sequences it lands in and at what offset. The naive form is a
    // single global running sum — a one-partition window that dies at
    // 100 TB — so this is the textbook two-phase distributed prefix sum:
    // (1) running sums WITHIN doc_id-range buckets (hash-shuffled window,
    // all parallel), (2) bucket TOTALS (one tiny row per 256 docs) prefix-
    // summed in one partition — metadata-sized, like q_lang_mix's counts —
    // and broadcast-joined back as each bucket's offset. Integer-only
    // arithmetic, so the DuckDB twin (a plain global window — fine at
    // oracle scale) hash-matches exactly.
    sql("q_seq_pack", Seq("TA10"),
      s"""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |          AS cum_before
         |      FROM t)
         |SELECT doc_id, n_tokens,
         |       cum_before // ${PackTokens} AS first_seq,
         |       (cum_before + n_tokens - 1) // ${PackTokens} AS last_seq,
         |       cum_before % ${PackTokens} AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        packManifest(docs(s, dir))
          .select(col("doc_id"), col("n_tokens"),
            expr(s"cum_before div $PackTokens").as("first_seq"),
            expr(s"(cum_before + n_tokens - 1) div $PackTokens").as("last_seq"),
            expr(s"cum_before % $PackTokens").as("seq_offset"))
          .orderBy("doc_id")
    },

    // TA10b — the packing MATERIALIZED: each output row is one assembled
    // 1024-token training sequence (fingerprinted here; [[packedSequences]]
    // returns the text itself). Docs explode into per-sequence fragments
    // (a doc contributes one fragment per sequence it spans), fragments
    // hash-shuffle ONCE on seq_id carrying only their own token slices
    // (<= 1024 tokens rebuilt per sequence — bounded reducer state), and
    // reassemble in offset order. The md5-of-text twin makes the WHOLE
    // assembly — prefix sums, fragment slicing, offset order — one
    // hash-checked unit.
    sql("q_pack_sequences", Seq("TA10"),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |c AS (SELECT doc_id, t, len(t) AS n_tokens,
         |        coalesce(sum(len(t)) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |          AS cum_before
         |      FROM t),
         |f AS (SELECT seq,
         |        greatest(0, c.cum_before - seq * ${PackTokens}) AS off,
         |        array_to_string(t[(greatest(0, seq * ${PackTokens} - c.cum_before) + 1)
         |          : least(c.n_tokens, (seq + 1) * ${PackTokens} - c.cum_before)], ' ') AS ft
         |      FROM c, UNNEST(range(c.cum_before // ${PackTokens},
         |        (c.cum_before + c.n_tokens - 1) // ${PackTokens} + 1)) AS u(seq)),
         |sq AS (SELECT seq AS seq_id,
         |         string_agg(ft, ' ' ORDER BY off) AS txt
         |       FROM f GROUP BY seq)
         |SELECT seq_id, len(string_split(txt, ' '))::BIGINT AS n_seq_tokens,
         |       md5(txt) AS seq_fp
         |FROM sq ORDER BY seq_id""".stripMargin) {
      (s, dir) =>
        packedSequences(docs(s, dir))
          .select(col("seq_id"), col("n_seq_tokens"), md5(col("text")).as("seq_fp"))
          .orderBy("seq_id")
    },

    // D8 — repeated-span audit (the span-level sibling of exact dedup, the
    // shape of Lee et al.'s exact-substring dedup at fixed granularity):
    // non-overlapping 16-token spans, fingerprinted per row, with a span
    // flagged when its fingerprint occurs more than once corpus-wide
    // (cross-doc copies AND intra-doc repetition both count — boilerplate
    // shows up as either). 100 TB shape: one hash-partitioned count over
    // span fingerprints (map-side partial combine absorbs hot spans) and
    // one shuffle join back on the same key; spans never leave their hash
    // form, so shuffle width is md5-sized, not text-sized.
    sql("q_span_dedup", Seq("D8"),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sp AS (SELECT doc_id,
         |         md5(array_to_string(t[i*${SpanTokens}+1 : i*${SpanTokens}+${SpanTokens}], ' ')) AS sp
         |       FROM t, UNNEST(range(0, len(t) // ${SpanTokens})) AS u(i)),
         |g AS (SELECT sp FROM sp GROUP BY sp HAVING count(*) > 1),
         |d AS (SELECT doc_id, count(*) AS n_dup_spans
         |      FROM sp JOIN g USING (sp) GROUP BY 1),
         |n AS (SELECT doc_id, len(t) // ${SpanTokens} AS n_spans FROM t)
         |SELECT n.doc_id, n.n_spans, coalesce(d.n_dup_spans, 0) AS n_dup_spans
         |FROM n LEFT JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val d = docs(s, dir)
        val nSpans = expr(s"size(split(text, ' ')) div $SpanTokens")
        // guard the degenerate shape: sequence(0, -1) DESCENDS in Spark, so
        // a short doc must produce an empty array, not a [0,-1] sequence
        val spanFps = when(nSpans > 0,
          expr(s"""transform(sequence(0, size(split(text, ' ')) div $SpanTokens - 1),
                  |  i -> md5(array_join(slice(split(text, ' '),
                  |                            i * $SpanTokens + 1, $SpanTokens), ' ')))"""
            .stripMargin))
          .otherwise(expr("array()"))
        val sp = d.select(col("doc_id"), explode(spanFps).as("sp"))
        val dupSet = sp.groupBy(col("sp")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 1).select("sp")
        val perDoc = sp.join(dupSet, Seq("sp"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
        d.select(col("doc_id"), nSpans.cast("long").as("n_spans"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_spans"),
            coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
          .orderBy("doc_id")
    },

    // D5-scale — embedding near-dup via BANDED random-hyperplane LSH (the
    // 100-TB path; brute-force twin is q_neardup_cosine): 8 bands x 10
    // sign-planes, candidate pairs = same band bucket (union over bands,
    // deduped), hot buckets above BucketCap dropped per band + DropLog'd —
    // redundancy across bands keeps recall when a dense region's bucket is
    // capped, exactly like the minhash bands. The plane weights are pure
    // integer arithmetic, so the WHOLE pipeline — 80 projections, band
    // buckets, the cap, candidate dedup, unit-vector cosine — is reproduced
    // in DuckDB as generated SQL with identical left-to-right f64
    // accumulation, and hash-checked.
    sql("q_neardup_lsh", Seq("D5"), TextPipeline.lshOracleSql) { (s, dir) =>
      import graft.functions.VectorOps._
      val e = Tables.emb(s, dir)
      // deterministic pseudo-random hyperplanes; all 80 projections in one
      // pass over the embedding (a Column expression this wide blows far
      // past the codegen splitting threshold — a tight loop is ~10x cheaper).
      // Geometry reads the session knobs (defaults = the constants the
      // generated oracle pins, so the hash check is green under default conf)
      val (nBands, nBits, cap) = (Knobs.lshBands(s), Knobs.lshBits(s), Knobs.bucketCap(s))
      val dim = 64
      val weights = Array.tabulate(nBands * nBits, dim)((p, d) => lshWeight(p, d, nBands * nBits))
      val bucketsUdf = udf { (emb: Seq[Float]) =>
        val v = emb.toArray
        Array.tabulate(nBands) { band =>
          var bucket = 0L
          var i = 0
          while (i < nBits) {
            val w = weights(band * nBits + i)
            var sum = 0.0
            var d = 0
            while (d < dim) { sum += v(d) * w(d); d += 1 }
            if (sum >= 0) bucket |= 1L << i
            i += 1
          }
          bucket
        }.toSeq
      }
      // array-form cap + row-local minimal-band dedup (see cappedBandFrame /
      // firstCappedBandCollision): candidate pairs are distinct BY
      // CONSTRUCTION, so neither the anti-join nor the pair distinct()
      // exchange exist — and still only (a_id, b_id) longs leave the join,
      // never the 64-wide vectors. The generated DuckDB oracle keeps its
      // DISTINCT-over-bands shape, so the unchanged hash pins the rewrite.
      val pruned = cappedBandedFromArrays(s,
        e.select(col("vec_id").as("doc_id"),
          bucketsUdf(col("emb").cast("array<float>")).as("bks")),
        nBands, cap, s"q_neardup_lsh: band buckets with > $cap members")
      val pairs = pruned.as("a").join(pruned.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
            && col("a.doc_id") < col("b.doc_id")
            && firstCappedBandCollision(col("a.bks"), col("b.bks"),
              col("a.band"), nBands))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      val u = e.select(col("vec_id"), l2normalize(col("emb")).as("unit"))
      pairs
        .join(u.select(col("vec_id").as("a_id"), col("unit").as("ua")), Seq("a_id"))
        .join(u.select(col("vec_id").as("b_id"), col("unit").as("ub")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), round(dot(col("ua"), col("ub")), 4).as("cos"))
        .filter(col("cos") >= 0.2)
        .orderBy(col("cos").desc, col("a_id"), col("b_id"))
    },

    // TA2b — repetition-based quality signals (the Gopher/MassiveText
    // repetition rules re-expressed over whitespace tokens): most-frequent-
    // token fraction and duplicate-2-gram fraction, with an integer-gate
    // `flagged` verdict (x5 > n avoids any float-compare hazard between
    // engines). Every signal is computed PER ROW from the token array
    // (sort/aggregate/array_distinct collection expressions): zero
    // shuffles at any corpus size, the ideal 100 TB shape. The top-token
    // count is array_sort + one run-length-max pass — O(n log n) per row,
    // so a single pathological document (100k tokens, huge vocabulary)
    // costs ~1e6 comparisons in its task, not the ~1e10 a naive
    // per-distinct-token rescan would (the oracle keeps the O(u*n)
    // formulation: same integer, and DuckDB only ever sees sf0.01).
    sql("q_quality_repetition", Seq("TA2"),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |f AS (SELECT doc_id, len(toks) AS n_toks,
        |  list_max([len(list_filter(toks, y -> y = x)) for x in list_distinct(toks)]) AS top_cnt,
        |  CASE WHEN len(toks) >= 2
        |    THEN len(toks) - 1 - len(list_distinct([array_to_string(toks[n:n+1], ' ') for n in range(1, len(toks))]))
        |    ELSE 0 END AS dup2
        |  FROM d)
        |SELECT doc_id, n_toks,
        |  floor(top_cnt * 1.0 / n_toks * 10000 + 0.5) / 10000 AS top_tok_frac,
        |  CASE WHEN n_toks >= 2 THEN floor(dup2 * 1.0 / (n_toks - 1) * 10000 + 0.5) / 10000
        |       ELSE 0.0 END AS dup_2gram_frac,
        |  (top_cnt * 5 > n_toks OR dup2 * 5 > n_toks - 1) AS flagged
        |FROM f ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val nToks = size(toks)
        // longest equal-run in the sorted token array == max token
        // frequency; the "" sentinel can only merge with a leading ""
        // token, whose run then correctly starts at 0+1
        val topCnt = aggregate(
          array_sort(toks),
          struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
          (acc, x) => {
            val run = when(x === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"),
              greatest(acc("best"), run).as("best"))
          },
          acc => acc("best"))
        val twoGrams = transform(sequence(lit(1), nToks - 1),
          n => array_join(slice(toks, n, lit(2)), " "))
        val dup2 = when(nToks >= 2, nToks - 1 - size(array_distinct(twoGrams)))
          .otherwise(0)
        docs(s, dir)
          .select(col("doc_id"), nToks.cast("long").as("n_toks"),
            topCnt.cast("long").as("top_cnt"), dup2.cast("long").as("dup2"))
          .select(col("doc_id"), col("n_toks"),
            QueryDef.floorRound(col("top_cnt") * lit(1.0) / col("n_toks"), 4)
              .as("top_tok_frac"),
            when(col("n_toks") >= 2,
              QueryDef.floorRound(col("dup2") * lit(1.0) / (col("n_toks") - 1), 4))
              .otherwise(lit(0.0)).as("dup_2gram_frac"),
            (col("top_cnt") * 5 > col("n_toks") ||
              col("dup2") * 5 > col("n_toks") - 1).as("flagged"))
          .orderBy("doc_id")
    },

    // D7 — benchmark decontamination: flag any training document sharing an
    // 8-token shingle with the (deterministic stand-in) benchmark set —
    // the eval-leak guard every LLM training pipeline runs before a corpus
    // ships. Reports BOTH the any-hit verdict and the PARTIAL contamination
    // fraction (hit shingles / doc shingles, integer mils — the
    // PaLM-style graded measure that separates a quoted sentence from a
    // wholesale copy; integer fixed-point so no cross-engine float
    // compare). Scale shape: per-doc-distinct shingles are built PER ROW
    // (array_distinct before explode — no dedup shuffle), the benchmark
    // shingle set is metadata-sized (eval suites, ~1e6 shingles at
    // production scale) so the membership probe is a BROADCAST semi-join,
    // and the only shuffle is the output-sized per-doc hit count.
    sql("q_decontaminate", Seq("D7"),
      s"""WITH d AS (SELECT doc_id, list_distinct(CASE
        |        WHEN len(string_split(text, ' ')) >= $DeconNgram
        |        THEN [array_to_string(string_split(text, ' ')[n:n+${DeconNgram - 1}], ' ')
        |              for n in range(1, len(string_split(text, ' ')) - ${DeconNgram - 2})]
        |        ELSE [] END) AS shs FROM documents),
        |s AS (SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh FROM d),
        |bench AS (SELECT DISTINCT sh FROM s WHERE doc_id % $DeconBenchMod = 0),
        |hits AS (SELECT s.doc_id, count(*) AS n_hits FROM s JOIN bench USING (sh)
        |         WHERE s.doc_id % $DeconBenchMod <> 0 GROUP BY s.doc_id)
        |SELECT d.doc_id, coalesce(n_hits, 0) AS n_hits, len(shs) AS n_shingles,
        |  CASE WHEN len(shs) > 0
        |       THEN (coalesce(n_hits, 0) * $MixScale) // len(shs) ELSE 0 END AS contam_mils,
        |  coalesce(n_hits, 0) > 0 AS contaminated
        |FROM d LEFT JOIN hits USING (doc_id) WHERE d.doc_id % $DeconBenchMod <> 0
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        // the stand-in benchmark set: shingles of every doc_id % mod == 0
        // doc, handed to the SAME decontaminate() API a production caller
        // uses with real eval-suite shingles
        val d = docs(s, dir)
        val bench = d.filter(col("doc_id") % DeconBenchMod === 0)
          .select(explode(deconShingles(col("text"))).as("sh"))
        decontaminate(d.filter(col("doc_id") % DeconBenchMod =!= 0), bench)
          .orderBy("doc_id")
    },

    // D7b — FUZZY benchmark decontamination: flag training documents that
    // are NEAR-duplicates (shingle Jaccard >= 0.5) of a benchmark doc —
    // the screen that catches paraphrased / lightly-edited eval leakage
    // the exact 8-gram probe (D7) misses. Production path: the
    // [[crossCorpusNearDups]] MinHash+LSH cross-corpus matcher (xxhash64,
    // banded, capped — the q_dedup_minhash scale shape with the self-join
    // replaced by an incoming x bench band join; the bench side's
    // signature/band frames are corpus-only and reused across ingest
    // batches via DfCache). No SQL oracle here (DuckDB lacks xxhash64);
    // the md5 twin below hash-checks the identical pipeline shape.
    rowsOnly("q_decontaminate_fuzzy", Seq("D7", "D2")) { (s, dir) =>
      val d = docs(s, dir)
      crossCorpusNearDups(s,
        d.filter(col("doc_id") % DeconFuzzyBenchMod =!= 0),
        d.filter(col("doc_id") % DeconFuzzyBenchMod === 0),
        cacheKey = s"decon_fuzzy#$dir")
        .orderBy("in_id")
    },

    // D7b-oracle — the SAME cross-corpus near-dup screen built on md5
    // (bit-shared with DuckDB), hash-checked end to end: signatures,
    // banding (incl. the per-side hot-bucket caps), the incoming x bench
    // candidate join, the exact-Jaccard verify, and the
    // best-match-per-incoming-doc cut. Everything downstream of the md5
    // signature/shingle frames runs through [[crossCorpusNearDupsCore]] —
    // the IDENTICAL code path the production xxhash64 matcher uses, with
    // only the hash family swapped (ADVICE r12: the twin can no longer
    // drift from the path it checks). The signature / shingle tables are
    // CACHE-SHARED with q_dedup_minhash_md5 (same DfCache keys), so within
    // a session the md5 shingling runs once for the pair of them. Both the
    // SQL and the Spark side are GENERATED from MinhashBands/MinhashRows.
    sql("q_decontaminate_fuzzy_md5", Seq("D7", "D2"),
      ("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM t, UNNEST(range(1, len(t) - 1)) AS u(i)),
        |sig AS (SELECT doc_id, """.stripMargin +
        (0 until MinhashSigN).map(i => s"min(md5('$i|' || s)) AS h$i").mkString(", ") +
        ", list(s) AS st FROM sh GROUP BY doc_id),\nbands AS (" +
        (0 until MinhashBands).map(b =>
          s"SELECT doc_id, $b AS band, md5(${
            (0 until MinhashRows).map(r => s"h${MinhashRows * b + r}").mkString(" || ")
          }) AS bucket FROM sig")
          .mkString(" UNION ALL ") + "),\n" +
        s"""bi AS (SELECT * FROM bands WHERE doc_id % $DeconFuzzyBenchMod <> 0),
        |be AS (SELECT * FROM bands WHERE doc_id % $DeconFuzzyBenchMod = 0),
        |hi AS (SELECT band, bucket FROM bi GROUP BY band, bucket
        |       HAVING count(*) > $BucketCap),
        |he AS (SELECT band, bucket FROM be GROUP BY band, bucket
        |       HAVING count(*) > $BucketCap),
        |cand AS (SELECT DISTINCT x.doc_id AS in_id, y.doc_id AS ex_id
        |          FROM bi x JOIN be y
        |          ON x.band = y.band AND x.bucket = y.bucket
        |          WHERE NOT EXISTS (SELECT 1 FROM hi
        |                  WHERE hi.band = x.band AND hi.bucket = x.bucket)
        |            AND NOT EXISTS (SELECT 1 FROM he
        |                  WHERE he.band = y.band AND he.bucket = y.bucket)),
        |j AS (SELECT in_id, ex_id,
        |        len(list_intersect(sa.st, sb.st)) * 1.0 /
        |        (len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st))) AS jr
        |      FROM cand JOIN sig sa ON sa.doc_id = in_id JOIN sig sb ON sb.doc_id = ex_id),
        |r AS (SELECT in_id, ex_id, jr,
        |        row_number() OVER (PARTITION BY in_id ORDER BY jr DESC, ex_id) AS rk
        |      FROM j WHERE jr >= 0.5)
        |SELECT in_id, ex_id AS dup_of, floor(jr * 10000 + 0.5) / 10000 AS jaccard
        |FROM r WHERE rk = 1 ORDER BY in_id""".stripMargin)) {
      (s, dir) =>
        val sh = DfCache.getOrBuild(s, s"minhash_md5_sh#$dir")(shingles(docs(s, dir)))
        val sigCols = (0 until MinhashSigN).map(i =>
          min(md5(concat(lit(s"$i|"), col("s")))).as(s"h$i"))
        val sigs = DfCache.getOrBuild(s, s"minhash_md5_sigs:${MinhashBands}x$MinhashRows#$dir") {
          sh.groupBy(col("doc_id"))
            .agg(sigCols.head, sigCols.tail :+ count(lit(1)).as("cnt"): _*)
        }
        val in = col("doc_id") % DeconFuzzyBenchMod =!= 0
        crossCorpusNearDupsCore(s,
          sigsIn = sigs.filter(in), sigsEx = sigs.filter(!in),
          shInRaw = sh.filter(in).select(col("doc_id"), col("s")),
          shExRaw = sh.filter(!in).select(col("doc_id"), col("s")),
          bands = MinhashBands, rows = MinhashRows, bucketCap = BucketCap,
          bandHash = cols => md5(concat(cols: _*)))
          .orderBy("in_id")
    },

    // D7c — CHUNKED fuzzy decontamination: the screen for benchmark text
    // QUOTED INSIDE a larger page. Whole-doc fuzzy (D7b) structurally
    // misses it — a lightly-edited eval question inside a long article has
    // tiny whole-doc Jaccard — and the exact 8-gram probe (D7) misses it
    // the moment the quote is edited. Production decon pipelines screen at
    // CHUNK granularity for exactly this reason: both corpora are re-keyed
    // into the q_doc_chunk 64-token/stride-48 windows (row-local explode,
    // no shuffle), the SAME banded-minhash cross-corpus core runs at chunk
    // granularity, and chunk verdicts roll up to one best (dup_of,
    // jaccard) row per flagged incoming PARENT doc. Scale shape: chunk
    // count is ~tokens/48 — linear — and everything downstream inherits
    // q_dedup_minhash's banding + per-side caps at chunk granularity.
    rowsOnly("q_decontaminate_chunked", Seq("D7", "D2", "TA9")) { (s, dir) =>
      val d = docs(s, dir)
      bestMatchPerParent(
        crossCorpusNearDups(s,
          chunkedDocs(d.filter(col("doc_id") % DeconFuzzyBenchMod =!= 0), ChunkIdScale),
          chunkedDocs(d.filter(col("doc_id") % DeconFuzzyBenchMod === 0), ChunkIdScale),
          cacheKey = s"decon_chunked#$dir"),
        ChunkIdScale).orderBy("in_id")
    },

    // D7c-oracle — the chunked screen on md5, end-to-end hash-checked
    // through the SAME crossCorpusNearDupsCore + bestMatchPerParent code
    // path (only the hash family differs): chunking, signatures, banding
    // with per-side caps, the chunk-level candidate/verify/best-match cut,
    // and the parent rollup are all reproduced term-for-term in DuckDB.
    sql("q_decontaminate_chunked_md5", Seq("D7", "D2", "TA9"),
      (s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |ch AS (SELECT doc_id * $ChunkIdScale + i AS cid,
        |         t[i*$ChunkStride+1 : i*$ChunkStride+$ChunkTokens] AS ct
        |       FROM t0, UNNEST(range(0,
        |         1 + (greatest(0, len(t) - $ChunkTokens) + ${ChunkStride - 1})
        |               // $ChunkStride)) AS u(i)),
        |t AS (SELECT cid AS doc_id, ct AS t FROM ch WHERE len(ct) >= 3),
        |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |       FROM t, UNNEST(range(1, len(t) - 1)) AS u(i)),
        |sig AS (SELECT doc_id, """.stripMargin +
        (0 until MinhashSigN).map(i => s"min(md5('$i|' || s)) AS h$i").mkString(", ") +
        ", list(s) AS st FROM sh GROUP BY doc_id),\nbands AS (" +
        (0 until MinhashBands).map(b =>
          s"SELECT doc_id, $b AS band, md5(${
            (0 until MinhashRows).map(r => s"h${MinhashRows * b + r}").mkString(" || ")
          }) AS bucket FROM sig")
          .mkString(" UNION ALL ") + "),\n" +
        s"""bi AS (SELECT * FROM bands
        |        WHERE (doc_id // $ChunkIdScale) % $DeconFuzzyBenchMod <> 0),
        |be AS (SELECT * FROM bands
        |        WHERE (doc_id // $ChunkIdScale) % $DeconFuzzyBenchMod = 0),
        |hi AS (SELECT band, bucket FROM bi GROUP BY band, bucket
        |       HAVING count(*) > $BucketCap),
        |he AS (SELECT band, bucket FROM be GROUP BY band, bucket
        |       HAVING count(*) > $BucketCap),
        |cand AS (SELECT DISTINCT x.doc_id AS in_id, y.doc_id AS ex_id
        |          FROM bi x JOIN be y
        |          ON x.band = y.band AND x.bucket = y.bucket
        |          WHERE NOT EXISTS (SELECT 1 FROM hi
        |                  WHERE hi.band = x.band AND hi.bucket = x.bucket)
        |            AND NOT EXISTS (SELECT 1 FROM he
        |                  WHERE he.band = y.band AND he.bucket = y.bucket)),
        |j AS (SELECT in_id, ex_id,
        |        len(list_intersect(sa.st, sb.st)) * 1.0 /
        |        (len(sa.st) + len(sb.st) - len(list_intersect(sa.st, sb.st))) AS jr
        |      FROM cand JOIN sig sa ON sa.doc_id = in_id JOIN sig sb ON sb.doc_id = ex_id),
        |r AS (SELECT in_id, ex_id, jr,
        |        row_number() OVER (PARTITION BY in_id ORDER BY jr DESC, ex_id) AS rk
        |      FROM j WHERE jr >= 0.5),
        |pr AS (SELECT in_id // $ChunkIdScale AS in_id, ex_id // $ChunkIdScale AS dup_of,
        |         floor(jr * 10000 + 0.5) / 10000 AS jaccard FROM r WHERE rk = 1),
        |r2 AS (SELECT in_id, dup_of, jaccard,
        |         row_number() OVER (PARTITION BY in_id
        |           ORDER BY jaccard DESC, dup_of) AS rk2 FROM pr)
        |SELECT in_id, dup_of, jaccard FROM r2 WHERE rk2 = 1
        |ORDER BY in_id""".stripMargin)) {
      (s, dir) =>
        val chunks = chunkedDocs(docs(s, dir), ChunkIdScale)
        val sh = DfCache.getOrBuild(s, s"chunk_md5_sh#$dir")(shingles(chunks))
        val sigCols = (0 until MinhashSigN).map(i =>
          min(md5(concat(lit(s"$i|"), col("s")))).as(s"h$i"))
        val sigs = DfCache.getOrBuild(s, s"chunk_md5_sigs#$dir") {
          sh.groupBy(col("doc_id"))
            .agg(sigCols.head, sigCols.tail :+ count(lit(1)).as("cnt"): _*)
        }
        val in = expr(s"(doc_id div $ChunkIdScale) % $DeconFuzzyBenchMod") =!= 0
        bestMatchPerParent(
          crossCorpusNearDupsCore(s,
            sigsIn = sigs.filter(in), sigsEx = sigs.filter(!in),
            shInRaw = sh.filter(in).select(col("doc_id"), col("s")),
            shExRaw = sh.filter(!in).select(col("doc_id"), col("s")),
            bands = MinhashBands, rows = MinhashRows, bucketCap = BucketCap,
            bandHash = cols => md5(concat(cols: _*))),
          ChunkIdScale).orderBy("in_id")
    },

    // TA7 — per-source document cap (the per-domain cap rule of web-corpus
    // pipelines: no single domain may dominate the corpus): emit the kept
    // set — the top-SourceCap docs per source by the deterministic keeper
    // order (longest first, doc_id tiebreak) — with exact ranks. Hot-source
    // scale safety comes from Catalyst, not hand-salting: see
    // [[sourceCapKept]] — InferWindowGroupLimit plans the rank filter as a
    // partial pre-shuffle group limit (split-bounded sorts, k rows per
    // source per map task), measured a wash against an explicit salted
    // two-phase on a 24M-row 80%-hot corpus and pinned by spec.
    sql("q_source_cap", Seq("TA7"),
      s"""WITH r AS (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk FROM r WHERE rk <= $SourceCap
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        sourceCapKept(docs(s, dir))
          .select(col("doc_id"), col("source"), col("rk"))
          .orderBy("doc_id")
    },

    // TA8 — temperature-style language rebalancing (corpus mixing): each
    // language's keep-rate is sqrt(n_min/n_s) in fixed-point mils — the
    // sqrt-temperature downsampling used to stop a dominant language
    // swamping a multilingual corpus — gated per document by the proven
    // md5-mod construction, so the sample is a pure function of doc_id
    // (corpus growth or re-runs never flip earlier keep decisions within a
    // language's unchanged rate). Scale shape: one metadata-sized groupBy
    // for the language counts, broadcast back; the per-doc gate is scalar
    // column work with no shuffle.
    sql("q_lang_mix", Seq("TA8"),
      s"""WITH c AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
        |m AS (SELECT min(n_s) AS n_min FROM c),
        |r AS (SELECT lang, floor(sqrt(n_min * 1.0 / n_s) * $MixScale)::BIGINT AS rate_mils
        |      FROM c, m),
        |h AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5('mix' || doc_id::VARCHAR), 1, 15))::BIGINT % $MixScale AS hb
        |  FROM documents)
        |SELECT h.doc_id, h.lang, r.rate_mils, hb < r.rate_mils AS keep
        |FROM h JOIN r USING (lang) ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val d = docs(s, dir)
        val c = d.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
        val m = c.agg(min(col("n_s")).as("n_min"))
        val r = c.crossJoin(broadcast(m))
          .select(col("lang"),
            floor(sqrt(col("n_min") * lit(1.0) / col("n_s")) * MixScale)
              .cast("long").as("rate_mils"))
        val h = d.select(col("doc_id"), col("lang"),
          (conv(substring(md5(concat(lit("mix"), col("doc_id").cast("string"))), 1, 15), 16, 10)
            .cast("long") % MixScale).as("hb"))
        h.join(broadcast(r), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("rate_mils"),
            (col("hb") < col("rate_mils")).as("keep"))
          .orderBy("doc_id")
    },

    // TA9 — the FULL composed corpus-selection verdict: every curation gate
    // this engine ships, evaluated per document in one query — language x
    // quality x duplicate-cluster keeper x deterministic split x
    // decontamination x sqrt-temperature mixing x per-source cap. This is
    // the pipeline a training run executes end to end, and the whole
    // composition is hash-checked against ONE DuckDB query assembled from
    // the same shared CTE chains / constants as the individual operators
    // (any drift in any gate breaks the hash). Benchmark stand-in docs are
    // never `clean` (eval data must not enter a training corpus). Scale
    // shape = the union of the parts: cached cluster labels, broadcast
    // benchmark probe, metadata-sized mix rates, group-limited cap — joined on
    // doc_id (co-partitioned key joins, no new hazards).
    sql("q_corpus_select_full", Seq("TA1", "TA2", "TA5", "TA7", "TA8", "D6", "D7"),
      s"""WITH RECURSIVE $clusterCtes,
        |cc AS (SELECT nd AS doc_id, min(r) AS cluster_id FROM reach GROUP BY nd),
        |feat AS (SELECT doc_id, lang, source, n_chars,
        |  len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a' OR x = 'of')) AS en_s,
        |  len(list_filter(string_split(text, ' '), x -> x = 'der' OR x = 'die' OR x = 'und')) AS de_s,
        |  len(list_filter(string_split(text, ' '), x -> x = 'el' OR x = 'los' OR x = 'que')) AS es_s,
        |  len(list_filter(string_split(text, ' '), x -> x = 'le' OR x = 'les' OR x = 'est')) AS fr_s,
        |  len(string_split(text, ' ')) AS n_toks,
        |  ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS h,
        |  ('0x' || substr(md5('mix' || doc_id::VARCHAR), 1, 15))::BIGINT % $MixScale AS hb
        |  FROM documents),
        |dshs AS (SELECT doc_id, list_distinct(CASE
        |        WHEN len(string_split(text, ' ')) >= $DeconNgram
        |        THEN [array_to_string(string_split(text, ' ')[k:k+${DeconNgram - 1}], ' ')
        |              for k in range(1, len(string_split(text, ' ')) - ${DeconNgram - 2})]
        |        ELSE [] END) AS shs FROM documents),
        |ds AS (SELECT doc_id, unnest(shs) AS dsh FROM dshs),
        |dbench AS (SELECT DISTINCT dsh FROM ds WHERE doc_id % $DeconBenchMod = 0),
        |dhits AS (SELECT ds.doc_id, count(*) AS n_hits FROM ds JOIN dbench USING (dsh)
        |          WHERE ds.doc_id % $DeconBenchMod <> 0 GROUP BY ds.doc_id),
        |mc AS (SELECT lang, count(*) AS n_s FROM documents GROUP BY lang),
        |mr AS (SELECT lang,
        |       floor(sqrt((SELECT min(n_s) FROM mc) * 1.0 / n_s) * $MixScale)::BIGINT AS rate_mils
        |       FROM mc),
        |cap AS (SELECT doc_id,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT f.doc_id,
        |  (en_s >= de_s AND en_s >= es_s AND en_s >= fr_s) AS lang_ok,
        |  (n_toks >= 5 AND n_chars - (n_toks - 1) <= 12 * n_toks) AS quality_ok,
        |  (cc.cluster_id = f.doc_id) AS dedup_keep,
        |  CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
        |  (f.doc_id % $DeconBenchMod <> 0 AND coalesce(n_hits, 0) = 0) AS clean,
        |  (hb < mr.rate_mils) AS mix_keep,
        |  (cap.rk <= $SourceCap) AS cap_kept,
        |  ((en_s >= de_s AND en_s >= es_s AND en_s >= fr_s)
        |    AND (n_toks >= 5 AND n_chars - (n_toks - 1) <= 12 * n_toks)
        |    AND cc.cluster_id = f.doc_id AND h < 90
        |    AND (f.doc_id % $DeconBenchMod <> 0 AND coalesce(n_hits, 0) = 0)
        |    AND hb < mr.rate_mils AND cap.rk <= $SourceCap) AS selected
        |FROM feat f
        |JOIN cc ON cc.doc_id = f.doc_id
        |LEFT JOIN dhits ON dhits.doc_id = f.doc_id
        |JOIN mr ON mr.lang = f.lang
        |JOIN cap ON cap.doc_id = f.doc_id
        |ORDER BY f.doc_id""".stripMargin) {
      (s, dir) =>
        val d = docs(s, dir)
        val cc = clusterLabels(s, dir)
        def score(words: String*): Column =
          size(filter(toks, x => words.map(x === _).reduce(_ || _))).cast("long")
        val feat = d.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          score("the", "a", "of").as("en_s"), score("der", "die", "und").as("de_s"),
          score("el", "los", "que").as("es_s"), score("le", "les", "est").as("fr_s"),
          size(toks).cast("long").as("n_toks"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 100).as("h"),
          (conv(substring(md5(concat(lit("mix"), col("doc_id").cast("string"))), 1, 15), 16, 10)
            .cast("long") % MixScale).as("hb"))
        val shArr = d.select(col("doc_id"), deconShingles(col("text")).as("shs"))
        val ds = shArr.select(col("doc_id"), explode(col("shs")).as("dsh"))
        val dbench = ds.filter(col("doc_id") % DeconBenchMod === 0)
          .select("dsh").distinct()
        val dhits = ds.filter(col("doc_id") % DeconBenchMod =!= 0)
          .join(broadcast(dbench), Seq("dsh"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        val mc = d.groupBy(col("lang")).agg(count(lit(1)).as("n_s"))
        val mr = mc.crossJoin(broadcast(mc.agg(min(col("n_s")).as("n_min"))))
          .select(col("lang"),
            floor(sqrt(col("n_min") * lit(1.0) / col("n_s")) * MixScale)
              .cast("long").as("rate_mils"))
        val capKept = sourceCapKept(d).select(col("doc_id"), lit(true).as("ck"))
        val langOk = col("en_s") >= col("de_s") && col("en_s") >= col("es_s") &&
          col("en_s") >= col("fr_s")
        val qualOk = col("n_toks") >= 5 &&
          (col("n_chars") - (col("n_toks") - 1)) <= lit(12) * col("n_toks")
        val keeper = col("cluster_id") === col("doc_id")
        val clean = col("doc_id") % DeconBenchMod =!= 0 &&
          coalesce(col("n_hits"), lit(0L)) === 0
        val mixKeep = col("hb") < col("rate_mils")
        val capOk = coalesce(col("ck"), lit(false))
        feat.join(cc, Seq("doc_id"))
          .join(dhits, Seq("doc_id"), "left")
          .join(broadcast(mr), Seq("lang"))
          .join(capKept, Seq("doc_id"), "left")
          .select(col("doc_id"), langOk.as("lang_ok"), qualOk.as("quality_ok"),
            keeper.as("dedup_keep"),
            when(col("h") < 90, "train").when(col("h") < 95, "val")
              .otherwise("test").as("split"),
            clean.as("clean"), mixKeep.as("mix_keep"), capOk.as("cap_kept"),
            (langOk && qualOk && keeper && col("h") < 90 && clean && mixKeep && capOk)
              .as("selected"))
          .orderBy("doc_id")
    },

    // TA10 — regex-tier PII scrub (emails / IPv4 / phone-shaped numbers
    // counted on the original text, then redacted to typed placeholders,
    // email first). The synthetic corpus carries no PII characters at all
    // ('@' and digits never appear), so — exactly like q_decontaminate's
    // benchmark stand-in — the query injects DETERMINISTIC doc_id-derived
    // PII into the text on BOTH engines before running the real
    // [[redactPii]] kernel; a production caller applies redactPii to raw
    // text directly. The md5 of the redacted text pins the replacement
    // semantics (order, non-overlap, greediness) bit-for-bit, not just the
    // counts. Scale shape: per-row codegen'd regex work, zero shuffles
    // beyond the verify sort.
    sql("q_pii_redact", Seq("TA10"),
      s"""WITH t AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 3 = 0
        |     THEN ' contact u' || doc_id::VARCHAR || '@example.com' ELSE '' END
        |  || CASE WHEN doc_id % 5 = 0
        |     THEN ' node 10.' || (doc_id % 256)::VARCHAR || '.0.' || (doc_id % 100)::VARCHAR
        |     ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0
        |     THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
        |          || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END AS text
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '$PiiEmailRe')) AS n_email,
        |  len(regexp_extract_all(text, '$PiiIpv4Re')) AS n_ipv4,
        |  len(regexp_extract_all(text, '$PiiPhoneRe')) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '$PiiEmailRe', '<EMAIL>', 'g'),
        |    '$PiiIpv4Re', '<IP>', 'g'),
        |    '$PiiPhoneRe', '<PHONE>', 'g')) AS red_md5
        |  FROM t)
        |SELECT doc_id, n_email, n_ipv4, n_phone,
        |  n_email + n_ipv4 + n_phone AS pii_total, red_md5
        |FROM c ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val injected = concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact u"), col("doc_id").cast("string"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" node 10."), (col("doc_id") % 256).cast("string"),
              lit(".0."), (col("doc_id") % 100).cast("string"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
              lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")))
        redactPii(docs(s, dir).select(col("doc_id"), injected.as("text")))
          .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_phone"),
            col("pii_total"), md5(col("text_redacted")).as("red_md5"))
          .orderBy("doc_id")
    },

    // TA11 — deterministic global training-order shuffle, sharded: see
    // [[trainOrder]]. The oracle twin re-derives the same md5 draw, shard
    // assignment and within-shard ranks in SQL, so the permutation is
    // pinned end to end; PlanSpec pins the plan to ONE hash exchange on
    // `shard` with NO global sort/range exchange before the verify sort.
    sql("q_train_order", Seq("TA11"),
      s"""WITH h AS (SELECT doc_id, md5('ord' || doc_id::VARCHAR) AS oh FROM documents),
        |s AS (SELECT doc_id, ('0x' || substr(oh, 1, 15))::BIGINT % $OrderShards AS shard, oh
        |      FROM h)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY oh, doc_id) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin) {
      (s, dir) =>
        trainOrder(docs(s, dir))
          .select(col("doc_id"), col("shard"), col("pos"))
          .orderBy("shard", "pos")
    },

    // TA11b — weighted priority sampling (see [[weightedSample]]): draw
    // [[WeightedSampleN]] docs with inclusion odds scaling with document
    // length (weight = n_chars + 1) — how a pipeline draws a
    // size-proportional audit/eval sample without a corpus shuffle. The
    // twin re-derives the same md5 draw and integer-division keys in SQL,
    // so the SELECTION (not just the count) is pinned cross-engine.
    sql("q_sample_weighted", Seq("TA11"),
      s"""WITH k AS (SELECT doc_id, n_chars + 1 AS weight,
        |  ('0x' || substr(md5('wsamp' || doc_id::VARCHAR), 1, 15))::BIGINT
        |    // (n_chars + 1) AS skey
        |  FROM documents)
        |SELECT doc_id, weight, skey FROM k
        |ORDER BY skey, doc_id LIMIT $WeightedSampleN""".stripMargin) {
      (s, dir) =>
        weightedSample(docs(s, dir), "n_chars + 1", WeightedSampleN)
          .orderBy("skey", "doc_id")
    },

    // TA11c — deterministic stratified sampling (see [[stratifiedSample]]):
    // exactly [[StratifiedPerKey]] docs per language under the seeded md5
    // order — the balanced eval/probe-set draw. The twin re-derives the
    // draw and the per-stratum rank in SQL, so the per-language SELECTION
    // is pinned cross-engine; the plan is the q_source_cap
    // WindowGroupLimit shape (<= n rows per stratum cross the exchange).
    sql("q_stratified_sample", Seq("TA11"),
      s"""WITH h AS (SELECT lang, doc_id,
        |    md5('strat' || doc_id::VARCHAR) AS oh FROM documents),
        |r AS (SELECT lang, doc_id, oh,
        |    row_number() OVER (PARTITION BY lang ORDER BY oh, doc_id) AS pos
        |  FROM h)
        |SELECT lang, pos, doc_id FROM r WHERE pos <= $StratifiedPerKey
        |ORDER BY lang, pos""".stripMargin) { (s, dir) =>
      stratifiedSample(docs(s, dir), "lang", StratifiedPerKey)
        .orderBy("lang", "pos")
    },

    // TA13 — curriculum (easy-to-hard) training order: per-row integer
    // difficulty tiers (n_chars div width, capped — NO quantile pass, no
    // ntile's single-partition window) + the trainOrder md5 draw within
    // each (bucket, shard). The twin re-derives tiers, shards and
    // within-tier ranks in SQL, pinning the schedule end to end.
    sql("q_curriculum_order", Seq("TA13"),
      s"""WITH h AS (SELECT doc_id,
        |  LEAST(n_chars // $CurriculumBucketWidth, $CurriculumMaxBucket) AS bucket,
        |  md5('cur' || doc_id::VARCHAR) AS oh FROM documents),
        |s AS (SELECT doc_id, bucket,
        |        ('0x' || substr(oh, 1, 15))::BIGINT % $OrderShards AS shard, oh
        |      FROM h)
        |SELECT doc_id, bucket, shard,
        |  row_number() OVER (PARTITION BY bucket, shard ORDER BY oh, doc_id) AS pos
        |FROM s ORDER BY bucket, shard, pos""".stripMargin) {
      (s, dir) =>
        curriculumOrder(docs(s, dir))
          .select(col("doc_id"), col("bucket"), col("shard"), col("pos"))
          .orderBy("bucket", "shard", "pos")
    },

    // TA15 — DSIR data selection (Xie et al., NeurIPS 2023): score every
    // raw doc by how target-like its hashed-n-gram feature distribution is
    // — the importance weight p_target(x)/q_raw(x) under bag-of-hashed-
    // ngrams models with add-1 smoothing — and keep the top-[[DsirTopK]].
    // Target = the corpus' English docs; raw = everything. Float hazards
    // engineered out (the q_lm_score discipline): per bucket the smoothed
    // probabilities are integer-quantized at 1e9 ((c+1)*1e9 DIV (N+B)) with
    // the intermediate product in driver BigInt / oracle HUGEINT so a
    // 100 TB feature total cannot overflow it; the per-bucket ratio is
    // quantized at 1e6 and clipped at [[DsirRatioCap]]; a doc's score_q is
    // the exact integer sum of its features' bucket ratios. The
    // statistically-faithful double-log + Gumbel-top-k production path is
    // [[dsirSampleGumbel]], which shares this exact feature/bucket/
    // histogram core (the q_dedup_minhash_md5 shared-core pattern) and is
    // pinned against a driver-side reference in DsirSpec. Scale shape: ONE
    // corpus explode-aggregate builds the B-bucket histogram (map-side
    // partials into <= 64 groups); the ratio table is driver-built and
    // enters the scoring pass as a plan-literal map, so scoring is a
    // zero-shuffle row-local `aggregate` over each doc's feature array and
    // the cut is TakeOrderedAndProject — the corpus is never shuffled.
    sql("q_dsir_select", Seq("TA15"),
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        |f AS (SELECT doc_id, lang,
        |    unnest(t || [t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS f
        |  FROM t),
        |fb AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(f), 1, 15))::BIGINT % $DsirBuckets AS b FROM f),
        |h AS (SELECT b, count(*) AS cq,
        |    count(*) FILTER (WHERE lang = 'en') AS cp FROM fb GROUP BY b),
        |tot AS (SELECT sum(cq) AS nq, sum(cp) AS np FROM h),
        |r AS (SELECT b, least(
        |    (((cp + 1)::HUGEINT * 1000000000) // (tot.np + $DsirBuckets) * 1000000)
        |      // greatest(((cq + 1)::HUGEINT * 1000000000) // (tot.nq + $DsirBuckets), 1),
        |    $DsirRatioCap)::BIGINT AS r
        |  FROM h CROSS JOIN tot),
        |sc AS (SELECT fb.doc_id, sum(r.r)::BIGINT AS score_q, count(*)::BIGINT AS nf
        |  FROM fb JOIN r USING (b) GROUP BY fb.doc_id),
        |k AS (SELECT doc_id, score_q, nf FROM sc
        |  ORDER BY score_q DESC, doc_id LIMIT $DsirTopK)
        |SELECT row_number() OVER (ORDER BY score_q DESC, doc_id) AS rank,
        |  doc_id, score_q, nf
        |FROM k ORDER BY rank""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val (hist, nq, np) = dsirHistogram(d, col("lang") === "en")
      val ratio: Seq[(Long, Long)] = hist.map { case (b, cq, cp) =>
        val pq = (BigInt(cp) + 1) * 1000000000L / (BigInt(np) + DsirBuckets)
        val qq = ((BigInt(cq) + 1) * 1000000000L / (BigInt(nq) + DsirBuckets))
          .max(BigInt(1))
        b -> (pq * 1000000L / qq).min(BigInt(DsirRatioCap)).toLong
      }.sortBy(_._1)
      val rMap = map(ratio.flatMap { case (b, v) => Seq(lit(b), lit(v)) }: _*)
      spread(d).select(col("doc_id"), toks.as("t"))
        .select(col("doc_id"), dsirFeats.as("feats"))
        .select(col("doc_id"),
          aggregate(col("feats"), lit(0L),
            (acc, f) => acc + element_at(rMap, dsirBucket(f))).as("score_q"),
          size(col("feats")).cast("long").as("nf"))
        .orderBy(col("score_q").desc, col("doc_id")).limit(DsirTopK)
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("score_q").desc, col("doc_id"))).cast("long"))
        .select("rank", "doc_id", "score_q", "nf")
        .orderBy("rank")
    },

    // TA12 — tokenizer-vocabulary builder: global token frequencies (tf)
    // and document frequencies (df), top-[[VocabTopK]] by tf — the
    // frequency table a BPE/WordPiece trainer seeds from (q_token_bpe
    // consumes a vocabulary like this one). Scale shape: the token count
    // partial-aggregates map-side (hash agg on tok), the top-K is
    // TakeOrderedAndProject (per-partition heaps, no global sort of the
    // vocabulary), and only the K survivors hit the single-partition
    // rank window — metadata-sized by construction.
    sql("q_vocab_topk", Seq("TA12"),
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |a AS (SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df FROM t GROUP BY tok),
        |k AS (SELECT tok, tf, df FROM a ORDER BY tf DESC, tok LIMIT $VocabTopK)
        |SELECT row_number() OVER (ORDER BY tf DESC, tok) AS rank, tok, tf, df FROM k
        |ORDER BY rank""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val a = docs(s, dir).select(col("doc_id"), explode(toks).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        a.orderBy(col("tf").desc, col("tok").asc).limit(VocabTopK)
          .withColumn("rank", row_number()
            .over(Window.orderBy(col("tf").desc, col("tok").asc)).cast("long"))
          .select("rank", "tok", "tf", "df")
          .orderBy("rank")
    },

    // TA13 — BPE merge-rule TRAINING (Sennrich et al. 2016, Algorithm 1):
    // learn [[BpeMerges]] byte-pair merges over the corpus, character-level
    // start symbols, pair counts weighted by word frequency, argmax with a
    // deterministic (count desc, lhs, rhs) tie-break, greedy non-overlapping
    // left-to-right merge apply between rounds. Scale shape: the ONLY
    // corpus-sized pass is the initial word-frequency aggregation (map-side
    // hash agg on `word`); every merge round then operates on the
    // DISTINCT-WORD table — vocabulary-sized, millions of rows at 100 TB,
    // not corpus-sized — as one explode + hash agg, and the winning rule is
    // a 1-row driver collect applied as a literal in a codegen'd
    // higher-order `aggregate` (no UDF, no crossJoin). Each round persists
    // its symbol table and drops the previous one so round N costs one
    // vocabulary pass, not N. The oracle twin unrolls the same loop as
    // [[BpeMerges]] CTE blocks sharing the trainer's exact tie-break and
    // merge-apply (a VARCHAR list_reduce fold with a unit-separator
    // accumulator).
    sql("q_bpe_train", Seq("TA12", "TA13"), bpeOracle) { (s, dir) =>
      import s.implicits._
      bpeTrainRules(docs(s, dir)).toDF("step", "lhs", "rhs", "total")
        .orderBy("step")
    },

    // TA13 — BPE ENCODE: segment the corpus with the trained merge rules.
    // Training needs a driver round-trip per rule (the argmax is
    // data-dependent), but APPLY does not: the learned rules become ONE
    // plan-literal struct array and [[bpeApplyRules]] folds the whole rule
    // sequence inside a SINGLE `aggregate` expression over the
    // distinct-word table (no UDF, no per-rule materialization, and no
    // per-rule Project chain — see bpeApplyRules for the 3^rules
    // CollapseProject blow-up the chained form suffered).
    // Unlike training, encode takes EVERY whitespace
    // token — unseen symbols (digits, punctuation) just never match a
    // rule and pass through character-level, exactly how a trained BPE
    // tokenizer meets out-of-distribution text. Output is the encoded
    // corpus' weighted piece-frequency table; the word→pieces dictionary
    // (`encoded` below) is what a 100 TB pipeline would broadcast/join
    // against the corpus to materialize token ids. Oracle: the same
    // rule-CTE chain as q_bpe_train plus an unrolled per-rule
    // list_reduce apply over the unfiltered word table.
    sql("q_bpe_encode", Seq("TA12", "TA13"), bpeEncodeOracle) { (s, dir) =>
      val d = docs(s, dir)
      val rules = bpeTrainRules(d).map { case (_, l, r, _) => (l, r) }
      val wa = d.select(explode(toks).as("word"))
        .filter(length(col("word")) >= 1)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val start = wa.select(col("cnt"),
        expr("transform(sequence(1, length(word)), k -> substring(word, k, 1))")
          .as("syms"))
      val encoded = start.select(col("cnt"),
        bpeApplyRules(col("syms"), rules).as("syms"))
      encoded.select(explode(col("syms")).as("piece"), col("cnt"))
        .groupBy("piece").agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("piece"))
    },

    // TA14 — BM25 ranked keyword retrieval (Robertson & Walker '94,
    // k1=1.2, b=0.75): the lexical-search half every retrieval deployment
    // pairs with the vector index — and the tool a training-data pipeline
    // uses to pull, audit, or decontaminate by keyword. Float hazards
    // engineered OUT (the q_lm_score discipline): per (doc, term) the tf
    // saturation is exact integer arithmetic with k1/b cleared to
    // integers — multiplying num/den by 20*avgdl1000 turns
    // tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) into
    // (44*tf*avgdl1000*1e3) DIV (20*avgdl1000*tf + 6*avgdl1000 + 18000*dl)
    // (range 0..2200) — and idf uses the quantized Robertson ODDS
    // ((2N-2df+1)*1e3 DIV (2df+1)), monotone in the true log-idf per term,
    // so ranking quality is BM25's while the cross-engine hash stays exact
    // (a production deployment free of the oracle constraint would take
    // the log and sum doubles). Scale shape: dl and per-term tf are
    // ROW-LOCAL expressions over the token array (never an
    // explode-and-reshuffle of the corpus); N/total-tokens/df collapse to
    // one scalar-agg collect whose values enter pass 2 as plan literals;
    // pass 2 is a zero-shuffle projection cut by TakeOrderedAndProject.
    // Int64 range: the idf leg IS N-proportional (idfQ <= ~667*N for a
    // df=1 term), so the per-term product is bounded by ~1.5e6*N — in
    // range to N ~ 6e12 docs — and the saturation numerator needs
    // tf*avgdl <= ~2e11; BOTH bounds are require()-guarded at the driver
    // from the same stats collect (Spark's non-ANSI wrap would otherwise
    // corrupt rankings silently).
    sql("q_bm25", Seq("TA14", "P1", "T1"),
      s"""WITH $bm25OracleCte
        |SELECT doc_id, score_q FROM bm
        |ORDER BY score_q DESC, doc_id LIMIT 20""".stripMargin
    ) { (s, dir) =>
      bm25Scored(s, dir)
        .orderBy(col("score_q").desc, col("doc_id")).limit(20)
    },

    // TA14b — per-document TF-IDF keyword extraction: the top
    // [[TfidfTopN]] terms of every document by tf * idf with idf
    // integer-quantized ((N * 1e3) DIV df — monotone in log(N/df) per
    // term, hash-exact cross-engine; kept at 1e3 so tf * idfQ stays in
    // int64 past N=1e10 docs for any tf <= ~9e5/N-per-1e10) and a
    // deterministic (weight desc, token asc) tie-break. The per-doc tag table a 100 TB pipeline joins
    // back for topic bucketing, dedup explanations, or index-time keyword
    // fields. Scale shape: df is a vocabulary-sized hash agg broadcast
    // into the corpus-sized (doc, tok, tf) explode; the per-doc cut is a
    // rank window on (doc_id) — Catalyst's InferWindowGroupLimit inserts a
    // partial pre-shuffle group limit (the q_source_cap plan shape), so
    // only <= TfidfTopN rows per doc reach the exchange, and N enters as a
    // plan literal from the same scalar collect as q_bm25's stats.
    sql("q_tfidf_terms", Seq("TA14"),
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM t),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |w AS (SELECT doc_id, tok, tf * ((n.n * 1000) // df.df) AS w_q
        |  FROM tf JOIN df USING (tok) CROSS JOIN n),
        |r AS (SELECT doc_id, tok, w_q,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY w_q DESC, tok) AS rnk
        |  FROM w)
        |SELECT doc_id, rnk, tok, w_q FROM r WHERE rnk <= $TfidfTopN
        |ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = docs(s, dir).select(col("doc_id"), explode(toks).as("tok"))
      val n = docs(s, dir).select(countDistinct(col("doc_id"))).collect()(0).getLong(0)
      val tf = t.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = t.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val w = tf.join(broadcast(df), Seq("tok"))
        .select(col("doc_id"), col("tok"),
          (col("tf") * expr(s"(${n}L * 1000) DIV df")).as("w_q"))
      w.withColumn("rnk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("w_q").desc, col("tok")))
          .cast("long"))
        .filter(col("rnk") <= TfidfTopN)
        .select("doc_id", "rnk", "tok", "w_q")
        .orderBy("doc_id", "rnk")
    },

    // TA14c — pseudo-relevance-feedback query expansion (RM-style, the
    // Rocchio/RM1 shape of Lavrenko & Croft '01): retrieve the BM25
    // top-[[PrfFbDocs]] feedback docs, mine them for the
    // [[PrfExpTerms]] highest-weight non-query terms (w(t) = sum over
    // feedback docs of length-normalized tf, integer mils — the RM1
    // P(t|d) estimate without float division), then RE-retrieve with the
    // expanded weighted query (originals at weight 1000, expansion terms
    // normalized to <= 1000) — the recall-widening second pass a
    // keyword-audit / decontamination-by-topic pipeline runs when the
    // literal terms under-retrieve. Every stage is integer-quantized so
    // the twin pins the expanded RANKING cross-engine, feedback-set and
    // expansion-term selection included. Scale shape: leg 1 is q_bm25's
    // (two scalar collects + zero-shuffle projection + TakeOrdered cut);
    // term mining runs on the 10 collected feedback DOC IDS only (a
    // broadcast-sized explode); leg 2 is the same zero-shuffle row-local
    // scoring with 8 plan-literal terms. Nothing corpus-sized shuffles.
    sql("q_prf_expand", Seq("TA14", "P1", "T1"), prfOracleSql) { (s, dir) =>
      val fb = bm25Scored(s, dir)
        .orderBy(col("score_q").desc, col("doc_id")).limit(PrfFbDocs)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val fbToks = docs(s, dir).filter(col("doc_id").isin(fb: _*))
        .select(col("doc_id"), size(toks).cast("long").as("dl"),
          explode(toks).as("tok"))
      val expTerms = fbToks
        .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("tf"))
        .filter(!col("tok").isin(Bm25Terms: _*))
        .groupBy("tok").agg(sum(expr("(tf * 1000000) DIV dl")).as("w"))
        .orderBy(col("w").desc, col("tok")).limit(PrfExpTerms)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      require(expTerms.nonEmpty,
        "PRF found no expansion terms in the feedback docs")
      val maxW = expTerms.map(_._2).max
      // a term whose normalized weight floors to 0 contributes nothing in
      // the oracle's x0 product — dropping it here is score-identical
      val expanded = Bm25Terms.map(_ -> PrfWeightScale) ++
        expTerms.map { case (t, w) => t -> (w * PrfWeightScale / maxW) }
          .filter(_._2 > 0)
      bm25WeightedScored(s, dir, expanded)
        .orderBy(col("score_q").desc, col("doc_id")).limit(20)
    },

    // TA14d — snippet / highlight extraction: for each BM25
    // top-[[SnippetDocs]] doc, the best [[SnippetWin]]-token window by
    // query-term hit count (earliest window on ties) plus the rendered
    // snippet text — the result-presentation half of a lexical search
    // deployment, and the "show me WHY this doc matched" audit tool of a
    // keyword-screen pipeline. Pure row-local array work over the top
    // docs only: per-window hit counts via transform(sequence)/filter,
    // argmax via array_max + array_position (first match = earliest
    // window, deterministic), snippet via slice + concat_ws — no UDF, no
    // shuffle beyond the driver-collected top-doc id list entering as
    // plan literals. The twin re-derives windows, argmax, and the
    // rendered TEXT in SQL, so the hash pins the actual snippets.
    sql("q_snippet", Seq("TA14", "P3"), {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH $bm25OracleCte,
        |fb AS (SELECT doc_id FROM bm ORDER BY score_q DESC, doc_id LIMIT $SnippetDocs),
        |w AS (SELECT d.doc_id, d.t, d.dl FROM d JOIN fb USING (doc_id)),
        |h AS (SELECT doc_id, t,
        |    [len(list_filter(t[st:st+${SnippetWin - 1}],
        |         x -> list_contains([$terms], x)))
        |     for st in range(1, greatest(dl - ${SnippetWin - 1}, 1) + 1)] AS hc
        |  FROM w),
        |b AS (SELECT doc_id, t, list_max(hc) AS n_hits,
        |    list_position(hc, list_max(hc)) AS start FROM h)
        |SELECT doc_id, start::BIGINT AS start, n_hits::BIGINT AS n_hits,
        |  array_to_string(t[start:start+${SnippetWin - 1}], ' ') AS snippet
        |FROM b ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val top = bm25Scored(s, dir)
        .orderBy(col("score_q").desc, col("doc_id")).limit(SnippetDocs)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val w = docs(s, dir).filter(col("doc_id").isin(top: _*))
        .select(col("doc_id"), toks.as("t"))
        .withColumn("dl", size(col("t")))
      w.withColumn("hc", expr(
          s"transform(sequence(1, greatest(dl - ${SnippetWin - 1}, 1)), " +
            s"st -> size(filter(slice(t, st, $SnippetWin), " +
            s"x -> x IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")}))))"))
        .withColumn("n_hits", array_max(col("hc")).cast("long"))
        .withColumn("start", array_position(col("hc"), array_max(col("hc"))))
        .select(col("doc_id"), col("start"), col("n_hits"),
          concat_ws(" ", slice(col("t"), col("start").cast("int"), lit(SnippetWin)))
            .as("snippet"))
        .orderBy("doc_id")
    }
  )

  /** DuckDB twin of [[bm25Scored]]: the CTE chain ending in
    * `bm(doc_id, score_q)` — the integer-quantized BM25 scores for
    * [[Bm25Terms]]. Shared by the q_bm25 and q_hybrid_rrf oracles. */
  private[graft] def bm25OracleCte: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |d AS (SELECT doc_id, len(t) AS dl, t FROM t),
      |s AS (SELECT count(*) AS n, sum(dl) AS tt FROM d),
      |a AS (SELECT n, (1000 * tt) // n AS avgdl1000 FROM s),
      |tf AS (SELECT doc_id, dl, tok, len(list_filter(t, x -> x = tok)) AS tf
      |  FROM d CROSS JOIN (SELECT unnest([$terms]) AS tok)),
      |df AS (SELECT tok, count(*) FILTER (tf > 0) AS df FROM tf GROUP BY tok),
      |term AS (SELECT doc_id,
      |    (((2 * a.n - 2 * df.df + 1) * 1000) // (2 * df.df + 1)) *
      |    ((44 * tf.tf * a.avgdl1000 * 1000)
      |      // (20 * a.avgdl1000 * tf.tf + 6 * a.avgdl1000 + 18000 * tf.dl))
      |    AS w
      |  FROM tf JOIN df USING (tok) CROSS JOIN a WHERE tf.tf > 0),
      |bm AS (SELECT doc_id, sum(w)::BIGINT AS score_q FROM term GROUP BY doc_id)"""
      .stripMargin
  }

  /** Quantized Robertson-odds idf: ((2N - 2df + 1) * 1e3) DIV (2df + 1) —
    * N-proportional (<= ~667*N at df=1), which is why [[bm25RangeGuards]]
    * bounds it rather than claiming corpus-size independence. */
  private[graft] def bm25IdfQ(n: Long, df: Long): Long =
    (2L * n - 2L * df + 1L) * 1000L / (2L * df + 1L)

  /** Int64-range guards for the quantized BM25 arithmetic, checked LOUDLY
    * at the driver from the pass-1 stats collect (zero per-row cost;
    * Spark's non-ANSI int64 would wrap silently into wrong rankings while
    * the DuckDB oracle throws). Whenever these pass, EVERY intermediate of
    * the per-row expression fits int64 — pinned by Bm25RangeSpec's BigInt
    * sweep over the guard boundary:
    *  - saturation numerator 44000 * tf * avgdl1000 with tf <= maxDl —
    *    trips only past tf*avgdl ~ 2e11 (a ~100-GB-token doc pathology);
    *  - per-term product idfQ * satQ with satQ <= 2200 (the quotient's
    *    ceiling 44000/20), summed over the query terms — idfQ <= ~667*N,
    *    so the score stays in int64 to N ~ 6e12 docs;
    *  - idfQ's own numerator (2N + 1) * 1000.
    */
  private[graft] def bm25RangeGuards(n: Long, avgdl1000: Long, maxDl: Long,
      dfs: Seq[Long]): Unit = {
    require(BigInt(2L) * n * 1000L + 1000L <= Long.MaxValue,
      s"BM25 int64 range exceeded: N=$n overflows the idf numerator")
    require(BigInt(44000L) * maxDl * avgdl1000 <= Long.MaxValue,
      s"BM25 int64 range exceeded: max(dl)=$maxDl x avgdl1000=$avgdl1000 " +
        "overflows the tf-saturation numerator; split or truncate outlier " +
        "documents before scoring")
    dfs.foreach { df =>
      val idfQ = bm25IdfQ(n, df)
      require(BigInt(idfQ) * 2200L * dfs.length <= Long.MaxValue,
        s"BM25 int64 range exceeded: idfQ=$idfQ at N=$n docs overflows " +
          "the per-term product; reduce idf quantization")
    }
  }

  /** BM25-scored corpus for the fixed query [[Bm25Terms]] — (doc_id,
    * score_q) with score_q > 0, the integer-quantized scoring documented at
    * q_bm25. Shared by q_bm25's top-20 cut and q_hybrid_rrf's keyword leg
    * so the lexical scoring cannot drift between them. Pass 1 is ONE
    * scalar-agg collect ((N, avgdl, df per term) enter pass 2 as plan
    * literals); pass 2 is a zero-shuffle row-local projection. */
  private[graft] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), toks.as("t"))
      .withColumn("dl", size(col("t")).cast("long"))
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("t"), x => x === t)).cast("long").as(s"tf_$i")
    }
    val withTf = d.select(col("doc_id") +: col("dl") +: tfCols: _*)
    val statAggs = count(lit(1)).as("n") +: sum(col("dl")).as("tt") +:
      max(col("dl")).as("maxdl") +:
      Bm25Terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*).collect()(0)
    val n = stats.getLong(0)
    val avgdl1000 = 1000L * stats.getLong(1) / n
    val maxDl = stats.getLong(2)
    val dfs = Bm25Terms.indices.map(i => stats.getLong(3 + i))
    bm25RangeGuards(n, avgdl1000, maxDl, dfs)
    val termCols = Bm25Terms.indices.map { i =>
      val df = dfs(i)
      val idfQ = bm25IdfQ(n, df)
      when(col(s"tf_$i") > 0,
        expr(s"$idfQ * ((44 * tf_$i * $avgdl1000 * 1000) DIV " +
          s"(20 * $avgdl1000 * tf_$i + 6 * $avgdl1000 + 18000 * dl))"))
        .otherwise(lit(0L))
    }
    withTf.select(col("doc_id"),
        termCols.reduce(_ + _).as("score_q"))
      .filter(col("score_q") > 0)
  }

  /** Weighted BM25 re-scoring for an expanded query: per (doc, term)
    * contribution = ((idfQ * satQ) DIV 1000) * wt with wt <= 1000, so the
    * summed score stays inside exactly the [[bm25RangeGuards]] envelope
    * (contribution <= idfQ * 2200). Same two-pass shape as [[bm25Scored]]:
    * one scalar-agg stats collect (N, avgdl, per-term df enter as plan
    * literals), then a zero-shuffle row-local projection. */
  private[graft] def bm25WeightedScored(s: SparkSession, dir: String,
      terms: Seq[(String, Long)]): DataFrame = {
    require(terms.nonEmpty, "weighted BM25 needs at least one term")
    require(terms.forall { case (_, w) => w > 0 && w <= PrfWeightScale },
      s"term weights must be in 1..$PrfWeightScale: $terms")
    val d = docs(s, dir).select(col("doc_id"), toks.as("t"))
      .withColumn("dl", size(col("t")).cast("long"))
    val tfCols = terms.zipWithIndex.map { case ((t, _), i) =>
      size(filter(col("t"), x => x === t)).cast("long").as(s"tf_$i")
    }
    val withTf = d.select(col("doc_id") +: col("dl") +: tfCols: _*)
    val statAggs = count(lit(1)).as("n") +: sum(col("dl")).as("tt") +:
      max(col("dl")).as("maxdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*).collect()(0)
    val n = stats.getLong(0)
    val avgdl1000 = 1000L * stats.getLong(1) / n
    val maxDl = stats.getLong(2)
    val dfs = terms.indices.map(i => stats.getLong(3 + i))
    bm25RangeGuards(n, avgdl1000, maxDl, dfs)
    val termCols = terms.zipWithIndex.map { case ((_, wt), i) =>
      val idfQ = bm25IdfQ(n, dfs(i))
      when(col(s"tf_$i") > 0,
        expr(s"(($idfQ * ((44 * tf_$i * $avgdl1000 * 1000) DIV " +
          s"(20 * $avgdl1000 * tf_$i + 6 * $avgdl1000 + 18000 * dl))) " +
          s"DIV 1000) * $wt")).otherwise(lit(0L))
    }
    withTf.select(col("doc_id"), termCols.reduce(_ + _).as("score_q"))
      .filter(col("score_q") > 0)
  }

  /** DuckDB twin of the q_prf_expand pipeline (see the query entry for the
    * semantics): feedback top-[[PrfFbDocs]] from the shared
    * [[bm25OracleCte]] chain, RM-style expansion-term weights, then the
    * weighted re-scoring — every stage integer-quantized so the final
    * RANKING (not just scores) is pinned cross-engine. */
  private[graft] def prfOracleSql: String = {
    val orig = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH $bm25OracleCte,
      |fb AS (SELECT doc_id FROM bm ORDER BY score_q DESC, doc_id LIMIT $PrfFbDocs),
      |ft AS (SELECT d.doc_id, d.dl, unnest(d.t) AS tok FROM d JOIN fb USING (doc_id)),
      |ftf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM ft GROUP BY doc_id, dl, tok),
      |ew AS (SELECT tok, sum((tf * 1000000) // dl)::BIGINT AS w FROM ftf
      |       WHERE tok NOT IN ($orig) GROUP BY tok
      |       ORDER BY w DESC, tok LIMIT $PrfExpTerms),
      |mx AS (SELECT max(w) AS mw FROM ew),
      |t2 AS (SELECT tok, $PrfWeightScale::BIGINT AS wt
      |         FROM (SELECT unnest([$orig]) AS tok)
      |       UNION ALL
      |       SELECT tok, (w * $PrfWeightScale) // mw AS wt FROM ew CROSS JOIN mx),
      |tf2 AS (SELECT d.doc_id, d.dl, t2.tok, t2.wt,
      |          len(list_filter(d.t, x -> x = t2.tok)) AS tf
      |        FROM d CROSS JOIN t2),
      |df2 AS (SELECT tok, count(*) FILTER (tf > 0) AS df FROM tf2 GROUP BY tok),
      |term2 AS (SELECT doc_id,
      |    (((((2 * a.n - 2 * df2.df + 1) * 1000) // (2 * df2.df + 1)) *
      |      ((44 * tf2.tf * a.avgdl1000 * 1000)
      |        // (20 * a.avgdl1000 * tf2.tf + 6 * a.avgdl1000 + 18000 * tf2.dl)))
      |     // 1000) * tf2.wt AS w
      |  FROM tf2 JOIN df2 USING (tok) CROSS JOIN a WHERE tf2.tf > 0),
      |bm2 AS (SELECT doc_id, sum(w)::BIGINT AS score_q FROM term2 GROUP BY doc_id)
      |SELECT doc_id, score_q FROM bm2 WHERE score_q > 0
      |ORDER BY score_q DESC, doc_id LIMIT 20""".stripMargin
  }

  /** One greedy left-to-right non-overlapping application of merge rule
    * (bl, br) to a symbol array: a symbol consumed as the rule's rhs can't
    * also start the next merge, because the accumulator's last element
    * becomes lhs||rhs != lhs. Shared by the trainer's between-round apply
    * and [[bpeEncodeOracle]]'s Spark twin so the semantics can't drift. */
  private def bpeMergeFold(syms: Column, bl: String, br: String): Column =
    bpeMergeFoldC(syms, lit(bl), lit(br))

  /** Column-literal generalization of the greedy merge fold so it can sit
    * INSIDE a lambda (see [[bpeApplyRules]]). `syms`/`bl`/`br` may be
    * lambda variables — referenced O(1) times each, never inlined. */
  private def bpeMergeFoldC(syms: Column, bl: Column, br: Column): Column =
    aggregate(
      slice(syms, lit(2), size(syms) - 1),
      array(element_at(syms, 1)),
      (acc, x) => when(
        x === br && element_at(acc, -1) === bl,
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(bl, br))))
        .otherwise(concat(acc, array(x))))

  /** ALL learned merge rules applied in order as ONE expression: an
    * `aggregate` over the rule list (a tiny plan-literal array of
    * (lhs, rhs) structs) whose accumulator is the evolving symbol array,
    * with [[bpeMergeFoldC]] as the step. The round-11 formulation chained
    * one Project per rule, each referencing its input `syms` three times
    * (slice/size/element_at) — CollapseProject inlined the previous fold
    * into every reference, so the collapsed tree grew ~3^rules-fold
    * (6561x at 8 rules) and a 31-word vocabulary took MINUTES of
    * per-row interpreted eval (9.5 min in the round-12 Verify). Here the
    * accumulator is a lambda VARIABLE — O(1) references, tree size
    * O(rules), evaluation O(rules x wordlen^2) — and the same encode runs
    * in milliseconds. Semantics are bit-identical (BpeSpec pins parity
    * with the per-rule fold chain). */
  private[graft] def bpeApplyRules(syms: Column, rules: Seq[(String, String)]): Column =
    if (rules.isEmpty) syms
    else aggregate(
      array(rules.map { case (l, r) =>
        struct(lit(l).as("l"), lit(r).as("r")) }: _*),
      syms,
      (acc, rule) => bpeMergeFoldC(acc, rule.getField("l"), rule.getField("r")))

  /** The q_bpe_train merge-learning loop (Sennrich Algorithm 1); returns
    * (step, lhs, rhs, total) in learned order. See the q_bpe_train entry
    * for the scale shape; q_bpe_encode reuses the rules as plan literals. */
  private[graft] def bpeTrainRules(d: DataFrame): Seq[(Long, String, String, Long)] = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val wc = d
      .select(explode(toks).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    var words = wc.select(
      expr("transform(sequence(1, length(word)), k -> substring(word, k, 1))")
        .as("syms"),
      col("cnt")).persist(lvl)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    try {
      var step = 1
      var exhausted = false
      while (step <= BpeMerges && !exhausted) {
        val best = words
          .filter(size(col("syms")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(syms) - 2), " +
              "k -> struct(syms[k] AS lhs, syms[k + 1] AS rhs))")).as("p"),
            col("cnt"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("cnt")).as("total"))
          .orderBy(col("total").desc, col("lhs"), col("rhs"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (bl, br, tot) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((step.toLong, bl, br, tot))
          val prev = words
          words = prev.select(
            bpeMergeFold(col("syms"), bl, br).as("syms"),
            col("cnt")).persist(lvl)
          words.count()
          prev.unpersist(false)
          step += 1
        }
      }
    } finally words.unpersist(false)
    merges.toSeq
  }

  /** Shared WITH blocks for the BPE oracles: the merge-learning loop
    * unrolled as [[BpeMerges]] CTE blocks (pair counts p_i/g_i, the winning
    * rule b_i, the merged word table w_i). The merge apply is a VARCHAR
    * `list_reduce` fold using chr(30) (RS, outside the corpus alphabet) as
    * the accumulator's token separator; the pair extraction, argmax
    * tie-break, and non-overlap rule are byte-identical to the Spark
    * trainer's. */
  private def bpeRuleCtes: String = {
    val steps = (1 to BpeMerges).map { i =>
      s"""p$i AS (SELECT unnest([syms[k] || chr(30) || syms[k+1]
         |    for k in range(1, len(syms))]) AS pr, cnt
         |  FROM w${i - 1} WHERE len(syms) >= 2),
         |g$i AS (SELECT string_split(pr, chr(30))[1] AS lhs,
         |    string_split(pr, chr(30))[2] AS rhs, sum(cnt)::BIGINT AS total
         |  FROM p$i GROUP BY 1, 2),
         |b$i AS (SELECT lhs, rhs, total FROM g$i
         |  ORDER BY total DESC, lhs, rhs LIMIT 1),
         |w$i AS (SELECT string_split(list_reduce(syms, (acc, x) -> CASE
         |    WHEN x = b.rhs AND string_split(acc, chr(30))[-1] = b.lhs
         |    THEN substr(acc, 1, len(acc) - len(b.lhs)) || b.lhs || b.rhs
         |    ELSE acc || chr(30) || x END), chr(30)) AS syms, cnt
         |  FROM w${i - 1}, b$i b)""".stripMargin
    }.mkString(",\n")
    s"""wc AS (SELECT w AS word, count(*) AS cnt FROM
       |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1),
       |w0 AS (SELECT [substr(word, k, 1) for k in range(1, len(word)+1)] AS syms,
       |  cnt FROM wc),
       |$steps""".stripMargin
  }

  /** DuckDB twin of q_bpe_train: [[bpeRuleCtes]] + the learned-rule union. */
  private def bpeOracle: String = {
    val union = (1 to BpeMerges)
      .map(i => s"SELECT $i::BIGINT AS step, lhs, rhs, total FROM b$i")
      .mkString("\nUNION ALL ")
    s"""WITH $bpeRuleCtes
       |SELECT * FROM ($union) ORDER BY step""".stripMargin
  }

  /** DuckDB twin of q_bpe_encode: [[bpeRuleCtes]] learns the rules, then an
    * unrolled per-rule `list_reduce` chain (e0..e[[BpeMerges]]) applies them
    * to the UNFILTERED word table and the final select aggregates weighted
    * piece frequencies. */
  private def bpeEncodeOracle: String = {
    val applies = (1 to BpeMerges).map { i =>
      s"""e$i AS (SELECT cnt, string_split(list_reduce(syms, (acc, x) -> CASE
         |    WHEN x = b.rhs AND string_split(acc, chr(30))[-1] = b.lhs
         |    THEN substr(acc, 1, len(acc) - len(b.lhs)) || b.lhs || b.rhs
         |    ELSE acc || chr(30) || x END), chr(30)) AS syms
         |  FROM e${i - 1}, b$i b)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeRuleCtes,
       |wa AS (SELECT w AS word, count(*) AS cnt FROM
       |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) >= 1 GROUP BY 1),
       |e0 AS (SELECT cnt, [substr(word, k, 1) for k in range(1, len(word)+1)] AS syms
       |  FROM wa),
       |$applies
       |SELECT piece, sum(cnt)::BIGINT AS n FROM
       |  (SELECT unnest(syms) AS piece, cnt FROM e$BpeMerges)
       |GROUP BY piece ORDER BY n DESC, piece""".stripMargin
  }
}
