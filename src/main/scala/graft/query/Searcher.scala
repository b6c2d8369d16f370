package graft.query

import graft.index.IndexIVF
import graft.scoring.Plaid
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Query compiler + two-phase executor: the Spark re-expression of the
  * reference's iterator algebra and PLAID pipeline (SURVEY §3.1).
  *
  *  - QueryNode -> DataFrame(doc_id, score) replaces QueryNode -> DocIterator
  *    (lintdb/query/QueryNode.cpp): Term = pruned scan of `scalars`,
  *    Vector = the shared phase-1 walk ([[BatchSearcher.phase1]]) over the
  *    cached context-codes snapshot with one query and no cut, And =
  *    multi-way inner join on doc_id, Or = full-outer union — Catalyst's
  *    sort-merge/broadcast joins replace the hand-built merge iterators
  *    (DocIterator.cpp:136-322).
  *  - And computes the candidate-id intersection first and semi-joins each
  *    child to it. A vector child's walk scores all of its candidates in
  *    memory; the semi-join after the walk keeps the rows a sibling filter
  *    allows (the reference intersects before scoring,
  *    QueryExecutor.cpp:21-26 — the rows are the same).
  *  - Query planning (centroid selection, KnnNearestCentroids.cpp) happens
  *    on the driver against the small centroid matrix; only the probe list
  *    and the query tokens ship to the walk (SURVEY §7.5.3).
  *  - Two-phase ranking (QueryExecutor.cpp:14-71): phase-1 approximate
  *    scores for all candidates -> top num_second_pass -> phase-2 exact
  *    MaxSim on decompressed residuals (normalize=true, ColBERTScorer
  *    semantics: the exact score REPLACES the approximate one) -> top k ->
  *    hydrate Stored fields from `docs`. Phase-1 reads no table once the
  *    snapshot is built (the snapshot holds codes only, never the residual
  *    bytes — the index's largest column); the <= num_second_pass survivor
  *    ids are driver-known after the cut, so phase-2 is a pruned context
  *    MULTIGET (the same bounded-collect pattern as the <= k docs
  *    hydration), decoded and rescored driver-locally exactly as the
  *    single-node reference does.
  */
object Searcher {

  /** Upper bound (bytes, session conf) on the phase-2 rerank's driver-side
    * context multiget, estimated at PLAN time as
    * numSecondPass x assumedDocTokens x (codeSize + 8B codes) — the same
    * guard style as the batch matrix plan constant
    * (BatchSearcher.MaxMatrixBytesKey). A fat config (identity codec at
    * high dim, long documents, large numSecondPass) would otherwise
    * collect hundreds of MB of residuals onto the driver and OOM it
    * mid-search; the guard converts that into an explicit plan-time
    * error. The token term is an assumption (the index does not record
    * per-doc token counts): [[AssumedDocTokensKey]] defaults to 512 —
    * the common ColBERT document cap — and is a conf so deployments with
    * longer documents can tell the guard the truth. */
  val MaxRerankBytesKey = "graft.rerank.maxCollectBytes"
  val AssumedDocTokensKey = "graft.rerank.assumedDocTokens"
  private def maxRerankBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get(MaxRerankBytesKey, (512L << 20).toString).toLong
  private def assumedDocTokens(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get(AssumedDocTokensKey, "512").toLong

  def search(idx: IndexIVF, tenant: Long, root: QueryNode, k: Int,
      opts: SearchOptions): DataFrame = {
    val spark = idx.spark
    val vectorNodes = collectVectors(root)
    val needRerank = opts.secondPass && vectorNodes.nonEmpty
    // one walk frame per vector leaf, read by And's candidate intersection
    // and by the leaf's scoring alike
    val leaves = vectorNodes.map(v => v -> vectorLeaf(idx, tenant, v, opts)).toMap
    // phase-2 reranks on ONE colbert context field (reference semantics:
    // ColBERTScorer reads context.colbert_context, Scorer.cpp:30-36) —
    // opts.colbertField if it is one of the query's vector fields, else the
    // first vector leaf; docs matched only by other children score 0
    val rerankNode = vectorNodes.find(_.field == opts.colbertField)
      .orElse(vectorNodes.headOption)
    val phase1 = compile(idx, tenant, root, leaves, restrict = None,
      markFor = if (needRerank) rerankNode.map(_.field) else None)

    val top: Either[Seq[(Long, Double)], DataFrame] =
      if (needRerank) {
        // Two-pass rerank. Phase-1's cut is <= numSecondPass ids, so they
        // are collected ONCE (bounded by the knob, same class as the <= k
        // hydration collect) and phase-2 becomes a context MULTIGET over
        // driver-known ids — doc_id IN-list row-group pruning now, whole
        // doc_bucket directory pruning once context carries the bucket
        // level — instead of dragging every candidate's residual bytes
        // through phase-1 and the top-k shuffle. At scale the residual
        // column is the index's largest; phase-1 never reads it (the walk's
        // snapshot holds codes only), which is exactly the reference's
        // shape: phase-1 over codes, phase-2 decompresses residuals for the
        // survivors only (QueryExecutor.cpp:14-71). The rescore itself is
        // driver-local — numSecondPass * tokens * dim flops, the same work
        // the single-node reference does for the same candidates.
        val withMark = phase1.columns.contains("vec_match")
        val p1 = phase1.orderBy(col("score").desc, col("doc_id"))
          .limit(opts.numSecondPass)
          .select(col("doc_id") +:
            (if (withMark) Seq(col("vec_match")) else Seq.empty): _*)
          .collect()
        // only ids that matched the rerank field's vector leaf carry its
        // context in the iterator semantics — the rest rescore to 0.0
        val p1Ids = p1.map(_.getLong(0))
        val vecIds = if (withMark) p1.filter(_.getBoolean(1)).map(_.getLong(0))
                     else p1Ids
        val exact = rerankExact(idx, tenant, rerankNode.get, vecIds).toMap
        Left(p1Ids.map(id => id -> exact.getOrElse(id, 0.0))
          .sortBy { case (id, s) => (-s, id) }.take(k).toSeq)
      } else Right(
        phase1.select(col("doc_id"), col("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(k))

    if (idx.schema.storedFields.nonEmpty) {
      // Hydration. The ranked result is <= k rows — either already
      // driver-local (two-pass rerank) or collected ONCE here (the
      // distributed phase-1 DAG runs now) — and its ids pushed into the
      // docs scan as TWO static filters: the ids' doc_bucket set prunes
      // whole hive DIRECTORIES (<= min(k, DocBuckets) of the forward
      // index's directories are even listed), then the doc_id IN-list
      // row-group-prunes the surviving files — the Spark analogue of the
      // reference's key-ordered forward-index multiget
      // (RocksdbForwardIndex.cpp:44-92). The multiget result is ALSO <= k
      // rows, so the final join is a driver-local hash lookup over two
      // k-row arrays — doing it with broadcast joins would spend several
      // Spark jobs shuffling rows that both already fit in the collected
      // result.
      val topPairs: Seq[(Long, Double)] = top match {
        case Left(pairs) => pairs
        // bounded: the final top-k result — <= `k` rows by construction
        // (the TopKByScore cut upstream emits at most k pairs)
        case Right(df) => df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
      }
      val topIds = topPairs.map(_._1)
      val topBuckets = topIds.map(IndexIVF.docBucketOf).distinct
      val docsDf = idx.docsDf
        .filter(col("tenant") === tenant &&
          col("doc_bucket").isin(topBuckets: _*) && col("doc_id").isin(topIds: _*))
        .drop("tenant", "epoch", "doc_bucket")
      // duplicate-add dedup (one stored row per id, arbitrary winner — the
      // reference dedups in iterators too) happens in the driver-side map:
      // a dropDuplicates here would add a whole shuffle stage to a multiget
      // (bounded: <= `k` ids in the isin() IN-list filter above)
      val byId = docsDf.collect().foldLeft(Map.empty[Long, org.apache.spark.sql.Row]) {
        (m, r) => if (m.contains(r.getLong(0))) m else m + (r.getLong(0) -> r)
      }
      val storedCols = docsDf.columns.drop(1) // doc_id first
      val outSchema = org.apache.spark.sql.types.StructType(
        docsDf.schema.fields :+
          org.apache.spark.sql.types.StructField(
            "score", org.apache.spark.sql.types.DoubleType, nullable = false))
      // topPairs are already (score desc, doc_id) ordered — the output order
      val rows: Seq[org.apache.spark.sql.Row] = topPairs.map { case (id, score) =>
        val stored = byId.get(id)
        org.apache.spark.sql.Row.fromSeq(
          id +: storedCols.indices.map(i => stored.map(_.get(i + 1)).orNull) :+ score)
      }
      spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, outSchema)
    } else top match {
      case Left(pairs) =>
        // the reranked result is driver-local and <= k rows; hand it back as
        // a small local frame with the same (doc_id, score) shape
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "doc_id", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField(
            "score", org.apache.spark.sql.types.DoubleType, nullable = false)))
        spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(
            pairs.map { case (id, s) => org.apache.spark.sql.Row(id, s) }).asJava,
          schema)
      case Right(df) => df
    }
  }

  /** Phase-2 exact MaxSim over driver-known candidate ids: a context-table
    * MULTIGET (doc_id IN-list row-group pruning; directory pruning once the
    * context table carries a doc_bucket level) followed by a driver-local
    * decode + rescore. Ids with no context row — docs matched only by
    * non-vector OR children — score 0.0, matching ColBERTScorer
    * (Scorer.cpp:23-28); the exact score REPLACES the approximate one
    * (QueryExecutor.cpp:48-66). */
  private def rerankExact(idx: IndexIVF, tenant: Long, v: VectorQuery,
      ids: Array[Long]): Array[(Long, Double)] = {
    if (ids.isEmpty) return Array.empty
    val f = idx.schema.field(v.field)
    val dim = f.parameters.dimensions
    val nq = v.queryTokens.length
    val flatQuery = v.queryTokens.flatten
    val quant = idx.quantizers(v.field)
    val fid = idx.mapper.id(v.field)
    // plan-time byte bound on the driver-side collect below (see
    // MaxRerankBytesKey): fail loudly before pulling anything
    val estBytes = ids.length.toLong * assumedDocTokens(idx.spark) *
      (quant.codeSize.toLong + 8L)
    require(estBytes <= maxRerankBytes(idx.spark),
      s"phase-2 rerank would collect ~$estBytes bytes of context onto the " +
        s"driver (${ids.length} candidates x ${assumedDocTokens(idx.spark)} " +
        s"assumed tokens x ${quant.codeSize}B codec; limit " +
        s"${maxRerankBytes(idx.spark)}): lower numSecondPass or use a " +
        s"quantized codec, or raise $MaxRerankBytesKey / set " +
        s"$AssumedDocTokensKey to the corpus' real document length")
    // ids are driver-known, so their doc_bucket set is a STATIC partition
    // filter — <= min(numSecondPass, DocBuckets) context directories are
    // even listed (v5 layout) — then the doc_id IN-list row-group-prunes
    // the surviving files (context files are doc_id-sorted within buckets)
    val buckets = ids.map(IndexIVF.docBucketOf).distinct
    // bounded: <= numSecondPass ids in the isin() IN-list filter
    val ctxRows = idx.contextDf
      .filter(col("tenant") === tenant && col("field") === fid &&
        col("doc_bucket").isin(buckets: _*) && col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("doc_codes"), col("doc_residuals"))
      .collect()
    // one context row per id, arbitrary winner (duplicate-add dedup — the
    // old single-scan path's dropDuplicates, done driver-side on <= nsp rows)
    val byId = ctxRows.foldLeft(Map.empty[Long, (Seq[Long], Array[Byte])]) { (m, r) =>
      val id = r.getLong(0)
      if (m.contains(id)) m
      else m + (id -> (r.getSeq[Long](1), r.getAs[Array[Byte]](2)))
    }
    ids.map { id =>
      byId.get(id) match {
        case None => id -> 0.0
        case Some((codes, residuals)) =>
          val n = codes.length
          val doc = new Array[Float](n * dim)
          var i = 0
          while (i < n) {
            val tok = quant.decode(java.util.Arrays.copyOfRange(
              residuals, i * quant.codeSize, (i + 1) * quant.codeSize))
            System.arraycopy(tok, 0, doc, i * dim, dim)
            i += 1
          }
          id -> Plaid.scoreByResiduals(flatQuery, nq, doc, n, dim,
            normalize = true).toDouble
      }
    }
  }

  /** QueryNode -> DataFrame(doc_id, score[, vec_match]).
    *
    * @param leaves   the walk frame of each vector leaf ([[vectorLeaf]])
    * @param restrict candidate ids from an enclosing And: each child's rows
    *                 are semi-joined to them (reference: the iterator tree
    *                 enumerates the intersected candidates)
    * @param markFor  vector field whose leaf tags its rows `vec_match=true`.
    *                 The reference's phase-2 scorer reads the colbert
    *                 context from the ITERATOR's DocValues, so a doc matched
    *                 only by non-vector (or other-field) children reranks to
    *                 0.0 even though its context row exists in the table
    *                 (Scorer.cpp:23-28 — colbert field absent from dvs).
    *                 The marker is 1 byte through the cut.
    */
  private def compile(idx: IndexIVF, tenant: Long, node: QueryNode,
      leaves: Map[VectorQuery, DataFrame], restrict: Option[DataFrame],
      markFor: Option[String]): DataFrame = node match {

    case v: VectorQuery =>
      val scored = restricted(leaves(v), restrict)
      if (markFor.contains(v.field)) scored.withColumn("vec_match", lit(true))
      else scored

    case AndQuery(children, comb) =>
      // candidate intersection FIRST, then each child's rows semi-joined to it
      val cands = children.map(c => candidateIds(idx, tenant, c, leaves))
        .reduce((a, b) => a.join(b, Seq("doc_id"), "left_semi"))
      val scored = children.map(c => compile(idx, tenant, c, leaves, Some(cands), markFor))
      joinChildren(scored, "inner", comb, orMode = false)

    case OrQuery(children, comb) =>
      val scored = children.map(c => compile(idx, tenant, c, leaves, restrict, markFor))
      joinChildren(scored, "full_outer", comb, orMode = true)

    case filter @ (_: TermQuery | _: RangeQuery) =>
      restricted(candidateIds(idx, tenant, filter, leaves), restrict)
        .withColumn("score", lit(1.0))
  }

  /** Candidate doc ids only. A Term probes one value bucket of `scalars`
    * (the probed value is driver-known, so its bucket is a STATIC partition
    * filter: one directory in ValueBuckets is even listed, v4 layout, then
    * value_str equality row-group-prunes inside it); a vector leaf's ids
    * are its walk frame's. */
  private def candidateIds(idx: IndexIVF, tenant: Long, node: QueryNode,
      leaves: Map[VectorQuery, DataFrame]): DataFrame = node match {
    case TermQuery(field, value) =>
      val f = idx.schema.field(field)
      val fid = idx.mapper.id(field)
      val canonical = IndexIVF.canonicalValue(f, value)
      idx.scalarsDf
        .filter(col("tenant") === tenant && col("field") === fid &&
          col("value_bucket") === IndexIVF.valueBucketOf(canonical) &&
          col("value_str") === canonical)
        .select(col("doc_id")).distinct()
    case RangeQuery(field, lo, hi) =>
      val fid = idx.mapper.id(field)
      idx.scalarsDf
        .filter(col("tenant") === tenant && col("field") === fid &&
          col("value_num").between(lo, hi))
        .select(col("doc_id")).distinct()
    case v: VectorQuery =>
      leaves(v).select(col("doc_id"))
    case AndQuery(cs, _) =>
      cs.map(c => candidateIds(idx, tenant, c, leaves))
        .reduce((a, b) => a.join(b, Seq("doc_id"), "left_semi"))
    case OrQuery(cs, _) =>
      cs.map(c => candidateIds(idx, tenant, c, leaves)).reduce(_ union _).distinct()
  }

  /** Combine per-child (doc_id, score[, vec_match]) frames; the vec_match
    * markers of ALL children carrying one (the rerank field may appear in
    * several vector leaves, e.g. an OR of two VectorQuery on the same
    * field) are OR-ed — a doc that matched ANY of the field's leaves
    * carries its context in the iterator semantics. Null after a
    * full-outer join means the doc did not match that leaf. */
  private def joinChildren(scored: Seq[DataFrame], joinType: String,
      comb: Combiner.Value, orMode: Boolean): DataFrame = {
    val renamed = scored.zipWithIndex.map { case (df, i) =>
      df.columns.foldLeft(df)((d, c) =>
        if (c == "doc_id") d else d.withColumnRenamed(c, s"${c}_$i"))
    }
    val joined = renamed.reduce((a, b) => a.join(b, Seq("doc_id"), joinType))
    val scores = scored.indices.map(i => col(s"score_$i"))
    val markCol = scored.indices
      .filter(i => renamed(i).columns.contains(s"vec_match_$i"))
      .map(i => coalesce(col(s"vec_match_$i"), lit(false)))
      .reduceOption(_ || _).toSeq.map(_.as("vec_match"))
    joined.select(col("doc_id") +: combine(comb, scores, orMode).as("score") +:
      markCol: _*)
  }

  /** Score combiners (scoring_methods.cpp:61-85). In OR position a child
    * that didn't match contributes the combiner's identity. */
  private def combine(comb: Combiner.Value,
      scores: Seq[org.apache.spark.sql.Column], orMode: Boolean) = comb match {
    case Combiner.SUM =>
      scores.map(s => if (orMode) coalesce(s, lit(0.0)) else s).reduce(_ + _)
    case Combiner.MAX => greatest(scores: _*)
    case Combiner.PRODUCT =>
      scores.map(s => if (orMode) coalesce(s, lit(1.0)) else s).reduce(_ * _)
  }

  private def restricted(df: DataFrame, restrict: Option[DataFrame]): DataFrame =
    restrict.map(r => df.join(r, Seq("doc_id"), "left_semi")).getOrElse(df)

  /** Driver-side query planning (KnnNearestCentroids.cpp:6-110, including
    * the score>0 prune): one SIMD-kernel block fill of the (nq x nc) score
    * matrix — the matrix IS scoreBlock's output layout
    * (CoarseQuantizer.scoreBlock) — then the probe list. */
  private[graft] def probes(idx: IndexIVF, v: VectorQuery,
      opts: SearchOptions): Array[Long] = {
    val cq = idx.coarse.getOrElse(v.field,
      throw new IllegalStateException(s"field ${v.field} is not trained"))
    val nq = v.queryTokens.length
    val nc = cq.numCentroids
    val m = cq.scoreBlock(flatQuery(v, cq.dim), nq)
    topCentroids(m, nq, nc, math.min(opts.kTopCentroids, nc), opts.nProbe)
  }

  /** Row-major (nq x dim) query tokens, each checked against the field's dim. */
  private def flatQuery(v: VectorQuery, dim: Int): Array[Float] = {
    val flat = new Array[Float](v.queryTokens.length * dim)
    v.queryTokens.zipWithIndex.foreach { case (tok, i) =>
      require(tok.length == dim,
        s"query token has length ${tok.length}, expected dim $dim")
      System.arraycopy(tok, 0, flat, i * dim, dim)
    }
    flat
  }

  /** Probe selection over the (nq x nc) score matrix: per query token keep
    * the kTop best centroids by (score desc, id asc), record each selected
    * centroid's best positive score across tokens, return the top nProbe of
    * those by the same order — semantically KnnNearestCentroids.cpp:6-110
    * including the score>0 prune.
    *
    * Primitive bounded heaps end to end (the Spark-side twin of the
    * reference's partial_sort, KnnNearestCentroids.cpp:59-102): the old
    * formulation sorted nc BOXED tuples per token — at production scale
    * (nc=65536, nq=32) that is ~2M tuple allocations per query per plan,
    * driver-side, on the latency path of every search. */
  private[graft] def topCentroids(m: Array[Float], nq: Int, nc: Int,
      kTop: Int, nProbe: Int): Array[Long] = {
    val high = new Array[Float](nc)
    val heap = new TopKHeap(kTop)
    var i = 0
    while (i < nq) {
      heap.reset()
      val off = i * nc
      var c = 0
      while (c < nc) { heap.offer(m(off + c), c); c += 1 }
      var j = 0
      while (j < heap.size) { // selection membership only — order irrelevant
        val c2 = heap.id(j); val s2 = heap.score(j)
        if (s2 > high(c2)) high(c2) = s2
        j += 1
      }
      i += 1
    }
    val probeHeap = new TopKHeap(math.min(nProbe, nc))
    var c = 0
    while (c < nc) { if (high(c) > 0) probeHeap.offer(high(c), c); c += 1 }
    probeHeap.sortedIds.map(_.toLong)
  }

  /** Bounded top-k over (score: Float, id: Int) pairs, kept best-k by
    * (score desc, id asc) — a primitive-array min-heap whose root is the
    * weakest kept element; no boxing, O(nc log k) per pass. */
  private[graft] final class TopKHeap(k: Int) {
    private val s = new Array[Float](math.max(k, 1))
    private val c = new Array[Int](math.max(k, 1))
    private var n = 0
    def size: Int = n
    def id(i: Int): Int = c(i)
    def score(i: Int): Float = s(i)
    def reset(): Unit = n = 0
    // a is WORSE than b under (score desc, id asc)
    private def worse(sa: Float, ca: Int, sb: Float, cb: Int): Boolean =
      sa < sb || (sa == sb && ca > cb)
    def offer(score: Float, id: Int): Unit =
      if (k == 0) ()
      else if (n < k) {
        var i = n
        s(i) = score; c(i) = id; n += 1
        while (i > 0 && worse(s(i), c(i), s((i - 1) / 2), c((i - 1) / 2))) {
          val p = (i - 1) / 2
          val ts = s(i); val tc = c(i)
          s(i) = s(p); c(i) = c(p); s(p) = ts; c(p) = tc
          i = p
        }
      } else if (worse(s(0), c(0), score, id)) {
        s(0) = score; c(0) = id
        var i = 0
        var continue = true
        while (continue) {
          val l = 2 * i + 1; val r = l + 1
          var w = i // index of the worst among i and its children
          if (l < n && worse(s(l), c(l), s(w), c(w))) w = l
          if (r < n && worse(s(r), c(r), s(w), c(w))) w = r
          if (w == i) continue = false
          else {
            val ts = s(i); val tc = c(i)
            s(i) = s(w); c(i) = c(w); s(w) = ts; c(w) = tc
            i = w
          }
        }
      }
    /** Kept ids by (score desc, id asc) — k is small, the final sort is
      * over the kept entries only. */
    def sortedIds: Array[Int] =
      Array.range(0, n).sortBy(i => (-s(i), c(i))).map(c(_))
  }

  /** The ANN leaf (the ANNIterator, QueryNode.cpp:59-77): the shared
    * phase-1 walk ([[BatchSearcher.phase1]]) with this one query and no
    * cut — every candidate of the probed centroids, scored once, as a lazy
    * (doc_id, score) frame. The walk runs in executor tasks over the
    * cached context snapshot; nothing per document reaches the driver. */
  private def vectorLeaf(idx: IndexIVF, tenant: Long, v: VectorQuery,
      opts: SearchOptions): DataFrame = {
    val dim = idx.schema.field(v.field).parameters.dimensions
    val probed = probes(idx, v, opts)
    val query = idx.spark.sparkContext.broadcast(Map(0L -> flatQuery(v, dim)))
    BatchSearcher.phase1(idx, tenant, v.field,
      BatchSearcher.contextRelationStats(idx, tenant, v.field), query,
      Seq(0L -> probed), depth = None)
      .select(col("doc_id"), col("score"))
  }

  private def collectVectors(node: QueryNode): Seq[VectorQuery] = node match {
    case v: VectorQuery => Seq(v)
    case AndQuery(cs, _) => cs.flatMap(collectVectors)
    case OrQuery(cs, _) => cs.flatMap(collectVectors)
    case _ => Seq.empty
  }
}
