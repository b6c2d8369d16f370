package graft

import graft.queries.{Similarity, TextPipeline}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Scale-sensitivity evidence for the dedup/ANN operators: runs the REAL
  * query pipelines on deterministic synthetic corpora (ScaleData) at 1x and
  * 10x and asserts
  *
  *  1. result CARDINALITY grows linearly (the corpus is built with one
  *     near-dup pair per group, so a quadratic candidate explosion or a
  *     recall collapse both show up as a broken ratio — this is the
  *     deterministic check);
  *  2. wall time grows sub-quadratically (generous 20x bound for 10x rows:
  *     at these corpus sizes fixed per-query overhead dilutes the data
  *     term, so a genuinely quadratic plan lands FAR above the bound —
  *     ~100x data work — while honest noise stays well below it);
  *  3. the hot-key caps + DropLog fire on a corpus built to trip them
  *     (exact-dup clusters above BucketCap, stop-phrases above
  *     ShingleDfCap).
  *
  * Real measured numbers at local[32]/larger corpora live in COVERAGE.md
  * (ProfMain "scale" mode); this spec is the CI-stable guard.
  */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  val n1 = 1200 // 1x corpus: docs and embeddings
  val factor = 10

  // corpora are built once; chunk = n1 so the 10x corpus has 10 dup clusters
  lazy val (dir1, dirN) = {
    val d1 = java.nio.file.Files.createTempDirectory("scale1").toString
    val dN = java.nio.file.Files.createTempDirectory("scaleN").toString
    ScaleData.writeCorpus(spark, d1, n1, n1, chunk = n1)
    ScaleData.writeCorpus(spark, dN, n1 * factor, n1 * factor, chunk = n1)
    // warmup corpus: run each measured pipeline once so JIT/codegen/session
    // startup cost is not attributed to the 1x measurement
    val w = java.nio.file.Files.createTempDirectory("scaleW").toString
    ScaleData.writeCorpus(spark, w, 300, 300, chunk = 300)
    Seq("q_dedup_minhash", "q_neardup_jaccard", "q_dedup_simhash").foreach { q =>
      SparkEntry.queries(q)(spark, w).count()
    }
    val (e, c) = ScaleData.embWithCentroids(spark, w, 2)
    Similarity.neardupIvfPairs(e, c, minCos = -1.0).count()
    (d1, dN)
  }

  // write both corpora and run the warm-up before any arm's clock starts:
  // forced lazily, the first timed run (minhash's 1x) paid for all of it
  override def beforeAll(): Unit = {
    super.beforeAll()
    dir1
    ()
  }

  def timed(f: => Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val rows = f
    (rows, (System.nanoTime() - t0) / 1e9)
  }

  def checkRatios(name: String, rows1: Long, t1: Double, rowsN: Long, tN: Double,
      rowLo: Double, rowHi: Double): Unit = {
    info(f"$name: 1x $rows1 rows in $t1%.2f s; ${factor}x $rowsN rows in $tN%.2f s " +
      f"(time ratio ${tN / t1}%.1f)")
    val rowRatio = rowsN.toDouble / rows1
    assert(rowRatio >= rowLo && rowRatio <= rowHi,
      s"$name: result rows grew ${rowRatio}x for ${factor}x input " +
        s"(expected [$rowLo, $rowHi] — linear)")
    assert(tN <= t1 * 20,
      f"$name: time grew ${tN / t1}%.1fx for ${factor}x input (bound 20x)")
  }

  test("minhash LSH dedup: linear growth, bucket cap fires") {
    val (rows1, t1) = timed(SparkEntry.queries("q_dedup_minhash")(spark, dir1).count())
    val (rowsN, tN) = timed(SparkEntry.queries("q_dedup_minhash")(spark, dirN).count())
    checkRatios("minhash", rows1, t1, rowsN, tN, 6, 14)
    assert(TextPipeline.droppedHotKeys("q_dedup_minhash") > 0,
      "exact-dup clusters above BucketCap must be dropped and logged")
  }

  test("dedup knobs are session conf: non-default minhash geometry takes effect") {
    // a 100 TB operator tunes banding per-corpus without a rebuild; verify
    // the conf path end to end — 16 bands x 2 rows is a deliberately
    // looser geometry (threshold (1/16)^(1/2) = 0.25), so on the synthetic
    // corpus it must admit at least as many candidate pairs as the default
    // 8x4, and the query must still find the planted near-dups
    def pairs(): Set[(Long, Long)] =
      SparkEntry.queries("q_dedup_minhash")(spark, dir1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val def84 = pairs()
    spark.conf.set("graft.text.minhashBands", "16")
    spark.conf.set("graft.text.minhashRows", "2")
    try {
      val loose = pairs()
      // the >=0.5 verify filter makes the OUTPUT geometry-insensitive for
      // clearly-similar pairs: the planted dups must appear under both
      assert(def84.nonEmpty && (def84 -- loose).isEmpty,
        s"planted near-dups lost under non-default geometry: ${def84 -- loose}")
    } finally {
      spark.conf.unset("graft.text.minhashBands")
      spark.conf.unset("graft.text.minhashRows")
    }
  }

  test("n-gram Jaccard dedup: linear growth, shingle df-cap fires") {
    val (rows1, t1) = timed(SparkEntry.queries("q_neardup_jaccard")(spark, dir1).count())
    val (rowsN, tN) = timed(SparkEntry.queries("q_neardup_jaccard")(spark, dirN).count())
    checkRatios("jaccard", rows1, t1, rowsN, tN, 7, 13)
    assert(TextPipeline.droppedHotKeys("jaccardPairs") > 0,
      "stop-phrase/dup-cluster shingles above ShingleDfCap must be dropped and logged")
  }

  test("cross-corpus fuzzy decon: linear growth, per-side bucket caps fire") {
    import org.apache.spark.sql.functions.col
    // bench split = id % 7 (the q_decontaminate_fuzzy shape): the corpus'
    // even/odd near-dup siblings straddle the split ~2/7 of the time, so
    // flagged rows grow linearly with the corpus; the exact-dup clusters
    // (150 identical texts) exceed BucketCap on BOTH sides and must be
    // dropped by the per-side caps, not quadratically joined
    def run(dir: String): (Long, Double) = timed {
      val d = spark.read.parquet(s"$dir/documents.parquet")
      TextPipeline.crossCorpusNearDups(spark,
        d.filter(col("doc_id") % 7 =!= 0),
        d.filter(col("doc_id") % 7 === 0)).count()
    }
    val (rows1, t1) = run(dir1)
    val (rowsN, tN) = run(dirN)
    checkRatios("fuzzy-decon", rows1, t1, rowsN, tN, 6, 14)
    assert(TextPipeline.droppedHotKeys("crossCorpus") > 0,
      "the per-side LSH bucket caps must fire on the exact-dup clusters")
  }

  test("simhash dedup: linear result growth; wider bands cut candidate volume") {
    val (rows1, t1) = timed(SparkEntry.queries("q_dedup_simhash")(spark, dir1).count())
    val (rowsN, tN) = timed(SparkEntry.queries("q_dedup_simhash")(spark, dirN).count())
    checkRatios("simhash", rows1, t1, rowsN, tN, 6, 14)
    // The candidate (pre-hamming) volume law: ~n^2/2^bandBits once buckets
    // saturate. bandBits is the corpus-size knob — widening bands at 10x
    // must cut raw band collisions by well over half per extra bit.
    def candidates(dir: String, bandBits: Int): Long = {
      val bands = TextPipeline.simhashBands(
        graft.queries.Tables.t(spark, dir, "documents"), bandBits)
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket")
            && col("x.doc_id") < col("y.doc_id"))
        .count()
    }
    val cand8 = candidates(dirN, 8)
    val cand16 = candidates(dirN, 16)
    info(s"simhash 10x candidates: bandBits=8 -> $cand8, bandBits=16 -> $cand16")
    assert(cand16 < cand8 / 4,
      "wider bands must collapse the saturated-bucket candidate volume")
  }

  test("duplicate clusters: linear cluster output, flat propagation rounds at 10x") {
    import graft.queries.{Tables, TextPipeline}
    def run(dir: String): (Long, Int) = {
      val d = Tables.t(spark, dir, "documents")
      val edges = TextPipeline.jaccardPairs(spark, d)
        .filter(col("jaccard_raw") >= 0.8).select("a_id", "b_id")
      val (labels, rounds) =
        TextPipeline.connectedComponentsWithRounds(d.select("doc_id"), edges)
      val clusters = labels.filter(col("cluster_id") === col("doc_id")).count()
      labels.unpersist()
      (clusters, rounds)
    }
    val (c1, r1) = run(dir1)
    val (cN, rN) = run(dirN)
    info(s"clusters: 1x $c1 in $r1 rounds; ${factor}x $cN in $rN rounds")
    val ratio = cN.toDouble / c1
    assert(ratio >= 7 && ratio <= 13,
      s"cluster count grew ${ratio}x for ${factor}x input (expected ~linear)")
    // rounds = component diameter + 1 — near-dup components are
    // near-cliques, so growing the corpus adds MORE components, not
    // longer chains; a rising round count would mean the propagation
    // becomes the scale bottleneck
    assert(rN <= r1 + 1 && rN <= 5, s"propagation rounds grew: 1x=$r1, 10x=$rN")
  }

  test("adversarial 1000-link chain converges via star-contraction fallback, rounds bounded") {
    import spark.implicits._
    import graft.queries.TextPipeline
    // template-drift family: A~B~C~... with ONLY adjacent pairs above
    // threshold — diameter 1000, the exact graph min-label propagation
    // cannot finish (it would need 1000 full passes; the pre-fallback code
    // require-aborted at 25). Rounds must stay O(log^2 n), not O(n).
    val n = 1001L
    val nodes = spark.range(n).select(col("id").as("doc_id"))
    val edges = spark.range(n - 1)
      .select(col("id").as("a_id"), (col("id") + 1L).as("b_id"))
    val (labels, rounds) =
      TextPipeline.connectedComponentsWithRounds(nodes, edges)
    val byLabel = labels.groupBy("cluster_id").count().collect()
    assert(byLabel.length == 1 && byLabel.head.getLong(0) == 0L &&
      byLabel.head.getLong(1) == n,
      "the whole chain must fold into one component rooted at its minimum")
    info(s"chain of ${n - 1} links converged in $rounds rounds")
    assert(rounds <= TextPipeline.StarFallbackAt + 2 * 11 + 2,
      s"rounds not O(log^2 n): $rounds") // 2*ceil(log2(1001)) + slack
    labels.unpersist()
    // and the fast path is untouched: a near-clique (triangle + singleton)
    // converges by propagation alone in <= 3 rounds
    val triNodes = Seq(0L, 1L, 2L, 9L).toDF("doc_id")
    val triEdges = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("a_id", "b_id")
    val (triLabels, triRounds) =
      TextPipeline.connectedComponentsWithRounds(triNodes, triEdges)
    assert(triRounds <= 3, s"near-clique took $triRounds rounds (fallback fired?)")
    assert(triLabels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 0L), (1L, 0L), (2L, 0L), (9L, 9L)))
    triLabels.unpersist()
  }

  test("IVF-clustered embedding near-dup: linear when centroids scale with n") {
    // the scale knob: K centroids proportional to n keeps per-cluster
    // population ~constant, so candidate volume sum(cluster^2) stays linear.
    // The corpora's K anchors are their first K embeddings and embedding id
    // belongs to anchor id % K (ScaleData.embVec), so the first K x pop ids
    // give every cluster pop members: 240 of the 1x corpus, 2400 of the 10x
    // one. Held at the 1x K instead, the 10x arm's clusters grow 10x and its
    // candidates ~100x, far outside the row-ratio bound.
    val pop = 30
    val (k1, kN) = (n1 / 150, n1 * factor / 150)
    val (e1, c1) = ScaleData.embWithCentroids(spark, dir1, k1)
    val (eN, cN) = ScaleData.embWithCentroids(spark, dirN, kN)
    // minCos = -1: count ALL candidates (the work), not the filtered tail
    val (rows1, t1) = timed(Similarity.neardupIvfPairs(
      e1.filter(col("vec_id") < k1 * pop), c1, minCos = -1.0).count())
    val (rowsN, tN) = timed(Similarity.neardupIvfPairs(
      eN.filter(col("vec_id") < kN * pop), cN, minCos = -1.0).count())
    checkRatios("ivf-neardup", rows1, t1, rowsN, tN, 5, 15)
  }
}
