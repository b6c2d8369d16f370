package graft

import graft.core._
import graft.index.IndexIVF
import graft.query._
import org.apache.spark.graftbridge.ListenerBusAccess
import org.scalatest.funsuite.AnyFunSuite

/** Batch search must agree with N independent single-query searches. */
class BatchSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private type Ranked = Map[Long, Seq[(Long, Double)]]

  private def batchRows(idx: IndexIVF, queries: Seq[(Long, Seq[Seq[Float]])],
      k: Int, opts: SearchOptions): Ranked = {
    import spark.implicits._
    BatchSearcher.searchBatch(idx, 1, "colbert",
      queries.toDF("query_id", "tokens"), k, opts)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
  }

  /** The independent reference: each query through the single-query path. */
  private def perQueryRows(idx: IndexIVF, queries: Seq[(Long, Seq[Seq[Float]])],
      k: Int, opts: SearchOptions): Ranked =
    queries.map { case (qid, toks) =>
      qid -> idx.search(1, VectorQuery("colbert", toks.map(_.toArray).toArray),
          k, opts)
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }.toMap

  /** Same doc order per query, scores within 1e-6. */
  private def assertSameRanking(batch: Ranked, reference: Ranked,
      what: String): Unit = {
    assert(batch.keySet == reference.keySet, s"$what: query sets differ")
    reference.foreach { case (qid, ref) =>
      assert(batch(qid).map(_._1) == ref.map(_._1),
        s"$what: doc ranking for query $qid")
      batch(qid).zip(ref).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-6, s"$what: score for query $qid")
      }
    }
  }

  /** Executed plans of every SQL action `run` triggers. */
  private def capturedPlans[A](run: => A): (A, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = run
      ListenerBusAccess.drain(spark.sparkContext)
      (out, scala.jdk.CollectionConverters.CollectionHasAsScala(plans).asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("searchBatch == per-query search results") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(3)
    val corpus = (0L until 30L).map { i =>
      i -> Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }.toMap
    val path = java.nio.file.Files.createTempDirectory("idx_batch").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 6, numIterations = 4))))
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) => Doc(i, t, "x", 0L) }
      .toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    idx.train(docs)
    idx.add(1, docs)

    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queryIds = Seq(2L, 11L, 23L)
    val queriesDf = queryIds.map(qid => (qid, corpus(qid))).toDF("query_id", "tokens")

    val batch = BatchSearcher.searchBatch(idx, 1, "colbert", queriesDf, k = 5, opts)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap

    queryIds.foreach { qid =>
      val single = idx.search(1, VectorQuery("colbert", corpus(qid).map(_.toArray).toArray),
          k = 5, opts)
        .select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid).map(_._1) == single.map(_._1), s"doc ranking for query $qid")
      batch(qid).zip(single).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-6)
      }
    }

    // (the old MaxMatrixBytes plan-constant guard is gone with the plan
    // constant itself: phase-1 now reads the centroid matrix through the
    // per-index broadcast, so nothing K-proportional ships with the plan)
  }

  test("byte-denominated gates: fat rows trip the broadcast-context gate " +
      "where a row budget would pass, and the pool guard refuses in bytes") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(9)
    // FAT rows: 6 docs x 96 tokens each — any sane ROW gate (the old
    // default was 16M rows) sails through, but the measured relation is
    // ~6 x (8 + 96*8 + 48) ≈ 4.9 KB
    val corpus = (0L until 6L).map { i =>
      i -> Seq.fill(96)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }.toMap
    val path = java.nio.file.Files.createTempDirectory("idx_bytegate").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 4, numIterations = 2))))
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) => Doc(i, t, "x", 0L) }
      .toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    idx.train(docs)
    idx.add(1, docs)

    val measured = BatchSearcher.contextRelationBytes(idx, 1, "colbert")
    assert(measured > 4000L && measured < 20000L,
      s"measured relation bytes $measured outside the fat-row envelope")

    val opts = SearchOptions(kTopCentroids = 2, nProbe = 4)
    val queriesDf = Seq(1L, 4L).map(qid => (qid, corpus(qid)))
      .toDF("query_id", "tokens")
    def run(): Map[Long, Seq[(Long, Double)]] =
      BatchSearcher.searchBatch(idx, 1, "colbert", queriesDf, k = 3, opts)
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
    val unrestricted = run()

    // cap BELOW the measured bytes (but far above the row count): the gate
    // must route to the doc-partitioned walk and still return identical rows
    spark.conf.set(BatchSearcher.BroadcastContextMaxBytesKey, "1024")
    try assert(run() == unrestricted,
      "over-gate distributed walk diverged from the broadcast walk")
    finally spark.conf.unset(BatchSearcher.BroadcastContextMaxBytesKey)

    // pool guard: 2 queries x 1024 numSecondPass x 16 B = 32 KiB — a
    // 1 KiB budget must refuse BEFORE collecting, in bytes
    spark.conf.set(BatchSearcher.MaxPoolBytesKey, "1024")
    try {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("bytes"), e.getMessage)
    } finally spark.conf.unset(BatchSearcher.MaxPoolBytesKey)
  }

  test("over-gate distributed walk: identical rows to per-query search, " +
      "no postings reference in the walk plan, mutation visible") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(77)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 45L).map(i => i -> tokens()).toMap
    val path = java.nio.file.Files.createTempDirectory("idx_distwalk").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 6, numIterations = 4))))
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) => Doc(i, t, "x", 0L) }
      .toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    idx.train(docs)
    idx.add(1, docs)

    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queries = Seq(3L, 20L, 41L).map(qid => (qid, corpus(qid)))
    val reference = perQueryRows(idx, queries, 5, opts)
    val underGate = batchRows(idx, queries, 5, opts) // broadcast-snapshot walk
    assertSameRanking(underGate, reference, "under-gate walk")
    // force the over-gate regime
    spark.conf.set(BatchSearcher.BroadcastContextMaxBytesKey, "1024")
    try {
      val (distWalked, plans) = capturedPlans(batchRows(idx, queries, 5, opts))
      assertSameRanking(distWalked, reference, "over-gate distributed walk")
      assert(distWalked == underGate,
        "over-gate distributed walk diverged from the broadcast-walk rows")
      // second batch rides the cached partitions
      assertSameRanking(batchRows(idx, queries, 5, opts), reference,
        "steady over-gate batch")

      // plan pin: no captured batch plan may reference the postings
      // relation; the heap merge of the per-partition cuts is the only
      // aggregate, never a full window sort of the candidate stream
      assert(plans.nonEmpty, "no batch plan captured")
      assert(plans.forall(p => !p.contains("postings")),
        s"the distributed walk must not scan the postings table:\n" +
          plans.mkString("\n---\n"))
      assert(plans.exists(p => p.contains("ObjectHashAggregate") &&
        p.contains("graft_topk_by_score")),
        s"the per-partition cuts must merge through the bounded heap:\n" +
          plans.mkString("\n---\n"))

      // freshness rides the partitioned snapshot's own invalidation: a doc
      // added after the build must be visible to the next over-gate batch
      idx.add(1, Seq(Doc(300L, corpus(3L).map(_.map(_ + 0.001f)), "x", 0L)).toDF()
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("colbert")))
      val after = BatchSearcher.searchBatch(idx, 1, "colbert",
        Seq((3L, corpus(3L))).toDF("query_id", "tokens"), k = 10, opts)
        .collect().map(_.getLong(1)).toSet
      assert(after.contains(300L),
        s"doc added after the partitioned-snapshot build must be visible, got $after")
    } finally spark.conf.unset(BatchSearcher.BroadcastContextMaxBytesKey)
  }

  test("saturation detector: flat boundary escalates, real gap does not") {
    // synthesized saturated fixture: 64 candidates whose scores are
    // near-identical across the cut at base=8 (the tight-cluster signature)
    val flat = Array.tabulate(64)(i => 10.0 - i * 1e-7)
    assert(BatchSearcher.boundarySaturated(flat, base = 8, eps = 1e-3),
      "near-tied scores across the boundary must read as saturated")
    // a genuine ranking gap at the cut: top 8 ~10.0, rest ~1.0
    val gapped = Array.tabulate(64)(i => if (i < 8) 10.0 - i * 0.01 else 1.0 - i * 0.001)
    assert(!BatchSearcher.boundarySaturated(gapped, base = 8, eps = 1e-3),
      "a real score gap at the boundary must NOT escalate")
    // fewer candidates than the cut: nothing to escalate
    assert(!BatchSearcher.boundarySaturated(flat.take(5), base = 8, eps = 1e-3))
    // a flat continuum at the boundary BELOW a separated top must NOT
    // escalate: phase-1 already ranked those docs out of contention (the
    // pervasive near-tie shape of a dense corpus, not the miss mechanism)
    val lowPlateau = Array.tabulate(64)(i => if (i < 8) 10.0 - i else 1.0 - i * 1e-9)
    assert(!BatchSearcher.boundarySaturated(lowPlateau, base = 8, eps = 1e-3),
      "a boundary plateau below a well-separated top is not saturation")

    val rows =
      flat.zipWithIndex.map { case (s, i) => (1L, i.toLong, s) } ++
      gapped.zipWithIndex.map { case (s, i) => (2L, i.toLong, s) }
    val (kept, escalated) = BatchSearcher.adaptivePoolCut(rows, base = 8,
      esc = 32, eps = 1e-3)
    assert(escalated == 1, "only the saturated query escalates")
    val byQ = kept.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byQ(1L) == 32, s"saturated query keeps esc pairs, got ${byQ(1L)}")
    assert(byQ(2L) == 8, s"unsaturated query keeps base pairs, got ${byQ(2L)}")
  }

  test("width-derived tie eps: the default power law reproduces both " +
      "measured calibration points and a numeric conf overrides it") {
    // the two operating points that pinned the law (COVERAGE.md r15/r17):
    // width 4 -> 1e-3 (83/212 escalated at 10M), width 120 -> 1e-4
    // (147/212 escalated, success@5 = 1.0) — the derived DEFAULT must land
    // on the measured-good values at both widths, not just interpolate
    assert(math.abs(BatchSearcher.defaultTieEps(4.0) - 1e-3) < 1e-9)
    assert(math.abs(BatchSearcher.defaultTieEps(120.0) - 1e-4) < 2e-6)
    // monotone in width, clamped against degenerate estimates
    assert(BatchSearcher.defaultTieEps(32.0) < 1e-3)
    assert(BatchSearcher.defaultTieEps(32.0) > 1e-4)
    assert(BatchSearcher.defaultTieEps(0.0) <= 1e-2)
    assert(BatchSearcher.defaultTieEps(1e9) >= 1e-5)

    // width recovery inverts the byte-gate accounting exactly:
    // bytes = rows x (8 + 8 x width + 48)
    val rows = 1000L
    val width = 120L
    val bytes = rows * (8L + 8L * width + 48L)
    assert(math.abs(BatchSearcher.avgDocWidth(rows, bytes) - 120.0) < 1e-9)
    // no stats in hand (unmeasured sentinel / empty corpus): falls back
    // to the width-4 calibration point
    assert(BatchSearcher.avgDocWidth(0L, 0L) == 4.0)
    assert(BatchSearcher.avgDocWidth(10L, Long.MaxValue) == 4.0)

    // explicit numeric conf short-circuits the derivation
    spark.conf.set(BatchSearcher.NspTieEpsKey, "7e-4")
    try assert(BatchSearcher.nspTieEps(spark, rows, bytes) == 7e-4)
    finally spark.conf.unset(BatchSearcher.NspTieEpsKey)
    assert(math.abs(BatchSearcher.nspTieEps(spark, rows, bytes) - 1e-4) < 2e-6)
  }

  test("adaptive cut sorts with the heap's own total order (NaN first, " +
      "±0.0 tied to doc_id) and refuses base < 1") {
    // NaN ranks ABOVE every double in the heap/window order; a
    // (-score, doc_id) tuple sort would negate NaN to last and keep docs
    // 2,3 instead — the off-path equivalence the r16 ADVICE flagged
    val nanRows = Array((1L, 1L, Double.NaN), (1L, 2L, 5.0), (1L, 3L, 0.0))
    val (nanKept, _) = BatchSearcher.adaptivePoolCut(nanRows, base = 2,
      esc = 3, eps = 1e-3)
    assert(nanKept.map(_._2).toSeq == Seq(1L, 2L),
      s"NaN must rank first like the phase-1 heap, got ${nanKept.toSeq}")
    // -0.0 == 0.0 ties in the heap order and breaks to doc_id asc; the
    // tuple sort's negation splits them (-0.0 < 0.0 in the total order).
    // esc == base: the tie saturates the boundary (by design), but the
    // escalated keep-count equals base, so what survives is purely the
    // comparator's rank-1 choice
    val zeroRows = Array((1L, 10L, 0.0), (1L, 5L, -0.0))
    val (zeroKept, _) = BatchSearcher.adaptivePoolCut(zeroRows, base = 1,
      esc = 1, eps = 1e-3)
    assert(zeroKept.map(_._2).toSeq == Seq(5L),
      s"±0.0 must tie and break to doc_id asc, got ${zeroKept.toSeq}")
    // base = 0 would index scores(-1) in the detector: named error instead
    val err = intercept[IllegalArgumentException] {
      BatchSearcher.adaptivePoolCut(zeroRows, base = 0, esc = 2, eps = 1e-3)
    }
    assert(err.getMessage.contains("numSecondPass"), err.getMessage)
  }

  test("adaptive cut recovers a doc a fixed cut drops on a saturated cluster") {
    import spark.implicits._
    val dim = 8
    val rnd = new scala.util.Random(5)
    // a tight cluster: 29 docs share one token set; doc 29 is a tiny
    // perturbation of it (same centroid codes -> phase-1 scores tie, the
    // deterministic tie-break is doc_id asc, so doc 29 always falls below
    // a small fixed cut — the q97 mechanism, synthesized)
    val base = Seq.fill(3)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val bump = base.map(_.map(v => v + 0.01f))
    val corpus: Map[Long, Seq[Seq[Float]]] =
      (0L until 29L).map(_ -> base).toMap + (29L -> bump)
    val path = java.nio.file.Files.createTempDirectory("idx_adaptive").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 2, numIterations = 4))))
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) => Doc(i, t, "x", 0L) }
      .toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    idx.train(docs)
    idx.add(1, docs)

    val opts = SearchOptions(kTopCentroids = 2, nProbe = 2, numSecondPass = 4)
    val queriesDf = Seq((29L, bump)).toDF("query_id", "tokens")
    def hits(): Seq[Long] =
      BatchSearcher.searchBatch(idx, 1, "colbert", queriesDf, k = 3, opts)
        .collect().map(_.getLong(1)).toSeq

    val fixed = hits()
    assert(!fixed.contains(29L),
      s"fixture broken: the fixed nsp=4 cut should drop doc 29, got $fixed")
    spark.conf.set(BatchSearcher.NspEscalateKey, "32")
    try {
      val adaptive = hits()
      assert(adaptive.head == 29L,
        s"escalation must readmit the true doc to rank 1, got $adaptive")
    } finally spark.conf.unset(BatchSearcher.NspEscalateKey)
  }

  test("cached context-codes snapshot: identical to per-query search, " +
      "and a mutation invalidates it") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(21)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 40L).map(i => i -> tokens()).toMap
    val path = java.nio.file.Files.createTempDirectory("idx_ctxcache").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 6, numIterations = 4))))
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) => Doc(i, t, "x", 0L) }
      .toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    idx.train(docs)
    idx.add(1, docs)

    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queries = Seq(5L, 17L, 31L).map(qid => (qid, corpus(qid)))
    val reference = perQueryRows(idx, queries, 5, opts)
    val cachedShape = batchRows(idx, queries, 5, opts)
    assertSameRanking(cachedShape, reference, "cached-snapshot batch")
    val cachedAgain = batchRows(idx, queries, 5, opts) // rides the cache
    assert(cachedAgain == cachedShape, "cache-hit batch diverged")

    // phase-2 multiget shape switch: threshold 0 routes every pool through
    // the point store, which must return the reference rows without the
    // ids ever re-entering a context scan as a join
    spark.conf.set(BatchSearcher.MaxDocIdInListKey, "0")
    try {
      val df = BatchSearcher.searchBatch(idx, 1, "colbert",
        queries.toDF("query_id", "tokens"), 5, opts)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("LeftSemi") && !plan.contains("/context"),
        s"the point-store multiget must not scan or semi-join context:\n$plan")
      assertSameRanking(batchRows(idx, queries, 5, opts), reference,
        "point-store multiget")
    } finally spark.conf.unset(BatchSearcher.MaxDocIdInListKey)

    // freshness: an add() on this handle must invalidate the snapshot —
    // a query matching ONLY the new doc has to find it in the next batch
    val newToks = corpus(5L).map(_.map(v => v + 0.001f)) // lands near doc 5
    idx.add(1, Seq(Doc(100L, newToks, "x", 0L)).toDF()
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert")))
    val after = BatchSearcher.searchBatch(idx, 1, "colbert",
      Seq((5L, corpus(5L))).toDF("query_id", "tokens"), k = 10, opts)
      .collect().map(_.getLong(1)).toSet
    assert(after.contains(100L),
      s"doc added after the snapshot build must be visible, got $after")
  }

  test("inverted walk: identical rows to per-query search, and steady " +
      "phase-1 touches no postings files") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(33)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 50L).map(i => i -> tokens()).toMap
    val path = java.nio.file.Files.createTempDirectory("idx_walk").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 6, numIterations = 4))))
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) => Doc(i, t, "x", 0L) }
      .toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    idx.train(docs)
    idx.add(1, docs)

    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queries = Seq(4L, 19L, 42L).map(qid => (qid, corpus(qid)))
    // the canary scans postings explicitly inside the reference capture
    val (reference, singlePlans) = capturedPlans {
      val rows = perQueryRows(idx, queries, 5, opts)
      idx.postingsDf.count()
      rows
    }
    val (walked, walkPlans) = capturedPlans(batchRows(idx, queries, 5, opts))
    assertSameRanking(walked, reference, "inverted walk")

    // plan pin over every SQL action the batch ran: the walk must not
    // reference the postings relation anywhere, while an explicit postings
    // scan in the reference capture shows the marker (canary that the
    // capture sees table scans)
    assert(walkPlans.nonEmpty, "no batch plan captured")
    assert(walkPlans.forall(p => !p.contains("postings")),
      s"the walk shape must not scan the postings table:\n" +
        walkPlans.mkString("\n---\n"))
    assert(singlePlans.exists(_.contains("postings")),
      "plan-pin canary: the explicit postings scan was not captured")

    // freshness rides the snapshot's own invalidation: a new doc is
    // visible to the walk's next batch (the inverted view hangs off the
    // rebuilt CtxCodes)
    idx.add(1, Seq(Doc(200L, corpus(4L).map(_.map(_ + 0.001f)), "x", 0L)).toDF()
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert")))
    val after = BatchSearcher.searchBatch(idx, 1, "colbert",
      Seq((4L, corpus(4L))).toDF("query_id", "tokens"), k = 10, opts)
      .collect().map(_.getLong(1)).toSet
    assert(after.contains(200L),
      s"doc added after the walk's snapshot build must be visible, got $after")
  }

  test("warmBatchCaches pre-builds the snapshot so the serving call is a " +
      "cache hit, and results match an unwarmed batch") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(55)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 25L).map(i => i -> tokens()).toMap
    val path = java.nio.file.Files.createTempDirectory("idx_warm").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 4, numIterations = 4))))
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) => Doc(i, t, "x", 0L) }
      .toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    idx.train(docs)
    idx.add(1, docs)

    idx.warmBatchCaches(1, "colbert")
    // the snapshot must already be cached: a direct serving-path request
    // returns a broadcast created BEFORE this marker (no new build)
    val marker = spark.sparkContext.broadcast(Array(0)).id
    val (rows, bytes) = BatchSearcher.contextRelationStats(idx, 1, "colbert")
    val served = idx.contextCodesBroadcast(1, "colbert", rows, bytes, 1L << 30)
    assert(served.id < marker,
      s"serving call built a NEW broadcast (id ${served.id} >= $marker) — " +
        "warmBatchCaches did not pre-build the snapshot")

    // warm is idempotent AND jobless on repeat: the overlapped store/
    // snapshot builds (warm runs them concurrently — guide §2.6) must both
    // be cache hits the second time, independent of which finished first
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      idx.warmBatchCaches(1, "colbert")
      ListenerBusAccess.drain(spark.sparkContext)
      assert(jobs.get() == 0,
        s"repeat warmBatchCaches ran ${jobs.get()} jobs — the overlapped " +
          "builds must be idempotent cache hits")
    } finally spark.sparkContext.removeSparkListener(l)

    val opts = SearchOptions(kTopCentroids = 2, nProbe = 4)
    val q = Seq((3L, corpus(3L))).toDF("query_id", "tokens")
    val hits = BatchSearcher.searchBatch(idx, 1, "colbert", q, k = 3, opts)
      .collect().map(_.getLong(1)).toSeq
    assert(hits.headOption.contains(3L), s"self-query must rank doc 3 first: $hits")
  }

  test("snapshot cache: a same-row-count mutation through a SIBLING handle " +
      "in the same JVM invalidates this handle's snapshot (JVM-global tick)") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(33)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 30L).map(i => i -> tokens()).toMap
    val path = java.nio.file.Files.createTempDirectory("idx_siblingtick").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 6, numIterations = 4))))
    def df(rows: Seq[(Long, Seq[Seq[Float]])]) =
      rows.map { case (i, t) => Doc(i, t, "x", 0L) }.toDF()
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("colbert"))
    idx.train(df(corpus.toSeq.sortBy(_._1)))
    idx.add(1, df(corpus.toSeq.sortBy(_._1)))

    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val q = Seq((7L, corpus(7L))).toDF("query_id", "tokens")
    def top(): Long = BatchSearcher
      .searchBatch(idx, 1, "colbert", q, k = 1, opts)
      .collect().head.getLong(1)
    assert(top() == 7L, "self-query must rank doc 7 first") // snapshot cached

    // update doc 7 through a SIBLING handle: the row COUNT is unchanged
    // (tombstone + re-add), so only the JVM-global mutation tick can
    // invalidate the first handle's snapshot — a per-handle tick serves
    // doc 7's STALE codes and still ranks it first
    val sibling = IndexIVF.open(spark, path)
    val far = corpus(25L).map(_.map(v => -v)) // far from the query
    sibling.update(1, df(Seq(7L -> far)))
    assert(top() != 7L,
      "sibling-handle update must invalidate the snapshot cache: doc 7's " +
        "new tokens are far from the query, yet it still ranked first " +
        "(stale codes served)")

    // sibling handles must SHARE the snapshot (JVM-global cache, r17
    // ADVICE): after this handle's batch rebuilt it, a serving-path
    // request through the sibling must return the same broadcast, not
    // build a duplicate
    val (rows, bytes) = BatchSearcher.contextRelationStats(idx, 1, "colbert")
    val mine = idx.contextCodesBroadcast(1, "colbert", rows, bytes, 1L << 30)
    val theirs = sibling.contextCodesBroadcast(1, "colbert", rows, bytes, 1L << 30)
    assert(mine.id == theirs.id,
      s"sibling handles built duplicate snapshots (${mine.id} vs ${theirs.id})")
  }

  test("snapshot cache: a FOREIGN-PROCESS write (persisted epoch advanced " +
      "behind every in-process handle's back) invalidates on the next batch") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(44)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 20L).map(i => i -> tokens()).toMap
    val path = java.nio.file.Files.createTempDirectory("idx_foreignepoch").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 4, numIterations = 4))))
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) => Doc(i, t, "x", 0L) }
      .toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    idx.train(docs)
    idx.add(1, docs)

    val (rows, bytes) = BatchSearcher.contextRelationStats(idx, 1, "colbert")
    def snap() = idx.contextCodesBroadcast(1, "colbert", rows, bytes, 1L << 30)
    val first = snap()
    // steady state: the per-call epoch probe must NOT rebuild by itself
    assert(snap().id == first.id, "epoch probe rebuilt an unchanged snapshot")

    // simulate a writer in ANOTHER PROCESS: advance _meta/epoch.json on
    // disk directly — no in-process write lock runs, so the JVM-global
    // mutation tick cannot see it and the row count happens to be
    // unchanged (the same-count-update shape); only the persisted-epoch
    // probe can catch this
    graft.core.Json.write(s"$path/_meta/epoch.json",
      Map("epoch" -> (idx.currentEpoch() + 1L)))
    val after = snap()
    assert(after.id != first.id,
      "a foreign-process epoch advance must invalidate the snapshot cache " +
        s"on the next batch (still serving broadcast ${first.id})")
    assert(snap().id == after.id, "rebuilt snapshot must then be stable")
  }

  test("context gate stats are cached: no jobs on a steady-state repeat, " +
      "recompute after an add and after a foreign epoch bump") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(55)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val path = java.nio.file.Files.createTempDirectory("idx_statscache").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 4, numIterations = 4))))
    def docsDf(ids: Seq[Long]) = ids.map(i => Doc(i, tokens(), "x", 0L)).toDF()
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    val docs = docsDf(0L until 15L)
    idx.train(docs)
    idx.add(1, docs)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val s1 = BatchSearcher.contextRelationStats(idx, 1, "colbert")
    assert(s1._1 == 15L)
    spark.sparkContext.addSparkListener(l)
    try {
      val s2 = BatchSearcher.contextRelationStats(idx, 1, "colbert")
      ListenerBusAccess.drain(spark.sparkContext)
      assert(s2 == s1, "cached stats diverged from the measured stats")
      assert(jobs.get() == 0,
        s"steady-state stats repeat ran ${jobs.get()} jobs — the cache " +
          "must serve them jobless (0.27 s/batch at the 10M shape)")
      // an in-process mutation (tick bump) must recompute: rows grow
      idx.add(1, docsDf(100L until 105L))
      assert(BatchSearcher.contextRelationStats(idx, 1, "colbert")._1 == 20L,
        "stats served stale after an add through this handle")
      // a FOREIGN-process write (epoch bumped on disk, tick unmoved, rows
      // coincidentally unchanged) must also recompute — same hole the
      // snapshot's epoch probe closes
      graft.core.Json.write(s"$path/_meta/epoch.json",
        Map("epoch" -> (idx.currentEpoch() + 1L)))
      val before = jobs.get()
      val s4 = BatchSearcher.contextRelationStats(idx, 1, "colbert")
      ListenerBusAccess.drain(spark.sparkContext)
      assert(s4._1 == 20L)
      assert(jobs.get() > before,
        "a foreign epoch advance must force a stats recompute")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("openAt snapshot handle: batch search serves its pre-add rows, equal " +
      "to its per-query search, while the live handle sees the add") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(91)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 40L).map(i => i -> tokens()).toMap
    val path = java.nio.file.Files.createTempDirectory("idx_openat_batch").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 6, numIterations = 4))))
    def docsDf(rows: Seq[(Long, Seq[Seq[Float]])]) =
      rows.map { case (i, t) => Doc(i, t, "x", 0L) }.toDF()
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("colbert"))
    val docs = docsDf(corpus.toSeq.sortBy(_._1))
    idx.train(docs)
    idx.add(1, docs)

    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queries = Seq(3L, 17L, 33L).map(qid => (qid, corpus(qid)))
    val before = batchRows(idx, queries, 5, opts) // live batch: warms the slot
    val preAdd = idx.currentEpoch()
    idx.add(1, docsDf(Seq(500L -> corpus(3L).map(_.map(_ + 0.001f)))))

    val snap = IndexIVF.openAt(spark, path, preAdd)
    val snapBatch = batchRows(snap, queries, 5, opts)
    assertSameRanking(snapBatch, perQueryRows(snap, queries, 5, opts),
      "openAt batch vs openAt per-query search")
    assertSameRanking(snapBatch, before, "openAt batch vs the pre-add live batch")
    assert(!snapBatch(3L).exists(_._1 == 500L),
      "a doc added after the snapshot epoch leaked into the snapshot batch")

    val live = batchRows(idx, queries, 5, opts)
    assert(live(3L).exists(_._1 == 500L),
      s"the live handle must see the add, got ${live(3L)}")
    // the two handles hold separate slots: the snapshot still serves pre-add
    assertSameRanking(batchRows(snap, queries, 5, opts), snapBatch,
      "openAt batch after the live rebuild")
  }

  test("a superseded partitioned snapshot recomputes pre-mutation rows or " +
      "fails, never post-mutation rows") {
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(92)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 40L).map(i => i -> tokens()).toMap
    val path = java.nio.file.Files.createTempDirectory("idx_superseded").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 6, numIterations = 4))))
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) => Doc(i, t, "x", 0L) }
      .toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    idx.train(docs)
    idx.add(1, docs)
    def docIds(rdd: org.apache.spark.rdd.RDD[graft.functions.CtxCodes]): Set[Long] =
      rdd.flatMap(_.docIds.iterator).collect().toSet

    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queries = Seq(3L, 17L).map(qid => (qid, corpus(qid)))
    spark.conf.set(BatchSearcher.BroadcastContextMaxBytesKey, "1")
    try {
      batchRows(idx, queries, 5, opts) // builds the partitioned snapshot
      val (rows, bytes) = BatchSearcher.contextRelationStats(idx, 1, "colbert")
      val old = idx.contextCodesPartitioned(1, "colbert", rows, bytes, 1L << 28)
      assert(idx.contextCodesPartitioned(1, "colbert", rows, bytes, 1L << 28) eq old,
        "expected the batch-built snapshot from the cache")
      val preIds = docIds(old)
      assert(preIds == corpus.keySet)

      idx.remove(1, Seq(17L))
      val post = batchRows(idx, queries, 5, opts) // replaces the slot
      assert(!post.values.flatten.exists(_._1 == 17L))
      assert(old.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "the superseded snapshot must be unpersisted when its slot is replaced")
      old.unpersist(blocking = true) // its blocks are gone before the recompute

      scala.util.Try(docIds(old)) match {
        case scala.util.Success(ids) =>
          assert(ids == preIds, "a recompute must return the pre-remove rows")
          info(s"recompute served the ${ids.size} pre-remove docs")
        case scala.util.Failure(e) =>
          info(s"recompute failed loudly: $e")
      }
    } finally spark.conf.unset(BatchSearcher.BroadcastContextMaxBytesKey)
  }

  /** Runs `body` on both phase-2 routes: the IN-list context multiget (the
    * default threshold) and the point store (threshold 0). */
  private def onBothRoutes(body: String => Unit): Unit = {
    body("IN-list multiget")
    spark.conf.set(BatchSearcher.MaxDocIdInListKey, "0")
    try body("point-store multiget")
    finally spark.conf.unset(BatchSearcher.MaxDocIdInListKey)
  }

  private def colbertIndex(name: String, dim: Int,
      corpus: Seq[(Long, Seq[Seq[Float]])]): IndexIVF = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory(name).toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 6, numIterations = 4))))
    idx.train(corpus.map { case (i, t) => Doc(i, t, "x", 0L) }.toDF()
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert")))
    idx
  }

  private def addDocs(idx: IndexIVF, rows: Seq[(Long, Seq[Seq[Float]])]): Unit = {
    import spark.implicits._
    idx.add(1, rows.map { case (i, t) => Doc(i, t, "x", 0L) }.toDF()
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert")))
  }

  test("phase-2 ties across tasks: identical docs keep the lowest doc_ids, " +
      "on both routes, equal to per-query search") {
    val dim = 16
    val rnd = new scala.util.Random(101)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val k = 4
    val twin = tokens()
    // 3k identical-token docs under ids spread over 12 doc buckets, added
    // in three writes: separate context files (IN-list route) and separate
    // point-store buckets, so the tie spans >= 3 phase-2 tasks
    val tiedIds = (0 until 3 * k).map(i => 5L + 3L * i)
    val tiedIdSet = tiedIds.toSet
    val others = (0L until 48L).filterNot(tiedIdSet).map(i => i -> tokens())
    val corpus = (tiedIds.map(_ -> twin) ++ others).sortBy(_._1)
    assert(tiedIds.map(IndexIVF.docBucketOf).distinct.size >= 3)
    assert(tiedIds.map(graft.index.PointStore.bucketOf(_, 32)).distinct.size >= 3)
    val idx = colbertIndex("idx_batch_ties", dim, corpus)
    tiedIds.grouped(k).foreach(g => addDocs(idx, g.map(_ -> twin)))
    addDocs(idx, others)

    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queries = Seq(1L -> twin, 2L -> others.head._2, 3L -> others(7)._2)
    val reference = perQueryRows(idx, queries, k, opts)
    assert(reference(1L).map(_._1) == tiedIds.take(k),
      s"reference must keep the lowest tied ids, got ${reference(1L)}")
    onBothRoutes { route =>
      val batch = batchRows(idx, queries, k, opts)
      assertSameRanking(batch, reference, route)
      assert(batch(1L).map(_._1) == tiedIds.take(k),
        s"$route: the tie must keep its lowest doc_ids, got ${batch(1L)}")
    }
  }

  test("duplicate adds: each doc appears once per query on both routes, " +
      "equal to per-query search") {
    val dim = 16
    val rnd = new scala.util.Random(102)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 30L).map(i => i -> tokens())
    val idx = colbertIndex("idx_batch_dupadd", dim, corpus)
    addDocs(idx, corpus)
    addDocs(idx, corpus) // every doc twice

    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queries = Seq(4L, 13L, 27L).map(q => q -> corpus(q.toInt)._2)
    val reference = perQueryRows(idx, queries, 12, opts)
    onBothRoutes { route =>
      val batch = batchRows(idx, queries, 12, opts)
      batch.foreach { case (q, rows) =>
        assert(rows.size == 12, s"$route: query $q returned ${rows.size} rows")
        assert(rows.map(_._1).distinct.size == rows.size,
          s"$route: query $q returned a doc twice: ${rows.map(_._1)}")
      }
      assertSameRanking(batch, reference, route)
    }
  }

  test("short results: a pool smaller than k comes back whole and in order") {
    val dim = 16
    val rnd = new scala.util.Random(103)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 30L).map(i => i -> tokens())
    val idx = colbertIndex("idx_batch_short", dim, corpus)
    addDocs(idx, corpus)

    val nsp = 3
    val k = 10
    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6, numSecondPass = nsp)
    val queries = Seq(6L, 18L, 29L).map(q => q -> corpus(q.toInt)._2)
    val reference = perQueryRows(idx, queries, k, opts)
    val pool = batchRows(idx, queries, k, opts.copy(secondPass = false))
    onBothRoutes { route =>
      val batch = batchRows(idx, queries, k, opts)
      assertSameRanking(batch, reference, route)
      batch.foreach { case (q, rows) =>
        assert(rows.size == nsp, s"$route: query $q returned ${rows.size} rows")
        assert(rows.map(_._1).toSet == pool(q).map(_._1).toSet,
          s"$route: query $q did not return its whole pool")
        assert(rows.zip(rows.drop(1)).forall { case ((da, sa), (db, sb)) =>
          sa > sb || (sa == sb && da < db) }, s"$route: query $q out of order: $rows")
      }
    }
  }

  test("searchBatch runs no window, row_number or range-partitioned sort") {
    val dim = 16
    val rnd = new scala.util.Random(104)
    def tokens() = Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    val corpus = (0L until 30L).map(i => i -> tokens())
    val idx = colbertIndex("idx_batch_nowindow", dim, corpus)
    addDocs(idx, corpus)
    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queries = Seq(2L, 15L).map(q => q -> corpus(q.toInt)._2)
    onBothRoutes { route =>
      val (_, plans) = capturedPlans(batchRows(idx, queries, 5, opts))
      assert(plans.nonEmpty, s"$route: no batch plan captured")
      val all = plans.mkString("\n---\n")
      assert(plans.forall(p => !p.contains("Window") && !p.contains("row_number") &&
        !p.toLowerCase.contains("rangepartitioning")),
        s"$route: a batch plan ranks with a window or a global sort:\n$all")
    }
  }
}
