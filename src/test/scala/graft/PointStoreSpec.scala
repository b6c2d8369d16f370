package graft

import graft.core._
import graft.index.{IndexIVF, PointStore}
import graft.query._
import org.scalatest.funsuite.AnyFunSuite

/** The phase-2 residual point store: the record-addressable multiget must
  * return exactly the rows the scan-shaped hydration returns, build once
  * per index state, pick up mutations (including foreign-state adoption
  * after a simulated restart), GC superseded state dirs, and never lose a
  * failed speculative build. */
class PointStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def buildIndex(n: Long, seed: Int, dim: Int = 16) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val corpus = (0L until n).map { i =>
      i -> Seq.fill(4)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }.toMap
    val path = java.nio.file.Files.createTempDirectory("idx_pointstore").toString
    val idx = IndexIVF.create(spark, path, GSchema(Seq(
      GField.colbert("colbert", dim, numCentroids = 6, numIterations = 4))))
    val docs = corpus.toSeq.sortBy(_._1).map { case (i, t) => Doc(i, t, "x", 0L) }
      .toDF().select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("colbert"))
    idx.train(docs)
    idx.add(1, docs)
    (idx, corpus, path)
  }

  test("store unit: build + multiget returns exactly the wanted records, " +
      "missing ids drop, and both coalescing regimes agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 500L).map { i =>
      (i * 3L, Array.fill(8 + rnd.nextInt(64))(rnd.nextInt().toByte))
    }
    val df = rows.toDF("doc_id", "doc_residuals")
    val root = java.nio.file.Files.createTempDirectory("pstore_unit").toString
    spark.conf.set(PointStore.BucketsKey, "7")
    val (dir, meta) =
      try PointStore.build(spark, df, root, "r500_e1")
      finally spark.conf.unset(PointStore.BucketsKey)
    assert(meta.rows == 500L && meta.buckets == 7)

    // wanted: every 5th id plus ids that were never written
    val pairs = (0L until 200L).map(q => (q, (q * 5L + 1L) * 3L)).toArray ++
      Array((900L, 1L), (901L, 1000003L)) // absent: not multiples of 3 in range
    def got(gap: String): Map[(Long, Long), Int] = {
      spark.conf.set(PointStore.CoalesceGapKey, gap)
      try PointStore.multigetScore(spark, dir, meta.buckets, pairs,
          res => _ => res.length.toDouble)
        .collect().map { case (q, d, s) => (q, d) -> s.toInt }
        .toMap
      finally spark.conf.unset(PointStore.CoalesceGapKey)
    }
    val expect = {
      val byId = rows.toMap
      pairs.flatMap { case (q, d) => byId.get(d).map(r => (q, d) -> r.length) }.toMap
    }
    // ids (5q+1)*3 exist for q <= 99 (id/3 < 500); the two absent probes drop
    assert(expect.size == 100)
    val fine = got("0")        // every record its own positioned read
    val coarse = got("1048576") // whole-file-ish coalesced reads
    assert(fine == expect, "gap=0 multiget diverged from the written records")
    assert(coarse == expect, "coalesced multiget diverged from gap=0")
  }

  test("big-pool searchBatch through the store: rows identical to the " +
      "scan shapes, one build amortizes across batches, restart adopts " +
      "from disk, and a mutation rebuilds + GCs the stale state dir") {
    import spark.implicits._
    val (idx, corpus, path) = buildIndex(40L, seed = 23)
    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queriesDf = Seq(5L, 17L, 31L).map(qid => (qid, corpus(qid)))
      .toDF("query_id", "tokens")
    def run(): Map[Long, Seq[(Long, Double)]] =
      BatchSearcher.searchBatch(idx, 1, "colbert", queriesDf, k = 5, opts)
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap

    val inList = run() // default threshold: small pool stays an IN-list scan
    // the independent reference: every query through the single-query path
    Seq(5L, 17L, 31L).foreach { qid =>
      val single = idx.search(1,
          VectorQuery("colbert", corpus(qid).map(_.toArray).toArray), 5, opts)
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(inList(qid).map(_._1) == single.map(_._1), s"doc ranking for query $qid")
      inList(qid).zip(single).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-6, s"score for query $qid")
      }
    }
    spark.conf.set(BatchSearcher.MaxDocIdInListKey, "0")
    try {
      val builds0 = PointStore.buildsForTest.get()
      val viaStore = run()
      assert(viaStore == inList, "point-store multiget diverged from the scan")
      assert(PointStore.buildsForTest.get() == builds0 + 1, "expected one build")
      assert(run() == inList)
      assert(PointStore.buildsForTest.get() == builds0 + 1,
        "steady-state batch rebuilt the store instead of serving the cache")

      // simulated restart: drop the in-memory resolve, keep the disk state —
      // the next batch must ADOPT the on-disk store (tag matches), not rebuild
      IndexIVF.clearPointStoreResolveForTest()
      assert(run() == inList)
      assert(PointStore.buildsForTest.get() == builds0 + 1,
        "restart re-built a store whose on-disk state tag still matches")

      val storeRoot = new java.io.File(s"$path/_cache/points/t1_f0")
      val tagsBefore = storeRoot.listFiles().map(_.getName).toSet
      assert(tagsBefore.exists(_.startsWith("r")), s"no live tag in $tagsBefore")

      // mutation: a new doc near query 5 must surface through the store
      // path (fresh build), and the superseded state dir must be GC'd
      val newToks = corpus(5L).map(_.map(v => v + 0.001f))
      idx.add(1, Seq(Doc(100L, newToks, "x", 0L)).toDF()
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("colbert")))
      val after = BatchSearcher.searchBatch(idx, 1, "colbert",
        Seq((5L, corpus(5L))).toDF("query_id", "tokens"), k = 10, opts)
        .collect().map(_.getLong(1)).toSet
      assert(after.contains(100L),
        s"doc added after the store build must be visible, got $after")
      assert(PointStore.buildsForTest.get() == builds0 + 2)
      val tagsAfter = storeRoot.listFiles().map(_.getName).toSet
      assert(tagsAfter.intersect(tagsBefore).isEmpty,
        s"superseded store dir not GC'd: kept ${tagsAfter.intersect(tagsBefore)}")

      // deletion: a removed doc must vanish from store-path results
      idx.removeDeferred(1, Seq(17L))
      val gone = BatchSearcher.searchBatch(idx, 1, "colbert",
        Seq((17L, corpus(17L))).toDF("query_id", "tokens"), k = 10, opts)
        .collect().map(_.getLong(1)).toSet
      assert(!gone.contains(17L),
        s"tombstoned doc 17 served from a stale point store: $gone")
    } finally spark.conf.unset(BatchSearcher.MaxDocIdInListKey)
  }

  test("a failed speculative store build surfaces: logged when the batch " +
      "does not consume it, thrown when it does, thrown by warmBatchCaches") {
    import spark.implicits._
    val (idx, corpus, path) = buildIndex(30L, seed = 41)
    // a regular file where the store's root directory must be created
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "_cache"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "_cache", "points"),
      Array[Byte](1))
    val opts = SearchOptions(kTopCentroids = 3, nProbe = 6)
    val queriesDf = Seq(2L, 9L, 20L).map(qid => (qid, corpus(qid)))
      .toDF("query_id", "tokens")
    def run(): Array[org.apache.spark.sql.Row] =
      BatchSearcher.searchBatch(idx, 1, "colbert", queriesDf, k = 5, opts).collect()

    val warned = new java.util.concurrent.CountDownLatch(1)
    val warnedWith = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "speculative-build-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN &&
            e.getMessage.getFormattedMessage.contains("point-store build failed")) {
          warnedWith.set(e.getThrown)
          warned.countDown()
        }
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager.getLogger("graft.BatchSearcher")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    logger.addAppender(appender)
    try {
      // unconsumed: the plan-time bound min(3 queries x 1024, 30 docs)
      // exceeds the threshold 29 and starts the build, but one probe per
      // query pools fewer than 30 docs, under the IN-list threshold — the
      // batch answers without waiting (a pool that reached the failed
      // store would throw here), and the failure is logged
      spark.conf.set(BatchSearcher.MaxDocIdInListKey, "29")
      try assert(BatchSearcher.searchBatch(idx, 1, "colbert", queriesDf, k = 5,
          SearchOptions(kTopCentroids = 1, nProbe = 1)).collect().nonEmpty,
        "the small batch must not fail on the build")
      finally spark.conf.unset(BatchSearcher.MaxDocIdInListKey)
      assert(warned.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the unconsumed store build's failure was never logged")
      assert(warnedWith.get() != null, "the warning must carry the build's error")
    } finally logger.removeAppender(appender)

    // consumed: threshold 0 routes the pool through the store, so the
    // batch itself fails with the build's error
    spark.conf.set(BatchSearcher.MaxDocIdInListKey, "0")
    val consumed =
      try intercept[Exception](run())
      finally spark.conf.unset(BatchSearcher.MaxDocIdInListKey)
    assert(consumed.getClass == warnedWith.get().getClass,
      s"consumed build error differs from the logged one: $consumed")

    // warm: the overlapped store build's failure is the warm call's error
    // (threshold 0: warm builds the store only for an index with more
    // docs than the IN-list threshold)
    spark.conf.set(BatchSearcher.MaxDocIdInListKey, "0")
    val warm =
      try intercept[Exception](idx.warmBatchCaches(1, "colbert"))
      finally spark.conf.unset(BatchSearcher.MaxDocIdInListKey)
    assert(warm.getClass == warnedWith.get().getClass,
      s"warmBatchCaches error differs from the store build's: $warm")
  }

  test("auto bucket count scales with rows and clamps") {
    assert(PointStore.autoBuckets(0L) == 32)
    assert(PointStore.autoBuckets(1000L) == 32)
    assert(PointStore.autoBuckets(10L * 1000 * 1000) == 306)
    assert(PointStore.autoBuckets(Long.MaxValue / 4) == 32768)
  }
}
