package graft

import graft.queries.{Relational, Similarity}
import org.apache.spark.graftbridge.ListenerBusAccess
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the scale-critical properties: predicate
  * pushdown to parquet, projection pruning, broadcast joins for small
  * sides, partition pruning on the engine's hive-partitioned tables. These
  * are the properties that keep the operators viable at 100 TB — asserted
  * here so a regression in plan shape fails CI, not just a benchmark.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  def planOf(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q_term_eq pushes the equality filter and prunes columns at the scan") {
    val p = planOf("q_term_eq")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)]"), p)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double,o_orderpriority:string>"), p)
  }

  test("q_term_range pushes both range bounds") {
    val p = planOf("q_term_range")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("LessThan(l_shipdate"), p)
  }

  test("q_meta_join broadcasts the dimension side") {
    val p = planOf("q_meta_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_dot_topk plans as TakeOrderedAndProject (no full sort)") {
    val p = planOf("q_dot_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_asof_join is window-only: one shuffle on the key, no join operator") {
    val p = planOf("q_asof_join")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    // exactly one exchange hashpartitions on user_id feeds the window
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("q_doc_chunk is pure per-row work: no shuffle beyond the verify sort") {
    val p = planOf("q_doc_chunk")
    // chunk starts, slices, and fingerprints are all row-local expressions;
    // the only exchange allowed is the rangepartitioning of the
    // verify-determinism orderBy
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected at most the orderBy exchange, got $exchanges:\n$p")
  }

  test("q_span_dedup shuffles md5 fingerprints, never span text") {
    val p = planOf("q_span_dedup")
    // the dup-set aggregate must partial-combine map-side before its
    // exchange (hot spans), and no exchange may carry the token arrays
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("hashpartitioning(t#") && !p.contains("hashpartitioning(ct"), p)
    assert(p.contains("hashpartitioning(sp"), p)
  }

  test("q_seq_pack is a two-phase prefix sum: bucketed window + broadcast offsets") {
    val p = planOf("q_seq_pack")
    // phase 1 windows hash-partition on bucket (parallel at any scale);
    // phase 2's bucket offsets come back as a broadcast join — the global
    // single-partition window must only ever see bucket-level rows
    assert(p.contains("hashpartitioning(bucket"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_session_window plans the native session-window aggregation") {
    val p = planOf("q_session_window")
    assert(p.toLowerCase.contains("session_window"), p)
  }

  test("q_rollup expands grouping sets inside a hash aggregate (Expand)") {
    val p = planOf("q_rollup")
    assert(p.contains("Expand"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("document queries prune to the columns they use") {
    // token counting must not drag lang/source/n_chars through the scan
    val tok = planOf("q_token_count")
    assert(tok.contains("ReadSchema: struct<doc_id:bigint,text:string>"), tok)
    // the metadata-only multimodal query reads id + payload source, nothing
    // else — at 100 TB the difference between this and SELECT * is the job
    val mm = planOf("q_multimodal_meta")
    assert(mm.contains("ReadSchema: struct<doc_id:bigint,text:string>"), mm)
  }

  test("no unbroadcast cartesian product in any driver query plan") {
    // blanket regression net: a CartesianProduct (as opposed to a broadcast
    // nested-loop over a tiny side) in any operator plan is a scale bug
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
    }
  }

  test("hydration pushes the top-k doc ids into the docs scan (multiget)") {
    import spark.implicits._
    import graft.core._
    import graft.index.IndexIVF
    import graft.query.{SearchOptions, VectorQuery}
    val dim = 16
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 8L).map(i =>
      i -> Seq.fill(2)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1))).toMap
    val docs = corpus.toSeq.sortBy(_._1)
      .map { case (i, t) => Doc(i, t, s"c$i", i) }.toDF().drop("num")
    val idx = IndexIVF.create(spark,
      java.nio.file.Files.createTempDirectory("idx_hydr").toString,
      GSchema(Seq(GField.colbert("colbert", dim, 4, numIterations = 2),
        GField.stored("cat", GDataType.TEXT))))
    idx.train(docs)
    idx.add(1, docs)
    // hydration is a driver-local k-row join since round 4, so the multiget
    // scan no longer appears in the RESULT's plan — capture the plans search()
    // actually executes and assert the forward-index read carries the IN
    // filter (row-group-pruned multiget, RocksdbForwardIndex.cpp:44-92)
    // instead of a full tenant scan
    val plans = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
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
      val res = idx.search(1, VectorQuery("colbert", corpus(3L).map(_.toArray).toArray),
        k = 3, SearchOptions(kTopCentroids = 4, nProbe = 4))
      assert(res.collect().map(_.getAs[Long]("doc_id")).contains(3L))
      // the listener bus is async — drain it so every plan has arrived
      ListenerBusAccess.drain(spark.sparkContext)
      val snap = scala.jdk.CollectionConverters.SetHasAsScala(plans).asScala
      val seen = snap.exists(p => p.contains("In(doc_id") && p.contains("docs"))
      val bucketPruned = snap.exists(p => p.contains("In(doc_id") &&
        p.contains("docs") && p.contains("doc_bucket"))
      assert(seen, s"no executed plan pushed the top-k ids into the docs scan:\n" +
        scala.jdk.CollectionConverters.SetHasAsScala(plans).asScala.mkString("\n---\n"))
      // v4: the same multiget also carries the ids' bucket set as a
      // PARTITION filter — directories are pruned before any footer opens
      assert(bucketPruned, "multiget plan has no doc_bucket partition filter:\n" +
        scala.jdk.CollectionConverters.SetHasAsScala(plans).asScala.mkString("\n---\n"))
    } finally spark.listenerManager.unregister(listener)

    // file-count proof on the forward index: one id's bucket reads fewer
    // files than the tenant's docs table holds (8 ids spread over buckets)
    import org.apache.spark.sql.execution.FileSourceScanExec
    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.sum
    }
    val one = numFiles(idx.docsDf.filter(col("tenant") === 1 &&
      col("doc_bucket") === IndexIVF.docBucketOf(3L) && col("doc_id") === 3L))
    val full = numFiles(idx.docsDf.filter(col("tenant") === 1))
    assert(one < full, s"docs multiget read $one of $full files - no bucket pruning")
  }

  test("phase-2 context multiget prunes doc_bucket dirs and phase-1 skips residuals") {
    import spark.implicits._
    import graft.core._
    import graft.index.IndexIVF
    import graft.query.{SearchOptions, VectorQuery}
    val dim = 16
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 8L).map(i =>
      i -> Seq.fill(2)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1))).toMap
    val docs = corpus.toSeq.sortBy(_._1)
      .map { case (i, t) => Doc(i, t, s"c$i", i) }.toDF().drop("num")
    val idx = IndexIVF.create(spark,
      java.nio.file.Files.createTempDirectory("idx_ctx2p").toString,
      GSchema(Seq(GField.colbert("colbert", dim, 4, numIterations = 2),
        GField.stored("cat", GDataType.TEXT))))
    idx.train(docs)
    idx.add(1, docs)
    val plans = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
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
      // numSecondPass = 2 so the phase-2 multiget probes a strict subset of
      // the 8 ids' buckets
      val res = idx.search(1, VectorQuery("colbert", corpus(3L).map(_.toArray).toArray),
        k = 2, SearchOptions(kTopCentroids = 4, nProbe = 4, numSecondPass = 2))
      assert(res.collect().nonEmpty)
      ListenerBusAccess.drain(spark.sparkContext)
      val snap = scala.jdk.CollectionConverters.SetHasAsScala(plans).asScala
      // phase-2: the context read carries BOTH the id IN-list and the
      // bucket partition filter (v5 directory pruning)
      val multiget = snap.exists(p => p.contains("context") &&
        p.contains("In(doc_id") && p.contains("doc_bucket"))
      // phase-1 walks the context-codes snapshot: no plan of the search
      // references postings, and the snapshot's context reads (every
      // context plan but the phase-2 multiget) never select doc_residuals
      val snapshotReads = snap.filter(p => p.contains("context") && !p.contains("In(doc_id"))
      val phase1ThinScan = snap.forall(!_.contains("postings")) &&
        snapshotReads.nonEmpty && snapshotReads.forall(!_.contains("doc_residuals"))
      val all = snap.mkString("\n---\n")
      assert(multiget,
        s"no executed plan multigets context with bucket + id pruning:\n$all")
      assert(phase1ThinScan,
        s"phase-1 scans postings or its snapshot read selects doc_residuals:\n$all")
    } finally spark.listenerManager.unregister(listener)
  }

  test("batch phase-2 is a bucket+id-pruned context multiget with no shuffle") {
    import spark.implicits._
    import graft.core._
    import graft.index.IndexIVF
    import graft.query.{BatchSearcher, SearchOptions}
    val dim = 16
    val rnd = new scala.util.Random(13)
    val corpus = (0L until 8L).map(i =>
      i -> Seq.fill(2)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1))).toMap
    val docs = corpus.toSeq.sortBy(_._1)
      .map { case (i, t) => Doc(i, t, s"c$i", i) }.toDF().drop("num")
    val idx = IndexIVF.create(spark,
      java.nio.file.Files.createTempDirectory("idx_batch_mg").toString,
      GSchema(Seq(GField.colbert("colbert", dim, 4, numIterations = 2),
        GField.stored("cat", GDataType.TEXT))))
    idx.train(docs)
    idx.add(1, docs)
    val queriesDf = Seq(0L, 3L, 5L)
      .map(q => (q, corpus(q).map(_.map(Float.box(_)).toSeq).toSeq))
      .toDF("query_id", "tokens")
    val plans = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
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
      val res = BatchSearcher.searchBatch(idx, 1, "colbert", queriesDf, k = 2,
        SearchOptions(kTopCentroids = 4, nProbe = 4, numSecondPass = 2))
      assert(res.collect().nonEmpty)
      ListenerBusAccess.drain(spark.sparkContext)
      val snap = scala.jdk.CollectionConverters.SetHasAsScala(plans).asScala
      // phase-2 runs as its OWN job (no postings in its plan): the context
      // read carries the pool ids' IN-set AND the doc_bucket partition
      // filter, and the (query_id, doc_id) pool reaches the scoring tasks
      // in a broadcast variable — the corpus' residual bytes never enter a
      // shuffle, and no exchange ranks the rows
      val multiget = snap.exists(p => p.contains("context") &&
        !p.contains("postings") && p.contains("In(doc_id") &&
        p.contains("doc_bucket") && !p.contains("Exchange"))
      val all = snap.mkString("\n---\n")
      assert(multiget,
        s"no batch plan multigets context with bucket + id pruning and no exchange:\n$all")
      // UNDER the gate phase-1 walks the broadcast snapshot: no SQL job
      // reads ANY table — candidates come from the snapshot's in-memory
      // inverted view in an RDD job the listener never sees a table plan
      // for, so postings must not appear in any captured plan
      assert(all.linesIterator.forall(l => !l.contains("postings")),
        s"the under-gate batch must not scan postings:\n$all")

      // the batch rows are the independent per-query reference's rows:
      // same doc order per query, scores within 1e-6
      val opts = SearchOptions(kTopCentroids = 4, nProbe = 4, numSecondPass = 2)
      val batch = res.collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
      Seq(0L, 3L, 5L).foreach { q =>
        val single = idx.search(1,
            graft.query.VectorQuery("colbert", corpus(q).map(_.toArray).toArray),
            k = 2, opts)
          .select("doc_id", "score").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(batch(q).map(_._1) == single.map(_._1), s"doc ranking for query $q")
        batch(q).zip(single).foreach { case ((_, a), (_, b)) =>
          assert(math.abs(a - b) < 1e-6, s"score for query $q")
        }
      }

      // OVER the broadcast gate phase-1 walks the doc-partitioned snapshot:
      // still no postings in any captured plan, and the per-partition pool
      // cuts merge through the bounded-heap aggregate (ObjectHashAggregate
      // over graft_topk_by_score) — never a Window sorting the full
      // candidate stream (the 73-81 GB/stage spill shape at the 10M-doc
      // high-fan-out profile)
      plans.clear()
      // a 1-byte gate: this 8-doc context measures ~600 bytes
      spark.conf.set(BatchSearcher.BroadcastContextMaxBytesKey, "1")
      try {
        val over = BatchSearcher.searchBatch(idx, 1, "colbert", queriesDf, k = 2, opts)
          .collect().groupBy(_.getLong(0))
          .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq).toMap
        assert(over == batch, "over-gate batch diverged from the under-gate batch")
        ListenerBusAccess.drain(spark.sparkContext)
        val overPlans = scala.jdk.CollectionConverters.SetHasAsScala(plans).asScala
        val allO = overPlans.mkString("\n---\n")
        assert(overPlans.nonEmpty, "no over-gate batch plan captured")
        assert(overPlans.forall(p => !p.contains("postings")),
          s"the over-gate batch must not scan postings:\n$allO")
        assert(overPlans.exists(p => p.contains("ObjectHashAggregate") &&
          p.contains("graft_topk_by_score")),
          s"over-gate pool cut is not the bounded-heap aggregate:\n$allO")
        assert(overPlans.filter(_.contains("graft_topk_by_score")).forall(p =>
          !p.contains("RunningWindowFunction") && !p.contains("Window [row_number")),
          s"over-gate pool cut fell back to a full window sort:\n$allO")
      } finally spark.conf.unset(BatchSearcher.BroadcastContextMaxBytesKey)
    } finally spark.listenerManager.unregister(listener)
  }

  test("term-equality probe prunes scalars to the value's bucket directory") {
    import spark.implicits._
    import graft.core._
    import graft.index.IndexIVF
    import graft.query.{SearchOptions, TermQuery}
    val idx = IndexIVF.create(spark,
      java.nio.file.Files.createTempDirectory("idx_scal").toString,
      GSchema(Seq(GField.indexed("cat", GDataType.TEXT))))
    // 16 distinct values spread across value buckets, one doc each
    val docs = (0L until 16L).map(i => (i, s"cat-$i")).toDF("id", "cat")
    idx.add(1, docs)
    // the probe is lazy (no stored fields -> no hydration collect), so the
    // scalars scan with its partition filter is in the RESULT's own plan
    val res = idx.search(1, TermQuery("cat", "cat-7"), k = 5, SearchOptions())
    val p = res.queryExecution.executedPlan.toString
    assert(p.contains("value_bucket"), s"no value_bucket partition filter:\n$p")
    assert(res.collect().map(_.getLong(0)).toSeq == Seq(7L))
    // file-count proof: the probe lists one bucket directory, not the
    // field's whole partition
    import org.apache.spark.sql.execution.FileSourceScanExec
    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.sum
    }
    val canonical = "cat-7"
    val probed = numFiles(idx.scalarsDf.filter(col("tenant") === 1 &&
      col("field") === 0 &&
      col("value_bucket") === IndexIVF.valueBucketOf(canonical) &&
      col("value_str") === canonical))
    val full = numFiles(idx.scalarsDf.filter(col("tenant") === 1 && col("field") === 0))
    assert(probed < full, s"term probe read $probed of $full scalar files")
  }

  test("engine postings scan prunes hive partitions on (tenant, field)") {
    import spark.implicits._
    import graft.core._
    import graft.index.IndexIVF
    val dim = 16
    val rnd = new scala.util.Random(5)
    val docs = (0L until 8L).map(i =>
      Doc(i, Seq.fill(2)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1)), "x", 0L)).toDF()
      .select(col("id"), col("colbert"))
    val idx = IndexIVF.create(spark,
      java.nio.file.Files.createTempDirectory("idx_plan").toString,
      GSchema(Seq(GField.colbert("colbert", dim, 4, numIterations = 2))))
    idx.train(docs)
    idx.add(1, docs)
    val buckets = Seq(0L, 1L).map(c => (c % IndexIVF.CentroidBuckets).toInt)
    val scan = idx.postingsDf
      .filter(col("tenant") === 1 && col("field") === 0 &&
        col("centroid_bucket").isin(buckets: _*) && col("centroid").isin(0L, 1L))
    val p = scan.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(tenant"), p)
    // bucket predicate prunes whole partition directories
    assert(p.contains("centroid_bucket"), p)
    // centroid predicate reaches the parquet reader for row-group pruning
    assert(p.contains("PushedFilters: [In(centroid"), p)
    // file-count proof: the 2-bucket probe reads fewer files than the table
    // holds (postings were written across more than 2 buckets)
    scan.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f.metrics("numFiles").value
      }.sum
    }
    val probed = numFiles(scan)
    val full = numFiles(idx.postingsDf.filter(col("tenant") === 1 && col("field") === 0))
    assert(probed < full, s"probe read $probed of $full files - no directory pruning")

    // trickle ingest erodes the file count; compactFiles restores ~1 file
    // per partition directory and the SAME probe reads fewer files
    (0L until 6L).foreach(i => idx.add(1,
      Seq(Doc(100 + i, Seq.fill(2)(Seq.fill(dim)(rnd.nextFloat() * 2 - 1)), "x", 0L)).toDF()
        .select(col("id"), col("colbert"))))
    val trickled = numFiles(idx.postingsDf.filter(col("tenant") === 1 && col("field") === 0))
    assert(trickled > full, s"trickle adds should add files ($trickled vs $full)")
    idx.compactFiles()
    val compacted = numFiles(idx.postingsDf.filter(col("tenant") === 1 && col("field") === 0))
    assert(compacted < trickled,
      s"compactFiles did not shrink the scan: $trickled -> $compacted files")
  }
}
