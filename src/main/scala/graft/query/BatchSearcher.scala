package graft.query

import graft.functions.TopKHeap
import graft.index.IndexIVF
import graft.scoring.Plaid
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch vector search: amortizes Spark job overhead across a whole set of
  * queries (SURVEY §7.5.4 — the reference answers one query in ms inside a
  * single process; a distributed engine must instead make ONE pass over the
  * index for N queries).
  *
  * Plan shape — one regime, the partition-local index walk plus a global
  * top-k merge:
  *  - planning: per-query probe selection runs on the driver over the
  *    small centroid matrix ([[Searcher.probes]]);
  *  - phase-1: [[phase1]], the one phase-1 of every search (single-query
  *    vector leaves call it too): the queries walk the inverted view of
  *    the cached [[graft.functions.CtxCodes]] context snapshot — broadcast
  *    when the measured relation fits [[BroadcastContextMaxBytesKey]],
  *    doc-partitioned across executors past it — and the batch cuts each
  *    query's pool with a bounded heap. No table is scanned in steady
  *    state;
  *  - phase-2: the collected pool's residuals are multigot — a pruned
  *    `doc_id IN (...)` context scan for a small pool, the
  *    [[graft.index.PointStore]] past [[MaxDocIdInListKey]] — and reranked
  *    in the tasks that read them, each keeping one bounded heap per query;
  *  - the driver merges those heaps into the per-query top-k and returns
  *    it as a local frame.
  */
object BatchSearcher {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.BatchSearcher")

  /** Upper bound IN BYTES on the phase-2 pool collect: batch x
    * numSecondPass pairs of (query_id, doc_id) at [[PoolPairBytes]] each.
    * Byte-denominated like the rerank guard (`graft.rerank
    * .maxCollectBytes`) so every driver-collect bound in the engine is in
    * the unit the driver heap actually runs out of; the default (64 MiB ==
    * 4M pairs, the old row default) is far above any sane serving batch.
    * The guard converts a pathological batch x numSecondPass product into
    * an explicit "split the batch" error before anything is collected. */
  val MaxPoolBytesKey = "graft.batch.maxPoolBytes"
  private def maxPoolBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get(MaxPoolBytesKey, (64L << 20).toString).toLong

  /** Driver-heap gate on the number of queries one searchBatch call may
    * plan (each query's tokens are collected to the driver for planning —
    * ~nq x dim floats per query). Default 16384 ≈ 256 MiB at ColBERT shape
    * (32 x 128 f32); over-budget batches fail with a split-the-batch
    * message rather than an OOM. */
  val MaxBatchQueriesKey = "graft.batch.maxQueries"
  private def maxBatchQueries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get(MaxBatchQueriesKey, "16384").toInt

  /** Driver bytes per collected pool pair: two longs. */
  val PoolPairBytes = 16L

  /** Opt-in saturation-aware rerank cut (r15 verdict item 2). A FIXED
    * numSecondPass cut is unsafe exactly when phase-1 scores saturate
    * (tight clusters: cluster-mates share centroid codes, the approximate
    * ranking at the cut boundary is near-arbitrary, and the true doc can
    * sit just below it — the q97 mechanism, COVERAGE.md round 15) and
    * wasteful when they don't (nsp=1024 cost +85 % ms/q on the clustered
    * 10M corpus because phase-2's multiget scales with the pool).
    *
    * `> numSecondPass` enables: the phase-1 heap keeps this many
    * candidates per query, and the driver-side pool cut keeps only
    * numSecondPass of them UNLESS the score distribution at the boundary
    * is saturated — the relative score spread across [[NspTieSpan]]
    * ranks around the cut falls below [[NspTieEpsKey]] — in which case
    * that query's pool escalates to this bound. Phase-2 cost grows only
    * for queries whose cut was provably arbitrary. Default 0 = off: the
    * reference's fixed cut (SearchOptions.h:31-32), oracle-pinned. */
  val NspEscalateKey = "graft.batch.nspEscalate"
  private def nspEscalate(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get(NspEscalateKey, "0").toInt

  /** Relative score-spread threshold under which the cut boundary counts
    * as saturated (see [[NspEscalateKey]]). Default `auto`: derived from
    * the corpus' average document width — WIDE documents concentrate the
    * MaxSim sum (between-doc relative gaps shrink with the token count),
    * so one fixed threshold cannot serve both regimes: the width-4
    * calibration (1e-3 — orders above float noise, far below any real
    * boundary gap; 83/212 escalated at 10M) degenerates to escalate-all at
    * 120 tok/doc, while the width-120 calibration (1e-4 — 147/212
    * escalated, success@5 = 1.0) would under-fire on narrow docs. The two
    * measured operating points (COVERAGE.md rounds 15/17) pin a power law
    * `eps(w) = 1e-3 x (4 / w)^0.677` (exponent ln 10 / ln 30 — steeper
    * than the ~1/sqrt(w) concentration heuristic, which the data
    * over-rules); [[defaultTieEps]] evaluates it from the average width
    * the batch's byte-gate stats already measured, at zero extra jobs.
    * A numeric value overrides the derivation entirely. */
  val NspTieEpsKey = "graft.batch.nspTieEps"

  /** The width-derived default for [[NspTieEpsKey]]: a power law through
    * the two measured calibration points — (width 4, 1e-3) and (width 120,
    * 1e-4), both at success@5 = 1.0 on the 10M/1M clustered corpora —
    * clamped to [1e-5, 1e-2] so a degenerate width estimate (empty or
    * single-token corpus) cannot push the detector into float noise or
    * fire-on-everything territory. */
  private[graft] def defaultTieEps(avgDocWidth: Double): Double = {
    val w = math.max(avgDocWidth, 1.0)
    math.min(1e-2, math.max(1e-5, 1e-3 * math.pow(4.0 / w, 0.677)))
  }

  /** Average doc width (codes per doc) recovered from the byte-gate stats
    * the batch already has in hand: [[contextRelationStats]] sums
    * `8 + 8 x size(doc_codes) + 48` per row, so
    * `avgWidth = (bytes/rows - 56) / 8` — no extra job. */
  private[graft] def avgDocWidth(ctxRows: Long, ctxBytes: Long): Double =
    if (ctxRows <= 0L || ctxBytes == Long.MaxValue) 4.0
    else math.max(1.0, (ctxBytes.toDouble / ctxRows - 56.0) / 8.0)

  private[graft] def nspTieEps(spark: org.apache.spark.sql.SparkSession,
      ctxRows: Long, ctxBytes: Long): Double = {
    val conf = spark.conf.get(NspTieEpsKey, "auto")
    if (conf == "auto") defaultTieEps(avgDocWidth(ctxRows, ctxBytes))
    else conf.toDouble
  }

  /** Ranks inspected on each side of the cut boundary by the saturation
    * detector. */
  val NspTieSpan = 8

  /** Is the score distribution saturated at rank `base`? `scores` must be
    * sorted descending. True when the relative spread from the TOP-window
    * rank all the way down to window ranks past the cut is below `eps` —
    * phase-1 then cannot distinguish its best-kept candidates from the
    * docs it is cutting, which is exactly the tight-cluster mechanism that
    * loses the true doc (cluster-mates sharing the query's best code
    * multiset tie from rank 1 past the boundary, and the tie-break is
    * arbitrary). A flat continuum at the boundary BELOW a well-separated
    * top does NOT escalate: the cut is arbitrary only among docs that
    * phase-1 already ranked out of contention — measured on the 10M
    * clustered corpus, a boundary-local spread test fired for 210/212
    * queries (near-ties at any fixed rank are pervasive there) while this
    * top-anchored test fires only where the plateau genuinely reaches the
    * top. */
  private[graft] def boundarySaturated(scores: Array[Double], base: Int,
      eps: Double): Boolean = {
    val n = scores.length
    if (n <= base) false
    else {
      val hi = scores(math.max(0, math.min(NspTieSpan, base) - 1))
      val lo = scores(math.min(n - 1, base + NspTieSpan - 1))
      val ref = math.max(math.abs(scores(base - 1)), 1e-12)
      (hi - lo) / ref < eps
    }
  }

  /** The driver-side adaptive cut over the collected (query_id, doc_id,
    * score) pool: per query, sorted with [[TopKHeap.ranksBefore]] — the
    * phase-1 heap's OWN total order (NaN first, -0.0 == 0.0 tying to
    * doc_id), NOT a (-score, doc_id) tuple sort, whose negation sends NaN
    * last and splits the ±0.0 tie — so the non-escalated base cut keeps
    * bit-identically the docs the fixed-cut heap would have kept. Keep
    * `base` pairs, escalating to `esc` only when [[boundarySaturated]]
    * fires. Returns the kept pairs and the number of escalated queries
    * (exposed for the profiling breakdown). */
  private[graft] def adaptivePoolCut(rows: Array[(Long, Long, Double)],
      base: Int, esc: Int, eps: Double): (Array[(Long, Long)], Int) = {
    require(base >= 1, s"adaptive pool cut needs numSecondPass >= 1, got " +
      s"$base — the saturation detector anchors on the score at the cut")
    var escalated = 0
    val out = Array.newBuilder[(Long, Long)]
    rows.groupBy(_._1).foreach { case (qid, qRows) =>
      val sorted = qRows.sortWith((a, b) =>
        TopKHeap.ranksBefore(a._3, a._2, b._3, b._2))
      val keep =
        if (sorted.length <= base) sorted.length
        else if (boundarySaturated(sorted.map(_._3), base, eps)) {
          escalated += 1
          math.min(esc, sorted.length)
        } else base
      var i = 0
      while (i < keep) { out += ((qid, sorted(i)._2)); i += 1 }
    }
    (out.result(), escalated)
  }

  /** Opt-in per-batch phase breakdown (`true` records named driver-side
    * segment walls of each searchBatch call into [[lastProfile]]). The
    * segments partition the FIXED per-batch pipeline cost — the serving
    * floor on clustered geometry (COVERAGE.md round 15): everything here
    * runs serially on the driver or as a blocking action, so segment walls
    * sum to the in-call wall and the caller's final action accounts for
    * the rest. Off by default: two nanoTime calls per segment otherwise. */
  val ProfileKey = "graft.batch.profile"
  @volatile private[graft] var lastProfile: Map[String, Double] = Map.empty
  private final class Prof(val on: Boolean) {
    val buf = scala.collection.mutable.LinkedHashMap[String, Double]()
    def apply[A](name: String)(f: => A): A =
      if (!on) f
      else {
        val t0 = System.nanoTime()
        val r = f
        buf(name) = buf.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
        r
      }
  }

  /** BYTE gate for broadcasting the deduplicated doc -> codes context
    * snapshot to every executor — 1 GiB default, sized for the 8-16 GiB
    * executors of a production cluster (the old 16M-ROW gate was ~1.1 GB
    * only at 4 codes/doc; a 512-token ColBERT corpus is 64x fatter per
    * row, and a row budget would have sailed a ~66 GiB relation onto
    * every executor). Above the gate phase-1 walks the doc-partitioned
    * snapshot instead ([[IndexIVF.contextCodesPartitioned]]). Bytes are
    * MEASURED, not assumed — see [[contextRelationStats]] for the size
    * aggregate and its caching. */
  val BroadcastContextMaxBytesKey = "graft.batch.broadcastContextMaxBytes"
  private def broadcastContextMaxBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get(BroadcastContextMaxBytesKey, (1L << 30).toString).toLong

  /** Measured broadcastable-relation bytes for (tenant, field) — exactly
    * the left side of the [[BroadcastContextMaxBytesKey]] gate compare
    * (exposed so specs and capacity planning can read what the gate saw). */
  private[graft] def contextRelationBytes(idx: IndexIVF, tenant: Long,
      field: String): Long = contextRelationStats(idx, tenant, field)._2

  /** (visible rows, measured relation bytes) in one call — the batch path
    * needs both (rows stamps the [[IndexIVF.contextCodesBroadcast]] cache,
    * bytes feeds the gate). Bytes are the hashed-relation size of the
    * broadcastable doc -> codes relation, `sum(8 + 8*size(doc_codes) + 48)`
    * per row (doc_id + int64 codes + per-row hashed-relation overhead — the
    * same accounting the writeContext size gate applies to its codes term).
    * Both come from ONE column-pruned aggregate, run only on a miss of
    * [[IndexIVF.cachedContextStats]] (tick + persisted-epoch freshness):
    * the per-batch footer count was 0.27 s of the 1.9 s steady 10M batch,
    * re-measuring a value that only changes on mutation. */
  private[graft] def contextRelationStats(idx: IndexIVF, tenant: Long,
      field: String): (Long, Long) =
    idx.cachedContextStats(tenant, field) {
      val r = idx.contextDf
        .filter(col("tenant") === tenant && col("field") === idx.mapper.id(field))
        .select(count(lit(1)), coalesce(
          sum(lit(8L) + size(col("doc_codes")).cast("long") * 8L + lit(48L)),
          lit(0L)))
        .first()
      (r.getLong(0), r.getLong(1))
    }

  /** Target bytes per partition of the doc-partitioned context snapshot
    * (measured relation bytes / this = partition count, floored at the
    * cluster's default parallelism). 256 MiB default: big enough that the
    * per-batch per-partition fixed cost (task launch, per-query heap,
    * bitmap clear) stays amortized, small enough that one partition's
    * forward + inverted arrays sit comfortably inside an executor's
    * storage fraction. */
  val WalkPartitionBytesKey = "graft.batch.walkPartitionBytes"
  private def walkPartitionBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get(WalkPartitionBytesKey, (256L << 20).toString).toLong

  /** Walk one [[graft.functions.CtxCodes]] snapshot (or one doc-partition
    * of it) for a stream of queries: per query, candidates come from the
    * snapshot's inverted CSR postings ([[graft.functions.CtxCodes
    * .inverted]], the in-memory twin of the postings table by the
    * `explode(array_distinct(doc_codes))` write-path invariant), and a
    * bitmap dedups a doc matching several of the query's probes, so each
    * candidate is scored exactly once.
    *
    * With a `depth`, a [[graft.functions.TopKHeap]] applies the (score desc
    * NaN-first, doc_id asc) cut: emitted rows are exactly the rows
    * [[groupTopK]]'s TopKByScore would keep from this snapshot's docs, in
    * the heap's own total order — so per-partition cuts merged by one more
    * groupTopK reproduce the global cut bit-identically (a global
    * top-depth member is always inside its own partition's top-depth).
    * Without one, every candidate is emitted once, in walk order. */
  private[query] def walkQueries(ctx: graft.functions.CtxCodes,
      qProbes: Iterator[(Long, Array[Long])],
      queries: Map[Long, Array[Float]], queriesT: Map[Long, Array[Float]],
      cent: Array[Float], dim: Int,
      depth: Option[Int]): Iterator[(Long, Long, Double)] = {
    val inv = ctx.inverted
    // one bitmap per snapshot walk, cleared per query
    val seen = new java.util.BitSet(ctx.numDocs)
    def candidates(qid: Long, probes: Array[Long])(emit: (Long, Double) => Unit): Unit = {
      seen.clear()
      var pi = 0
      while (pi < probes.length) {
        val c = probes(pi)
        if (c >= 0 && c < inv.numCentroids) {
          val ci = c.toInt
          var j = inv.offsets(ci)
          val end = inv.offsets(ci + 1)
          while (j < end) {
            val pos = inv.docPos(j)
            if (!seen.get(pos)) {
              seen.set(pos)
              emit(ctx.docIds(pos), graft.functions.BatchCtxCentroidScore.compute(
                qid, ctx, pos, queries, queriesT, cent, dim))
            }
            j += 1
          }
        }
        pi += 1
      }
    }
    qProbes.flatMap { case (qid, probes) =>
      depth match {
        case Some(d) =>
          val heap = new graft.functions.TopKHeap(d)
          candidates(qid, probes)(heap.insert)
          // same output order as TopKByScore.eval: the heap's own total
          // order (NaN-first descending, doc_id ascending on ties)
          val order = Array.range(0, heap.size).sortWith((a, b) =>
            heap.ranksBefore(heap.scores(a), heap.ids(a),
              heap.scores(b), heap.ids(b)))
          order.iterator.map(i => (qid, heap.ids(i), heap.scores(i)))
        case None =>
          val out = Array.newBuilder[(Long, Long, Double)]
          candidates(qid, probes)((id, score) => out += ((qid, id, score)))
          out.result().iterator
      }
    }
  }

  /** Phase-1 of every search, batch and single: the queries walk the
    * cached context snapshot ([[walkQueries]]) in executor tasks and come
    * back as a lazy (query_id, doc_id, score) frame. No table is scanned
    * once the snapshot is built. `stats` is the (rows, bytes) pair of
    * [[contextRelationStats]]; the byte gate picks where the snapshot
    * lives:
    *  - within [[BroadcastContextMaxBytesKey]] it is one broadcast
    *    ([[IndexIVF.contextCodesBroadcast]]) and the queries are packed
    *    into ~2 x cores walk tasks;
    *  - past it the snapshot is DOC-PARTITIONED across executors
    *    ([[IndexIVF.contextCodesPartitioned]]) and every query walks every
    *    partition.
    *
    * `depth` cuts each query's candidates to a pool (the batch pool); past
    * the gate the per-partition cuts merge through one partial-heap
    * shuffle (<= partitions x queries x depth rows). Without a depth every
    * candidate is returned once — the partitions are doc-disjoint, so no
    * merge is needed. */
  private[query] def phase1(idx: IndexIVF, tenant: Long, field: String,
      stats: (Long, Long),
      bQueries: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Float]]],
      qProbes: Seq[(Long, Array[Long])], depth: Option[Int]): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val dim = idx.schema.field(field).parameters.dimensions
    val bcCent = idx.centroidBroadcast(field)
    val (ctxRows, ctxBytes) = stats
    val gate = broadcastContextMaxBytes(spark)
    if (ctxBytes <= gate) {
      val bcCtx = idx.contextCodesBroadcast(tenant, field, ctxRows, ctxBytes, gate)
      // pack queries into ~2 x cores partitions: the per-task fixed cost
      // (launch, bitmap allocation, per-partition query transpose) was
      // ~40 % of the walk stage at one-task-per-query x 212; per-query
      // work varies little on a clustered corpus, so coarse packing
      // loses negligible balance
      val walkParts = math.max(1, math.min(qProbes.size,
        spark.sparkContext.defaultParallelism * 2))
      spark.sparkContext.parallelize(qProbes, walkParts)
        .mapPartitions { it =>
          val queries = bQueries.value
          val queriesT =
            graft.functions.BatchCtxCentroidScore.transposeAll(queries, dim)
          walkQueries(bcCtx.value, it, queries, queriesT, bcCent.value, dim, depth)
        }
        .toDF("query_id", "doc_id", "score")
    } else {
      val partsRdd = idx.contextCodesPartitioned(tenant, field, ctxRows, ctxBytes,
        walkPartitionBytes(spark))
      val bcProbes = spark.sparkContext.broadcast(qProbes)
      val walked = partsRdd.mapPartitions { ctxIt =>
        val queries = bQueries.value
        val queriesT =
          graft.functions.BatchCtxCentroidScore.transposeAll(queries, dim)
        val cent = bcCent.value
        val qps = bcProbes.value
        ctxIt.flatMap(ctx =>
          walkQueries(ctx, qps.iterator, queries, queriesT, cent, dim, depth))
      }.toDF("query_id", "doc_id", "score")
      // per-partition cuts are local top-depth supersets of the global
      // cut, so one more groupTopK reproduces it bit-exactly
      depth.fold(walked)(groupTopK(walked, _))
    }
  }

  /** Max doc_id literals in the phase-2 multiget's pushed-down IN-list.
    * Below it the IN-set row-group-prunes the doc_id-sorted context files
    * (worth real IO on a small interactive pool); above it the literals
    * cost more than the pruning returns — Spark re-ANALYZES the plan on
    * every transformation, walking batch x nsp literal nodes (measured
    * 1.2 s/batch at the 212 x 256 shape, r17 breakdown) — and the pool's
    * id density saturates every granule a columnar scan can skip anyway (a
    * 54k-id pool over 10M docs touches every `doc_bucket % 64` directory,
    * row group and page: the r17 breakdown measured a scan decoding all 10M
    * context rows / 40.6 core-s per batch to keep 54k). Past it the ids
    * multiget the record-addressable [[graft.index.PointStore]] instead: IO
    * and decode are O(pool) — the reference's analogue is an O(#ids)
    * RocksDB MultiGet, RocksdbForwardIndex.cpp:44-92. The store builds once
    * per index state (a corpus-sized shuffle, same class as the CtxCodes
    * snapshot build; `warmBatchCaches` pre-builds it) and serves from
    * immutable record files after. */
  val MaxDocIdInListKey = "graft.rerank.maxDocIdInList"
  private def maxDocIdInList(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get(MaxDocIdInListKey, "4096").toInt

  /** A point-store build started on a background thread ahead of the work
    * that may need it, so two jobs are in flight. Its failure never
    * goes unseen: [[await]] rethrows it to a consumer; [[release]] — called
    * when the caller will not consume the build — attaches an
    * already-failed build's error to the caller's own error as a
    * suppressed exception, and otherwise logs a warning when the build
    * fails, without waiting for it. */
  private final class SpeculativeBuild[A](name: String, body: () => A) {
    private val claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val reported = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val task = new java.util.concurrent.FutureTask[A](() => body()) {
      override def done(): Unit = if (released.get) report(None)
    }
    locally {
      val th = new Thread(task, name)
      th.setDaemon(true)
      th.start()
    }

    def await(): A = {
      claimed.set(true)
      try task.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    }

    /** No-op after [[await]]: the consumer already saw the outcome. A build
      * still running reports from its own completion hook; the `reported`
      * flag keeps a completion racing this call to one report. */
    def release(primary: Option[Throwable]): Unit =
      if (!claimed.get && released.compareAndSet(false, true) && task.isDone)
        report(primary)

    private def report(primary: Option[Throwable]): Unit =
      if (!task.isCancelled) {
        val failure =
          try { task.get(); None }
          catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
        failure.filter(_ => reported.compareAndSet(false, true)).foreach { e =>
          primary match {
            case Some(p) => p.addSuppressed(e)
            case None => log.warn(s"$name: speculative point-store build failed " +
              "(the batch did not consume it; the next batch that needs the " +
              "store retries the build)", e)
          }
        }
      }
  }

  /** Pre-builds the serving caches the FIRST batch after open()/a mutation
    * would otherwise pay in-band (r16 breakdown: at the 10M shape the
    * context-snapshot build — a gated ~839 MiB driver collect + CSR build +
    * broadcast — lands entirely on that cold batch; warmed, it shows as
    * 0.000 s): the centroid-matrix broadcast, the context snapshot phase-1
    * walks — [[IndexIVF.contextCodesBroadcast]] under the
    * [[BroadcastContextMaxBytesKey]] gate, [[IndexIVF
    * .contextCodesPartitioned]] past it, inverted views materialized — and,
    * when the index holds more docs than [[MaxDocIdInListKey]], the phase-2
    * [[graft.index.PointStore]]. Call once at open for latency-sensitive
    * serving. Idempotent until the next mutation. */
  def warmBatchCaches(idx: IndexIVF, tenant: Long, field: String): Unit = {
    val spark = idx.spark
    idx.centroidBroadcast(field)
    val (rows, bytes) = contextRelationStats(idx, tenant, field)
    // OVERLAP the two one-time corpus-sized builds: the point-store build
    // is a distributed bucketed write, the snapshot build a gated driver
    // collect + CSR (+ broadcast) or a partitioned shuffle — independent
    // derived state, each behind its own build lock, so the warm wall is
    // max(build, build) instead of their sum. The store is built only when
    // a pool can reach it: a pool holds at most `rows` distinct ids, and
    // pools within the IN-list threshold never read the store.
    // BatchSearchSpec pins warmed == unwarmed rows and the jobless
    // idempotent re-warm.
    val store =
      if (rows > maxDocIdInList(spark))
        Some(new SpeculativeBuild("graft-warm-pointstore",
          () => idx.pointStore(tenant, field, Some(rows))))
      else None
    try {
      val gate = broadcastContextMaxBytes(spark)
      if (bytes <= gate) {
        // materialize the inverted postings view the walk reads (lazy on
        // the snapshot object): in local mode the broadcast value IS the
        // driver's instance, so this removes the first batch's in-band
        // inversion; on a cluster each executor still inverts once on
        // first use (a few hundred ms at the 34M-code 10M-doc shape)
        idx.contextCodesBroadcast(tenant, field, rows, bytes, gate).value.inverted
      } else {
        idx.contextCodesPartitioned(tenant, field, rows, bytes,
          walkPartitionBytes(spark))
          .foreachPartition(_.foreach { ctx => ctx.inverted; () })
      }
    } catch { case e: Throwable => store.foreach(_.release(Some(e))); throw e }
    store.foreach(_.await())
  }

  /** groupBy(query_id) -> bounded-heap top-nsp -> explode back to
    * (query_id, doc_id, score) rows. Raises the ObjectHashAggregate
    * sort-fallback threshold (default 128 KEYS) above any sane batch size:
    * falling back would re-introduce the full candidate-stream sort the
    * heap exists to avoid. Session-wide by necessity — the conf is read at
    * execution, after this function returns its lazy plan. */
  private def groupTopK(scored: DataFrame, nsp: Int): DataFrame = {
    val spark = scored.sparkSession
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    if (spark.conf.get(key, "128").toInt < 65536) spark.conf.set(key, "65536")
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore(col("doc_id"), col("score"), nsp).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("e"))
      .select(col("query_id"), col("e.doc_id").as("doc_id"),
        col("e.score").as("score"))
  }

  /** One task's per-query top-k: (query_id, kept doc_ids, their scores). */
  private[graft] type TaskTopK = (Long, Array[Long], Array[Double])

  /** One [[TopKHeap]](k) per query over a stream of scored (query_id,
    * doc_id, score) rows, each query's kept entries emitted once. The heap
    * keeps one entry per doc_id (first offer wins), so a doc whose context
    * row was added twice still ranks once. Phase-2 tasks run it over the
    * pairs they rerank; the driver merge runs it again over the tasks'
    * heaps — a global top-k member is always inside its own task's top-k,
    * so the merge keeps exactly the global cut. */
  private[graft] def taskTopK(scored: Iterator[(Long, Long, Double)],
      k: Int): Iterator[TaskTopK] = {
    val heaps = scala.collection.mutable.HashMap.empty[Long, TopKHeap]
    // k < 1 keeps nothing (a TopKHeap needs one slot)
    if (k >= 1) scored.foreach { case (q, d, s) =>
      heaps.getOrElseUpdate(q, new TopKHeap(k)).insert(d, s)
    }
    heaps.iterator.map { case (q, h) =>
      (q, java.util.Arrays.copyOf(h.ids, h.size),
        java.util.Arrays.copyOf(h.scores, h.size))
    }
  }

  private val ResultSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("query_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.DoubleType, nullable = true)))

  /** The driver merge: the entries go through [[taskTopK]] once more and
    * come back as a local (query_id, doc_id, score) frame in (query_id,
    * score desc, doc_id) order — [[TopKHeap.ranksBefore]], the order the
    * heaps keep (NaN first, ties on doc_id ascending). */
  private def topKFrame(spark: org.apache.spark.sql.SparkSession,
      entries: Iterator[(Long, Long, Double)], k: Int): DataFrame = {
    val rows = taskTopK(entries, k).toSeq.sortBy(_._1).flatMap {
      case (q, ids, scores) =>
        ids.indices.sortWith((a, b) =>
          TopKHeap.ranksBefore(scores(a), ids(a), scores(b), ids(b)))
          .map(i => org.apache.spark.sql.Row(q, ids(i), scores(i)))
    }
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, ResultSchema)
  }

  /** Phase-2: multiget the pooled docs' residuals, rescore each (query,
    * doc) pair exactly, and keep a per-query top-k inside the scoring
    * tasks ([[taskTopK]]). The route switches on the pool's distinct ids
    * (see [[MaxDocIdInListKey]]): a small pool's doc_id IN-set genuinely
    * prunes the doc_id-sorted context files, so it stays a scan; a big one
    * multigets the record-addressable PointStore, resolved by `store`. On
    * both routes the pool reaches the tasks in one broadcast, and only
    * the heaps come back — <= tasks x queries x k entries, and never more
    * than the pool's pairs. */
  private def rerankTopK(idx: IndexIVF, tenant: Long, field: String,
      poolRows: Array[(Long, Long)],
      bQueries: org.apache.spark.broadcast.Broadcast[Map[Long, Array[Float]]],
      k: Int, inListMax: Int, store: () => (String, Int)): Array[TaskTopK] = {
    val spark = idx.spark
    import spark.implicits._
    val dim = idx.schema.field(field).parameters.dimensions
    val bq = spark.sparkContext.broadcast(idx.quantizers(field))
    // one decode+score kernel for both routes: a doc's residuals are
    // decoded and L2-normalized once, then scored against each query that
    // pooled it; the token count is the residual length over the code
    // size (the write-path invariant resLen == nTokens x codeSize)
    val scorer: Array[Byte] => Long => Double = residuals => {
      val quant = bq.value
      val n = residuals.length / quant.codeSize
      val doc = new Array[Float](n * dim)
      var i = 0
      while (i < n) {
        val tok = quant.decode(java.util.Arrays.copyOfRange(
          residuals, i * quant.codeSize, (i + 1) * quant.codeSize))
        System.arraycopy(tok, 0, doc, i * dim, dim)
        i += 1
      }
      Plaid.l2NormalizeInPlace(doc, n, dim)
      qid => {
        val q = bQueries.value(qid)
        Plaid.scoreByResiduals(q, q.length / dim, doc, n, dim, normalize = false).toDouble
      }
    }
    val ids = poolRows.map(_._2).distinct
    if (ids.length > inListMax) {
      val (storeDir, storeBuckets) = store()
      // bounded: one heap per (task, query) over the pool's poolRows,
      // which the caller's maxPoolBytes require bounds
      graft.index.PointStore.multigetScore(spark, storeDir, storeBuckets,
        poolRows, scorer)
        .mapPartitions(taskTopK(_, k)).collect()
    } else {
      val bPool = spark.sparkContext.broadcast(poolRows.groupMap(_._2)(_._1))
      val buckets = ids.map(IndexIVF.docBucketOf).distinct.toSeq
      val heaps = idx.contextDf
        .filter(col("tenant") === tenant && col("field") === idx.mapper.id(field) &&
          col("doc_bucket").isin(buckets: _*) &&
          col("doc_id").isInCollection(ids.toSeq))
        .select(col("doc_id"), col("doc_residuals"))
        .mapPartitions { rows =>
          val pool = bPool.value
          taskTopK(rows.flatMap { r =>
            val doc = r.getLong(0)
            val score = scorer(r.getAs[Array[Byte]](1))
            pool(doc).iterator.map(q => (q, doc, score(q)))
          }, k)
        }
      // bounded: one heap per (task, query) over the pool's poolRows,
      // which the caller's maxPoolBytes require bounds
      heaps.collect()
    }
  }

  /** Session-conf side effect (documented, deliberate): when the context
    * outgrows the broadcast gate, the per-partition pool cuts merge through
    * [[groupTopK]], which RAISES
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` to 65536
    * for the WHOLE session if it is below — the conf is read at execution
    * time, after this function has returned its lazy plan, so it cannot be
    * scoped to the returned frame. A lower threshold would make the
    * top-k ObjectHashAggregate fall back to sort-based past 128 query
    * keys, re-introducing the full candidate-stream sort the heap exists
    * to avoid. Other ObjectHashAggregates in the session will also hold up
    * to 65536 keys in memory before spilling; callers who care should
    * save/restore the conf around their action.
    *
    * @param queries one row per query: (query_id: long,
    *                tokens: array<array<float>>) */
  def searchBatch(idx: IndexIVF, tenant: Long, field: String, queries: DataFrame,
      k: Int, opts: SearchOptions = SearchOptions()): DataFrame = {
    val spark = idx.spark
    if (!idx.coarse.contains(field))
      throw new IllegalStateException(s"field $field is not trained")

    // driver-side per-query planning, capped by an explicit gate: the
    // limit() collects at most maxQueries+1 rows, and the require turns an
    // over-budget batch into an actionable error instead of a driver OOM
    // (each query row is ~nq x dim floats — 16 KiB at ColBERT shape — so
    // the default 16384-query cap is ~256 MiB of driver heap). Planning
    // semantics shared with the single-query path via Searcher.probes.
    val prof = new Prof(spark.conf.get(ProfileKey, "false").toBoolean)
    val maxQ = maxBatchQueries(spark)
    val qRows = prof("plan_queries_collect") {
      queries.select(col("query_id"), col("tokens"))
        .limit(math.min(maxQ.toLong + 1L, Int.MaxValue.toLong).toInt)
        .collect().map { r =>
          val qid = r.getLong(0)
          val toks = r.getSeq[scala.collection.Seq[Float]](1).map(_.toArray).toArray
          qid -> toks
        }
    }
    require(qRows.length <= maxQ,
      s"searchBatch received more than $maxQ queries " +
        s"(gate $MaxBatchQueriesKey): split the batch into multiple " +
        "searchBatch calls, or raise the gate if the driver has the heap")
    // queries plan independently (stateless scoreBlock/topCentroids,
    // per-call output arrays), and the matrix fills are the driver's own
    // SIMD flops — 212 x (nq x K x dim) ran 0.6-0.8 s single-threaded per
    // batch at the 10M shape (r17 breakdown), so planning fans out across
    // the driver's cores; the parallel map preserves input order.
    val plans = prof("plan_probe_select") {
      import scala.collection.parallel.CollectionConverters._
      qRows.par.map { case (qid, toks) =>
        (qid, toks, Searcher.probes(idx, VectorQuery(field, toks), opts))
      }.seq.toIndexedSeq
    }

    // per-query token vectors ride in ONE small broadcast (batch x nq x dim
    // floats, ~0.4 MiB for 212 queries) shared by the phase-1 walk and the
    // phase-2 rerank; the centroid matrix rides in the per-index cached
    // broadcast. Nothing K-proportional ships with the plan (the earlier
    // per-query score-matrix plan constant was 159 MiB at 212 queries/
    // K=49152, measured 4.1 s/query at the 10M-doc shape).
    val bQueries = prof("plan_bquery_bcast") {
      spark.sparkContext.broadcast(
        plans.map { case (qid, toks, _) => qid -> toks.flatten }.toMap)
    }
    // the probe lists ride in the task closures (batch x nProbe longs,
    // ~50 KiB for 212 queries — nothing corpus- or K-proportional)
    val qProbes = plans.map { case (qid, _, probes) => (qid, probes) }

    // broadcast-context gate: the stats are cached per index state — see
    // contextRelationStats
    val (ctxRows, ctxBytes) = prof("gate_ctx_bytes") {
      contextRelationStats(idx, tenant, field)
    }
    // saturation-aware escalation (see NspEscalateKey): the heap keeps esc
    // candidates; the driver-side cut below decides per query
    val esc = nspEscalate(spark)
    val adaptive = esc > opts.numSecondPass && opts.secondPass
    val poolDepth = if (adaptive) esc else opts.numSecondPass

    // OVERLAP the phase-2 point-store resolve with phase-1: the pool can
    // only route through the store when its distinct ids can exceed the
    // IN-list threshold — at most queries x poolDepth pairs, and at most
    // ctxRows distinct ids — so only then kick the (idempotent,
    // build-locked, once-per-index-state) resolve BEFORE the phase-1
    // action: a cold first batch then pays max(phase-1, store build)
    // instead of their sum. When the deduped pool lands under the
    // threshold after all, the build still caches state every later
    // over-threshold batch reads.
    val inListMax = maxDocIdInList(spark)
    val storeTask =
      if (opts.secondPass &&
          math.min(plans.length.toLong * poolDepth, ctxRows) > inListMax)
        Some(new SpeculativeBuild("graft-batch-pointstore",
          () => idx.pointStore(tenant, field, Some(ctxRows))))
      else None

    val result = try {
      val walked = prof("ctx_snapshot_resolve") {
        phase1(idx, tenant, field, (ctxRows, ctxBytes), bQueries, qProbes,
          Some(poolDepth))
      }
      // the pool cut is <= batch x poolDepth (query_id, doc_id[, score])
      // rows — the bound is known at plan time, so guard BEFORE the
      // collect; a scored pool (the adaptive cut judges boundary
      // saturation, and without phase-2 the scores are the result) carries
      // 8 B more per pair
      def collectPool(scored: Boolean): Array[(Long, Long, Double)] = {
        val pairBytes = if (scored) PoolPairBytes + 8L else PoolPairBytes
        val poolBytes = plans.length.toLong * poolDepth * pairBytes
        require(poolBytes <= maxPoolBytes(spark),
          s"phase-2 pool would collect ~$poolBytes bytes on the driver " +
            s"(${plans.length} queries x poolDepth=$poolDepth " +
            s"x $pairBytes B/pair, limit ${maxPoolBytes(spark)}): split " +
            s"the batch into smaller searchBatch calls, lower " +
            s"numSecondPass, or raise $MaxPoolBytesKey")
        prof("phase1_pool_action") {
          // bounded: <= queries x poolDepth rows, byte-gated by the
          // maxPoolBytes require just above
          if (scored) walked.select(col("query_id"), col("doc_id"), col("score"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          else walked.select(col("query_id"), col("doc_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1), 0.0))
        }
      }

      if (!opts.secondPass) topKFrame(spark, collectPool(scored = true).iterator, k)
      else {
        val poolRows: Array[(Long, Long)] =
          if (adaptive) {
            val (kept, escalated) = adaptivePoolCut(collectPool(scored = true),
              opts.numSecondPass, esc, nspTieEps(spark, ctxRows, ctxBytes))
            if (prof.on) prof.buf("adaptive_escalated_queries") = escalated.toDouble
            kept
          } else collectPool(scored = false).map(p => (p._1, p._2))
        val heaps = if (poolRows.isEmpty) Array.empty[TaskTopK] else
          prof("rerank_topk") {
            rerankTopK(idx, tenant, field, poolRows, bQueries, k, inListMax,
              () => prof("pointstore_resolve") {
                // started above unless a racing write grew the pool past
                // the ctxRows the start rule read
                storeTask.fold(idx.pointStore(tenant, field, Some(ctxRows)))(_.await())
              })
          }
        topKFrame(spark, heaps.iterator.flatMap { case (q, ids, scores) =>
          ids.indices.iterator.map(i => (q, ids(i), scores(i)))
        }, k)
      }
    } catch { case e: Throwable => storeTask.foreach(_.release(Some(e))); throw e }
    // no-op when phase-2 consumed the build; otherwise its failure is
    // logged rather than lost
    storeTask.foreach(_.release(None))

    if (prof.on) lastProfile = prof.buf.toMap
    result
  }
}
