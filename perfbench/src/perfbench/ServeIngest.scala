package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode}

import graft.index.IndexIVF
import graft.quantizers.CoarseQuantizer
import graft.query.{AndQuery, TermQuery, VectorQuery}

/** Serving on a built and warmed index, then writes beside reads.
  *
  * Set-up builds the index from empty (create + train + bulk add +
  * warmBatchCaches) several times; the last one serves. One closed-loop
  * client then runs warm serving cycles (three batches, a single vector search,
  * three batches, a vector-and-term search) and after them write rounds: add(delta) -> batch
  * (cold: the mutation invalidated the derived caches) -> batch (steady) ->
  * remove(the delta) -> batch. Removing the round's own delta keeps the index
  * at its base size. */
object ServeIngest extends Workload {
  val name = "serve_ingest"
  val why = "212-query batches, single and filtered searches on a built, warmed index, then " +
    "add/remove rounds whose batches run with the derived caches invalidated"
  val nearIdle = Seq("graft.queries TextPipeline")

  val NumDocs = 1000
  val NumCentroids = 256
  val DeltaDocs = 32
  val SetupReps = 3
  /** A run's first batch takes about twice as long as the later ones and its
    * second often up to 10% longer; from the third on, batches vary only
    * with the host. One cycle, two batches, is therefore discarded. */
  val WarmupCycles = 1

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    val c = new Gen.Clustered(seed)
    Gen.writeDocs(spark, c, 0, NumDocs, s"$dir/docs.parquet", files = 4)
    (0 until 2).foreach { r =>
      val from = NumDocs + r.toLong * DeltaDocs
      Gen.writeDocs(spark, c, from, from + DeltaDocs, s"$dir/delta/round=$r", files = 1)
    }
    Gen.writeQueries(spark, c, 0L until Gen.NumQueries, s"$dir/queries.parquet")
  }

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val (spark, tr, rep) = (ctx.spark, ctx.tracer, ctx.report)

    // set-up: create + train + add + warmBatchCaches, several times
    var idx: IndexIVF = null
    val buildMs = Vector.newBuilder[Double]
    val setupS = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      idx = tr.span("op.setup") {
        val docs = spark.read.parquet(s"${ctx.inputs}/docs.parquet")
        val ix = IndexIVF.create(spark, s"${ctx.work}/index_$r", Serving.schema(NumCentroids))
        val tb = System.nanoTime()
        tr.span("index.train")(ix.train(docs))
        tr.span("index.add")(ix.add(Serving.Tenant, docs))
        buildMs += (System.nanoTime() - tb) / 1e6
        tr.span("index.warm") {
          if (ctx.traced) {
            // split the warm into its two builds (run one after the other here)
            tr.span("index.pointstore_build")(ix.pointStore(Serving.Tenant, Serving.Field))
            tr.span("index.snapshot_build")(ix.warmBatchCaches(Serving.Tenant, Serving.Field))
          } else ix.warmBatchCaches(Serving.Tenant, Serving.Field)
        }
        ix
      }
      (System.nanoTime() - t0) / 1e9
    }
    val retained = Serving.heapUsedAfterGc()
    rep.phases += s"set-up x$SetupReps" -> setupS.sum
    val indexBytes = Serving.Tables.map(t =>
      Serving.dirBytes(java.nio.file.Paths.get(idx.path, t))).sum.toDouble
    val filesWritten = Serving.Tables.map(t => Serving.parquetFiles(s"${idx.path}/$t")).sum

    val qs = Serving.readQueries(spark, s"${ctx.inputs}/queries.parquet")
    val qFrame = Serving.queryFrame(spark, qs)
    val planted = qs.map(_.id)
    var reference: Serving.Results = null

    def batchOp(): Option[Double] =
      ctx.op("batch")(tr.span("op.batch")(Serving.batch(ctx, idx, qFrame, "query.batch"))) { res =>
        if (reference == null) { reference = res; None }
        else if (res.keySet != reference.keySet ||
          res.exists { case (q, rows) => !Serving.sameRows(rows, reference(q)) })
          Some("repeated batch on the warm index returned different rows")
        else None
      }.map(_._2)

    def singleOp(q: Serving.Query): Option[Double] =
      ctx.op(s"single search q=${q.id}")(tr.span("op.single")(
        Serving.single(ctx, idx, VectorQuery(Serving.Field, q.tokens), "query.single"))) { rows =>
        if (Serving.sameRows(rows, Option(reference).flatMap(_.get(q.id)).getOrElse(Nil))) None
        else Some("single-query rows differ from the batch rows of the same query")
      }.map(_._2)

    def filteredOp(q: Serving.Query): Option[Double] =
      ctx.op(s"filtered search q=${q.id}")(tr.span("op.filtered")(
        Serving.single(ctx, idx, AndQuery(Seq(VectorQuery(Serving.Field, q.tokens),
          TermQuery("n_chars", q.term))), "query.filtered"))) { rows =>
        if (rows.isEmpty) Some("filtered search returned no rows")
        else if (rows.exists { case (d, _) => Gen.termValue(d) != q.term })
          Some("filtered search returned a doc outside the term filter")
        else None
      }.map(_._2)

    // warm-up, untraced so that the layer spans hold timed ops only
    var warmBatches = Vector.empty[Double]
    var cycle = 0
    tr.active = false
    ctx.phase("warm-up") {
      while (cycle < WarmupCycles) {
        val q = qs(cycle % qs.size)
        warmBatches ++= batchOp(); singleOp(q); warmBatches ++= batchOp(); filteredOp(q)
        cycle += 1
      }
    }
    rep.notes += s"warm-up discarded $cycle cycles (${4 * cycle} ops); batch ms: " +
      warmBatches.map(v => f"$v%.0f").mkString(", ")

    // timed: warm cycles for the window, then write rounds; in a traced
    // run every other cycle and round runs untraced
    val batches, singles, filtered = Vector.newBuilder[Double]
    val tracedB, untracedB = Vector.newBuilder[Double]
    var (ops, busyMs) = (0, 0.0)
    def timed(ms: Double): Double = { ops += 1; busyMs += ms; ms }
    def timedBatch(): Unit = batchOp().map(timed).foreach { ms =>
      batches += ms
      (if (tr.active) tracedB else untracedB) += ms
    }
    System.gc()
    val t0 = System.nanoTime()
    val n = ctx.timedLoop { n =>
      tr.active = ctx.traced && n % 2 == 1
      val q = qs(cycle % qs.size)
      timedBatch(); timedBatch(); timedBatch()
      singleOp(q).map(timed).foreach(singles += _)
      timedBatch(); timedBatch(); timedBatch()
      filteredOp(q).map(timed).foreach(filtered += _)
      cycle += 1
    }

    val deltas = spark.read.parquet(s"${ctx.inputs}/delta")
    val removed = scala.collection.mutable.Set[Long]()
    def noRemoved(res: Serving.Results): Option[String] =
      res.values.flatten.collectFirst { case (d, _) if removed(d) => s"removed doc $d came back" }
    val deltaVisible, removeVisible, steadyB, selfRank1 = Vector.newBuilder[Double]
    (0 until ctx.minIterations).foreach { round =>
      tr.active = ctx.traced && round % 2 == 0
      val delta = deltas.filter(col("round") === round).drop("round")
      val ids = NumDocs + round.toLong * DeltaDocs until NumDocs + (round + 1L) * DeltaDocs
      // the round's batch: the planted queries plus each delta doc's own tokens
      val selfQueries = spark.read.parquet(s"${ctx.inputs}/delta/round=$round")
        .select(col("id").as("query_id"), col("colbert").as("tokens"))
      val roundFrame = qFrame.unionByName(selfQueries)
      var cold: Serving.Results = null
      ctx.op(s"add delta round $round")(tr.span("op.delta_visible") {
        tr.span("index.add_delta")(idx.add(Serving.Tenant, delta))
        Serving.batch(ctx, idx, roundFrame, "query.batch_cold")
      }) { res =>
        cold = res
        // top 5, not rank 1: the BINARIZER rerank scores decoded residuals,
        // so a near neighbour can outscore a doc's exact copy of itself
        selfRank1 ++= ids.map(d => if (res.get(d).exists(_.headOption.exists(_._1 == d))) 1.0 else 0.0)
        noRemoved(res).orElse(ids.collectFirst {
          case d if !res.get(d).exists(_.take(5).exists(_._1 == d)) =>
            val rows = res.getOrElse(d, Nil)
            s"delta doc $d is not in the top 5 for its own tokens: top ${rows.take(5).mkString(", ")}"
        })
      }.foreach(r => deltaVisible += timed(r._2))
      ctx.op(s"steady batch round $round")(tr.span("op.round_batch")(
        Serving.batch(ctx, idx, roundFrame, "query.batch_round"))) { res =>
        if (cold != null && res.exists { case (q, rows) =>
          !Serving.sameRows(rows, cold.getOrElse(q, Nil)) })
          Some("steady batch differs from the cold batch on the same index state")
        else None
      }.foreach(r => steadyB += timed(r._2))
      ctx.op(s"remove round $round")(tr.span("op.remove_visible") {
        tr.span("index.remove")(idx.remove(Serving.Tenant, ids))
        removed ++= ids
        Serving.batch(ctx, idx, roundFrame, "query.batch_cold")
      })(noRemoved).foreach(r => removeVisible += timed(r._2))
    }
    rep.phases += "timed loop" -> (System.nanoTime() - t0) / 1e9
    tr.active = ctx.traced
    rep.notes += s"$n warm cycles, then ${ctx.minIterations} rounds of add($DeltaDocs) / cold " +
      s"batch / steady batch / remove($DeltaDocs) + batch; round batches hold " +
      s"${qs.size + DeltaDocs} queries"

    val (b, s, f) = (batches.result(), singles.result(), filtered.result())
    val success = if (reference == null) 0.0 else Serving.successAt5(reference, planted)
    val setup = Stats.median(setupS)
    rep.named("setup_s") = (setup, "s")
    Ops.latency(rep, "batch_ms", b)
    Ops.latency(rep, "single_ms", s)
    rep.named("filtered_ms_p50") = (Stats.median(f), "ms")
    rep.named("success_at_5") = (success, "fraction")
    rep.named("retained_heap_mb") = (retained / 1048576.0, "MiB")
    rep.named("build_docs_per_s") = (NumDocs / (Stats.median(buildMs.result()) / 1000), "docs/s")
    rep.named("delta_visible_ms_p50") = (Stats.median(deltaVisible.result()), "ms")
    rep.named("remove_visible_ms_p50") = (Stats.median(removeVisible.result()), "ms")
    rep.named("steady_batch_after_write_ms_p50") = (Stats.median(steadyB.result()), "ms")
    val rank1 = selfRank1.result()
    rep.named("delta_self_rank1_share") = (rank1.sum / rank1.size, "fraction")
    rep.named("index_bytes_per_input_byte") =
      (indexBytes / (NumDocs.toDouble * Gen.TokensPerDoc * Gen.Dim * 4), "ratio")
    rep.endToEnd("setup_s") = (setup, "s")
    rep.endToEnd("op_ms_p50") = (Stats.median(b), "ms")
    rep.endToEnd("ops_per_s") = (ops / (busyMs / 1000), "1/s")
    rep.endToEnd("quality") = (success, "fraction")

    if (ctx.traced) {
      Serving.diskBytes(rep, idx, idx.pointStore(Serving.Tenant, Serving.Field)._1
        .stripPrefix("file:"))
      rep.layers("index.add.files_written") = (filesWritten.toDouble, "count")
      rep.layers("trace.overhead_pct") =
        (Layers.overheadPct(tracedB.result(), untracedB.result()), "%")
      quantizers(ctx, spark.read.parquet(s"${ctx.inputs}/docs.parquet"))
    }
  }

  /** Direct CoarseQuantizer calls on this workload's own tokens. */
  private def quantizers(ctx: Ctx, docs: DataFrame): Unit = {
    val tokens = docs.select(explode(col("colbert")).as("vec"))
    val t0 = System.nanoTime()
    val cq = CoarseQuantizer.train(tokens, NumCentroids, 4)
    val trainMs = (System.nanoTime() - t0) / 1e6
    val flat = tokens.collect().flatMap(_.getSeq[Float](0))
    val n = flat.length / Gen.Dim
    val t1 = System.nanoTime()
    cq.assignBlock(flat, n)
    val assignMs = (System.nanoTime() - t1) / 1e6
    ctx.report.layers("quantizers.coarse_train_ms") = (trainMs, "ms")
    ctx.report.layers("quantizers.assign_ms") = (assignMs, "ms")
    ctx.report.layers("quantizers.assign_macs") = (n.toDouble * NumCentroids * Gen.Dim, "count")
  }
}

object Ops {
  /** `<name>_p50` and `<name>_tail`, with the tail's percentile and the
    * sample count in a note. */
  def latency(rep: Report, name: String, xs: Seq[Double]): Unit = {
    rep.named(s"${name}_p50") = (Stats.median(xs), "ms")
    Stats.tail(xs) match {
      case Some((pct, v)) =>
        rep.named(s"${name}_tail") = (v, "ms")
        rep.notes += f"${name}_tail is p$pct%.1f of ${xs.size} samples"
      case None =>
        rep.notes += s"${name}_tail not reported: ${xs.size} samples, a tail needs at least 11"
    }
  }
}
