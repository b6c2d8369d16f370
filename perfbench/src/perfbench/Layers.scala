package perfbench

/** The per-layer metrics of the traced run (BENCHMARK.json `per_layer`).
  * Every traced run prints all of them; a layer that does no work on the
  * workload reads 0. Times are medians over the spans of that name; counts
  * are medians over ops of the work under the op's call and collect spans. */
object Layers {
  private val batchFields = Seq("call_ms" -> "ms", "collect_ms" -> "ms", "jobs" -> "count",
    "tasks" -> "count", "shuffle_bytes" -> "bytes", "input_bytes" -> "bytes",
    "cpu_ms" -> "ms", "gc_ms" -> "ms")
  private val singleFields = Seq("call_ms" -> "ms", "collect_ms" -> "ms", "jobs" -> "count",
    "files_read" -> "count", "input_bytes" -> "bytes")
  val PipelineOps: Seq[String] = DedupPipeline.Operators.map(_._1)
  private val pipelineFields = Seq("ms" -> "ms", "jobs" -> "count", "stages" -> "count",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "exchanges" -> "count",
    "aggregates" -> "count", "output_rows" -> "count", "planted_hits" -> "count")
  /** Root spans, one per timed op; each reports its unattributed remainder. */
  val Ops: Seq[String] = Seq("setup", "batch", "single", "filtered", "delta_visible",
    "remove_visible", "dedup_pass")

  val all: Seq[(String, String)] =
    Seq("query.batch", "query.batch_cold").flatMap(l => batchFields.map { case (f, u) => s"$l.$f" -> u }) ++
      Seq("query.single", "query.filtered").flatMap(l => singleFields.map { case (f, u) => s"$l.$f" -> u }) ++
      Seq("train_ms", "add_ms", "add_delta_ms", "remove_ms", "warm_ms", "snapshot_build_ms",
        "pointstore_build_ms").map(f => s"index.$f" -> "ms") ++
      Seq("index.add.shuffle_bytes" -> "bytes", "index.add.bytes_written" -> "bytes",
        "index.add.files_written" -> "count", "index.remove.jobs" -> "count",
        "index.remove.bytes_written" -> "bytes") ++
      (Serving.Tables :+ "pointstore").map(t => s"index.disk_bytes.$t" -> "bytes") ++
      Seq("quantizers.coarse_train_ms" -> "ms", "quantizers.assign_ms" -> "ms",
        "quantizers.assign_macs" -> "count") ++
      PipelineOps.flatMap(o => pipelineFields.map { case (f, u) => s"pipeline.$o.$f" -> u }) ++
      Ops.map(o => s"op.$o.unattributed_ms" -> "ms") ++
      Seq("trace.regrouped_jobs" -> "count", "trace.overhead_pct" -> "%",
        "host.calibration_ms" -> "ms", "host.loadavg_1m" -> "load")

  private lazy val units = all.toMap

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Fill the metrics every workload derives the same way from its spans. */
  def fromSpans(rep: Report, tr: Tracer): Unit = {
    val spans = tr.all
    def named(n: String) = spans.filter(_.name == n)
    def put(k: String, v: Double): Unit = rep.layers(k) = (v, units(k))

    // query layers: pair each call span with the collect span after it
    def callCollect(layer: String): Seq[(Span, Span)] = {
      val calls = named(s"$layer.call")
      val collects = named(s"$layer.collect")
      calls.flatMap(c => collects.find(s => s.parent == c.parent && s.startNs >= c.endNs).map(c -> _))
    }
    def queryLayer(layer: String, fields: Seq[(String, String)]): Unit = {
      val pairs = callCollect(layer)
      val sums = pairs.map { case (a, b) => val c = new Counts; c += a.own; c += b.own; c }
      fields.foreach { case (f, _) =>
        val v = f match {
          case "call_ms" => med(pairs.map(_._1.ms))
          case "collect_ms" => med(pairs.map(_._2.ms))
          case "jobs" => med(sums.map(_.jobs.toDouble))
          case "tasks" => med(sums.map(_.tasks.toDouble))
          case "shuffle_bytes" => med(sums.map(_.shuffleBytes.toDouble))
          case "input_bytes" => med(sums.map(_.inputBytes.toDouble))
          case "files_read" => med(sums.map(_.filesRead.toDouble))
          case "cpu_ms" => med(sums.map(_.cpuNs / 1e6))
          case "gc_ms" => med(sums.map(_.gcMs.toDouble))
        }
        put(s"$layer.$f", v)
      }
    }
    queryLayer("query.batch", batchFields)
    queryLayer("query.batch_cold", batchFields)
    queryLayer("query.single", singleFields)
    queryLayer("query.filtered", singleFields)

    Seq("train", "add", "add_delta", "remove", "warm", "snapshot_build", "pointstore_build")
      .foreach(f => put(s"index.${f}_ms", med(named(s"index.$f").map(_.ms))))
    val adds = named("index.add")
    put("index.add.shuffle_bytes", med(adds.map(_.own.shuffleBytes.toDouble)))
    put("index.add.bytes_written", med(adds.map(_.own.bytesWritten.toDouble)))
    val removes = named("index.remove")
    put("index.remove.jobs", med(removes.map(_.own.jobs.toDouble)))
    put("index.remove.bytes_written", med(removes.map(_.own.bytesWritten.toDouble)))

    PipelineOps.foreach { o =>
      val ss = named(s"pipeline.$o")
      put(s"pipeline.$o.ms", med(ss.map(_.ms)))
      put(s"pipeline.$o.jobs", med(ss.map(_.own.jobs.toDouble)))
      put(s"pipeline.$o.stages", med(ss.map(_.own.stages.toDouble)))
      put(s"pipeline.$o.shuffle_bytes", med(ss.map(_.own.shuffleBytes.toDouble)))
      put(s"pipeline.$o.spill_bytes", med(ss.map(_.own.spillBytes.toDouble)))
      put(s"pipeline.$o.exchanges", med(ss.map(_.own.exchanges.toDouble)))
      put(s"pipeline.$o.aggregates", med(ss.map(_.own.aggregates.toDouble)))
    }
    Ops.foreach(o => put(s"op.$o.unattributed_ms", med(named(s"op.$o").map(tr.selfMs))))
    put("trace.regrouped_jobs", tr.regroupedJobs.toDouble)
  }

  /** Every per-layer metric, in BENCHMARK.json order; absent ones read 0. */
  def complete(rep: Report): Unit = {
    val have = rep.layers.clone()
    rep.layers.clear()
    all.foreach { case (k, u) => rep.layers(k) = (have.get(k).fold(0.0)(_._1), u) }
  }

  /** Traced-op time over untraced-op time of the same kind, in percent. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else 100.0 * (Stats.median(traced) / Stats.median(untraced) - 1)
}
