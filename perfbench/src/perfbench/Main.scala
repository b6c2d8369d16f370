package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final class Ctx(val spark: SparkSession, val seconds: Int,
    val tracer: Tracer, val inputs: String, val work: String, val report: Report) {
  val traced: Boolean = tracer.enabled

  /** Time `f` as one op: counted as attempted, and as failed if it throws
    * or `ok` rejects its result. Returns the result and its wall time. */
  def op[A](what: String)(f: => A)(ok: A => Option[String]): Option[(A, Double)] = {
    report.attempted += 1
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Left(e) =>
        report.fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      case Right(a) =>
        ok(a).foreach(msg => report.fail(s"$what: $msg"))
        Some((a, ms))
    }
  }

  /** Whole iterations (cycles, rounds, passes) the timed loop runs even when
    * the window has passed: a traced run needs one traced and one untraced
    * iteration. */
  def minIterations: Int = if (traced) 2 else 1

  /** The timed loop: runs `iteration(n)` for n = 0, 1, ... at least
    * [[minIterations]] times, and after that only while the next iteration,
    * taken to last as long as the previous one, ends inside the `seconds`
    * window. The run's length and its number of samples then do not depend
    * on where the window's end falls inside an iteration. Returns the number
    * of iterations run. */
  def timedLoop(iteration: Int => Unit): Int = {
    val end = System.nanoTime() + seconds * 1000000000L
    var (n, last) = (0, 0L)
    while (n < minIterations || System.nanoTime() + last <= end) {
      val t0 = System.nanoTime()
      iteration(n)
      last = System.nanoTime() - t0
      n += 1
    }
    n
  }

  /** Run one phase of the run and record its wall time in the report. */
  def phase[A](name: String)(f: => A): A = Main.phase(report, name)(f)
}

trait Workload {
  def name: String
  /** Why the workload is in the benchmark: what it exercises. */
  def why: String
  /** Layers that should show no jobs of their own on this workload. */
  def nearIdle: Seq[String]
  /** Write the seeded inputs under `dir`. Not timed. */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit
  /** Set up (timed into setup_s, which it reports), warm up, run the closed
    * loop for ctx.seconds, check results, fill ctx.report. */
  def run(ctx: Ctx, sessionS: Double): Unit
}

object Main {
  val Workloads: Seq[Workload] = Seq(ServeIngest, DedupPipeline)

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload")
    val wl = Workloads.find(_.name == name).getOrElse(sys.error(s"unknown workload $name"))
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val traced = arg(args, "--trace") == "1"
    val inputs = arg(args, "--inputs")
    val work = arg(args, "--work")
    val n = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val report = new Report
    try {
      if (!Files.exists(Paths.get(inputs, "_complete"))) phase(report, "generate inputs") {
        wl.generate(spark, seed, inputs)
        Files.createFile(Paths.get(inputs, "_complete"))
      }
      val ctx = new Ctx(spark, seconds, new Tracer(spark, traced), inputs, work, report)
      wl.run(ctx, sessionS)
      val calibrationMs = phase(report, "calibrate")(calibrate(spark))
      val load = loadavg1m()
      println(s"[context] workload=$name seed=$seed seconds=$seconds trace=${if (traced) 1 else 0}")
      println(s"[context] why: ${wl.why}")
      println(s"[context] near-idle layers: ${wl.nearIdle.mkString(", ")}")
      println(f"[context] nproc=$n calibration_ms=$calibrationMs%.1f loadavg_1m=$load%.2f " +
        s"conf: local[$n], spark.sql.adaptive.enabled=true, spark.sql.shuffle.partitions=$n, " +
        "spark.ui.enabled=false, defaults otherwise")
      println(f"[phase] session                  $sessionS%7.2f s")
      report.phases.foreach { case (p, sec) => println(f"[phase] $p%-24s $sec%7.2f s") }
      report.notes.foreach(m => println(s"[note] $m"))
      report.lines("metric", report.named).foreach(println)
      println(f"[metric] ${"error_rate"}%-40s ${report.errorRate} fraction " +
        s"(${report.failed} of ${report.attempted} ops)")
      report.failures.foreach(f => println(s"[FAILED] $f"))
      if (traced) {
        Layers.fromSpans(report, ctx.tracer)
        report.layers("host.calibration_ms") = (calibrationMs, "ms")
        report.layers("host.loadavg_1m") = (load, "load")
        Layers.complete(report)
        ctx.tracer.write(arg(args, "--trace-out"))
        report.lines("layer", report.layers).foreach(println)
        println(report.json(report.layers))
      } else {
        report.lines("e2e", report.endToEnd).foreach(println)
        println(report.json(report.endToEnd))
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(2)
    }
    spark.stop()
    if (report.failed > 0) sys.exit(1)
  }

  def phase[A](report: Report, name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally report.phases += name -> (System.nanoTime() - t0) / 1e9
  }

  /** A fixed CPU-bound Spark job: the host's speed at the time of the run. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(5L * 1000 * 1000).selectExpr("sum(cast(hash(id) as bigint))").collect()
    (System.nanoTime() - t0) / 1e6
  }

  def loadavg1m(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => Double.NaN }
}
