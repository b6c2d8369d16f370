package perfbench

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least ten samples above it:
    * (percentile, value), or None with fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val rank = s.size - 10 // 1-based rank of the value; ten samples lie above it
      Some((100.0 * rank / s.size, s(rank - 1)))
    }
}

/** What one run measured and checked.
  *
  * `endToEnd` are the metrics BENCHMARK.json gates; `named` are each
  * workload's own metric names, printed on the report lines with their units;
  * `layers` are the traced per-layer metrics. Every timed op counts in
  * `attempted`; an op that throws or returns a wrong result counts in
  * `failed` and makes the run exit non-zero. */
final class Report {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()
  val phases = mutable.ArrayBuffer[(String, Double)]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def json(metrics: collection.Map[String, (Double, String)]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }

  def lines(title: String, metrics: collection.Map[String, (Double, String)]): Seq[String] =
    metrics.toSeq.map { case (k, (v, u)) => f"[$title] $k%-40s ${num(v)}%s $u" }
}
