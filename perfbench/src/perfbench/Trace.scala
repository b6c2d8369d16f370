package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work done under one span's own job group (nested spans keep theirs). */
final class Counts {
  var jobs, stages, tasks, inputBytes, shuffleBytes, bytesWritten, spillBytes = 0L
  var cpuNs, gcMs, filesRead, exchanges, aggregates = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes
    bytesWritten += o.bytesWritten; spillBytes += o.spillBytes
    cpuNs += o.cpuNs; gcMs += o.gcMs; filesRead += o.filesRead
    exchanges += o.exchanges; aggregates += o.aggregates
  }

  def json: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"input_bytes":$inputBytes,""" +
      s""""shuffle_bytes":$shuffleBytes,"bytes_written":$bytesWritten,""" +
      s""""spill_bytes":$spillBytes,"cpu_ns":$cpuNs,"gc_ms":$gcMs,""" +
      s""""files_read":$filesRead,"exchanges":$exchanges,"aggregates":$aggregates"""
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    own: Counts) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into each layer, with the Spark jobs,
  * tasks and bytes of each span attributed through `setJobGroup`.
  *
  * A span sets its own job group for its duration, so jobs submitted by the
  * layer call (and by threads it starts, which inherit the group) are counted
  * against it. A SparkListener keys task metrics by job group; SQL executions
  * finishing inside a span contribute the files their scans read and the
  * shuffle exchanges and aggregates of their executed plans. The listener bus
  * is drained before a span's counts are read. Spans stay in memory and are
  * written out once, at the end of the run.
  *
  * When `enabled` is false no listener is installed and [[span]] only runs
  * its body; [[active]] switches recording off for individual ops in a
  * traced run so that traced and untraced op times can be compared. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  /** Open spans, innermost first; read by the listener thread. */
  @volatile private var open: List[(Int, String)] = Nil
  private var nextId = 1
  var active: Boolean = enabled

  private val byGroup = mutable.HashMap[String, Counts]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val executions = new ConcurrentLinkedQueue[QueryExecution]()

  private def countsOf(group: String): Counts = byGroup.getOrElseUpdate(group, new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val named = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      // a pooled thread keeps the job group of the span that created it, so
      // a group naming no open span is re-attributed to the innermost open
      // span: the event is handled before that span closes (see span)
      val openGroups = open.map(_._2)
      val g = named.filter(openGroups.contains).getOrElse {
        if (openGroups.nonEmpty) regrouped += 1
        openGroups.headOption.getOrElse("")
      }
      e.stageIds.foreach(stageGroup(_) = g)
      countsOf(g).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        countsOf(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val c = countsOf(stageGroup.getOrElse(e.stageId, ""))
      c.tasks += 1
      if (m != null) {
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
      }
    }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
      executions.add(qe); ()
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
      executions.add(qe); ()
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(executionListener)
  }

  /** Run `f` as a span named `name`, child of the innermost open span. */
  def span[A](name: String)(f: => A): A = {
    if (!active) return f
    val id = nextId
    nextId += 1
    val group = s"perfbench-$id"
    val parent = open.headOption
    if (parent.isEmpty) {
      // forget what untraced work left on the bus before this op
      ListenerBusAccess.drain(sc)
      executions.clear()
      synchronized(byGroup.clear())
    }
    sc.setJobGroup(group, name)
    open = (id, group) :: open
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      // drain while this span is still open, so its jobs' events count here
      ListenerBusAccess.drain(sc)
      open = open.tail
      parent match {
        case Some((_, g)) => sc.setJobGroup(g, "")
        case None => sc.clearJobGroup()
      }
      val own = synchronized(byGroup.remove(group)).getOrElse(new Counts)
      // executions that ended inside a nested span were claimed by it
      var qe = executions.poll()
      while (qe != null) {
        addPlan(own, qe.executedPlan)
        qe = executions.poll()
      }
      spans += Span(id, parent.fold(0)(_._1), name, t0, t1, own)
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private def addPlan(c: Counts, plan: SparkPlan): Unit = planNodes(plan).foreach {
    case _: ShuffleExchangeLike => c.exchanges += 1
    case _: BaseAggregateExec => c.aggregates += 1
    case f: FileSourceScanExec => c.filesRead += f.metrics.get("numFiles").fold(0L)(_.value)
    case _ =>
  }

  def all: Seq[Span] = spans.toSeq

  /** Jobs whose job group named no open span, counted against the
    * innermost open span instead. */
  def regroupedJobs: Long = synchronized(regrouped)
  private var regrouped = 0L

  /** Duration of a span minus the part its direct children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfMs(s)},${s.own.json}}""")
    } finally out.close()
  }
}
