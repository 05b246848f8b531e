package graftbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine's layers, plus the
  * Spark jobs, planning phases and scans those calls caused. Spans are
  * kept in memory and written as JSON lines when the run ends; the
  * summariser (`trace_summary.py`) turns them into per-layer numbers.
  *
  * When disabled, [[span]] only runs its body: the untraced run sets no
  * local property and registers no listener.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private final case class Span(id: Int, parent: Int, name: String,
      layer: String, req: Int, t0: Long, var t1: Long = -1L)

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 0
  /** The request id stamped on every span: one per workload cycle. */
  var request = 0
  private val records = new ConcurrentLinkedQueue[String]()
  private val counters = mutable.LinkedHashMap[String, Double]()

  private val jobs = new JobListener(records)
  private val queries = new PlanListener(records)
  if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
  }

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(nextId, parent, name, layer, request, System.currentTimeMillis())
      nextId += 1
      spans += s
      stack = s :: stack
      spark.sparkContext.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.t1 = System.currentTimeMillis()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(SpanProperty,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** A value measured at a layer boundary (a probe result or a counter). */
  def count(name: String, value: Double): Unit =
    if (enabled) counters(name) = value

  def add(name: String, value: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + value

  /** Waits for the listener bus, then writes every span, job, planning
    * phase, scan and counter to `path`.
    */
  def dump(path: String): Unit = if (enabled) {
    org.apache.spark.BenchAccess.drainListeners(spark)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    val out = new PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        out.println(obj("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "layer" -> s.layer, "req" -> s.req,
          "t0" -> s.t0, "t1" -> s.t1))
      }
      records.asScala.foreach(out.println)
      counters.foreach { case (k, v) =>
        out.println(obj("kind" -> "counter", "name" -> k, "value" -> v)) }
    } finally out.close()
  }
}

object Tracer {
  /** The local property that carries the active span id into every job. */
  val SpanProperty = "graftbench.span"

  /** One JSON object from strings, numbers and sequences of them. */
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Every node of an executed plan, through adaptive plans, their query
    * stages and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Rows out of the final (post-shuffle) stage of a `distinct` over
    * exactly `cols` in an executed plan; -1 when the plan has none.
    */
  def distinctRows(plan: SparkPlan, cols: Seq[String]): Long =
    nodes(plan).collectFirst {
      case h: HashAggregateExec if h.aggregateExpressions.isEmpty &&
          h.requiredChildDistributionExpressions.isDefined && h.output.map(_.name) == cols =>
        h.metrics("numOutputRows").value
    }.getOrElse(-1L)

  private final class JobAcc(val span: String, val t0: Long) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var recordsRead = 0L
    var bytesRead = 0L; var bytesWritten = 0L; var shuffleWrite = 0L
    var shuffleRead = 0L; var spill = 0L
  }

  /** Jobs, attributed to spans through [[SpanProperty]], with the task
    * metrics of their stages; and every stage's task-time spread.
    */
  private final class JobListener(out: ConcurrentLinkedQueue[String])
      extends SparkListener {
    private val open = mutable.HashMap[Int, JobAcc]()
    private val stageJob = mutable.HashMap[Int, Int]()
    private val stageTasks = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).getOrElse("-1")
      open(e.jobId) = new JobAcc(span, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer[Long]()) += m.executorRunTime
        stageJob.get(e.stageId).flatMap(open.get).foreach { j =>
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.recordsRead += m.inputMetrics.recordsRead
          j.bytesRead += m.inputMetrics.bytesRead
          j.bytesWritten += m.outputMetrics.bytesWritten
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val ts = stageTasks.remove((i.stageId, i.attemptNumber())).map(_.sorted).getOrElse(Nil)
      val span = stageJob.get(i.stageId).flatMap(open.get).map(_.span).getOrElse("-1")
      if (ts.nonEmpty) out.add(obj("kind" -> "stage", "span" -> span.toInt,
        "t0" -> i.submissionTime.getOrElse(0L), "t1" -> i.completionTime.getOrElse(0L),
        "tasks" -> ts.size, "max_task_ms" -> ts.last,
        "median_task_ms" -> ts(ts.size / 2)))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach { j =>
        out.add(obj("kind" -> "job", "span" -> j.span.toInt, "t0" -> j.t0,
          "t1" -> e.time, "tasks" -> j.tasks, "run_ms" -> j.runMs,
          "cpu_ms" -> j.cpuNs / 1e6, "records_read" -> j.recordsRead,
          "bytes_read" -> j.bytesRead, "bytes_written" -> j.bytesWritten,
          "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
          "spill" -> j.spill))
      }
    }
  }

  /** Catalyst phases (analysis, optimization, planning) of every query
    * execution, and the files and rows its scans read. Listener calls
    * arrive after the fact, so the summariser places them by time.
    */
  private final class PlanListener(out: ConcurrentLinkedQueue[String])
      extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      phases.foreach { case (phase, p) =>
        out.add(obj("kind" -> "plan", "phase" -> phase, "t0" -> p.startTimeMs,
          "t1" -> p.endTimeMs))
      }
      var files = 0L; var rows = 0L; var scans = 0
      nodes(qe.executedPlan).filter(_.children.isEmpty).foreach { p =>
        p.metrics.get("numFiles").foreach { m => files += m.value; scans += 1 }
        if (p.metrics.contains("numFiles")) p.metrics.get("numOutputRows").foreach(rows += _.value)
      }
      // placed at its planning time: the call itself arrives later
      if (scans > 0 && phases.nonEmpty) out.add(obj("kind" -> "scan",
        "t" -> phases.values.map(_.endTimeMs).max, "files" -> files, "rows" -> rows))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
