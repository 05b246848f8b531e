package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.LongAdder

/** Engine metrics (the reference ships a metrics registry with per-table
  * counters, fluss-metrics/; the first thing an operator asks for in
  * production): named monotonic counters keyed (table path, metric),
  * incremented by the engine's DRIVER-side operations — commits,
  * compactions, vacuums, rewrites, lookups — and readable in-process.
  * A listener hook observes every increment, so any external metrics
  * system (StatsD, Prometheus push, a Spark custom source) can subscribe
  * without the engine depending on it.
  *
  * Counters are process-local, like the reference's per-tabletserver
  * registries: on a cluster each driver counts the work it coordinated.
  * All methods are thread-safe and allocation-light (LongAdder per
  * counter; listeners on a copy-on-write list).
  */
object GraftMetrics {

  /** Observes each increment (called inline — keep implementations fast;
    * batch/flush on your own thread).
    */
  trait Listener {
    def onIncrement(tablePath: String, metric: String, delta: Long): Unit
    /** Observes each gauge SET (absolute value, not a delta — forwarding
      * it through a delta-accumulating path would double-count). Default
      * no-op so counter-only subscribers stay source-compatible.
      */
    def onGauge(tablePath: String, metric: String, value: Long): Unit = ()
  }

  // stable metric names (the public contract, not free-form strings)
  val Commits = "commits"
  val CommittedRows = "committedRows"
  val CommitConflicts = "commitConflicts"
  val Compactions = "compactions"
  val Vacuums = "vacuums"
  val Rewrites = "rewrites"
  val Lookups = "lookups"
  val Exports = "exports"
  val Rollbacks = "rollbacks"

  // gauge metric names (point-in-time values, not monotonic)
  /** Records committed to the table's log but not yet processed by the
    * streaming source (set each micro-batch from the source's planning —
    * the reference's Spark stream surfaces the same signal through
    * ReportsSourceMetrics, FlussMicroBatchStream.scala:52).
    */
  val StreamLag = "streamLag"

  private val counters = new ConcurrentHashMap[(String, String), LongAdder]()
  private val gauges = new ConcurrentHashMap[(String, String), java.lang.Long]()
  private val listeners = new CopyOnWriteArrayList[Listener]()

  def addListener(l: Listener): Unit = listeners.add(l)
  def removeListener(l: Listener): Unit = listeners.remove(l)

  private[graft] def inc(tablePath: String, metric: String,
      delta: Long = 1L): Unit = {
    counters.computeIfAbsent((tablePath, metric), _ => new LongAdder).add(delta)
    listeners.forEach(_.onIncrement(tablePath, metric, delta))
  }

  /** Set a point-in-time gauge; listeners observe via [[Listener.onGauge]]
    * (never `onIncrement` — a gauge value is not a delta).
    */
  private[graft] def setGauge(tablePath: String, metric: String,
      value: Long): Unit = {
    gauges.put((tablePath, metric), java.lang.Long.valueOf(value))
    listeners.forEach(_.onGauge(tablePath, metric, value))
  }

  /** Current gauge value (None if never set). */
  def gauge(tablePath: String, metric: String): Option[Long] =
    Option(gauges.get((tablePath, metric))).map(_.longValue())

  /** Current value of one counter (0 if never incremented). */
  def counter(tablePath: String, metric: String): Long = {
    val a = counters.get((tablePath, metric))
    if (a == null) 0L else a.sum()
  }

  /** All counters of one table. */
  def snapshot(tablePath: String): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    counters.forEach { (k, v) => if (k._1 == tablePath) b += k._2 -> v.sum() }
    b.result()
  }

  /** Every counter in Prometheus text-exposition format (the reference
    * ships pluggable metric reporters, maintenance/observability/
    * metric-reporters.md; this is the dependency-free equivalent — serve
    * or scrape it from the embedding application). Counter metric names
    * follow the convention `graft_<metric>_total`, labeled by table.
    */
  def prometheusText(): String = {
    val byMetric = scala.collection.mutable.TreeMap[String,
      scala.collection.mutable.TreeMap[String, Long]]()
    counters.forEach { (k, v) =>
      byMetric.getOrElseUpdate(k._2, scala.collection.mutable.TreeMap())
        .update(k._1, v.sum())
    }
    val gaugesByMetric = scala.collection.mutable.TreeMap[String,
      scala.collection.mutable.TreeMap[String, Long]]()
    gauges.forEach { (k, v) =>
      gaugesByMetric.getOrElseUpdate(k._2, scala.collection.mutable.TreeMap())
        .update(k._1, v.longValue())
    }
    // all three escapes the exposition format requires for label
    // values: backslash, double-quote, line feed
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n")
    def snake(m: String) = m.replaceAll("([A-Z])", "_$1").toLowerCase
    val sb = new StringBuilder
    byMetric.foreach { case (metric, tables) =>
      val name = s"graft_${snake(metric)}_total"
      sb.append(s"# TYPE $name counter\n")
      tables.foreach { case (table, value) =>
        sb.append(s"""$name{table="${esc(table)}"} $value""").append('\n')
      }
    }
    gaugesByMetric.foreach { case (metric, tables) =>
      val name = s"graft_${snake(metric)}"
      sb.append(s"# TYPE $name gauge\n")
      tables.foreach { case (table, value) =>
        sb.append(s"""$name{table="${esc(table)}"} $value""").append('\n')
      }
    }
    sb.toString
  }
}
