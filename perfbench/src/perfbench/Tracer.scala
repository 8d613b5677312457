package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `parent` is the enclosing span's name ("pass" for the
  * per-pass root); spans of one pass share `pass`.
  */
final case class Span(name: String, parent: String, pass: Int,
                      startMs: Long, endMs: Long, seconds: Double)

/** Per-layer counters of the traced passes, collected by the benchmark's own
  * `SparkListener` and `QueryExecutionListener`. It is registered only around
  * traced passes. Jobs are attributed to spans through a local property the
  * calling thread sets before each call; planning phases, which carry no
  * properties, are attributed by their start time to the span enclosing it.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val stageSpan = mutable.Map[Int, String]()
  private val counters = mutable.Map[String, Counters]()
  private val planPhases = mutable.ArrayBuffer[(Long, Long)]() // (startMs, ms)

  def attach(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(this) }

  /** Stops listening once every event posted so far has been delivered. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def enter(spanKey: String): Unit = sc.setLocalProperty(SpanProperty, spanKey)
  def exit(): Unit = sc.setLocalProperty(SpanProperty, null)

  // listener callbacks run on Spark's listener thread, summary() on the caller's
  private def of(key: String): Counters = counters.getOrElseUpdate(key, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty))).foreach { k =>
      e.stageInfos.foreach(s => stageSpan(s.stageId) = k)
      of(k).jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).map(of).foreach { c =>
      c.tasks += 1
      c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.values.foreach(p => planPhases += ((p.startTimeMs, p.durationMs)))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters of one span, keyed as [[key]] made it. */
  def summary(span: Span, cores: Int): Map[String, Double] = synchronized {
    val c = counters.getOrElse(key(span), new Counters)
    val busy = covered(c.intervals.toSeq, span.startMs, span.endMs) / 1000.0
    val taskS = c.taskMs / 1000.0
    Map(
      "s" -> span.seconds,
      "jobs" -> c.jobs.toDouble,
      "tasks" -> c.tasks.toDouble,
      "task_s" -> taskS,
      "gc_s" -> c.gcMs / 1000.0,
      "idle_frac" -> (1.0 - taskS / (span.seconds * cores)),
      "driver_gap_s" -> math.max(0.0, span.seconds - busy),
      "plan_s" -> planPhases.collect {
        case (start, ms) if start >= span.startMs && start < span.endMs => ms
      }.sum / 1000.0,
      "shuffle_mb" -> c.shuffleBytes / MB,
      "spill_mb" -> c.spillBytes / MB)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val MB = 1024.0 * 1024.0

  /** The counter names every span reports, in output order. */
  val CounterNames = Seq("s", "jobs", "tasks", "task_s", "gc_s", "idle_frac",
    "driver_gap_s", "plan_s", "shuffle_mb", "spill_mb")

  def key(span: Span): String = s"${span.pass}/${span.name}"

  private final class Counters {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  /** Milliseconds of [from, to) covered by at least one interval. */
  private def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var reach = from
    for ((s, e) <- intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
                          .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e > reach) { total += e - math.max(s, reach); reach = e }
    }
    total
  }
}
