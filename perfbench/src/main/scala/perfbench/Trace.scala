package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Spans around calls into the program's layers, with the Spark work
  * each span caused.
  *
  * A span is one call into one layer (`gen.generate`, `etl.scd2`, …).
  * While it is open, its id is the SparkContext's `perfbench.span`
  * local property, so every job the call submits (and every task of
  * those jobs) is tagged with it. The listener only records raw jobs and
  * tasks; spans are aggregated once, after the listener bus has drained,
  * when the run ends. With tracing off (or paused through [[active]], for
  * the untraced half of a traced run), [[span]] just runs its body.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  /** Spans are recorded only while this is set (and tracing is on). */
  var active: Boolean = on

  private val sc = spark.sparkContext
  private val cores = sc.defaultParallelism

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Property))).foreach { s =>
        jobSpan.put(e.jobId, s.toInt)
        e.stageIds.foreach(stageSpan.put(_, s.toInt))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        val (shuffle, spill) =
          if (m == null) (0L, 0L)
          else (m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled)
        tasks.add(Task(s, e.taskInfo.launchTime, e.taskInfo.finishTime, shuffle, spill))
      }
  }
  if (on) sc.addSparkListener(listener)

  /** Runs `body` as one span of layer `name`. A span in a `group` also
    * counts its jobs towards `<group>.jobs`. */
  def span[T](name: String, group: Option[String] = None)(body: => T): T =
    forcing[T](name, _ => (), group)(body)

  /** [[span]], with `force` run inside the same span on the result, so
    * work a layer defers (lazy DataFrames) is charged to that layer. */
  def forcing[T](name: String, force: T => Unit, group: Option[String] = None)(body: => T): T =
    if (!on || !active) body
    else {
      val id = spans.size
      sc.setLocalProperty(Property, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val out = body
        force(out)
        out
      } finally {
        val nanos = System.nanoTime() - t0
        sc.setLocalProperty(Property, null)
        spans += Span(id, name, group, startMs, System.currentTimeMillis(), nanos)
      }
    }

  /** Per-layer measures, by `<layer>.<measure>`, for every layer that
    * had at least one span. Waits for the listener bus first. */
  def layerMetrics(): Map[String, Double] = {
    if (!on) return Map.empty
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    val bySpan = tasks.toArray(Array.empty[Task]).groupBy(_.span)
    val jobs = jobSpan.values().toArray.map(_.asInstanceOf[Int]).groupBy(identity)
    def jobsOf(ss: Iterable[Span]) = ss.map(s => jobs.get(s.id).fold(0)(_.length)).sum.toDouble
    val groups = spans.filter(_.group.isDefined).groupBy(_.group.get).map { case (g, ss) =>
      s"$g.jobs" -> jobsOf(ss)
    }
    groups ++ spans.groupBy(_.name).flatMap { case (name, ss) =>
      val seconds = ss.map(_.nanos / 1e9).sum
      val ts = ss.flatMap(s => bySpan.getOrElse(s.id, Array.empty[Task]).toSeq)
      val busyMs = ss.map(s => busyUnion(bySpan.getOrElse(s.id, Array.empty), s.startMs, s.endMs)).sum
      val taskS = ts.map(t => (t.finishMs - t.launchMs) / 1e3).sum
      Map(
        s"$name.s" -> seconds,
        s"$name.driver_s" -> math.max(0.0, seconds - busyMs / 1e3),
        s"$name.jobs" -> jobsOf(ss),
        s"$name.tasks" -> ts.size.toDouble,
        s"$name.core_busy" -> (if (seconds > 0) taskS / (seconds * cores) else 0.0),
        s"$name.shuffle_mb" -> ts.map(_.shuffleBytes).sum / MiB,
        s"$name.spill_mb" -> ts.map(_.spillBytes).sum / MiB,
        s"$name.max_task_s" -> (if (ts.isEmpty) 0.0 else ts.map(t => (t.finishMs - t.launchMs) / 1e3).max))
    }
  }

  /** Milliseconds of [startMs, endMs] during which at least one task ran. */
  private def busyUnion(ts: Array[Task], startMs: Long, endMs: Long): Long = {
    var busy = 0L
    var coveredTo = startMs
    ts.map(t => (math.max(t.launchMs, startMs), math.min(t.finishMs, endMs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        val from = math.max(a, coveredTo)
        if (b > from) { busy += b - from; coveredTo = b }
      }
    busy
  }
}

object Trace {
  val Property = "perfbench.span"

  private final case class Span(id: Int, name: String, group: Option[String],
      startMs: Long, endMs: Long, nanos: Long)
  private final case class Task(span: Int, launchMs: Long, finishMs: Long,
      shuffleBytes: Long, spillBytes: Long)
  private val MiB = 1024.0 * 1024.0

  /** The eight measures every span reports. */
  val Measures: Seq[String] =
    Seq("s", "driver_s", "jobs", "tasks", "core_busy", "shuffle_mb", "spill_mb", "max_task_s")

  /** Forces a layer's lazy output: one action per frame. */
  def forceAll(dfs: DataFrame*): Unit = dfs.foreach(_.count())
}
