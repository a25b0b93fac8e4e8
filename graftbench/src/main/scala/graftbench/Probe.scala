package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced interval. Spans of one trigger or one batch query share a
  * `group` id; `parent` is the id of the enclosing span (0 = root). */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Int, group: String, attrs: Map[String, Any])

/** In-memory span recorder, written out once at the end of a traced run.
  * Off (the untraced run), `span` only runs its body. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val t0 = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def span[T](name: String, parent: Int = 0, group: String = "",
      attrs: Map[String, Any] = Map.empty)(body: Int => T): T = {
    if (!enabled) return body(0)
    val id = ids.incrementAndGet()
    val s = nowMs
    try body(id)
    finally buf.add(Span(id, name, s, nowMs, parent, group, attrs))
  }

  /** Record a span whose times come from elsewhere (a progress report). */
  def add(name: String, startMs: Double, endMs: Double, parent: Int,
      group: String, attrs: Map[String, Any] = Map.empty): Int = {
    if (!enabled) return 0
    val id = ids.incrementAndGet()
    buf.add(Span(id, name, startMs, endMs, parent, group, attrs))
    id
  }

  /** Wall-clock epoch ms → this recorder's time base. */
  def fromEpochMs(epochMs: Double): Double =
    epochMs - (System.currentTimeMillis() - nowMs)

  private val extra = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()

  /** Attach attributes to a recorded span (counts known only afterwards). */
  def annotate(id: Int, attrs: Map[String, Any]): Unit =
    extra.merge(id, attrs, (a, b) => a ++ b)

  def all: Seq[Span] = buf.asScala.toSeq
    .map(s => s.copy(attrs = s.attrs ++ Option(extra.get(s.id)).getOrElse(Map.empty)))
    .sortBy(s => (s.startMs, s.id))

  def toJson: String = all.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "parent" -> s.parent, "group" -> s.group) ++ s.attrs.toSeq)
  }.mkString("[\n", ",\n", "\n]")
}

/** Task-level counters for one tag (one batch query, one drain, ...). */
final class TaskTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** SparkListener that folds task metrics into per-tag totals. The tag is
  * the `graftbench.tag` local property set by the thread that submits the
  * jobs (see [[Probe.tagged]]); Spark copies local properties onto every
  * job and stage, so a stage's tasks are attributed to the code that ran
  * them, not to whatever happened to be running when they ended. */
final class TaskProbe extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, TaskTotals]

  private def tagOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Probe.TagKey))).getOrElse("")

  private def of(tag: String): TaskTotals = totals.getOrElseUpdate(tag, new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    of(tag).jobs += 1
    e.stageInfos.foreach(s => stageTag(s.stageId) = tag)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val tag = tagOf(e.properties)
    stageTag(e.stageInfo.stageId) = tag
    of(tag).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageTag.getOrElse(e.stageId, ""))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def get(tag: String): TaskTotals = synchronized(totals.getOrElse(tag, new TaskTotals))
}

/** Collects every streaming progress report, per query run id. */
final class ProgressProbe extends StreamingQueryListener {
  private val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    reports.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress reports of one query run, in batch order; idle
    * (no-data) reports included. */
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    reports.asScala.iterator.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

object Probe {
  val TagKey = "graftbench.tag"

  /** Run `body` with every Spark job it submits tagged `tag`. */
  def tagged[T](spark: org.apache.spark.sql.SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, prior)
  }

  /** Commit time of a trigger: its start plus its triggerExecution time. */
  def commitEpochMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.getOrDefault("triggerExecution", 0L).toDouble

  /** Total GC time of this JVM so far, seconds. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** CPU time this JVM has used so far, all threads, seconds. Unlike wall
    * time it does not grow when the host takes the CPU away (steal). */
  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Peak resident set size of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
