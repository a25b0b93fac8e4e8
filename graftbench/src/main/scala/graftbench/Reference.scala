package graftbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.rules.RuleDef

/** One parsed source event, as the reference sees it. */
final case class RefEvent(uuid: String, seq: Long, dueMs: Long)

/** The off-Spark reference: every rule evaluated with graft's in-memory
  * `Pred.evaluator` over the lines the generator wrote. A line that is not
  * a JSON object is malformed and produces no alert; with `dedup`, a uuid
  * seen before produces no alert either (the duplicate the watermark
  * dedup must drop). */
final class Reference(rules: Seq[RuleDef], dedup: Boolean) {
  private val evs = rules.map(_.where.evaluator).toArray
  private val names = rules.map(_.name).toArray

  val expected = mutable.HashMap.empty[(String, String), Int]
  val events = mutable.HashMap.empty[String, RefEvent]
  var lines = 0L
  var malformed = 0L
  var duplicates = 0L

  /** Add every line, in order. Parsing and rule evaluation run on all
    * cores; the dedup decision (first occurrence of a uuid wins) is made
    * in line order. */
  def addAll(all: Seq[String]): Unit = {
    val parsed = Reference.parallel(all.grouped(2000).toSeq) { chunk =>
      val mapper = new ObjectMapper()
      chunk.map(l => try mapper.readTree(l) catch { case _: Exception => null })
    }.flatten
    val kept = parsed.flatMap { node =>
      lines += 1
      if (node == null || !node.isObject) { malformed += 1; None }
      else {
        val uuid = Option(node.get("uuid")).filter(_.isTextual).map(_.asText).orNull
        if (dedup && uuid != null && events.contains(uuid)) { duplicates += 1; None }
        else {
          val due = Option(node.get("due_ms")).map(_.asLong).getOrElse(0L)
          if (uuid != null) events(uuid) = RefEvent(uuid, Reference.seqOf(uuid), due)
          Some(uuid -> node)
        }
      }
    }
    Reference.parallel(kept.grouped(2000).toSeq)(_.flatMap { case (uuid, node) => fired(node).map(uuid -> _) })
      .foreach(_.foreach(k => expected(k) = expected.getOrElse(k, 0) + 1))
  }

  /** Names of the rules one parsed event fires. */
  private def fired(node: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
    val ed = node.get("event_data")
    val fd: String => String = f => {
      val v = if (ed == null || !ed.isObject) null else ed.get(f)
      if (v == null || v.isNull) null else v.asText
    }
    val top: String => Any = c => {
      val v = node.get(c)
      if (v == null || v.isNull) null
      else if (v.isNumber) java.lang.Long.valueOf(v.asLong) else v.asText
    }
    evs.indices.filter(i => evs(i)(fd, top) == java.lang.Boolean.TRUE).map(names(_))
  }

  def expectedAlerts: Long = expected.valuesIterator.map(_.toLong).sum
}

object Reference {
  /** Map `f` over `chunks` on a pool of one thread per core, in order. */
  def parallel[A, B](chunks: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try chunks.map(c => pool.submit(() => f(c))).map(_.get())
    finally pool.shutdown()
  }

  /** The generator puts the event's sequence number in the uuid's last
    * 12 hex digits. */
  def seqOf(uuid: String): Long =
    scala.util.Try(java.lang.Long.parseLong(uuid.takeRight(12), 16)).getOrElse(-1L)

  /** One alert as the sink holds it: (origin uuid, rule name, batch id). */
  final case class Alert(uuid: String, rule: String, batch: Long)

  /** Read every committed alert of a files sink, with the batch that
    * wrote it (from the sink's own commit log). */
  def sinkAlerts(spark: SparkSession, sink: File): Seq[Alert] = {
    val batches = Files2.sinkBatches(sink)
    if (batches.isEmpty) return Seq.empty
    spark.read.parquet(sink.getAbsolutePath)
      .select(input_file_name().as("f"), col("event.origin_ids").getItem(0).as("u"),
        col("rule.name").as("r"))
      .collect().toSeq.map { r =>
        val f = new File(new java.net.URI(r.getString(0)).getPath).getName
        Alert(r.getString(1), r.getString(2), batches.getOrElse(f, -1L))
      }
  }

  /** (missing, extra) between the expected bag and the sink's bag. */
  def bagDiff(expected: collection.Map[(String, String), Int],
      got: Seq[Alert]): (Long, Long) = {
    val g = mutable.HashMap.empty[(String, String), Int]
    got.foreach(a => g((a.uuid, a.rule)) = g.getOrElse((a.uuid, a.rule), 0) + 1)
    val missing = expected.iterator.map { case (k, n) => math.max(0, n - g.getOrElse(k, 0)).toLong }.sum
    val extra = g.iterator.map { case (k, n) => math.max(0, n - expected.getOrElse(k, 0)).toLong }.sum
    (missing, extra)
  }

  /** Planted-fault self-test: dropping one alert and adding one alert must
    * each show up as a failure; returns the problems found. */
  def selfTest(expected: collection.Map[(String, String), Int], got: Seq[Alert]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    if (got.nonEmpty) {
      val (m0, e0) = bagDiff(expected, got)
      val (m1, e1) = bagDiff(expected, got.tail)
      if (m1 + e1 == m0 + e0) out += "self-test: a dropped alert was not counted"
      val (m2, e2) = bagDiff(expected, got :+ got.head.copy(rule = got.head.rule + " (planted)"))
      if (m2 + e2 <= m0 + e0) out += "self-test: an extra alert was not counted"
    } else out += "self-test: no alerts to perturb"
    out.toSeq
  }
}
