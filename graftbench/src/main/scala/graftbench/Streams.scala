package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery, StreamingQueryProgress, Trigger}

/** What the streaming workloads read off Spark's progress reports. */
object Streams {
  val Components: Seq[String] =
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")

  /** Reports of triggers that processed data. */
  def active(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  private def dur(p: StreamingQueryProgress, k: String): Double =
    p.durationMs.getOrDefault(k, 0L).toDouble

  /** trigger.* per-layer metrics: count and percentiles of trigger time,
    * and the per-trigger median of each durationMs component. */
  def triggerMetrics(ps: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
    val a = active(ps)
    val te = a.map(dur(_, "triggerExecution"))
    Seq("trigger.count" -> a.size.toDouble,
      "trigger.p50_ms" -> Stats.pct(te, 0.5), "trigger.p95_ms" -> Stats.pct(te, 0.95)) ++
      Components.map(c => s"trigger.${c}_ms" -> Stats.median(a.map(dur(_, c))))
  }

  /** Every trigger of a run, for the run record: batch id, input rows
    * and its durationMs components. */
  def triggerTable(ps: Seq[StreamingQueryProgress]): Seq[Map[String, Any]] =
    ps.map(p => Map("batch" -> p.batchId, "rows" -> p.numInputRows) ++
      ("triggerExecution" +: Components).map(c => c -> dur(p, c)))

  /** state.* and dedup.* per-layer metrics from `stateOperators`; all zero
    * for a query without a state store. */
  def stateMetrics(ps: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
    val a = active(ps)
    val ops = a.map(_.stateOperators.toSeq)
    def sum(f: StateOperatorProgress => Double)(xs: Seq[StateOperatorProgress]) = xs.map(f).sum
    Seq(
      "state.rows_total" -> ops.lastOption.map(sum(_.numRowsTotal.toDouble)).getOrElse(0.0),
      "state.mem_mb" -> (if (ops.isEmpty) 0.0 else ops.map(sum(_.memoryUsedBytes.toDouble)).max / 1048576.0),
      "state.commit_ms" -> (if (ops.isEmpty) 0.0 else Stats.median(ops.map(sum(_.commitTimeMs.toDouble)))),
      "state.rows_dropped_by_watermark" -> ops.map(sum(_.numRowsDroppedByWatermark.toDouble)).sum,
      "dedup.rows_removed" -> ops.map(sum(o =>
        o.customMetrics.asScala.getOrElse("numDroppedDuplicateRows", java.lang.Long.valueOf(0L)).toDouble)).sum)
  }

  /** Source rows read per trigger, summed (progress `numInputRows`). */
  def inputRows(ps: Seq[StreamingQueryProgress]): Double = ps.map(_.numInputRows.toDouble).sum

  /** One span per trigger, its durationMs components as child spans laid
    * end to end in trigger order. */
  def traceTriggers(spans: Spans, ps: Seq[StreamingQueryProgress], parent: Int, label: String): Unit =
    active(ps).foreach { p =>
      val start = spans.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
      val group = s"trigger:$label:${p.batchId}"
      val id = spans.add("trigger", start, start + dur(p, "triggerExecution"), parent, group,
        Map("batch" -> p.batchId, "input_rows" -> p.numInputRows))
      var t = start
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .foreach { c =>
          val d = dur(p, c)
          spans.add(c, t, t + d, id, group)
          t += d
        }
    }

  /** Node count of a frame's analyzed logical plan. */
  def logicalNodes(df: DataFrame): Double = {
    var n = 0
    df.queryExecution.analyzed.foreach(_ => n += 1)
    n.toDouble
  }

  /** Raw JSON-lines stream the way graft's file source reads it: the text
    * column `value` plus ingestion time as `timestamp`. */
  def rawFiles(spark: SparkSession, dir: File, maxFiles: Int): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", maxFiles.toString)
      .text(dir.getAbsolutePath).withColumn("timestamp", current_timestamp())

  /** Drain a frame into the noop sink with a closed availableNow trigger;
    * returns the drain seconds. */
  def drainNoop(df: DataFrame, ckpt: File): Double = {
    val t0 = System.nanoTime()
    val q = df.writeStream.format("noop").option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start()
    await(q)
    (System.nanoTime() - t0) / 1e9
  }

  /** Wait for a closed query; rethrow its failure. */
  def await(q: StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  def sinkBytes(sink: File): (Double, Double) = {
    val fs = Files2.sinkFiles(sink)
    (fs.map(_.length.toDouble).sum, fs.size.toDouble)
  }
}
