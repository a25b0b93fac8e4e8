package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Source/sink definitions resolved from deploy config (SURVEY §7.4) — the
  * Spark analog of the reference's `CREATE TEMPORARY TABLE … WITH
  * ('connector' = …)` DDL blocks (windows-process-access.sql:8-35, :38-70).
  *
  * `source.type`:
  *  - `kafka`  — the production path (S1/S3): record timestamp becomes the
  *    event-time column, exactly the `TIMESTAMP(3) METADATA` declaration.
  *  - `files`  — a directory of JSON-lines files streamed with the file
  *    source; no broker metadata exists, so event time is ingestion time
  *    (`current_timestamp()` at micro-batch planning) — the documented
  *    substitute, fine for replay/testing.
  *
  * `sink.type`: `kafka` (alerts as JSON `value`) or `files` (parquet dir).
  * All values pass through [[Templating]] first, so `${kafka_brokers}`
  * style configs deploy unchanged.
  */
object Sources {

  /** Streaming sysmon frame from config. */
  def source(spark: SparkSession, conf: Map[String, String]): DataFrame =
    conf.getOrElse("source.type", "kafka") match {
      case "kafka" =>
        AlertPipeline.kafkaSource(spark,
          conf("kafka_brokers"), conf("kafka_source_topic"),
          conf("kafka_group_id"), conf.getOrElse("startingOffsets", "earliest"))
      case "files" =>
        val raw = spark.readStream
          .option("maxFilesPerTrigger", conf.getOrElse("source.maxFilesPerTrigger", "100"))
          .text(conf("source.path"))
          .withColumn("timestamp", current_timestamp())
        AlertPipeline.parseJson(raw)
      case other => throw new IllegalArgumentException(s"unknown source.type: $other")
    }

  /** The sink's identity: its topic, or its path. */
  private def sinkId(conf: Map[String, String]): String =
    conf.getOrElse("sink.type", "kafka") match {
      case "kafka" => conf("kafka_brokers") + "/" + conf("kafka_sink_topic")
      case "files" => conf("sink.path")
      case other => throw new IllegalArgumentException(s"unknown sink.type: $other")
    }

  /** Explicit `checkpoint` conf, else a default derived from the sink
    * identity (topic / path) — two jobs launched without an explicit
    * checkpoint must never silently share streaming state and offsets. */
  private[graft] def checkpointDir(conf: Map[String, String]): String =
    conf.getOrElse("checkpoint",
      f"/tmp/graft-checkpoint-${sinkId(conf).hashCode & 0x7fffffff}%08x")

  /** Alert sink writer from config. */
  def sink(alerts: DataFrame, conf: Map[String, String]): DataStreamWriter[Row] =
    conf.getOrElse("sink.type", "kafka") match {
      case "kafka" =>
        AlertPipeline.kafkaSink(alerts,
          conf("kafka_brokers"), conf("kafka_sink_topic"), checkpointDir(conf))
      case "files" =>
        alerts.writeStream
          .format(conf.getOrElse("sink.format", "parquet"))
          .option("path", conf("sink.path"))
          .option("checkpointLocation", checkpointDir(conf))
      case other => throw new IllegalArgumentException(s"unknown sink.type: $other")
    }
}
