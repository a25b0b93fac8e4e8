package graft.jobs

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{AlertPipeline, Sources}

/** CLI argument parsing and per-query conf resolution for the job entry
  * point (pure, no session). */
class MainSpec extends AnyFunSuite {
  test("parses --rules and repeated --conf key=value pairs") {
    val a = Main.parseArgs(List(
      "--rules", "/tmp/rules",
      "--conf", "kafka_brokers=b:9092",
      "--conf", "kafka_source_topic=sysmon",
      "--conf", "watermark=5 seconds"))
    assert(a.rules == "/tmp/rules")
    assert(a.conf == Map(
      "kafka_brokers" -> "b:9092",
      "kafka_source_topic" -> "sysmon",
      "watermark" -> "5 seconds"))
  }

  test("defaults to the builtin corpus with no args") {
    assert(Main.parseArgs(Nil) == Main.Args("builtin", Map.empty))
  }

  test("value containing '=' splits on the FIRST '=' only") {
    val a = Main.parseArgs(List("--conf", "opts=a=b=c"))
    assert(a.conf == Map("opts" -> "a=b=c"))
  }

  test("rejects malformed --conf and unknown flags") {
    intercept[IllegalArgumentException](Main.parseArgs(List("--conf", "novalue")))
    intercept[IllegalArgumentException](Main.parseArgs(List("--bogus")))
  }

  test("every query of a deployment checkpoints to its own directory") {
    // Main starts the main query on `conf` and sequence query i on
    // AlertPipeline.startSequence(conf, i), which resolves
    // sequenceConf(conf, i); the checkpoint each writer gets is
    // Sources.checkpointDir of that conf (no Kafka jar here, so the conf
    // resolution is checked, not a started query)
    val kafka = Map("kafka_brokers" -> "b:9092", "kafka_source_topic" -> "sysmon",
      "kafka_sink_topic" -> "alerts", "kafka_group_id" -> "graft")
    val files = Map("sink.type" -> "files", "sink.path" -> "/data/alerts")
    for (conf <- Seq(kafka, kafka + ("checkpoint" -> "/ck"), files,
        files + ("checkpoint" -> "/ck"))) {
      val dirs = Sources.checkpointDir(conf) +:
        (0 until 3).map(i => Sources.checkpointDir(AlertPipeline.sequenceConf(conf, i)))
      assert(dirs.distinct.size == dirs.size, (conf, dirs))
    }
  }
}
