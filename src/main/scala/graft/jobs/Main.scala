package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.compile.RuleCompiler
import graft.engine.{AlertPipeline, Templating}
import graft.rules.ReferenceCorpus

/** Job submission entry point — the Spark equivalent of submitting the
  * reference's rule SQL scripts to the Flink SQL gateway (SURVEY §3
  * entry point 2).
  *
  * Usage:
  *   graft.jobs.Main --rules <sigma-yaml-dir | builtin> \
  *     --conf kafka_brokers=host:9092 --conf kafka_source_topic=sysmon \
  *     --conf kafka_sink_topic=alerts --conf kafka_group_id=graft \
  *     [--conf watermark='5 seconds'] [--conf checkpoint=/path]
  *
  * Config values support `${var}` templating resolved against --conf pairs
  * then the environment (the reference's `'topic' = '${kafka_source_topic}'`
  * deployment shape, windows-process-access.sql:28-30). `--rules builtin`
  * runs the transcribed 25-rule reference corpus; a directory compiles
  * every Sigma YAML file through [[RuleCompiler]] (C8, main.py:211-229).
  * `--extended` additionally compiles `timeframe` correlation rules
  * ([[RuleCompiler.compileTimeframe]] — the grammar the reference comments
  * out, including `count() by <field>` group keys and `count(<field>)`
  * distinct pipes) plus modern correlation FILES (event_count/value_count
  * meta-rules into the battery; temporal/temporal_ordered into pair
  * correlators, one query each) and deploys the stateless + windowed
  * classes as one combined streaming query
  * ([[AlertPipeline.startCombined]]); without it, parity: timeframe
  * rules are skipped exactly like main.py:194-195. The sink schema is
  * IDENTICAL in both modes — the reference's 5-column alert row — so
  * toggling `--extended` never breaks downstream consumers of an
  * existing sink.
  * `--conf spark.*=...` pairs pass through to the SparkSession builder
  * (the spark-submit `--conf` shape; e.g. `spark.master=local[8]` to run
  * outside a cluster). `--conf trigger=availableNow` replays everything
  * currently in the source and exits — the bounded file-replay mode.
  *
  * Topology: ONE streaming query for the stateless rules — one source
  * scan and one JSON parse per trigger feeding the merged `rule_dispatch`
  * ([[AlertPipeline.start]]), one sink (never one query per rule;
  * SURVEY §4). With `--extended` the stateless and windowed classes share
  * one combined query and each temporal correlation runs as its own
  * query, all writing the same sink schema.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val parsed = parseArgs(args.toList)
    val conf = parsed.conf.map { case (k, v) => k -> Templating.resolve(v, parsed.conf) }
    // --extended: compile the directory in the EXTENDED mode too —
    // timeframe rules (RuleCompiler.compileTimeframe) deploy alongside the
    // stateless ones as ONE combined query (AlertPipeline.startCombined).
    // Default stays parity: timeframe rules are skipped like main.py.
    val compiled: RuleCompiler.CompiledRepo = parsed.rules match {
      case "builtin" =>
        RuleCompiler.CompiledRepo(ReferenceCorpus.active, Seq.empty, Seq.empty)
      case dir if parsed.extended => RuleCompiler.compileDirAll(dir)
      case dir =>
        RuleCompiler.CompiledRepo(RuleCompiler.compileDir(dir), Seq.empty, Seq.empty)
    }
    val RuleCompiler.CompiledRepo(rules, timeframed, sequenced) = compiled
    require(!compiled.isEmpty, "no rules compiled")

    val spark = conf.filter { case (k, _) => k.startsWith("spark.") }
      .foldLeft(graft.engine.SessionDefaults(SparkSession.builder())
        .appName("graft-alerts")
        // SessionDefaults carries the detection-job baseline
        // (hugeMethodLimit=8000 — a guard for large fused stages, whose
        // whole-stage method would otherwise run interpreted; rule_dispatch
        // generates one call whatever the rule count and needs none) and
        // artifact isolation off (a repeat start of the same plan in this
        // JVM reuses its compiled classes);
        // rationale at SessionDefaults. Folded first, so --conf overrides
        .config("spark.sql.session.timeZone", "UTC")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    // the stateless + windowed classes share ONE combined query; each
    // compiled temporal correlation is its own sequence-correlator query
    // (AlertPipeline.startSequence — a different stateful operator class),
    // all writing the same 5-column alert schema
    val queries = Seq(
      Option.when(rules.nonEmpty || timeframed.nonEmpty)(
        if (timeframed.nonEmpty) AlertPipeline.startCombined(spark, rules, timeframed, conf)
        else AlertPipeline.start(spark, rules, conf))
    ).flatten ++ sequenced.zipWithIndex.map { case (r, i) =>
      AlertPipeline.startSequence(spark, r, conf, i)
    }
    queries.foreach(_.awaitTermination())
  }

  final case class Args(rules: String = "builtin", conf: Map[String, String] = Map.empty,
      extended: Boolean = false)

  def parseArgs(args: List[String], acc: Args = Args()): Args = args match {
    case "--rules" :: v :: rest => parseArgs(rest, acc.copy(rules = v))
    case "--extended" :: rest => parseArgs(rest, acc.copy(extended = true))
    case "--conf" :: kv :: rest =>
      kv.split("=", 2) match {
        case Array(k, v) => parseArgs(rest, acc.copy(conf = acc.conf + (k -> v)))
        case _ => throw new IllegalArgumentException(
          s"--conf expects key=value, got: $kv")
      }
    case Nil => acc
    case other => throw new IllegalArgumentException(s"unknown args: $other")
  }
}
