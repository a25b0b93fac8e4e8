package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.compile.{And, Like}
import graft.engine.AlertPipeline
import graft.ops.Detection
import graft.rules.{ReferenceCorpus, RuleDef}
import graft.streaming.TimeframeRules

/** Streaming throughput of the `--extended` timeframe path, which
  * graftbench (graftbench/run.py, the benchmark of the deployed stateless
  * topology) does not run. Two modes over one kernel: rate source →
  * synthetic sysmon load (Detection.synthFrom/nestedFrom) → 5 s watermark →
  * the mode's query → noop sink in update mode, RocksDB state store. One
  * listener collects every non-empty trigger's (input rows,
  * triggerExecution ms) and the progress's state-operator count; the run
  * stops after 28 such triggers or at the deadline. Prints one JSON line.
  *
  *   - `tfbattery [nRules] [rps] [deadlineSec]`: N windowed-count rules in
  *     ONE stateful aggregation (TimeframeRules.alertsBattery);
  *   - `combined [nStateless] [nTf] [rps] [deadlineSec]`: N stateless and
  *     M timeframe rules from one source in one query
  *     (AlertPipeline.alertsCombined), the `--extended` deployment.
  *
  * Run: sbt "runMain graft.StreamBench tfbattery 25 50000 30"
  * (a [[Bench.session]] with 8 shuffle partitions and RocksDB state).
  */
object StreamBench {

  /** base rules + never-firing literal variants, round-robin to n: every
    * variant's predicate is fully evaluated per event, but only the base
    * rules fire, so alert volume stays constant as n grows. */
  def cloneRules(base: Seq[RuleDef], n: Int): Seq[RuleDef] =
    Iterator.from(0).flatMap { i =>
      base.map { r =>
        if (i == 0) r
        else r.copy(name = s"${r.name} [v$i]",
          where = And(r.where, Like("CommandLine", s"%__variant_$i%")))
      }
    }.take(n).toSeq

  /** Percentile over a pre-sorted sample (nearest-rank). */
  private def pctOf(xs: Seq[Long], p: Double): Long =
    if (xs.isEmpty) -1
    else xs(math.min(xs.length - 1, math.ceil(p * xs.length).toInt - 1))

  /** One run's stats as JSON fields: the full post-warm-drop window
    * (eps/batches/p50/p95) PLUS a STEADY tail window (the last half of the
    * kept samples) and the warm-up bookkeeping, so the line stands alone:
    * the first triggers are still JIT-compiling, and the full-window p95
    * mixes that warm-up in.
    * `inputFactor` divides rows: numInputRows counts the shared source
    * once per union branch. */
  private[graft] def statsJson(name: String, all: Seq[(Long, Long)],
      inputFactor: Long = 1): String = {
    val steady = all.drop(math.min(3, all.size / 2))
    def window(s: Seq[(Long, Long)]): (Long, Long, Long) = {
      val ms = s.map(_._2).sum
      val eps = if (ms > 0) s.map(_._1).sum / inputFactor * 1000L / ms else -1L
      val ds = s.map(_._2).sorted
      (eps, pctOf(ds, 0.5), pctOf(ds, 0.95))
    }
    val (eps, p50, p95) = window(steady)
    val tail = steady.drop(steady.size / 2)
    val (sEps, sP50, sP95) = window(tail)
    s""""${name}_eps":$eps,"${name}_batches":${steady.length},""" +
      s""""${name}_p50_ms":$p50,"${name}_p95_ms":$p95,""" +
      s""""${name}_warmup_dropped":${all.size - steady.size},""" +
      s""""${name}_steady_batches":${tail.length},"${name}_steady_eps":$sEps,""" +
      s""""${name}_steady_p50_ms":$sP50,"${name}_steady_p95_ms":$sP95"""
  }

  private def timeframeRules(n: Int): Seq[TimeframeRules.TimeframeRule] =
    cloneRules(ReferenceCorpus.active, n).map(r =>
      TimeframeRules.TimeframeRule(r, "10 seconds", 2L, "computer_name"))

  /** The kernel: streams `query` over the watermarked synthetic load and
    * returns the (rows, triggerExecution ms) samples of the non-empty
    * triggers plus the last progress's state-operator count. */
  private def measure(spark: SparkSession, rps: String, deadlineSec: Long)(
      query: DataFrame => DataFrame): (Seq[(Long, Long)], Int) = {
    val samples = new ConcurrentLinkedQueue[(Long, Long)]()
    val stateOps = new AtomicInteger(-1)
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.get("triggerExecution")
        stateOps.set(e.progress.stateOperators.length)
        if (e.progress.numInputRows > 0 && d != null)
          samples.add((e.progress.numInputRows, d.toLong))
      }
    }
    spark.streams.addListener(listener)
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", rps)
      .option("numPartitions", 8).load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"))
    val q = query(Detection.nestedFrom(Detection.synthFrom(stream))
        .withWatermark("timestamp", "5 seconds"))
      .writeStream.format("noop").outputMode("update").start()
    try {
      val deadline = System.nanoTime() + deadlineSec * 1000 * 1000 * 1000
      while (samples.size < 28 && System.nanoTime() < deadline) Thread.sleep(200)
    } finally { q.stop(); spark.streams.removeListener(listener) }
    (samples.toArray(Array.empty[(Long, Long)]).toSeq, stateOps.get)
  }

  /** The closing fields both modes' lines share. */
  private def stateFields(stateOps: Int, rps: String): String =
    s""""state_operators":$stateOps,"rps":$rps,""" +
      s""""origin_ids_cap":${TimeframeRules.DefaultOriginIdsCap},""" +
      s""""state_store":"rocksdb","input_corrected":true}"""

  /** N timeframe rules in one stateful aggregation. One protocol, kept
    * run over run: pace at about 1.0× capacity and read tfb_steady_eps
    * with >= 10 steady batches; a run that cannot keep up (batches
    * compounding, fewer steady batches) is a host-health failure. */
  private def tfBattery(spark: SparkSession, nRules: Int, rps: String,
      deadlineSec: Long): String = {
    val rules = timeframeRules(nRules)
    val (samples, stateOps) = measure(spark, rps, deadlineSec)(
      TimeframeRules.alertsBattery(_, rules))
    s"""{"metric":"tf_battery_eps","rules":${rules.size},""" +
      s""""protocol":"paced_fixed_rps_steady_eps",""" +
      statsJson("tfb", samples) + "," + stateFields(stateOps, rps)
  }

  /** Stateless and timeframe rules from one source in one query. */
  private def combined(spark: SparkSession, nStateless: Int, nTf: Int,
      rps: String, deadlineSec: Long): String = {
    val stateless = cloneRules(ReferenceCorpus.active, nStateless)
    val tfRules = timeframeRules(nTf)
    // numInputRows counts the shared source once per union branch: 1
    // stateless + one battery aggregation per distinct (windowLength,
    // keyCol, distinctField) group, the grouping alertsBattery plans
    val tfGroups = tfRules.groupBy(r => (r.windowLength, r.keyCol, r.distinctField)).size
    val inputFactor = 1L + tfGroups
    val (samples, stateOps) = measure(spark, rps, deadlineSec)(
      AlertPipeline.alertsCombined(_, stateless, tfRules))
    s"""{"metric":"combined_job_eps","stateless_rules":${stateless.size},""" +
      s""""tf_rules":${tfRules.size},"tf_groups":$tfGroups,""" +
      s""""input_factor":$inputFactor,""" +
      statsJson("comb", samples, inputFactor = inputFactor) + "," +
      stateFields(stateOps, rps)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(mode == "tfbattery" || mode == "combined",
      "usage: StreamBench tfbattery [nRules] [rps] [deadlineSec] | " +
        "combined [nStateless] [nTf] [rps] [deadlineSec]")
    val spark = Bench.session(conf = Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    spark.sparkContext.setLogLevel("WARN")
    def arg(i: Int, default: String): String = args.lift(i).getOrElse(default)
    try println(
      if (mode == "tfbattery")
        tfBattery(spark, arg(1, "25").toInt, arg(2, "400000"), arg(3, "180").toLong)
      else
        combined(spark, arg(1, "25").toInt, arg(2, "25").toInt, arg(3, "400000"),
          arg(4, "180").toLong))
    finally spark.stop()
  }
}
