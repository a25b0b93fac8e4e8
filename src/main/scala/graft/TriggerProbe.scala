package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.AlertPipeline
import graft.ops.Detection
import graft.rules.ReferenceCorpus

/** Per-trigger cost diagnostic for the streaming rule fan-out: runs the
  * merged dispatch as a real rate-source streaming query and prints EVERY
  * trigger's durationMs breakdown (queryPlanning / getBatch / addBatch /
  * walCommit / commitOffsets / triggerExecution) plus its input rows —
  * the instrument the round-11 "per-trigger broadcast rebuild" diagnosis
  * lacked, so per-trigger fixed costs get attributed to a phase instead
  * of guessed at from p50s.
  *
  * Run: sbt "runMain graft.TriggerProbe [nRules] [rps] [triggers] [shape]"
  *   shape: which pipeline to run —
  *     full (default) = alertsMerged; union = the reference UNION ALL
  *     fan-out (alerts); src = source+synth only (no rules). Isolates which
  *     stage owns the per-row cost. Each shape also gets a 2M-row BATCH
  *     noop-write timing first (write, not count: count() lets the
  *     optimizer prune the alert projection, which is how the batch eps
  *     number hid the materialization cost).
  */
object TriggerProbe {
  def main(args: Array[String]): Unit = {
    val nRules = args.headOption.map(_.toInt).getOrElse(25)
    val rps = args.lift(1).map(_.toLong).getOrElse(50000L)
    val nTriggers = args.lift(2).map(_.toInt).getOrElse(12)
    val shape = args.lift(3).getOrElse("full")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.SessionDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rules = StreamBench.cloneRules(ReferenceCorpus.active, nRules)
    def mk(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      shape match {
        case "src" => df
        case "union" => AlertPipeline.alerts(df, rules)
        case _ => AlertPipeline.alertsMerged(df, rules)
      }

    // batch noop-WRITE timing over the same transform (2M rows): unlike
    // count(), write materializes every output column
    val bload = Detection.nestedFrom(Detection.synthFrom(
      spark.range(2000000L).select(col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000).as("ts"))))
    mk(bload.limit(1000)).write.format("noop").mode("overwrite").save()
    if (sys.env.contains("GRAFT_PROBE_EXPLAIN")) mk(bload).explain("formatted")
    val bt0 = System.nanoTime()
    mk(bload).write.format("noop").mode("overwrite").save()
    val bsec = (System.nanoTime() - bt0) / 1e9
    println(f"batch_noop_write shape=$shape rows=2000000 sec=$bsec%.2f eps=${(2000000 / bsec).toLong}")

    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val keys = Seq("triggerExecution", "queryPlanning", "getBatch",
      "latestOffset", "addBatch", "walCommit", "commitOffsets")
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        val parts = keys.map(k => s"$k=${Option(d.get(k)).getOrElse("-")}")
        println(s"trigger rows=${e.progress.numInputRows} ${parts.mkString(" ")}")
        if (e.progress.numInputRows > 0) seen.incrementAndGet()
        ()
      }
    }
    spark.streams.addListener(listener)
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", rps)
      .option("numPartitions", 8).load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"))
    val q = mk(Detection.nestedFrom(Detection.synthFrom(stream)))
      .writeStream.format("noop").outputMode("append").start()
    try {
      val deadline = System.nanoTime() + 600L * 1000 * 1000 * 1000
      while (seen.get < nTriggers && System.nanoTime() < deadline)
        Thread.sleep(200)
    } finally { q.stop(); spark.streams.removeListener(listener) }
    spark.stop()
  }
}
