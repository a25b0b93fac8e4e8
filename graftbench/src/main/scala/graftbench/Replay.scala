package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{AlertPipeline, Sources}
import graft.rules.{ReferenceCorpus, RuleDef}

/** Workload `replay-builtin`: `jobs.Main`'s default deployed path. A
  * pre-written corpus of sysmon JSON lines is drained by
  * `AlertPipeline.start` with the 25 builtin rules, the files source, the
  * files sink and `trigger=availableNow`, several times per run. The file
  * source keeps jobs.Main's default of 100 files per trigger, so each
  * drain is one trigger and every alert of a drain commits together. */
object Replay {
  final case class Drain(secs: Double, startMs: Long, runId: java.util.UUID, sink: File)

  def conf(corpus: File, dir: File, sinkFormat: String = "parquet"): Map[String, String] = Map(
    "source.type" -> "files", "source.path" -> corpus.getAbsolutePath,
    "sink.type" -> "files", "sink.format" -> sinkFormat,
    "sink.path" -> new File(dir, "sink").getAbsolutePath,
    "checkpoint" -> new File(dir, "checkpoint").getAbsolutePath,
    "trigger" -> "availableNow")

  /** The frame `start` deploys: the files source, watermarked, through
    * the union of every rule. */
  def deployed(spark: SparkSession, rules: Seq[RuleDef], c: Map[String, String]) =
    AlertPipeline.alerts(Sources.source(spark, c).withWatermark("timestamp", "5 seconds"), rules)

  def drain(ctx: Ctx, spark: SparkSession, rules: Seq[RuleDef], name: String): Drain = {
    val dir = Files2.fresh(new File(ctx.work, s"replay/$name"))
    val c = conf(ctx.corpus, dir)
    ctx.spans.span("graft.engine.AlertPipeline.start", group = s"drain:$name") { _ =>
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val q = Probe.tagged(spark, s"drain:$name")(AlertPipeline.start(spark, rules, c))
      Streams.await(q)
      Drain((System.nanoTime() - t0) / 1e9, startMs, q.runId, new File(c("sink.path")))
    }
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val rules = ReferenceCorpus.active
    var spark: SparkSession = null
    val progress = new ProgressProbe
    // set-up, three times: session start, rule load and the deployed
    // query's analyzed plan; median reported
    val setups = (0 until 3).map { round =>
      if (spark != null) Session.stop(spark)
      ctx.spans.span("setup", attrs = Map("round" -> round)) { _ =>
        val t0 = System.nanoTime()
        spark = Session.build(ctx.work, ctx.cores)
        spark.streams.addListener(progress)
        deployed(spark, rules, conf(ctx.corpus, new File(ctx.work, s"replay/plan-$round")))
          .queryExecution.analyzed
        (System.nanoTime() - t0) / 1e9
      }
    }
    // one untimed drain of the corpus: the JVM's first query pays its JIT
    // and codegen warm-up here, not in a timed drain
    ctx.spans.span("warmup")(_ => drain(ctx, spark, rules, "warmup"))

    val ref = new Reference(rules, dedup = false)
    ref.addAll(Files2.lines(ctx.corpus).toSeq)

    def timedDrains(label: String, min: Int, budgetS: Double): Seq[Drain] = {
      val t0 = System.nanoTime()
      val out = scala.collection.mutable.ArrayBuffer.empty[Drain]
      while (out.size < min || (out.size < 12 && (System.nanoTime() - t0) / 1e9 < budgetS))
        out += drain(ctx, spark, rules, s"$label-${out.size}")
      out.toSeq
    }

    val gc0 = Probe.gcSeconds()
    val cpu0 = Probe.processCpuSeconds()
    val untraced = timedDrains("timed", 3, ctx.seconds)
    val cpuMsPerEvent = (Probe.processCpuSeconds() - cpu0) * 1000.0 / (untraced.size * ref.lines)
    val gcPerDrain = (Probe.gcSeconds() - gc0) / untraced.size

    // correctness and latency of every timed drain
    val perDrain = untraced.map { d =>
      val got = Reference.sinkAlerts(spark, d.sink)
      val (missing, extra) = Reference.bagDiff(ref.expected, got)
      res.attempted += ref.expectedAlerts
      res.failed += missing + extra
      val commits = progress.of(d.runId).map(p => p.batchId -> Probe.commitEpochMs(p)).toMap
      val lat = got.map(a => commits.get(a.batch).map(_ - d.startMs).getOrElse(Double.PositiveInfinity)) ++
        Seq.fill(missing.toInt)(Double.PositiveInfinity)
      (ref.lines / d.secs, Stats.pct(lat, 0.5), Stats.pct(lat, 0.99), got)
    }
    Reference.selfTest(ref.expected, perDrain.head._4).foreach(res.fail)
    if (ref.expectedAlerts == 0) res.fail("the corpus fires no builtin rule")

    val eps = Stats.median(perDrain.map(_._1))
    res.endToEnd ++= Seq(
      "setup_s" -> Stats.median(setups),
      "cpu_ms_per_event" -> cpuMsPerEvent,
      "throughput_per_s" -> eps,
      "lat_p50_ms" -> Stats.median(perDrain.map(_._2)),
      "lat_p99_ms" -> Stats.median(perDrain.map(_._3)))
    res.info ++= Seq("drains" -> untraced.size, "events_per_drain" -> ref.lines,
      "expected_alerts_per_drain" -> ref.expectedAlerts, "malformed_lines" -> ref.malformed,
      "drain_s" -> untraced.map(_.secs),
      "triggers" -> Streams.triggerTable(progress.of(untraced.last.runId)))

    if (ctx.trace) {
      val tasks = new TaskProbe
      spark.sparkContext.addSparkListener(tasks)
      val traced = timedDrains("traced", untraced.size, 0)
      traced.zipWithIndex.foreach { case (d, i) =>
        Streams.traceTriggers(ctx.spans, progress.of(d.runId), 0, s"traced-$i")
      }
      val perTraced = traced.map(d => progress.of(d.runId))
      val (bytes, files) = Streams.sinkBytes(traced.last.sink)
      val cpu = traced.indices.map(i => tasks.get(s"drain:traced-$i").cpuNs / 1e9)
      val plan = deployed(spark, rules, conf(ctx.corpus, new File(ctx.work, "replay/plan")))
      val parsed = ctx.spans.span("graft.engine.AlertPipeline.parseJson") { _ =>
        AlertPipeline.parseJson(spark.read.text(ctx.corpus.getAbsolutePath)
          .withColumn("timestamp", current_timestamp())).count()
      }
      res.perLayer ++= Streams.triggerMetrics(perTraced.flatten)
      res.perLayer ++= Streams.stateMetrics(perTraced.flatten)
      res.perLayer ++= Seq(
        "replay_eps" -> eps,
        "source.scan_amplification" -> Stats.median(perTraced.map(ps => Streams.inputRows(ps) / ref.lines)),
        "parse.malformed_dropped" -> (ref.lines - parsed).toDouble,
        "dispatch.rules" -> rules.size.toDouble,
        "dispatch.alerts_out" -> ref.expectedAlerts.toDouble,
        "dispatch.alerts_per_event" -> ref.expectedAlerts.toDouble / (ref.lines - ref.malformed),
        "plan.logical_nodes" -> Streams.logicalNodes(plan),
        "sink.bytes" -> bytes, "sink.files" -> files,
        "exec_cpu_s" -> Stats.median(cpu),
        "gc_s" -> gcPerDrain,
        "trace_overhead_frac" ->
          (Stats.median(traced.map(_.secs)) / Stats.median(untraced.map(_.secs)) - 1.0))
      res.perLayer ++= Ladder.run(ctx, spark, rules)
      Session.stop(spark)
      // the single-thread baseline: the same drain at local[1]
      val one = Session.build(ctx.work, 1)
      one.streams.addListener(progress)
      val d1 = drain(ctx, one, rules, "one-core")
      res.perLayer += "replay_eps_1core" -> ref.lines / d1.secs
      Session.stop(one)
    } else Session.stop(spark)
    res.endToEnd += "mem_peak_mb" -> Probe.peakRssMb()
  }
}

/** The ablation ladder: one window, the replay corpus, each rung one more
  * public builder composed onto the last, each drained with a closed
  * availableNow trigger. A layer's self time is its rung minus the rung
  * before it. Two rounds, rung order interleaved; medians reported. */
object Ladder {
  val Rungs: Seq[String] = Seq("source", "parse", "dedup", "dispatch", "shape", "serialize", "sink")

  def run(ctx: Ctx, spark: SparkSession, rules: Seq[RuleDef]): Seq[(String, Double)] = {
    val secs = scala.collection.mutable.Map.empty[String, Seq[Double]]
    for (round <- 0 until 2; rung <- Rungs) {
      val dir = Files2.fresh(new File(ctx.work, s"ladder/$rung-$round"))
      val ckpt = new File(dir, "checkpoint")
      val c = Replay.conf(ctx.corpus, dir, sinkFormat = "text")
      def parsed = Sources.source(spark, c)
      def deduped = parsed.withWatermark("timestamp", "10 seconds").dropDuplicatesWithinWatermark("uuid")
      def shaped = AlertPipeline.alertsMerged(deduped, rules)
      def serialized = shaped.select(to_json(struct(col("computer_name"), col("host"),
        col("event"), col("threat"), col("rule"))).as("value"))
      val s = ctx.spans.span(s"ladder.$rung", group = s"ladder:$round") { _ =>
        Probe.tagged(spark, s"ladder:$rung") {
          rung match {
            case "source" => Streams.drainNoop(Streams.rawFiles(spark, ctx.corpus, 100), ckpt)
            case "parse" => Streams.drainNoop(parsed, ckpt)
            case "dedup" => Streams.drainNoop(deduped, ckpt)
            case "dispatch" => Streams.drainNoop(
              AlertPipeline.alertsMerged(deduped, rules).select(col("event.origin_ids"), col("rule.name")), ckpt)
            case "shape" => Streams.drainNoop(shaped, ckpt)
            case "serialize" => Streams.drainNoop(serialized, ckpt)
            case "sink" =>
              val t0 = System.nanoTime()
              Streams.await(Sources.sink(serialized, c)
                .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start())
              (System.nanoTime() - t0) / 1e9
          }
        }
      }
      secs(rung) = secs.getOrElse(rung, Seq.empty) :+ s
    }
    Rungs.map(r => s"rung.${r}_s" -> Stats.median(secs(r)))
  }
}
