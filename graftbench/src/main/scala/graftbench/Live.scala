package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.compile.RuleCompiler
import graft.engine.{AlertPipeline, Sources}
import graft.rules.RuleDef

/** Workload `live-sigma`: a generated Sigma repository compiled through
  * `RuleCompiler.compileDir`, deployed with `AlertPipeline.startIngestChain`
  * (parse → watermark uuid dedup → merged dispatch → files sink) and fed by
  * the open-loop generator at fixed rates. Latency is per alert: the source
  * event's due time to the commit of the trigger that wrote the alert. */
object Live {
  /** Fixed publishing rates (events/s), lowest first; the middle one is
    * where latency is reported, the top one sits past the knee. */
  val Rates: Seq[Double] = Seq(800, 1600, 6400)
  /** Share of `--seconds` each rate is held: most of the run at the
    * middle rate, where latency is reported. */
  val Holds: Seq[Double] = Seq(0.15, 0.7, 0.15)
  val FileMs = 250
  val SeqBase = 1000000L
  val MaxFilesPerTrigger = 100

  final case class Phase(rate: Double, achieved: Double, firstSeq: Long, lastSeq: Long)
  final case class Deployed(spark: SparkSession, query: StreamingQuery, dir: File, sink: File)

  def compile(ctx: Ctx): (Seq[RuleDef], Double) = ctx.spans.span("graft.compile.RuleCompiler.compileDir") { _ =>
    val t0 = System.nanoTime()
    val rules = RuleCompiler.compileDir(ctx.rules.getAbsolutePath)
    (rules, (System.nanoTime() - t0) / 1e9)
  }

  /** Deploy the ingest chain on a fresh live directory and wait until its
    * first (warm-up) trigger has committed. */
  def deploy(ctx: Ctx, spark: SparkSession, rules: Seq[RuleDef], progress: ProgressProbe,
      round: Int): Deployed = {
    val dir = Files2.fresh(new File(ctx.work, s"live/round-$round"))
    val src = Files2.fresh(new File(dir, "source"))
    val sink = new File(dir, "sink")
    val conf = Map("sink.type" -> "files", "sink.path" -> sink.getAbsolutePath,
      "checkpoint" -> new File(dir, "checkpoint").getAbsolutePath)
    val q = ctx.spans.span("graft.engine.AlertPipeline.startIngestChain") { _ =>
      AlertPipeline.startIngestChain(Streams.rawFiles(spark, src, MaxFilesPerTrigger), rules)(
        df => Sources.sink(df, conf))
    }
    // the warm-up file was written before set-up began; publishing it is a rename
    val warm = new File(ctx.inputs, s"warmup-$round")
    Files2.sinkFiles(warm).foreach(f => java.nio.file.Files.move(f.toPath, new File(src, f.getName).toPath))
    val deadline = System.nanoTime() + 120e9
    while (!progress.of(q.runId).exists(_.numInputRows > 0) && System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(20)
    }
    Deployed(spark, q, src, sink)
  }

  /** Run the generator's fixed schedule into the live directory; returns
    * its phases and how late it ran (p99 of its tick lateness, ms). */
  def publish(ctx: Ctx, d: Deployed, seqBase: Long, tag: String): (Seq[Phase], Double) =
    ctx.spans.span("generator.live", group = tag) { _ =>
      val holds = Holds.map(h => f"${h * ctx.seconds}%.2f")
      val cmd = ctx.genCmd ++ Seq("live", "--seed", (ctx.seed + seqBase).toString,
        "--out", d.dir.getAbsolutePath, "--rates", Rates.map(_.toInt).mkString(","),
        "--hold", holds.mkString(","), "--file-ms", FileMs.toString, "--seq-base", seqBase.toString)
      val p = new ProcessBuilder(cmd.asJava).redirectError(ProcessBuilder.Redirect.INHERIT).start()
      val out = try {
        val text = new String(p.getInputStream.readAllBytes(), "UTF-8")
        if (!p.waitFor(ctx.seconds.toLong * 4 + 60, java.util.concurrent.TimeUnit.SECONDS))
          sys.error("generator did not finish")
        require(p.exitValue() == 0, s"generator exited with ${p.exitValue()}")
        text
      } finally { p.destroy(); p.waitFor() }
      val summary = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out.trim.split('\n').last)
      // achieved rate: events over the measured span from the phase's first
      // to its last publish, plus one tick
      val phases = summary.get("phases").elements().asScala.toSeq.map { ph =>
        val secs = (ph.get("pub1_ms").asDouble - ph.get("pub0_ms").asDouble) / 1000.0 + FileMs / 1000.0
        Phase(ph.get("rate").asDouble, ph.get("events").asLong / secs,
          ph.get("first_seq").asLong, ph.get("last_seq").asLong)
      }
      (phases, summary.get("gen_late_ms").asDouble)
    }

  /** Wait until the query has read `lines` source rows, or a deadline. */
  def drain(d: Deployed, progress: ProgressProbe, lines: Long): Unit = {
    val deadline = System.nanoTime() + 60e9
    while (Streams.inputRows(progress.of(d.query.runId)) < lines && System.nanoTime() < deadline) {
      d.query.exception.foreach(e => throw e)
      Thread.sleep(20)
    }
  }

  /** Backlog catch-up: a pre-written backlog is published at once (by
    * rename) and drained; events per second from the first rename to the
    * commit of the trigger that read its last row. */
  def catchUp(ctx: Ctx, d: Deployed, progress: ProgressProbe): Double =
    ctx.spans.span("live.catch_up") { _ =>
      val backlog = Files2.sinkFiles(new File(ctx.inputs, "backlog"))
      val lines = backlog.map(f => Files2.lines(f).size.toLong).sum
      val before = Streams.inputRows(progress.of(d.query.runId)).toLong
      val t0 = System.currentTimeMillis().toDouble
      backlog.foreach(f => java.nio.file.Files.move(f.toPath, new File(d.dir, f.getName).toPath))
      drain(d, progress, before + lines)
      val done = progress.of(d.query.runId).filter(_.numInputRows > 0).last
      lines / ((Probe.commitEpochMs(done) - t0) / 1000.0)
    }

  /** Per-phase latency samples: one per expected alert, +inf if missing. */
  def latencies(ref: Reference, got: Seq[Reference.Alert], commits: Map[Long, Double],
      ph: Phase): Seq[Double] = {
    val byKey = got.groupBy(a => (a.uuid, a.rule))
    ref.expected.iterator.flatMap { case (k @ (uuid, _), n) =>
      val ev = ref.events(uuid)
      if (ev.seq < ph.firstSeq || ev.seq >= ph.lastSeq) Iterator.empty
      else {
        val hits = byKey.getOrElse(k, Seq.empty).take(n)
          .map(a => commits.get(a.batch).map(_ - ev.dueMs).getOrElse(Double.PositiveInfinity))
        (hits ++ Seq.fill(n - hits.size)(Double.PositiveInfinity)).iterator
      }
    }.toSeq
  }

  /** A rate holds if its p99 meets the limit and the backlog does not
    * grow: alerts of the last third of the phase are not markedly later
    * than those of the first third. */
  def holds(ref: Reference, got: Seq[Reference.Alert], commits: Map[Long, Double],
      ph: Phase, limitMs: Double): (Boolean, Double, Double) = {
    val all = latencies(ref, got, commits, ph)
    val span = ph.lastSeq - ph.firstSeq
    def third(i: Int) = latencies(ref, got, commits,
      ph.copy(firstSeq = ph.firstSeq + span * i / 3, lastSeq = ph.firstSeq + span * (i + 1) / 3))
    val early = Stats.median(third(0))
    val late = Stats.median(third(2))
    val p99 = Stats.pct(all, 0.99)
    (p99 <= limitMs && !(late > early * 1.5 + 500), Stats.pct(all, 0.5), p99)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    var spark: SparkSession = null
    var d: Deployed = null
    val progress = new ProgressProbe
    var rules: Seq[RuleDef] = Seq.empty
    // set-up, three times: session start, rule compilation, query start and
    // its first trigger; the last deployment takes the timed load
    val rounds = (0 until 3).map { round =>
      if (d != null) { d.query.stop(); Session.stop(spark) }
      ctx.spans.span("setup", attrs = Map("round" -> round)) { _ =>
        val t0 = System.nanoTime()
        spark = Session.build(ctx.work, ctx.cores)
        spark.streams.addListener(progress)
        val (rs, compileS) = compile(ctx)
        rules = rs
        d = deploy(ctx, spark, rules, progress, round)
        ((System.nanoTime() - t0) / 1e9, compileS)
      }
    }
    val gc0 = Probe.gcSeconds()
    val cpu0 = Probe.processCpuSeconds()
    val (phases, lateMs) = publish(ctx, d, SeqBase, "timed")
    drain(d, progress, Files2.lines(d.dir).size.toLong)
    val backlogEps = catchUp(ctx, d, progress)
    val cpuS = Probe.processCpuSeconds() - cpu0
    val gcS = Probe.gcSeconds() - gc0
    // events per busy second: every trigger after the warm-up one, paced
    // load and backlog, rows read over time spent in triggers
    val loaded = Streams.active(progress.of(d.query.runId)).drop(1)
    val busyEps = Streams.inputRows(loaded) /
      loaded.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1000.0).sum

    def evaluate(): (Reference, Seq[Reference.Alert], Map[Long, Double]) = {
      val ref = new Reference(rules, dedup = true)
      ref.addAll(Files2.lines(d.dir).toSeq)
      val got = Reference.sinkAlerts(spark, d.sink)
      val commits = progress.of(d.query.runId).map(p => p.batchId -> Probe.commitEpochMs(p)).toMap
      (ref, got, commits)
    }
    var (ref, got, commits) = evaluate()
    val verdicts = phases.map(ph => ph -> holds(ref, got, commits, ph, ctx.latLimitMs))
    val mid = verdicts(verdicts.size / 2)._2
    val passing = verdicts.filter(_._2._1)
    val rateOk = passing.lastOption.map(_._1.achieved).getOrElse(0.0)

    res.endToEnd ++= Seq(
      "setup_s" -> Stats.median(rounds.map(_._1)),
      "cpu_ms_per_event" -> cpuS * 1000.0 / Streams.inputRows(loaded),
      "throughput_per_s" -> busyEps,
      "lat_p50_ms" -> mid._2,
      "lat_p99_ms" -> mid._3)
    res.info ++= Seq("rates" -> phases.map(_.rate), "achieved_rates" -> phases.map(_.achieved),
      "rate_p50_ms" -> verdicts.map(_._2._2), "rate_p99_ms" -> verdicts.map(_._2._3),
      "rate_holds" -> verdicts.map(_._2._1), "latency_samples_mid" ->
        latencies(ref, got, commits, phases(phases.size / 2)).size,
      "gen_late_ms" -> lateMs, "lat_limit_ms" -> ctx.latLimitMs,
      "triggers" -> Streams.triggerTable(progress.of(d.query.runId)))

    if (ctx.trace) {
      val untracedMid = mid._2
      val tasks = new TaskProbe
      spark.sparkContext.addSparkListener(tasks)
      val before = progress.of(d.query.runId).map(_.batchId).toSet
      val (phases2, _) = publish(ctx, d, 2 * SeqBase, "traced")
      drain(d, progress, Files2.lines(d.dir).size.toLong)
      // the query's jobs carry no tag (its thread predates the listener)
      val taskCpuS = tasks.get("").cpuNs / 1e9
      val tracedPs = progress.of(d.query.runId).filterNot(p => before(p.batchId))
      Streams.traceTriggers(ctx.spans, tracedPs, 0, "live")
      val (ref2, got2, commits2) = evaluate()
      ref = ref2; got = got2
      val tracedMid = holds(ref2, got2, commits2, phases2(phases2.size / 2), ctx.latLimitMs)._2
      val (bytes, files) = Streams.sinkBytes(d.sink)
      val parsed = AlertPipeline.parseJson(spark.read.text(d.dir.getAbsolutePath)
        .withColumn("timestamp", org.apache.spark.sql.functions.current_timestamp())).count()
      val plan = AlertPipeline.ingestChain(Streams.rawFiles(spark, d.dir, MaxFilesPerTrigger), rules)
      val yamlFiles = Option(ctx.rules.listFiles()).getOrElse(Array.empty[File])
        .count(f => f.getName.endsWith(".yml") || f.getName.endsWith(".yaml"))
      val all = progress.of(d.query.runId)
      res.perLayer ++= Streams.triggerMetrics(tracedPs)
      res.perLayer ++= Streams.stateMetrics(tracedPs)
      res.perLayer ++= Seq(
        "rate_ok_eps" -> rateOk,
        "backlog_eps" -> backlogEps,
        "gen_late_ms" -> lateMs,
        "compile.rules" -> rules.size.toDouble,
        "compile.skipped" -> (yamlFiles - rules.size).toDouble,
        "compile_s" -> Stats.median(rounds.map(_._2)),
        "source.scan_amplification" -> Streams.inputRows(all) / ref2.lines,
        "parse.malformed_dropped" -> (ref2.lines - parsed).toDouble,
        "dispatch.rules" -> rules.size.toDouble,
        "dispatch.alerts_out" -> got2.size.toDouble,
        "dispatch.alerts_per_event" ->
          got2.size.toDouble / (ref2.lines - ref2.malformed - ref2.duplicates),
        "plan.logical_nodes" -> Streams.logicalNodes(plan),
        "sink.bytes" -> bytes, "sink.files" -> files,
        "exec_cpu_s" -> taskCpuS,
        "gc_s" -> gcS,
        "trace_overhead_frac" -> (tracedMid / untracedMid - 1.0))
    }

    // correctness over everything the generator wrote into the live source
    val (missing, extra) = Reference.bagDiff(ref.expected, got)
    res.attempted += ref.expectedAlerts
    res.failed += missing + extra
    Reference.selfTest(ref.expected, got).foreach(res.fail)
    if (ref.duplicates == 0) res.fail("the generator injected no duplicate")
    res.info ++= Seq("expected_alerts" -> ref.expectedAlerts, "missing" -> missing,
      "extra" -> extra, "duplicates" -> ref.duplicates, "malformed_lines" -> ref.malformed)
    d.query.stop()
    Session.stop(spark)
    res.endToEnd += "mem_peak_mb" -> Probe.peakRssMb()
    if (ctx.trace) Fleet.traced(ctx, res)
  }
}
