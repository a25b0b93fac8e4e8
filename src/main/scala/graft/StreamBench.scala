package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.compile.{And, Like}
import graft.engine.AlertPipeline
import graft.ops.Detection
import graft.rules.{ReferenceCorpus, RuleDef}
import graft.streaming.TimeframeRules

/** Detection-pipeline throughput benchmark: events/sec through the rule
  * fan-out on synthetic sysmon load (the reference publishes no numbers —
  * BASELINE.md — so this records ours). Measures both topologies: the
  * reference-shaped UNION ALL plan and the merged single-pass dispatch.
  * Batch micro-benchmark — the same logical plan Structured Streaming runs
  * per micro-batch, without trigger-scheduling noise.
  *
  * Run: sbt "runMain graft.StreamBench [nRows] [nRules] [shards] [mode] [skew]"
  *
  * shards > 1 measures the rule-SHARDING latency mode: the rule set is
  * split across `shards` concurrent streaming queries, each reading its
  * own rate source (the local-mode analog of K consumers in one Kafka
  * consumer group) and evaluating only rules/K predicates per trigger.
  * This is the documented mitigation for the fixed per-trigger dispatch
  * cost at very large rule counts — per-trigger latency drops ~K× at the
  * cost of K source consumers. With shards > 1 only the latency section
  * runs (the batch-throughput numbers are a property of the merged plan,
  * unchanged by sharding).
  *
  * mode (shards > 1): how rules are assigned to shards.
  *   "rr"   (default) — contiguous equal-COUNT slices, the round-6 shape.
  *   "cost" — equal-COST shards: each rule's predicate is timed over one
  *            cached calibration batch, then greedy bin-packing (largest
  *            cost first, into the lightest shard) balances measured cost
  *            instead of rule count. Real rule sets have wildly uneven
  *            predicate cost; with count-balanced shards the slowest shard
  *            sets the fleet's p95, because every shard is a consumer of
  *            the same feed and the laggard's trigger queue grows.
  * skew: pass "skew" to make every 7th rule ~an order of magnitude more
  *   expensive (a conjunction of extra substring scans) — the uneven-cost
  *   workload the mode comparison is about. Without it the synthetic
  *   clones are near-uniform and both modes measure the same thing.
  *
  * nRules > 25 exercises the 1000-rule scale path (SURVEY §4 "plan size"):
  * the corpus is cloned with an extra per-variant conjunct — every variant's
  * predicate is fully evaluated per event, but only the base 25 fire, so
  * alert volume stays constant and the measurement isolates
  * predicate-evaluation scaling. The union topology is only measured up to
  * 50 rules: its plan has O(rules) operators and O(rules) source re-scans
  * in batch, which is exactly the shape that cannot scale — the merged
  * dispatch stays ONE projection + explode + constant-metadata lookup at
  * any rule count (no join: the rule-metadata array is folded into the
  * plan as a literal, see AlertPipeline.alertsMerged).
  */
object StreamBench {

  /** base rules + never-firing literal variants, round-robin to n. With
    * `skew`, every 7th clone GROUP carries 8 extra substring conjuncts —
    * several times the per-event predicate work, the uneven-cost shape of
    * a real rule set (none of the extras change what fires). The extra
    * patterns are UNIQUE PER RULE (base index × variant × j): patterns
    * shared across rules would be collapsed by whole-stage codegen's
    * common-subexpression elimination whenever those rules land in the
    * same shard, making measured per-rule costs non-additive — an earlier
    * shared-pattern version of this skew made cost-packing look 4× WORSE
    * than contiguous slicing purely because packing scattered each
    * CSE-shared group across every shard (see README "sharding 1000
    * rules"; the lesson is real and documented, but the default skew
    * should model independent rule costs). */
  def cloneRules(base: Seq[RuleDef], n: Int, skew: Boolean = false): Seq[RuleDef] =
    Iterator.from(0).flatMap { i =>
      base.zipWithIndex.map { case (r, bi) =>
        if (i == 0) r
        else {
          val variant = And(r.where, Like("CommandLine", s"%__variant_$i%"))
          val where =
            if (skew && i % 7 == 1) {
              // heavy = an always-false OR-chain as the LEFT conjunct: Or
              // only short-circuits on TRUE, so all 8 substring scans run
              // on EVERY row (an expensive conjunct placed right of a
              // cheap mostly-false base predicate would almost never
              // evaluate — no runtime skew at all)
              val chain = (1 until 8).foldLeft[graft.compile.Pred](
                Like("CommandLine", s"%__expensive_${bi}_${i}_0%"))((w, j) =>
                graft.compile.Or(w, Like("CommandLine", s"%__expensive_${bi}_${i}_$j%")))
              And(chain, variant)
            } else variant
          r.copy(name = s"${r.name} [v$i]", where = where)
        }
      }
    }.take(n).toSeq

  /** One-batch calibration, OFF-SPARK: collect a sample of the flat synth
    * load once, then time each rule's compiled in-memory evaluator
    * (Pred.evaluator) over it. Two full passes; the second is the
    * measurement (the first pays JIT). Why not time per-rule Spark plans:
    * (a) a count job's ~90 ms launch overhead swamps a few ms of real
    * predicate cost, so the measured "costs" are uniform noise and the
    * bin-packing degenerates to random; (b) compiling 1000 throwaway
    * codegen'd plans fills the JVM code cache and measurably degrades the
    * streaming phase measured NEXT in the same JVM (first attempt: rr p50
    * 5.6 s vs cost p50 30.5 s from pollution alone). */
  def calibrate(rules: Seq[RuleDef],
      flat: org.apache.spark.sql.DataFrame, sample: Int = 20000): Map[String, Double] = {
    val rows = flat.limit(sample).collect()
    val schema = flat.schema
    def costOf(r: RuleDef): Double = {
      val ev = r.where.evaluator
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows.length) {
        val row = rows(i)
        ev(
          f => { val j = schema.fieldIndex(f)
                 if (row.isNullAt(j)) null else row.getString(j) },
          c => { val j = schema.fieldIndex(c)
                 if (row.isNullAt(j)) null else row.get(j) })
        i += 1
      }
      (System.nanoTime() - t0) / 1e6
    }
    rules.foreach(costOf) // JIT warm-up pass
    rules.map(r => r.name -> costOf(r)).toMap
  }

  /** Greedy bin-packing: heaviest rule first, into the currently-lightest
    * shard — the classic LPT heuristic, within 4/3 of the optimal makespan,
    * which is all a latency balancer needs. */
  def packByCost(rules: Seq[RuleDef], costs: Map[String, Double],
      k: Int): Seq[Seq[RuleDef]] = {
    val bins = Array.fill(k)(scala.collection.mutable.Buffer.empty[RuleDef])
    val load = Array.fill(k)(0.0)
    rules.sortBy(r => -costs(r.name)).foreach { r =>
      val i = load.indexOf(load.min)
      bins(i) += r
      load(i) += costs(r.name)
    }
    bins.map(_.toSeq).toSeq
  }

  /** Newest prior STREAMBENCH_r<N>.json in the repo root, for the
    * round-over-round eps comparison (the batch headline's vs_prior
    * discipline applied to the streaming record).
    *
    * `maxRound`: rounds >= this are EXCLUDED — the round being recorded
    * must not compare against its own (or a later) already-written file.
    * The shipped r12 record compared r12-vs-r12 because an earlier r12
    * run was already on disk when the final one ran (advisor finding);
    * record() now passes the current round from GRAFT_STREAM_ROUND. */
  private[graft] def priorStreamRecord(dir: String = ".",
      maxRound: Int = Int.MaxValue): Option[java.io.File] = {
    val rx = "^STREAMBENCH_r(\\d+)\\.json$".r // whole-name: see Bench.priorRecordFile
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .toSeq
      .flatMap(f => rx.findFirstMatchIn(f.getName).map(m => (m.group(1).toInt, f)))
      .filter(_._1 < maxRound)
      .sortBy(-_._1).headOption.map(_._2)
  }

  /** Percentile over a pre-sorted sample (nearest-rank). */
  private[graft] def pctOf(xs: Seq[Long], p: Double): Long =
    if (xs.isEmpty) -1
    else xs(math.min(xs.length - 1, math.ceil(p * xs.length).toInt - 1))

  /** One topology row's stats as JSON fields: full post-warm-drop window
    * (eps/batches/p50/p95 — continuity with earlier rounds) PLUS a
    * STEADY tail window (the last half of the kept samples) and the
    * warm-up bookkeeping, so the record stands alone. Rationale (r13
    * verdict #4): at 1000 rules the first ~10 triggers are still JIT-
    * compiling 1000 generated methods, so the full-window p95 mixes
    * warm-up into the figure (committed 4 998 ms vs probe-measured steady
    * 1 133 ms) and only COVERAGE prose said so — now the steady fields
    * carry it in the artifact itself. */
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

  /** The committed SUSTAINED-throughput record (r10 verdict task #3): the
    * reference's real workload is a continuously-running stream
    * (windows-process-access.sql:72-601), so the record measures real
    * STREAMING queries — rate source → 25-rule fan-out → noop sink, with
    * the RocksDB state-store provider configured exactly as a production
    * deployment would run it — in three topologies:
    *
    *   - merged:   alertsMerged single-pass dispatch (the scale path)
    *   - union:    the reference-shaped 25-branch UNION ALL plan (one
    *               shared MicroBatchScan in streaming)
    *   - stateful: a windowed-count timeframe rule (10 s tumbling window
    *               per host, watermarked) — keyed state actually lands
    *               in RocksDB here
    *
    * plus a RULES-SCALING table (r11 verdict task #3): the merged
    * dispatch re-measured at 250 and 1000 cloned rules — the
    * configuration the merged path exists for (a 1000-branch union plan
    * takes 93.8 s just to BUILD, RuleFanoutProbe) — so the record shows
    * how sustained eps degrades with rule count.
    *
    * Each runs unthrottled-saturated (rate source above capacity), warms
    * 3 triggers, then records events/s = Σrows / Σtrigger-time over the
    * next ~25 triggers plus p50/p95 trigger latency. Batch-mode merged /
    * union eps ride along for continuity with earlier rounds' numbers.
    * The line carries load/calib/calib_mt and a vs_prior block against
    * the newest committed STREAMBENCH_r*.json so the record is tracked
    * round-over-round with the same discipline as the batch headline. */
  /** Per-row health verdict for the streaming record: the calib_mt
    * brackets of every attempt (last one is the kept row's) and whether
    * the kept row's bracket sat at-or-under the gate. */
  private[graft] final case class RowHealth(ok: Boolean,
      brackets: Seq[(Double, Double)])

  /** The batch bench's self-gating (Bench.gatedPasses) ported to ONE
    * streaming record row (r16 verdict #6: STREAMBENCH records relied on
    * prose caveats + vs_prior ratios where the batch bench already
    * self-certified). The row measurement runs bracketed by the
    * multi-core calibration; a bracket above the gate discards the row,
    * settles, and re-runs — bounded by `retries` (streaming rows cost
    * 2–10 min each, so the budget is shared across the record, not 4 per
    * pass like the 85 s batch rotations). When the budget runs out the
    * last attempt's row is kept but stamped hok:false — a contended host
    * cannot produce a green-looking streaming record. Injectable
    * calib/run/settle for StreamBenchGateSpec. */
  private[graft] def gatedRow(gate: Double, retries: Int,
      calibFn: () => Double, run: () => String,
      settle: () => Unit): (String, RowHealth, Int) = {
    var used = 0
    var brackets = Vector.empty[(Double, Double)]
    var row = ""
    var ok = false
    var again = true
    while (again) {
      val pre = calibFn(); row = run(); val post = calibFn()
      brackets :+= ((pre, post))
      ok = math.max(pre, post) <= gate
      again = !ok && used < retries
      if (again) { used += 1; settle() }
    }
    (row, RowHealth(ok, brackets), used)
  }

  /** Stamp a row's health into its JSON: fragments (the `"name_eps":…`
    * shape statsJson emits) get suffixed `name_bracket`/`name_hok`
    * fields; full objects (the sharded rows) get them injected before the
    * closing brace. */
  private[graft] def stampRow(row: String, name: String, h: RowHealth): String = {
    val Seq(pre, post) = Seq(h.brackets.last._1, h.brackets.last._2)
    val fields = f""""${name}_bracket":[$pre%.3f,$post%.3f],"${name}_hok":${h.ok}"""
    if (row.startsWith("{")) row.dropRight(1) + s",$fields}"
    else s"$row,$fields"
  }

  private def record(spark: SparkSession, n: Long): Unit = {
    // fail BEFORE the ~25 min measurement: without the current round the
    // vs_prior search can compare this run against its own already-written
    // STREAMBENCH_r<N>.json — the exact self-comparison bug r12 shipped
    val maxRound = sys.env.getOrElse("GRAFT_STREAM_ROUND",
      throw new IllegalStateException(
        "record mode requires GRAFT_STREAM_ROUND=<current round N> so " +
          "vs_prior only considers STREAMBENCH_r<M>.json with M < N")).toInt
    val rules = ReferenceCorpus.active
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    Bench.calibSecs() // JIT-warm the calibration loop
    val load0 = osBean.getSystemLoadAverage
    // production state-store configuration: keyed state off-heap in
    // RocksDB (StreamingSpec pins result-equivalence vs the default)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // (production detection config #2, hugeMethodLimit=8000, comes from
    // SessionDefaults on the builder — the fused merged-dispatch stage
    // otherwise runs interpreted, measured 4-5× per-event by TriggerProbe)

    // ---- batch continuity numbers (same shape as the default mode) ----
    val load = Detection.nestedFrom(Detection.synthFrom(
      spark.range(n).select(col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000).as("ts"))))
    AlertPipeline.alertsMerged(load.limit(1000), rules).count()
    def timeSec(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val mergedBatchSec = (1 to 3).map(_ =>
      timeSec(AlertPipeline.alertsMerged(load, rules).count())).min
    AlertPipeline.alerts(load.limit(1000), rules).count()
    val unionBatchSec = timeSec(AlertPipeline.alerts(load, rules).count())

    // ---- sustained streaming eps per topology ----
    // inputFactor: StreamingQueryProgress.numInputRows sums input counts
    // across plan BRANCHES — a k-branch UNION over one shared
    // MicroBatchScan reports every source row k times (confirmed with
    // TriggerProbe: trigger rows=10,000,000 against a 400k rows/s rate
    // source = exactly 25× the arrivals), so the r11 committed
    // union_eps=10.1M was 25× inflated. Rows are divided by the factor so
    // every eps in the record counts SOURCE events once.
    // rps: arrival rate. The eps rows run saturated (arrivals above
    // capacity) so eps measures capacity; the *_lat rows re-run paced
    // (arrivals below capacity) because p50/p95 under saturation measure
    // backlog growth, not trigger latency.
    // paced rows measure steady-state trigger LATENCY, and this whole
    // record runs in ONE JVM: the r14 merged1000_lat steady p95 (10.5 s)
    // was GC/state-teardown residue of the saturated run preceding it in
    // the same session, readable only with an out-of-band TriggerProbe
    // note (r14 verdict #1). The record protocol now self-isolates:
    // paced rows get a settle barrier (GC + quiesce) before starting, and
    // a polluted result — steady p95 ≫ steady p50, the residue signature;
    // a healthy paced row sits ~1.5× — is re-run after a longer settle.
    // The committed number IS the steady number, no adjudication prose.
    def sustained(name: String,
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        deadlineSec: Long = 120, inputFactor: Long = 1,
        rps: String = sys.env.getOrElse("SPARK_GRAFT_RECORD_RPS", "400000"),
        targetSamples: Int = 28, paced: Boolean = false): String = {
      def runOnce(): Seq[(Long, Long)] = {
        val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
        val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val d = e.progress.durationMs.get("triggerExecution")
            if (e.progress.numInputRows > 0 && d != null)
              samples.add((e.progress.numInputRows, d.toLong))
          }
        }
        spark.streams.addListener(listener)
        val stream = spark.readStream.format("rate")
          .option("rowsPerSecond", rps)
          .option("numPartitions", 8).load()
          .select(col("value").as("event_id"), col("timestamp").as("ts"))
        val q = mk(stream).writeStream.format("noop").outputMode("append").start()
        try {
          val deadline = System.nanoTime() + deadlineSec * 1000 * 1000 * 1000
          while (samples.size < targetSamples && System.nanoTime() < deadline)
            Thread.sleep(200)
        } finally { q.stop(); spark.streams.removeListener(listener) }
        samples.toArray(Array.empty[(Long, Long)]).toSeq
      }
      def settle(sec: Long): Unit = { System.gc(); Thread.sleep(sec * 1000) }
      def polluted(all: Seq[(Long, Long)]): Boolean = {
        val steady = all.drop(math.min(3, all.size / 2))
        val ds = steady.drop(steady.size / 2).map(_._2).sorted
        ds.nonEmpty && pctOf(ds, 0.95) > 3 * math.max(pctOf(ds, 0.5), 1)
      }
      if (paced) settle(10)
      var all = runOnce()
      var reruns = 0
      while (paced && polluted(all) && reruns < 2) {
        settle(30); all = runOnce(); reruns += 1
      }
      // first triggers pay codegen + broadcast warm-up, not throughput —
      // statsJson drops them and carries a steady tail window besides
      statsJson(name, all, inputFactor) +
        (if (paced) s""","${name}_reruns":$reruns""" else "")
    }

    // ---- sharded-fleet table (r12 verdict #1): the documented deployment
    // answer for latency-sensitive very-large rule sets is K consumers of
    // the same feed, each dispatching rules/K — every committed sharding
    // number predated BOTH r12 corrections (JIT dead zone, per-branch
    // input inflation) AND r13's rule_dispatch, so re-measure on the fixed
    // stack. Each shard reads its own full-rate source (K consumer GROUPS:
    // every rule must see every event) and runs the merged dispatch of its
    // contiguous slice. Paced below fleet capacity: p50/p95 are honest
    // trigger latencies; per-shard eps = rows/busy-time (numInputRows is
    // counted once per shard — merged dispatch has no union branches —
    // hence input_corrected), and the fleet's number is its WORST shard's
    // (all shards serve the same feed; a laggard's queue grows). K=1 rows
    // are the merged{nr}_lat entries below. NOTE local[32] oversubscribes
    // at K=8 (64 source tasks): worst-shard figures are conservative — a
    // real fleet gives each consumer its own executors.
    def sharded(k: Int, nr: Int, deadlineSec: Long): String = {
      val cloned = cloneRules(rules, nr)
      // grouped() can yield FEWER than k slices for small nr (e.g. nr=6,
      // k=4 → 3) — wait on and report the slice count actually run, or
      // the loop spins to the deadline and the row lies about k
      val slices = cloned.grouped(math.ceil(nr.toDouble / k).toInt).toSeq
      val actualK = slices.size
      val perQ = new java.util.concurrent.ConcurrentHashMap[java.util.UUID,
        java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val d = e.progress.durationMs.get("triggerExecution")
          if (e.progress.numInputRows > 0 && d != null)
            perQ.computeIfAbsent(e.progress.id,
              _ => new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]())
              .add((e.progress.numInputRows, d.toLong))
        }
      }
      spark.streams.addListener(listener)
      val qs = slices.map { g =>
        val stream = spark.readStream.format("rate")
          .option("rowsPerSecond", "50000")
          .option("numPartitions", 8).load()
          .select(col("value").as("event_id"), col("timestamp").as("ts"))
        AlertPipeline.alertsMerged(Detection.nestedFrom(Detection.synthFrom(stream)), g)
          .writeStream.format("noop").outputMode("append").start()
      }
      val perShardTarget = 16 // 3 dropped warm + >=10 steady per shard
      try {
        val deadline = System.nanoTime() + deadlineSec * 1000 * 1000 * 1000
        while ((perQ.size < actualK ||
            perQ.values.stream.anyMatch(_.size < perShardTarget))
            && System.nanoTime() < deadline) Thread.sleep(200)
      } finally { qs.foreach(_.stop()); spark.streams.removeListener(listener) }
      import scala.jdk.CollectionConverters._
      val shardsSteady = perQ.values.asScala.toSeq.map { q =>
        val all = q.toArray(Array.empty[(Long, Long)])
        all.drop(math.min(3, all.length / 2)).toSeq
      }.filter(_.nonEmpty)
      val pooled = shardsSteady.flatten.map(_._2).sorted
      def shardEps(s: Seq[(Long, Long)]): Long = {
        val ms = s.map(_._2).sum
        if (ms > 0) s.map(_._1).sum * 1000L / ms else -1L
      }
      // steady tail per shard (statsJson's last-half window): per-shard
      // JIT warm-up at large rules/shard stretches past the 3-batch drop
      def tailOf(s: Seq[(Long, Long)]) = s.drop(s.size / 2)
      def worst(w: Seq[(Long, Long)] => Seq[(Long, Long)], p: Double): Long =
        if (shardsSteady.isEmpty) -1
        else shardsSteady.map(s => pctOf(w(s).map(_._2).sorted, p)).max
      val worstEps = if (shardsSteady.isEmpty) -1 else shardsSteady.map(shardEps).min
      val minBatches = if (shardsSteady.isEmpty) 0 else shardsSteady.map(_.size).min
      val minSteady = if (shardsSteady.isEmpty) 0
        else shardsSteady.map(s => tailOf(s).size).min
      s"""{"k":$actualK,"rules":$nr,"paced_rps":50000,""" +
        s""""p50_ms":${pctOf(pooled, 0.5)},"p95_ms":${pctOf(pooled, 0.95)},""" +
        s""""worst_shard_p50_ms":${worst(identity, 0.5)},""" +
        s""""worst_shard_p95_ms":${worst(identity, 0.95)},""" +
        s""""worst_shard_steady_p50_ms":${worst(tailOf, 0.5)},""" +
        s""""worst_shard_steady_p95_ms":${worst(tailOf, 0.95)},""" +
        s""""worst_shard_eps":$worstEps,"min_shard_batches":$minBatches,""" +
        s""""min_shard_steady_batches":$minSteady}"""
    }

    // ---- per-row health gate (r16 verdict #6, Bench.gatedPasses ported):
    // every row below runs inside gatedRow — calib_mt brackets stamped
    // into the row, contended rows retried from a SHARED budget (rows
    // cost minutes; unbounded per-row retries could double a ~25 min
    // record), and the record line carries hok/hrej like the batch bench.
    // same Try-guarded read as Bench's consumer of this env var (advisor
    // r17): a malformed value degrades to the default gate on BOTH
    // consumers instead of crashing a ~25-minute record run here
    val gate = sys.env.get("GRAFT_BENCH_HEALTH_MAX")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .getOrElse(Bench.HealthGateDefault)
    var retryBudget = 3
    val rowHealth = scala.collection.mutable.ArrayBuffer.empty[(String, RowHealth)]
    def gated(name: String)(run: => String): String = {
      val (row, h, used) = gatedRow(gate, retryBudget, () => Bench.calibMtSecs(),
        () => run, () => { System.gc(); Thread.sleep(20000) })
      retryBudget -= used
      rowHealth += ((name, h))
      stampRow(row, name, h)
    }

    val mergedS = gated("merged")(sustained("merged",
      s => AlertPipeline.alertsMerged(Detection.nestedFrom(Detection.synthFrom(s)), rules)))
    val unionS = gated("union")(sustained("union",
      s => AlertPipeline.alerts(Detection.nestedFrom(Detection.synthFrom(s)), rules),
      inputFactor = rules.size))
    // the stateful row: a windowed-count timeframe rule whose predicate
    // matches the svchost pool values (~2/17 of events), 10 s tumbling
    // window per computer_name, 5 s watermark — keyed state in RocksDB
    val tfRule = TimeframeRules.TimeframeRule(
      rules.head.copy(name = "record timeframe probe",
        where = Like("CommandLine", "%svchost%")),
      "10 seconds", 1L, "computer_name")
    val statefulS = gated("stateful")(sustained("stateful", s =>
      TimeframeRules.alerts(
        Detection.nestedFrom(Detection.synthFrom(s))
          .withWatermark("timestamp", "5 seconds"),
        tfRule)))

    // ---- rules-scaling table (r11 verdict task #3): the merged path
    // exists FOR the 1000-rule configuration, so measure it there, in
    // streaming, not just in the batch fan-out probe. Clones never fire
    // beyond the base 25 (cloneRules), so alert volume is constant and the
    // scaling isolates per-event predicate work — throughput should
    // degrade ~O(rules) in CPU with flat plan/trigger overhead now that
    // the metadata lookup is a plan literal (no per-trigger broadcast).
    // Longer deadlines: the first trigger at 1000 rules pays whole-stage
    // codegen over a 1000-conjunct dispatch before any steady trigger.
    // saturated row = capacity eps (p50/p95 there track backlog growth,
    // not latency); paced row at 50k eps (below every capacity point) =
    // honest steady-state trigger latency. Saturated rps sits ~1.5-2×
    // above the expected capacity point, NOT at the 400k default: under
    // deep saturation each trigger drains a backlog that grew during the
    // previous one, so durations compound geometrically and the run can
    // only complete 2-3 enormous triggers before the deadline — the r12
    // record's merged1000 row carried batches:2 for exactly that reason
    // (advisor finding). Mild saturation keeps eps a capacity measurement
    // while completing the >=10 steady triggers the row needs to be
    // citable.
    val scalingS = Seq((250, 240L, "600000"), (1000, 600L, "250000"))
      .flatMap { case (nr, dl, satRps) =>
        val cloned = cloneRules(rules, nr)
        def run(s: org.apache.spark.sql.DataFrame) = AlertPipeline.alertsMerged(
          Detection.nestedFrom(Detection.synthFrom(s)), cloned)
        Seq(
          gated(s"merged${nr}")(
            sustained(s"merged${nr}", run, dl, rps = satRps, targetSamples = 16)),
          gated(s"merged${nr}_lat")(
            sustained(s"merged${nr}_lat", run, dl, rps = "50000", paced = true)))
      }

    // Scaling rows run 4-8 CONCURRENT shard queries on local[32]: their
    // own load saturates the host into the post-bracket (teardown of K
    // streaming queries drains past it), so their brackets are
    // self-load measurements by construction (r18 verdict #8) — honest
    // to stamp on the row, structurally unable to go green, and not
    // worth the shared retry budget headline rows need (a retry re-pays
    // 4-8 minutes to re-measure the same self-load). retries = 0: the
    // row keeps its bracket evidence, the record-level flag below
    // excludes it by scope.
    def gatedScaling(name: String)(run: => String): String = {
      val (row, h, _) = gatedRow(gate, retries = 0,
        () => Bench.calibMtSecs(), () => run, () => ())
      rowHealth += ((name, h))
      stampRow(row, name, h)
    }
    val shardedRows = Seq((4, 250, 240L), (8, 250, 240L),
      (4, 1000, 480L), (8, 1000, 480L)).map { case (k, nr, dl) =>
      gatedScaling(s"sharded_k${k}_r${nr}")(sharded(k, nr, dl))
    }

    val load1 = osBean.getSystemLoadAverage
    val calib = Bench.calibSecs()
    val calibMt = Bench.calibMtSecs()
    def num(src: String, k: String): Option[Double] =
      ("\"" + k + "\":\\s*(-?[0-9.]+)").r.findFirstMatchIn(src)
        .map(_.group(1).toDouble)
    val vs = priorStreamRecord(maxRound = maxRound).map { f =>
      val prior = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      // records before the input_corrected field carried union_eps counted
      // once per branch (rules×) — normalize the prior before comparing,
      // by the PRIOR record's own rule count (advisor finding: dividing by
      // the current corpus size silently mis-normalizes if the corpus grew)
      val priorCorrected = prior.contains("\"input_corrected\":true")
      val priorRules = num(prior, "rules").getOrElse(rules.size.toDouble)
      val ratios = Seq("merged_eps", "union_eps", "stateful_eps").flatMap { k =>
        for {
          p0 <- num(prior, k) if p0 > 0
          p = if (!priorCorrected && k == "union_eps") p0 / priorRules else p0
          c <- num(s"""${mergedS},${unionS},${statefulS}""", k)
        } yield f""""$k":${c / p}%.2f"""
      }
      s""","vs_prior":{"record":"${f.getName}",${ratios.mkString(",")}}"""
    }.getOrElse("")
    // record-level verdict (r18 verdict #8): `hok` covers the HEADLINE
    // rows — the rows whose brackets measure host health rather than the
    // record's own K-shard load — so the flag is meaningful without
    // prose adjudication. The scaling rows keep their per-row
    // bracket/_hok stamps and are summarized separately in hok_scaling
    // (expected false on a 32-core host: 4-8 concurrent shard queries
    // ARE the load their own brackets read). hok_scope names the rule.
    val (scalingHealth, headlineHealth) =
      rowHealth.partition(_._1.startsWith("sharded"))
    val hok = headlineHealth.forall(_._2.ok)
    val hokScaling = scalingHealth.forall(_._2.ok)
    val hrej = rowHealth.map(_._2.brackets.size - 1).sum +
      rowHealth.count(!_._2.ok)
    println(s"""{"metric":"stream_record_eps","rules":${rules.size},""" +
      s""""dispatch":"rule_dispatch",""" +
      f""""batch_merged_eps":${(n / mergedBatchSec).toLong},""" +
      f""""batch_union_eps":${(n / unionBatchSec).toLong},""" +
      s"""$mergedS,$unionS,$statefulS,${scalingS.mkString(",")},""" +
      s""""sharded":[${shardedRows.mkString(",")}],""" +
      f""""load":[$load0%.2f,$load1%.2f],"calib":$calib%.3f,"calib_mt":$calibMt%.3f""" +
      f""","hok":$hok,"hok_scope":"headline","hok_scaling":$hokScaling""" +
      f""","hrej":$hrej,"hgate":$gate%.3f""" +
      s"""$vs,"input_corrected":true,"state_store":"rocksdb"}""")
  }

  /** End-to-end ingest-chain throughput (r12 stretch #7): JSON events →
    * PERMISSIVE parse (admission) → watermarked bounded-state uuid dedup →
    * merged rule dispatch, as ONE streaming query — the full
    * admission-to-alert path StreamingSpec proves correct, measured. The
    * rate source is serialized to real JSON first so the measurement pays
    * the same parse cost a Kafka deployment does. Prints one JSON line.
    * Run: sbt "runMain graft.StreamBench e2e [rps] [deadlineSec]" */
  private def e2e(spark: SparkSession, rps: String, deadlineSec: Long,
      shape: String = "full"): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rules = ReferenceCorpus.active
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.get("triggerExecution")
        if (e.progress.numInputRows > 0 && d != null)
          samples.add((e.progress.numInputRows, d.toLong))
      }
    }
    spark.streams.addListener(listener)
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", rps)
      .option("numPartitions", 8).load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"))
    val jsonified = Detection.nestedFrom(Detection.synthFrom(stream))
      .select(
        to_json(struct(col("computer_name"), col("event_id"), col("host"),
          col("event_data"), col("uuid"))).as("value"),
        col("timestamp"))
    // shape: cost-attribution slices — "nodedup" (parse→dispatch, no
    // dedup state), "nop" (parse only), vs the "full" chain. The full
    // chain goes through the LIBRARY start helper, which scopes the
    // stateful stage's partitions to the source parallelism (8 here) for
    // this query only — the fast configuration is the out-of-the-box one,
    // and the session conf is restored after start (r15);
    // SPARK_GRAFT_SHUFFLE still overrides for A/Bs.
    def noopWriter(df: org.apache.spark.sql.DataFrame) =
      df.writeStream.format("noop").outputMode("append")
    val statePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt)
    val q = shape match {
      case "nop" => noopWriter(AlertPipeline.parseJson(jsonified)).start()
      case "nodedup" => noopWriter(AlertPipeline.alertsMerged(
        AlertPipeline.parseJson(jsonified), rules)).start()
      case _ => AlertPipeline.startIngestChain(jsonified, rules,
        statePartitions = statePartitions)(noopWriter)
    }
    try {
      val deadline = System.nanoTime() + deadlineSec * 1000 * 1000 * 1000
      while (samples.size < 28 && System.nanoTime() < deadline) Thread.sleep(200)
    } finally { q.stop(); spark.streams.removeListener(listener) }
    val chainLabel = shape match {
      case "nop" => "json_parse"
      case "nodedup" => "json_parse->rule_dispatch"
      case _ => "json_parse->dedup_within_watermark->rule_dispatch"
    }
    println(s"""{"metric":"stream_e2e_eps","rules":${rules.size},""" +
      s""""chain":"$chainLabel","rps":$rps,""" +
      statsJson("e2e", samples.toArray(Array.empty[(Long, Long)]).toSeq) + "," +
      s""""state_store":"rocksdb","input_corrected":true,""" +
      // the stateful stage's partition count is scoped to the query by
      // startIngestChain; the session conf is restored after start
      s""""state_partitions":"${statePartitions
        .orElse(AlertPipeline.sourcePartitions(jsonified))
        .map(_.toString)
        .getOrElse(spark.conf.get("spark.sql.shuffle.partitions"))}",""" +
      s""""session_shuffle_partitions":"${spark.conf.get("spark.sql.shuffle.partitions")}"}""")
  }

  /** Timeframe-battery throughput (round 13): N windowed-count rules in
    * ONE stateful aggregation (TimeframeRules.alertsBattery) — sustained
    * eps + paced p50/p95, RocksDB, one state operator asserted via
    * progress. Compare against the single-rule `stateful` row of the
    * committed record. Run: sbt "runMain graft.StreamBench tfbattery
    * [nRules] [rps] [deadlineSec]" */
  private def tfBatteryBench(spark: SparkSession, nRules: Int, rps: String,
      deadlineSec: Long): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rules = cloneRules(ReferenceCorpus.active, nRules).map(r =>
      TimeframeRules.TimeframeRule(r, "10 seconds", 2L, "computer_name"))
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val stateOps = new java.util.concurrent.atomic.AtomicInteger(-1)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
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
    val q = TimeframeRules.alertsBattery(
      Detection.nestedFrom(Detection.synthFrom(stream))
        .withWatermark("timestamp", "5 seconds"), rules)
      .writeStream.format("noop").outputMode("update").start()
    try {
      val deadline = System.nanoTime() + deadlineSec * 1000 * 1000 * 1000
      while (samples.size < 28 && System.nanoTime() < deadline) Thread.sleep(200)
    } finally { q.stop(); spark.streams.removeListener(listener) }
    // ONE protocol, carried round-over-round (r14 verdict #6): pace at the
    // last committed ~1.0x-capacity rps, commit tfb_steady_eps, require
    // >=10 steady batches. A run that cannot keep up at that pacing
    // (batches compounding, steady_batches < 10) is a host-health failure
    // — re-run on an idle window, don't adjudicate in prose.
    println(s"""{"metric":"tf_battery_eps","rules":${rules.size},""" +
      s""""protocol":"paced_fixed_rps_steady_eps",""" +
      statsJson("tfb", samples.toArray(Array.empty[(Long, Long)]).toSeq) + "," +
      s""""state_operators":${stateOps.get},"rps":$rps,""" +
      s""""origin_ids_cap":${TimeframeRules.DefaultOriginIdsCap},""" +
      s""""state_store":"rocksdb","input_corrected":true}""")
  }

  /** Combined-job throughput (round 14 stretch #8): N stateless rules AND
    * M timeframe rules from ONE source in ONE streaming query
    * (AlertPipeline.alertsCombined) — the full SIEM deployment measured
    * as one artifact. Run: sbt "runMain graft.StreamBench combined
    * [nStateless] [nTf] [rps] [deadlineSec]" */
  private def combinedBench(spark: SparkSession, nStateless: Int, nTf: Int,
      rps: String, deadlineSec: Long): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stateless = cloneRules(ReferenceCorpus.active, nStateless)
    val tfRules = cloneRules(ReferenceCorpus.active, nTf).map(r =>
      TimeframeRules.TimeframeRule(r, "10 seconds", 2L, "computer_name"))
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val stateOps = new java.util.concurrent.atomic.AtomicInteger(-1)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
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
    // numInputRows counts the shared source once per union branch:
    // 1 stateless + one battery aggregation PER distinct (windowLength,
    // keyCol, distinctField) group — the same grouping alertsBattery
    // plans. Derive the factor from the rule set rather than hardcoding
    // 2 — a multi-group tf fleet would otherwise silently overstate eps
    // by (1+G)/2 (advisor r14).
    val tfGroups = tfRules.groupBy(r => (r.windowLength, r.keyCol, r.distinctField)).size
    val inputFactor = 1L + tfGroups
    val q = graft.engine.AlertPipeline.alertsCombined(
      Detection.nestedFrom(Detection.synthFrom(stream))
        .withWatermark("timestamp", "5 seconds"), stateless, tfRules)
      .writeStream.format("noop").outputMode("update").start()
    try {
      val deadline = System.nanoTime() + deadlineSec * 1000 * 1000 * 1000
      while (samples.size < 28 && System.nanoTime() < deadline) Thread.sleep(200)
    } finally { q.stop(); spark.streams.removeListener(listener) }
    println(s"""{"metric":"combined_job_eps","stateless_rules":${stateless.size},""" +
      s""""tf_rules":${tfRules.size},"tf_groups":$tfGroups,""" +
      s""""input_factor":$inputFactor,""" +
      statsJson("comb", samples.toArray(Array.empty[(Long, Long)]).toSeq,
        inputFactor = inputFactor) + "," +
      s""""state_operators":${stateOps.get},"rps":$rps,""" +
      s""""origin_ids_cap":${TimeframeRules.DefaultOriginIdsCap},""" +
      s""""state_store":"rocksdb","input_corrected":true}""")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("combined")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = graft.engine.SessionDefaults(SparkSession.builder())
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      combinedBench(spark, args.lift(1).map(_.toInt).getOrElse(25),
        args.lift(2).map(_.toInt).getOrElse(25),
        args.lift(3).getOrElse("400000"),
        args.lift(4).map(_.toLong).getOrElse(180L))
      spark.stop()
      return
    }
    if (args.headOption.contains("tfbattery")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = graft.engine.SessionDefaults(SparkSession.builder())
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      tfBatteryBench(spark, args.lift(1).map(_.toInt).getOrElse(25),
        args.lift(2).getOrElse("400000"),
        args.lift(3).map(_.toLong).getOrElse(180L))
      spark.stop()
      return
    }
    if (args.headOption.contains("e2e")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark = graft.engine.SessionDefaults(SparkSession.builder())
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      e2e(spark, args.lift(1).getOrElse("200000"),
        args.lift(2).map(_.toLong).getOrElse(180L),
        args.lift(3).getOrElse("full"))
      spark.stop()
      return
    }
    if (args.headOption.contains("record")) {
      val cpus0 = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val spark0 = graft.engine.SessionDefaults(SparkSession.builder())
        .master(s"local[$cpus0]")
        .config("spark.sql.shuffle.partitions", cpus0)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark0.sparkContext.setLogLevel("WARN")
      record(spark0, args.lift(1).map(_.toLong).getOrElse(4000000L))
      spark0.stop()
      return
    }
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nRules = args.drop(1).headOption.map(_.toInt).getOrElse(25)
    val shards = args.drop(2).headOption.map(_.toInt).getOrElse(1)
    val mode = args.drop(3).headOption.getOrElse("rr")
    val skew = args.drop(4).headOption.contains("skew")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.SessionDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rules = cloneRules(ReferenceCorpus.active, nRules, skew)
    val flatLoad = Detection.synthFrom(
      spark.range(n).select(col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000).as("ts")))
    val load = Detection.nestedFrom(flatLoad)

    def time(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime(); val rows = f
      (rows, (System.nanoTime() - t0) / 1e9)
    }
    val measureUnion = rules.size <= 50

    if (shards == 1) {
      // warm up codegen for the measured plans
      AlertPipeline.alertsMerged(load.limit(1000), rules).count()
      if (measureUnion) AlertPipeline.alerts(load.limit(1000), rules).count()

      val (alertsMerged, tMerged) =
        time(AlertPipeline.alertsMerged(load, rules).count())
      val unionPart =
        if (measureUnion) {
          val (alertsUnion, tUnion) = time(AlertPipeline.alerts(load, rules).count())
          require(alertsMerged == alertsUnion, s"$alertsMerged != $alertsUnion")
          s""","union_sec":${"%.2f".format(tUnion)},"union_eps":${(n / tUnion).toLong}"""
        } else ""

      val planNodes = AlertPipeline.alertsMerged(load, rules)
        .queryExecution.optimizedPlan.collect { case p => p }.size

      println(s"""{"metric":"detect_throughput_eps","value":${(n / tMerged).toLong},""" +
        s""""unit":"events/sec","events":$n,"rules":${rules.size},""" +
        s""""alerts":$alertsMerged,"plan_nodes":$planNodes,""" +
        s""""merged_sec":${"%.2f".format(tMerged)}$unionPart}""")
    }

    // ---- micro-batch latency: the one axis where the Flink reference
    // architecturally differs (per-record push vs micro-batch pull). Run
    // the SAME merged dispatch as a real streaming query — rate source →
    // rules → noop sink — and record each trigger's execution time via
    // StreamingQueryListener; p50/p95 of trigger→sink IS the added
    // detection latency an alert consumer sees over Flink's per-record
    // path. Unthrottled trigger: each batch drains what arrived during the
    // previous one, so the measured durations are the steady-state floor.
    // per-query duration queues so each shard's codegen warm-up triggers
    // can be dropped independently
    val durations = scala.collection.concurrent.TrieMap
      .empty[java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]]
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.get("triggerExecution")
        if (e.progress.numInputRows > 0 && d != null)
          durations.getOrElseUpdate(e.progress.id,
            new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()).add(d)
      }
    }
    spark.streams.addListener(listener)
    // shard the rule set across `shards` concurrent queries: each query
    // reads its own rate source (K consumers of the same feed — the Kafka
    // consumer-group shape) and dispatches only its slice of the rules, so
    // the fixed per-trigger dispatch cost divides by K. "rr" slices by
    // COUNT; "cost" bin-packs by measured per-rule cost so one shard can't
    // become the fleet's laggard when rule costs are uneven.
    val ruleShards = mode match {
      case "cost" if shards > 1 =>
        val costs = calibrate(rules, flatLoad)
        val packed = packByCost(rules, costs, shards)
        val sums = packed.map(_.map(r => costs(r.name)).sum)
        println(f"calibrated shard costs (ms): ${sums.map(s => f"$s%.0f").mkString(", ")}")
        packed
      case _ =>
        rules.grouped(math.ceil(rules.size.toDouble / shards).toInt).toSeq
    }
    // 8 source partitions per shard: predicate evaluation is CPU-bound, so
    // starving a shard of partitions (e.g. 32/shards) makes its trigger
    // queue diverge — measured p50 went 4.1 s → 37 s at K=4 when dropped
    // to 2. At K=8 this oversubscribes 32 cores (64 tasks) and shards
    // contend; on a real cluster each shard runs on its own executors.
    val qs = ruleShards.map { g =>
      val stream = spark.readStream.format("rate")
        .option("rowsPerSecond", sys.env.getOrElse("SPARK_GRAFT_STREAM_RPS", "50000"))
        .option("numPartitions", 8).load()
        .select(col("value").as("event_id"), col("timestamp").as("ts"))
      AlertPipeline
        .alertsMerged(Detection.nestedFrom(Detection.synthFrom(stream)), g)
        .writeStream.format("noop").outputMode("append").start()
    }
    val perShard = 28
    try {
      // ~25 measured batches per shard ≈ a stable percentile; cap wall
      // time regardless (large rule counts take much longer per trigger —
      // the first pays whole-stage codegen over the 1000-conjunct
      // dispatch — so the cap scales with the rule count and is
      // env-overridable)
      val capSec = sys.env.getOrElse("SPARK_GRAFT_STREAM_SEC",
        if (rules.size / shards > 50) "240" else "90").toLong
      val deadline = System.nanoTime() + capSec * 1000 * 1000 * 1000
      while ((durations.size < qs.size || durations.values.exists(_.size < perShard))
          && System.nanoTime() < deadline) Thread.sleep(200)
    } finally { qs.foreach(_.stop()); spark.streams.removeListener(listener) }
    // first triggers pay codegen/broadcast warm-up, not latency — drop
    // them per shard, but keep at least half the sample when few
    // batches completed
    val perShardDs = durations.values.toSeq.map { q =>
      val all = q.toArray(Array.empty[java.lang.Long]).map(_.toLong)
      all.drop(math.min(3, all.length / 2)).sorted.toSeq
    }.filter(_.nonEmpty)
    val ds = perShardDs.flatten.sorted
    def pctOf(xs: Seq[Long], p: Double): Long =
      if (xs.isEmpty) -1
      else xs(math.min(xs.length - 1, math.ceil(p * xs.length).toInt - 1))
    def pct(p: Double): Long = pctOf(ds, p)
    // the pooled percentiles over-weight FAST shards (they emit more
    // trigger samples per unit time); every shard serves the same feed, so
    // the fleet's per-rule detection latency is its WORST shard's — report
    // that separately or an unbalanced sharding looks fine in aggregate
    def worst(p: Double): Long =
      if (perShardDs.isEmpty) -1 else perShardDs.map(pctOf(_, p)).max
    println(s"""{"metric":"detect_latency_ms","rules":${rules.size},""" +
      s""""shards":$shards,"mode":"$mode","skew":$skew,""" +
      s""""batches":${ds.length},"p50":${pct(0.5)},"p95":${pct(0.95)},""" +
      s""""worst_shard_p50":${worst(0.5)},"worst_shard_p95":${worst(0.95)},""" +
      s""""max":${if (ds.isEmpty) -1 else ds.last}}""")
    spark.stop()
  }
}
