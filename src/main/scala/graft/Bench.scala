package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.FormattedMode

/** Benchmark main — driver contract: print ONE JSON line
  * `{"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Output-size discipline (this failure mode has now cost TWO rounds):
  * round 1 emitted ~90 per-query timings (~4 KB line) and round 6 emitted
  * min+med+max maps for 35 queries (~3.4 KB line); both overflowed the
  * driver's output-tail buffer and the round's official bench record was
  * recorded as `"parsed": null`. The fix is robust to the buffer size, not
  * tuned to it: stdout carries ONE compact line — headline total plus a
  * single per-query map, ≤ 1.5 KB (BenchSpec caps it so query growth can't
  * silently re-break the record) — and the full min/med/max detail goes to
  * a FILE (`BENCH_DETAIL.json`, or `$GRAFT_BENCH_DETAIL`), where size is
  * free. The compact line is printed LAST so even a tail-truncated capture
  * keeps it.
  *
  * It is also the batch side's one measurement kernel: [[session]] builds
  * every measurement main's session, [[run]] builds and forces one query
  * and returns its [[Layers]] row from one task listener, and the modes
  * `time`, `plans` and `host` (see [[main]]) triage one query, dump plans
  * and read host health over them. Verify, ScaleProbe, PlanAudit and
  * StreamBench use the same session builder; ScaleProbe times through
  * [[run]].
  */
object Bench {
  /** Representatives per SURVEY §2 family + every round-1 hot spot. */
  val headline: Seq[String] = Seq(
    "agg_q1_pricing", "agg_cube", "agg_percentile_exact",
    "join_5way", "join_asof", "join_semi",
    "sql_q3_shipping", "sql_q5_local_supplier", "sql_corr_subquery",
    "win_rank_topk", "time_session_10m", "time_tumbling_1h",
    "sig_fanout_counts", "sig_fanout_merged", "sig_alert_shape",
    "dedup_exact", "dedup_exact_substring", "dedup_minhash_lsh", "dedup_minhash_fast",
    "dedup_ngram_jaccard", "dedup_simhash", "dedup_embedding_cosine",
    "dedup_embedding_lsh", "dedup_semantic",
    "sim_topk_bruteforce", "sim_ivf_ann", "sim_lsh_ann",
    "sim_q8_rerank", "sim_pq_adc", "text_bm25_topk", "text_bm25_multi",
    "text_line_dedup", "text_dsir_importance", "text_decontaminate_bloom",
    "text_contamination_score",
    "text_ngram_perplexity", "text_bpe_train", "text_bpe_tokens_fused",
    "text_chunk_sliding",
    "text_pipeline_e2e", "text_quality", "text_entropy", "mm_decode_features",
    "pack_sequences", "sample_weighted", "mix_rebalance", "curate_token_budget",
    "shuffle_deterministic", "curate_pipeline_e2e", "win_topk_per_window",
    "sim_knn_graph", "text_quality_classifier", "curate_domain_quality",
    "curate_snapshot_diff", "sim_knn_density", "text_winnowing",
    "text_hybrid_rrf", "dedup_winnowing_pairs", "text_hybrid_rrf_multi",
    "curate_pipeline_v2", "sim_knn_graph_mp", "dedup_winnowing_incr",
    "text_topk_ngrams", "dedup_source_overlap", "curate_length_buckets",
    "text_bpe_fertility", "text_tfidf_topk", "curate_curriculum",
    "mm_dedup_phash", "curate_dataset_card", "text_blocklist_filter",
    // round 13: the timeframe-rule battery (one stateful aggregation for
    // N windowed-count rules via rule_dispatch) — tracked round-over-round
    "tf_battery_counts")
  // tf_battery_multigroup stays OUTSIDE the headline: it is two
  // tf_battery_counts-shaped aggregations unioned (same rule_dispatch +
  // windowed-count machinery, already a headline row) — a correctness pin
  // for the union path, not a new perf signal.
  // text_ngram_novelty stays OUTSIDE the headline: its plan shape (fused
  // gram kernel explode + gram-keyed df agg + shuffle_hash join) is the
  // text_topk_ngrams + text_tfidf_topk machinery, both already headline
  // rows, and the compact line sits 14 bytes under its cap at 71 queries
  // — growth must stay conscious. It is in the scale probe.
  // text_heavy_hitters_cms likewise: its hot path is the same fused-gram
  // explode + a 16384-cell bounded agg + broadcast lookups — machinery
  // the headline already times via text_topk_ngrams and the broadcast
  // ANN probes. It is in the scale probe.
  // sim_recall_eval stays OUTSIDE the headline: it is the 7 ANN probes
  // (every one already a headline row) re-run in one DAG plus a 168-row
  // join — timing it would double-count the probes without adding a new
  // perf signal. Correctness is oracle-checked like everything else.
  // sim_cluster_assign joins the cluster family OUTSIDE the headline:
  // its steady-state cost is a broadcast argmin probe (~sim_ivf_ann's
  // shape, already represented); its build cost is the CC label job the
  // scale probe measures honestly.
  // sim_cluster_knn and curate_cluster_balanced join
  // dedup_cluster_cc/_stars OUTSIDE the headline set: iterative-CC
  // queries are round-latency-dominated at bench SF (each star round is
  // a fixed handful of jobs; the data term only shows at probe scale),
  // so they'd measure scheduler latency, not the engine — the scale
  // probe is their honest benchmark. sim_graph_pagerank is outside for
  // the same reason (5 fixed join+agg rounds; its build cost is a
  // scale-probe row, its steady state a stored-artifact scan).

  /** One timed query: (name, min, median, max) over the reps. */
  type Timing = (String, Double, Double, Double)

  /** Measurement-protocol identifier, carried in every record so
    * cross-round totals are never silently protocol-confounded again
    * (BENCH_r10 consecutive vs BENCH_r11 interleaved differed 1.54× on
    * identical code and the records couldn't say why). "iw1" =
    * Interleaved visits, each visit 1 Warm + 1 timed execution:
    * the rotation keeps interleaving's noise-robustness (a transient
    * host-load window lands on one pass of many queries, discarded by
    * min-of-passes), while the untimed same-query warm execution
    * immediately before each timed one re-pays the codegen-cache/page
    * warmth the full 71-query rotation evicted — the round-11 protocol
    * timed that cold re-entry and inflated the official total 1.5-1.7×
    * (judge A/B, same build, idle host: interleaved-cold 36.09 s vs
    * consecutive 23.44 s). Prior protocols, for reading old records:
    * r10 and earlier = consecutive reps ("cons"), r11 = interleaved
    * without warm ("i0"). */
  private[graft] val Protocol = "iw1"

  /** The iw1 execution schedule: (queryIndex, timed) steps. Every timed
    * sample is immediately preceded by an untimed warm execution of the
    * SAME query (BenchSpec pins this invariant), and consecutive timed
    * samples of one query are separated by a full rotation of the fleet. */
  private[graft] def schedule(nQueries: Int, reps: Int): Seq[(Int, Boolean)] =
    for {
      _ <- 0 until reps
      qi <- 0 until nQueries
      timed <- Seq(false, true)
    } yield (qi, timed)

  private def jmap(results: Seq[Timing])(f: Timing => Double): String =
    results.map { case t @ (k, _, _, _) => "\"" + k + "\":" + f"${f(t)}%.2f" }
      .mkString("{", ",", "}")

  /** The driver-facing line: headline total (sum of per-query MINs — the
    * steady-state number; load noise only inflates), the per-query min map
    * (the driver contract's `queries` key), reps, and sf. ONE map only,
    * and SELF-LIMITING: if the rendered line would exceed the byte cap,
    * the queries map keeps only the slowest entries that fit and reports
    * the omission count — the headline total always covers EVERY query,
    * and the complete map lives in the detail file regardless. This is
    * what makes the record robust to list growth rather than tuned to the
    * current size (the r1/r6 lesson); BenchSpec asserts the cap holds at
    * the current headline size + 5 with worst-case timings.
    *
    * FIELD ORDER is part of the robustness story since round 19: the
    * driver keeps only the LAST ~2 KB of output, and when the line plus
    * sbt's trailing "[success] …" overflows that window it is the line's
    * HEAD that falls off (BENCH_r17: head clipped mid-token → `parsed:
    * null`; BENCH_r18: clipped 15 bytes and only a lenient regex saved
    * it). So the droppable metadata (reps/protocol/cpus/health) renders
    * FIRST and the fields the driver contract actually needs — value,
    * queries, sf — render LAST: a clip eats self-description before it
    * can touch the record. The full headline list cannot fit a hard
    * ≤1800-byte line (72 query names alone render to 1,846 bytes and the
    * contract forbids dropping entries), so the defense is layered:
    * total line small enough to fit the window with a normal trailer,
    * AND the critical suffix deep enough inside the window to survive an
    * abnormal one (BenchSpec pins both budgets). */
  // Raised 1450 → 1800 in round 8 when the headline hit 57 queries and
  // the growth guard tripped (by design — growth must raise this
  // CONSCIOUSLY); raised 1800 → 1880 in round 9 at 69 queries, then
  // 1880 → 1920 at 71 queries + the calib_mt field, then 1920 → 1940 in
  // round 12 for the 17-byte "protocol" field, then 1940 → 1956 in round
  // 16 for the ~21-byte health-gate fields (hok/hrej — realistic line:
  // ~1946 bytes, measured). Round 19 (after the r17 record's head was
  // clipped at 1,946 + a long trailer): lowered to 1930 by moving `load`
  // and `calib` to the detail file (calib_mt is the binding health
  // metric; hok/hrej summarize the gate) while ADDING `cpus` so a
  // scaling record self-describes. Realistic line ≈ 1,919 bytes; the
  // headline list is effectively FULL at this cap — the next operator
  // family goes to the scale probe, not the headline.
  private[graft] val lineCap = 1930
  private[graft] def compactLine(results: Seq[Timing], reps: Int, sf: String,
      extra: String = ""): String = {
    val total = results.map(_._2).sum
    def render(rs: Seq[Timing], omitted: Int): String = {
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      f"""{"metric":"headline_total","unit":"sec","reps":$reps,"protocol":"$Protocol"$extra,"value":$total%.3f,"queries":${jmap(rs)(_._2)}$om,"sf":$sf}"""
    }
    var kept = results
    var line = render(kept, 0)
    while (line.getBytes(StandardCharsets.UTF_8).length > lineCap && kept.nonEmpty) {
      // drop the cheapest queries first: the slow ones are the signal
      kept = kept.sortBy(-_._2).dropRight(1).sortBy(t => results.indexOf(t))
      line = render(kept, results.size - kept.size)
    }
    line
  }

  /** Byte budget for the suffix the driver's parser actually needs —
    * `"value":…,"queries":{…},"sf":…}` plus the worst trailer ever
    * observed — inside the driver's ~2 KB end-kept window. BenchSpec
    * asserts the realistic line satisfies it. */
  private[graft] val TailWindow = 2000
  private[graft] val TrailerAllowance = 170
  private[graft] def criticalSuffix(line: String): String =
    line.substring(line.indexOf(""","value":""") + 1)

  /** Host-comparability fields. The COMPACT line carries only the two
    * that adjudication needs per record — the core count the session ran
    * with (r18 verdict: `suspect_cpus_ignored` could not be judged from
    * the record alone) and calib_mt, the binding health metric (round 9:
    * single-thread calib normal while core contention inflated every
    * 32-thread query 1.5-2× — calib_mt stretches by exactly that factor).
    * The FULL set (1-min load averages bracketing the reps, single-thread
    * calib, calib_mt) rides the detail file via [[comparabilityFull]],
    * where size is free — the compact line's byte budget is the binding
    * constraint (see lineCap; `load`/`calib` moved off the line in round
    * 19 after the r17 record's head was clipped). */
  private[graft] def comparability(cpus: String, calibMt: Double): String =
    f""","cpus":${cpusJson(cpus)}%s,"calib_mt":$calibMt%.3f"""

  /** Every host-comparability reading, for the detail file. */
  private[graft] def comparabilityFull(cpus: String, load0: Double,
      load1: Double, calib: Double, calibMt: Double): String =
    f""""cpus":${cpusJson(cpus)}%s,"load":[$load0%.2f,$load1%.2f],"calib":$calib%.3f,"calib_mt":$calibMt%.3f"""

  /** $SPARK_GRAFT_CPUS as a JSON value — a number when numeric (the
    * driver contract), quoted otherwise (e.g. a manual "*" run must not
    * make the record unparseable — the round-1 sf-field lesson). */
  private def cpusJson(cpus: String): String =
    if (cpus.matches("[0-9]+")) cpus else "\"" + cpus.replace("\"", "") + "\""

  // sink defeats dead-code elimination of the calibration loop
  @volatile private var calibSink = 0L

  /** Fixed CPU-bound work (64-bit mix loop, no memory traffic), timed.
    * The ITERATION COUNT is constant, so the measured seconds vary only
    * with how much CPU the host actually gives one thread — the
    * comparability denominator. ~0.1 s on an idle core. */
  private[graft] def calibSecs(): Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 50000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    calibSink = x
    dt
  }

  /** The calibSecs loop on EVERY available core simultaneously, timed as
    * one wall interval. Healthy host: ≈ calibSecs (each thread gets its
    * own core). Core-contended host (co-tenants, throttling): stretches
    * by the oversubscription factor even when the single-thread number
    * looks normal — the round-9 failure mode a single-thread calibration
    * cannot see.
    *
    * The real bench path always measures ALL cores (the default); the
    * thread count is a parameter only so unit tests can run a capped,
    * cheaper variant — a full-core loop inside `sbt test` adds
    * cores × loop-time of wall clock and flakes on contended CI hosts. */
  private[graft] def calibMtSecs(
      nThreads: Int = Runtime.getRuntime.availableProcessors()): Double = {
    val n = math.max(1, nThreads)
    val t0 = System.nanoTime()
    val threads = (0 until n).map { _ =>
      val t = new Thread(() => calibSecs(): Unit)
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Health-gate verdict for one bench run: per-pass calib_mt BRACKETS
    * (one multi-core calibration reading immediately before and one
    * immediately after each timed rotation) for the accepted and the
    * rejected passes, plus the gate they were judged against. */
  private[graft] final case class Health(ok: Boolean, gate: Double,
      accepted: Seq[(Double, Double)], rejected: Seq[(Double, Double)])

  /** Default calib_mt ceiling for an acceptable pass. The clean-host norm
    * on the round-13..15 records is 0.10–0.13 s (single-thread calib
    * 0.098–0.137); every contended window the r14/r15 verdicts had to
    * adjudicate in prose read 0.19–0.43. 0.165 sits above the norm with
    * ~30% margin and below every contaminated reading ever recorded —
    * overridable via GRAFT_BENCH_HEALTH_MAX for a host with a different
    * norm (the gate is a host property, not an engine property). */
  private[graft] val HealthGateDefault = 0.165

  /** Extra rotations the gate may spend replacing rejected passes before
    * the RECORD itself is marked failed (hok:false). Bounded: a
    * persistently contended host must produce a red record, not spin. */
  private[graft] val MaxExtraPasses = 4

  /** The self-gating measurement loop (r15 verdict #1: the official
    * record must carry its own health evidence — BENCH_r15.json was taken
    * on a host at load 5.0 and flagged an untouched query at 11.56×,
    * and only out-of-band clean re-runs could adjudicate it). Each pass
    * (one full iw1 rotation of the fleet) is BRACKETED by the multi-core
    * calibration loop; a pass whose bracket max exceeds `gate` is
    * rejected — its samples are discarded, `settle` runs (lets a
    * transient co-tenant burst drain, mirroring the pinned tf-battery
    * protocol's settle-and-retry), and the pass re-runs, up to `maxExtra`
    * extra rotations. If the retry budget runs out before `reps` clean
    * passes exist, the rejected samples fill in so a record still emits,
    * but it carries hok:false — A CONTENDED HOST CAN NO LONGER PRODUCE A
    * GREEN-LOOKING HEADLINE. calib_mt is the bracket metric (not calib):
    * round 9 proved core contention can leave the single-thread loop
    * normal while 32-thread queries inflate ~1.5–2×; calib_mt stretches
    * by exactly that oversubscription factor. Injectable calib/run/settle
    * so BenchSpec can drive the gate with synthetic readings. */
  private[graft] def gatedPasses[S](reps: Int, gate: Double, maxExtra: Int,
      calibFn: () => Double, runPass: () => S,
      settle: () => Unit = () => Thread.sleep(20000))
      : (IndexedSeq[S], Health) = {
    val accepted = scala.collection.mutable.ArrayBuffer.empty[(S, (Double, Double))]
    val rejected = scala.collection.mutable.ArrayBuffer.empty[(S, (Double, Double))]
    var attempts = 0
    while (accepted.size < reps && attempts < reps + maxExtra) {
      val pre = calibFn()
      val samples = runPass()
      val post = calibFn()
      if (math.max(pre, post) <= gate) accepted += ((samples, (pre, post)))
      else {
        rejected += ((samples, (pre, post)))
        System.err.println(
          f"bench: pass rejected (calib_mt bracket [$pre%.3f,$post%.3f] > gate $gate%.3f), settling")
        if (accepted.size < reps && attempts + 1 < reps + maxExtra) settle()
      }
      attempts += 1
    }
    val fill = rejected.take(reps - accepted.size)
    ((accepted.map(_._1) ++ fill.map(_._1)).toIndexedSeq,
      Health(fill.isEmpty, gate, accepted.map(_._2).toSeq, rejected.map(_._2).toSeq))
  }

  /** Health fields for the compact driver line (~21 bytes): pass/fail and
    * the rejected-pass count. hok:true certifies every accepted pass's
    * calib_mt bracket sat at-or-under the gate — the numeric brackets
    * themselves ride the detail file, where size is free (the compact
    * line budget is the binding constraint; see lineCap). */
  private[graft] def healthCompact(h: Health): String =
    s""","hok":${h.ok},"hrej":${h.rejected.size}"""

  /** Full health block for the detail file: every bracket, accepted and
    * rejected, plus the gate — the record's own evidence. */
  private[graft] def healthJson(h: Health): String = {
    def br(b: Seq[(Double, Double)]): String =
      b.map { case (p, q) => f"[$p%.3f,$q%.3f]" }.mkString("[", ",", "]")
    f""""health":{"ok":${h.ok},"gate":${h.gate}%.3f,"accepted_brackets":${br(h.accepted)},"rejected_brackets":${br(h.rejected)}}"""
  }

  /** Full per-query detail — min/med/max maps plus the same headline
    * fields — written to a file, never stdout. `extra` (e.g. the
    * vs_prior comparison) rides the file, where size is free. */
  private[graft] def detailJson(results: Seq[Timing], reps: Int, sf: String,
      extra: String = ""): String = {
    val total = results.map(_._2).sum
    val medTotal = results.map(_._3).sum
    f"""{"metric":"headline_total","value":$total%.3f,"value_med":$medTotal%.3f,"unit":"sec","reps":$reps,"protocol":"$Protocol","sf":$sf,
"queries":${jmap(results)(_._2)},
"qmed":${jmap(results)(_._3)},
"qmax":${jmap(results)(_._4)}${if (extra.isEmpty) "" else ",\n" + extra}}"""
  }

  /** Newest prior driver record (BENCH_r<N>.json, highest N) in `dir`.
    * The regex must match the WHOLE name: a substring match would also
    * accept STREAMBENCH_r<N>.json (the streaming record introduced in
    * round 11), and its higher N silently displaced the real prior —
    * parseRecord then found no queries and vs_prior vanished. */
  private[graft] def priorRecordFile(dir: String = "."): Option[java.io.File] = {
    val rx = "^BENCH_r(\\d+)\\.json$".r
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .toSeq
      .flatMap(f => rx.findFirstMatchIn(f.getName).map(m => (m.group(1).toInt, f)))
      .sortBy(-_._1).headOption.map(_._2)
  }

  /** Extract (per-query min map, calib, calib_mt, sf) from a driver
    * record. Tolerates both shapes the record appears in — the raw
    * compact line and the driver's wrapper JSON, where the line rides an
    * escaped "tail" string — by unescaping quotes first; the fields are
    * machine-emitted by compactLine, so anchored regexes are reliable.
    * The queries extraction is anchored to the compact-line shape — the
    * ENTIRE map body must be flat `"name":number` pairs — so a record
    * where a nested object precedes or pollutes `queries` yields an empty
    * map (vs_prior then skips, loudly absent) instead of a silently
    * truncated-at-the-first-`}` wrong one (r11 verdict "what's wrong" #4). */
  private[graft] def parseRecord(raw: String):
      (Map[String, Double], Option[Double], Option[Double], Option[String]) = {
    val s = raw.replace("\\\"", "\"")
    val qmap =
      """"queries":\s*\{((?:\s*"[A-Za-z0-9_]+"\s*:\s*[0-9.]+\s*,?)*)\}""".r
        .findFirstMatchIn(s).map(_.group(1))
      .map(b => """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(b)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap)
      .getOrElse(Map.empty)
    def num(k: String) =
      ("\"" + k + "\":\\s*([0-9.]+)").r.findFirstMatchIn(s).map(_.group(1))
    (qmap, num("calib").map(_.toDouble), num("calib_mt").map(_.toDouble), num("sf"))
  }

  /** Minimum shared-query count for the median-of-ratios session-speed
    * estimate; below this, fall back to the calibration-loop ratio. */
  private[graft] val MedianNormMin = 8

  /** The cross-round comparison (r9 ask #6), HOST-NORMALIZED by the
    * median of per-query ratios (r10 verdict task #2). A query's
    * normalized ratio is (cur/prior)/sessionRatio, flagged as a
    * regression when it exceeds 1.5× AND the normalized delta exceeds
    * 0.1 s — the absolute floor keeps 0.05 s → 0.09 s scheduler jitter
    * on cheap queries from drowning the triage in false flags.
    *
    * sessionRatio is the MEDIAN over shared queries of cur/prior. Round
    * 10 proved the calibration loops cannot be the denominator: calib
    * (single-thread) sat at 0.098 in every session of the round while
    * same-code totals spread 18.6–24.1 s — the host's multi-core
    * throughput drifts along dimensions a fixed CPU loop never touches
    * (per-job scheduling, shuffle IO, memory bandwidth). The query fleet
    * itself is the only probe that measures the right thing, and its
    * median is robust to BOTH a handful of genuine regressions (they sit
    * in the tail, not the middle) and single-query noise strikes — which
    * is also why a single mid-size reference query would be weaker: one
    * noise strike on the reference poisons every flag. A uniform host
    * drift moves all shared ratios together, lands in the median, and
    * normalizes away; a real regression moves one query against the
    * median and survives. Blind spot, documented: if MOST of the fleet
    * genuinely regressed (a build-wide change), the median absorbs it —
    * but that case is visible in the un-normalized total, which the
    * record always carries. With fewer than MedianNormMin shared queries
    * the median is itself noise, so the calibration-loop ratio (the one
    * CLOSER to 1 of calib/calib_mt, as before) is used — rendered as
    * "norm":"calib" vs "norm":"median" so a reader knows which estimate
    * produced the flags. */
  private[graft] def vsPrior(results: Seq[Timing], calib: Double, calibMt: Double,
      priorName: String, prior: Map[String, Double],
      priorCalib: Option[Double], priorCalibMt: Option[Double]): String = {
    val candidates = Seq(
      priorCalib.collect { case p if p > 0 && calib > 0 => calib / p },
      priorCalibMt.collect { case p if p > 0 && calibMt > 0 => calibMt / p }).flatten
    val calibRatio = candidates
      .minByOption(r => math.abs(math.log(r))).getOrElse(1.0)
    val shared = results.collect {
      case (n, cur, _, _) if cur > 0 && prior.get(n).exists(_ > 0) =>
        (n, cur, cur / prior(n))
    }
    val (ratio, how) =
      if (shared.size >= MedianNormMin)
        (shared.map(_._3).sorted.apply(shared.size / 2), "median")
      else (calibRatio, "calib")
    val norm = shared.map { case (n, cur, r) => (n, r / ratio, cur / ratio - prior(n)) }
    val regressed = norm.filter { case (_, r, d) => r > 1.5 && d > 0.1 }
    val improved = norm.count { case (_, r, d) => r < 1.0 / 1.5 && d < -0.1 }
    val rmap = regressed
      .map { case (n, r, _) => "\"" + n + "\":" + f"$r%.2f" }.mkString("{", ",", "}")
    f""""vs_prior":{"record":"$priorName","norm":"$how","session_ratio":$ratio%.3f,"calib_ratio":$calibRatio%.3f,"shared":${norm.size},"regressed":$rmap,"improved":$improved}"""
  }

  // ---- the measurement kernel ---------------------------------------------

  /** Local cores of every measurement session: `$SPARK_GRAFT_CPUS`. */
  private[graft] val Cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The one session builder of the measurement mains (Bench and its
    * modes, Verify, ScaleProbe, PlanAudit, StreamBench): the library
    * baseline [[engine.SessionDefaults]], `local[cpus]` with as many
    * shuffle partitions, the UTC session zone that [[engine.Tables]]
    * relies on, and no UI. `conf` is what one main adds; it goes last. */
  def session(cpus: String = Cpus, conf: Map[String, String] = Map.empty): SparkSession =
    conf.foldLeft(engine.SessionDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** One run of one query, the field names of graftbench's `ops.*` rows:
    * `build` is the query function plus its `executedPlan` (analysis,
    * optimisation, planning and any eager work the function does), `exec`
    * is the `count()` that runs it. The rest adds up the tasks of every
    * job the run submitted; `jobMs` is each job's wall time and
    * description, `phases` the Catalyst phase times of the built plan. */
  final case class Layers(buildS: Double, execS: Double, rows: Long,
      cpuNs: Long, shuffleBytes: Long, spillMemBytes: Long, spillDiskBytes: Long,
      jobs: Int, stages: Int, tasks: Int,
      jobMs: Seq[(Int, Long, String)], phases: Seq[(String, Long)]) {
    def totalS: Double = buildS + execS
    def json: String =
      f"""{"build_s":$buildS%.3f,"exec_s":$execS%.3f,"cpu_s":${cpuNs / 1e9}%.3f,""" +
        f""""shuffle_mb":${shuffleBytes / 1048576.0}%.2f,""" +
        f""""spill_mb":${(spillMemBytes + spillDiskBytes) / 1048576.0}%.2f,""" +
        s""""jobs":$jobs,"stages":$stages,"tasks":$tasks}"""
  }

  /** Adds up task metrics per run. The run's tag is a local property of
    * the thread that runs it; Spark copies local properties onto every job
    * and stage, so each task counts for the run that submitted it. */
  private final class Tasks extends SparkListener {
    final class Acc {
      var jobs, stages, tasks, open = 0
      var cpuNs, shuffleBytes, spillMem, spillDisk = 0L
      val jobMs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
    }
    private val accs = scala.collection.mutable.Map.empty[String, Acc]
    private val stageTag = scala.collection.mutable.Map.empty[Int, String]
    private val jobOf = scala.collection.mutable.Map.empty[Int, (String, Long, String)]

    private def acc(tag: String) = accs.getOrElseUpdate(tag, new Acc)
    private def tagOf(p: java.util.Properties) =
      Option(p).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = tagOf(e.properties)
      val a = acc(tag)
      a.jobs += 1; a.open += 1
      jobOf(e.jobId) = (tag, e.time,
        Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse(""))
      e.stageInfos.foreach(s => stageTag(s.stageId) = tag)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobOf.remove(e.jobId).foreach { case (tag, t0, desc) =>
        val a = acc(tag)
        a.open -= 1
        a.jobMs += ((e.jobId, e.time - t0, desc))
      }
      notifyAll()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val tag = tagOf(e.properties)
      stageTag(e.stageInfo.stageId) = tag
      acc(tag).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc(stageTag.getOrElse(e.stageId, ""))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillMem += m.memoryBytesSpilled
        a.spillDisk += m.diskBytesSpilled
      }
    }

    /** The totals of `tag`, once the bus has delivered the end of `mark`
      * (a job submitted after the run, so every event of the run comes
      * before it) and every job of `tag` has ended; waits at most a minute. */
    def take(tag: String, mark: String): Acc = synchronized {
      val deadline = System.nanoTime() + 60e9.toLong
      while (!(accs.get(mark).exists(a => a.jobs > 0 && a.open == 0) &&
          accs.get(tag).forall(_.open == 0)) && System.nanoTime() < deadline) wait(50)
      accs.remove(mark)
      stageTag.filterInPlace((_, t) => t != tag && t != mark)
      accs.remove(tag).getOrElse(new Acc)
    }
  }

  private val TagKey = "graft.bench.run"
  private val runIds = new java.util.concurrent.atomic.AtomicLong
  private var listening: Option[(org.apache.spark.SparkContext, Tasks)] = None

  private def tasksOf(sc: org.apache.spark.SparkContext): Tasks = synchronized {
    listening.filter(_._1 eq sc).map(_._2).getOrElse {
      val t = new Tasks
      sc.addSparkListener(t)
      listening = Some(sc -> t)
      t
    }
  }

  /** Build the registry query `name` on `dir`, force it, and return its
    * layer row, or what it threw: a query that throws has no time. */
  def run(spark: SparkSession, name: String, dir: String): Either[Throwable, Layers] =
    run(spark, name, dir, SparkEntry.queries(name))

  private[graft] def run(spark: SparkSession, name: String, dir: String,
      query: (SparkSession, String) => DataFrame): Either[Throwable, Layers] = {
    val sc = spark.sparkContext
    val tasks = tasksOf(sc)
    val tag = s"$name#${runIds.incrementAndGet()}"
    val prior = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    val timed = try {
      val t0 = System.nanoTime()
      val df = query(spark, dir)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val rows = df.count()
      val phases = df.queryExecution.tracker.phases.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.durationMs }
      Right(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, rows, phases))
    } catch { case e: Throwable => Left(e) }
    finally {
      // a job of no partitions: its start and end events are posted at once
      sc.setLocalProperty(TagKey, tag + "/end")
      try sc.emptyRDD[Int].count() finally sc.setLocalProperty(TagKey, prior)
    }
    val a = tasks.take(tag, tag + "/end")
    timed.map { case (build, exec, rows, phases) =>
      Layers(build, exec, rows, a.cpuNs, a.shuffleBytes, a.spillMem, a.spillDisk,
        a.jobs, a.stages, a.tasks, a.jobMs.sortBy(_._1).toSeq, phases)
    }
  }

  /** An untimed, build-inclusive warm-up run of one query, then `reps`
    * runs; returns the reps' rows. `show` sees every row as it comes, with
    * its label. A run that fails throws its failure. */
  def repeat(spark: SparkSession, name: String, dir: String, reps: Int)(
      show: (String, Layers) => Unit = (_, _) => ()): Seq[Layers] =
    ("warmup (build-inclusive)" +: (1 to reps).map(i => s"rep $i")).map { label =>
      val l = run(spark, name, dir).fold(e => throw e, identity)
      show(label, l)
      l
    }.drop(1)

  /** One iw1 pass (the schedule with reps=1): per query an untimed warm
    * run, then the timed run whose result the pass keeps. */
  private[graft] def runPass(n: Int, exec: Int => Either[Throwable, Layers])
      : IndexedSeq[Either[Throwable, Layers]] =
    schedule(n, 1).flatMap { case (qi, timed) =>
      val r = exec(qi) // a warm run's result is dropped
      if (timed) Some(r) else None
    }.toIndexedSeq

  /** The fleet's record from its accepted passes. A query that threw in
    * any pass is left out of the timings and listed with its first
    * failure; every other one gets its min/median/max and the layer row
    * of the pass that gave its min. */
  private[graft] def summarise(names: Seq[String],
      passes: Seq[IndexedSeq[Either[Throwable, Layers]]])
      : (Seq[Timing], Seq[Layers], Seq[(String, Throwable)]) = {
    val perQuery = names.indices.map(qi => names(qi) -> passes.map(_(qi)))
    val failed = perQuery.flatMap { case (n, rs) =>
      rs.collectFirst { case Left(e) => n -> e } }
    val ok = perQuery.collect { case (n, rs) if rs.forall(_.isRight) =>
      val rows = rs.collect { case Right(l) => l }.sortBy(_.totalS)
      ((n, rows.head.totalS, rows(rows.size / 2).totalS, rows.last.totalS), rows.head)
    }
    (ok.map(_._1), ok.map(_._2), failed)
  }

  /** `"layers"` and `"failed"` blocks of the detail file: each timed
    * query's min-pass layer row plus its untimed warm-up, and each failed
    * query's error. */
  private[graft] def layersJson(results: Seq[Timing], rows: Seq[Layers],
      warmupS: Map[String, Double], failed: Seq[(String, Throwable)]): String = {
    val layers = results.map(_._1).zip(rows).map { case (n, l) =>
      val w = warmupS.get(n).fold("")(s => f""","warmup_s":$s%.3f""")
      s"${jsonString(n)}:${l.json.dropRight(1)}$w}"
    }
    val fails = failed.map { case (n, e) => s"${jsonString(n)}:${jsonString(e.toString.take(300))}" }
    s""""layers":{${layers.mkString(",\n")}},
"failed":{${fails.mkString(",")}}"""
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** calib_mt ceiling of a healthy pass: `$GRAFT_BENCH_HEALTH_MAX`, default
    * [[HealthGateDefault]]. */
  private def healthGate: Double = sys.env.get("GRAFT_BENCH_HEALTH_MAX")
    .flatMap(s => scala.util.Try(s.toDouble).toOption)
    .getOrElse(HealthGateDefault)

  private val Usage = "usage: Bench [time <query> [dir] [reps] | " +
    "plans <outDir> <suffix> [q1,q2,...|all] [dir] | host [reps]]"

  /** No argument: the fleet. `time`, `plans`, `host`: the modes below. */
  def main(args: Array[String]): Unit = args.headOption match {
    case None => fleet()
    case Some("time") => time(args.drop(1))
    case Some("plans") => plans(args.drop(1))
    case Some("host") => host(args.drop(1))
    case Some(other) => sys.error(s"unknown mode $other; $Usage")
  }

  /** The fleet: the headline list on `$SPARK_GRAFT_SF_DIR`, protocol iw1,
    * health-gated; the compact line to stdout, the detail to a file. */
  private def fleet(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/parquet-footer/broadcast machinery so the first
    // measured query isn't charged the session's one-time costs
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val resolved = headline.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    def exec(qi: Int) = run(spark, resolved(qi)._1, sfDir, resolved(qi)._2)
    // One untimed warm-up pass over the WHOLE fleet first: per-query JIT /
    // codegen compilation and any session-memoized statistics (Tables
    // caches) are paid here, not inside a timed rep — the round-5
    // regression hid for most of a round because first-rep session-load
    // noise was indistinguishable from real cost. Its build-inclusive
    // time is each query's `warmup_s`.
    val warmupS = resolved.indices.flatMap(qi =>
      exec(qi).toOption.map(l => resolved(qi)._1 -> l.totalS)).toMap
    // 3 timed passes after warm-up, protocol iw1 (see Protocol): a
    // transient host-load window lands on ONE pass of many queries and
    // the per-query min-across-passes discards it (with consecutive reps
    // it poisoned every sample a query had — r10's four phantom 1.5-1.9×
    // flags). min is the steady-state number, max the spread (r3→r4 showed
    // ±70% per-query swings with ZERO code change), median the load-robust
    // middle.
    val reps = 3
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    calibSecs(); calibMtSecs() // JIT-warm both calibration loops
    val load0 = osBean.getSystemLoadAverage
    // the retry budget is a WALL-CLOCK knob, not a standards knob: more
    // extra rotations only buy more chances to land `reps` clean-bracket
    // passes inside a bursty window — hok:true still requires every
    // counted pass's bracket at-or-under the UNCHANGED gate. Override for
    // a host whose co-tenant bursts recur faster than 7 rotations drain
    // (the r17 host: clean 40% of brackets, bursts every 2-4 min).
    val maxExtra = sys.env.get("GRAFT_BENCH_MAX_EXTRA")
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .getOrElse(MaxExtraPasses)
    val (passes, health) = gatedPasses(reps, healthGate, maxExtra,
      () => calibMtSecs(), () => runPass(resolved.size, exec))
    if (!health.ok)
      System.err.println(
        s"bench: HEALTH GATE FAILED — ${health.rejected.size} contended passes, " +
          "record carries hok:false; re-run on a quiet host")
    val (results, rows, failed) = summarise(resolved.map(_._1), passes)
    failed.foreach { case (n, e) => System.err.println(s"bench: $n failed, not timed: $e") }
    val load1 = osBean.getSystemLoadAverage
    val calib = calibSecs()
    val calibMt = calibMtSecs()
    val extra = comparability(Cpus, calibMt) + healthCompact(health)
    val sf = sfOf(sfDir)
    // normalized cross-round comparison, same-sf prior records only (a
    // local sf0.001 smoke must not "compare" against the sf0.1 record)
    val vs = priorRecordFile().map { f =>
      val (pq, pc, pcm, psf) = parseRecord(
        new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      if (pq.isEmpty || !psf.contains(sf)) ""
      else vsPrior(results, calib, calibMt, f.getName, pq, pc, pcm)
    }.getOrElse("")
    val detailPath = sys.env.getOrElse("GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val detailExtra = Seq(
      comparabilityFull(Cpus, load0, load1, calib, calibMt),
      vs, healthJson(health), layersJson(results, rows, warmupS, failed))
      .filter(_.nonEmpty).mkString(",\n")
    try Files.write(Paths.get(detailPath),
      detailJson(results, reps, sf, detailExtra).getBytes(StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      // detail is best-effort; the driver record must still be emitted
      System.err.println(s"bench: could not write $detailPath: $e")
    }
    // LAST stdout line = the compact driver record
    println(compactLine(results, reps, sf, extra))
    spark.stop()
  }

  /** `time <query> [dir] [reps]`: one query in an idle session, to tell a
    * real per-query regression from fleet-session load (the round-5
    * sim_lsh_ann regression hid inside session noise for most of a round).
    * Prints the build-inclusive warm-up — for an index-backed query that
    * includes the index build a deployment's index job pays — then each
    * rep with its layer row, its jobs' wall times, the Catalyst phases of
    * its plan and the Catalyst rules that took longest over the rep. It
    * forces with `count()`, like the fleet; `count()` prunes what a pure
    * projection computes, so such a query times its scan. */
  private def time(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error(Usage))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    // Catalyst's rule timer is global: reset it before each run
    RuleExecutor.resetMetrics()
    val times = repeat(spark, name, dir, reps) { (label, l) =>
      println(f"$label: ${l.totalS}%.3f s (${l.rows} rows) ${l.json}")
      l.jobMs.foreach { case (id, ms, desc) =>
        println(f"  job $id%3d ${ms / 1e3}%7.3f s  ${desc.take(80)}") }
      println("  phases: " + l.phases.map { case (k, ms) => s"$k=${ms}ms" }.mkString(" "))
      RuleExecutor.dumpTimeSpent().linesIterator
        .filter(_.contains("org.apache.spark")).take(12)
        .foreach(r => println("    " + r.trim.take(140)))
      RuleExecutor.resetMetrics()
    }.map(_.totalS).sorted
    println(f"$name min=${times.head}%.3f med=${times(reps / 2)}%.3f max=${times.last}%.3f")
    spark.stop()
  }

  /** `plans <outDir> <suffix> [q1,q2,...|all] [dir]`: writes each query's
    * `explain("formatted")` to `<outDir>/<query>_<suffix>.txt`, the plan
    * evidence committed under plans/ so a reader can check plan-shape
    * claims (Exchange counts, join strategies, PushedFilters) without
    * running Spark. */
  private def plans(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(sys.error(Usage))
    val suffix = args.lift(1).getOrElse("before")
    val names = args.lift(2).filterNot(_ == "all") match {
      case Some(csv) => csv.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"plans: unknown query $name — skipped")
        case Some(fn) =>
          val txt = fn(spark, dir).queryExecution.explainString(FormattedMode)
          Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
            txt.getBytes(StandardCharsets.UTF_8))
          println(s"plans: wrote $outDir/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }

  /** `host [reps]`: a host-health reading with the fleet's own
    * calibration loops and gate, to know whether the window is clean
    * before paying for a record (batch fleet, ScaleProbe, StreamBench).
    * Prints `calib`, `calib_mt` per reading, the 1-min load average and
    * whether every `calib_mt` passes. Clean-host norm: both ~0.10–0.13 s.
    * Takes ~3 s; no Spark session. */
  private def host(args: Array[String]): Unit = {
    val gate = healthGate
    calibSecs(); calibMtSecs() // JIT warm
    val reps = args.headOption.flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(3)
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val readings = (1 to reps).map(_ => (calibSecs(), calibMtSecs()))
    val pass = readings.forall(_._2 <= gate)
    val body = readings.map { case (c, m) => f"[$c%.3f,$m%.3f]" }.mkString("[", ",", "]")
    println(f"""{"metric":"host_check","gate":$gate%.3f,"load":$load%.2f,"calib_pairs":$body,"pass":$pass}""")
  }

  /** sf number encoded in the dir, as a VALID JSON number. Anchored: a dir
    * like "sf0.1.bak" must yield 0.1, not "0.1." (the round-1
    * unparseable-bench failure mode). */
  private[graft] def sfOf(sfDir: String): String =
    "sf([0-9]+(?:\\.[0-9]+)?)".r
      .findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
}
