package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's driver-record hygiene. Two failure modes have each cost a
  * round's official bench record:
  *   - round 1: the sf field rendered as an invalid JSON number ("0.1.")
  *   - rounds 1 and 6: the stdout line outgrew the driver's output-tail
  *     buffer (~4 KB then ~2 KB) and was recorded as `"parsed": null`
  * So the compact line's SIZE is a spec'd invariant, not a comment. */
class BenchSpec extends AnyFunSuite {
  test("sfOf extracts a valid JSON number from any sf dir spelling") {
    assert(Bench.sfOf("/root/testdata/sf0.1") == "0.1")
    assert(Bench.sfOf("/root/testdata/sf0.01") == "0.01")
    assert(Bench.sfOf("/root/testdata/sf1") == "1")
    assert(Bench.sfOf("/root/testdata/sf0.1.bak") == "0.1") // not "0.1."
    assert(Bench.sfOf("/data/sf10.5/x") == "10.5")
    assert(Bench.sfOf("/no/scale/here") == "0")
    // every result must parse as a JSON number
    Seq("sf0.1", "sf0.1.bak", "sf3", "none").foreach { d =>
      val v = Bench.sfOf(d)
      assert(v.matches("[0-9]+(\\.[0-9]+)?"), s"$d -> $v")
    }
  }

  // The real headline list padded to 40+ entries with names as long as the
  // longest real ones — adding queries must FAIL this test before it can
  // silently overflow the driver tail again.
  private def syntheticResults(n: Int): Seq[Bench.Timing] = {
    val names = Bench.headline ++
      (0 until (n - Bench.headline.size)).map(i => f"future_operator_name_$i%02d")
    names.take(n).map(nm => (nm, 123.45, 234.56, 345.67))
  }

  test("compact line stays under 1960 bytes beyond the CURRENT list with worst-case timings") {
    // track the real headline size (+5 headroom) so growing the list keeps
    // re-tightening this guard instead of silently outgrowing a fixed n;
    // the assert bound tracks lineCap + rendering slack and must stay
    // under the driver's ~2 KB end-kept tail capture
    val n = Bench.headline.size + 5
    val line = Bench.compactLine(syntheticResults(n), reps = 3, sf = "0.1")
    assert(line.getBytes("UTF-8").length < 1960,
      s"compact bench line is ${line.getBytes("UTF-8").length} bytes at $n queries " +
        "with worst-case timings — would overflow the driver tail")
    assert(!line.contains("\n"), "driver record must be ONE line")
  }

  test("an oversized map self-limits: slowest kept, omissions counted, total intact") {
    // force truncation with an absurd query count
    val rs = syntheticResults(Bench.headline.size) ++
      (0 until 60).map(i => (f"overflow_query_with_a_long_name_$i%02d", 0.01, 0.02, 0.03))
    val line = Bench.compactLine(rs, reps = 3, sf = "0.1")
    assert(line.getBytes("UTF-8").length <= Bench.lineCap)
    assert(line.contains("\"queries_omitted\":"), "omission count must be reported")
    // the cheap filler queries are dropped first; the real (slow) ones survive
    assert(line.contains("\"sig_fanout_merged\":"))
    assert(!line.contains("overflow_query_with_a_long_name_59"))
    // the headline total still sums EVERY query, omitted ones included
    val total = """"value":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(total - rs.map(_._2).sum) < 0.01)
  }

  test("the REAL headline list at realistic timings omits nothing") {
    // with the comparability AND health fields riding the line, exactly
    // as the real run emits them (r16: the health gate added ~34 bytes)
    val rs = Bench.headline.map(nm => (nm, 9.99, 9.99, 9.99))
    val health = Bench.Health(ok = false, gate = 0.165,
      accepted = Seq((0.123, 0.131), (0.118, 0.126)),
      rejected = Seq((0.412, 0.387)))
    val line = Bench.compactLine(rs, reps = 3, sf = "0.1",
      Bench.comparability("32", 0.374) + Bench.healthCompact(health))
    assert(!line.contains("queries_omitted"),
      "the current real list must fit the cap without truncation")
    assert(line.contains(""","hok":false,"hrej":1"""))
    assert(line.contains(""","cpus":32,"""),
      "scaling records must self-describe their core count (r18 verdict #2)")
  }

  test("r17 regression: line and critical suffix fit the driver's tail window") {
    // The driver keeps the LAST ~2 KB of stdout; the r17 record lost its
    // head to that window (parsed: null). Two budgets, both pinned:
    //  (a) the whole realistic line + a NORMAL sbt trailer (~76 B) fits,
    //      so a strict head-anchored parse sees the complete line;
    //  (b) the suffix the driver contract needs — "value":…,"queries":…,
    //      "sf":… — plus an ABNORMALLY long trailer (170 B) still fits,
    //      so even a deep clip only eats self-description metadata
    //      (reps/protocol/cpus/health), never the record itself.
    val health = Bench.Health(ok = true, gate = 0.165,
      accepted = Seq((0.123, 0.131), (0.118, 0.126), (0.120, 0.129)),
      rejected = Seq.empty)
    val rs = Bench.headline.map(nm => (nm, 9.99, 9.99, 9.99))
    val line = Bench.compactLine(rs, reps = 3, sf = "0.1",
      Bench.comparability("32", 0.177) + Bench.healthCompact(health))
    val bytes = line.getBytes("UTF-8").length
    assert(bytes <= Bench.lineCap, s"realistic line is $bytes bytes")
    assert(bytes + 76 <= Bench.TailWindow,
      s"line ($bytes B) + normal trailer must fit the ${Bench.TailWindow} B window")
    val suffix = Bench.criticalSuffix(line).getBytes("UTF-8").length
    assert(suffix + Bench.TrailerAllowance <= Bench.TailWindow,
      s"critical suffix ($suffix B) + ${Bench.TrailerAllowance} B trailer " +
        s"must fit the ${Bench.TailWindow} B window")
    // the suffix really is the contract: value, full queries map, sf
    val s = Bench.criticalSuffix(line)
    assert(s.startsWith(""""value":""") && s.endsWith(""","sf":0.1}"""))
    assert(Bench.parseRecord(s"noise${line.drop(40)}")._1.size == Bench.headline.size,
      "a head-clipped line must still regex-parse the full queries map")
  }

  test("health gate: clean passes accept, a contended pass rejects and retries") {
    // synthetic calib readings: the bracket around pass 2 is contended
    // (0.40), so that pass's samples must be discarded and re-measured
    val calib = Iterator(0.12, 0.11, /*pass2*/ 0.11, 0.40, /*retry*/ 0.12, 0.13)
    var pass = 0
    val (samples, h) = Bench.gatedPasses(reps = 2, gate = 0.165, maxExtra = 4,
      calibFn = () => calib.next(),
      runPass = () => { pass += 1; Array(pass.toDouble) },
      settle = () => ())
    assert(h.ok && h.rejected == Seq((0.11, 0.40)))
    assert(h.accepted == Seq((0.12, 0.11), (0.12, 0.13)))
    // pass 2's samples (the contended rotation) are NOT in the record
    assert(samples.map(_(0)).toSeq == Seq(1.0, 3.0))
  }

  test("health gate: a persistently contended host yields hok:false, never spins") {
    var calls = 0
    val (samples, h) = Bench.gatedPasses(reps = 3, gate = 0.165, maxExtra = 4,
      calibFn = () => { calls += 1; 0.5 }, // every bracket contended
      runPass = () => Array(1.0),
      settle = () => ())
    assert(!h.ok && h.accepted.isEmpty && h.rejected.size == 7) // reps+maxExtra
    assert(samples.size == 3, "rejected passes fill in so a record still emits")
    assert(calls == 14, "bounded: exactly two calib readings per attempted pass")
    val compact = Bench.healthCompact(h)
    assert(compact == ""","hok":false,"hrej":7""")
  }

  test("health json: detail block carries every bracket and parses as JSON") {
    val h = Bench.Health(ok = true, gate = 0.165,
      accepted = Seq((0.12, 0.13), (0.11, 0.12), (0.125, 0.118)),
      rejected = Seq.empty)
    val j = Bench.healthJson(h)
    assert(j.startsWith("\"health\":{"))
    assert(j.contains(""""ok":true,"gate":0.165"""))
    assert(j.contains(""""accepted_brackets":[[0.120,0.130],[0.110,0.120],[0.125,0.118]]"""))
    assert(j.contains(""""rejected_brackets":[]"""))
    // embedded in the detail file it must still be one valid JSON object
    val detail = Bench.detailJson(Seq(("q1", 1.0, 1.1, 1.2)), 3, "0.1", j)
    assert(detail.contains("\"health\":"))
  }

  test("comparability fields render compactly, parse as JSON, and survive the cap") {
    val extra = Bench.comparability("32", 0.25)
    assert(extra == ""","cpus":32,"calib_mt":0.250""")
    // a non-numeric cpu spec (manual local[*] run) must still render as
    // valid JSON, not break the record (the round-1 sf-field lesson)
    assert(Bench.comparability("*", 0.25) == ""","cpus":"*","calib_mt":0.250""")
    // the detail file keeps the full set, including an unavailable load
    // average (-1 per the JDK contract) as a valid JSON number
    val full = Bench.comparabilityFull("32", -1.0, 2.25, 0.125, 0.25)
    assert(full == """"cpus":32,"load":[-1.00,2.25],"calib":0.125,"calib_mt":0.250""")
    val line = Bench.compactLine(syntheticResults(Bench.headline.size + 5),
      reps = 3, sf = "0.1", extra)
    assert(line.getBytes("UTF-8").length < 1960)
    // metadata renders BEFORE value/queries/sf (clip-robust field order)
    assert(line.contains(""","cpus":32,"calib_mt":0.250,"value":"""))
    assert(line.endsWith(""","sf":0.1}"""))
    // the calibration loops run and report plausible times. The MT run
    // here is CAPPED at 4 threads (the full-core loop belongs to the
    // real bench path only — in-test it adds cores × loop-time of wall
    // clock) and the lower bound is deliberately loose: each thread does
    // the same fixed work, so the wall should be ≥ one thread's, but on
    // a contended CI host the single-thread measurement can land on a
    // slow slice while the MT one does not — this asserts "same order of
    // magnitude", not a scheduling theorem.
    val c = Bench.calibSecs()
    assert(c > 0.001 && c < 5.0, s"calibration loop time $c")
    val cmt = Bench.calibMtSecs(
      math.min(4, Runtime.getRuntime.availableProcessors()))
    assert(cmt >= c * 0.25 && cmt < 60.0, s"mt calibration $cmt vs single $c")
  }

  test("compact line carries the contract fields and only ONE per-query map") {
    val line = Bench.compactLine(syntheticResults(35), reps = 3, sf = "0.01")
    assert(line.startsWith("""{"metric":"headline_total","unit":"sec""""))
    // the protocol field keeps cross-round totals comparable-or-labeled:
    // r10 (consecutive) vs r11 (interleaved, no warm) differed 1.54× on
    // identical code with nothing in either record saying why
    assert(line.contains(""","reps":3,"protocol":"iw1""""))
    // contract fields LAST (clip-robust order since round 19): a tail
    // window that loses the head loses reps/protocol/cpus, never these
    assert(line.contains(""","value":""") &&
      line.indexOf(""","value":""") < line.indexOf(""""queries":{"""))
    assert(line.endsWith(""","sf":0.01}"""))
    // exactly one map: qmed/qmax belong to the detail FILE, not stdout
    assert(!line.contains("\"qmed\"") && !line.contains("\"qmax\""))
    assert(line.count(_ == '{') == 2)
  }

  test("iw1 schedule: every timed sample follows a same-query warm execution") {
    val n = Bench.headline.size
    val sched = Bench.schedule(n, 3)
    // reps timed samples per query
    (0 until n).foreach { qi =>
      assert(sched.count { case (q, timed) => q == qi && timed } == 3)
    }
    // the step before every timed sample is an UNTIMED execution of the
    // SAME query — the steady-state discipline that fixes the r11 defect
    // (timing cold codegen-cache re-entry after a 71-query rotation)
    sched.zipWithIndex.foreach { case ((qi, timed), i) =>
      if (timed) assert(i > 0 && sched(i - 1) == (qi, false),
        s"timed sample at step $i lacks a same-query warm predecessor")
    }
    // interleaving is preserved: between two timed samples of one query,
    // every other query runs (full-rotation separation)
    val timedSteps = sched.zipWithIndex.collect { case ((qi, true), i) => (qi, i) }
    val byQuery = timedSteps.groupBy(_._1).values
    byQuery.foreach { visits =>
      visits.map(_._2).sliding(2).foreach {
        case Seq(a, b) =>
          val between = sched.slice(a + 1, b).map(_._1).distinct
          assert(between.size >= n - 1, s"rotation gap only ${between.size}")
        case _ =>
      }
    }
  }

  test("parseRecord: a nested object before queries cannot poison the map") {
    // a hypothetical future record where a nested field precedes queries —
    // the r11 regex stopped at the FIRST '}' and silently returned garbage
    val line = """{"metric":"headline_total","value":2.5,""" +
      """"host":{"queries":{"bogus":{"x":1}},"z":2},""" +
      """"queries":{"agg_q1_pricing":0.14,"sim_pq_adc":0.37},"sf":0.1}"""
    val (q, _, _, sf) = Bench.parseRecord(line)
    assert(q == Map("agg_q1_pricing" -> 0.14, "sim_pq_adc" -> 0.37))
    assert(sf.contains("0.1"))
    // a queries map that is itself nested (not the compact-line shape)
    // parses as EMPTY — loudly absent, never truncated-wrong
    val bad = """{"queries":{"a":{"min":1.0}},"sf":0.1}"""
    assert(Bench.parseRecord(bad)._1.isEmpty)
  }

  test("parseRecord reads both record shapes: raw compact line and driver wrapper") {
    val line = """{"metric":"headline_total","value":2.5,"unit":"sec","reps":3,""" +
      """"queries":{"agg_q1_pricing":0.14,"sim_pq_adc":0.37},""" +
      """"load":[1.91,1.82],"calib":0.098,"calib_mt":0.104,"sf":0.1}"""
    val (q1, c1, cm1, sf1) = Bench.parseRecord(line)
    assert(q1 == Map("agg_q1_pricing" -> 0.14, "sim_pq_adc" -> 0.37))
    assert(c1.contains(0.098) && cm1.contains(0.104) && sf1.contains("0.1"))
    // the driver wrapper embeds the line ESCAPED inside "tail" (and a
    // parsed copy with spaced separators) — the real BENCH_r9 shape
    val wrapper = s"""{"n": 9, "rc": 0, "sf": 0.1,
      "tail": "noise before ${line.replace("\"", "\\\"")}",
      "parsed": {"queries": {"agg_q1_pricing": 0.14, "sim_pq_adc": 0.37}}}"""
    val (q2, c2, _, sf2) = Bench.parseRecord(wrapper)
    assert(q2 == q1 && c2 == c1 && sf2.contains("0.1"))
  }

  test("vs_prior: calib-normalized ratios flag real regressions, not host slowdown") {
    val prior = Map("fast_q" -> 0.05, "real_q" -> 1.0, "host_q" -> 1.0, "gone_q" -> 0.3)
    // current host is 2x slower (calib_mt 0.2 vs prior 0.1): host_q at
    // 2.0s is exactly the host factor (normalized 1.0x — NOT flagged),
    // real_q at 4.0s is a genuine 2x normalized regression (flagged),
    // fast_q doubling from 0.05 to 0.2 normalizes to 2x but moves under
    // the 0.1s absolute floor (jitter — not flagged), new_q has no prior
    val results: Seq[Bench.Timing] = Seq(
      ("fast_q", 0.2, 0.2, 0.2), ("real_q", 4.0, 4.0, 4.0),
      ("host_q", 2.0, 2.0, 2.0), ("new_q", 1.0, 1.0, 1.0))
    val vs = Bench.vsPrior(results, calib = 0.2, calibMt = 0.2,
      "BENCH_r09.json", prior, Some(0.1), Some(0.1))
    assert(vs.contains(""""record":"BENCH_r09.json""""))
    assert(vs.contains(""""calib_ratio":2.000"""))
    assert(vs.contains(""""shared":3"""), s"only queries present in both: $vs")
    assert(vs.contains(""""real_q":2.00"""), s"real regression must be flagged: $vs")
    assert(!vs.contains("host_q"), "uniform host slowdown must normalize away")
    assert(!vs.contains("fast_q"), "sub-floor jitter on cheap queries must not flag")
    assert(!vs.contains("new_q"), "unshared queries have no baseline")
    // identical host, genuine improvement counted
    val better = Bench.vsPrior(Seq(("real_q", 0.5, 0.5, 0.5)), 0.1, 0.1,
      "BENCH_r09.json", prior, Some(0.1), Some(0.1))
    assert(better.contains(""""improved":1""") && better.contains(""""regressed":{}"""))
    // disagreeing calibrations: the single-thread probe says 1.0x, the
    // MT sample says 2.0x (scheduler luck) — the ratio CLOSER to 1 wins,
    // so an unchanged query is not flagged off calibration jitter
    val jitter = Bench.vsPrior(Seq(("real_q", 1.0, 1.0, 1.0)), 0.1, 0.2,
      "BENCH_r09.json", prior, Some(0.1), Some(0.1))
    assert(jitter.contains(""""calib_ratio":1.000"""), jitter)
    assert(jitter.contains(""""regressed":{}"""), jitter)
  }

  test("vs_prior: median-of-ratios normalization absorbs host drift the calib loop cannot see") {
    // r10's exact failure shape: the host's multi-core throughput drifts
    // ~1.6× on shuffle-heavy queries while the single-thread calib loop
    // measures IDENTICAL (0.098 every session). With >= MedianNormMin
    // shared queries the fleet median is the denominator, so the uniform
    // drift normalizes away even though calib says the host is unchanged.
    val prior = (1 to 9).map(i => s"steady_q$i" -> 1.0).toMap + ("real_q" -> 1.0)
    val drift = 1.6
    val results: Seq[Bench.Timing] =
      (1 to 9).map(i => (s"steady_q$i", drift, drift, drift)) :+
        ("real_q", 2.0 * drift, 2.0 * drift, 2.0 * drift)
    // calib identical across sessions (ratio 1.0) — the r10 trap
    val vs = Bench.vsPrior(results, calib = 0.098, calibMt = 0.14,
      "BENCH_r10.json", prior, Some(0.098), Some(0.14))
    assert(vs.contains(""""norm":"median""""), vs)
    assert(vs.contains(""""session_ratio":1.600"""), vs)
    assert(vs.contains(""""real_q":2.00"""), s"real 2x regression must survive: $vs")
    assert(!vs.contains("steady_q"), s"uniform host drift must normalize away: $vs")
    // and the same-code case: every query at the drifted level, nothing flagged
    val same = Bench.vsPrior(
      prior.keys.toSeq.sorted.map(n => (n, drift, drift, drift)),
      0.098, 0.14, "BENCH_r10.json", prior, Some(0.098), Some(0.14))
    assert(same.contains(""""regressed":{}"""), s"identical code must flag nothing: $same")
    // below MedianNormMin shared queries the calib path takes over
    val few = Bench.vsPrior(Seq(("real_q", 1.0, 1.0, 1.0)), 0.1, 0.1,
      "BENCH_r10.json", Map("real_q" -> 1.0), Some(0.1), Some(0.1))
    assert(few.contains(""""norm":"calib""""), few)
  }

  test("detail json carries the vs_prior block when a prior record parses") {
    val detail = Bench.detailJson(syntheticResults(35), reps = 3, sf = "0.1",
      Bench.vsPrior(Seq(("agg_q1_pricing", 0.2, 0.2, 0.2)), 0.1, 0.1,
        "BENCH_r09.json", Map("agg_q1_pricing" -> 0.1), Some(0.1), Some(0.1)))
    assert(detail.contains("\"vs_prior\":{\"record\":\"BENCH_r09.json\""))
    // and the repo's real prior record parses with a usable query map
    val f = Bench.priorRecordFile("/root/repo")
    assert(f.nonEmpty, "no BENCH_r*.json found in the repo")
    // whole-name match: STREAMBENCH_r11.json sits in the same dir with a
    // higher round number and must NOT displace the batch record (it did,
    // via findFirstMatchIn substring semantics, and vs_prior silently
    // vanished from the round-11 record until the anchored regex)
    assert(f.get.getName.startsWith("BENCH_r"), s"picked ${f.get.getName}")
    val (pq, _, _, psf) = Bench.parseRecord(new String(
      java.nio.file.Files.readAllBytes(f.get.toPath), "UTF-8"))
    assert(pq.size > 50, s"prior record parsed only ${pq.size} queries")
    assert(psf.nonEmpty)
  }

  test("a query that throws is not timed: out of value and queries, listed as failed") {
    val spark = SparkSpec.session
    val dir = "/root/testdata/sf0.001"
    val queries = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "agg_q1_pricing" -> SparkEntry.queries("agg_q1_pricing"),
      "planted_throw" -> ((_, _) => sys.error("planted fault")))
    val passes = IndexedSeq.fill(2)(Bench.runPass(queries.size,
      qi => Bench.run(spark, queries(qi)._1, dir, queries(qi)._2)))
    val (results, rows, failed) = Bench.summarise(queries.map(_._1), passes)
    assert(results.map(_._1) == Seq("agg_q1_pricing"))
    assert(failed.map { case (n, e) => n -> e.getMessage } == Seq("planted_throw" -> "planted fault"))
    val line = Bench.compactLine(results, reps = 2, sf = "0.001")
    assert(!line.contains("planted_throw"))
    assert(line.contains(f""""value":${results.head._2}%.3f,"""))
    // the min pass's layer row counts its own run's jobs and tasks
    val l = rows.head
    assert(l.totalS == results.head._2)
    assert(l.rows == SparkEntry.queries("agg_q1_pricing")(spark, dir).count())
    assert(l.jobs >= 1 && l.stages >= 1 && l.tasks >= l.stages && l.cpuNs > 0)
    val detail = Bench.detailJson(results, 2, "0.001",
      Bench.layersJson(results, rows, Map("agg_q1_pricing" -> 1.5), failed))
    assert(detail.contains(""""layers":{"agg_q1_pricing":{"build_s":"""))
    assert(detail.contains(s""""tasks":${l.tasks},"warmup_s":1.500}"""))
    assert(detail.contains(
      """"failed":{"planted_throw":"java.lang.RuntimeException: planted fault"}"""))
  }

  test("detail json carries min/med/max maps for every query") {
    val detail = Bench.detailJson(syntheticResults(35), reps = 3, sf = "0.1")
    Seq("\"queries\":", "\"qmed\":", "\"qmax\":", "\"value_med\":").foreach(k =>
      assert(detail.contains(k), s"detail missing $k"))
    assert(detail.contains("\"sig_fanout_merged\":123.45"))
    // med and max values present (same key, different maps)
    assert(detail.contains("\"sig_fanout_merged\":234.56"))
    assert(detail.contains("\"sig_fanout_merged\":345.67"))
  }

  test("statsJson: steady tail fields separate JIT warm-up from the full window") {
    // 10 slow warm-up triggers (JIT) then 10 fast steady ones — the shape
    // of the r13 merged1000 row whose full-window p95 was warm-up-polluted
    val slow = (1 to 10).map(_ => (50000L, 5000L))
    val fast = (1 to 10).map(_ => (50000L, 100L))
    val json = "{" + StreamBench.statsJson("m", slow ++ fast) + "}"
    def num(k: String): Long =
      ("\"m_" + k + "\":(-?\\d+)").r.findFirstMatchIn(json).get.group(1).toLong
    assert(num("warmup_dropped") == 3)   // min(3, 20/2)
    assert(num("batches") == 17)         // full post-drop window
    assert(num("p95_ms") == 5000)        // polluted by the 7 remaining slow
    assert(num("steady_batches") == 9)   // last half of the kept window
    assert(num("steady_p50_ms") == 100)  // tail is past the JIT cliff
    assert(num("steady_p95_ms") == 100)
    assert(num("steady_eps") == 50000L * 9 * 1000 / (9 * 100)) // rows/time over tail
    // inputFactor divides rows (per-branch numInputRows inflation)
    val j2 = "{" + StreamBench.statsJson("m", fast, inputFactor = 10) + "}"
    def num2(k: String): Long =
      ("\"m_" + k + "\":(-?\\d+)").r.findFirstMatchIn(j2).get.group(1).toLong
    assert(num2("eps") == num("steady_eps") / 10)
  }
}
