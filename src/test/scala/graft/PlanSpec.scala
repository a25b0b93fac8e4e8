package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Guards the scale-critical plan shapes (the properties that make these
  * queries survive a 100 TB / 1000-executor deployment): predicate
  * pushdown + column pruning reach the parquet scan, small dims broadcast,
  * the rule fan-out stays shuffle-free, and nothing collects to the driver.
  * A regression that silently turns a broadcast join into a sort-merge join
  * or widens a scan shows up here, not at 100 TB. */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def physical(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("filter + projection push into the parquet scan (p5)") {
    val p = physical("p5_filter_in_eq")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_returnflag"), p)
    // pruned read schema: only the 5 referenced columns, not all 16
    assert(!p.contains("l_comment") && !p.contains("l_shipmode"), p)
  }

  test("5-way dim join is all-broadcast — zero shuffle joins (join_5way)") {
    val p = physical("join_5way")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("rule fan-out plan has no exchange before the union (sig fan-out)") {
    val df = ops.Detection.queries("sig_fanout_counts")(spark, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    // the N filter→project branches must be shuffle-free; the only
    // aggregation shuffle is the final groupBy(rule.name)
    val exchanges = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges <= 3, s"unexpected exchanges:\n$plan")
  }

  test("merged dispatch: one scan, no exchange, no join — metadata is a plan literal") {
    val nested = ops.Detection.nested(spark, dir)
    val df = engine.AlertPipeline.alertsMerged(nested, rules.ReferenceCorpus.active)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    // the r11 shape broadcast-joined a 25-row rule-metadata table — rebuilt
    // EVERY micro-batch in streaming (p95 14.9 s/trigger,
    // STREAMBENCH_r11.json); the metadata is static per job, so it now
    // rides the plan as a constant-folded literal array: zero exchanges,
    // zero joins, the whole dispatch is one codegen'd projection chain.
    // Matched on the plan's OPERATOR tokens, not raw substrings — the rule
    // corpus itself contains strings like "Microsoft.Exchange.…"
    val opTokens = p.linesIterator
      .map(_.replaceAll("^[\\s|:+*()\\d-]*", "").takeWhile(c => !c.isWhitespace))
      .toSeq
    assert(!opTokens.exists(t => t.contains("Exchange") || t.contains("Join")),
      opTokens.mkString(", "))
    // the metadata must reach the plan as ONE pre-folded Literal (an
    // expression-spelled array cost 13.4 s of plan build at 1000 rules —
    // paid per micro-batch in streaming)
    val opt = df.queryExecution.optimizedPlan
    val metaLits = opt.expressions.flatMap(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
          if l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
            l.value != null &&
            l.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              .numElements == rules.ReferenceCorpus.active.size => l
    })
    assert(metaLits.nonEmpty, s"pre-folded metadata literal not found:\n$opt")
  }

  test("detection rules compile to codegen-able predicates (no UDFs)") {
    val df = ops.Detection.queries("sig_credential_dumping_by_lazagne")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p)
    assert(p.contains("WholeStageCodegen") ||
      df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec], p)
  }

  test("metadata-only media query prunes unused document columns from the scan") {
    val p = physical("mm_meta")
    // derives format/width/height from doc_id and n_bytes from text; the
    // untouched lang/source/n_chars columns must not reach the scan
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("lang") && !p.contains("n_chars"), p)
  }

  test("brute-force ANN broadcasts the query side, not the corpus") {
    val df = ops.Similarity.queries("sim_topk_bruteforce")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("range join bucketizes into a HASH join — never a nested-loop over time") {
    val p = physical("join_range")
    // the interval predicate must ride on a bucket equi-join; a
    // BroadcastNestedLoopJoin/CartesianProduct here is the O(n^2) shape
    // that cannot scale
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"), p)
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("pivot with explicit values: single aggregation pass, no discovery scan") {
    val df = SparkEntry.queries("pivot_wide")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("sequence correlation: one key shuffle into the stateful correlator") {
    val df = ops.Detection.queries("sig_sequence_corr")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // batch mode lowers flatMapGroupsWithState to MapGroups (the
    // FlatMapGroupsWithState node exists only in streaming plans —
    // StreamingSpec drives that path)
    assert(p.contains("MapGroups"), p)
    // exactly one hash shuffle (the key partition) before the correlator;
    // the trailing sort for deterministic output adds a range exchange
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("compiled correlators (temporal/chain/anyorder): ONE key shuffle, narrow codegen'd projection below it (r18)") {
    // the three compiled temporal-correlation plans are typed stateful
    // shapes — the r17 fleet sweep predates them, so their scale-critical
    // properties are pinned here: exactly one hash shuffle (the groupByKey
    // exchange; the trailing orderBy adds a range exchange, not counted),
    // a single parquet scan feeding a codegen'd filter+projection (the
    // predicate OR-filter and the 5-column event projection run BELOW the
    // shuffle, so only matched, narrowed rows move), and no joins.
    Seq("tf_correlation_temporal", "tf_correlation_chain",
        "tf_correlation_anyorder").foreach { name =>
      val df = ops.Detection.queries(name)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      // batch lowers flatMapGroupsWithState to MapGroups (the
      // FlatMapGroupsWithState node exists only in streaming plans —
      // StreamingSpec drives that path, incl. the r18 expiry cases)
      assert(p.contains("MapGroups"), s"$name:\n$p")
      assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
        s"$name:\n$p")
      assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, s"$name:\n$p")
      // the pruned read schema is the narrowness proof: the synth table
      // derives every field from event_id, so the scan reads exactly
      // (event_id, ts) — nothing wider moves into the shuffle (the AQE
      // pre-execution plan carries no WholeStageCodegen markers, so
      // codegen itself is asserted fleet-wide by PlanAudit, not here)
      assert(p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp"),
        s"$name:\n$p")
      assert(!p.contains("Join"), s"$name:\n$p")
    }
  }

  test("vec_dot is a native codegen'd expression — no interpreted HOFs in ANN") {
    val df = ops.Similarity.queries("sim_topk_bruteforce")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("vec_dot"), p)
    assert(!p.contains("aggregate(zip_with"), p)
  }

  test("TPC-H Q3 broadcasts the filtered customer dim; filters reach the scans") {
    val p = physical("sql_q3_shipping")
    // customer is bounded by the key domain → broadcast at any SF; the
    // segment filter and date filter must be pushed into the parquet scans
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("simhash is fully narrow — no hash shuffle, one scan (dedup_simhash)") {
    val p = physical("dedup_simhash")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0, p)
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
  }

  test("signature kernels are fused — no interpreted lambda in the simhash plan") {
    // word hashing and the simhash fold are native expressions; a
    // regression back to transform(...) lambdas (CodegenFallback) would
    // put the per-word hot loop on the interpreted path
    val p = physical("dedup_simhash")
    assert(p.contains("word_ids_md5") && p.contains("simhash32"), p)
    assert(!p.contains("lambdafunction"), p)
  }

  test("top-k aggregate keeps bounded partial state before the shuffle") {
    val df = ops.Similarity.queries("sim_topk_bruteforce")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the map-side partial_topk3_ids is what bounds shuffle volume to
    // O(tasks × queries × k); a row_number window here would shuffle the
    // full scored pair set into one sort task per query id
    assert(p.contains("partial_topk3_ids"), p)
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"), p)
  }

  test("optimizer rewrites size(array_intersect) to the fused intersect_count") {
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // declarative user code keeps size(array_intersect(...)); the injected
    // rule (GraftFunctions.register / GraftExtensions) swaps in the native
    // kernel so no intersection array is materialized per candidate pair
    assert(p.contains("intersect_count"), p)
    assert(!p.contains("array_intersect"), p)
  }

  test("ngram-jaccard inverted index: no cartesian pair generation") {
    val p = physical("dedup_ngram_jaccard")
    // co-occurring pairs come from an equi-join on (blk, sid) — block-
    // bounded fan-out — never a cartesian/nested-loop pair space
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 4, p)
  }

  test("windowed top-k: bounded partial state in BOTH aggregation levels") {
    val p = physical("win_topk_per_window")
    // level 1: (hour, user) counts partial-aggregate map-side; level 2:
    // the bounded topk3 partial — no ranking window anywhere
    assert(p.contains("partial_count") && p.contains("partial_topk3_ids"), p)
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window"), p)
  }

  test("sequence packing: exactly one hash shuffle (the (lang, shard) key)") {
    val p = physical("pack_sequences")
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("winnowing is fully narrow — the fused kernel removed the gram shuffle") {
    val p = physical("text_winnowing")
    assert(p.contains("winnow_fps"), p)
    // zero hash exchanges (the display sort is a range exchange); the r8
    // spelling shuffled the exploded gram stream on doc_id for its window
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0, p)
    assert(!p.contains("Window"), p)
  }

  test("curation v2: classifier + domain gates add no data-bearing shuffle to the pipeline") {
    val df = ops.Curation.queries("curate_pipeline_v2")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the domain keep decision must come back as a BROADCAST onto the
    // gated stream, never a shuffle join on source
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly three hash exchanges: the tiny source-keyed stats agg
    // (map-side-combined to ~|domains| partial rows — key-space-bounded,
    // not data-bearing) plus the same two window shuffles the e2e
    // pipeline pays ((source, shard4) budget; training-shard pack). A
    // fourth exchange means a gate started shuffling document rows.
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 3, p)
    // the classifier gate is the fused kernel on a narrow (checkpointed)
    // front — no interpreted lambda anywhere in the composed plan
    assert(!p.contains("lambdafunction"), p)
  }

  test("AQE splits a skewed join partition when salting is not hand-rolled") {
    // the runtime half of the skew story: join_skew_salted pins the manual
    // mitigation; this pins that AQE's skew-join rewrite engages when a
    // partition exceeds the (test-lowered) skew threshold
    val prev = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> spark.conf
        .getOption("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> spark.conf
        .getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf
        .getOption("spark.sql.autoBroadcastJoinThreshold"))
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    try {
      import spark.implicits._
      // one hot key carrying ~90% of rows
      val big = spark.range(200000)
        .select(when(col("id") % 10 < 9, lit(7L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val dim = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = big.join(dim.hint("merge"), "k")
      // collect() executes THIS queryExecution (count() would spawn its
      // own), so AQE finalizes the inspected plan
      assert(joined.collect().length == 180010) // 180k hot-key rows + 10 tail matches
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.take(2000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted skew join takes the shuffle path on (key, salt) — not broadcast") {
    val p = physical("join_skew_salted")
    // the merge hint must hold: salting only matters on the shuffle path
    // (a broadcast join would hide the skew this query exists to mitigate)
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("tf-idf joins tf to the vocab-sized idf side by SHUFFLED HASH — never broadcast") {
    // Spark's post-agg size estimate under-guessed the idf frame at the
    // 30× probe and broadcast a multi-million-entry table from the driver
    // (13.0 s vs 7.0 s at 100× where the estimate overflowed into
    // sort-merge). The shuffle_hash hint pins the scale-correct shape; a
    // planner change silently reverting it must fail here, not at 100 TB.
    val p = physical("text_tfidf_topk")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }
}
