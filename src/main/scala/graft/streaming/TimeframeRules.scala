package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.rules.RuleDef

/** Sigma `timeframe` (windowed-count) rules — the latent stateful operator
  * the reference deliberately skips (its transpiler rejects any rule with
  * `timeframe`, /root/reference/sigma-transf/main.py:194-195) while its
  * sink schema anticipates them (`event.count BIGINT`, `event.start/end`
  * timestamps, /root/reference/rules/sigma/windows-process-access.sql:45-48).
  *
  * Semantics: events matching the rule predicate, grouped into tumbling
  * event-time windows per key; a window that accumulates >= threshold
  * matches emits ONE alert whose event struct carries count=n (exact),
  * origin_ids=[up to `originIdsCap` matched uuids, the lexicographically
  * smallest — the full set whenever n ≤ cap], start/end=window bounds
  * (the multi-event generalization of the reference's
  * count=1/origin_ids=[uuid] single-event alerts; the sink schema's own
  * pairing of `count BIGINT` with `origin_ids ARRAY<STRING>`,
  * windows-process-access.sql:44-45, is what licenses the provenance
  * array being a sample while count carries cardinality).
  *
  * The same builder serves batch (tests, oracle) and streaming: in
  * streaming, apply `withWatermark` on the source first and Spark runs this
  * as an incremental stateful aggregation with late-data eviction
  * (SURVEY §2.9 T2/T3 — rows later than the watermark are dropped; that is
  * the documented chosen semantics). One hash shuffle on (key, window);
  * partial aggregation is map-side; state size is bounded by watermark ×
  * key cardinality × O(originIdsCap) per cell — a hot key CANNOT grow a
  * state cell past the cap ([[graft.functions.MinKCollectExpr]]).
  */
object TimeframeRules {

  /** One windowed-count rule. `distinctField` (Sigma `count(field)`
    * pipes): when set, the threshold compares the number of DISTINCT
    * values of that column per key per window instead of the event count
    * — counted by the bounded `min_k_distinct` aggregate, so it is EXACT
    * up to the state cap and saturates there (the cap always covers the
    * threshold, so the fire/no-fire decision is exact at ANY group size;
    * only the reported count saturates). `keyParts` (round 18): the
    * resolved field list behind a composite multi-field `keyCol`, carried
    * so oracles/render paths can rebuild the key without re-parsing the
    * expression text (advisor r17); empty for plain single-column keys. */
  final case class TimeframeRule(
      base: RuleDef, windowLength: String, threshold: Long, keyCol: String,
      distinctField: Option[String] = None, keyParts: Seq[String] = Seq.empty)

  /** Default provenance cap: `origin_ids` carries at most this many uuids
    * (the k lexicographically-smallest — a deterministic sample). The
    * paired `count` stays exact; see [[graft.functions.MinKCollectExpr]]
    * for why the cap must bound the aggregation STATE, not the output. */
  val DefaultOriginIdsCap = 256

  /** Bounded provenance collect as an agg Column: min-K uuids, sorted
    * ascending — identical to `array_sort(collect_list(uuid))` whenever
    * the group has ≤ cap events, O(cap) state per group always
    * ([[graft.functions.MinKCollectExpr]], native aggregate). */
  private def originIds(cap: Int): Column =
    call_function("min_k_collect", col("uuid"), lit(cap))

  /** A BATTERY of timeframe rules in one stateful aggregation per
    * (windowLength, keyCol) group — the 1000-rule scale path for stateful
    * rules, mirroring what [[graft.engine.AlertPipeline.alertsMerged]]
    * does for stateless ones. Running N timeframe rules as N separate
    * streaming queries costs N source scans, N shuffles, and N state
    * stores; here the rule_dispatch expression evaluates every predicate
    * in one pass, fired ids explode, and ONE groupBy((rid, window, key))
    * maintains all rules' windowed counts in ONE state store (state keys
    * = rules × keys × live windows — the same total state the N queries
    * would hold, minus N-1 stores' overhead). Per-rule thresholds, names
    * and modules ride plan literals indexed by rid, so the plan is O(1)
    * in rule count like the stateless dispatch.
    *
    * Rules with DIFFERENT window lengths, key columns, or distinct-count
    * fields cannot share a tumbling-window aggregation; they group into
    * one aggregation per distinct (windowLength, keyCol, distinctField)
    * and union. In streaming a
    * multi-group battery runs as ONE query with one state operator PER
    * group (the union branches are stateful siblings, not chained — each
    * sees the raw watermarked source, so the multiple-stateful-operator
    * correctness caveats for chained aggregations don't apply);
    * TimeframeBatterySpec drives a two-group battery end to end in BOTH
    * update mode (per-batch refinements, cross-batch counts) and append
    * mode (finalized windows) and pins stateOperators == groups. The
    * single-group shape stays the latency-optimal deployment (one
    * shuffle, one store commit per trigger).
    *
    * Output is the FULL reference alert row — `rule_name, computer_name,
    * host, event, threat, rule` (the sink schema's three structs,
    * windows-process-access.sql:50-64, with rule_name leading so a battery
    * alert says which rule fired without opening the struct). The
    * threat/rule metadata rides the SAME rid-indexed pre-folded literal
    * the stateless dispatch uses ([[graft.engine.AlertPipeline]]
    * metaLiteral), so the plan stays O(1) in rule count; semantics per
    * rule are identical to [[alerts]] — pinned by spec and by the
    * tf_battery_counts / sig_tf_combined_shape oracles. */
  def alertsBattery(sysmon: DataFrame, rules: Seq[TimeframeRule],
      originIdsCap: Int = DefaultOriginIdsCap): DataFrame = {
    require(rules.nonEmpty, "empty timeframe battery")
    graft.functions.GraftFunctions.register(sysmon.sparkSession)
    import graft.engine.AlertPipeline
    rules.groupBy(r => (r.windowLength, r.keyCol, r.distinctField)).toSeq
      .sortBy(_._1)
      .map { case ((len, key, distinctField), grpSeq) =>
        val g = grpSeq.toIndexedSeq
        val withRid = sysmon.withColumn("rid",
          explode(graft.functions.RuleDispatch.column(
            g.map(_.base.where), col("event_data"), col("event_id"))))
        val thresholds = typedlit(g.map(_.threshold))
        val m = element_at(AlertPipeline.metaLiteral(g.map(_.base)), col("rid") + 1)
        // n: event count, or — for a distinct-count group (Sigma
        // `count(field)` pipes) — the number of DISTINCT values of the
        // field, via the bounded min_k_distinct set. The cap covers every
        // threshold in the group plus the provenance default, so the
        // >=-threshold decision below is EXACT at any group size (only a
        // reported count past the cap saturates); state stays O(cap).
        val nCol = distinctField match {
          case None => count(lit(1))
          case Some(f) =>
            val maxThr = g.map(_.threshold).max
            require(maxThr <= (1 << 20),
              s"distinct-count threshold $maxThr would need >1M state per cell")
            val cap = math.max(originIdsCap.toLong, maxThr).toInt
            size(call_function("min_k_distinct", col(f), lit(cap))).cast("long")
        }
        withRid
          // key aliased pre-agg: a keyCol of "host" would otherwise
          // collide with the min(host) aggregate downstream. expr(), not
          // col(): a compiled multi-field group-by arrives as ONE
          // composite concat_ws expression (RuleCompiler.groupByKey) —
          // plain column names parse identically
          .groupBy(col("rid"), window(col("timestamp"), len),
            expr(key).as("__tf_key"))
          .agg(
            nCol.as("n"),
            originIds(originIdsCap).as("origin_ids"),
            min(col("host")).as("host"))
          .filter(col("n") >= element_at(thresholds, col("rid") + 1))
          .select(
            m.getField("name").as("rule_name"),
            col("__tf_key").as("computer_name"),
            col("host"),
            struct(
              lit("signal").as("kind"),
              m.getField("module").as("module"),
              col("origin_ids"),
              col("n").as("count"),
              col("window.start").as("start"),
              col("window.end").as("end"),
              col("window.end").as("time")).as("event"),
            AlertPipeline.threatStruct(m),
            AlertPipeline.ruleStruct(m))
      }.reduce(_ unionAll _)
  }

  /** Windowed-count alerts over a sysmon frame (batch or pre-watermarked
    * streaming — identical logical plan, SURVEY §7 module 4). Emits the
    * same `computer_name, host, event, threat, rule` shape as the
    * per-event [[graft.engine.AlertPipeline.ruleAlerts]], so a timeframe
    * rule's alerts land in the reference sink unchanged. */
  def alerts(sysmon: DataFrame, rule: TimeframeRule,
      field: String => Column = f => col("event_data").getField(f),
      originIdsCap: Int = DefaultOriginIdsCap): DataFrame = {
    graft.functions.GraftFunctions.register(sysmon.sparkSession)
    import graft.engine.AlertPipeline
    val matched = sysmon.filter(rule.base.where.toColumn(field))
    val m = element_at(AlertPipeline.metaLiteral(Seq(rule.base)), lit(1))
    // same n semantics as the battery: event count, or bounded-exact
    // distinct count of the rule's field (see alertsBattery)
    val nCol = rule.distinctField match {
      case None => count(lit(1))
      case Some(f) =>
        val cap = math.max(originIdsCap.toLong, rule.threshold).toInt
        size(call_function("min_k_distinct", col(f), lit(cap))).cast("long")
    }
    matched
      .groupBy(window(col("timestamp"), rule.windowLength),
        expr(rule.keyCol).as("__tf_key"))
      .agg(
        nCol.as("n"),
        originIds(originIdsCap).as("origin_ids"),
        min(col("host")).as("host"))
      .filter(col("n") >= rule.threshold)
      .select(
        col("__tf_key").as("computer_name"),
        col("host"),
        struct(
          lit("signal").as("kind"),
          rule.base.module.map(lit(_)).getOrElse(lit(null).cast("string")).as("module"),
          col("origin_ids"),
          col("n").as("count"),
          col("window.start").as("start"),
          col("window.end").as("end"),
          col("window.end").as("time")).as("event"),
        AlertPipeline.threatStruct(m),
        AlertPipeline.ruleStruct(m))
  }
}
