package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.rules.RuleDef

/** Sequence-correlation rules: "the referenced rules on the same key
  * within `gap`" — the Sigma correlation class the reference's transpiler
  * explicitly rejects (`/root/reference/sigma-transf/main.py:194-195`
  * returns '' for any rule with `timeframe`; correlation rules are the
  * stateful superset of those). This is the custom-state tier of the
  * streaming surface: `KeyValueGroupedDataset.flatMapGroupsWithState`,
  * keyed by the correlation key. Two correlators cover every ref count
  * n ≥ 2: [[correlateChain]] (ordered; state = the latest valid chain per
  * prefix length) and [[correlateAnyOrder]] (any order; state = the
  * latest event of each kind). [[alertsFor]] runs either one.
  *
  * THE SAME function runs batch and streaming (the repo-wide design rule —
  * identical logical semantics both modes):
  *  - streaming: state persists in the state store across micro-batches;
  *    an event in batch n correlates with one in batch n+k. Rows inside
  *    one micro-batch are sorted by event time before applying state
  *    (Spark hands the group iterator unordered); ACROSS batches, ordering
  *    is by arrival — bounded-disorder sources should pre-sort per trigger
  *    (watermark semantics, SURVEY §2.9 T3).
  *  - batch: each key's full history arrives as one group; state starts
  *    empty, the in-group sort makes processing exactly time-ordered, so
  *    batch output == streaming output for in-order sources (the
  *    equivalence the DuckDB window oracles check).
  *
  * Scale: one hash shuffle on the key; state per key is O(n) slots for n
  * referenced rules, never a buffer of events; the in-group sort is
  * per-key-per-batch (micro-batch sized in streaming, bounded by key
  * cardinality × event rate, never global).
  *
  * STATE LIFETIME (round 18, r17 verdict #1): per-key state is O(n)
  * SLOTS, but without expiry the keys themselves accumulate forever — a
  * year-long stream keyed on a composite like `host|SourceImage` grows the
  * state store with key cardinality. A slot older than `gapUs` can never
  * participate in another match, so both correlators take an `expire`
  * flag: in streaming with a watermark, the runner passes
  * `GroupStateTimeout.EventTimeTimeout` and each invocation re-arms the
  * key's timeout at (last relevant slot + gap); once the watermark passes
  * it, Spark calls back with `hasTimedOut` and the state is dropped. Batch
  * keeps `NoTimeout` (state dies with the job). An in-gap match still
  * completes across the timeout boundary — the timeout only fires after
  * the watermark (not wall time) passes the last instant a stored slot
  * could matter.
  */
object SequenceRules {

  /** Arm the event-time timeout for a live state: fire once the watermark
    * passes the last instant the stored slots could still participate in a
    * match (`maxTsUs + gapUs`). Clamped past the current watermark — Spark
    * rejects timeout timestamps at-or-before it; a state already beyond
    * the gap is then dropped at the very next watermark advance. */
  private def armTimeout(state: GroupState[_], maxTsUs: Long, gapUs: Long): Unit = {
    val fireMs = (maxTsUs + gapUs) / 1000L + 1L
    state.setTimeoutTimestamp(math.max(fireMs, state.getCurrentWatermarkMs() + 1L))
  }

  // ------------------------------------------------------------------
  // Compiled temporal-correlation deployments (round 17): the modern
  // Sigma correlation format's `temporal` / `temporal_ordered` types
  // (the meta-rule spec compileCorrelationFile implements) compile to a
  // [[SequenceRule]] and run here.
  // ------------------------------------------------------------------

  /** A COMPILED temporal correlation: N ≥ 2 referenced base rules, a time
    * gap, a group key. `ordered = false` (Sigma `temporal`): the rules
    * match in ANY order within the gap — the any-order slot correlator
    * ([[correlateAnyOrder]]); `ordered = true` (`temporal_ordered`): the
    * rules must match in document order, the whole chain inside the gap
    * (the [[correlateChain]] operator). `keyCol` is any Spark SQL
    * expression over the sysmon frame (single column or the composite
    * escaped `concat_ws` key multi-field `group-by` compiles to);
    * `keyParts` carries the resolved field list whenever the key is
    * composite, so oracles/render paths can rebuild the key without
    * re-parsing the expression text (advisor r17). */
  final case class SequenceRule(
      meta: RuleDef, rules: Seq[RuleDef],
      gapUs: Long, keyCol: String, ordered: Boolean,
      keyParts: Seq[String] = Seq.empty) {
    require(rules.size >= 2, "a temporal correlation needs at least two rules")
    def first: RuleDef = rules.head
    def second: RuleDef = rules(1)
  }

  /** One event entering a compiled correlator. kind: the index of the
    * FIRST referenced rule the event matches (document order,
    * deterministic — an event matching several counts as the earliest). */
  final case class PairEvent(key: String, ts_us: Long, kind: Int,
      uuid: String, host: String)

  /** The best (latest-headed) chain covering rule steps 0..i for a key:
    * the first event's time (span anchor), the step-i event's time (order
    * anchor for step i+1), and every chain event's uuid (provenance). */
  final case class ChainLink(head_ts_us: Long, last_ts_us: Long, uuids: Seq[String])

  /** Per-key chain state: one [[ChainLink]] slot per completed prefix
    * length — O(chain length) slots, each O(chain length) uuids, never a
    * buffer of events. */
  final case class ChainState(links: Map[Int, ChainLink])

  /** A completed correlation (ordered chain or any-order set): the
    * emitting (last) event's host, the span bounds, and all N uuids in
    * rule order. */
  final case class ChainMatch(key: String, host: String,
      start_ts_us: Long, end_ts_us: Long, uuids: Seq[String])

  /** Ordered N-step chain correlation (Sigma `temporal_ordered`, any
    * n ≥ 2): rules[0] → rules[1] → … → rules[n-1] on one key, in order,
    * the WHOLE chain within `gapUs` of its first event. Greedy
    * latest-prefix semantics: an event of step i extends the LATEST valid
    * chain covering steps 0..i-1 (valid = this event is at-or-after that
    * chain's last event AND within the gap of its head); a completed step
    * n-1 emits ONE match. At n=2 this is "B pairs with the latest A at or
    * before it, within the gap". Deterministic: in-batch rows process in
    * (ts, kind, uuid) order — a full chain at one timestamp completes
    * (step order breaks the tie), mirrored by the oracles' carry-forward
    * windows over the same order. State is one slot per prefix length; an
    * out-of-order event across micro-batches fails the at-or-after guard
    * and is dropped. `expire`: event-time timeout at (latest chain head +
    * gap) — once the watermark passes it no stored prefix can extend, see
    * STATE LIFETIME. */
  def correlateChain(gapUs: Long, n: Int, expire: Boolean = false)(
      key: String, rows: Iterator[PairEvent], state: GroupState[ChainState])
      : Iterator[ChainMatch] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var links = state.getOption.map(_.links).getOrElse(Map.empty[Int, ChainLink])
    val out = Vector.newBuilder[ChainMatch]
    rows.toVector.sortBy(e => (e.ts_us, e.kind, e.uuid)).foreach { e =>
      val prefix: Option[ChainLink] =
        if (e.kind == 0) Some(ChainLink(e.ts_us, e.ts_us, Seq.empty))
        else links.get(e.kind - 1).filter(p =>
          e.ts_us >= p.last_ts_us && e.ts_us - p.head_ts_us <= gapUs)
      prefix.foreach { p =>
        val link = ChainLink(p.head_ts_us, e.ts_us, p.uuids :+ e.uuid)
        links = links.updated(e.kind, link)
        if (e.kind == n - 1)
          out += ChainMatch(key, e.host, link.head_ts_us, e.ts_us, link.uuids)
      }
    }
    if (links.isEmpty) state.remove()
    else {
      state.update(ChainState(links))
      if (expire) armTimeout(state, links.valuesIterator.map(_.head_ts_us).max, gapUs)
    }
    out.result().iterator
  }

  /** Latest event of one kind — the slot unit of [[correlateAnyOrder]]. */
  final case class AnySlot(ts_us: Long, uuid: String)

  /** Per-key any-order state: one latest-[[AnySlot]] per kind — exactly
    * the chain state minus the order guard, O(n) slots, never a buffer. */
  final case class AnyOrderState(slots: Map[Int, AnySlot])

  /** ANY-ORDER N-ref temporal correlation (Sigma `temporal`, any n ≥ 2):
    * all N referenced rules observed on one key, in any order, within
    * `gapUs` of the OLDEST participating slot. One latest-slot per kind;
    * an arriving event updates its kind's slot, then emits ONE
    * [[ChainMatch]] iff every kind's slot is set, none is newer than this
    * event (an out-of-order event across micro-batches is dropped, the
    * same guard [[correlateChain]] applies), and this event sits within
    * the gap of the oldest slot. At n=2 this is "every event pairs with
    * the latest opposite-kind event within the gap". At most one emission
    * per event → linear output; uuids in rule order; span = oldest slot ..
    * this event. Deterministic in-batch order (ts, kind, uuid), mirrored
    * by the oracles' per-kind carry-forward windows over the same triple.
    * `expire`: event-time timeout at (latest slot + gap) — when the
    * watermark passes it, every slot is individually dead, see STATE
    * LIFETIME. */
  def correlateAnyOrder(gapUs: Long, n: Int, expire: Boolean = false)(
      key: String, rows: Iterator[PairEvent], state: GroupState[AnyOrderState])
      : Iterator[ChainMatch] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var slots = state.getOption.map(_.slots).getOrElse(Map.empty[Int, AnySlot])
    val out = Vector.newBuilder[ChainMatch]
    rows.toVector.sortBy(e => (e.ts_us, e.kind, e.uuid)).foreach { e =>
      slots = slots.updated(e.kind, AnySlot(e.ts_us, e.uuid))
      if (slots.size == n && slots.valuesIterator.forall(_.ts_us <= e.ts_us)) {
        val minTs = slots.valuesIterator.map(_.ts_us).min
        if (e.ts_us - minTs <= gapUs)
          out += ChainMatch(key, e.host, minTs, e.ts_us,
            (0 until n).map(k => slots(k).uuid))
      }
    }
    if (slots.isEmpty) state.remove()
    else {
      state.update(AnyOrderState(slots))
      if (expire) armTimeout(state, slots.valuesIterator.map(_.ts_us).max, gapUs)
    }
    out.result().iterator
  }

  /** Batch AND streaming runner for a COMPILED [[SequenceRule]] over a
    * nested sysmon frame (`event_data` struct + `event_id`/`timestamp`/
    * `uuid`/`host`, the same input
    * [[graft.engine.AlertPipeline.alertsMerged]] takes).
    * Emits the reference's full alert row plus the battery's leading
    * `rule_name` convenience column: a correlated chain/set is ONE alert
    * whose event struct carries count=N, origin_ids=[each step's uuid in
    * rule order], start/end = the correlation's time bounds — the
    * sequence analog of the timeframe battery's windowed alert. Streaming
    * callers drop `rule_name` at the sink exactly like the combined job,
    * so the sink schema stays the invariant 5-column row.
    *
    * Correlator routing, for every n ≥ 2: ordered → [[correlateChain]];
    * unordered → [[correlateAnyOrder]].
    *
    * The step predicates run as one `rule_dispatch`, the evaluator of every
    * alert path: only TRUE fires, and an event matching several of them
    * takes the FIRST matching step (the lowest fired id — document order,
    * deterministic; the oracle's CASE mirrors it). Scale: one hash
    * shuffle on the key; O(chain length) state per key (slots, never
    * event buffers — state size is key cardinality × N, the same bound
    * the reference's per-host alerting carries); the predicate filter and event projection are narrow
    * codegen'd transforms. STATE LIFETIME: when the input is a STREAMING
    * frame carrying a watermark (apply `withWatermark` before calling —
    * [[graft.engine.AlertPipeline.startSequence]] does), the correlator
    * runs under `EventTimeTimeout` and keys expire once the watermark
    * passes (last slot + gap); a streaming frame WITHOUT a watermark
    * falls back to NoTimeout (unbounded keys — deploy watermarked). */
  def alertsFor(sysmon: DataFrame, rule: SequenceRule): DataFrame = {
    val s: SparkSession = sysmon.sparkSession
    import s.implicits._
    import graft.engine.AlertPipeline
    // streaming + watermarked input → event-time state expiry; the tagged
    // event-time column must survive the projection below for Spark to
    // allow event-time timeouts (metadata rides the direct alias)
    val expire = sysmon.isStreaming && sysmon.queryExecution.analyzed.output
      .exists(_.metadata.contains("spark.watermarkDelayMs"))
    val timeoutConf =
      if (expire) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    // the step predicates as one rule_dispatch: fired ids come out
    // ascending, so the first one is the first matching step. Exploding
    // that one-element prefix drops events that fire no step and
    // evaluates the dispatch once per event (a size > 0 filter plus an
    // element_at projection would run it twice once the optimizer pushes
    // the filter below the projection).
    val fired = graft.functions.RuleDispatch.column(
      rule.rules.map(_.where), col("event_data"), col("event_id"))
    val baseCols = Seq(
      expr(rule.keyCol).cast("string").as("key"),
      unix_micros(col("timestamp")).as("ts_us"),
      col("kind"),
      col("uuid"), col("host"))
    val cols = if (expire) baseCols :+ col("timestamp").as("ts") else baseCols
    val evs = sysmon.withColumn("kind", explode(slice(fired, 1, 1)))
      .select(cols: _*)
      .as[PairEvent]
    val grouped = evs.groupByKey(_.key)
    val n = rule.rules.size
    val matched: Dataset[ChainMatch] =
      if (rule.ordered)
        grouped.flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
          correlateChain(rule.gapUs, n, expire))
      else
        grouped.flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
          correlateAnyOrder(rule.gapUs, n, expire))
    val m = element_at(AlertPipeline.metaLiteral(Seq(rule.meta)), lit(1))
    matched.select(lit(rule.meta.name).as("rule_name") +:
      AlertPipeline.alertRow(m, col("key"), col("host"), col("uuids"), lit(n.toLong),
        timestamp_micros(col("start_ts_us")), timestamp_micros(col("end_ts_us"))): _*)
  }
}
