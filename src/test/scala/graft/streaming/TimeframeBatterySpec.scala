package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.Detection
import graft.rules.ReferenceCorpus
import graft.schema.Schemas

/** The timeframe-rule battery (round 13): N windowed-count rules in ONE
  * stateful aggregation via rule_dispatch. Batch semantics are pinned
  * equal to the union of the per-rule windowed GROUP BYs
  * `RuleCompiler.renderTimeframeSql` renders (and the tf_battery_counts
  * DuckDB oracle); streaming runs the battery as one query with ONE state
  * operator — the scale story vs N queries. */
class TimeframeBatterySpec extends SparkSpec {

  test("battery == union of per-rule timeframe alerts (batch, synth corpus)") {
    val src = Detection.nested(spark, "/root/testdata/sf0.001")
    src.createOrReplaceTempView("tf_battery_corpus")
    graft.functions.GraftFunctions.register(spark)
    val battery = Detection.tfBattery
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(to_json(struct(col("computer_name"), col("host"), col("event"),
        col("threat"), col("rule")))).collect().map(_.getString(0)).sorted.toSeq
    // the reference: each rule's rendered windowed GROUP BY, combined with
    // UNION ALL in SQL text
    val viaRendered = canon(spark.sql(battery
      .map(graft.compile.RuleCompiler.renderTimeframeSql(_, "tf_battery_corpus"))
      .mkString("\nUNION ALL\n")))
    val viaBattery = canon(TimeframeRules.alertsBattery(src, battery))
    assert(viaBattery.nonEmpty && viaBattery == viaRendered)
  }

  test("streaming battery: one query, ONE state operator, per-rid thresholds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, java.sql.Timestamp, String, String)]
    // full sysmon shape: rule_dispatch resolves every referenced
    // event_data field by ordinal, so the struct carries the whole schema
    val flat = mem.toDF()
      .toDF("computer_name", "host", "uuid", "timestamp", "CallTrace", "CommandLine")
    val src = flat.select(
      col("computer_name"),
      when(col("CallTrace").isNotNull, lit(10L)).otherwise(lit(1L)).as("event_id"),
      col("host"),
      struct(Schemas.eventDataFields.map {
        case "CallTrace" => col("CallTrace").as("CallTrace")
        case "CommandLine" => col("CommandLine").as("CommandLine")
        case "Image" => when(col("CommandLine").isNotNull,
          lit("""C:\Windows\System32\cmdkey.exe""")).as("Image")
        case f => lit(null).cast("string").as(f)
      }: _*).as("event_data"),
      col("uuid"), col("timestamp"))
    val battery = Seq(
      TimeframeRules.TimeframeRule(
        ReferenceCorpus.directSyscall, "10 minutes", 2L, "computer_name"),
      TimeframeRules.TimeframeRule(
        ReferenceCorpus.cmdkeyRecon, "10 minutes", 1L, "computer_name"))
    val alerts = TimeframeRules.alertsBattery(
      src.withWatermark("timestamp", "5 seconds"), battery)
    val q = alerts.writeStream.format("memory").queryName("tf_battery_t1")
      .outputMode("update").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
      // batch 1: one syscall event for pc1 (below threshold 2), one cmdkey
      // recon for pc2 (threshold 1 → alerts immediately)
      mem.addData(
        ("pc1", "h", "a1", ts(1), "UNKNOWN(1)", null),
        ("pc2", "h", "c1", ts(2), null, "cmdkey /list"))
      q.processAllAvailable()
      // batch 2: the second pc1 syscall in the same window — the battery's
      // state must carry the count across micro-batches
      mem.addData(("pc1", "h", "a2", ts(3), "UNKNOWN(2)", null))
      q.processAllAvailable()
      val out = spark.table("tf_battery_t1")
        .select(col("rule_name"), col("computer_name"), col("event.count"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(out == Set(
        (ReferenceCorpus.cmdkeyRecon.name, "pc2", 1L),
        (ReferenceCorpus.directSyscall.name, "pc1", 2L)), out.toString)
      // the scale claim: the whole battery runs in ONE stateful operator
      assert(q.lastProgress.stateOperators.length == 1,
        s"expected 1 state operator, got ${q.lastProgress.stateOperators.length}")
    } finally q.stop()
  }

  test("streaming distinct-count rule: cross-batch distinct via min_k_distinct state (r16)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, java.sql.Timestamp, String, String)]
    val flat = mem.toDF()
      .toDF("computer_name", "host", "uuid", "timestamp", "CallTrace", "CommandLine")
    val src = flat.select(
      col("computer_name"), lit(10L).as("event_id"), col("host"),
      struct(Schemas.eventDataFields.map {
        case "CallTrace" => col("CallTrace").as("CallTrace")
        case "CommandLine" => col("CommandLine").as("CommandLine")
        case f => lit(null).cast("string").as(f)
      }: _*).as("event_data"),
      col("uuid"), col("timestamp"))
    // Sigma `count(CommandLine) >= 2`: the threshold compares DISTINCT
    // CommandLine values per key per window, not the event count — the
    // distinct set lives in min_k_distinct's bounded state and must merge
    // correctly ACROSS micro-batches (dups arriving in different batches)
    val rule = TimeframeRules.TimeframeRule(
      ReferenceCorpus.directSyscall, "10 minutes", 2L, "computer_name",
      distinctField = Some("event_data.CommandLine"))
    val alerts = TimeframeRules.alertsBattery(
      src.withWatermark("timestamp", "5 seconds"), Seq(rule))
    val q = alerts.writeStream.format("memory").queryName("tf_distinct_t1")
      .outputMode("update").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
      // batch 1: TWO events, ONE distinct value — below threshold
      mem.addData(
        ("pc1", "h", "d1", ts(1), "UNKNOWN(1)", "cmd-A"),
        ("pc1", "h", "d2", ts(2), "UNKNOWN(2)", "cmd-A"))
      q.processAllAvailable()
      assert(spark.table("tf_distinct_t1").isEmpty,
        "2 events / 1 distinct value must NOT fire a >=2-distinct rule")
      // batch 2: a second distinct value — fires with n = 2 (distinct),
      // the cross-batch merge of the distinct set
      mem.addData(("pc1", "h", "d3", ts(3), "UNKNOWN(3)", "cmd-B"))
      q.processAllAvailable()
      // batch 3: a DUPLICATE value in a later batch — n must stay 2
      // while provenance still collects the event
      mem.addData(("pc1", "h", "d4", ts(4), "UNKNOWN(4)", "cmd-A"))
      q.processAllAvailable()
      val rows = spark.table("tf_distinct_t1")
        .select(col("event.count"), size(col("event.origin_ids"))).collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(rows.nonEmpty && rows.forall(_._1 == 2L), rows.mkString(","))
      // the last update carries all 4 events' uuids with the count still 2:
      // count = distinct cardinality, origin_ids = event provenance
      assert(rows.map(_._2).max == 4, rows.mkString(","))
    } finally q.stop()
  }

  test("multi-group battery streaming: one state operator per group, both modes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val battery = Seq(
      TimeframeRules.TimeframeRule(
        ReferenceCorpus.directSyscall, "10 minutes", 2L, "computer_name"),
      TimeframeRules.TimeframeRule(
        ReferenceCorpus.cmdkeyRecon, "5 minutes", 1L, "host"))
    for (mode <- Seq("update", "append")) {
      val mem = MemoryStream[(String, String, String, java.sql.Timestamp, String, String)]
      val flat = mem.toDF()
        .toDF("computer_name", "host", "uuid", "timestamp", "CallTrace", "CommandLine")
      val src = flat.select(
        col("computer_name"),
        when(col("CallTrace").isNotNull, lit(10L)).otherwise(lit(1L)).as("event_id"),
        col("host"),
        struct(Schemas.eventDataFields.map {
          case "CallTrace" => col("CallTrace").as("CallTrace")
          case "CommandLine" => col("CommandLine").as("CommandLine")
          case "Image" => when(col("CommandLine").isNotNull,
            lit("""C:\Windows\System32\cmdkey.exe""")).as("Image")
          case f => lit(null).cast("string").as(f)
        }: _*).as("event_data"),
        col("uuid"), col("timestamp"))
      val alerts = TimeframeRules.alertsBattery(
        src.withWatermark("timestamp", "5 seconds"), battery)
      val q = alerts.writeStream.format("memory")
        .queryName(s"tf_multigroup_$mode").outputMode(mode).start()
      try {
        def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
        // state must carry across micro-batches in BOTH groups
        mem.addData(
          ("pc1", "h1", "a1", ts(1), "UNKNOWN(1)", null),
          ("pc2", "h2", "c1", ts(2), null, "cmdkey /list"))
        q.processAllAvailable()
        mem.addData(
          ("pc1", "h1", "a2", ts(3), "UNKNOWN(2)", null),
          ("pc2", "h2", "c2", ts(4), null, "cmdkey /list"))
        q.processAllAvailable()
        // watermark past both windows so append finalizes them
        mem.addData(("pc9", "h9", "z1", ts(50), null, null))
        q.processAllAvailable()
        val out = spark.table(s"tf_multigroup_$mode")
          .select(col("rule_name"), col("computer_name"), col("event.count"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
        val finals = Set(
          (ReferenceCorpus.directSyscall.name, "pc1", 2L),
          (ReferenceCorpus.cmdkeyRecon.name, "h2", 2L))
        if (mode == "append") assert(out == finals, s"$mode: $out")
        else {
          // update mode also emits the count=1 refinement from batch 1
          assert(finals.subsetOf(out), s"$mode: $out")
          assert(out.contains((ReferenceCorpus.cmdkeyRecon.name, "h2", 1L)), out)
        }
        assert(q.lastProgress.stateOperators.length == 2,
          s"$mode: expected one state operator per group, " +
            s"got ${q.lastProgress.stateOperators.length}")
      } finally q.stop()
    }
  }

  test("combined job: stateless dispatch + timeframe battery, ONE source, ONE query") {
    import spark.implicits._
    import graft.engine.AlertPipeline
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, String, java.sql.Timestamp, String, String)]
    val flat = mem.toDF()
      .toDF("computer_name", "host", "uuid", "timestamp", "CallTrace", "CommandLine")
    val src = flat.select(
      col("computer_name"),
      when(col("CallTrace").isNotNull, lit(10L)).otherwise(lit(1L)).as("event_id"),
      col("host"),
      struct(Schemas.eventDataFields.map {
        case "CallTrace" => col("CallTrace").as("CallTrace")
        case "CommandLine" => col("CommandLine").as("CommandLine")
        case "Image" => when(col("CommandLine").isNotNull,
          lit("""C:\Windows\System32\cmdkey.exe""")).as("Image")
        case f => lit(null).cast("string").as(f)
      }: _*).as("event_data"),
      col("uuid"), col("timestamp"))
    val tf = Seq(TimeframeRules.TimeframeRule(
      ReferenceCorpus.directSyscall, "10 minutes", 2L, "computer_name"))
    val combined = AlertPipeline.alertsCombined(
      src.withWatermark("timestamp", "5 seconds"),
      Seq(ReferenceCorpus.cmdkeyRecon), tf)
    val q = combined.writeStream.format("memory").queryName("combined_t1")
      .outputMode("update").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
      // batch 1: a stateless hit (emits immediately) + first syscall
      mem.addData(
        ("pc1", "h", "c1", ts(1), null, "cmdkey /list"),
        ("pc1", "h", "a1", ts(2), "UNKNOWN(1)", null))
      q.processAllAvailable()
      val afterB1 = spark.table("combined_t1")
        .select("rule_name", "event.count").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(afterB1 == Set((ReferenceCorpus.cmdkeyRecon.name, 1L)), afterB1)
      // batch 2: second syscall crosses the threshold IN STATE
      mem.addData(("pc1", "h", "a2", ts(3), "UNKNOWN(2)", null))
      q.processAllAvailable()
      val out = spark.table("combined_t1")
        .select(col("rule_name"), col("event.count"), col("event.origin_ids"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(out == Set(
        (ReferenceCorpus.cmdkeyRecon.name, 1L),
        (ReferenceCorpus.directSyscall.name, 2L)), out)
      // stateless branch added NO state: one store total (the tf battery's)
      assert(q.lastProgress.stateOperators.length == 1,
        s"expected 1 state operator, got ${q.lastProgress.stateOperators.length}")
    } finally q.stop()
  }

  test("battery + combined emit the FULL reference sink schema (threat + rule structs, r15)") {
    import graft.engine.AlertPipeline
    import org.apache.spark.sql.types.StructType
    val src = Detection.nested(spark, "/root/testdata/sf0.001")
    val battery = Detection.tfBattery
    val out = TimeframeRules.alertsBattery(src, battery)
    // the r14 battery emitted only (rule_name, computer_name, host, event),
    // dropping the sink schema's threat/rule structs
    // (windows-process-access.sql:50-64) — now every alert carries them
    assert(out.columns.toSeq ==
      Seq("rule_name", "computer_name", "host", "event", "threat", "rule"))
    assert(out.schema("threat").dataType.asInstanceOf[StructType].fieldNames.toSeq
      == Seq("tactic", "technique", "subtechnique"))
    assert(out.schema("rule").dataType.asInstanceOf[StructType].fieldNames.toSeq
      == Seq("name", "author", "category", "severity", "description",
        "reference", "version", "source"))
    // a battery alert's metadata structs are byte-equal to the ones the
    // rule's rendered per-event SELECT builds from the same RuleDef fields;
    // use a rule that actually crossed its threshold at this SF
    val fired = out.select("rule_name").distinct().collect()
      .map(_.getString(0)).toSet
    assert(fired.nonEmpty, "no battery rule fired at sf0.001")
    val r0 = battery.map(_.base).find(b => fired(b.name)).get
    val viaBattery = out.filter(col("rule_name") === r0.name)
      .select(to_json(col("threat")), to_json(col("rule")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSeq
    src.createOrReplaceTempView("tf_shape_corpus")
    def rendered(r: graft.rules.RuleDef) =
      spark.sql(graft.compile.RuleCompiler.renderSql(r, "tf_shape_corpus"))
    val viaRendered = rendered(r0)
      .select(to_json(col("threat")), to_json(col("rule")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(viaBattery.length == 1 && viaBattery == viaRendered)
    // combined: the per-event side is the COMPLETE stateless alert row (plus
    // the leading rule_name), no longer projected down to the event struct
    val laz = ReferenceCorpus.lazagne
    val combined = AlertPipeline.alertsCombined(src, Seq(laz), battery)
    assert(combined.columns.toSeq ==
      Seq("rule_name", "computer_name", "host", "event", "threat", "rule"))
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(to_json(struct(col("computer_name"), col("host"),
        col("event"), col("threat"), col("rule"))))
        .collect().map(_.getString(0)).toSet
    val perEvent = canon(combined.filter(col("rule_name") === laz.name))
    assert(perEvent.nonEmpty && perEvent == canon(rendered(laz)))
  }

  test("hot key: origin_ids capped, count exact (batch battery)") {
    import graft.engine.AlertPipeline
    val n = 10
    val rows = (0 until n).map { i =>
      Map[String, Any]("computer_name" -> "hot", "host" -> "h",
        "uuid" -> f"u$i%02d", "ts_us" -> (1700000000000000L + i * 1000L),
        "CallTrace" -> "UNKNOWN(x)", "event_id" -> 10L)
    }
    val src = AlertPipeline.sysmonFrame(spark, rows)
    val rule = TimeframeRules.TimeframeRule(
      graft.rules.ReferenceCorpus.directSyscall, "24 hours", 2L, "computer_name")
    val cap = 4
    val r = TimeframeRules.alertsBattery(src, Seq(rule), originIdsCap = cap)
      .select(col("event.count"), col("event.origin_ids")).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == n.toLong) // count stays exact past the cap
    assert(r(0).getSeq[String](1) == (0 until cap).map(i => f"u$i%02d"))
    // below the cap the array is the FULL sorted list (oracle compatibility)
    val full = TimeframeRules.alertsBattery(src, Seq(rule)).select(col("event.origin_ids"))
      .collect()(0).getSeq[String](0)
    assert(full == (0 until n).map(i => f"u$i%02d"))
  }

  test("hot key streaming: state cell and alert row stay bounded across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val src = mem.toDF().toDF("uuid", "timestamp").select(
      lit("hot").as("computer_name"), lit(10L).as("event_id"), lit("h").as("host"),
      struct(Schemas.eventDataFields.map {
        case "CallTrace" => lit("UNKNOWN(x)").as("CallTrace")
        case f => lit(null).cast("string").as(f)
      }: _*).as("event_data"),
      col("uuid"), col("timestamp"))
    val rule = TimeframeRules.TimeframeRule(
      graft.rules.ReferenceCorpus.directSyscall, "10 minutes", 2L, "computer_name")
    val alerts = TimeframeRules.alertsBattery(
      src.withWatermark("timestamp", "5 seconds"), Seq(rule), originIdsCap = 4)
    val q = alerts.writeStream.format("memory").queryName("tf_hotkey")
      .outputMode("update").start()
    try {
      def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
      // the hot key arrives across TWO micro-batches: the second batch's
      // merge into existing state must respect the cap, and smaller uuids
      // arriving later must still displace larger ones (min-K, not first-K)
      mem.addData((5 until 10).map(i => (f"u$i%02d", ts(i))): _*)
      q.processAllAvailable()
      mem.addData((0 until 5).map(i => (f"u$i%02d", ts(10 + i))): _*)
      q.processAllAvailable()
      val rows = spark.table("tf_hotkey")
        .select(col("event.count"), col("event.origin_ids")).collect()
      val last = rows.maxBy(_.getLong(0))
      assert(last.getLong(0) == 10L)
      assert(last.getSeq[String](1) == (0 until 4).map(i => f"u$i%02d"))
    } finally q.stop()
  }

  test("escaped composite key: a '|' inside a field value cannot collide two distinct key tuples (r18, r17 verdict #5)") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // two DISTINCT key tuples whose UNESCAPED concat rendered identically
    // through r17: ('h|x','y') vs ('h','x|y') → both 'h|x|y' — one merged
    // battery cell, one wrong alert of n=4. Escaped they stay apart.
    val rows = Seq(
      ("h|x", "y", "u1"), ("h|x", "y", "u2"),
      ("h", "x|y", "u3"), ("h", "x|y", "u4"))
    val src = rows.toDF("host", "user", "uuid")
      .select(
        lit("pc").as("computer_name"), lit(10L).as("event_id"), col("host"),
        struct(col("user").as("TargetUser")).as("event_data"),
        col("uuid"), lit(t0).as("timestamp"))
    val yaml =
      """title: Base
        |name: base
        |logsource:
        |    category: process_access
        |detection:
        |    selection:
        |        TargetUser|contains: ''
        |    condition: selection
        |---
        |title: Pipe Collision Probe
        |level: low
        |correlation:
        |    type: event_count
        |    rules: [base]
        |    group-by: [host, TargetUser]
        |    timespan: 1h
        |    condition:
        |        gte: 2
        |""".stripMargin
    val rule = graft.compile.RuleCompiler.compileCorrelationFile(yaml)
      .getOrElse(fail("collision-probe correlation compile failed")).timeframe.head
    val out = TimeframeRules.alertsBattery(src, Seq(rule))
      .select(col("computer_name"), col("event.count")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // two separate cells of 2 events each — NOT one merged cell of 4; the
    // display key carries the escape so it stays invertible
    assert(out == Set(("h\\|x|y", 2L), ("h|x\\|y", 2L)))
    // non-identifier group-by fields survive expr() via backtick quoting
    // inside the composite (advisor r17)
    val spaced = graft.compile.RuleCompiler.groupByKey(Seq("host", "Logon Id"))
    val v = spark.range(1)
      .select(lit("h").as("host"), struct(lit("5").as("Logon Id")).as("event_data"))
      .select(expr(spaced)).as[String].head()
    assert(v == "h|5")
  }
}
