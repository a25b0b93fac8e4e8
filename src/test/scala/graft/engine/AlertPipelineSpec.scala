package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.rules.ReferenceCorpus

/** Batch end-to-end tests of the rule pipeline: matching + near-miss
  * fixtures per representative rule, alert shaping, fan-out multiplicity,
  * and JSON parse tolerance (SURVEY §5 items 2 and 4). */
class AlertPipelineSpec extends SparkSpec {

  private def ev(fields: (String, Any)*): Map[String, Any] =
    Map("computer_name" -> "pc1", "host" -> "h1", "uuid" -> "u1",
      "event_id" -> 10L, "ts_us" -> 1700000000000000L) ++ fields.toMap

  test("LaZagne rule: match requires all CallTrace parts + GrantedAccess") {
    val matching = ev(
      "TargetImage" -> """C:\Windows\System32\lsass.exe""",
      "GrantedAccess" -> "0x1FFFFF",
      "CallTrace" -> ("""C:\\Windows\\SYSTEM32\\ntdll.dll+1|C:\\Windows\\System32\\KERNELBASE.dll+2""" +
        """|_ctypes.pyd+3|python27.dll+4"""))
    val nearMiss = matching + ("GrantedAccess" -> "0x1410")
    val df = AlertPipeline.sysmonFrame(spark, Seq(matching, nearMiss))
    val alerts = AlertPipeline.ruleAlerts(df, ReferenceCorpus.lazagne).collect()
    assert(alerts.length == 1)
    val event = alerts(0).getAs[Row]("event")
    assert(event.getAs[String]("kind") == "signal")
    assert(event.getAs[String]("module") == "process_access")
    assert(event.getAs[scala.collection.Seq[String]]("origin_ids").toSeq == Seq("u1"))
    assert(event.getAs[Long]("count") == 1L)
    val rule = alerts(0).getAs[Row]("rule")
    assert(rule.getAs[String]("name") == "Credential Dumping by LaZagne")
    assert(rule.getAs[Int]("severity") == 9)
    val threat = alerts(0).getAs[Row]("threat")
    assert(threat.getAs[scala.collection.Seq[String]]("tactic").toSeq == Seq("attack.credential_access"))
  }

  test("event_id gate: process_access rules ignore event_id=1 rows") {
    val e = ev("TargetImage" -> """C:\x\lsass.exe""",
      "SourceImage" -> """C:\Windows\system32\wsmprovhost.exe""")
    val df = AlertPipeline.sysmonFrame(spark, Seq(e, e + ("event_id" -> 1L)))
    assert(AlertPipeline.ruleAlerts(df, ReferenceCorpus.mimikatzWinrm).count() == 1)
  }

  test("fan-out multiplicity: one event matching k rules emits k alerts") {
    // UNKNOWN% CallTrace + lsass + excluded-source=false fires directSyscall;
    // with GrantedAccess in the credDump IN-list it also fires credDumpTools.
    val e = ev(
      "TargetImage" -> """C:\Windows\System32\lsass.exe""",
      "GrantedAccess" -> "0x1410",
      "SourceImage" -> """C:\evil\dump.exe""",
      "CallTrace" -> "UNKNOWN(1)|UNKNOWN(2)")
    val df = AlertPipeline.sysmonFrame(spark, Seq(e))
    val alerts = AlertPipeline.alerts(df, ReferenceCorpus.active)
    val names = alerts.select("rule.name").collect().map(_.getString(0)).sorted
    assert(names.contains("Direct Syscall of NtOpenProcess"))
    assert(names.contains("Credentials Dumping Tools Accessing LSASS Memory"))
    assert(names.length >= 2)
    assert(alerts.count() == names.length) // bag semantics, one alert per rule
  }

  test("balancedUnion ≡ left-fold unionAll at every branch count (r19)") {
    // the balanced pair tree exists for O(N log N) analyzer work (the
    // left-deep fold re-analyzed a growing prefix per unionAll); the
    // optimizer flattens both to one N-child Union, so rows AND bag
    // multiplicity must be identical — checked across odd/even/1-branch
    // shapes, including the power-of-two boundary
    import org.apache.spark.sql.functions.lit
    for (n <- Seq(1, 2, 3, 5, 8, 25)) {
      val branches = (0 until n).map(i => spark.range(3).toDF("v")
        .withColumn("branch", lit(i)))
      val bal = AlertPipeline.balancedUnion(branches)
      val fold = branches.reduce(_ unionAll _)
      assert(bal.schema == fold.schema, s"n=$n schema")
      val a = bal.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val b = fold.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      assert(a == b, s"n=$n bag contents")
    }
  }

  test("C6 SQL-text render path produces identical alerts to the Column path") {
    val events = Seq(
      ev("TargetImage" -> """C:\Windows\System32\lsass.exe""",
        "GrantedAccess" -> "0x1FFFFF",
        "CallTrace" -> ("""C:\\Windows\\SYSTEM32\\ntdll.dll+1|C:\\Windows\\System32\\KERNELBASE.dll+2""" +
          """|_ctypes.pyd+3|python27.dll+4""")),
      ev("uuid" -> "u9", "TargetImage" -> """C:\x\other.exe"""))
    val df = AlertPipeline.sysmonFrame(spark, events)
    df.createOrReplaceTempView("sysmon_fixture")
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.select(to_json(struct(col("computer_name"), col("host"), col("event"),
        col("threat"), col("rule")))).collect().map(_.getString(0)).sorted.toSeq
    for (rule <- Seq(ReferenceCorpus.lazagne, ReferenceCorpus.silenttrinityMsbuild,
        ReferenceCorpus.directSyscall)) {
      val viaSql = canon(spark.sql(
        graft.compile.RuleCompiler.renderSql(rule, "sysmon_fixture")))
      val viaColumn = canon(AlertPipeline.ruleAlerts(df, rule))
      assert(viaSql == viaColumn, s"${rule.name}:\n$viaSql\nvs\n$viaColumn")
    }
  }

  test("a 2-ref temporal rule honours `ordered`: B then A pairs only unordered, A then B under both") {
    import graft.streaming.SequenceRules
    // the compiled `temporal` artifact: A = cmdkey recon (event_id 1),
    // B = lsass access (event_id 10), key computer_name, gap 12h
    val unordered = graft.ops.Detection.compiledTemporalRule
    assert(!unordered.ordered && unordered.rules.size == 2)
    val ordered = unordered.copy(ordered = true)
    val t0 = 1700000000000000L
    val t1 = t0 + 3600000000L // one hour later, inside the gap
    def recon(ts: Long) = ev("uuid" -> "uA", "event_id" -> 1L,
      "CommandLine" -> "cmdkey /list", "ts_us" -> ts)
    def access(ts: Long) = ev("uuid" -> "uB",
      "TargetImage" -> """C:\Windows\System32\lsass.exe""", "ts_us" -> ts)
    // (origin_ids, start_us, end_us) of every alert, one key (pc1)
    def run(rule: SequenceRules.SequenceRule, rows: Map[String, Any]*)
        : Seq[(Seq[String], Long, Long)] =
      SequenceRules.alertsFor(AlertPipeline.sysmonFrame(spark, rows), rule)
        .select(col("event.origin_ids"), unix_micros(col("event.start")),
          unix_micros(col("event.end")))
        .collect().toSeq
        .map(r => (r.getSeq[String](0).toSeq, r.getLong(1), r.getLong(2)))
    // B then A: the any-order correlator pairs them, the ordered chain
    // must not (A has to come first)
    assert(run(unordered, access(t0), recon(t1)) == Seq((Seq("uA", "uB"), t0, t1)))
    assert(run(ordered, access(t0), recon(t1)).isEmpty)
    // A then B: one alert under both, origin_ids in RULE order, start/end
    // at the pair's bounds
    for (rule <- Seq(unordered, ordered))
      assert(run(rule, recon(t0), access(t1)) == Seq((Seq("uA", "uB"), t0, t1)),
        s"ordered=${rule.ordered}")
  }

  test("C6 extended: timeframe SQL render ≡ windowed Column path (plain, by-key, distinct) (r16)") {
    // the SQL-gateway deployment path for COMPILED correlation rules:
    // renderTimeframeSql's windowed GROUP BY SELECT must produce the
    // same alert rows as TimeframeRules.alerts for every pipe form
    import graft.ops.Detection
    val lsass = """C:\Windows\System32\lsass.exe"""
    def at(h: Long) = 1700000000000000L / 86400000000L * 86400000000L + h * 3600000000L
    val events = Seq(
      ev("uuid" -> "u1", "TargetImage" -> lsass, "SourceImage" -> "A", "ts_us" -> at(1)),
      ev("uuid" -> "u2", "TargetImage" -> lsass, "SourceImage" -> "A", "ts_us" -> at(2)),
      ev("uuid" -> "u3", "TargetImage" -> lsass, "SourceImage" -> "B", "ts_us" -> at(3)),
      ev("uuid" -> "u4", "computer_name" -> "pc2", "TargetImage" -> lsass,
        "SourceImage" -> "A", "ts_us" -> at(4)),
      ev("uuid" -> "u5", "computer_name" -> "pc3", "host" -> "h2",
        "TargetImage" -> lsass, "SourceImage" -> "C", "ts_us" -> at(30)), // next day
      ev("uuid" -> "u6", "TargetImage" -> """C:\x\notepad.exe""", "ts_us" -> at(5)))
    val df = AlertPipeline.sysmonFrame(spark, events)
    df.createOrReplaceTempView("tf_sql_fixture")
    graft.functions.GraftFunctions.register(spark)
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.select(to_json(struct(col("computer_name"), col("host"), col("event"),
        col("threat"), col("rule")))).collect().map(_.getString(0)).sorted.toSeq
    val rules = Seq(
      Detection.compiledTfYaml,       // count() > 1, key computer_name
      Detection.compiledTfGroupByYaml, // count() by host > 1
      Detection.compiledTfDistinctYaml) // count(SourceImage) >= 2
      .map(y => graft.compile.RuleCompiler.compileTimeframe(y).get) :+
      // r17: the composite multi-field group-by key renders verbatim into
      // the GROUP BY (colExpr passes expressions through) — u1/u2 share
      // (host, SourceImage) within the day, so the rule fires
      Detection.compiledMultikeyRule
    for (rule <- rules) {
      val viaSql = canon(spark.sql(
        graft.compile.RuleCompiler.renderTimeframeSql(rule, "tf_sql_fixture")))
      val viaColumn = canon(graft.streaming.TimeframeRules.alerts(df, rule,
        f => col("event_data").getField(f)))
      assert(viaSql.nonEmpty, s"${rule.base.name}: fixture must fire")
      assert(viaSql == viaColumn, s"${rule.base.name}:\n$viaSql\nvs\n$viaColumn")
    }
  }

  test("merged dispatch emits exactly the same alerts as the union fan-out") {
    val events = Seq(
      ev( // fires directSyscall + credDumpTools
        "TargetImage" -> """C:\Windows\System32\lsass.exe""",
        "GrantedAccess" -> "0x1410",
        "SourceImage" -> """C:\evil\dump.exe""",
        "CallTrace" -> "UNKNOWN(1)|UNKNOWN(2)"),
      ev("uuid" -> "u2", // fires nothing
        "TargetImage" -> """C:\x\calc.exe""", "CallTrace" -> "C:\\x.dll+1"),
      ev("uuid" -> "u3", // fires mimikatzWinrm
        "TargetImage" -> """C:\Windows\System32\lsass.exe""",
        "SourceImage" -> """C:\Windows\system32\wsmprovhost.exe"""))
    val df = AlertPipeline.sysmonFrame(spark, events)
    def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.select(to_json(struct(col("computer_name"), col("host"), col("event"),
        col("threat"), col("rule")))).collect().map(_.getString(0)).sorted.toSeq
    val union = canon(AlertPipeline.alerts(df, ReferenceCorpus.active))
    val merged = canon(AlertPipeline.alertsMerged(df, ReferenceCorpus.active))
    assert(union.nonEmpty && union == merged)
  }

  test("merged dispatch writes the union fan-out's 5-column sink schema") {
    // start() deploys alertsMerged; an existing files/parquet sink path or
    // Kafka consumer must keep seeing the row alerts() used to write
    import org.apache.spark.sql.types.DataType
    val df = AlertPipeline.sysmonFrame(spark, Seq(ev()))
    val union = AlertPipeline.alerts(df, ReferenceCorpus.active).schema
    val merged = AlertPipeline.alertsMerged(df, ReferenceCorpus.active).schema
    assert(merged.fieldNames.toSeq == Seq("computer_name", "host", "event", "threat", "rule"))
    assert(merged.fieldNames.toSeq == union.fieldNames.toSeq)
    for ((m, u) <- merged.fields.zip(union.fields))
      assert(DataType.equalsIgnoreNullability(m.dataType, u.dataType),
        s"${m.name}: ${m.dataType.simpleString} vs ${u.dataType.simpleString}")
  }

  test("an empty rule list fails at construction, not inside Spark") {
    val df = AlertPipeline.sysmonFrame(spark, Seq(ev()))
    val union = intercept[IllegalArgumentException](AlertPipeline.alerts(df, Nil))
    assert(union.getMessage.contains("alerts needs at least one rule"))
    val merged = intercept[IllegalArgumentException](AlertPipeline.alertsMerged(df, Nil))
    assert(merged.getMessage.contains("alertsMerged needs at least one rule"))
    val started = intercept[IllegalArgumentException](AlertPipeline.start(spark, Nil,
      Map("source.type" -> "files", "source.path" -> "unused",
        "sink.type" -> "files", "sink.path" -> "unused")))
    assert(started.getMessage.contains("start needs at least one rule"))
  }

  test("merged dispatch scales to a 500-rule fan-out (SURVEY §4 plan size)") {
    import graft.compile.dsl._
    // 500 synthetic rules: distinct TargetImage suffixes; rule i matches
    // events whose TargetImage ends with \proc<i>.exe
    val rules = (0 until 500).map { i =>
      ReferenceCorpus.lazagne.copy(
        name = s"synthetic-$i",
        where = eventId(10) and "TargetImage".like(s"""%\\proc$i.exe"""))
    }
    val events = Seq(
      ev("uuid" -> "m7", "TargetImage" -> """C:\Windows\proc7.exe"""),
      ev("uuid" -> "m8", "TargetImage" -> """C:\Windows\proc441.exe"""),
      ev("uuid" -> "m9", "TargetImage" -> """C:\Windows\nomatch.exe"""))
    val df = AlertPipeline.sysmonFrame(spark, events)
    val t0 = System.nanoTime()
    val out = AlertPipeline.alertsMerged(df, rules)
      .select(col("rule.name"), col("event.origin_ids")(0).as("uuid"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out == Set(("synthetic-7", "m7"), ("synthetic-441", "m8")))
    assert(secs < 60, s"500-rule dispatch took ${secs}s") // plan stays O(1)
  }

  test("parseJson drops malformed records, keeps timestamp metadata (S2/S3)") {
    import spark.implicits._
    val raw = Seq(
      ("""{"computer_name":"pc1","event_id":10,"host":"h","uuid":"u1",""" +
        """"event_data":{"TargetImage":"C:\\x\\lsass.exe"}}""", "2024-01-01T00:00:00Z"),
      ("""not json at all""", "2024-01-01T00:00:01Z"),
      ("""{"truncated": """, "2024-01-01T00:00:02Z"))
      .toDF("value", "timestamp")
      .withColumn("timestamp", col("timestamp").cast("timestamp"))
    val parsed = AlertPipeline.parseJson(raw)
    val rows = parsed.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[String]("uuid") == "u1")
    assert(rows(0).getAs[Row]("event_data")
      .getAs[String]("TargetImage") == """C:\x\lsass.exe""")
    assert(rows(0).getAs[java.sql.Timestamp]("timestamp") != null)
  }

  test("missing JSON fields read as NULL (reference null semantics)") {
    import spark.implicits._
    val raw = Seq(("""{"computer_name":"pc1","event_id":10,"uuid":"u2"}""", "2024-01-01T00:00:00Z"))
      .toDF("value", "timestamp")
      .withColumn("timestamp", col("timestamp").cast("timestamp"))
    val rows = AlertPipeline.parseJson(raw).collect()
    assert(rows.length == 1 && rows(0).getAs[String]("host") == null)
    assert(rows(0).getAs[Row]("event_data") == null ||
      rows(0).getAs[Row]("event_data").getAs[String]("CallTrace") == null)
  }

  test("Templating resolves ${vars} and rejects unknowns") {
    assert(Templating.resolve("t=${a}/${b}", Map("a" -> "x", "b" -> "y")) == "t=x/y")
    intercept[IllegalArgumentException] {
      Templating.resolve("${nope_missing_var}", Map.empty)
    }
  }
}
