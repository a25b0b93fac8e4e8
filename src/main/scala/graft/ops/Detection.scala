package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.Pred
import graft.engine.{AlertPipeline, Tables}
import graft.rules.{ReferenceCorpus, RuleDef}

/** Oracle-checked coverage for the detection-rule workload — the core
  * capability of the reference (the SQL files under /root/reference/rules/sigma/).
  *
  * The driver's test tables have no sysmon data, so we derive a
  * deterministic sysmon-shaped table from `events`: every rule-relevant
  * field is drawn from a fixed literal pool indexed by `(event_id + off) %
  * size`. Pool sizes are pairwise coprime (4,5,7,9,11,13,17,19,23,25,3…),
  * so by CRT every combination of field values that a rule needs co-occurs
  * on some rows — each rule both fires and near-misses. The SAME derivation
  * is rendered as DuckDB SQL (from the same literal pools — they cannot
  * drift) and each rule's WHERE renders through [[Pred.toDuckDb]], giving
  * every corpus rule a full hash-checked oracle.
  *
  * Scale: the synth projection and all rule predicates are stateless
  * narrow transforms — one codegen'd stage over the scan, no shuffle, no
  * driver collection; the rule fan-out costs CPU-per-row only (SURVEY §4).
  */
object Detection {

  final case class Pool(field: String, off: Int, values: Seq[String]) {
    def size: Int = values.size
    /** Spark side: element_at over a literal array, 1-based. The array is
      * a typedlit — ONE pre-folded Literal node, not |values| Literal
      * children under an array() the optimizer must constant-fold on
      * every plan build (the AlertPipeline.metaLiteral lesson; matters
      * because the fan-out queries inline one copy per union branch). */
    def column: Column =
      element_at(typedlit(values),
        ((col("event_id") + off) % size + 1).cast("int"))
    /** DuckDB side: list_extract over the same literals, 1-based. */
    def duckExpr: String =
      s"list_extract([${values.map(Pred.sq).mkString(", ")}], " +
        s"CAST((event_id + $off) % $size AS BIGINT) + 1) AS \"$field\""
  }

  // Pairwise-coprime pool sizes; values chosen so every corpus rule has
  // matching rows AND near-miss rows (e.g. the uppercase 0x1F3FFF is NOT in
  // credDumpToolsLsass's lowercase IN-list). Backslash counts are
  // deliberate: doubled-backslash entries match the corpus's
  // doubled-backslash LIKE patterns (lazagne) and the quadrupled-backslash
  // SIMILAR TO regexes (cobaltStrikeBof), single-backslash entries match the
  // single-backslash patterns (pypykatz) — the corpus's own inconsistency.
  val pools: Seq[Pool] = Seq(
    Pool("TargetImage", 1, Seq(
      """C:\Windows\System32\lsass.exe""",
      """C:\WINDOWS\System32\svchost.exe""",
      """C:\Windows\System32\verclsid.exe""",
      """C:\Windows\System32\winlogon.exe""",
      """C:\Program Files\app\app.exe""")),
    Pool("GrantedAccess", 3, Seq(
      "0x1FFFFF", "0x1fffff", "0x143a", "0x1F3FFF", "0x1410", "0x40", "0x1028")),
    Pool("SourceImage", 2, Seq(
      """C:\Program Files\Microsoft Office\root\Office16\WINWORD.EXE""",
      """C:\Program Files\Microsoft Office\winword.exe""",
      """C:\Windows\System32\rundll32.exe""",
      """C:\Windows\system32\wsmprovhost.exe""",
      """C:\Windows\SysWOW64\explorer.exe""",
      """C:\Python27\python.exe""",
      """C:\Windows\System32\taskmgr.exe""",
      """C:\Windows\System32\services.exe""",
      """C:\Users\admin\tool.exe""")),
    Pool("Image", 4, Seq(
      """C:\Windows\System32\svchost.exe""",
      """C:\Windows\System32\xwizard.exe""",
      """C:\Temp\xwizard.exe""",
      """C:\Windows\System32\cmdkey.exe""",
      """C:\Windows\System32\wbem\wmic.exe""",
      "hxtsr.exe",
      """C:\Program Files\WinRAR\rar.exe""",
      """C:\Windows\System32\cmd.exe""",
      """C:\Windows\explorer.exe""",
      """C:\Windows\System32\svchost.exe""",
      """C:\Windows\System32\notepad.exe""")),
    Pool("CallTrace", 0, Seq(
      """C:\WINDOWS\SYSTEM32\ntdll.dll+4f42|C:\WINDOWS\System32\KERNELBASE.dll+1f2e|UNKNOWN(00000000)""",
      """C:\\Windows\\SYSTEM32\\ntdll.dll+a1|C:\\Windows\\System32\\KERNELBASE.dll+b2|_ctypes.pyd+c3|python27.dll+d4""",
      """UNKNOWN(0000000000000000)|UNKNOWN(0000000000000000)|C:\Windows\SYSTEM32\wow64log.dll""",
      """C:\Windows\SYSTEM32\ntdll.dll+9d2|C:\Windows\System32\KERNELBASE.dll+3c44|libffi-7.dll+82|_ctypes.pyd+112|python3*.dll+1a2""",
      "dbghelp.dll",
      """C:\Windows\System32\comsvcs.dll+5f1|UNKNOWN(000000)""",
      """C:\Windows\Microsoft.NET\Framework64\v2.0.50727\clr.dll+1234|UNKNOWN(0A0A)""",
      """C:\Windows\System32\cmlua.dll+99""",
      """C:\Windows\System32\editionupgrademanagerobj.dll+11""",
      // exact shape cobaltStrikeBof's anchored regex demands: doubled path
      // separators but `\.dll` (regex `\\.` = backslash + any char) at the
      // module names — the corpus regex's own quirk
      """C:\\Windows\\SYSTEM32\\ntdll\.dll+c1f2|C:\\Windows\\System32\\KERNELBASE\.dll+9e88|UNKNOWN(AB12CD34EF567890)""",
      "UNKNOWN(00F1)|UNKNOWN(00F2)",
      """C:\Program Files\Microsoft Office\VBE7.DLL+88|UNKNOWN(123)""",
      "dbgcore.dll")),
    Pool("CommandLine", 5, Seq(
      """C:\Windows\System32\svchost.exe""",
      """C:\Windows\System32\svchost.exe -k netsvcs""",
      "{abcdef12-3456-7890-abcd-ef1234567890}",
      "powershell -c CL_Invocation.ps1 SyncInvoke foo",
      "powershell -c CL_Mutexverifiers.ps1 runAfterCancelProcess x",
      "cmdkey /list",
      """wmic os get /format:"http://evil/x.xsl"""",
      "cmd /c assoc .txt=evil",
      "rar a archive.rar docs",
      "shutdown /r /f /t 00",
      "net stop SuperBackupMan",
      """C:\Windows\explorer.exe""",
      """notepad.exe C:\doc.txt""",
      "cmd /c dir",
      "powershell -NoProfile",
      "wmic process list",
      "xwizard.exe {abcdef12-3456-7890-abcd-ef1234567890}")),
    Pool("ParentCommandLine", 6, Seq(
      "DllHost.exe /Processid:{3E5FC7F9-9A51-4367-9063-A120244FBEC7}",
      "DllHost.exe /Processid:{AAAAAAAA-BBBB-CCCC-DDDD-EEEEEEEEEEEE}",
      "explorer.exe",
      "services.exe",
      "DllHost.exe /Processid:{BD54C901-076B-434E-B6C7-17C531F4AB41} go",
      "cmd.exe /c start",
      "DllHost.exe /Processid:{E9495B87-D950-4AB5-87A5-FF6D70BF3E90}",
      "winlogon.exe", "userinit.exe",
      """C:\Windows\System32\spoolsv.exe""",
      "svchost.exe -k", "msiexec /i x.msi", "explorer.exe", "services.exe",
      "cmd.exe", "powershell.exe", "taskeng.exe", "wininit.exe", "smss.exe")),
    Pool("ParentImage", 7, Seq(
      """C:\Windows\System32\services.exe""",
      """C:\Windows\System32\DllHost.exe""",
      """C:\Windows\System32\msbuild.exe""",
      """C:\Users\bob\cmd.exe""",
      "null",
      """C:\Windows\System32\winword.exe""",
      """C:\Windows\System32\wininit.exe""",
      """C:\Windows\System32\MsMpEng.exe""",
      """C:\Windows\System32\rpcnet.exe""",
      """C:\Windows\explorer.exe""",
      """C:\Windows\System32\svchost.exe""",
      """C:\Windows\System32\spoolsv.exe""",
      """C:\Windows\System32\taskeng.exe""",
      """C:\Windows\System32\DllHost.exe""",
      """C:\Windows\System32\msbuild.exe""",
      """C:\Windows\explorer.exe""",
      """C:\Windows\System32\services.exe""",
      """C:\Temp\DllHost.exe""",
      """C:\Windows\System32\smss.exe""",
      """C:\Windows\System32\lsm.exe""",
      """C:\Windows\System32\csrss.exe""",
      """C:\Windows\System32\conhost.exe""",
      """C:\Windows\System32\sihost.exe""")),
    Pool("IntegrityLevel", 8,
      Seq.fill(5)(Seq("High", "System", "Medium", "Low", "Medium")).flatten),
    Pool("Initiated", 1, Seq("true", "false", "true")),
    Pool("DestinationPort", 2, Seq("80", "443", "8080", "53", "443")),
    Pool("Imphash", 0, Seq(
      "1B1A3F43BF37B5BFE60751F2EE2F326E",
      "37777A96245A3C74EB217308F3546F4C",
      "00000000000000000000000000000000")),
    Pool("CurrentDirectory", 1, Seq(
      """C:\\Program Files\\WindowsApps\\microsoft.windowscommunicationsapps_17.7466.41167.0_x64__8wekyb3d8bbwe\\hxtsr.exe""",
      """C:\Users\victim\Downloads""",
      """C:\Windows\Temp""")))

  /** Sysmon event_id stream: 10 (process_access) / 1 (creation) / 3 (network). */
  private val eventIdPool = Seq(10L, 1L, 3L, 10L)

  /** Spark-side synthesized flat sysmon table. Columns: eid, computer_name,
    * host, uuid, ts, event_id, + one column per pooled field. */
  def synth(spark: SparkSession, dir: String): DataFrame =
    synthFrom(Tables(spark, dir, "events"))

  /** Same derivation over any frame with (event_id BIGINT, ts TIMESTAMP) —
    * also used by StreamBench to generate load at arbitrary row counts. */
  def synthFrom(ev: DataFrame): DataFrame = {
    val base = Seq(
      col("event_id").as("eid"),
      concat(lit("host-"), (col("event_id") % 50).cast("string")).as("computer_name"),
      concat(lit("h"), (col("event_id") % 20).cast("string")).as("host"),
      concat(lit("uuid-"), col("event_id").cast("string")).as("uuid"),
      col("ts"),
      element_at(array(eventIdPool.map(lit): _*),
        (col("event_id") % 4 + 1).cast("int")).as("sysmon_event_id"))
    ev.select(base ++ pools.map(p => p.column.as(p.field)): _*)
      .withColumnRenamed("sysmon_event_id", "event_id")
  }

  /** The identical derivation as DuckDB SQL (generated from the same pools). */
  def synthSql: String = {
    val base = Seq(
      "event_id AS eid",
      "'host-' || CAST(event_id % 50 AS VARCHAR) AS computer_name",
      "'h' || CAST(event_id % 20 AS VARCHAR) AS host",
      "'uuid-' || CAST(event_id AS VARCHAR) AS uuid",
      "ts",
      s"list_extract([${eventIdPool.mkString(", ")}], CAST(event_id % 4 AS BIGINT) + 1) AS event_id")
    s"SELECT ${(base ++ pools.map(_.duckExpr)).mkString(", ")} FROM events"
  }

  private def duckField(f: String): String = "\"" + f + "\""

  /** Short stable key per rule for query naming. */
  def key(r: RuleDef): String =
    "sig_" + r.name.toLowerCase.replaceAll("[^a-z0-9]+", "_").replaceAll("_+$", "")
      .split('_').take(4).mkString("_")

  /** Nested sysmon frame (real event_data struct) for the pipeline query. */
  def nested(spark: SparkSession, dir: String): DataFrame =
    nestedFrom(synth(spark, dir))

  def nestedFrom(flat: DataFrame): DataFrame = {
    val fields = graft.schema.Schemas.eventDataFields.map { f =>
      (if (pools.exists(_.field == f)) col(f) else lit(null).cast("string")).as(f)
    }
    flat.select(col("computer_name"), col("event_id"), col("host"),
      struct(fields: _*).as("event_data"), col("uuid"),
      col("ts").as("timestamp"), col("eid"))
  }

  /** Per-rule queries: matched eids, oracle-checked. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val perRule = ReferenceCorpus.allRules.map { r =>
      key(r) -> ((s: SparkSession, dir: String) =>
        synth(s, dir).filter(r.where.toColumn(col)).select(col("eid")).orderBy("eid"))
    }.toMap

    perRule ++ Map(
      // Full pipeline fan-out: N×(filter→project) → UNION ALL over the
      // nested schema, then alert counts per rule (only firing rules).
      "sig_fanout_counts" -> ((s: SparkSession, dir: String) => {
        // The reference's statement set scans the source ONCE and fans out;
        // a Spark UNION ALL re-executes the source per branch (25× the
        // scan + synth projection here). Materializing the shared input
        // restores the statement-set cost model while keeping the
        // N-branch plan shape. (alertsMerged is the 1000-rule scale path.)
        // (r18 A/B, rejected: checkpointing only the narrow (event_id, ts)
        // source and deriving the pool fields per branch cut the
        // materialization job 0.22→0.10 s but grew the per-invocation
        // DRIVER planning ~0.7 s — each of the 25 branches then carries
        // the full synth projection for the optimizer to push its filter
        // through. The wide checkpoint keeps the branch plans flat.)
        val src = nested(s, dir).localCheckpoint()
        val alerts = AlertPipeline.alerts(src, ReferenceCorpus.active)
        alerts.groupBy(col("rule.name").as("rule_name"))
          .agg(count(lit(1)).as("n"))
          .orderBy("rule_name")
      }),
      // Same fan-out through the merged single-pass dispatch (the
      // 1000-rule scale path) — must produce identical counts, so it
      // shares sig_fanout_counts' oracle.
      "sig_fanout_merged" -> ((s: SparkSession, dir: String) => {
        val alerts = AlertPipeline.alertsMerged(nested(s, dir), ReferenceCorpus.active)
        alerts.groupBy(col("rule.name").as("rule_name"))
          .agg(count(lit(1)).as("n"))
          .orderBy("rule_name")
      }),
      // Sigma timeframe extension (SURVEY §2.4): tumbling 5-minute
      // windowed count >= 3 per computer over the directSyscall predicate,
      // alert carries count + all origin uuids + window bounds.
      "tf_windowed_count" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.TimeframeRules
        val rule = TimeframeRules.TimeframeRule(
          ReferenceCorpus.directSyscall, "24 hours", 2L, "computer_name")
        TimeframeRules.alerts(nested(s, dir), rule)
          .select(
            col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"))
          .orderBy("start_us", "computer_name")
      }),
      // Timeframe BATTERY (round 13): N windowed-count rules in ONE
      // stateful aggregation via rule_dispatch — groupBy((rid, window,
      // key)), per-rid thresholds/names from plan literals. Distinct
      // thresholds exercise the per-rid filter; the oracle replays each
      // rule's windowed count independently and unions.
      "tf_battery_counts" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.TimeframeRules
        TimeframeRules.alertsBattery(nested(s, dir), tfBattery)
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"))
          .orderBy("rule_name", "start_us", "computer_name")
      }),
      // Multi-GROUP battery (round 14): rules with DIFFERENT window
      // lengths AND key columns in one battery — one aggregation per
      // (windowLength, keyCol) group, unioned. Pins the union path the
      // r13 oracle never exercised (both its per-group window arithmetic
      // and the key-vs-min(host) name collision this round fixed).
      "tf_battery_multigroup" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.TimeframeRules
        TimeframeRules.alertsBattery(nested(s, dir), tfBatteryMulti)
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"))
          .orderBy("rule_name", "start_us", "computer_name")
      }),
      // COMBINED job (round 14): stateless dispatch + timeframe battery
      // from one source in one plan — per-event alerts (count=1,
      // origin_ids=[uuid]) unioned with windowed-count alerts, the full
      // SIEM deployment shape AlertPipeline.alertsCombined runs streaming.
      "sig_tf_combined" -> ((s: SparkSession, dir: String) => {
        AlertPipeline.alertsCombined(nested(s, dir), ReferenceCorpus.active, tfBattery)
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"))
          .orderBy("rule_name", "start_us", "computer_name", "origins")
      }),
      // Sequence correlation (beyond-reference stateful operator, the
      // class main.py:194-195 rejects): cmdkey credential recon (creation)
      // followed within 72h by an lsass handle access on the same host —
      // a 2-ref ORDERED SequenceRule through SequenceRules.alertsFor
      // (correlateChain at n=2: each access pairs with the latest recon at
      // or before it), the same code path that runs incrementally in
      // streaming (StreamingSpec proves cross-micro-batch state); here
      // batch mode gives the DuckDB window oracle a full hash check of the
      // ordered pair semantics. The eids come back out of origin_ids
      // (synth uuids are `uuid-<eid>`), the gap out of the span.
      "sig_sequence_corr" -> ((s: SparkSession, dir: String) => {
        import graft.compile.{And, Eq, Like, Or, TopEq}
        import graft.streaming.SequenceRules
        def ref(name: String, where: Pred) =
          RuleDef(name, "graft", 0, "", Nil, Nil, Nil, Nil, None, where)
        val recon = ref("Cmdkey Recon",
          And(TopEq("event_id", 1), Eq("CommandLine", "cmdkey /list")))
        val access = ref("Lsass Access",
          And(TopEq("event_id", 10), Like("TargetImage", "%lsass.exe")))
        val rule = SequenceRules.SequenceRule(
          ref("Recon Then Lsass Access", Or(recon.where, access.where)),
          Seq(recon, access), 72L * 3600 * 1000000, "computer_name", ordered = true)
        def eid(step: Int): Column = regexp_extract(
          element_at(col("event.origin_ids"), step), "^uuid-(\\d+)$", 1).cast("long")
        SequenceRules.alertsFor(nested(s, dir), rule)
          .select(col("computer_name"), eid(2).as("access_eid"),
            eid(1).as("creation_eid"),
            (unix_micros(col("event.end")) - unix_micros(col("event.start"))).as("gap_us"))
          .orderBy("access_eid")
      }),
      // Mutant control for the dead winrmShells rule (r12 verdict #5):
      // sig_suspicious_shells_spawn_by passes with 0 rows on BOTH engines
      // by corpus-quirk design (untranslated Sigma `*` wildcards in = / IN
      // can never match), so that oracle alone cannot distinguish
      // "faithful transcription" from "broken predicate". This control
      // runs the MECHANICALLY-FIXED predicate (`*` → LIKE `%`) over the
      // synth table plus planted rows: the fixed rule MUST match exactly
      // the planted positives (full hash oracle), and DetectionSpec pins
      // that the ORIGINAL predicate still matches none of them — together
      // they make the 0-row fidelity query falsifiable.
      "sig_winrm_mutant" -> ((s: SparkSession, dir: String) => {
        import s.implicits._
        val planted = winrmPlanted.toDF("eid", "ParentImage", "Image")
        synth(s, dir).select(col("eid"), col("ParentImage"), col("Image"))
          .unionAll(planted)
          .filter(fixSigmaWildcards(ReferenceCorpus.winrmShells.where).toColumn(col))
          .select(col("eid")).orderBy("eid")
      }),
      // Sigma YAML → timeframe compile loop (round 15, r14 verdict #1):
      // the EXTENDED compiler mode turns a `timeframe` + `condition:
      // selection | count() > N` Sigma document (the grammar the
      // reference's transpiler comments out, main.py:98-103, and its
      // parse() rejects, main.py:194-195) into a runnable TimeframeRule,
      // executed here through the same battery plan as hand-built rules.
      // The oracle replays the COMPILED artifact (predicate, threshold,
      // window, threat tags all come from the compile), so a compiler
      // regression in any of them hash-fails.
      "tf_compiled_rule" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.TimeframeRules
        val rule = graft.compile.RuleCompiler.compileTimeframe(compiledTfYaml)
          .getOrElse(sys.error("extended compile of the timeframe YAML failed"))
        TimeframeRules.alertsBattery(nested(s, dir), Seq(rule))
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"),
            to_json(col("threat")).as("threat"),
            col("rule.severity").as("severity"))
          .orderBy("start_us", "computer_name")
      }),
      // Multi-rule COMPILED battery: two YAML-compiled timeframe rules
      // (bare selection; list-valued selection via `1 of sel_*` left of
      // the pipe) sharing ONE stateful aggregation — the compile loop at
      // battery scale, distinct thresholds exercising the per-rid lookup.
      "tf_compiled_battery" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.TimeframeRules
        TimeframeRules.alertsBattery(nested(s, dir), compiledTfBattery)
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"),
            to_json(col("threat")).as("threat"),
            col("rule.severity").as("severity"))
          .orderBy("rule_name", "start_us", "computer_name")
      }),
      // Sigma `by`-clause group key (round 16, r15 verdict #2): a
      // YAML-compiled rule whose pipe names the group key — `count() by
      // host > N` — runs through alertsBattery keyed on the NON-default
      // column. The oracle groups by host on the DuckDB side, so a
      // compiler that drops or mis-resolves the by-clause hash-fails.
      "tf_compiled_groupby" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.TimeframeRules
        val rule = graft.compile.RuleCompiler.compileTimeframe(compiledTfGroupByYaml)
          .getOrElse(sys.error("extended compile of the by-clause YAML failed"))
        TimeframeRules.alertsBattery(nested(s, dir), Seq(rule))
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"),
            to_json(col("threat")).as("threat"),
            col("rule.severity").as("severity"))
          .orderBy("start_us", "computer_name")
      }),
      // Sigma `count(field)` DISTINCT pipe (round 16, r15 verdict #7): a
      // YAML-compiled rule thresholding on the number of distinct values
      // of a field per key per window — the bounded min_k_distinct
      // aggregate. The DuckDB side mirrors the cap exactly
      // (least(count(DISTINCT f), cap)), so equality holds at ANY group
      // size, and the HAVING uses the uncapped distinct count (identical
      // decision because cap >= threshold).
      "tf_compiled_distinct" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.TimeframeRules
        val rule = graft.compile.RuleCompiler.compileTimeframe(compiledTfDistinctYaml)
          .getOrElse(sys.error("extended compile of the distinct-pipe YAML failed"))
        TimeframeRules.alertsBattery(nested(s, dir), Seq(rule))
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"),
            to_json(col("threat")).as("threat"),
            col("rule.severity").as("severity"))
          .orderBy("start_us", "computer_name")
      }),
      // Modern Sigma correlation FORMAT (round 16): a multi-document YAML
      // meta-rule (correlation: event_count over two referenced base
      // rules, group-by host) compiles through compileCorrelationFile and
      // runs through the same battery plan. The oracle replays the
      // compiled artifact — the OR of the two base predicates, the
      // by-host key, and the gte threshold all come from the compile.
      "tf_correlation_doc" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.TimeframeRules
        TimeframeRules.alertsBattery(nested(s, dir), Seq(compiledCorrelationRule))
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"),
            to_json(col("threat")).as("threat"),
            col("rule.severity").as("severity"))
          .orderBy("start_us", "computer_name")
      }),
      // MULTI-field group-by correlation (round 17, r16 verdict #2): the
      // meta-rule groups on [host, SourceImage]; the compile emits ONE
      // composite concat_ws('|', …) key and the battery windows on it —
      // the alert's computer_name carries the composite. The oracle
      // groups DuckDB-side by the same two columns and concatenates the
      // same way, so a compiler that drops a field, reorders them, or
      // mis-resolves either hash-fails.
      "tf_correlation_multikey" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.TimeframeRules
        TimeframeRules.alertsBattery(nested(s, dir), Seq(compiledMultikeyRule))
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"),
            to_json(col("threat")).as("threat"),
            col("rule.severity").as("severity"))
          .orderBy("start_us", "computer_name")
      }),
      // TEMPORAL correlation (round 17, r16 verdict #3): the modern Sigma
      // `temporal` type compiled into SequenceRules' any-order correlator
      // (correlateAnyOrder at n=2) — recon event and lsass access on the
      // same host within 12h, either order; each match is ONE alert with count=2 and both uuids as
      // provenance. The oracle replays the compiled artifact (both base
      // predicates, gap, key) as a carry-forward window, so the full
      // event-pairing semantics hash-check — the same oracle technique
      // as sig_sequence_corr, now over the COMPILED path and the full
      // alert row.
      "tf_correlation_temporal" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.SequenceRules
        SequenceRules.alertsFor(nested(s, dir), compiledTemporalRule)
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            unix_micros(col("event.end")).as("end_us"),
            to_json(col("event.origin_ids")).as("origins"),
            to_json(col("threat")).as("threat"),
            col("rule.severity").as("severity"))
          .orderBy("origins")
      }),
      // ORDERED 3-step chain (round 17): temporal_ordered with three refs
      // through SequenceRules.correlateChain — greedy latest-prefix
      // semantics, whole chain within the gap, alert carries count=3 and
      // all three uuids in rule order. The oracle replays the compiled
      // artifact as LAYERED carry-forward windows (one level per chain
      // step), so step assignment (first-match on overlapping
      // predicates), the order guard, and the head-anchored gap all
      // hash-check.
      "tf_correlation_chain" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.SequenceRules
        SequenceRules.alertsFor(nested(s, dir), compiledChainRule)
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            unix_micros(col("event.end")).as("end_us"),
            to_json(col("event.origin_ids")).as("origins"),
            to_json(col("threat")).as("threat"),
            col("rule.severity").as("severity"))
          .orderBy("origins")
      }),
      // ANY-ORDER 3-ref temporal (round 18, r17 verdict #3): the modern
      // Sigma `temporal` type with three refs — all three signals on one
      // host, any order, within the timespan — through
      // SequenceRules.correlateAnyOrder (one latest-slot per kind, emit
      // when all kinds land within the gap of the oldest participating
      // slot). The oracle replays the compiled artifact as per-kind
      // carry-forward windows over the same (ts, kind, uuid) order, so
      // slot semantics, the oldest-anchored gap, and kind assignment
      // (first-match on overlapping predicates) all hash-check.
      "tf_correlation_anyorder" -> ((s: SparkSession, dir: String) => {
        import graft.streaming.SequenceRules
        SequenceRules.alertsFor(nested(s, dir), compiledAnyOrderRule)
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            unix_micros(col("event.end")).as("end_us"),
            to_json(col("event.origin_ids")).as("origins"),
            to_json(col("threat")).as("threat"),
            col("rule.severity").as("severity"))
          .orderBy("origins")
      }),
      // FULL-SCHEMA combined job (round 15, r14 verdict #2): both rule
      // classes through alertsCombined, asserting the complete reference
      // alert row — event scalars, the threat struct, and all 8 rule-struct
      // fields — for stateless AND timeframe alerts (the r14 shape oracle
      // only checked the event struct; the reference sink pairs every
      // alert with threat + rule, windows-process-access.sql:50-64).
      "sig_tf_combined_shape" -> ((s: SparkSession, dir: String) => {
        AlertPipeline.alertsCombined(nested(s, dir), ReferenceCorpus.active, tfBattery)
          .select(
            col("rule_name"), col("computer_name"), col("host"),
            col("event.kind").as("kind"), col("event.module").as("module"),
            col("event.count").as("n"),
            unix_micros(col("event.start")).as("start_us"),
            to_json(col("event.origin_ids")).as("origins"),
            to_json(col("threat")).as("threat"),
            col("rule.author").as("author"),
            col("rule.category").as("category"),
            col("rule.severity").as("severity"),
            col("rule.description").as("description"),
            to_json(col("rule.reference")).as("reference"),
            col("rule.version").as("version"),
            col("rule.source").as("source"))
          .orderBy("rule_name", "start_us", "computer_name", "origins", "n")
      }),
      // Alert shaping: scalar extraction from the event/threat/rule structs
      // for one rule (LaZagne), proving struct construction semantics.
      "sig_alert_shape" -> ((s: SparkSession, dir: String) => {
        val src = nested(s, dir)
        AlertPipeline.ruleAlerts(src.withColumn("__eid", col("eid")), ReferenceCorpus.lazagne)
          .select(
            col("computer_name"), col("host"),
            col("event.kind").as("kind"), col("event.module").as("module"),
            element_at(col("event.origin_ids"), 1).as("origin_id"),
            col("event.count").as("cnt"),
            unix_micros(col("event.time")).as("time_us"),
            to_json(col("threat")).as("threat"),
            col("rule.name").as("rule_name"), col("rule.severity").as("severity"))
          .orderBy("origin_id")
      }))
  }

  /** The timeframe battery under oracle check: three corpus rules that
    * fire on the synth load, one shared 24h window and key, DISTINCT
    * thresholds so the per-rid threshold lookup is exercised. */
  private[graft] def tfBattery: Seq[graft.streaming.TimeframeRules.TimeframeRule] = {
    import graft.streaming.TimeframeRules.TimeframeRule
    Seq(
      TimeframeRule(ReferenceCorpus.directSyscall, "24 hours", 2L, "computer_name"),
      TimeframeRule(ReferenceCorpus.mimikatzWinrm, "24 hours", 1L, "computer_name"),
      TimeframeRule(ReferenceCorpus.cmdkeyRecon, "24 hours", 3L, "computer_name"))
  }

  /** Two-GROUP battery: distinct (windowLength, keyCol) per rule, so
    * alertsBattery builds one aggregation per group and unions — the path
    * a single-group battery never exercises. */
  private[graft] def tfBatteryMulti: Seq[graft.streaming.TimeframeRules.TimeframeRule] = {
    import graft.streaming.TimeframeRules.TimeframeRule
    Seq(
      TimeframeRule(ReferenceCorpus.directSyscall, "24 hours", 2L, "computer_name"),
      // threshold 1: the cmdkey group MUST contribute rows, or the oracle
      // exercises only one side of the union
      TimeframeRule(ReferenceCorpus.cmdkeyRecon, "12 hours", 1L, "host"))
  }

  /** The Sigma correlation document for the extended-compiler oracle
    * (tf_compiled_rule): the exact grammar the reference comments out at
    * main.py:98-103 — a selection, `timeframe`, and a `| count() > N`
    * aggregation pipe. Same shape as the spec fixture
    * src/test/resources/sigma/timeframe_rule.yml (RuleCompilerSpec pins
    * that one; this copy lives in main so graft.Verify can run without the
    * test classpath), with a 1d window / threshold sized to fire on the
    * synth corpus. */
  private[graft] val compiledTfYaml: String =
    """title: Lsass Access Burst
      |description: correlation rule the reference transpiler skips
      |author: graft
      |level: high
      |logsource:
      |    category: process_access
      |tags:
      |    - attack.credential_access
      |    - attack.t1003.001
      |detection:
      |    selection:
      |        TargetImage|endswith: '\lsass.exe'
      |    timeframe: 1d
      |    condition: selection | count() > 1
      |""".stripMargin

  /** Second compiled-rule document for the BATTERY oracle: a list-valued
    * selection reached through a `1 of sel_*` condition left of the pipe
    * — the compile path tf_compiled_rule's single bare selection never
    * exercises. Same window/key as [[compiledTfYaml]], so the two
    * compiled rules share ONE stateful aggregation in alertsBattery. */
  private[graft] val compiledTfYaml2: String =
    """title: Suspicious Access Mask Burst
      |description: second compiled correlation rule, list selection + 1-of condition
      |author: graft
      |level: medium
      |logsource:
      |    category: process_access
      |tags:
      |    - attack.credential_access
      |    - attack.t1003
      |detection:
      |    sel_mask:
      |        GrantedAccess:
      |            - '0x1FFFFF'
      |            - '0x1fffff'
      |    timeframe: 1d
      |    condition: 1 of sel_* | count() >= 3
      |""".stripMargin

  private[graft] def compiledTfBattery: Seq[graft.streaming.TimeframeRules.TimeframeRule] =
    Seq(compiledTfYaml, compiledTfYaml2).map(y =>
      graft.compile.RuleCompiler.compileTimeframe(y)
        .getOrElse(sys.error("extended compile of a timeframe YAML failed")))

  /** By-clause correlation document (tf_compiled_groupby): the pipe names
    * the group key — `count() by host > 1` — so the compiled rule keys its
    * windows on `host`, not the computer_name default (Sigma's
    * `count() by <field>` grammar, the second form of the family the
    * reference comments out at main.py:98-103). */
  private[graft] val compiledTfGroupByYaml: String =
    """title: Lsass Access Burst Per Host
      |description: by-clause correlation rule, grouped on host
      |author: graft
      |level: high
      |logsource:
      |    category: process_access
      |tags:
      |    - attack.credential_access
      |    - attack.t1003.001
      |detection:
      |    selection:
      |        TargetImage|endswith: '\lsass.exe'
      |    timeframe: 1d
      |    condition: selection | count() by host > 1
      |""".stripMargin

  /** Distinct-count correlation document (tf_compiled_distinct): the pipe
    * counts DISTINCT values of a field — `count(SourceImage) >= 2` — per
    * key per window (Sigma's `count(<field>)` value-count form; rejected
    * by the r15 compiler, compiled since r16 via the bounded
    * min_k_distinct aggregate). */
  private[graft] val compiledTfDistinctYaml: String =
    """title: Lsass Access Tool Diversity
      |description: distinct-count correlation rule over the accessing image
      |author: graft
      |level: medium
      |logsource:
      |    category: process_access
      |tags:
      |    - attack.credential_access
      |    - attack.t1003
      |detection:
      |    selection:
      |        TargetImage|endswith: '\lsass.exe'
      |    timeframe: 1d
      |    condition: selection | count(SourceImage) >= 2
      |""".stripMargin

  /** Modern multi-document correlation file (tf_correlation_doc): two
    * base rules + a `correlation:` meta-rule document — the public Sigma
    * correlations format, the successor of the legacy pipe grammar. The
    * compiled rule counts events matching EITHER base (OR of their
    * predicates) per host per day, threshold 4. */
  private[graft] val compiledCorrelationYaml: String =
    """title: Lsass Touch
      |name: lsass_touch
      |level: high
      |logsource:
      |    category: process_access
      |detection:
      |    selection:
      |        TargetImage|endswith: '\lsass.exe'
      |    condition: selection
      |---
      |title: Full Access Mask
      |name: full_access_mask
      |level: medium
      |logsource:
      |    category: process_access
      |detection:
      |    selection:
      |        GrantedAccess:
      |            - '0x1FFFFF'
      |            - '0x1fffff'
      |    condition: selection
      |---
      |title: Credential Access Pressure Per Host
      |description: correlation meta-rule over two base rules
      |author: graft
      |level: critical
      |tags:
      |    - attack.credential_access
      |    - attack.t1003
      |correlation:
      |    type: event_count
      |    rules:
      |        - lsass_touch
      |        - full_access_mask
      |    group-by:
      |        - host
      |    timespan: 1d
      |    condition:
      |        gte: 4
      |""".stripMargin

  private[graft] def compiledCorrelationRule: graft.streaming.TimeframeRules.TimeframeRule =
    graft.compile.RuleCompiler.compileCorrelationFile(compiledCorrelationYaml)
      .getOrElse(sys.error("correlation-file compile failed")).timeframe.head

  /** MULTI-field group-by correlation file (tf_correlation_multikey, r17):
    * the meta-rule groups on TWO fields — `[host, SourceImage]` — which
    * compiles to ONE composite `concat_ws('|', …)` battery key
    * (RuleCompiler.groupByKey), the alert's computer_name carrying the
    * composite deterministically. Routine real-Sigma shape (e.g. `[User,
    * Computer]`); rejected through r16. */
  private[graft] val compiledMultikeyYaml: String =
    """title: Lsass Touch
      |name: lsass_touch
      |level: high
      |logsource:
      |    category: process_access
      |detection:
      |    selection:
      |        TargetImage|endswith: '\lsass.exe'
      |    condition: selection
      |---
      |title: Lsass Pressure Per Host And Tool
      |description: correlation meta-rule grouped on two fields
      |author: graft
      |level: high
      |tags:
      |    - attack.credential_access
      |    - attack.t1003
      |correlation:
      |    type: event_count
      |    rules:
      |        - lsass_touch
      |    group-by:
      |        - host
      |        - SourceImage
      |    timespan: 1d
      |    condition:
      |        gte: 2
      |""".stripMargin

  private[graft] def compiledMultikeyRule: graft.streaming.TimeframeRules.TimeframeRule =
    graft.compile.RuleCompiler.compileCorrelationFile(compiledMultikeyYaml)
      .getOrElse(sys.error("multikey correlation compile failed")).timeframe.head

  /** TEMPORAL correlation file (tf_correlation_temporal, r17): the modern
    * Sigma `temporal` type — a cmdkey-recon event (process_creation) and
    * an lsass handle access (process_access) on the same host within 12h,
    * either order — compiled into SequenceRules' any-order correlator
    * (the wire the r16 verdict named: SequenceRules RAN this class while
    * the compile loop rejected the document type). */
  private[graft] val compiledTemporalYaml: String =
    """title: Cmdkey Recon
      |name: cmdkey_recon
      |level: medium
      |logsource:
      |    category: process_creation
      |detection:
      |    selection:
      |        CommandLine: 'cmdkey /list'
      |    condition: selection
      |---
      |title: Lsass Handle
      |name: lsass_handle
      |level: high
      |logsource:
      |    category: process_access
      |detection:
      |    selection:
      |        TargetImage|endswith: '\lsass.exe'
      |    condition: selection
      |---
      |title: Recon Near Credential Access
      |description: temporal correlation of recon and lsass access per host
      |author: graft
      |level: critical
      |tags:
      |    - attack.credential_access
      |    - attack.t1003
      |correlation:
      |    type: temporal
      |    rules:
      |        - cmdkey_recon
      |        - lsass_handle
      |    group-by:
      |        - computer_name
      |    timespan: 12h
      |""".stripMargin

  private[graft] def compiledTemporalRule: graft.streaming.SequenceRules.SequenceRule =
    graft.compile.RuleCompiler.compileCorrelationFile(compiledTemporalYaml)
      .getOrElse(sys.error("temporal correlation compile failed")).sequence.head

  /** ORDERED 3-step chain correlation file (tf_correlation_chain, r17):
    * the `temporal_ordered` type with three refs — full-mask access, then
    * a rundll32-sourced access, then a debug-helper call trace on the
    * same host, the whole chain within 7 days
    * (SequenceRules.correlateChain; the ≥3-ref carve-out the r16 verdict
    * named). Field choice matters in the synth corpus: the three pools
    * (GrantedAccess 7, SourceImage 9, CallTrace 13) are coprime with the
    * 50-host stride, so every host sees all three steps and chains
    * actually form (TargetImage's size-5 pool is host-CONSTANT — a chain
    * over it can never complete, Detection pool derivation). The
    * predicates still OVERLAP on some events (coprime pools co-occur),
    * exercising the documented first-match step assignment. */
  private[graft] val compiledChainYaml: String =
    """title: Full Mask
      |name: full_mask
      |level: low
      |logsource:
      |    category: process_access
      |detection:
      |    selection:
      |        GrantedAccess: '0x1FFFFF'
      |    condition: selection
      |---
      |title: Rundll Source
      |name: rundll_src
      |level: medium
      |logsource:
      |    category: process_access
      |detection:
      |    selection:
      |        SourceImage|endswith: '\rundll32.exe'
      |    condition: selection
      |---
      |title: Debug Helper Trace
      |name: dbghelp_trace
      |level: medium
      |logsource:
      |    category: process_access
      |detection:
      |    selection:
      |        CallTrace|contains: 'dbghelp.dll'
      |    condition: selection
      |---
      |title: Staged Credential Access Chain
      |description: ordered three-step chain per host
      |author: graft
      |level: critical
      |tags:
      |    - attack.credential_access
      |    - attack.t1003.001
      |correlation:
      |    type: temporal_ordered
      |    rules:
      |        - full_mask
      |        - rundll_src
      |        - dbghelp_trace
      |    group-by:
      |        - computer_name
      |    timespan: 7d
      |""".stripMargin

  private[graft] def compiledChainRule: graft.streaming.SequenceRules.SequenceRule =
    graft.compile.RuleCompiler.compileCorrelationFile(compiledChainYaml)
      .getOrElse(sys.error("chain correlation compile failed")).sequence.head

  /** ANY-ORDER 3-ref temporal correlation file (tf_correlation_anyorder,
    * r18 — the r17 verdict's named grammar gap): the modern Sigma
    * `temporal` type with THREE refs, all observed on the same host in
    * ANY order within 3 days (SequenceRules.correlateAnyOrder — one
    * latest-slot per kind, the chain state minus the order guard).
    * Same three coprime-pool predicates as the chain fixture (GrantedAccess
    * 7, SourceImage 9, CallTrace 13 — every host sees all three kinds),
    * but a SHORTER timespan than the chain's 7d so the gap guard actually
    * prunes some would-be matches, and no order requirement — the two
    * queries' outputs differ structurally, not just in metadata. */
  private[graft] val compiledAnyOrderYaml: String =
    """title: Full Mask
      |name: full_mask
      |level: low
      |logsource:
      |    category: process_access
      |detection:
      |    selection:
      |        GrantedAccess: '0x1FFFFF'
      |    condition: selection
      |---
      |title: Rundll Source
      |name: rundll_src
      |level: medium
      |logsource:
      |    category: process_access
      |detection:
      |    selection:
      |        SourceImage|endswith: '\rundll32.exe'
      |    condition: selection
      |---
      |title: Debug Helper Trace
      |name: dbghelp_trace
      |level: medium
      |logsource:
      |    category: process_access
      |detection:
      |    selection:
      |        CallTrace|contains: 'dbghelp.dll'
      |    condition: selection
      |---
      |title: Converging Credential Access Signals
      |description: three signals on one host in any order
      |author: graft
      |level: critical
      |tags:
      |    - attack.credential_access
      |    - attack.t1003
      |correlation:
      |    type: temporal
      |    rules:
      |        - full_mask
      |        - rundll_src
      |        - dbghelp_trace
      |    group-by:
      |        - computer_name
      |    timespan: 3d
      |""".stripMargin

  private[graft] def compiledAnyOrderRule: graft.streaming.SequenceRules.SequenceRule =
    graft.compile.RuleCompiler.compileCorrelationFile(compiledAnyOrderYaml)
      .getOrElse(sys.error("any-order correlation compile failed")).sequence.head

  /** Regex-literal quoting for [[fixSigmaWildcards]]: backslash-escape
    * every metacharacter EXCEPT `{`, which goes through a character class
    * — Pred.fixRegex re-escapes any bare `{` not opening a quantifier, so
    * a backslash-escaped one would double up to `\\{` (literal backslash
    * + quantifier brace). */
  private def regexLit(s: String): String = s.flatMap {
    case '{' => "[{]"
    case c if "\\^$.|?*+()[]}".indexOf(c) >= 0 => s"\\$c"
    case c => c.toString
  }

  /** The Sigma-wildcard translation main.py would have applied had the
    * reference's transpiler handled `*` in = / IN (it does not — the
    * winrmShells rule ships dead, windows-process-access.sql:225-252):
    * an equality/IN value containing `*` becomes an ANCHORED SimilarTo
    * whose literal segments are regex-quoted — `*` is the only wildcard,
    * exactly Sigma's semantics. (An earlier draft mapped `*`→`%` LIKE,
    * which left any literal `%`/`_` already in the value live as LIKE
    * wildcards — this engine's LIKE is the reference's no-escape Flink
    * dialect, so quoting them is impossible there; advisor r13.) Used
    * ONLY by the sig_winrm_mutant control; the shipped corpus keeps the
    * quirk verbatim. */
  private[graft] def fixSigmaWildcards(p: Pred): Pred = {
    import graft.compile._
    p match {
      case Eq(f, v) if v.contains("*") =>
        SimilarTo(f, v.split("\\*", -1).map(regexLit).mkString(".*"))
      case In(f, vs) if vs.exists(_.contains("*")) =>
        vs.map[Pred](v =>
          if (v.contains("*"))
            SimilarTo(f, v.split("\\*", -1).map(regexLit).mkString(".*"))
          else Eq(f, v))
          .reduce(Or(_, _))
      case And(l, r) => And(fixSigmaWildcards(l), fixSigmaWildcards(r))
      case Or(l, r) => Or(fixSigmaWildcards(l), fixSigmaWildcards(r))
      case Not(q) => Not(fixSigmaWildcards(q))
      case other => other
    }
  }

  /** Planted rows for the mutant control: two positives (WinRM host
    * spawning cmd/powershell), two near-misses (wrong child, wrong
    * parent). Negative eids cannot collide with synth rows at any SF. */
  private[graft] val winrmPlanted: Seq[(Long, String, String)] = Seq(
    (-1L, """C:\Windows\System32\wsmprovhost.exe""", """C:\Windows\System32\cmd.exe"""),
    (-2L, """C:\Windows\system32\wsmprovhost.exe""",
      """C:\Windows\SysWOW64\WindowsPowerShell\v1.0\powershell.exe"""),
    (-3L, """C:\Windows\System32\wsmprovhost.exe""", """C:\Windows\System32\notepad.exe"""),
    (-4L, """C:\Windows\explorer.exe""", """C:\Windows\System32\cmd.exe"""))

  /** The Spark side's origin_ids state cap (min-K collect). The DuckDB
    * oracles cap the SAME way — `list_slice(list(uuid ORDER BY uuid), 1,
    * cap)` is exactly the k lexicographically-smallest — so the equality
    * is exact AT ANY GROUP SIZE, not just while the synth corpus stays
    * under the cap (advisor r14: an implicit reliance on n ≤ cap would
    * fail confusingly on a test-data bump). */
  private val originCap: Int = graft.streaming.TimeframeRules.DefaultOriginIdsCap

  val oracles: Map[String, String] = {
    val perRule = ReferenceCorpus.allRules.map { r =>
      key(r) ->
        s"""SELECT eid FROM ($synthSql) WHERE ${r.where.toDuckDb(duckField)} ORDER BY eid"""
    }.toMap

    val fanout = ReferenceCorpus.active.map { r =>
      s"""SELECT ${Pred.sq(r.name)} AS rule_name, count(*) AS n FROM ($synthSql)
          WHERE ${r.where.toDuckDb(duckField)} HAVING count(*) > 0"""
    }.mkString("SELECT rule_name, n FROM (", " UNION ALL ", ") ORDER BY rule_name")

    val laz = ReferenceCorpus.lazagne
    val shape =
      s"""SELECT computer_name, host, 'signal' AS kind, 'process_access' AS module,
            uuid AS origin_id, CAST(1 AS BIGINT) AS cnt, epoch_us(ts) AS time_us,
            to_json({'tactic': ['attack.credential_access'], 'technique': ['t1003'],
                     'subtechnique': ['attack.t1003.001']}) AS threat,
            ${Pred.sq(laz.name)} AS rule_name, ${laz.severity} AS severity
          FROM ($synthSql) WHERE ${laz.where.toDuckDb(duckField)} ORDER BY origin_id"""

    val tf = {
      val pred = ReferenceCorpus.directSyscall.where.toDuckDb(duckField)
      s"""SELECT computer_name, min(host) AS host, count(*) AS n,
            (epoch_us(ts) // 86400000000) * 86400000000 AS start_us,
            to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins
          FROM ($synthSql) WHERE $pred
          GROUP BY computer_name, (epoch_us(ts) // 86400000000) * 86400000000
          HAVING count(*) >= 2
          ORDER BY start_us, computer_name"""
    }

    // the correlation semantics replayed as a carry-forward window: the
    // latest A-event (kind 0) at or before each B-event (kind 1), per key
    val seqCorr =
      s"""WITH evs AS (
            SELECT computer_name AS key, eid, epoch_us(ts) AS ts_us,
                   CASE WHEN event_id = 1 THEN 0 ELSE 1 END AS kind
            FROM ($synthSql)
            WHERE (event_id = 1 AND "CommandLine" = 'cmdkey /list')
               OR (event_id = 10 AND "TargetImage" LIKE '%lsass.exe')),
          w AS (
            SELECT key, eid, ts_us, kind,
                   last_value(CASE WHEN kind = 0 THEN eid END IGNORE NULLS)
                     OVER win AS a_eid,
                   last_value(CASE WHEN kind = 0 THEN ts_us END IGNORE NULLS)
                     OVER win AS a_ts_us
            FROM evs
            WINDOW win AS (PARTITION BY key ORDER BY ts_us, kind
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT key AS computer_name, eid AS access_eid, a_eid AS creation_eid,
                 ts_us - a_ts_us AS gap_us
          FROM w
          WHERE kind = 1 AND a_eid IS NOT NULL AND ts_us - a_ts_us <= 259200000000
          ORDER BY access_eid"""

    val tfBatterySql = tfBattery.map { r =>
      s"""SELECT ${Pred.sq(r.base.name)} AS rule_name, computer_name,
            min(host) AS host, count(*) AS n,
            (epoch_us(ts) // 86400000000) * 86400000000 AS start_us,
            to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins
          FROM ($synthSql) WHERE ${r.base.where.toDuckDb(duckField)}
          GROUP BY computer_name, (epoch_us(ts) // 86400000000) * 86400000000
          HAVING count(*) >= ${r.threshold}"""
    }.mkString(
      "SELECT * FROM (", " UNION ALL ",
      ") ORDER BY rule_name, start_us, computer_name")

    val tfMultiSql = {
      def grp(r: graft.streaming.TimeframeRules.TimeframeRule, winUs: Long) =
        s"""SELECT ${Pred.sq(r.base.name)} AS rule_name,
              ${duckField(r.keyCol)} AS computer_name,
              min(host) AS host, count(*) AS n,
              (epoch_us(ts) // $winUs) * $winUs AS start_us,
              to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins
            FROM ($synthSql) WHERE ${r.base.where.toDuckDb(duckField)}
            GROUP BY ${duckField(r.keyCol)}, (epoch_us(ts) // $winUs) * $winUs
            HAVING count(*) >= ${r.threshold}"""
      val Seq(r24, r12) = tfBatteryMulti
      Seq(grp(r24, 86400000000L), grp(r12, 43200000000L)).mkString(
        "SELECT * FROM (", " UNION ALL ",
        ") ORDER BY rule_name, start_us, computer_name")
    }

    val combinedSql = {
      val perEvent = ReferenceCorpus.active.map { r =>
        s"""SELECT ${Pred.sq(r.name)} AS rule_name, computer_name, host,
              CAST(1 AS BIGINT) AS n, epoch_us(ts) AS start_us,
              to_json([uuid]) AS origins
            FROM ($synthSql) WHERE ${r.where.toDuckDb(duckField)}"""
      }
      val tf = tfBattery.map { r =>
        s"""SELECT ${Pred.sq(r.base.name)} AS rule_name, computer_name,
              min(host) AS host, count(*) AS n,
              (epoch_us(ts) // 86400000000) * 86400000000 AS start_us,
              to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins
            FROM ($synthSql) WHERE ${r.base.where.toDuckDb(duckField)}
            GROUP BY computer_name, (epoch_us(ts) // 86400000000) * 86400000000
            HAVING count(*) >= ${r.threshold}"""
      }
      (perEvent ++ tf).mkString(
        "SELECT * FROM (", " UNION ALL ",
        ") ORDER BY rule_name, start_us, computer_name, origins")
    }

    // DuckDB VARCHAR[] literal + the threat struct as JSON, generated from
    // the same RuleDef fields the Spark plan folds into its metadata
    // literal — they cannot drift.
    def duckArr(vs: Seq[String]): String =
      s"CAST([${vs.map(Pred.sq).mkString(", ")}] AS VARCHAR[])"
    def threatJson(r: RuleDef): String =
      s"to_json({'tactic': ${duckArr(r.tactic)}, " +
        s"'technique': ${duckArr(r.technique)}, " +
        s"'subtechnique': ${duckArr(r.subtechnique)}})"

    val tfCompiledSql = {
      val r = graft.compile.RuleCompiler.compileTimeframe(compiledTfYaml)
        .getOrElse(sys.error("extended compile of the timeframe YAML failed"))
      // windowLength "1 days" → 86400000000 us tumbling buckets
      s"""SELECT ${Pred.sq(r.base.name)} AS rule_name, computer_name,
            min(host) AS host, count(*) AS n,
            (epoch_us(ts) // 86400000000) * 86400000000 AS start_us,
            to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins,
            ${threatJson(r.base)} AS threat, ${r.base.severity} AS severity
          FROM ($synthSql) WHERE ${r.base.where.toDuckDb(duckField)}
          GROUP BY computer_name, (epoch_us(ts) // 86400000000) * 86400000000
          HAVING count(*) >= ${r.threshold}
          ORDER BY start_us, computer_name"""
    }

    // Engine column name → DuckDB column over the flat synth projection:
    // the synth table carries event_data fields as top-level columns, so
    // the `event_data.` prefix a compiled by/distinct field resolves to
    // just strips off (the same flattening duckField applies to predicate
    // fields).
    def duckCol(engineCol: String): String =
      duckField(engineCol.stripPrefix("event_data."))

    // A compiled KEY → DuckDB: plain columns through duckCol; a composite
    // multi-field key re-assembles from the rule's carried `keyParts`
    // (advisor r17: derived from the field list, never re-parsed from the
    // rendered expression) with the SAME per-part escape
    // RuleCompiler.groupByKey applies — backslashes doubled first, then
    // '|' → '\|' (collision-free composite, r17 verdict #5). DuckDB's
    // concat_ws has identical NULL-skipping semantics; its plain string
    // literals carry backslashes verbatim where Spark's parser unescapes
    // them, hence the different literal spellings for the same values.
    def duckKey(keyCol: String, parts: Seq[String]): String =
      if (parts.nonEmpty)
        parts.map(p => s"replace(replace(${duckCol(p)}, '\\', '\\\\'), '|', '\\|')")
          .mkString("concat_ws('|', ", ", ", ")")
      else duckCol(keyCol)

    // r16: the by-clause oracle groups by the COMPILED rule's key — the
    // output's computer_name column carries the by-field's values, exactly
    // like alertsBattery's __tf_key
    val tfCompiledGroupBySql = {
      val r = graft.compile.RuleCompiler.compileTimeframe(compiledTfGroupByYaml)
        .getOrElse(sys.error("extended compile of the by-clause YAML failed"))
      val key = duckCol(r.keyCol)
      s"""SELECT ${Pred.sq(r.base.name)} AS rule_name, $key AS computer_name,
            min(host) AS host, count(*) AS n,
            (epoch_us(ts) // 86400000000) * 86400000000 AS start_us,
            to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins,
            ${threatJson(r.base)} AS threat, ${r.base.severity} AS severity
          FROM ($synthSql) WHERE ${r.base.where.toDuckDb(duckField)}
          GROUP BY $key, (epoch_us(ts) // 86400000000) * 86400000000
          HAVING count(*) >= ${r.threshold}
          ORDER BY start_us, computer_name"""
    }

    // r16: the distinct-pipe oracle mirrors the Spark side's bounded
    // count exactly — n = least(count(DISTINCT f), cap) equals
    // size(min_k_distinct(f, cap)) at ANY group size; the HAVING decision
    // is identical on both sides because cap >= threshold
    val tfCompiledDistinctSql = {
      val r = graft.compile.RuleCompiler.compileTimeframe(compiledTfDistinctYaml)
        .getOrElse(sys.error("extended compile of the distinct-pipe YAML failed"))
      val f = duckCol(r.distinctField.getOrElse(
        sys.error("distinct-pipe YAML compiled without a distinct field")))
      val cap = math.max(originCap.toLong, r.threshold)
      s"""SELECT ${Pred.sq(r.base.name)} AS rule_name, computer_name,
            min(host) AS host, CAST(least(count(DISTINCT $f), $cap) AS BIGINT) AS n,
            (epoch_us(ts) // 86400000000) * 86400000000 AS start_us,
            to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins,
            ${threatJson(r.base)} AS threat, ${r.base.severity} AS severity
          FROM ($synthSql) WHERE ${r.base.where.toDuckDb(duckField)}
          GROUP BY computer_name, (epoch_us(ts) // 86400000000) * 86400000000
          HAVING count(DISTINCT $f) >= ${r.threshold}
          ORDER BY start_us, computer_name"""
    }

    // r16: the modern correlation meta-rule — the oracle replays the
    // compiled artifact's OR-of-bases predicate, by-host key, and gte
    // threshold, same generation as the by-clause oracle
    val tfCorrelationSql = {
      val r = compiledCorrelationRule
      val key = duckCol(r.keyCol)
      s"""SELECT ${Pred.sq(r.base.name)} AS rule_name, $key AS computer_name,
            min(host) AS host, count(*) AS n,
            (epoch_us(ts) // 86400000000) * 86400000000 AS start_us,
            to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins,
            ${threatJson(r.base)} AS threat, ${r.base.severity} AS severity
          FROM ($synthSql) WHERE ${r.base.where.toDuckDb(duckField)}
          GROUP BY $key, (epoch_us(ts) // 86400000000) * 86400000000
          HAVING count(*) >= ${r.threshold}
          ORDER BY start_us, computer_name"""
    }

    // r17: the multi-field group-by meta-rule — the oracle concatenates
    // the SAME two resolved columns in document order, so the composite
    // key's field set, order, and separator all hash-check
    val tfCorrelationMultikeySql = {
      val r = compiledMultikeyRule
      val key = duckKey(r.keyCol, r.keyParts)
      s"""SELECT ${Pred.sq(r.base.name)} AS rule_name, $key AS computer_name,
            min(host) AS host, count(*) AS n,
            (epoch_us(ts) // 86400000000) * 86400000000 AS start_us,
            to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins,
            ${threatJson(r.base)} AS threat, ${r.base.severity} AS severity
          FROM ($synthSql) WHERE ${r.base.where.toDuckDb(duckField)}
          GROUP BY $key, (epoch_us(ts) // 86400000000) * 86400000000
          HAVING count(*) >= ${r.threshold}
          ORDER BY start_us, computer_name"""
    }

    // r17: the temporal correlation — replay the compiled any-order pair
    // as a carry-forward window (the sig_sequence_corr technique): at each
    // event, the latest event of each kind at-or-before it (itself
    // included for its own kind); a row emits when the OPPOSITE kind is
    // within the gap, pairing exactly like correlateAnyOrder's
    // latest-slot-per-kind state at n=2. Order inside the window is (ts,
    // kind, uuid) — the same triple the Scala sort uses, so ties pair
    // identically on both engines.
    val tfCorrelationTemporalSql = {
      val r = compiledTemporalRule
      val key = duckKey(r.keyCol, r.keyParts)
      val predA = r.first.where.toDuckDb(duckField)
      val predB = r.second.where.toDuckDb(duckField)
      s"""WITH evs AS (
            SELECT $key AS key, epoch_us(ts) AS ts_us,
                   CASE WHEN ($predA) THEN 0 ELSE 1 END AS kind, uuid, host
            FROM ($synthSql) WHERE ($predA) OR ($predB)),
          w AS (
            SELECT key, ts_us, kind, uuid, host,
                   last_value(CASE WHEN kind = 0 THEN ts_us END IGNORE NULLS)
                     OVER win AS a_ts,
                   last_value(CASE WHEN kind = 0 THEN uuid END IGNORE NULLS)
                     OVER win AS a_uuid,
                   last_value(CASE WHEN kind = 1 THEN ts_us END IGNORE NULLS)
                     OVER win AS b_ts,
                   last_value(CASE WHEN kind = 1 THEN uuid END IGNORE NULLS)
                     OVER win AS b_uuid
            FROM evs
            WINDOW win AS (PARTITION BY key ORDER BY ts_us, kind, uuid
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT ${Pred.sq(r.meta.name)} AS rule_name, key AS computer_name, host,
                 CAST(2 AS BIGINT) AS n,
                 least(a_ts, b_ts) AS start_us, greatest(a_ts, b_ts) AS end_us,
                 to_json([a_uuid, b_uuid]) AS origins,
                 ${threatJson(r.meta)} AS threat, ${r.meta.severity} AS severity
          FROM w
          WHERE (kind = 1 AND a_ts IS NOT NULL AND ts_us - a_ts BETWEEN 0 AND ${r.gapUs})
             OR (kind = 0 AND b_ts IS NOT NULL AND ts_us - b_ts BETWEEN 0 AND ${r.gapUs})
          ORDER BY origins"""
    }

    // r17: the ordered 3-step chain — LAYERED carry-forward windows, one
    // level per chain step (the 2-step technique above, composed): w1
    // stamps every row with the latest step-0 head at-or-before it; w2
    // stamps the latest VALID step-1 row (one whose own head sat within
    // the gap), carrying that row's head and both uuids; a step-2 row
    // emits when its carried chain is within the head-anchored gap —
    // exactly correlateChain's greedy latest-prefix state replayed
    // declaratively.
    val tfCorrelationChainSql = {
      val r = compiledChainRule
      val key = duckKey(r.keyCol, r.keyParts)
      val Seq(p0, p1, p2) = r.rules.map(_.where.toDuckDb(duckField))
      val gap = r.gapUs
      val valid1 = s"kind = 1 AND h0_ts IS NOT NULL AND ts_us - h0_ts <= $gap"
      s"""WITH evs AS (
            SELECT $key AS key, epoch_us(ts) AS ts_us,
                   CASE WHEN ($p0) THEN 0 WHEN ($p1) THEN 1 ELSE 2 END AS kind,
                   uuid, host
            FROM ($synthSql) WHERE ($p0) OR ($p1) OR ($p2)),
          w1 AS (
            SELECT key, ts_us, kind, uuid, host,
                   last_value(CASE WHEN kind = 0 THEN ts_us END IGNORE NULLS)
                     OVER win AS h0_ts,
                   last_value(CASE WHEN kind = 0 THEN uuid END IGNORE NULLS)
                     OVER win AS h0_uuid
            FROM evs
            WINDOW win AS (PARTITION BY key ORDER BY ts_us, kind, uuid
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          w2 AS (
            SELECT key, ts_us, kind, uuid, host,
                   last_value(CASE WHEN $valid1 THEN ts_us END IGNORE NULLS)
                     OVER win AS c1_ts,
                   last_value(CASE WHEN $valid1 THEN h0_ts END IGNORE NULLS)
                     OVER win AS c1_head,
                   last_value(CASE WHEN $valid1 THEN h0_uuid END IGNORE NULLS)
                     OVER win AS c1_u0,
                   last_value(CASE WHEN $valid1 THEN uuid END IGNORE NULLS)
                     OVER win AS c1_u1
            FROM w1
            WINDOW win AS (PARTITION BY key ORDER BY ts_us, kind, uuid
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT ${Pred.sq(r.meta.name)} AS rule_name, key AS computer_name, host,
                 CAST(3 AS BIGINT) AS n,
                 c1_head AS start_us, ts_us AS end_us,
                 to_json([c1_u0, c1_u1, uuid]) AS origins,
                 ${threatJson(r.meta)} AS threat, ${r.meta.severity} AS severity
          FROM w2
          WHERE kind = 2 AND c1_ts IS NOT NULL AND ts_us >= c1_ts
            AND ts_us - c1_head <= $gap
          ORDER BY origins"""
    }

    // r18: the any-order 3-ref temporal — per-kind carry-forward windows
    // (the pair technique, one lane per kind): each row sees the latest
    // event of EVERY kind at-or-before it in (ts, kind, uuid) order
    // (itself included for its own kind — exactly correlateAnyOrder's
    // update-then-check); it emits when all three lanes are populated and
    // the span back to the oldest lane is within the gap.
    val tfCorrelationAnyOrderSql = {
      val r = compiledAnyOrderRule
      val key = duckKey(r.keyCol, r.keyParts)
      val Seq(p0, p1, p2) = r.rules.map(_.where.toDuckDb(duckField))
      val gap = r.gapUs
      val lanes = (0 to 2).map { k =>
        s"""last_value(CASE WHEN kind = $k THEN ts_us END IGNORE NULLS)
                     OVER win AS k${k}_ts,
                   last_value(CASE WHEN kind = $k THEN uuid END IGNORE NULLS)
                     OVER win AS k${k}_uuid"""
      }.mkString(",\n                   ")
      s"""WITH evs AS (
            SELECT $key AS key, epoch_us(ts) AS ts_us,
                   CASE WHEN ($p0) THEN 0 WHEN ($p1) THEN 1 ELSE 2 END AS kind,
                   uuid, host
            FROM ($synthSql) WHERE ($p0) OR ($p1) OR ($p2)),
          w AS (
            SELECT key, ts_us, kind, uuid, host,
                   $lanes
            FROM evs
            WINDOW win AS (PARTITION BY key ORDER BY ts_us, kind, uuid
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          SELECT ${Pred.sq(r.meta.name)} AS rule_name, key AS computer_name, host,
                 CAST(3 AS BIGINT) AS n,
                 least(k0_ts, k1_ts, k2_ts) AS start_us, ts_us AS end_us,
                 to_json([k0_uuid, k1_uuid, k2_uuid]) AS origins,
                 ${threatJson(r.meta)} AS threat, ${r.meta.severity} AS severity
          FROM w
          WHERE k0_ts IS NOT NULL AND k1_ts IS NOT NULL AND k2_ts IS NOT NULL
            AND ts_us - least(k0_ts, k1_ts, k2_ts) <= $gap
          ORDER BY origins"""
    }

    val tfCompiledBatterySql = compiledTfBattery.map { r =>
      s"""SELECT ${Pred.sq(r.base.name)} AS rule_name, computer_name,
            min(host) AS host, count(*) AS n,
            (epoch_us(ts) // 86400000000) * 86400000000 AS start_us,
            to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins,
            ${threatJson(r.base)} AS threat, ${r.base.severity} AS severity
          FROM ($synthSql) WHERE ${r.base.where.toDuckDb(duckField)}
          GROUP BY computer_name, (epoch_us(ts) // 86400000000) * 86400000000
          HAVING count(*) >= ${r.threshold}"""
    }.mkString(
      "SELECT * FROM (", " UNION ALL ",
      ") ORDER BY rule_name, start_us, computer_name")

    // the full 3-struct alert row for BOTH classes of the combined job:
    // per-event constants and the tf battery's grouped rows each carry the
    // complete rule metadata
    def ruleMetaCols(r: RuleDef): String =
      s"""${threatJson(r)} AS threat,
          ${Pred.sq(r.author)} AS author, ${Pred.sq(r.category)} AS category,
          ${r.severity} AS severity, ${Pred.sq(r.description)} AS description,
          to_json(${duckArr(r.references)}) AS reference,
          ${Pred.sq(r.version)} AS version, ${Pred.sq(r.source)} AS source"""
    val combinedShapeSql = {
      val perEvent = ReferenceCorpus.active.map { r =>
        val module = r.module.map(Pred.sq).getOrElse("CAST(NULL AS VARCHAR)")
        s"""SELECT ${Pred.sq(r.name)} AS rule_name, computer_name, host,
              'signal' AS kind, $module AS module,
              CAST(1 AS BIGINT) AS n, epoch_us(ts) AS start_us,
              to_json([uuid]) AS origins, ${ruleMetaCols(r)}
            FROM ($synthSql) WHERE ${r.where.toDuckDb(duckField)}"""
      }
      val tf = tfBattery.map { r =>
        val module = r.base.module.map(Pred.sq).getOrElse("CAST(NULL AS VARCHAR)")
        s"""SELECT ${Pred.sq(r.base.name)} AS rule_name, computer_name,
              min(host) AS host, 'signal' AS kind, $module AS module,
              count(*) AS n,
              (epoch_us(ts) // 86400000000) * 86400000000 AS start_us,
              to_json(list_slice(list(uuid ORDER BY uuid), 1, $originCap)) AS origins,
              ${ruleMetaCols(r.base)}
            FROM ($synthSql) WHERE ${r.base.where.toDuckDb(duckField)}
            GROUP BY computer_name, (epoch_us(ts) // 86400000000) * 86400000000
            HAVING count(*) >= ${r.threshold}"""
      }
      (perEvent ++ tf).mkString(
        "SELECT * FROM (", " UNION ALL ",
        ") ORDER BY rule_name, start_us, computer_name, origins, n")
    }

    val winrmMutant = {
      val values = winrmPlanted.map { case (eid, pi, im) =>
        s"(CAST($eid AS BIGINT), ${Pred.sq(pi)}, ${Pred.sq(im)})"
      }.mkString(", ")
      val fixed = fixSigmaWildcards(ReferenceCorpus.winrmShells.where)
      s"""SELECT eid FROM (
            SELECT eid, "ParentImage", "Image" FROM ($synthSql)
            UNION ALL
            SELECT * FROM (VALUES $values) t(eid, "ParentImage", "Image"))
          WHERE ${fixed.toDuckDb(duckField)} ORDER BY eid"""
    }

    perRule + ("sig_fanout_counts" -> fanout) + ("sig_fanout_merged" -> fanout) +
      ("sig_alert_shape" -> shape) + ("tf_windowed_count" -> tf) +
      ("sig_sequence_corr" -> seqCorr) + ("sig_winrm_mutant" -> winrmMutant) +
      ("tf_battery_counts" -> tfBatterySql) +
      ("tf_battery_multigroup" -> tfMultiSql) +
      ("sig_tf_combined" -> combinedSql) +
      ("tf_compiled_rule" -> tfCompiledSql) +
      ("tf_compiled_battery" -> tfCompiledBatterySql) +
      ("tf_compiled_groupby" -> tfCompiledGroupBySql) +
      ("tf_compiled_distinct" -> tfCompiledDistinctSql) +
      ("tf_correlation_doc" -> tfCorrelationSql) +
      ("tf_correlation_multikey" -> tfCorrelationMultikeySql) +
      ("tf_correlation_temporal" -> tfCorrelationTemporalSql) +
      ("tf_correlation_chain" -> tfCorrelationChainSql) +
      ("tf_correlation_anyorder" -> tfCorrelationAnyOrderSql) +
      ("sig_tf_combined_shape" -> combinedShapeSql)
  }
}
