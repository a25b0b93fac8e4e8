package graft.compile

import org.scalatest.funsuite.AnyFunSuite
import graft.rules.ReferenceCorpus

/** C8 (directory batch compile) + the SURVEY §7 "second slice": Sigma YAML
  * compiled by RuleCompiler must be semantically equivalent to the
  * hand-transcribed corpus rules — proven by rendering both predicates to
  * the same DuckDB SQL. */
class CompileDirSpec extends AnyFunSuite {
  private val dir = getClass.getResource("/sigma").getPath

  test("compileDir loads YAML rules, skips timeframe rules like main.py") {
    val rules = RuleCompiler.compileDir(dir)
    assert(rules.map(_.name).sorted == Seq(
      "Cmdkey Cached Credentials Recon", "Credential Dumping by LaZagne"))
  }

  test("compiled LaZagne predicate matches the transcribed corpus rule") {
    val compiled = RuleCompiler.compileDir(dir)
      .find(_.name == "Credential Dumping by LaZagne").get
    val render: Pred => String = _.toDuckDb(f => f)
    // AND order inside a selection follows YAML key order; compare the
    // rendered SQL of both paths on each atomic predicate instead
    val c = render(compiled.where)
    val t = render(ReferenceCorpus.lazagne.where)
    // same event_id gate
    assert(c.contains("event_id = 10") && t.contains("event_id = 10"))
    // every atomic pattern of the transcription appears in the compiled SQL
    // note: `_` in '_ctypes' is the LIKE single-char wildcard → regex `.`
    Seq("""ntdll\.dll\+""", """KERNELBASE\.dll\+""", "ctypes\\.pyd\\+",
      "python27\\.dll\\+", "GrantedAccess = '0x1FFFFF'").foreach { frag =>
      assert(c.contains(frag), s"missing $frag in:\n$c")
      assert(t.contains(frag), s"missing $frag in:\n$t")
    }
    assert(compiled.severity == 9 && ReferenceCorpus.lazagne.severity == 9)
    assert(compiled.tactic == Seq("attack.credential_access"))
    assert(compiled.subtechnique == Seq("attack.t1003.001"))
  }

  test("compiled cmdkey rule matches corpus predicate semantics") {
    val compiled = RuleCompiler.compileDir(dir)
      .find(_.name == "Cmdkey Cached Credentials Recon").get
    val c = compiled.where.toDuckDb(f => f)
    val t = ReferenceCorpus.cmdkeyRecon.where.toDuckDb(f => f)
    assert(c.contains("event_id = 1") && t.contains("event_id = 1"))
    Seq("cmdkey\\.exe", " /list").foreach { frag =>
      assert(c.contains(frag), s"missing $frag in:\n$c")
      assert(t.contains(frag), s"missing $frag in:\n$t")
    }
  }

  test("compileDirAll splits a mixed repo: stateless == compileDir, timeframe compiled (r15)") {
    val RuleCompiler.CompiledRepo(stateless, timeframed, sequenced) =
      RuleCompiler.compileDirAll(dir)
    // the stateless side is EXACTLY what parity compileDir produces
    assert(stateless.map(_.name) == RuleCompiler.compileDir(dir).map(_.name))
    // the timeframe fixture lands on the stateful side, fully compiled
    assert(timeframed.map(_.base.name) == Seq("Many Process Accesses In Short Time"))
    assert(timeframed.head.windowLength == "5 minutes" && timeframed.head.threshold == 11L)
    assert(sequenced.isEmpty)
    // a document NEITHER mode accepts is skipped, like compileDir skips
    // what parse rejects (distinct pipes COMPILE since r16, so the
    // skip-probe is now a non-count aggregation pipe)
    val tmp = java.nio.file.Files.createTempDirectory("graft-mixed-yaml")
    java.nio.file.Files.write(tmp.resolve("max_pipe.yml"),
      """title: Max Pipe
        |level: low
        |logsource:
        |  category: process_access
        |detection:
        |  selection:
        |    F: v
        |  timeframe: 5m
        |  condition: selection | max(Score) > 3
        |""".stripMargin.getBytes("UTF-8"))
    val r2 = RuleCompiler.compileDirAll(tmp.toString)
    assert(r2.isEmpty)
    // a distinct-pipe document lands on the stateful side since r16
    java.nio.file.Files.write(tmp.resolve("distinct_pipe.yml"),
      """title: Distinct Pipe
        |level: low
        |logsource:
        |  category: process_access
        |detection:
        |  selection:
        |    F: v
        |  timeframe: 5m
        |  condition: selection | count(TargetUser) > 3
        |""".stripMargin.getBytes("UTF-8"))
    val r3 = RuleCompiler.compileDirAll(tmp.toString)
    assert(r3.stateless.isEmpty && r3.timeframe.map(_.base.name) == Seq("Distinct Pipe"))
    assert(r3.timeframe.head.distinctField.contains("event_data.TargetUser"))
  }

  test("compileDirAll routes modern correlation FILES: meta-rule to the battery, generate respected (r16)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-corr-yaml")
    java.nio.file.Files.write(tmp.resolve("corr.yml"),
      graft.ops.Detection.compiledCorrelationYaml.getBytes("UTF-8"))
    val repo = RuleCompiler.compileDirAll(tmp.toString)
    // every base is referenced and generate is absent: the bases deploy
    // ONLY through the correlation's OR-predicate battery
    assert(repo.stateless.isEmpty)
    assert(repo.timeframe.map(_.base.name) == Seq("Credential Access Pressure Per Host"))
    assert(repo.timeframe.head.keyCol == "host" && repo.timeframe.head.threshold == 4L)
    // flip generate on: the referenced rules ALSO deploy stateless
    java.nio.file.Files.write(tmp.resolve("corr.yml"),
      graft.ops.Detection.compiledCorrelationYaml
        .replace("correlation:", "correlation:\n    generate: true")
        .getBytes("UTF-8"))
    val r2 = RuleCompiler.compileDirAll(tmp.toString)
    assert(r2.stateless.map(_.name).toSet == Set("Lsass Touch", "Full Access Mask"))
    assert(r2.timeframe.size == 1)
    // a multi-document file WITHOUT a correlation compiles each document
    // independently (multi-rule files)
    java.nio.file.Files.write(tmp.resolve("corr.yml"),
      graft.ops.Detection.compiledCorrelationYaml
        .split("(?m)^---$").take(2).mkString("---")
        .getBytes("UTF-8"))
    val r4 = RuleCompiler.compileDirAll(tmp.toString)
    assert(r4.stateless.map(_.name).toSet == Set("Lsass Touch", "Full Access Mask")
      && r4.timeframe.isEmpty)
  }

  test("correlation files: unreferenced co-resident rules always deploy; generate is per-correlation (r17)") {
    // a 3-document file: the correlation references ONLY lsass_touch, so
    // full_access_mask is an ordinary co-resident rule — it must deploy
    // stateless even with generate absent (r16 advisor: the old semantics
    // silently disabled it — detection coverage loss)
    val oneRef = graft.ops.Detection.compiledCorrelationYaml
      .replace("        - lsass_touch\n        - full_access_mask",
        "        - lsass_touch")
    val tmp = java.nio.file.Files.createTempDirectory("graft-corr-gen-yaml")
    java.nio.file.Files.write(tmp.resolve("corr.yml"), oneRef.getBytes("UTF-8"))
    val repo = RuleCompiler.compileDirAll(tmp.toString)
    assert(repo.stateless.map(_.name) == Seq("Full Access Mask"))
    assert(repo.timeframe.size == 1)
    // generate: true on that correlation additionally deploys ITS ref
    java.nio.file.Files.write(tmp.resolve("corr.yml"),
      oneRef.replace("correlation:", "correlation:\n    generate: true")
        .getBytes("UTF-8"))
    val r2 = RuleCompiler.compileDirAll(tmp.toString)
    assert(r2.stateless.map(_.name).toSet == Set("Lsass Touch", "Full Access Mask"))
  }

  test("compileDirAll routes temporal correlation files to SequenceRules deployments (r17)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-corr-temp-yaml")
    java.nio.file.Files.write(tmp.resolve("temporal.yml"),
      graft.ops.Detection.compiledTemporalYaml.getBytes("UTF-8"))
    val repo = RuleCompiler.compileDirAll(tmp.toString)
    assert(repo.stateless.isEmpty && repo.timeframe.isEmpty)
    val Seq(sq) = repo.sequence
    assert(sq.meta.name == "Recon Near Credential Access")
    assert(sq.first.name == "Cmdkey Recon" && sq.second.name == "Lsass Handle")
    assert(sq.gapUs == 12L * 3600 * 1000000 && sq.keyCol == "computer_name")
    assert(!sq.ordered && sq.meta.severity == 9)
  }

  test("compileDirAll routes any-order temporal files; unsupported correlations skip with a warning, not silently (r18)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-corr-any-yaml")
    java.nio.file.Files.write(tmp.resolve("anyorder.yml"),
      graft.ops.Detection.compiledAnyOrderYaml.getBytes("UTF-8"))
    val repo = RuleCompiler.compileDirAll(tmp.toString)
    assert(repo.stateless.isEmpty && repo.timeframe.isEmpty)
    val Seq(sq) = repo.sequence
    assert(sq.meta.name == "Converging Credential Access Signals")
    assert(sq.rules.map(_.name) == Seq("Full Mask", "Rundll Source", "Debug Helper Trace"))
    assert(!sq.ordered && sq.gapUs == 3L * 86400 * 1000000)
    // an UNSUPPORTED correlation type in the same directory is skipped
    // WITH a stderr warning naming the file (advisor r17: the old silent
    // None was the same coverage-loss class as silent count-pipe drops)
    java.nio.file.Files.write(tmp.resolve("value_sum.yml"),
      graft.ops.Detection.compiledAnyOrderYaml
        .replace("type: temporal", "type: value_sum").getBytes("UTF-8"))
    val err = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val r2 = try RuleCompiler.compileDirAll(tmp.toString)
             finally System.setErr(prev)
    assert(r2.sequence.size == 1) // the good file still deploys
    val msg = err.toString("UTF-8")
    assert(msg.contains("value_sum.yml") && msg.contains("not deployed"), msg)
  }

  test("one throwing rule cannot take down the directory walk: compileDirAll logs and continues (r18, advisor r17)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bad-rule-yaml")
    // a count() pipe outside the bare-identifier grammar THROWS in aggSpec
    // (the loud reject r16 asked for) — e.g. a dotted ECS-style by-field
    java.nio.file.Files.write(tmp.resolve("a_bad.yml"),
      """title: Dotted By Field
        |level: low
        |logsource:
        |  category: process_access
        |detection:
        |  selection:
        |    F: v
        |  timeframe: 5m
        |  condition: selection | count() by user.name > 3
        |""".stripMargin.getBytes("UTF-8"))
    java.nio.file.Files.write(tmp.resolve("b_good.yml"),
      """title: Good Rule
        |level: low
        |logsource:
        |  category: process_access
        |detection:
        |  selection:
        |    F: v
        |  condition: selection
        |""".stripMargin.getBytes("UTF-8"))
    // aggSpec still throws when called directly — the loud signal stands
    intercept[IllegalArgumentException] {
      RuleCompiler.compileTimeframe(new String(java.nio.file.Files.readAllBytes(
        tmp.resolve("a_bad.yml")), "UTF-8"))
    }
    // ...but the DIRECTORY walk survives it: the bad file is logged with
    // its path and the good rule still deploys
    val err = new java.io.ByteArrayOutputStream()
    val prev = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val repo = try RuleCompiler.compileDirAll(tmp.toString)
               finally System.setErr(prev)
    assert(repo.stateless.map(_.name) == Seq("Good Rule"))
    assert(repo.timeframe.isEmpty && repo.sequence.isEmpty)
    val msg = err.toString("UTF-8")
    assert(msg.contains("a_bad.yml") && msg.contains("not deployed"), msg)
  }

  /** One synthetic Sigma YAML document: a `CommandLine|contains` pair of
    * patterns unique to rule `i`; every 25th rule also carries a pool
    * literal ("cmdkey /list"). Patterns are hyphen-separated — `_` is
    * LIKE's single-char wildcard and would make each literal subtly
    * broader than written. */
  private def ruleYaml(i: Int): String = {
    val fire = if (i % 25 == 0) "\n      - 'cmdkey /list'" else ""
    s"""title: Synthetic fan-out probe rule $i
       |author: probe
       |level: medium
       |description: synthetic probe rule $i
       |tags:
       |  - attack.execution
       |  - attack.t1059
       |logsource:
       |  category: process_creation
       |detection:
       |  selection:
       |    CommandLine|contains:
       |      - '--fanout-probe-$i-a'
       |      - '--fanout-probe-$i-b'$fire
       |  condition: selection
       |""".stripMargin
  }

  test("compileDir compiles a generated directory of contains rules") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fanout-yaml")
    (0 until 30).foreach(i => java.nio.file.Files.write(
      tmp.resolve(f"synthetic_$i%04d.yml"), ruleYaml(i).getBytes("UTF-8")))
    val rules = RuleCompiler.compileDir(tmp.toString)
    assert(rules.size == 30)
    val r1 = rules.find(_.name == "Synthetic fan-out probe rule 1").get
    val sql = r1.where.toDuckDb(f => f)
    // process_creation category prefix + the two unique contains patterns
    assert(sql.contains("event_id = 1"), sql)
    assert(sql.contains("-fanout-probe-1-a") && sql.contains("-fanout-probe-1-b"), sql)
    assert(r1.severity == 5 && r1.technique == Seq("attack.t1059"))
    // every 25th rule carries the pool literal, the others do not
    val r0 = rules.find(_.name == "Synthetic fan-out probe rule 0").get
    assert(r0.where.toDuckDb(f => f).contains("cmdkey /list"))
    assert(!sql.contains("cmdkey /list"))
  }
}
