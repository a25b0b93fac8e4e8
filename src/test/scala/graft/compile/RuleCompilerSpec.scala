package graft.compile

import org.scalatest.funsuite.AnyFunSuite

/** Table-driven port tests for the Sigma transpiler (SURVEY §2.11 C1-C7,
  * reference /root/reference/sigma-transf/main.py). The checked-in rule SQL
  * is the golden corpus; these fixtures replicate its observable behavior. */
class RuleCompilerSpec extends AnyFunSuite {
  import RuleCompiler._

  test("C4 attackTech partitions tags; subtechnique re-appends parent") {
    val (tac, tech, sub) = attackTech(Seq(
      "attack.credential_access", "attack.t1003", "attack.t1003.001", "ignored"))
    assert(tac == Seq("attack.credential_access"))
    assert(tech == Seq("attack.t1003", "t1003")) // parent re-appended bare
    assert(sub == Seq("attack.t1003.001"))
  }

  test("C5 severity mapping") {
    assert(severity("critical") == 9 && severity("high") == 7
      && severity("medium") == 5 && severity("low") == 3 && severity("?") == 0)
  }

  test("C1 modifiers: contains strips *, endswith/startswith, re, contains|all") {
    assert(transModifier("F", "contains", "*v*") == Like("F", "%v%"))
    assert(transModifier("F", "endswith", "v") == Like("F", "%v"))
    assert(transModifier("F", "startswith", "v*") == Like("F", "v%"))
    assert(transModifier("F", "re", "a{2}") == SimilarTo("F", "a{2}"))
    assert(transModifier("F", "base64offset|contains", "v") == Like("F", "%v%"))
    val l = new java.util.ArrayList[String](); l.add("a"); l.add("b")
    assert(transModifier("F", "contains|all", l) ==
      And(Like("F", "%a%"), Like("F", "%b%")))
    assert(transModifier("F", "contains", l) ==
      Or(Like("F", "%a%"), Like("F", "%b%")))
  }

  private def yamlRule(detection: String, extra: String = ""): String =
    s"""title: Test Rule
       |author: tester
       |level: high
       |description: d
       |logsource:
       |  category: process_access
       |tags:
       |  - attack.execution
       |  - attack.t1055.001
       |$extra
       |detection:
       |$detection
       |""".stripMargin

  test("C2/C7 full compile: selection kinds, event_id prefix, metadata") {
    val r = compile(yamlRule(
      """  selection:
        |    TargetImage|endswith: '\lsass.exe'
        |    GrantedAccess: '0x1FFFFF'
        |  filter:
        |    SourceImage:
        |      - 'a.exe'
        |      - 'b.exe'
        |  condition: selection and not filter""".stripMargin)).get
    assert(r.name == "Test Rule" && r.severity == 7)
    assert(r.tactic == Seq("attack.execution"))
    assert(r.technique == Seq("t1055") && r.subtechnique == Seq("attack.t1055.001"))
    assert(r.where == And(TopEq("event_id", 10),
      And(And(Like("TargetImage", """%\lsass.exe"""), Eq("GrantedAccess", "0x1FFFFF")),
        Not(In("SourceImage", Seq("a.exe", "b.exe"))))))
  }

  test("C3 condition grammar: 1 of prefix*, 1 of them, parens, precedence") {
    val sels = Map("SEL1" -> Eq("A", "1").asInstanceOf[Pred],
      "SEL2" -> Eq("B", "2"), "OTHER" -> Eq("C", "3"))
    assert(conditionPred("1 of sel*", sels) == Or(Eq("A", "1"), Eq("B", "2")) ||
      conditionPred("1 of sel*", sels) == Or(Eq("B", "2"), Eq("A", "1")))
    val all = conditionPred("1 of them", sels)
    assert(Seq("A", "B", "C").forall(f => all.toDuckDb(x => x).contains(f)))
    // NOT binds tighter than AND, AND tighter than OR
    assert(conditionPred("sel1 or sel2 and not other", sels) ==
      Or(Eq("A", "1"), And(Eq("B", "2"), Not(Eq("C", "3")))))
    assert(conditionPred("(sel1 or sel2) and other", sels) ==
      And(Or(Eq("A", "1"), Eq("B", "2")), Eq("C", "3")))
  }

  test("C3 extension: all of prefix* / all of them AND the selections") {
    val sels = Map("SEL1" -> Eq("A", "1").asInstanceOf[Pred],
      "SEL2" -> Eq("B", "2"), "OTHER" -> Eq("C", "3"))
    assert(conditionPred("all of sel*", sels) == And(Eq("A", "1"), Eq("B", "2")) ||
      conditionPred("all of sel*", sels) == And(Eq("B", "2"), Eq("A", "1")))
    val all = conditionPred("all of them", sels)
    assert(Seq("A", "B", "C").forall(f => all.toDuckDb(x => x).contains(f)))
    assert(all.toDuckDb(x => x).contains("AND"))
    // composes with the rest of the grammar
    assert(conditionPred("all of sel* and not other", sels).toDuckDb(x => x).contains("NOT"))
  }

  test("C7 rejects timeframe rules exactly like the reference") {
    val y = yamlRule(
      """  selection:
        |    F: v
        |  timeframe: 5m
        |  condition: selection""".stripMargin)
    assert(compile(y).isEmpty)
  }

  test("extended mode compiles the timeframe fixture; parity mode still skips it (r15)") {
    val yaml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/sigma/timeframe_rule.yml")), "UTF-8")
    // parity default: the reference rejects timeframe rules (main.py:194-195)
    assert(compile(yaml).isEmpty)
    // extended mode: the commented-out grammar (main.py:98-103) compiles
    val tf = compileTimeframe(yaml).get
    assert(tf.windowLength == "5 minutes")
    assert(tf.threshold == 11L) // count() > 10 ⇒ >= 11
    assert(tf.keyCol == "computer_name")
    assert(tf.base.name == "Many Process Accesses In Short Time")
    assert(tf.base.severity == 7)
    // the selection left of the pipe went through the normal grammar,
    // including the logsource event_id gate
    assert(tf.base.where == And(TopEq("event_id", 10),
      Like("TargetImage", """%\lsass.exe""")))
  }

  test("extended mode rejects what it cannot run (r15)") {
    def tfYaml(timeframe: String, condition: String): String = yamlRule(
      s"""  selection:
         |    F: v
         |  timeframe: $timeframe
         |  condition: $condition""".stripMargin)
    // month-unit timeframes have no fixed-length tumbling window
    assert(compileTimeframe(tfYaml("3M", "selection | count() > 3")).isEmpty)
    // no aggregation pipe at all
    assert(compileTimeframe(tfYaml("5m", "selection")).isEmpty)
    // a stateless rule is not a timeframe rule
    assert(compileTimeframe(yamlRule(
      """  selection:
        |    F: v
        |  condition: selection""".stripMargin)).isEmpty)
    // a NON-count pipe is a different aggregation class: quietly None,
    // skipped like parse skips what it rejects
    assert(compileTimeframe(tfYaml("5m", "selection | max(Score) > 3")).isEmpty)
    // but a count() pipe OUTSIDE the grammar throws — r16 verdict #7: a
    // malformed count pipe must not silently drop the rule
    assertThrows[IllegalArgumentException](
      compileTimeframe(tfYaml("5m", "selection | count() by > 3")))
    assertThrows[IllegalArgumentException](
      compileTimeframe(tfYaml("5m", "selection | count(a.b) > 3")))
    assertThrows[IllegalArgumentException](
      compileTimeframe(tfYaml("5m", "selection | count() by some-field > 3")))
    // duration units + threshold comparison forms
    assert(compileTimeframe(tfYaml("30s", "selection | count() >= 3")).get.threshold == 3L)
    assert(compileTimeframe(tfYaml("30s", "selection | count() >= 3")).get.windowLength == "30 seconds")
    assert(compileTimeframe(tfYaml("12h", "selection | count() > 0")).get.windowLength == "12 hours")
    assert(compileTimeframe(tfYaml("7d", "selection | count() > 0")).get.windowLength == "7 days")
  }

  test("by-clause and distinct-count pipes compile (r16 — the rest of main.py:98-103's family)") {
    def tfYaml(condition: String): String = yamlRule(
      s"""  selection:
         |    F: v
         |  timeframe: 5m
         |  condition: $condition""".stripMargin)
    // `count() by <field>`: the pipe names the group key; top-level sink
    // columns stay top-level, event fields resolve into event_data
    assert(compileTimeframe(tfYaml("selection | count() by host > 2")).get.keyCol == "host")
    assert(compileTimeframe(tfYaml("selection | count() by computer_name >= 1")).get.keyCol == "computer_name")
    val evKey = compileTimeframe(tfYaml("selection | count() by TargetUser > 2")).get
    assert(evKey.keyCol == "event_data.TargetUser" && evKey.threshold == 3L)
    assert(evKey.distinctField.isEmpty)
    // `count(<field>)`: distinct-count semantics (rejected through r15;
    // compiled since r16 via the bounded min_k_distinct aggregate)
    val dc = compileTimeframe(tfYaml("selection | count(TargetUser) > 3")).get
    assert(dc.distinctField.contains("event_data.TargetUser"))
    assert(dc.threshold == 4L && dc.keyCol == "computer_name")
    // both clauses together
    val both = compileTimeframe(tfYaml("selection | count(SourceImage) by host >= 2")).get
    assert(both.distinctField.contains("event_data.SourceImage"))
    assert(both.keyCol == "host" && both.threshold == 2L)
    // the plain form is unchanged
    val plain = compileTimeframe(tfYaml("selection | count() > 10")).get
    assert(plain.distinctField.isEmpty && plain.keyCol == "computer_name" &&
      plain.threshold == 11L)
    // whitespace before the comparator is optional after a by-field
    // (advisor r16: `count()>1` parsed while `count() by host>1` didn't)
    val tight = compileTimeframe(tfYaml("selection | count() by host>1")).get
    assert(tight.keyCol == "host" && tight.threshold == 2L)
  }

  test("modern correlation documents compile: event_count, value_count, generate, rejections (r16)") {
    // a third base rule for the 3-ref correlations (its own doc, so the
    // 1- and 2-ref files keep no unreferenced co-resident rule)
    val baseC =
      """title: Base C
        |name: base_c
        |level: medium
        |logsource:
        |  category: process_access
        |detection:
        |  selection:
        |    CallTrace|contains: 'dbghelp'
        |  condition: selection
        |---
        |""".stripMargin
    def corrFile(correlation: String, extraBases: String = ""): String =
      s"""title: Base A
         |name: base_a
         |level: high
         |logsource:
         |  category: process_access
         |detection:
         |  selection:
         |    TargetImage|endswith: '\\lsass.exe'
         |  condition: selection
         |---
         |title: Base B
         |name: base_b
         |level: low
         |logsource:
         |  category: process_access
         |detection:
         |  selection:
         |    GrantedAccess: '0x1FFFFF'
         |  condition: selection
         |---
         |${extraBases}title: Corr Rule
         |level: critical
         |tags:
         |  - attack.credential_access
         |  - attack.t1003
         |correlation:
         |$correlation
         |""".stripMargin
    // event_count over BOTH refs, keyed on host
    val ec = compileCorrelationFile(corrFile(
      """  type: event_count
        |  rules:
        |    - base_a
        |    - base_b
        |  group-by:
        |    - host
        |  timespan: 12h
        |  condition:
        |    gte: 4""".stripMargin)).get
    assert(ec.stateless.isEmpty,
      "every base is referenced: without generate none deploys stateless")
    val Seq(r) = ec.timeframe
    assert(r.windowLength == "12 hours" && r.threshold == 4L && r.keyCol == "host")
    assert(r.distinctField.isEmpty && r.base.name == "Corr Rule" && r.base.severity == 9)
    // multi-ref = OR of the compiled base predicates (each with its gate)
    assert(r.base.where == Or(
      And(TopEq("event_id", 10), Like("TargetImage", """%\lsass.exe""")),
      And(TopEq("event_id", 10), Eq("GrantedAccess", "0x1FFFFF"))))
    // value_count: field -> distinctField; gt N => N+1; default key.
    // base_b is referenced by NO correlation here, so it stays an ordinary
    // co-resident rule and deploys stateless (r16 advisor: the old
    // behavior silently disabled it)
    val vcr = compileCorrelationFile(corrFile(
      """  type: value_count
        |  field: SourceImage
        |  rules: [base_a]
        |  timespan: 1d
        |  condition:
        |    gt: 2""".stripMargin)).get
    assert(vcr.stateless.map(_.name) == Seq("Base B"))
    val vc = vcr.timeframe.head
    assert(vc.distinctField.contains("event_data.SourceImage"))
    assert(vc.threshold == 3L && vc.keyCol == "computer_name")
    // generate: true ALSO deploys the correlation's own refs stateless
    // (Base A); Base B deploys because it is unreferenced
    val gen = compileCorrelationFile(corrFile(
      """  type: event_count
        |  rules: [base_a]
        |  generate: true
        |  timespan: 1h
        |  condition:
        |    gte: 2""".stripMargin)).get
    assert(gen.stateless.map(_.name).toSet == Set("Base A", "Base B"))
    // multi-field group-by compiles to ONE composite concat_ws key (r17;
    // rejected through r16) — field order is document order; r18: each
    // part is backtick-quoted and separator-escaped (backslashes doubled
    // FIRST, then '|' → '\|') so a field value containing '|' cannot
    // collide two distinct key tuples, and the resolved parts ride
    // keyParts so oracles rebuild the key without re-parsing the text
    val mk = compileCorrelationFile(corrFile(
      """  type: event_count
        |  rules: [base_a]
        |  group-by: [host, TargetUser]
        |  timespan: 1h
        |  condition:
        |    gte: 2""".stripMargin)).get.timeframe.head
    assert(mk.keyCol ==
      "concat_ws('|', replace(replace(host, '\\\\', '\\\\\\\\'), '|', '\\\\|'), " +
        "replace(replace(event_data.`TargetUser`, '\\\\', '\\\\\\\\'), '|', '\\\\|'))")
    assert(mk.keyParts == Seq("host", "event_data.TargetUser"))
    // temporal compiles to a SequenceRules correlation (r17; rejected
    // through r16): refs in order, timespan as micros, unordered
    val tc = compileCorrelationFile(corrFile(
      """  type: temporal
        |  rules: [base_a, base_b]
        |  group-by: [host]
        |  timespan: 1h""".stripMargin)).get
    assert(tc.timeframe.isEmpty && tc.stateless.isEmpty)
    val Seq(sq) = tc.sequence
    assert(sq.first.name == "Base A" && sq.second.name == "Base B")
    assert(sq.gapUs == 3600000000L && sq.keyCol == "host" && !sq.ordered)
    assert(sq.meta.name == "Corr Rule" && sq.meta.severity == 9)
    // temporal_ordered sets the order flag
    assert(compileCorrelationFile(corrFile(
      """  type: temporal_ordered
        |  rules: [base_a, base_b]
        |  timespan: 30m""".stripMargin)).get.sequence.head.ordered)
    // ORDERED chains accept any length >= 2 (correlateChain, r17): a
    // 3-step chain compiles with the refs in document order
    val ch = compileCorrelationFile(corrFile(
      """  type: temporal_ordered
        |  rules: [base_a, base_b, base_c]
        |  timespan: 2h""".stripMargin, baseC)).get.sequence.head
    assert(ch.ordered && ch.rules.map(_.name) == Seq("Base A", "Base B", "Base C"))
    assert(ch.gapUs == 7200000000L)
    // 3-ref UNORDERED temporal compiles to the any-order correlator
    // (r18 — rejected through r17, the r17 verdict's named grammar gap)
    val ao = compileCorrelationFile(corrFile(
      """  type: temporal
        |  rules: [base_c, base_a, base_b]
        |  timespan: 1h""".stripMargin, baseC)).get.sequence.head
    assert(!ao.ordered && ao.rules.map(_.name) == Seq("Base C", "Base A", "Base B"))
    assert(ao.gapUs == 3600000000L)
    // rejections: single-ref temporal, a temporal correlation that repeats
    // a ref (every event takes the FIRST step it matches, so the repeat
    // could never fire while the key kept state), unresolved ref,
    // non-numeric threshold (advisor r16: must reject as None, not crash
    // the directory walk), unknown type
    assert(compileCorrelationFile(corrFile(
      """  type: temporal
        |  rules: [base_a]
        |  timespan: 1h""".stripMargin)).isEmpty)
    Seq("temporal", "temporal_ordered").foreach { typ =>
      assert(compileCorrelationFile(corrFile(
        s"""  type: $typ
           |  rules: [base_a, base_b, base_a]
           |  timespan: 1h""".stripMargin)).isEmpty, typ)
      assert(compileCorrelationFile(corrFile(
        s"""  type: $typ
           |  rules: [base_a, base_a]
           |  timespan: 1h""".stripMargin)).isEmpty, typ)
    }
    assert(compileCorrelationFile(corrFile(
      """  type: event_count
        |  rules: [no_such_rule]
        |  timespan: 1h
        |  condition:
        |    gte: 2""".stripMargin)).isEmpty)
    assert(compileCorrelationFile(corrFile(
      """  type: event_count
        |  rules: [base_a]
        |  timespan: 1h
        |  condition:
        |    gte: ten""".stripMargin)).isEmpty)
    assert(compileCorrelationFile(corrFile(
      """  type: value_sum
        |  rules: [base_a]
        |  timespan: 1h
        |  condition:
        |    gte: 2""".stripMargin)).isEmpty)
    // a single-document (non-correlation) text is not a correlation file
    assert(compileCorrelationFile("title: X\ndetection:\n  selection:\n    F: v\n  condition: selection\n").isEmpty)
  }

  test("the in-main groupby/distinct YAMLs compile to the shapes their oracles replay (r16)") {
    val gb = compileTimeframe(graft.ops.Detection.compiledTfGroupByYaml).get
    assert(gb.keyCol == "host" && gb.threshold == 2L && gb.distinctField.isEmpty)
    assert(gb.windowLength == "1 days")
    val dc = compileTimeframe(graft.ops.Detection.compiledTfDistinctYaml).get
    assert(dc.distinctField.contains("event_data.SourceImage"))
    assert(dc.keyCol == "computer_name" && dc.threshold == 2L)
    assert(dc.windowLength == "1 days")
  }

  test("the in-main compiled-rule YAML stays in lockstep with the spec fixture's grammar (r15)") {
    // the oracle query tf_compiled_rule embeds a YAML in main (test
    // resources aren't on graft.Verify's classpath); it must keep
    // exercising the same grammar shape as the fixture
    val tf = compileTimeframe(graft.ops.Detection.compiledTfYaml).get
    assert(tf.windowLength == "1 days" && tf.threshold == 2L)
    assert(tf.base.where == And(TopEq("event_id", 10),
      Like("TargetImage", """%\lsass.exe""")))
    assert(tf.base.tactic == Seq("attack.credential_access"))
    assert(tf.base.technique == Seq("t1003"))
    assert(tf.base.subtechnique == Seq("attack.t1003.001"))
    // the second battery document: a list-valued selection reached through
    // `1 of sel_*` LEFT of the pipe — the condition grammar composes with
    // the aggregation pipe
    val tf2 = compileTimeframe(graft.ops.Detection.compiledTfYaml2).get
    assert(tf2.windowLength == "1 days" && tf2.threshold == 3L)
    assert(tf2.base.where == And(TopEq("event_id", 10),
      In("GrantedAccess", Seq("0x1FFFFF", "0x1fffff"))))
    assert(tf2.base.severity == 5)
    assert(tf2.base.technique == Seq("attack.t1003") && tf2.base.subtechnique.isEmpty)
  }

  test("null value maps to IS NULL; numeric scalars stringify") {
    val r = compile(yamlRule(
      """  selection:
        |    A: null
        |    DestinationPort: 80
        |  condition: selection""".stripMargin)).get
    assert(r.where == And(TopEq("event_id", 10),
      And(IsNull("A"), Eq("DestinationPort", "80"))))
  }
}
