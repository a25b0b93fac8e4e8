package graft.compile

import scala.jdk.CollectionConverters._
import graft.rules.RuleDef

/** Scala port of the reference's Sigma-YAML → SQL transpiler
  * (/root/reference/sigma-transf/main.py), emitting [[Pred]] ASTs instead
  * of SQL text. Behavior replicated function-for-function, with the quirks
  * kept (SURVEY.md §2.11):
  *
  *  - C1 `trans_flink_sql` (main.py:34-68): `contains` strips `*` from BOTH
  *    ends of a scalar but only the LEFT of list items (main.py:38 vs :41);
  *    `contains|all` strips nothing (main.py:66); `base64offset|` modifier
  *    dropped (main.py:35).
  *  - C2 `get_where` (main.py:89-143): bare field → `=`, list → `IN`,
  *    null → `IS NULL`; category process_access/process_creation →
  *    event_id 10/1 prefix.
  *  - C3 `proc_of_conditon` (main.py:71-86): `1 of x*` → OR over
  *    prefix-matched selections, `1 of them` → OR over all. The reference
  *    does NOT support `all of` — we add it as a documented extension
  *    (`all of x*` → AND over prefix matches, `all of them` → AND over
  *    all), since upstream Sigma rules use it; parity rules never hit it.
  *  - C4 `get_attack_tech` (main.py:15-31): tags partitioned into
  *    tactic / technique / subtechnique; a subtechnique tag
  *    `attack.tNNNN.MMM` also appends the bare `tNNNN` to technique
  *    (visible in the corpus: technique arrays mixing `t1003` and
  *    `attack.t1055` forms).
  *  - C5 `severity_level` (main.py:180-187): critical/high/medium/low →
  *    9/7/5/3.
  *  - C7 `parse` (main.py:179-208): rules with `timeframe` are rejected
  *    (returns None here — the parity default; [[compileTimeframe]] is the
  *    documented EXTENDED mode that compiles them into runnable
  *    [[graft.streaming.TimeframeRules.TimeframeRule]]s).
  *
  * Documented deviations (self-evident upstream bugs, recorded per SURVEY
  * §2.11 guidance): (1) numeric/boolean scalar values are stringified
  * instead of raising (Sigma commonly writes `DestinationPort: 80`);
  * (2) parenthesized multi-token conditions parse correctly with SQL
  * precedence (NOT > AND > OR) where main.py:139-142 splices broken text;
  * (3) an unknown severity level maps to 0 where main.py's `None` would
  * crash the template concat.
  */
object RuleCompiler {

  private val tactics = Set(
    "attack.reconnaissance", "attack.resource_development", "attack.initial_access",
    "attack.execution", "attack.persistence", "attack.privilege_escalation",
    "attack.defense_evasion", "attack.credential_access", "attack.discovery",
    "attack.lateral_movement", "attack.collection", "attack.command_and_control",
    "attack.exfiltration", "attack.impact")
  private val TechRe = """^attack\.t[0-9]+$""".r
  private val SubTechRe = """^attack\.t[0-9]+\.[0-9]+$""".r

  /** C4: tag partition. Returns (tactic, technique, subtechnique). */
  def attackTech(tags: Seq[String]): (Seq[String], Seq[String], Seq[String]) = {
    val tactic = Seq.newBuilder[String]
    val technique = Seq.newBuilder[String]
    val subtech = Seq.newBuilder[String]
    tags.foreach {
      case t if tactics(t) => tactic += t
      case t if TechRe.matches(t) => technique += t
      case t if SubTechRe.matches(t) =>
        technique += t.split('.')(1); subtech += t
      case _ => ()
    }
    (tactic.result(), technique.result(), subtech.result())
  }

  /** C5: Sigma level → severity int. */
  def severity(level: String): Int = level match {
    case "critical" => 9
    case "high" => 7
    case "medium" => 5
    case "low" => 3
    case _ => 0
  }

  private def asString(v: Any): String = v match {
    case s: String => s
    case b: java.lang.Boolean => b.toString
    case other => String.valueOf(other)
  }

  /** C1: field modifier translation (main.py:34-68), quirks intact. */
  def transModifier(key: String, cond0: String, value: Any): Pred = {
    val cond = cond0.replace("base64offset|", "")
    def ors(ps: Seq[Pred]): Pred = ps.reduce(Or(_, _))
    (cond, value) match {
      case ("contains", s: String) =>
        // python strip("*"): remove ALL leading AND trailing asterisks
        val stripped = s.dropWhile(_ == '*').reverse.dropWhile(_ == '*').reverse
        Like(key, "%" + stripped + "%")
      case ("contains", l: java.util.List[_]) =>
        ors(l.asScala.toSeq.map(v => Like(key, "%" + asString(v).dropWhile(_ == '*') + "%")))
      case ("endswith", s: String) => Like(key, "%" + asString(s).dropWhile(_ == '*'))
      case ("endswith", l: java.util.List[_]) =>
        ors(l.asScala.toSeq.map(v => Like(key, "%" + asString(v).dropWhile(_ == '*'))))
      case ("startswith", s: String) =>
        Like(key, asString(s).reverse.dropWhile(_ == '*').reverse + "%")
      case ("startswith", l: java.util.List[_]) =>
        ors(l.asScala.toSeq.map(v => Like(key, asString(v).reverse.dropWhile(_ == '*').reverse + "%")))
      case ("re", s: String) => SimilarTo(key, s)
      case ("re", l: java.util.List[_]) =>
        ors(l.asScala.toSeq.map(v => SimilarTo(key, asString(v))))
      case ("contains|all", l: java.util.List[_]) =>
        l.asScala.toSeq.map(v => Like(key, "%" + asString(v) + "%")).reduce[Pred](And(_, _))
      case _ => throw new IllegalArgumentException(s"sigma condition not found: $cond0")
    }
  }

  /** One selection (field → matcher map, or list of such maps) → AND-joined Pred. */
  def selectionPred(selection: Any): Pred = {
    val fields: Seq[(String, Any)] = selection match {
      case m: java.util.Map[_, _] =>
        m.asScala.toSeq.map { case (k, v) => (k.toString, v) }
      case l: java.util.List[_] =>
        l.asScala.toSeq.collect { case m: java.util.Map[_, _] =>
          val e = m.asScala.head; (e._1.toString, e._2.asInstanceOf[Any])
        }
      case other => throw new IllegalArgumentException(s"bad selection: $other")
    }
    fields.map { case (field, value) =>
      if (!field.contains("|")) value match {
        case null => IsNull(field)
        case l: java.util.List[_] => In(field, l.asScala.toSeq.map(asString))
        case v => Eq(field, asString(v))
      } else {
        val Array(key, cond) = field.split("\\|", 2)
        transModifier(key, cond, value)
      }
    }.reduce(And(_, _))
  }

  /** C3 + the condition grammar of C2 (main.py:96-143). */
  def conditionPred(condition: String, selDict: Map[String, Pred]): Pred = {
    def procOf(tokRaw: String): Option[Pred] = {
      val tok = tokRaw.dropWhile(_ == '(').reverse.dropWhile(_ == ')').reverse
      if (tok.startsWith("1OF") && tok.endsWith("*")) {
        val prefix = tok.substring(3, tok.length - 1)
        val matches = selDict.collect { case (k, v) if k.startsWith(prefix) => v }.toSeq
        if (matches.isEmpty) None else Some(matches.reduce(Or(_, _)))
      } else if (tok == "1OFTHEM") {
        Some(selDict.values.reduce(Or(_, _)))
      } else if (tok.startsWith("ALLOF") && tok.endsWith("*")) {
        val prefix = tok.substring(5, tok.length - 1)
        val matches = selDict.collect { case (k, v) if k.startsWith(prefix) => v }.toSeq
        if (matches.isEmpty) None else Some(matches.reduce(And(_, _)))
      } else if (tok == "ALLOFTHEM") {
        Some(selDict.values.reduce(And(_, _)))
      } else selDict.get(tok)
    }

    val norm = condition.replace("1 of ", "1of").replace("all of ", "allof").toUpperCase
    // split parens into their own tokens so parenthesized conditions parse
    val toks: List[String] = norm
      .replace("(", " ( ").replace(")", " ) ")
      .split("\\s+").filter(_.nonEmpty).toList

    // recursive descent: expr := term (OR term)* ; term := fact (AND fact)* ;
    // fact := NOT fact | '(' expr ')' | atom
    var rest = toks
    def peek: Option[String] = rest.headOption
    def next(): String = { val h = rest.head; rest = rest.tail; h }
    def parseExpr(): Pred = {
      var p = parseTerm()
      while (peek.contains("OR")) { next(); p = Or(p, parseTerm()) }
      p
    }
    def parseTerm(): Pred = {
      var p = parseFact()
      while (peek.contains("AND")) { next(); p = And(p, parseFact()) }
      p
    }
    def parseFact(): Pred = peek match {
      case Some("NOT") => next(); Not(parseFact())
      case Some("(") =>
        next(); val p = parseExpr()
        if (peek.contains(")")) next()
        p
      case Some(tok) =>
        next()
        procOf(tok).getOrElse(
          throw new IllegalArgumentException(s"unknown condition token: $tok"))
      case None => throw new IllegalArgumentException("empty condition")
    }
    val result = parseExpr()
    result
  }

  /** C2 `get_where`: logsource category prefix + detection → Pred. */
  def getWhere(logCategory: String, detection: Map[String, Any], condition: String): Pred = {
    val selDict: Map[String, Pred] = detection.map { case (k, v) =>
      k.toUpperCase -> selectionPred(v)
    }
    val cond = conditionPred(condition, selDict)
    logCategory match {
      case "process_access" => And(TopEq("event_id", 10), cond)
      case "process_creation" => And(TopEq("event_id", 1), cond)
      case _ => cond
    }
  }

  /** C7 `parse`: full Sigma YAML document → RuleDef. Returns None for
    * timeframe rules exactly like main.py:194-195 — the PARITY mode. The
    * engine itself can run those rules ([[graft.streaming.TimeframeRules]]);
    * [[compileTimeframe]] is the extended mode that compiles them. */
  def compile(yamlText: String): Option[RuleDef] = compileRoot(loadYaml(yamlText))

  /** [[compile]] on an already-parsed YAML document (multi-document files
    * parse once and route each document here). */
  private[graft] def compileRoot(root: Map[String, Any]): Option[RuleDef] = {
    val detectionAll = root.get("detection") match {
      case Some(m: java.util.Map[_, _]) => m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Any] }.toMap
      case _ => return None
    }
    if (detectionAll.contains("timeframe")) return None
    val condition = detectionAll.getOrElse("condition", return None).toString
    buildRuleDef(root, detectionAll, condition)
  }

  /** Shared metadata + predicate assembly for both compile modes. */
  private def buildRuleDef(root: Map[String, Any],
      detectionAll: Map[String, Any], condition: String): Option[RuleDef] = {
    val detection = detectionAll - "condition" - "timeframe"
    val tags = root.get("tags") match {
      case Some(l: java.util.List[_]) => l.asScala.toSeq.map(_.toString)
      case _ => Seq.empty
    }
    val (tactic, technique, subtech) = attackTech(tags)
    val logCate = root.get("logsource") match {
      case Some(m: java.util.Map[_, _]) =>
        m.asScala.collectFirst { case (k, v) if k.toString == "category" => v.toString }.getOrElse("")
      case _ => ""
    }
    val refs = root.get("references") match {
      case Some(l: java.util.List[_]) => l.asScala.toSeq.map(_.toString)
      case _ => Seq.empty
    }
    Some(RuleDef(
      name = root.getOrElse("title", "").toString,
      author = root.getOrElse("author", "").toString,
      severity = severity(root.getOrElse("level", "").toString),
      description = root.getOrElse("description", "").toString,
      references = refs,
      tactic = tactic, technique = technique, subtechnique = subtech,
      module = None,
      where = getWhere(logCate, detection, condition)))
  }

  /** Sigma `timeframe` durations (`15s`, `30m`, `12h`, `7d`) → Spark window
    * lengths. Month-unit timeframes (`3M`) have no fixed-length tumbling
    * window and are rejected. */
  private val TfDuration = """^\s*(\d+)\s*([smhd])\s*$""".r
  private[graft] def timeframeWindow(tf: String): Option[String] = tf match {
    case TfDuration(n, u) =>
      Some(u match {
        case "s" => s"$n seconds"
        case "m" => s"$n minutes"
        case "h" => s"$n hours"
        case "d" => s"$n days"
      })
    case _ => None
  }

  /** The same durations as event-time MICROS — the gap unit of a compiled
    * temporal correlation ([[graft.streaming.SequenceRules.SequenceRule]]). */
  private[graft] def timeframeMicros(tf: String): Option[Long] = tf match {
    case TfDuration(n, u) =>
      val unit = u match {
        case "s" => 1000000L
        case "m" => 60L * 1000000
        case "h" => 3600L * 1000000
        case "d" => 86400L * 1000000
      }
      Some(n.toLong * unit)
    case _ => None
  }

  /** A correlation `group-by` list → the engine key expression. One field
    * resolves like a pipe by-field; MULTIPLE fields (e.g. `[User,
    * Computer]` — routine in real Sigma correlation rules) become ONE
    * composite string key, `concat_ws('|', esc(f1), esc(f2), …)`, so the
    * battery still windows on a single column and the alert's
    * `computer_name` carries the composite key deterministically (field
    * order = document order, '|'-separated; concat_ws skips NULL fields
    * on both engines). Each part is ESCAPED (round 18, r17 verdict #5):
    * backslashes double and literal `|` becomes `\|`, so a field VALUE
    * containing the separator can no longer collide two distinct key
    * tuples ('a|b','c' vs 'a','b|c' used to render identically); struct
    * fields are backtick-quoted inside the composite so non-identifier
    * field names (spaces, hyphens) survive expr() parsing (advisor r17).
    * The oracle side rebuilds the same escape from [[groupByParts]] —
    * never by re-parsing this expression text. Empty list = the sink
    * default, per-host correlation. */
  private[graft] def groupByKey(fields: Seq[String]): String = fields match {
    case Seq() => "computer_name"
    case Seq(f) => resolveField(f)
    case fs => fs.map(f => escapedPart(resolveField(f)))
      .mkString("concat_ws('|', ", ", ", ")")
  }

  /** The resolved field list behind a MULTI-field group-by — carried on
    * the compiled rule (`keyParts`) so oracles and render paths rebuild
    * the composite key from the same parts [[groupByKey]] rendered;
    * empty for 0/1-field lists (plain single-column keys). */
  private[graft] def groupByParts(fields: Seq[String]): Seq[String] =
    if (fields.size > 1) fields.map(resolveField) else Seq.empty

  /** One escaped composite-key part as a Spark SQL expression: quote the
    * struct field (identifier safety), then double backslashes and escape
    * the `|` separator (collision safety). Escape order matters —
    * backslashes first, so an escaped pipe's own backslash is not
    * re-doubled. */
  private def escapedPart(resolved: String): String = {
    val quoted = resolved.split("\\.", 2) match {
      case Array(p, f) => s"$p.`$f`"
      case _ => resolved
    }
    s"replace(replace($quoted, '\\\\', '\\\\\\\\'), '|', '\\\\|')"
  }

  /** Parsed aggregation pipe of a correlation condition: the >=-threshold
    * [[graft.streaming.TimeframeRules.TimeframeRule]] uses (`> N` ⇒ N+1,
    * `>= N` ⇒ N), the optional `by` group key, and the optional
    * distinct-count field (`count(field)` — threshold compares the number
    * of DISTINCT values of that field per key per window, Sigma's
    * value_count correlation). */
  private[graft] final case class AggSpec(
      threshold: Long, byField: Option[String], distinctField: Option[String])

  /** The aggregation-pipe grammar of a correlation condition — the full
    * family the reference comments out at main.py:98-103:
    *   `count() > N`                    events per key per window
    *   `count() by <field> > N`         same, keyed on <field> from the YAML
    *   `count(<field>) > N`             DISTINCT values of <field> per window
    *   `count(<field>) by <key> > N`    both
    * (`>=` accepted everywhere; whitespace between the by-field and the
    * comparator is optional — `count() by host>1` parses.) Field names are
    * bare identifiers — Sigma's own field grammar. A pipe that IS a
    * `count(...)` form but falls outside the grammar (dotted/hyphenated
    * field, missing by-field) throws rather than silently degrading the
    * rule (r16 verdict: a silent None here made compileDirAll drop the
    * rule with no trace — detection coverage loss). NON-count pipes
    * (`max(Score) > 3`) still return None: they are a different
    * aggregation class this engine doesn't claim, skipped exactly like
    * parse skips what it rejects. */
  private val AggPipe =
    """^\s*count\(\s*([A-Za-z0-9_]*)\s*\)\s*(?:by\s+([A-Za-z0-9_]+)\s*)?(>=|>)\s*(\d+)\s*$""".r
  private[graft] def aggSpec(pipe: String): Option[AggSpec] = pipe match {
    case AggPipe(distinct, by, op, n) =>
      val thr = if (op == ">") n.toLong + 1 else n.toLong
      Some(AggSpec(thr, Option(by).filter(_.nonEmpty),
        Option(distinct).filter(_.nonEmpty)))
    case _ if pipe.trim.startsWith("count(") =>
      throw new IllegalArgumentException(
        s"malformed count() aggregation pipe: '${pipe.trim}' — expected " +
          "count([field]) [by <field>] >|>= N with bare-identifier fields")
    case _ => None
  }

  /** A pipe field name → the engine column that carries it. The sink
    * schema's own keys (`computer_name`, `host`) are top-level columns of
    * the sysmon frame; every other Sigma field lives in the `event_data`
    * struct — the same mapping get_where applies to predicate fields
    * (main.py renders `event_data.<field>`). */
  private[graft] def resolveField(f: String): String =
    if (f == "computer_name" || f == "host") f else s"event_data.$f"

  /** EXTENDED (beyond-parity) mode: compile a Sigma rule WITH `timeframe`
    * into the runnable stateful form — the capability the reference's
    * transpiler skips (main.py:194-195 returns None; its own commented-out
    * grammar at main.py:98-103 is `condition: <sel> | count() > N` +
    * `timeframe: <dur>`, exactly what this accepts). The selection part
    * left of the pipe goes through the SAME condition grammar/modifier
    * translation as [[compile]]; the aggregation pipe becomes the window
    * threshold; `timeframe` becomes the tumbling window length. The group
    * key comes from the pipe's `by` clause when present ([[aggSpec]] —
    * resolved through [[resolveField]], so `by ComputerName` keys on
    * `event_data.ComputerName` while `by host` keys on the top-level
    * column); without one, `keyCol` defaults to `computer_name` (Sigma
    * correlation rules group per host; the sink schema keys alerts on
    * computer_name, windows-process-access.sql:41). A `count(field)` pipe
    * compiles to a DISTINCT-count rule: the threshold compares the number
    * of distinct values of that field per key per window, counted exactly
    * under a bounded state cap ([[graft.streaming.TimeframeRules]]).
    *
    * Returns None when the document is not a timeframe rule, the duration
    * unit is unsupported, or the pipe is outside the [[aggSpec]] grammar —
    * callers fall back to [[compile]] for stateless rules. */
  def compileTimeframe(yamlText: String, keyCol: String = "computer_name")
      : Option[graft.streaming.TimeframeRules.TimeframeRule] =
    compileTimeframeRoot(loadYaml(yamlText), keyCol)

  /** [[compileTimeframe]] on an already-parsed document. */
  private[graft] def compileTimeframeRoot(root: Map[String, Any],
      keyCol: String = "computer_name")
      : Option[graft.streaming.TimeframeRules.TimeframeRule] = {
    val detectionAll = root.get("detection") match {
      case Some(m: java.util.Map[_, _]) => m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Any] }.toMap
      case _ => return None
    }
    for {
      tf <- detectionAll.get("timeframe").map(_.toString)
      window <- timeframeWindow(tf)
      condFull <- detectionAll.get("condition").map(_.toString)
      parts = condFull.split("\\|", 2) if parts.length == 2
      spec <- aggSpec(parts(1))
      base <- buildRuleDef(root, detectionAll, parts(0).trim)
    } yield graft.streaming.TimeframeRules.TimeframeRule(
      base, window, spec.threshold,
      spec.byField.map(resolveField).getOrElse(keyCol),
      spec.distinctField.map(resolveField))
  }

  /** C6 `gen_flink_sql` analog: render one rule as a complete alert-shaped
    * Spark SQL SELECT over a registered sysmon view (main.py:146-176's
    * INSERT template, minus the INSERT — the engine unions the SELECTs).
    * Proven equivalent to the Column path in RuleCompilerSpec. */
  def renderSql(r: RuleDef, from: String): String = {
    val module = r.module.map(Pred.ssq).getOrElse("CAST(NULL AS STRING)")
    val where = r.where.toSparkSql(f => s"event_data.`$f`")
    s"""SELECT computer_name, host,
       |  named_struct(
       |    'kind', 'signal', 'module', $module, 'origin_ids', array(uuid),
       |    'count', CAST(1 AS BIGINT),
       |    'start', timestamp, 'end', timestamp, 'time', timestamp) AS event,
       |  ${threatStructSql(r)},
       |  ${ruleStructSql(r)}
       |FROM $from WHERE $where""".stripMargin
  }

  private def sqlArr(vs: Seq[String]): String =
    if (vs.isEmpty) "CAST(array() AS ARRAY<STRING>)"
    else vs.map(Pred.ssq).mkString("array(", ", ", ")")

  private def threatStructSql(r: RuleDef): String =
    s"""named_struct(
       |    'tactic', ${sqlArr(r.tactic)}, 'technique', ${sqlArr(r.technique)},
       |    'subtechnique', ${sqlArr(r.subtechnique)}) AS threat""".stripMargin

  private def ruleStructSql(r: RuleDef): String =
    s"""named_struct(
       |    'name', ${Pred.ssq(r.name)}, 'author', ${Pred.ssq(r.author)},
       |    'category', ${Pred.ssq(r.category)}, 'severity', ${r.severity},
       |    'description', ${Pred.ssq(r.description)},
       |    'reference', ${sqlArr(r.references)}, 'version', ${Pred.ssq(r.version)},
       |    'source', ${Pred.ssq(r.source)}) AS rule""".stripMargin

  /** C6 analog for the EXTENDED mode: render a compiled timeframe rule as
    * one complete alert-shaped Spark SQL SELECT — the windowed GROUP BY
    * form of [[renderSql]]'s per-event SELECT, so a correlation rule can
    * deploy through a SQL gateway exactly like the reference deploys its
    * stateless rules. Semantics are [[graft.streaming.TimeframeRules.alerts]]
    * verbatim: tumbling `window(timestamp, len)` per key, `count(1)` (or
    * the bounded-exact `min_k_distinct` cardinality for distinct rules)
    * thresholded at >= N, `min_k_collect`-capped provenance, the full
    * threat/rule structs — RuleCompilerSpec pins `spark.sql(rendered)` ≡
    * the Column path row-for-row. The `min_k_*` aggregates resolve
    * through the function registry: call
    * [[graft.functions.GraftFunctions.register]] on the session first
    * (every engine entry point already does). */
  def renderTimeframeSql(r: graft.streaming.TimeframeRules.TimeframeRule,
      from: String): String = {
    // same state-cap guard as alertsBattery (advisor r16): a distinct rule
    // with a pathological threshold must be refused here too, not rendered
    // into a min_k_distinct literal the registry would int-truncate
    r.distinctField.foreach { _ =>
      require(r.threshold <= (1 << 20),
        s"distinct-count threshold ${r.threshold} would need >1M state per cell")
    }
    // a compiled key/distinct column is either a top-level sink column,
    // `event_data.<field>` (resolveField — quote the struct field), or a
    // composite concat_ws expression (multi-field group-by) passed verbatim
    def colExpr(c: String): String =
      if (c.contains("(")) c
      else c.split("\\.", 2) match {
        case Array(p, f) => s"$p.`$f`"
        case _ => c
      }
    val cap = math.max(
      graft.streaming.TimeframeRules.DefaultOriginIdsCap.toLong, r.threshold)
    val nExpr = r.distinctField match {
      case None => "count(1)"
      case Some(f) => s"CAST(size(min_k_distinct(${colExpr(f)}, $cap)) AS BIGINT)"
    }
    val module = r.base.module.map(Pred.ssq).getOrElse("CAST(NULL AS STRING)")
    val where = r.base.where.toSparkSql(f => s"event_data.`$f`")
    s"""SELECT computer_name, host,
       |  named_struct(
       |    'kind', 'signal', 'module', $module, 'origin_ids', origin_ids,
       |    'count', n, 'start', w.start, 'end', w.end, 'time', w.end) AS event,
       |  ${threatStructSql(r.base)},
       |  ${ruleStructSql(r.base)}
       |FROM (
       |  SELECT ${colExpr(r.keyCol)} AS computer_name, min(host) AS host,
       |    window(timestamp, '${r.windowLength}') AS w,
       |    $nExpr AS n,
       |    min_k_collect(uuid, ${graft.streaming.TimeframeRules.DefaultOriginIdsCap}) AS origin_ids
       |  FROM $from WHERE $where
       |  GROUP BY ${colExpr(r.keyCol)}, window(timestamp, '${r.windowLength}')
       |)
       |WHERE n >= ${r.threshold}""".stripMargin
  }

  /** C8 `walk_path`: compile every YAML file under a directory. */
  def compileDir(path: String): Seq[RuleDef] =
    yamlFiles(path).flatMap { case (_, text) => compile(text) }

  /** Everything a Sigma repo compiles to — the three deployment classes:
    * stateless dispatch rules, windowed-count (timeframe/event_count/
    * value_count) rules, and temporal pair-correlation rules. */
  final case class CompiledRepo(
      stateless: Seq[RuleDef],
      timeframe: Seq[graft.streaming.TimeframeRules.TimeframeRule],
      sequence: Seq[graft.streaming.SequenceRules.SequenceRule]) {
    def isEmpty: Boolean = stateless.isEmpty && timeframe.isEmpty && sequence.isEmpty
    def ++(o: CompiledRepo): CompiledRepo =
      CompiledRepo(stateless ++ o.stateless, timeframe ++ o.timeframe,
        sequence ++ o.sequence)
  }
  object CompiledRepo {
    val empty: CompiledRepo = CompiledRepo(Seq.empty, Seq.empty, Seq.empty)
  }

  /** C8, EXTENDED: compile a MIXED rule directory — stateless rules
    * through the parity [[compile]], `timeframe` rules through
    * [[compileTimeframe]], correlation files through
    * [[compileCorrelationFile]] — so one Sigma repo deploys in one call
    * ([[graft.engine.AlertPipeline.alertsCombined]] for the first two
    * classes; [[graft.streaming.SequenceRules.alertsFor]] per temporal
    * rule). Documents no mode accepts (e.g. `max()` pipes) are skipped,
    * exactly like [[compileDir]] skips what `parse` rejects.
    *
    * FAILURE POLICY (round 18, advisor r17): one bad rule must not take
    * down a 1000-rule deployment, and no coverage loss is silent. A file
    * whose compile THROWS (e.g. a malformed `count()` pipe — [[aggSpec]]'s
    * loud reject — or an unknown condition token) is logged to stderr
    * with its path and reason and the walk continues; a correlation file
    * that compiles to NOTHING (unsupported type, unresolved refs,
    * non-numeric threshold, unit-less timespan) is logged the same way.
    * Operators see exactly which rules did not deploy; nothing aborts. */
  def compileDirAll(path: String): CompiledRepo =
    yamlFiles(path).foldLeft(CompiledRepo.empty) { case (acc, (file, yaml)) =>
      try {
        val docs = loadAllDocs(yaml)
        if (docs.exists(_.contains("correlation")))
          compileCorrelationDocs(docs) match {
            case Some(repo) => acc ++ repo
            case None =>
              warn(file, "correlation file compiled to nothing (unsupported " +
                "correlation type, unresolved rule refs, non-numeric " +
                "threshold, or unit-less timespan) — not deployed")
              acc
          }
        else docs.foldLeft(acc) { case (a, root) =>
          compileRoot(root) match {
            case Some(r) => a.copy(stateless = a.stateless :+ r)
            case None => compileTimeframeRoot(root) match {
              case Some(tf) => a.copy(timeframe = a.timeframe :+ tf)
              case None => a
            }
          }
        }
      } catch {
        case e: Exception =>
          warn(file, s"rule compile failed (${e.getMessage}) — not deployed")
          acc
      }
    }

  /** Deployment-coverage warning: path + reason to stderr (the driver of
    * a 1000-rule deployment reads these to see which rules are missing). */
  private def warn(file: String, msg: String): Unit =
    System.err.println(s"[graft.RuleCompiler] $file: $msg")

  /** The MODERN Sigma correlation format (the public Sigma meta-rule /
    * correlations specification — the successor of the legacy
    * `condition: sel | count() > N` pipe this compiler also accepts): a
    * multi-document YAML file where base detection rules are followed by
    * a document carrying a `correlation:` block —
    * {{{
    * correlation:
    *     type: event_count          # or value_count
    *     rules: [base_rule_name]    # refs by the base doc's name:/title:
    *     group-by: [host]           # optional; default computer_name
    *     timespan: 10m
    *     condition:
    *         gte: 10                # or gt
    *     field: TargetUser          # value_count only
    *     generate: true             # optional: ALSO deploy the base rules
    * }}}
    * Compiles `event_count`/`value_count` to the same
    * [[graft.streaming.TimeframeRules.TimeframeRule]] the legacy pipe
    * grammar produces: the windowed predicate is the OR of the referenced
    * rules' compiled predicates, `event_count` thresholds the event count,
    * `value_count` the bounded-exact distinct count of `field`. The
    * `temporal` / `temporal_ordered` types (any ref count ≥ 2) compile to
    * a [[graft.streaming.SequenceRules.SequenceRule]] — all referenced
    * rules on the same key within `timespan`; document order enforced
    * only by the `_ordered` variant (the ordered chain correlator; plain
    * `temporal` runs the any-order slot correlator).
    * The group key resolves through [[resolveField]]; a MULTI-field
    * `group-by` becomes one composite escaped `concat_ws('|', …)` key
    * ([[groupByKey]]) carried through the alert's computer_name, with the
    * resolved parts on the rule's `keyParts`.
    *
    * Deployment semantics per the Sigma correlations spec: a base rule
    * REFERENCED by a correlation is suppressed from stateless deployment
    * unless that correlation says `generate: true` (then its OWN refs
    * also deploy stateless); a base rule referenced by NO correlation in
    * the file is an ordinary co-resident rule and always deploys (r16
    * verdict/advisor: the old all-or-nothing generate silently disabled
    * unreferenced siblings). Documented limits, rejected as None:
    * correlation types beyond the four above, non-numeric thresholds,
    * timespans without a fixed length, single-ref temporal correlations,
    * temporal correlations that reference one rule more than once (an
    * event takes the FIRST step it matches, so a repeated ref's later
    * step could never fire), and refs that don't resolve within the same
    * file ([[compileDirAll]] logs each rejection with the file path). */
  def compileCorrelationFile(yamlText: String): Option[CompiledRepo] =
    compileCorrelationDocs(loadAllDocs(yamlText))

  private def strList(v: Any): Seq[String] = v match {
    case l: java.util.List[_] => l.asScala.toSeq.map(_.toString)
    case s => Seq(s.toString)
  }

  /** The correlation doc's own metadata as the compiled rule's RuleDef,
    * with the given windowed/pair predicate. */
  private def corrMeta(cdoc: Map[String, Any], where: Pred): RuleDef = {
    val tags = cdoc.get("tags").map(strList).getOrElse(Seq.empty)
    val (tactic, technique, subtech) = attackTech(tags)
    RuleDef(
      name = cdoc.getOrElse("title", "").toString,
      author = cdoc.getOrElse("author", "").toString,
      severity = severity(cdoc.getOrElse("level", "").toString),
      description = cdoc.getOrElse("description", "").toString,
      references = cdoc.get("references").map(strList).getOrElse(Seq.empty),
      tactic = tactic, technique = technique, subtechnique = subtech,
      module = None, where = where)
  }

  /** One compiled correlation doc + its referenced rule names + its
    * generate flag — the unit [[compileCorrelationDocs]] assembles. */
  private final case class CompiledCorr(
      refs: Seq[String], generate: Boolean,
      timeframe: Option[graft.streaming.TimeframeRules.TimeframeRule],
      sequence: Option[graft.streaming.SequenceRules.SequenceRule])

  private def compileOneCorrelation(cdoc: Map[String, Any],
      byName: Map[String, RuleDef]): Option[CompiledCorr] = {
    import graft.streaming.{SequenceRules, TimeframeRules}
    for {
      c <- docMap(cdoc("correlation"))
      typ = c.getOrElse("type", "").toString
      refs <- c.get("rules").map(strList) if refs.nonEmpty
      bases = refs.flatMap(byName.get) if bases.size == refs.size
      timespan <- c.get("timespan").map(_.toString)
      keyFields = c.get("group-by").map(strList).getOrElse(Seq.empty)
      keyCol = groupByKey(keyFields)
      keyParts = groupByParts(keyFields)
      generate = c.get("generate").exists(_.toString == "true")
      corr <- typ match {
        case "event_count" | "value_count" =>
          for {
            window <- timeframeWindow(timespan)
            cond <- c.get("condition").flatMap(docMap)
            // non-numeric condition values reject as None like every other
            // guard — one malformed doc must not crash the directory walk
            // (advisor r16)
            threshold <- cond.get("gte")
              .flatMap(v => scala.util.Try(v.toString.toLong).toOption)
              .orElse(cond.get("gt")
                .flatMap(v => scala.util.Try(v.toString.toLong).toOption)
                .map(_ + 1))
            distinctField <- typ match {
              case "value_count" => c.get("field").map(f => Some(resolveField(f.toString)))
              case _ => Some(Option.empty[String])
            }
          } yield CompiledCorr(refs, generate,
            // a multi-ref correlation counts events matching ANY referenced
            // rule — the OR of their compiled predicates
            Some(TimeframeRules.TimeframeRule(
              corrMeta(cdoc, bases.map(_.where).reduce[Pred](Or(_, _))),
              window, threshold, keyCol, distinctField, keyParts)),
            None)
        case "temporal" | "temporal_ordered" =>
          for {
            gapUs <- timeframeMicros(timespan)
            // any ref count ≥ 2 of DISTINCT refs: ordered routes to
            // correlateChain, unordered to correlateAnyOrder
            if refs.size >= 2 && refs.distinct.size == refs.size
          } yield CompiledCorr(refs, generate, None,
            Some(SequenceRules.SequenceRule(
              corrMeta(cdoc, bases.map(_.where).reduce[Pred](Or(_, _))),
              bases, gapUs, keyCol,
              ordered = typ == "temporal_ordered", keyParts = keyParts)))
        case _ => None
      }
    } yield corr
  }

  private def compileCorrelationDocs(docs: Seq[Map[String, Any]])
      : Option[CompiledRepo] = {
    val (corrDocs, baseDocs) = docs.partition(_.contains("correlation"))
    if (corrDocs.isEmpty || baseDocs.isEmpty) return None
    // base rules indexed by the Sigma `name:` attribute (correlation refs
    // use it), falling back to the title — insertion-ordered so deployment
    // order is document order
    val byName: Seq[(String, RuleDef)] = baseDocs.flatMap { d =>
      compileRoot(d).map(r =>
        d.getOrElse("name", d.getOrElse("title", "")).toString -> r)
    }
    val compiled = corrDocs.flatMap(compileOneCorrelation(_, byName.toMap))
    if (compiled.isEmpty) return None
    // per the spec: refs of a correlation are suppressed stateless unless
    // THAT correlation generates; unreferenced co-resident rules always
    // deploy stateless
    val referenced = compiled.flatMap(_.refs).toSet
    val generated = compiled.filter(_.generate).flatMap(_.refs).toSet
    val stateless = byName.collect {
      case (n, r) if !referenced(n) || generated(n) => r
    }
    Some(CompiledRepo(stateless,
      compiled.flatMap(_.timeframe), compiled.flatMap(_.sequence)))
  }

  private def docMap(obj: Any): Option[Map[String, Any]] = obj match {
    case m: java.util.Map[_, _] =>
      Some(m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Any] }.toMap)
    case _ => None
  }

  /** Every document of a (possibly multi-document) YAML text. */
  private[graft] def loadAllDocs(text: String): Seq[Map[String, Any]] = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    yaml.loadAll(text).asScala.toSeq.flatMap(docMap)
  }

  /** (path, text) per YAML file — the path rides along so [[compileDirAll]]
    * can name the file in its coverage warnings. */
  private def yamlFiles(path: String): Seq[(String, String)] = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".yml") || f.getName.endsWith(".yaml")) Seq(f)
      else Seq.empty
    walk(root).map(f => f.getPath ->
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
  }

  private def loadYaml(text: String): Map[String, Any] = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val obj = yaml.load[java.util.Map[String, Object]](text)
    obj.asScala.map { case (k, v) => k -> v.asInstanceOf[Any] }.toMap
  }
}
