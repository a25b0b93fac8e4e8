package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.compile._

import scala.util.Random

/** rule_dispatch correctness: the single-node battery dispatch must agree
  * with (a) a direct three-valued-logic interpreter on random predicate
  * trees (the PredPropertySpec discipline, lifted to the fired-id set),
  * (b) its own interpreted eval path (codegen ≡ interpreted — the
  * SimilarToExpr/ShingleIdsExpr contract), and (c) per-rule filters and
  * the off-Spark `Pred.evaluator`, over the full corpus. */
class RuleDispatchExprSpec extends SparkSpec {

  private val fields = Seq("A", "B", "C")
  private val values = Seq("x", "yy", """C:\p\q.exe""", "%odd", "a_b", "", "zz")
  private val patterns = Seq(
    "%", "x%", "%x", "%x%", "a_b", "%q.exe", """%\p\%""", "_", "%%y", """C:\p\q.exe""")
  private val regexes = Seq("x+", "[a-z]{2}", ".*q\\.exe", "z*")

  /** Reference interpreter — identical to PredPropertySpec's. */
  private def eval(p: Pred, row: Map[String, String], eventId: Option[Long]): Option[Boolean] = p match {
    case Eq(f, v) => row.get(f).filter(_ != null).map(_ == v)
    case In(f, vs) => row.get(f).filter(_ != null).map(vs.contains)
    case IsNull(f) => Some(row.get(f).forall(_ == null))
    case Like(f, pat) =>
      row.get(f).filter(_ != null).map(_.matches(Pred.likeToRegex(pat)))
    case SimilarTo(f, pat) =>
      row.get(f).filter(_ != null)
        .map(v => java.util.regex.Pattern.compile(s"^(?:${Pred.fixRegex(pat)})$$").matcher(v).find())
    case TopEq(_, v) => eventId.map(_ == v)
    case And(l, r) => (eval(l, row, eventId), eval(r, row, eventId)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    case Or(l, r) => (eval(l, row, eventId), eval(r, row, eventId)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }
    case Not(q) => eval(q, row, eventId).map(!_)
  }

  private def genPred(rnd: Random, depth: Int): Pred = {
    val leaf = depth <= 0 || rnd.nextInt(3) == 0
    if (leaf) rnd.nextInt(6) match {
      case 0 => Eq(fields(rnd.nextInt(3)), values(rnd.nextInt(values.size)))
      case 1 => In(fields(rnd.nextInt(3)),
        Seq.fill(1 + rnd.nextInt(3))(values(rnd.nextInt(values.size))).distinct)
      case 2 => IsNull(fields(rnd.nextInt(3)))
      case 3 => Like(fields(rnd.nextInt(3)), patterns(rnd.nextInt(patterns.size)))
      case 4 => SimilarTo(fields(rnd.nextInt(3)), regexes(rnd.nextInt(regexes.size)))
      case 5 => TopEq("event_id", 1L + rnd.nextInt(3))
    } else rnd.nextInt(3) match {
      case 0 => And(genPred(rnd, depth - 1), genPred(rnd, depth - 1))
      case 1 => Or(genPred(rnd, depth - 1), genPred(rnd, depth - 1))
      case 2 => Not(genPred(rnd, depth - 1))
    }
  }

  /** rows: (rid, event_id or null, field map or null-struct marker). */
  private def structFrame(rows: Seq[(Long, Option[Long], Option[Map[String, String]])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("rid", LongType),
      StructField("event_id", LongType),
      StructField("event_data", StructType(fields.map(StructField(_, StringType))))))
    val data = rows.map { case (rid, eid, m) =>
      Row(rid, eid.map(Long.box).orNull,
        m.map(mm => Row.fromSeq(fields.map(mm(_)))).orNull)
    }
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava), schema)
  }

  private def firedVia(df: DataFrame, preds: Seq[Pred]): Map[Long, Seq[Int]] =
    df.select(col("rid"),
      RuleDispatch.column(preds, col("event_data"), col("event_id")).as("fired"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap

  private def mkRows(rnd: Random, n: Int): Seq[(Long, Option[Long], Option[Map[String, String]])] =
    Seq.tabulate(n) { i =>
      val m = if (rnd.nextInt(12) == 0) None // whole-struct NULL
      else Some(fields.map { f =>
        f -> (if (rnd.nextInt(4) == 0) null else values(rnd.nextInt(values.size)))
      }.toMap)
      val eid = if (rnd.nextInt(12) == 0) None else Some(1L + rnd.nextInt(3))
      (i.toLong, eid, m)
    }

  /** A battery whose rules reuse a pool of random subtrees: a reused
    * subtree sits behind an event_id gate in some rules (skipped there by
    * the short circuit) and bare in others, so the per-row memo holds
    * NULL verdicts and verdicts first needed after a skip. */
  private def sharedBattery(rnd: Random, n: Int): (Seq[Pred], Seq[Pred]) = {
    val pool = Seq.fill(12)(genPred(rnd, 2))
    def pick = pool(rnd.nextInt(pool.size))
    val preds = Seq.fill(n)(rnd.nextInt(4) match {
      case 0 => And(TopEq("event_id", 1L + rnd.nextInt(3)), pick)
      case 1 => Or(pick, Not(pick))
      case 2 => And(pick, genPred(rnd, 1))
      case 3 => pick
    })
    (pool, preds)
  }

  // a NULL struct reads every field as NULL, exactly like getField
  private def rowMap(m: Option[Map[String, String]]): Map[String, String] =
    m.getOrElse(fields.map(_ -> (null: String)).toMap)

  private def expected(preds: Seq[Pred], eid: Option[Long],
      m: Option[Map[String, String]]): Seq[Int] =
    preds.zipWithIndex.collect {
      case (p, i) if eval(p, rowMap(m), eid).contains(true) => i
    }

  /** Runs `body` with whole-stage codegen and expression codegen off. */
  private def noCodegen[T](body: => T): T = {
    val conf = spark.conf
    val ws = conf.get("spark.sql.codegen.wholeStage")
    val fm = conf.get("spark.sql.codegen.factoryMode")
    try {
      conf.set("spark.sql.codegen.wholeStage", "false")
      conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      body
    } finally {
      conf.set("spark.sql.codegen.wholeStage", ws)
      conf.set("spark.sql.codegen.factoryMode", fm)
    }
  }

  test("random batteries: codegen'd dispatch == three-valued interpreter (seed 42)") {
    val rnd = new Random(42)
    val preds = Seq.fill(150)(genPred(rnd, 3))
    val rows = mkRows(rnd, 60)
    val fired = firedVia(structFrame(rows), preds)
    for ((rid, eid, m) <- rows)
      assert(fired(rid) == expected(preds, eid, m),
        s"rid=$rid eid=$eid row=$m fired=${fired(rid)} expected=${expected(preds, eid, m)}")

    // shared subtrees: a memo that leaks across rows or skips its reset
    // answers one row with another's verdicts
    val (pool, shared) = sharedBattery(rnd, 150)
    val sharedRows = mkRows(rnd, 80)
    def memoised(p: Pred) = !p.isInstanceOf[TopEq] && !p.isInstanceOf[IsNull]
    def subtrees(p: Pred): Seq[Pred] = p +: (p match {
      case And(l, r) => subtrees(l) ++ subtrees(r)
      case Or(l, r) => subtrees(l) ++ subtrees(r)
      case Not(q) => subtrees(q)
      case _ => Nil
    })
    assert(pool.exists(p => memoised(p) &&
      sharedRows.exists { case (_, eid, m) => eval(p, rowMap(m), eid).isEmpty }),
      "no reused subtree yields NULL on these rows")
    assert(shared.exists {
      case And(TopEq(_, v), p) => memoised(p) && sharedRows.exists(_._2.exists(_ != v)) &&
        shared.count(r => subtrees(r).contains(p)) > 1
      case _ => false
    }, "no reused subtree is skipped behind a gate")
    val df = structFrame(sharedRows)
    for ((label, got) <- Seq("codegen" -> firedVia(df, shared),
        "NO_CODEGEN" -> noCodegen(firedVia(df, shared))))
      for ((rid, eid, m) <- sharedRows)
        assert(got(rid) == expected(shared, eid, m),
          s"$label rid=$rid eid=$eid row=$m fired=${got(rid)} expected=${expected(shared, eid, m)}")
  }

  test("interpreted eval path == codegen path (factoryMode=NO_CODEGEN)") {
    val rnd = new Random(7)
    val preds = Seq.fill(80)(genPred(rnd, 3))
    // plus a NULL struct and a NULL event_id for certain
    val rows = mkRows(rnd, 40) ++ Seq(
      (40L, Some(1L), None), (41L, None, Some(fields.map(_ -> "x").toMap)))
    val df = structFrame(rows)
    val viaCodegen = firedVia(df, preds)
    assert(noCodegen(firedVia(df, preds)) == viaCodegen)
    for ((rid, eid, m) <- rows) assert(viaCodegen(rid) == expected(preds, eid, m), s"rid=$rid")
  }

  test("corpus battery over synth events: dispatch fired set == per-rule filters") {
    val rules = graft.rules.ReferenceCorpus.active
    val df = graft.ops.Detection.nestedFrom(graft.ops.Detection.synthFrom(
      spark.range(500).select(col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000).as("ts"))))
      .withColumn("rid", col("eid"))
    val fired = firedVia(df, rules.map(_.where))
    rules.zipWithIndex.foreach { case (r, i) =>
      val direct = df.filter(r.where.toColumn(col("event_data").getField))
        .select("rid").collect().map(_.getLong(0)).toSet
      val viaDispatch = fired.collect { case (rid, ids) if ids.contains(i) => rid }.toSet
      assert(viaDispatch == direct, s"rule ${r.name}: $viaDispatch != $direct")
    }
  }

  test("alertsMerged at 1000 rules == the Pred.evaluator reference") {
    // the bag of (rule name, origin uuid) pairs: a fired rid that indexed
    // the wrong row of the 1000-rule metadata literal shows up as a
    // wrong name
    val rules = graft.StreamBench.cloneRules(graft.rules.ReferenceCorpus.active, 1000)
    val df = graft.ops.Detection.nestedFrom(graft.ops.Detection.synthFrom(
      spark.range(200).select(col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000).as("ts"))))
    val got = graft.engine.AlertPipeline.alertsMerged(df, rules)
      .select(col("rule.name"), col("event.origin_ids")(0))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    val evs = rules.map(r => (r.name, r.where.evaluator))
    val want = df.select("uuid", "event_id", "event_data").collect().toSeq.flatMap { row =>
      val ed = row.getStruct(2)
      val field: String => String = f => ed.getAs[String](f)
      val top: String => Any = c => if (c == "event_id") row.get(1) else null
      evs.collect { case (name, ev) if ev(field, top) == java.lang.Boolean.TRUE =>
        (name, row.getString(0)) }
    }.sorted
    assert(got.nonEmpty && got == want)
  }

  test("plan is O(1) in rule count: node AND expression counts equal at 25 vs 1000 rules") {
    val df = graft.ops.Detection.nestedFrom(graft.ops.Detection.synthFrom(
      spark.range(50).select(col("id").as("event_id"),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000).as("ts"))))
    def shape(n: Int): (Int, Int, Int) = {
      val rules = graft.StreamBench.cloneRules(graft.rules.ReferenceCorpus.active, n)
      val qe = graft.engine.AlertPipeline.alertsMerged(df, rules).queryExecution
      val plan = qe.optimizedPlan
      val nodes = plan.collect { case p => p }.size
      // every expression node Catalyst re-walks per micro-batch — the
      // quantity the O(rules) when/otherwise tree grew and rule_dispatch
      // must NOT (the battery hides in a constructor field)
      val exprs = plan.collect { case p =>
        p.expressions.map(e => e.collect { case x => x }.size).sum
      }.sum
      // the whole-stage Java regenerated (and Janino/JIT-compiled) per
      // micro-batch: the battery must not reach it either
      val source = org.apache.spark.sql.execution.debug
        .codegenStringSeq(qe.executedPlan).map(_._2.length).sum
      (nodes, exprs, source)
    }
    val (n25, e25, s25) = shape(25)
    val (n1000, e1000, s1000) = shape(1000)
    assert(n25 == n1000, s"plan nodes grew with rules: $n25 -> $n1000")
    assert(e25 == e1000, s"plan expressions grew with rules: $e25 -> $e1000")
    // slack for name numbering only
    assert(s25 > 0 && s1000 <= s25 + 64, s"generated source grew with rules: $s25 -> $s1000 chars")
  }

  test("two batteries in ONE projection: codegen compiles, each fires its own rules") {
    // regression: two dispatch expressions in one whole-stage class once
    // emitted colliding method names and Janino failed, silently falling
    // back to interpreted execution
    val rnd = new Random(11)
    val a = Seq.fill(10)(genPred(rnd, 2))
    val b = Seq.fill(10)(genPred(rnd, 2))
    val rows = mkRows(rnd, 30)
    val df = structFrame(rows)
    val both = df.select(col("rid"),
      RuleDispatch.column(a, col("event_data"), col("event_id")).as("fa"),
      RuleDispatch.column(b, col("event_data"), col("event_id")).as("fb"))
    // jitDeadZone compiles every codegen stage — a duplicate-method
    // collision raises out of here instead of passing silently
    assert(graft.PlanAudit.jitDeadZone(both.queryExecution.executedPlan).isEmpty)
    val got = both.collect()
      .map(r => r.getLong(0) -> (r.getSeq[Int](1).toSeq, r.getSeq[Int](2).toSeq)).toMap
    for ((rid, eid, m) <- rows) {
      assert(got(rid) == ((expected(a, eid, m), expected(b, eid, m))), s"rid=$rid")
    }
  }

  test("a battery Column resolves in a session that registered nothing") {
    // the Column carries the expression itself, so analysis looks nothing
    // up by name: a fresh session with an empty function registry runs it
    val other = spark.newSession()
    val df = other.createDataFrame(
      java.util.Arrays.asList(Row(1L, Row("x", null, "zz"))),
      StructType(Seq(StructField("event_id", LongType),
        StructField("event_data", StructType(fields.map(StructField(_, StringType)))))))
    val battery = Seq(Eq("A", "x"), Eq("B", "x"), Like("C", "z%"), TopEq("event_id", 2L))
    val fired = df.select(RuleDispatch.column(battery,
      col("event_data"), col("event_id"))).collect()(0).getSeq[Int](0)
    assert(fired == Seq(0, 2))
  }

  test("analysis errors: missing field, non-long event_id") {
    val df = structFrame(Seq((0L, Some(1L), Some(fields.map(_ -> "x").toMap))))
    intercept[org.apache.spark.sql.AnalysisException] { // field D not in struct
      df.select(RuleDispatch.column(Seq(Eq("D", "x")),
        col("event_data"), col("event_id"))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] { // rid is not the struct
      df.select(RuleDispatch.column(Seq(Eq("A", "x")),
        col("rid"), col("event_id"))).collect()
    }
    val intId = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(RuleDispatch.column(Seq(Eq("A", "x")),
        col("event_data"), col("event_id").cast("int"))).collect()
    }
    assert(intId.getMessage.contains("expects a BIGINT event_id, got int"), intId.getMessage)
  }

  test("analysis errors: top-level rid, non-string event_data field") {
    val df = structFrame(Seq((0L, Some(1L), Some(fields.map(_ -> "x").toMap))))
    val top = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(RuleDispatch.column(Seq(And(TopEq("rid", 0L), Eq("A", "x"))),
        col("event_data"), col("event_id"))).collect()
    }
    assert(top.getMessage.contains("top-level predicates support only event_id, got rid"),
      top.getMessage)
    val nonString = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(RuleDispatch.column(Seq(Or(Eq("A", "x"), Eq("N", "1"))),
        struct(col("event_data.A").as("A"), col("rid").as("N")), col("event_id"))).collect()
    }
    assert(nonString.getMessage.contains("non-string event_data fields: N"), nonString.getMessage)
  }
}
