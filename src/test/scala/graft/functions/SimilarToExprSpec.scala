package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilarToExprSpec extends SparkSpec {

  test("similar_to: anchored whole-string match, unlike rlike") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq("abc", "xabcx", "ab").toDF("s")
    val out = df.selectExpr("s", "similar_to(s, 'a[b]c') AS m").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out == Map("abc" -> true, "xabcx" -> false, "ab" -> false))
    // rlike by contrast substring-matches
    val r = df.selectExpr("s", "s rlike 'a[b]c' AS m").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(r("xabcx")) // the difference similar_to exists to fix
  }

  test("similar_to: corpus GUID pattern with literal braces + quantifiers") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val pat = """{[a-fA-F0-9]{8}-[a-fA-F0-9]{4}-[a-fA-F0-9]{4}-[a-fA-F0-9]{4}-[a-fA-F0-9]{12}}"""
    val df = Seq(
      "{abcdef12-3456-7890-abcd-ef1234567890}",
      "x {abcdef12-3456-7890-abcd-ef1234567890}", // not anchored-match
      "{zzz}").toDF("s")
    val out = df.selectExpr("s", s"similar_to(s, '$pat') AS m").collect()
    assert(out.map(_.getBoolean(1)).toSeq == Seq(true, false, false))
  }

  test("null semantics: null input or null pattern → null") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(Some("a"), None).toDF("s")
    val out = df.selectExpr("similar_to(s, 'a')").collect()
    assert(out(0).getBoolean(0) && out(1).isNullAt(0))
    val np = df.selectExpr("similar_to(s, CAST(NULL AS STRING))").collect()
    assert(np.forall(_.isNullAt(0)))
  }

  test("stays inside whole-stage codegen with a foldable pattern") {
    GraftFunctions.register(spark)
    // parquet-backed so the plan can't constant-fold to a LocalTableScan
    val df = graft.engine.Tables(spark, "/root/testdata/sf0.001", "events")
      .filter(expr("similar_to(event_type, '(click|view)')"))
      .select("event_id")
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage; the filter
    // carrying SIMILAR TO must be starred, not a standalone fallback
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("SIMILAR TO")), plan)
    assert(df.count() > 0) // and the generated code actually runs
  }

  test("an extensions-only session resolves every function register adds") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    // the names register adds: a fresh session's registry minus builtins
    val plain = spark.newSession()
    GraftFunctions.register(plain)
    val builtin = FunctionRegistry.builtin.listFunction().toSet
    val added = plain.sessionState.functionRegistry.listFunction().toSet -- builtin
    assert(added.map(_.funcName).contains("min_k_collect"))
    // a new session on the same context whose functions come only from
    // spark.sql.extensions; register is never called on it
    val ext = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new GraftExtensions).create()
    try {
      val missing = added.filterNot(ext.sessionState.functionRegistry.functionExists)
      // kmv64 is a udaf wrapper with no builder triple; no rendered SQL uses it
      assert(missing == Set(FunctionIdentifier("kmv64")), missing.mkString(", "))
      // the timeframe SQL's distinct-count aggregate runs there
      val r = ext.sql("SELECT size(min_k_distinct(s, 3)) FROM VALUES ('a'), ('b'), ('a') AS t(s)")
        .head().getInt(0)
      assert(r == 2)
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }
}
