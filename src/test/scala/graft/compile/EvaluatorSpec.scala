package graft.compile

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ops.Detection
import graft.rules.ReferenceCorpus

/** Pins Pred.evaluator (the off-Spark row interpreter that graftbench and
  * RuleDispatchExprSpec use as the alert reference) against the Spark
  * Column path: for every corpus rule, the set of matching events over
  * the synth load must be IDENTICAL — including the Kleene-null edges (IS NULL probes, negated nulls, deep
  * exclusion chains). A drift here would silently corrupt the alert
  * reference every dispatch check compares against. */
class EvaluatorSpec extends SparkSpec {
  test("evaluator matches the Spark filter for every corpus rule on the synth load") {
    val flat = Detection.synth(spark, "/root/testdata/sf0.001")
    val rows = flat.limit(5000).collect()
    val schema = flat.schema
    ReferenceCorpus.allRules.foreach { r =>
      val sparkIds = flat.limit(5000).filter(r.where.toColumn(col))
        .select("eid").collect().map(_.getLong(0)).toSet
      val ev = r.where.evaluator
      val localIds = rows.filter { row =>
        ev(
          f => { val j = schema.fieldIndex(f)
                 if (row.isNullAt(j)) null else row.getString(j) },
          c => { val j = schema.fieldIndex(c)
                 if (row.isNullAt(j)) null else row.get(j) }) == java.lang.Boolean.TRUE
      }.map(_.getAs[Long]("eid")).toSet
      assert(localIds == sparkIds,
        s"${r.name}: evaluator=${localIds.size} spark=${sparkIds.size} " +
          s"diff=${(localIds diff sparkIds) ++ (sparkIds diff localIds)}")
    }
  }

  test("evaluator Kleene-null semantics: NOT over a null field is not a match") {
    // a field that is null in the data: Not(Eq(null-field, v)) must be
    // SQL NULL (no match), not true — the classic exclusion-chain trap
    val p = Not(Eq("ParentImage", "x"))
    val ev = p.evaluator
    assert(ev(_ => null, _ => null) == null)
    assert(ev(_ => "y", _ => null) == java.lang.Boolean.TRUE)
    assert(ev(_ => "x", _ => null) == java.lang.Boolean.FALSE)
    // and Or/And propagate per Kleene
    assert(Or(IsNull("f"), Eq("f", "v")).evaluator(_ => null, _ => null)
      == java.lang.Boolean.TRUE)
    assert(And(Not(Eq("f", "v")), Eq("g", "w")).evaluator(
      f => if (f == "g") "w" else null, _ => null) == null)
  }
}
