package graft

/** Runs the fleet-wide plan audit as a test: EVERY registered query's
  * physical plan (plan build only, nothing executes) must be free of
  * cartesian products, non-broadcast nested-loop joins, data-bearing
  * single-partition exchanges, 10+-shuffle pileups, and big-table scans
  * consumed outside whole-stage codegen. PlanSpec pins the important
  * plans precisely; this catches a scale regression in any query nobody
  * thought to pin. */
class PlanAuditSpec extends SparkSpec {
  test("no registered query has a scale-hostile plan shape") {
    val flagged = PlanAudit.audit(spark, "/root/testdata/sf0.001")
    assert(flagged.isEmpty, flagged.map { case (n, f) => s"$n: $f" }.mkString("; "))
  }

  test("JIT dead-zone sweep sees the tree dispatch's huge method (positive control)") {
    // the known inhabitant, built here: the when/otherwise spelling of
    // the 25-rule dispatch (the shape rule_dispatch replaced) fuses into
    // one whole-stage method above HotSpot's 8000-byte JIT ceiling (the
    // round-12 interpreted-execution finding). If the sweep can't see
    // THIS stage, its empty report elsewhere proves nothing. The
    // rule_dispatch spelling must stay OUT of the zone — its generated
    // code is one evaluator call — which the assertions after it pin.
    import org.apache.spark.sql.functions._
    val nested = ops.Detection.nested(spark, "/root/testdata/sf0.001")
    val fired = array(rules.ReferenceCorpus.active.zipWithIndex.map { case (r, i) =>
      when(r.where.toColumn(col("event_data").getField), i).otherwise(-1)
    }: _*)
    val tree = nested.withColumn("rid", explode(array_remove(fired, -1)))
      .queryExecution.executedPlan
    val dz = PlanAudit.jitDeadZone(tree)
    assert(dz.nonEmpty && dz.max > 8000,
      s"tree-dispatch stage not seen in the dead zone: $dz")
    // the rule_dispatch spelling generates one evaluator call: no stage
    // of the SAME pipeline may sit in the zone, at 25 or at 1000 rules
    val rd25 = engine.AlertPipeline
      .alertsMerged(nested, rules.ReferenceCorpus.active)
      .queryExecution.executedPlan
    assert(PlanAudit.jitDeadZone(rd25).isEmpty,
      s"rule_dispatch(25) re-entered the dead zone: ${PlanAudit.jitDeadZone(rd25)}")
    val rd1000 = engine.AlertPipeline
      .alertsMerged(nested, StreamBench.cloneRules(rules.ReferenceCorpus.active, 1000))
      .queryExecution.executedPlan
    assert(PlanAudit.jitDeadZone(rd1000).isEmpty,
      s"rule_dispatch(1000) re-entered the dead zone: ${PlanAudit.jitDeadZone(rd1000)}")
    // and a trivially small plan reports nothing
    val small = spark.range(10).toDF("id").queryExecution.executedPlan
    assert(PlanAudit.jitDeadZone(small).isEmpty)
  }

  test("the interpreted-scan detector fires when codegen is disabled (negative control)") {
    // 0-flagged above is only meaningful if the detector CAN flag: turn
    // whole-stage codegen off and the same audit must report interpreted
    // big-table scans everywhere
    val before = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val flagged = PlanAudit.audit(spark, "/root/testdata/sf0.001")
      assert(flagged.exists(_._2.contains("interpreted big-table scan")),
        s"detector failed to fire with codegen off: $flagged")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", before)
  }

  test("interpreted-scan detector resets at codegen-stage boundaries (mixed plans)") {
    // A WSCG ancestor must not cover scans that sit in a DIFFERENT (failed)
    // codegen stage below an InputAdapter — but a scan that IS the
    // adapter's direct child (the stage's input iterator) stays covered.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.catalyst.expressions.Literal
    val scan = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }.head
    val covered = WholeStageCodegenExec(InputAdapter(scan))(1)
    val mixed = WholeStageCodegenExec(InputAdapter(
      FilterExec(Literal.TrueLiteral, scan)))(1)
    assert(PlanAudit.scansOutsideCodegen(covered).isEmpty,
      "scan feeding its own stage's input must stay covered")
    assert(PlanAudit.scansOutsideCodegen(mixed) == Seq("documents"),
      "scan under an interpreted operator below the stage boundary must flag")
  }
}
