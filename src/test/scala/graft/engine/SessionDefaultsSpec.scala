package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.rules.ReferenceCorpus

/** The library session baseline ([[SessionDefaults]]): what it sets, and
  * the compile reuse across streaming queries that it buys. */
class SessionDefaultsSpec extends SparkSpec {

  test("the shared spec session carries both SessionDefaults settings") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000")
  }

  test("a second query of the same plan compiles no generated code") {
    // CodegenMetrics is JVM-wide, so no other query may run meanwhile
    assert(spark.streams.active.isEmpty, spark.streams.active.map(_.name).mkString(","))
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    // the int literal is inlined into the generated source, so this plan
    // compiles classes no other spec's plan shares: the first query's
    // compile count does not depend on which suites ran earlier in the JVM
    val alerts = AlertPipeline.alertsMerged(
      AlertPipeline.parseJson(mem.toDF().toDF("value", "timestamp")),
      ReferenceCorpus.active).withColumn("compile_reuse_tag", lit(418231))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    mem.addData(
      ("""{"computer_name":"pc1","event_id":10,"host":"h","uuid":"u1",""" +
        """"event_data":{"TargetImage":"C:\\Windows\\System32\\lsass.exe",""" +
        """"SourceImage":"C:\\Windows\\system32\\wsmprovhost.exe"}}""", t0),
      ("garbage{{", t0))

    // each query is a new StreamExecution in its own cloned session,
    // reading the same MemoryStream from offset 0
    def run(name: String): (Long, Seq[String]) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = alerts.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      (compiled, spark.table(name).select(to_json(struct(col("*"))))
        .collect().map(_.getString(0)).sorted.toSeq)
    }
    val (first, out1) = run("compile_reuse_1")
    val (second, out2) = run("compile_reuse_2")
    assert(out1.nonEmpty && out2 == out1, s"first=$out1 second=$out2")
    assert(first > 0, "the first query compiled nothing: the plan was already cached")
    assert(second == 0, s"the second query re-compiled $second generated classes")
  }
}
