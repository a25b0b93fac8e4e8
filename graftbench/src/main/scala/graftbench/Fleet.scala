package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The batch fleet: the training-data and analytics side, measured in the
  * traced run of `live-sigma` (README: "Why two workloads"). An untimed
  * warm pass (index builds first), one timed pass, then one pass with the
  * task listener on; each query through `SparkEntry.queries`. Results are
  * checked against `SparkEntry.oracleSql` by `run.py` with DuckDB. */
object Fleet {
  /** A fixed subset of the `graft.Bench.headline` list as of this
    * benchmark's creation, copied so the benchmark does not depend on the
    * measurement mains: one heavier row of every `graft.ops` module (two
    * of Detection: the merged dispatch and the timeframe battery), two of
    * them index-backed. The whole 72-query list
    * does not fit the benchmark's time budget, and `text_bpe_tokens_fused`
    * is left out because its DuckDB oracle alone runs for minutes
    * (README: "What was cut"). */
  val Queries: Seq[String] = Seq(
    "join_5way", "sig_fanout_merged", "tf_battery_counts", "dedup_minhash_lsh",
    "sim_ivf_ann", "text_bm25_multi", "mm_decode_features", "curate_pipeline_v2")

  /** Queries whose first run builds a durable index artifact (copied from
    * `graft.jobs.IndexBuild`'s builder list, restricted to [[Queries]]). */
  val IndexBuilders: Seq[String] = Seq("sim_ivf_ann", "text_bm25_multi")

  val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> graft.ops.Relational.queries, "Detection" -> graft.ops.Detection.queries,
    "Dedup" -> graft.ops.Dedup.queries, "Similarity" -> graft.ops.Similarity.queries,
    "TextOps" -> graft.ops.TextOps.queries, "Curation" -> graft.ops.Curation.queries,
    "Multimodal" -> graft.ops.Multimodal.queries)

  def moduleOf(q: String): String = Modules.find(_._2.contains(q)).map(_._1).getOrElse("?")

  final case class Timed(build: Double, exec: Double, rows: Array[Row], df: DataFrame)

  /** Build the query's physical plan, then run its action. A query that
    * throws is a failure and has no time. */
  def execute(spark: SparkSession, ctx: Ctx, name: String,
      fn: (SparkSession, String) => DataFrame): Either[String, Timed] =
    try Probe.tagged(spark, s"fleet:$name") {
      ctx.spans.span("query", group = s"query:$name") { id =>
        val t0 = System.nanoTime()
        val df = ctx.spans.span("build", id, s"query:$name") { _ =>
          val df = fn(spark, ctx.tables.getAbsolutePath)
          df.queryExecution.executedPlan
          df
        }
        val t1 = System.nanoTime()
        val rows = ctx.spans.span("exec", id, s"query:$name")(_ => df.collect())
        Right(Timed((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, rows, df))
      }
    } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }

  /** Run the fleet in its own session; adds the `fleet_s`, `index.*` and
    * `ops.*` per-layer metrics and counts every query as an operation. */
  def traced(ctx: Ctx, res: Result): Unit = {
    val all = graft.SparkEntry.queries
    val missing = Queries.filterNot(all.contains)
    if (missing.nonEmpty) res.fail(s"queries not registered: ${missing.mkString(",")}")
    val queries = Queries.filter(all.contains)
    val spark = Session.build(ctx.work, ctx.cores)
    val (builders, rest) = queries.partition(IndexBuilders.contains)
    val ib0 = System.nanoTime()
    ctx.spans.span("index.build") { _ => builders.foreach(q => execute(spark, ctx, q, all(q))) }
    val indexS = (System.nanoTime() - ib0) / 1e9
    ctx.spans.span("warm") { _ => rest.foreach(q => execute(spark, ctx, q, all(q))) }
    val artifacts = spark.sparkContext.getPersistentRDDs.size

    // planted fault: a throwing query must count as failed and stay untimed
    execute(spark, ctx, "planted_throw", (_, _) => sys.error("planted fault")) match {
      case Left(_) => ()
      case Right(_) => res.fail("self-test: a throwing query was timed")
    }

    def pass() = queries.map(q => q -> execute(spark, ctx, q, all(q))).toMap
    val timed = pass()
    // the same pass with the task listener on: per-module layer numbers and
    // per-query job/stage/task counts
    val tasks = new TaskProbe
    spark.sparkContext.addSparkListener(tasks)
    val traced = pass()
    val threw = queries.filter(q => timed(q).isLeft || traced(q).isLeft)
    val ok = queries.filterNot(threw.contains)
    def t(q: String) = traced(q).toOption.get
    val fleetS = ok.map(q => timed(q).toOption.get).map(x => x.build + x.exec).sum

    // results of the traced pass, for the oracle comparison in run.py
    val resultsDir = Files2.fresh(new File(ctx.work, "results"))
    ok.foreach { q =>
      spark.createDataFrame(t(q).rows.toSeq.asJava, t(q).df.schema).coalesce(1)
        .write.parquet(new File(resultsDir, q).getAbsolutePath)
    }
    Files2.write(new File(resultsDir, "oracle_sql.json"), Json.obj(
      ok.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _))))

    res.attempted += queries.size
    res.failed += threw.size
    res.info ++= Seq("fleet_queries" -> queries.size, "fleet_threw" -> threw,
      "fleet_errors" -> threw.map(q => q -> (timed(q).left.toOption ++ traced(q).left.toOption).head).toMap,
      "results_dir" -> resultsDir.getAbsolutePath,
      "fleet_query_s" -> ok.map(q => q -> (t(q).build + t(q).exec)).toMap)
    res.perLayer ++= Seq("fleet_s" -> fleetS, "index.build_s" -> indexS,
      "index.artifacts" -> artifacts.toDouble)
    Modules.foreach { case (m, _) =>
      val qs = ok.filter(moduleOf(_) == m)
      val tt = qs.map(q => tasks.get(s"fleet:$q"))
      res.perLayer ++= Seq(
        s"ops.$m.build_s" -> qs.map(t(_).build).sum,
        s"ops.$m.exec_s" -> qs.map(t(_).exec).sum,
        s"ops.$m.cpu_s" -> tt.map(_.cpuNs).sum / 1e9,
        s"ops.$m.shuffle_mb" -> tt.map(x => x.shuffleReadBytes + x.shuffleWriteBytes).sum / 1048576.0,
        s"ops.$m.spill_mb" -> tt.map(_.spillBytes).sum / 1048576.0)
    }
    // the traced pass is each query's last span
    ctx.spans.all.filter(_.name == "query").groupBy(_.group).values.map(_.maxBy(_.startMs))
      .foreach { s =>
        val c = tasks.get("fleet:" + s.group.stripPrefix("query:"))
        ctx.spans.annotate(s.id, Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks))
      }
    Session.stop(spark)
  }
}
