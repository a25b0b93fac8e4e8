package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries (graft.ops.*) into the single
  * map the driver's Verify/Bench harness consumes. Every query name present
  * in `queries` with a matching `oracleSql` entry is hash-checked against
  * DuckDB at sf0.01; names without an oracle get a weaker rows-only check.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core capability: the full 25-rule detection fan-out
    * (one scan → `rule_dispatch` over every rule → one alert row per fired
    * rule, bag-equal to the reference's UNION ALL) with per-rule counts. */
  def entry(spark: SparkSession): DataFrame =
    queries("sig_fanout_counts")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++ ops.Detection.queries ++ ops.TextOps.queries ++
      ops.Dedup.queries ++ ops.Similarity.queries ++ ops.Multimodal.queries ++
      ops.Curation.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracles ++ ops.Detection.oracles ++ ops.TextOps.oracles ++
      ops.Dedup.oracles ++ ops.Similarity.oracles ++ ops.Multimodal.oracles ++
      ops.Curation.oracles
}
