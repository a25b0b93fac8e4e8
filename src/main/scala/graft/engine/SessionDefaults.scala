package graft.engine

import org.apache.spark.sql.SparkSession

/** Library-recommended SparkSession configuration, applied by every
  * graft-owned entry point (benches, Verify, jobs, probes) and documented
  * as the deployment baseline for users who build their own sessions.
  * Every setting stays overridable: `jobs.Main` folds its `--conf spark.*`
  * pairs onto the builder AFTER this baseline, and a user-built session
  * may call `.config(...)` after [[apply]].
  *
  * `spark.sql.codegen.hugeMethodLimit=8000` — Spark's default (65535)
  * keeps whole-stage fusion for any generated method Janino can compile,
  * but HotSpot refuses to JIT methods above 8000 bytecode
  * (-XX:+DontCompileHugeMethods is the JVM default), so a fused stage
  * whose method lands in the 8-64 KB window runs INTERPRETED generated
  * code — silently, with no log line and no plan marker. Round 12
  * measured the 25-rule merged detection dispatch, then a fused
  * when/otherwise tree, exactly there (`rule_dispatch`'s generated code
  * is one call into its evaluator and stays out of the window at any
  * rule count, so the limit now guards the other large fused stages): 400k
  * event micro-batches took 2.1 s interpreted vs 0.54 s once Spark was
  * told to abandon fusion at the JIT ceiling (per-operator codegen
  * compiles expression-level methods that split and JIT fine). 8000
  * aligns Spark's fallback threshold with the JVM's compile ceiling, so
  * "fused" always implies "JIT-able". PlanAudit's dead-zone report lists
  * the stages that take the per-operator path under this setting.
  *
  * `spark.sql.artifact.isolation.enabled=false` — Spark 4.1's
  * `CodeGenerator` caches compiled classes keyed on (thread context
  * classloader, generated source). With artifact isolation on (Spark's
  * default) each session gets its own artifact classloader, and every
  * streaming query runs in a session CLONED at `start()`, so a second
  * start of the same plan in the same JVM misses the cache: it
  * re-compiles byte-identical generated source with Janino, and HotSpot
  * JITs the freshly loaded classes again. The gain therefore needs more
  * than one start of the same plan in one driver — repeated
  * `availableNow` drains or an in-process restart. Measured on the
  * deployed replay path (`start`, 25 rules, 4-core host, repeated drains
  * in one JVM): each drain re-ran 6 Janino compiles, 190-530 ms of
  * compile time; with isolation off a drain compiles once (the files
  * source's per-trigger `current_timestamp()` projection). `jobs.Main`
  * starts each query once per JVM, so a `jobs.Main` replay or
  * long-running query compiles each class once either way (triggers of
  * one query already share its cloned session); its `--extended` sibling
  * queries build different plans and are not known to share classes.
  * graft adds no session artifacts (no `addArtifact`), so the
  * per-session classloader isolates nothing here. A session built on
  * this baseline that adds its own artifacts (`addArtifact`,
  * session-scoped jars or UDF classes through Spark Connect) should set
  * `spark.sql.artifact.isolation.enabled=true` after [[apply]]. Spark
  * reads this setting only when a session is created, so it belongs on
  * the builder.
  *
  * `spark.hadoop.fs.AbstractFileSystem.file.impl=graft.engine.LocalFs` —
  * Spark commits every streaming trigger through `FileContext`: offset
  * and commit logs, file source and file sink logs, state-store delta,
  * snapshot and checksum files. On a local checkpoint without the native
  * Hadoop library (Spark's distribution ships none) Hadoop forks `chmod`
  * for each file it creates and `readlink` for each rename. A JFR
  * `jdk.ProcessStart` recording of one whole benchmark run of the
  * 250-rule dedup chain (graftbench `live-sigma`, 4-core host) counted
  * 2,277 process starts: 1,680 `readlink` from the checkpoint manager's
  * rename, 467 `chmod` from its temp-file create and mkdirs, 118 `chmod`
  * from the Parquet sink's data files. One forked `readlink` costs a
  * median 3.1-3.6 ms, and a FileContext create + rename of one file a
  * median 38 ms, against 1.0-1.7 ms without the forks. [[LocalFs]] is
  * Hadoop's own checksummed local file system with those two calls done
  * in java.nio, so the checkpoint manager starts no process (LocalFsSpec);
  * the same run on it counted 186 process starts, 174 of them Parquet-sink
  * `chmod` (that sink writes through `FileSystem`, not `FileContext`, and
  * still forks). Only `file:` paths load it; HDFS, S3 and other schemes
  * are untouched, and a checkpoint moves between it and Hadoop's
  * `LocalFs` in both directions.
  */
object SessionDefaults {
  val HugeMethodLimit: String = "8000"

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.hugeMethodLimit", HugeMethodLimit)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
}
