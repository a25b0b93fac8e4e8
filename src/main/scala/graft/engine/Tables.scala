package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (repo:TESTDATA.md).
  *
  * All tables are plain parquet reads except `events`, whose `ts` column is
  * parquet INT64 TIMESTAMP(NANOS) — Spark 4 refuses it unless
  * `spark.sql.legacy.parquet.nanosAsLong=true`, which surfaces it as a LONG
  * of nanoseconds. We convert to a proper µs TimestampType with integer
  * `div` (a double division would lose precision above 2^53 ns). DuckDB
  * reads the same column as a µs-truncated TIMESTAMP, so both engines see
  * identical µs values.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Per-(session, dir, table) DataFrame cache. `spark.read.parquet` lists
  // files and reads footers on the DRIVER at plan-build time; doing that for
  // 10 tables on every query invocation is pure driver-side overhead (the
  // r2 bench measured the SQL-entry queries 2-3x slower for exactly this
  // reason). Keyed by session identity so tests with fresh sessions don't
  // see stale plans. Entries for STOPPED sessions are purged on every
  // access (a cached plan holds its session and its snapshotted file
  // listing — retaining those for JVM life leaks the whole session state,
  // and a long-lived app cycling sessions would grow without bound).
  // Within a live session the cache means a dir's files are listed once:
  // callers must treat a (session, dir) pair as immutable — overwriting a
  // parquet dir mid-session would serve the stale listing.
  private val dfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]
  // Per-(session, dir, key) scalar statistics (row counts, vector dims).
  // The LSH index sizing (Lsh.planesFor) needs the corpus row count and the
  // embedding dimension; recomputing them with a fresh job on EVERY query
  // invocation is exactly the fixed per-invocation overhead that regressed
  // sim_lsh_ann 10x in the round-5 bench. These are the statistics a real
  // deployment reads from table metadata (parquet row counts / schema), so
  // a once-per-session memo is the honest local-mode analog. Same
  // immutability contract as dfCache: a (session, dir) pair must not be
  // overwritten mid-session.
  private val statCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Long]
  // Per-(session, dir, key) MATERIALIZED index frames (IVF centroids,
  // k-means inverted lists): built once per session via localCheckpoint,
  // probed by every subsequent invocation. This is the production shape of
  // an ANN index — the build is a separate (once) job, queries only probe —
  // re-deriving the centroids from the full corpus per query was the r5
  // sim_ivf_ann cost. Entries are small (k × dim centroid tables, one id
  // per corpus row for inverted lists) and die with the session.
  private val frameCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]
  // The dir whose views are CURRENTLY registered in each session. A plain
  // "seen" set would go stale if a session switches dirs and back (views are
  // replaced by name), so we key on the live registration instead.
  private val registeredDir =
    scala.collection.concurrent.TrieMap.empty[SparkSession, String]

  /** Drop every cache entry whose session satisfies `dead`. The predicate
    * is injectable because a spec can't stop a real session (the test JVM
    * shares one SparkContext); production callers use the default. */
  private[graft] def purge(
      dead: SparkSession => Boolean = _.sparkContext.isStopped): Unit = {
    dfCache.keysIterator.filter(k => dead(k._1)).foreach(dfCache.remove)
    statCache.keysIterator.filter(k => dead(k._1)).foreach(statCache.remove)
    frameCache.keysIterator.filter(k => dead(k._1)).foreach(frameCache.remove)
    registeredDir.keysIterator.filter(dead).foreach(registeredDir.remove)
  }

  /** Durable-index root. Production sets `GRAFT_INDEX_DIR`; specs inject
    * the override (the JVM can't mutate its own env). When set, index
    * frames resolve through IndexStore under `$root/<dataset>/<key>` — the
    * across-session lifecycle: one session builds and persists, later
    * sessions (or JVMs) probe the stored parquet with zero rebuild jobs. */
  @volatile private[graft] var indexDirOverride: Option[String] = None
  private[graft] def indexDir: Option[String] =
    indexDirOverride.orElse(sys.env.get("GRAFT_INDEX_DIR"))

  /** Store path for (dir, key): human-readable dataset basename plus a
    * short dir hash so two datasets sharing a basename can't collide. */
  private[graft] def storePath(root: String, dir: String, key: String): String = {
    val base = new java.io.File(dir).getName
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    s"$root/${base}_$h/$key"
  }

  /** Memoized index frame per (session, dir, key) — for index structures
    * (centroids, inverted lists, band signatures, quantized vectors) that
    * queries PROBE rather than rebuild. Without a durable root the frame is
    * localCheckpointed (session-lifetime memo); with `GRAFT_INDEX_DIR` set
    * and `durable=true` it resolves via IndexStore.loadOrBuild, so the
    * session serves a parquet scan of the stored index instead. `build`
    * runs at most once per live session; locked for the same reason as
    * cachedStat (a duplicate eager localCheckpoint would strand its
    * checkpoint blocks for the session's lifetime). `durable=false` marks
    * session-local BUILD intermediates (e.g. the exploded k-means component
    * frame) that must not be persisted as if they were the index. */
  def cachedFrame(spark: SparkSession, dir: String, key: String,
      durable: Boolean = true)(build: => DataFrame): DataFrame = {
    purge()
    frameCache.synchronized {
      frameCache.getOrElseUpdate((spark, dir, key), indexDir match {
        case Some(root) if durable =>
          IndexStore.loadOrBuild(spark, storePath(root, dir, key))(build)
        case _ => build.localCheckpoint()
      })
    }
  }

  /** Memoized scalar statistic (row count, vector dim, ...) per
    * (session, dir, key). `compute` runs at most once per live session —
    * the build runs under a lock because TrieMap.getOrElseUpdate may
    * evaluate a racing thunk twice, and these thunks run Spark jobs
    * (parallel suites share the session and hit the same keys). */
  def cachedStat(spark: SparkSession, dir: String, key: String)
      (compute: => Long): Long = {
    purge()
    statCache.synchronized {
      statCache.getOrElseUpdate((spark, dir, key), compute)
    }
  }

  /** Live cached-plan count (stopped sessions purged first) — for tests. */
  private[graft] def cachedPlanCount: Int = { purge(); dfCache.size }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    purge()
    dfCache.getOrElseUpdate((spark, dir, name), load(spark, dir, name))
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      // The driver has written events.ts two ways across testdata
      // generations: parquet INT64 TIMESTAMP(NANOS) (surfaced as a LONG of
      // ns under nanosAsLong — converted here with integer div, since a
      // double division loses precision above 2^53 ns) and native
      // TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Branch on the read
      // schema so both generations load identically; the NTZ cast to
      // session-tz TimestampType is value-identity because every entry
      // point pins spark.sql.session.timeZone=UTC.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    case other =>
      spark.read.parquet(s"$dir/$other.parquet")
  }

  /** Register a temp view per table so query bodies can use spark.sql.
    * Idempotent per (session, dir): repeat calls are a map lookup, not ten
    * parquet re-reads.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = synchronized {
    if (!registeredDir.get(spark).contains(dir)) {
      all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
      registeredDir(spark) = dir
    }
  }
}
