package graft.jobs

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.engine.{IndexStore, Tables}

/** The INDEX REFRESH job — the maintenance half the r9 verdict found
  * missing: sim_index_staleness detects drift and IndexBuild rebuilds
  * everything, but nothing consumed the verdicts. This job does: it
  * evaluates, per durable artifact, whether the artifact is still
  * serving the corpus it was built from, rebuilds ONLY the stale ones,
  * and leaves warm ones served.
  *
  * Two staleness signals, matched to what each artifact IS:
  *
  *  - **Input fingerprint** (all artifacts): a digest of the source
  *    table's file listing (name, length, mtime — table metadata, zero
  *    data read), recorded in a `<artifact>.fp` sidecar at build time.
  *    Unchanged fingerprint ⇒ the artifact is provably current — served
  *    with zero jobs. Changed fingerprint ⇒ per-row artifacts (postings,
  *    signatures, quantized vectors, labels) must rebuild: their content
  *    is row-for-row input-derived, and serving them would silently drop
  *    the new rows from every probe.
  *  - **Semantic centroid canary** (the centroid-MEAN artifacts only):
  *    a changed input does not necessarily invalidate a k×dim table of
  *    means — means are aggregate summaries, robust to arrivals that
  *    look like the data they summarize; that robustness is exactly why
  *    the drift monitor exists. Each centroid FAMILY is gated on drift
  *    measured in its OWN space (one cheap aggregate pass — the
  *    monitoring cost): the per-label table against recomputed label
  *    means, the k-means-family tables against a reassign-and-mean pass
  *    of their builder's corpus routed to the STORED centroids (a
  *    label-only canary would be blind to within-label redistribution
  *    moving the k-means optima — r10 ADVICE). All apply the SAME
  *    integer drift verdict as sim_index_staleness
  *    (Similarity.centroidDrift, shared code): below threshold, the
  *    stored centroids keep serving (new data keeps routing into the
  *    existing clusters/cells — the sim_cluster_labels_incr ingest
  *    path) and only the fingerprint is re-recorded; above it, they
  *    rebuild.
  *
  * Rebuild mechanics: the stale paths are deleted, then each distinct
  * builder query runs once — Tables.cachedFrame → IndexStore.loadOrBuild
  * finds the path missing and rebuilds exactly those artifacts,
  * publishing atomically (temp + rename). Between the delete and the
  * publish the path is absent, so a concurrent probing session would
  * trigger its own build rather than read a torn index — safe, but
  * wasteful; a deployment doing hot refresh under live traffic would
  * build to a versioned path and flip a pointer instead.
  *
  * Scale: deciding costs table metadata (fingerprints) plus at most one
  * per-label mean pass (canary, only when the embeddings input changed);
  * the corpus-sized work is confined to exactly the artifacts that need
  * it. Run this instead of IndexBuild on every corpus refresh.
  */
object IndexRefresh {
  /** One durable artifact's refresh plan: store key, the source table
    * whose files fingerprint it, the query whose evaluation rebuilds it,
    * whether the semantic centroid canary gates its rebuild, and — for
    * artifacts DERIVED from another stored artifact — the upstream key
    * whose rebuild forces this one's (adoption is only valid while the
    * upstream still serves the rows the derivation consumed). */
  final case class Plan(key: String, source: String, builder: String,
      centroidGated: Boolean = false, derivedFrom: Option[String] = None)

  /** The registry: every durable artifact the store serves (the
    * DurableIndexSpec key list, with provenance). Centroid-gated rows
    * are the k×dim mean tables; everything else is per-row. */
  private[jobs] val artifacts: Seq[Plan] = Seq(
    Plan("dedup_sid_index", "documents", "dedup_incremental"),
    Plan("dedup_band_index", "documents", "dedup_incremental"),
    Plan("ngram_posting_index", "documents", "dedup_ngram_jaccard"),
    // the bench gid set is the UPSTREAM the bloom (and the exact
    // verification join) is built from — registered since round 19
    // (ADVICE r18: an unregistered gid set left a refreshed bloom rebuilt
    // from STALE benchmark grams); the derivedFrom edge forces the bloom
    // to rebuild whenever the gid set does for a non-fingerprint reason
    // (e.g. its path missing), the shared source fingerprint covers the
    // ordinary corpus-refresh case for both
    Plan("decontam_bench_gids", "documents", "text_decontaminate_bloom"),
    Plan("decontam_bloom", "documents", "text_decontaminate_bloom",
      derivedFrom = Some("decontam_bench_gids")),
    Plan("bpe_merges", "documents", "text_bpe_tokens_fused"),
    Plan("bm25_postings", "documents", "text_bm25_multi"),
    Plan("bm25_dfs", "documents", "text_bm25_multi"),
    Plan("bm25_stats", "documents", "text_bm25_multi"),
    Plan("winnow_pair_index", "documents", "dedup_winnowing_pairs"),
    // per-fp document frequencies of the pair index (ADVICE r18, same
    // registration gap): derived metadata — a rebuilt posting index with
    // adopted stale dfs would df-cap with frequencies inconsistent with
    // the new postings
    Plan("winnow_pair_dfs", "documents", "dedup_winnowing_pairs",
      derivedFrom = Some("winnow_pair_index")),
    // df-capped probe table over the two artifacts above (round 19 —
    // the winnow_base_capped convention)
    Plan("winnow_pair_capped", "documents", "dedup_winnowing_pairs",
      derivedFrom = Some("winnow_pair_index")),
    Plan("winnow_base_index", "documents", "dedup_winnowing_incr"),
    Plan("winnow_base_dfs", "documents", "dedup_winnowing_incr"),
    // the df-capped probe table derived from the two artifacts above
    // (round 19 — the cap join was re-paid per probe; see
    // TextOps.winnowCappedPostings)
    Plan("winnow_base_capped", "documents", "dedup_winnowing_incr",
      derivedFrom = Some("winnow_base_index")),
    Plan("phash_sig_index", "documents", "mm_dedup_phash_incr"),
    Plan("card_by_lang", "documents", "curate_card_incremental"),
    Plan("domain_decisions", "documents", "curate_domain_decisions"),
    Plan("cms_bigram_base", "documents", "text_heavy_hitters_incr"),
    Plan("q8_index", "embeddings", "sim_q8_rerank"),
    Plan("pq_codebook", "embeddings", "sim_pq_adc"),
    Plan("pq_codes", "embeddings", "sim_pq_adc"),
    Plan("semdedup_blocks", "embeddings", "dedup_semantic"),
    // the knn family resolves transitively (centarr → labels → edges →
    // buckets), so each artifact's builder must PROBE IT DIRECTLY: a
    // builder that only consumes it through a warm downstream artifact
    // would serve the stored downstream frame and never re-evaluate the
    // deleted upstream (the lazy-resolution hazard this job exists to
    // avoid — caught by IndexRefreshSpec's phase-4 rebuild counts)
    Plan("knn_capped_buckets", "embeddings", "sim_knn_graph"),
    Plan("knn_cluster_labels", "embeddings", "sim_cluster_knn"),
    Plan("knn_edges_deg", "embeddings", "sim_seed_expand"),
    // knn_pagerank is the one WARM-refreshable artifact: when its input
    // changed but the stored ranks still cover (>= 90% of) the current
    // node set, the refresh re-seeds from the stored ranks and runs
    // Similarity.PrWarmIters iterations over the freshly rebuilt edge
    // artifact instead of the 5-iteration cold build (see warmPagerank)
    Plan("knn_pagerank", "embeddings", "sim_graph_pagerank"),
    Plan("ivf_label_centarr", "embeddings", "sim_ivf_ann", centroidGated = true),
    Plan("ivf_kmeans_centarr", "embeddings", "sim_ivf_kmeans", centroidGated = true),
    Plan("ivf_kmeans_blocks", "embeddings", "sim_ivf_kmeans"),
    Plan("semdedup_centarr", "embeddings", "dedup_semantic", centroidGated = true),
    // knn_cluster_centarr is labelCentroids OVER knn_cluster_labels —
    // the one centroid table whose derivation direction is inverted
    // (ivf_kmeans_blocks/semdedup_blocks are assignments TO adopted
    // centroids, which stays consistent; centroids OF a rebuilt
    // clustering do not): when the labels rebuild, adopted centroids
    // would be keyed by cluster ids that no longer exist
    Plan("knn_cluster_centarr", "embeddings", "sim_cluster_assign",
      centroidGated = true, derivedFrom = Some("knn_cluster_labels")))

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Digest of a source table's file listing — name, length, mtime per
    * file (recursive for a directory-shaped table). Pure metadata: no
    * data is read, so fingerprinting a 100 TB table costs a namenode
    * listing. */
  private[jobs] def fingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    // each file is described by its path RELATIVE to the table root, not
    // its base name: a partitioned table has same-named part files
    // (part-00000) in different partition dirs, and a partition-dir
    // rename with identical inner files must change the digest (ADVICE
    // r10). The root is resolved to its fully-qualified form first so
    // relativize sees the same scheme/authority as the listed children.
    val qualifiedRoot = fs.getFileStatus(p).getPath
    val rootUri = qualifiedRoot.toUri
    def describe(q: Path): Seq[String] = {
      val st = fs.getFileStatus(q)
      if (st.isDirectory)
        fs.listStatus(q).toSeq.sortBy(_.getPath.getName).flatMap(c => describe(c.getPath))
      else Seq(s"${rootUri.relativize(q.toUri).getPath}:${st.getLen}:${st.getModificationTime}")
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(describe(qualifiedRoot).mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  private def fpPath(artifactPath: String) = new Path(artifactPath + ".fp")

  private def readFp(spark: SparkSession, artifactPath: String): Option[String] = {
    val p = fpPath(artifactPath)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(buf.toString(StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  private def writeFp(spark: SparkSession, artifactPath: String, fp: String): Unit = {
    val p = fpPath(artifactPath)
    val out = fsOf(spark, p).create(p, true)
    try out.write(fp.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** One fingerprint per distinct source table, as the source stands NOW.
    * IndexBuild captures this BEFORE its build loop: the stamp must
    * record the source as the builders READ it — digesting after the
    * loop would let a mid-build source mutation be 'proven' fresh by a
    * later refresh, the un-conservative direction of the race (ADVICE
    * r10; refresh() itself always fingerprints before building). */
  private[jobs] def captureFingerprints(spark: SparkSession, dir: String): Map[String, String] =
    artifacts.map(_.source).distinct
      .map(src => src -> fingerprint(spark, s"$dir/$src.parquet")).toMap

  /** Record the given input fingerprints for every artifact that exists
    * in the store — IndexBuild calls this after its build loop (with
    * fingerprints captured before it) so a subsequent refresh can prove
    * freshness instead of assuming it. */
  private[jobs] def stampFingerprints(spark: SparkSession, dir: String, root: String,
      fps: Map[String, String]): Unit =
    artifacts.foreach { a =>
      val path = Tables.storePath(root, dir, a.key)
      if (IndexStore.exists(spark, path)) writeFp(spark, path, fps(a.source))
    }

  /** The corpus each k-means-family centroid table summarizes — what its
    * own-space canary routes to the stored centroids. None for the
    * per-label table (its own space IS label means). */
  private def kmeansCanaryCorpus(spark: SparkSession, dir: String,
      key: String): Option[org.apache.spark.sql.DataFrame] = key match {
    case "ivf_kmeans_centarr" => // builder clusters vec_id >= 8 (0-7 are queries)
      Some(Tables(spark, dir, "embeddings").filter(col("vec_id") >= 8))
    case "semdedup_centarr" => // builder clusters embeddings + planted dups
      Some(graft.ops.Dedup.semanticCorpus(spark, dir))
    case "knn_cluster_centarr" => // cluster centroids over the full table
      Some(Tables(spark, dir, "embeddings"))
    case _ => None
  }

  /** Stored centroid table in centroidDrift's (label, carr) shape — the
    * k-means tables key by `cid`. */
  private def loadCentroids(spark: SparkSession, path: String) = {
    val raw = IndexStore.load(spark, path)
    if (raw.columns.contains("cid")) raw.withColumnRenamed("cid", "label") else raw
  }

  /** Record the own-space canary BASELINE for a just-(re)built k-means
    * centroid artifact: the reassign-and-mean pass of its builder corpus
    * routed to the stored centroids, as of build time. The baseline, not
    * the stored table itself, anchors the drift check — two-round Lloyd
    * is not converged, so stored-vs-reassigned has nonzero SELF-drift on
    * an unchanged corpus and would fire the canary forever. Written only
    * on build/rebuild, never on adoption: re-baselining an adopted
    * artifact would ratchet — slow drift arriving below threshold each
    * pass would never accumulate against a fixed anchor. */
  private[jobs] def writeCanaryBaseline(spark: SparkSession, dir: String, root: String,
      key: String): Unit =
    kmeansCanaryCorpus(spark, dir, key).foreach { corpus =>
      val path = Tables.storePath(root, dir, key)
      if (IndexStore.exists(spark, path)) {
        graft.functions.GraftFunctions.register(spark)
        graft.ops.Similarity.reassignedCentroids(corpus, loadCentroids(spark, path))
          .write.mode("overwrite").parquet(path + ".canary")
      }
    }

  /** True when the stored centroid artifact `key` has drifted from the
    * current corpus beyond the shared threshold. Each centroid FAMILY is
    * gated on drift computed in its OWN space (ADVICE r10 — the
    * label-mean canary alone was blind to within-label redistribution
    * moving the k-means optima):
    *
    *  - `ivf_label_centarr` IS the per-label mean table — stored vs one
    *    label-mean pass over current embeddings (zero self-drift by
    *    construction).
    *  - the k-means-family tables (`ivf_kmeans_centarr`,
    *    `semdedup_centarr`, `knn_cluster_centarr`) — build-time canary
    *    baseline vs one reassign-and-mean pass of THEIR builder's corpus
    *    routed to the stored centroids (Similarity.reassignedCentroids);
    *    same routing both sides, so only corpus change moves the verdict.
    *
    * A missing stored table or baseline is conservatively stale. */
  private[jobs] def canaryStale(spark: SparkSession, dir: String, root: String,
      key: String): Boolean = {
    val p = Tables.storePath(root, dir, key)
    if (!IndexStore.exists(spark, p)) true
    else {
      graft.functions.GraftFunctions.register(spark)
      val verdicts = key match {
        case "ivf_label_centarr" =>
          graft.ops.Similarity.centroidDrift(
            loadCentroids(spark, p),
            graft.ops.Similarity.currentLabelCentroids(spark, dir))
        case _ =>
          val corpus = kmeansCanaryCorpus(spark, dir, key).getOrElse(
            sys.error(s"IndexRefresh: no canary defined for '$key'"))
          val basePath = new Path(p + ".canary")
          if (!fsOf(spark, basePath).exists(basePath)) return true
          graft.ops.Similarity.centroidDrift(
            spark.read.parquet(p + ".canary"),
            graft.ops.Similarity.reassignedCentroids(corpus, loadCentroids(spark, p)))
      }
      verdicts.filter(col("verdict") === "stale").limit(1).count() > 0
    }
  }

  /** One refresh pass. Returns (artifact key, action) per artifact:
    *  - `built`    — absent from the store; cold-built
    *  - `fresh`    — input fingerprint unchanged; served as-is, 0 jobs
    *  - `rebuilt`  — input changed or unprovable (and, for gated rows,
    *                 the canary confirmed drift), or the artifact's
    *                 derivedFrom upstream rebuilt this pass; rebuilt
    *                 via its builder query
    *  - `adopted`  — gated row whose input changed (or has no recorded
    *                 fingerprint) but whose canary is below threshold:
    *                 kept serving, fingerprint (re)recorded
    *  - `warm`     — knn_pagerank only: input changed but the stored
    *                 ranks cover >= 90% of the current node set, so the
    *                 artifact is refreshed by the warm re-seed
    *                 (PrWarmIters iterations over the rebuilt edges)
    *                 instead of the 5-iteration cold build
    *
    * A MISSING fingerprint on a per-row artifact is treated as a
    * changed input, never adopted: the sidecar's absence means the
    * artifact's provenance is unprovable, and stamping the current
    * fingerprint over a possibly-stale artifact would report 'fresh'
    * forever while every probe silently missed the unindexed rows.
    * Gated rows fall back to the canary — a semantic check that needs
    * no fingerprint history.
    *
    * Run in a session that has not yet resolved the artifacts (its own
    * JVM in production; a fresh newSession in specs) — a session memo
    * from before the refresh would keep serving the pre-refresh frame.
    */
  def refresh(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val root = Tables.indexDir.getOrElse(
      sys.error("IndexRefresh: set GRAFT_INDEX_DIR — nothing durable to refresh"))
    val fps = captureFingerprints(spark, dir)
    // each family's canary is evaluated at most once per pass, and only
    // if some artifact it gates has an actually-changed input
    val canaryMemo = scala.collection.mutable.Map.empty[String, Boolean]
    def canary(key: String): Boolean =
      canaryMemo.getOrElseUpdate(key, canaryStale(spark, dir, root, key))
    val prelim = artifacts.map { a =>
      val path = Tables.storePath(root, dir, a.key)
      val action =
        if (!IndexStore.exists(spark, path)) "built"
        else readFp(spark, path) match {
          case Some(rec) if rec == fps(a.source) => "fresh"
          case _ if a.centroidGated && !canary(a.key) => "adopted"
          case _ => "rebuilt"
        }
      (a, path, action)
    }
    // derived-artifact promotion: an adopted/fresh artifact whose
    // upstream rebuilds this pass must rebuild with it — its rows are
    // keyed by the upstream state the rebuild just replaced. One level
    // deep by construction (no derived-of-derived in the registry).
    val rebuilding = prelim.collect {
      case (a, _, act) if act == "built" || act == "rebuilt" => a.key }.toSet
    val promoted = prelim.map {
      case (a, path, act) if act != "built" &&
          a.derivedFrom.exists(rebuilding.contains) => (a, path, "rebuilt")
      case other => other
    }
    // WARM-refresh election for knn_pagerank (r10 verdict task #6): a
    // stale rank artifact whose stored ranks still COVER the current
    // node set re-seeds from them instead of cold-building — the gate is
    // one narrow join count (canary-cost), warm iff >= 90% of current
    // nodes already carry a stored rank. The stored path is NOT deleted
    // (it IS the seed); warmPagerank below republishes over it after the
    // edge artifact has rebuilt.
    val decisions = promoted.map {
      case (a, path, "rebuilt") if a.key == "knn_pagerank" &&
          warmCoverageOk(spark, dir, path) => (a, path, "warm")
      case other => other
    }
    // delete every stale path first (a builder may rebuild several keys
    // in one evaluation), then run each distinct builder once
    decisions.foreach { case (_, path, action) =>
      if (action == "rebuilt") {
        val p = new Path(path)
        fsOf(spark, p).delete(p, true)
      }
    }
    decisions.collect { case (a, _, act) if act == "built" || act == "rebuilt" => a.builder }
      .distinct
      .foreach(b => SparkEntry.queries(b)(spark, dir).count())
    // the warm pass runs AFTER the builder loop so it iterates over the
    // freshly rebuilt knn_edges_deg artifact, not the stale one
    decisions.foreach { case (_, path, action) =>
      if (action == "warm") warmPagerank(spark, dir, root, path)
    }
    decisions.map { case (a, path, action) =>
      if (action != "fresh") {
        if (!IndexStore.exists(spark, path))
          sys.error(s"IndexRefresh: ${a.key} not published after ${a.builder}")
        writeFp(spark, path, fps(a.source))
        // a freshly (re)built k-means centroid table re-anchors its
        // own-space canary; adoption deliberately does NOT (see
        // writeCanaryBaseline — ratchet prevention)
        if (a.centroidGated && action != "adopted")
          writeCanaryBaseline(spark, dir, root, a.key)
      }
      (a.key, action)
    }
  }

  /** Warm-start gate for knn_pagerank: true when >= 90% of the CURRENT
    * node set already carries a stored rank (integer comparison, one
    * narrow join count). Below that the corpus was largely replaced and
    * the stored seed carries no structure worth starting from — cold
    * build instead. */
  private def warmCoverageOk(spark: SparkSession, dir: String,
      path: String): Boolean = {
    val nodes = Tables(spark, dir, "embeddings").select(col("vec_id").as("node"))
    val stored = IndexStore.load(spark, path).select("node")
    val nCur = nodes.count()
    val covered = nodes.join(stored, "node").count()
    nCur > 0 && 10L * covered >= 9L * nCur
  }

  /** Execute the warm PageRank refresh over the REBUILT edge artifact:
    * seed = stored ranks (new nodes at the uniform share), PrWarmIters
    * iterations (Similarity.pagerankWarmRefresh — the oracle-checked
    * sim_pagerank_incr kernel), atomic republish over the same path. The
    * result is the warm APPROXIMATION of the new graph's ranks (ranks
    * are consumed as a relative ordering); scheduled IndexBuild cold
    * builds remain the convergence anchor. */
  private def warmPagerank(spark: SparkSession, dir: String, root: String,
      path: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    val nodes = Tables(spark, dir, "embeddings").select(col("vec_id").as("node"))
    val edges = IndexStore.load(spark,
      Tables.storePath(root, dir, "knn_edges_deg"))
    val stored = IndexStore.load(spark, path)
    val warm = graft.ops.Similarity.pagerankWarmRefresh(
      nodes, edges, stored, nodes.count())
    // save stages to a temp sibling and only then replaces the path, so
    // the plan's read of the stored seed completes before the swap
    IndexStore.save(warm, path)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val master = args.drop(1).headOption.getOrElse("local[32]")
    val spark = graft.engine.SessionDefaults(SparkSession.builder())
      .master(master)
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val report = refresh(spark, sfDir)
    report.foreach { case (k, act) => println(f"index-refresh $k%-24s $act") }
    val counts = report.groupBy(_._2).view.mapValues(_.size).toMap
    println(f"index-refresh complete in ${(System.nanoTime() - t0) / 1e9}%.1f s: " +
      Seq("fresh", "adopted", "rebuilt", "built")
        .map(k => s"$k=${counts.getOrElse(k, 0)}").mkString(" "))
    spark.stop()
  }
}
