package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.{IndexStore, Tables}

/** The dedicated INDEX BUILD job — the "build once" half of the
  * build-once / probe-forever lifecycle every durable artifact here
  * follows (dedup band signatures, IVF/k-means centroids, q8 + PQ
  * quantized vectors, decontamination bloom, BPE merges, BM25 postings
  * + metadata, winnowing posting indexes, kNN capped buckets, cluster
  * labels + centroids). Deployments run THIS once per corpus (and on
  * corpus refresh); every later query job — batch analytics, bench,
  * streaming ingest — only reads the store.
  *
  * Usage:
  *   GRAFT_INDEX_DIR=/indexes  runMain graft.jobs.IndexBuild <sfDir> [master]
  *
  * Mechanics: with GRAFT_INDEX_DIR set, every index frame resolves
  * through Tables.cachedFrame → IndexStore.loadOrBuild, so "building"
  * is simply invoking each index-backed query once — builds that
  * already exist in the store are served, not re-run (safe to re-invoke
  * after adding new index-backed operators; it fills only the gaps).
  * The build queries run sequentially: index builds are corpus-sized
  * jobs that parallelize internally across the cluster — overlapping
  * them just makes the shuffles fight for the same executors.
  */
object IndexBuild {
  /** Queries whose evaluation builds every durable artifact (a query may
    * build several: sim_cluster_assign fills capped buckets, labels, and
    * centroids in one pass if the store is cold). */
  private[graft] val builders = Seq(
    "dedup_incremental",        // dedup_sid_index + dedup_band_index
    "sim_ivf_ann",              // ivf_label_centarr
    "sim_ivf_kmeans",           // kmeans centroid artifacts
    "sim_q8_rerank",            // q8_index
    "sim_pq_adc",               // pq codebooks + codes
    "dedup_semantic",           // semdedup_centarr + semdedup_blocks
    "text_decontaminate_bloom", // decontam_bloom
    "text_bpe_tokens_fused",    // bpe_merges
    "text_bm25_multi",          // bm25_postings + bm25_dfs + bm25_stats
    "dedup_winnowing_pairs",    // winnow_pair_index
    "dedup_winnowing_incr",     // winnow_base_index + winnow_base_dfs
    "sim_cluster_assign",       // knn_capped_buckets + knn_cluster_labels + knn_cluster_centarr
    "sim_graph_pagerank",       // knn_pagerank (via knn_edges_deg)
    "mm_dedup_phash_incr",      // phash_sig_index (media aHash signatures)
    "curate_card_incremental",  // card_by_lang (mergeable base card)
    "curate_domain_decisions",  // domain_decisions (the ingest admission table)
    "text_heavy_hitters_incr",  // cms_bigram_base (the mergeable CMS profile)
    "dedup_ngram_jaccard")      // ngram_posting_index (found by an IndexBuild→
                                // IndexRefresh CLI smoke: refresh reported one
                                // cold build over a store this job had just
                                // "completed" — the one artifact no other
                                // builder reaches transitively)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val master = args.drop(1).headOption.getOrElse("local[32]")
    val root = Tables.indexDir.getOrElse(sys.error(
      "IndexBuild: set GRAFT_INDEX_DIR — without a store root there is nothing durable to build"))
    val spark = graft.engine.SessionDefaults(SparkSession.builder())
      .master(master)
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    // capture the source fingerprints BEFORE the build loop: the stamps
    // must record the inputs as the builders READ them — digesting after
    // the loop would let a source mutated mid-build be 'proven' fresh by
    // a later IndexRefresh (the un-conservative race direction, r10
    // ADVICE)
    val fps = IndexRefresh.captureFingerprints(spark, sfDir)
    builders.foreach { name =>
      val q0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"index-build $name%-28s ${(System.nanoTime() - q0) / 1e9}%6.2f s ($rows rows)")
    }
    // record each artifact's input fingerprint so IndexRefresh can later
    // PROVE freshness (unchanged source files ⇒ serve with zero jobs).
    // `root` is the store the build loop just wrote under, so the stamps
    // land next to those artifacts
    IndexRefresh.stampFingerprints(spark, sfDir, root, fps)
    // anchor each k-means centroid table's own-space canary (see
    // IndexRefresh.writeCanaryBaseline) next to its stamp
    IndexRefresh.artifacts.filter(_.centroidGated)
      .foreach(a => IndexRefresh.writeCanaryBaseline(spark, sfDir, root, a.key))
    val built = IndexStore.buildCounts.snapshot().keys.toSeq.sorted
    println(f"index-build complete: ${built.size} artifacts built this run " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    built.foreach(p => println(s"  built: $p"))
    spark.stop()
  }
}
