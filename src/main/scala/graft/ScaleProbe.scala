package graft

import org.apache.spark.sql.functions._

/** Empirical scale probe for the 100 TB question: replicate the sf0.1
  * corpus tables N× and measure how the hot pipeline queries' runtimes
  * grow. The replicas are made CONTENT-DISJOINT (per-copy word suffix for
  * documents, per-copy deterministic sign flips for embeddings) so the
  * planted-duplicate density stays constant — otherwise every row would be
  * a near-dup of its N−1 clones and the OUTPUT (all dup pairs) would
  * necessarily grow quadratically, measuring the workload, not the engine.
  *
  * A query whose time grows ~N× here has no super-linear shuffle or pair
  * space hiding in it; one that grows faster is flagged. (Embedding LSH
  * was the one measured super-linear row — 10× time at 10× data at the
  * old hard-coded 4 planes; since Lsh.planesFor sizes the plane count
  * from the corpus count, its 10× ratio is ~2×.)
  *
  * Usage:
  *   runMain graft.ScaleProbe [mult[,mult2,...]] [q1,q2,...]
  *     ratio table (default mult=30; replicas at /tmp/graft_scale_x<mult>).
  *     Multiple multipliers time every probed query at 1× and each point
  *     IN ONE SESSION and report the marginal ratio between the last two
  *     points — that marginal is what separates "linear with a smaller
  *     constant" from "mildly super-linear" when kernel fusions shrink the
  *     1× denominator (the round-6 ratio-table ambiguity). The optional
  *     second arg restricts the probe to a comma-separated query subset.
  *   runMain graft.ScaleProbe spill [mult]  spill-path probe: re-runs the
  *     full dedup pipeline (dedup_keep_canonical: banded candidates →
  *     large-star/small-star CC → corpus join → summary) at <mult>× with
  *     execution memory squeezed (spark.memory.fraction=0.05) so the
  *     shuffles MUST spill, asserting completion with a nonzero spill
  *     and reporting seconds and spilled bytes — the cheapest available
  *     evidence that the pipeline degrades to disk instead of OOMing when
  *     a 100 TB input blows past executor memory.
  *
  * Every point is a [[Bench.run]] in a [[Bench.session]]: its seconds are
  * build plus `count()`, and its rows and spilled bytes come from that
  * run's layer row.
  */
object ScaleProbe {
  private val probed = Seq(
    "dedup_minhash_fast", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_simhash_pairs", "dedup_simhash64_pairs",
    "dedup_containment", "dedup_embedding_lsh", "dedup_incremental",
    "dedup_exact_substring", "dedup_semantic",
    "dedup_incremental_maint",
    "sim_topk_bruteforce", "sim_lsh_ann", "sim_lsh_multiprobe", "sim_pq_adc",
    "text_pipeline_e2e", "text_bm25_topk", "text_bm25_multi",
    "text_line_dedup", "text_dsir_importance", "text_decontaminate_bloom",
    "text_contamination_score",
    "text_ngram_perplexity", "text_bpe_train", "text_bpe_tokens",
    "text_bpe_tokens_fused", "text_chunk_sliding",
    "pack_sequences", "curate_token_budget", "shuffle_deterministic",
    "curate_pipeline_e2e",
    "sim_knn_graph", "text_quality_classifier", "curate_domain_quality",
    "curate_snapshot_diff", "sim_cluster_knn", "sim_knn_density",
    "text_winnowing", "curate_cluster_balanced", "text_hybrid_rrf",
    "dedup_winnowing_pairs", "text_hybrid_rrf_multi", "curate_pipeline_v2",
    "sim_knn_graph_mp", "dedup_winnowing_incr", "sim_cluster_assign",
    "sim_graph_pagerank", "text_topk_ngrams", "dedup_source_overlap",
    "sim_cluster_exemplars", "sim_seed_expand", "curate_length_buckets",
    "text_bpe_fertility", "text_tfidf_topk", "curate_curriculum",
    "sim_cluster_profile", "mm_dedup_phash", "curate_dataset_card",
    "text_blocklist_filter", "sim_index_staleness", "text_ngram_novelty",
    "sample_reservoir", "curate_card_incremental", "mm_dedup_phash_incr",
    "text_decontaminate_spans", "dedup_threshold_calibration",
    "sim_cluster_labels_incr", "curate_domain_decisions",
    "text_decontam_spans_multi", "sim_graph_edges_incr",
    "sim_cluster_quality", "text_gopher_rules", "mix_doremi",
    "sim_pagerank_incr", "text_length_outliers_approx",
    "agg_approx_sketch", "text_heavy_hitters_cms", "text_heavy_hitters_incr",
    "sig_fanout_merged",
    // round 14: the combined stateless+timeframe plan and the multi-group
    // battery union — both scan the replicated events table
    "sig_tf_combined", "tf_battery_multigroup",
    // round 16: the compiled-rule battery plans (r15 verdict #5 carried
    // probes) + the full-schema combined row + the new by-key/distinct
    // compiled pipes — all alertsBattery/alertsCombined shapes over the
    // replicated events table
    "tf_compiled_battery", "sig_tf_combined_shape",
    "tf_compiled_groupby", "tf_compiled_distinct",
    // round 17: the composite-key battery plan and the two pair/chain
    // correlators (flatMapGroupsWithState over the replicated events
    // table — the state shuffle + per-key slot state is what scales)
    "tf_correlation_multikey", "tf_correlation_temporal",
    "tf_correlation_chain",
    // round 18: the any-order n-slot correlator (same stateful shape,
    // per-kind latest slots)
    "tf_correlation_anyorder")

  def main(args: Array[String]): Unit = {
    val spillMode = args.headOption.contains("spill")
    val rest = if (spillMode) args.drop(1) else args
    val mults = rest.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(30))
    val queryFilter = rest.drop(1).headOption
      .map(_.split(",").map(_.trim).toSet)
    val queries = queryFilter.fold(probed)(f => probed.filter(f))
    val mult = mults.head // spill mode and replica sizing use the first
    val base = "/root/testdata/sf0.1"
    def outFor(m: Int) = s"/tmp/graft_scale_x$m"
    val out = outFor(mult)
    // spill mode runs 8-way, not 32-way: the squeeze leaves each task its
    // minimum page allocations (32 concurrent tasks on a squeezed region
    // die in UNABLE_TO_ACQUIRE_MEMORY before any operator can spill) while
    // making per-task input 4× larger — more pressure per task, honestly
    // reached
    val threads = if (spillMode) "8" else "32"
    // spill mode squeezes the unified memory region (execution + storage)
    // to ~5% of the heap; the spill probe's aggregations/joins then exceed
    // their share and must go through the ExternalSorter/
    // ExternalAppendOnlyMap disk path — the memory-pressure behavior a
    // 100 TB run lives in. Pair with a small driver heap
    // (SPARK_DRIVER_MEM=1500m) for real pressure: 8g × 0.05 across 10×
    // sf0.1 never fills.
    val memFraction = "0.05"
    val spark = Bench.session(threads,
      if (spillMode) Map("spark.memory.fraction" -> memFraction) else Map.empty)
    spark.sparkContext.setLogLevel("ERROR")

    def makeReplicas(m: Int, dest: String): Unit = {
      // documents: suffix every word with the copy tag → vocabularies are
      // disjoint across copies, so cross-copy shingle/minhash matches vanish
      val docs = spark.read.parquet(s"$base/documents.parquet")
      (0 until m).map { i =>
        docs
          .withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1c$i"))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dest/documents.parquet")

      // embeddings: deterministic per-(copy, dim) sign flips → cross-copy
      // cosines are ~random, originals' geometry within a copy is preserved
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      (0 until m).map { i =>
        emb
          .withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
          .withColumn("embedding", expr(
            s"""transform(sequence(0, size(embedding) - 1),
                  d -> CAST(embedding[d] *
                       (CASE WHEN pmod(d * 131 + $i * 17, 2) = 0
                             THEN 1.0 ELSE -1.0 END) AS FLOAT))"""))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")

      // remaining tables: copy via a parquet read/write round-trip so the
      // probe stays layout-agnostic (a raw Files.copy assumes each table is
      // a single file; driver-generated data could become directory-layout
      // parquet without notice)
      // (events.ts is INT64 TIMESTAMP(NANOS): readable only as a long; the
      // round-trip writes it back as a plain BIGINT of nanos, which
      // Tables.load converts identically)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      for (n <- engine.Tables.all
          if n != "documents" && n != "embeddings" && n != "events") {
        spark.read.parquet(s"$base/$n.parquet")
          .write.mode("overwrite").parquet(s"$dest/$n.parquet")
      }
      // events: replicate with a per-copy event_id shift — the detection
      // synth derives every pooled field from event_id modular phases, so
      // shifted copies cycle the same value combinations and rule alert
      // volume scales linearly with the data (needed by the
      // sig_fanout_merged scaling row; a plain 1× copy would probe the
      // dispatch at constant data under every multiplier)
      val ev = spark.read.parquet(s"$base/events.parquet")
      (0 until m).map(i =>
          ev.withColumn("event_id", col("event_id") + lit(i * 1000000000L)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dest/events.parquet")
    }
    (if (spillMode) Seq(mult) else mults).foreach(m => makeReplicas(m, outFor(m)))

    SparkEntry.entry(spark).count() // warm session machinery

    if (spillMode) {
      // completion BY SPILLING under memory pressure is the assertion: a
      // wrong-shaped pipeline OOMs or dies in the sorter here instead of
      // spilling, and a run that spilled nothing proved nothing.
      // Default is the end-to-end dedup pipeline; `spill <mult> <query>`
      // probes any other registered query (e.g. the window-sort path of
      // curate_pipeline_e2e).
      val pipeline = queryFilter.flatMap(_.headOption)
        .getOrElse("dedup_keep_canonical")
      // spill counts this run's tasks only, not the replica writes or
      // the warm-up, which also run under the squeezed memory fraction
      val r = Bench.run(spark, pipeline, out).fold(e => throw e, identity)
      require(r.rows > 0, s"$pipeline returned no rows under memory pressure")
      println(f"""{"metric":"spill_probe","query":"$pipeline","mult":$mult,""" +
        f""""sec":${r.totalS}%.2f,"rows":${r.rows},""" +
        f""""spilled_mem_mb":${r.spillMemBytes / (1024 * 1024)},""" +
        f""""spilled_disk_mb":${r.spillDiskBytes / (1024 * 1024)}}""")
      require(r.spillMemBytes + r.spillDiskBytes > 0,
        s"$pipeline spilled nothing at ${mult}x with spark.memory.fraction=$memFraction" +
          ": no memory pressure was reached; raise the multiplier or lower SPARK_DRIVER_MEM")
    } else {
      val multCols = mults.flatMap(m => Seq(f"t_${m}%dx", "ratio"))
        .map(h => f"$h%9s").mkString
      val marginalHdr = if (mults.size >= 2)
        f"  marg_${mults.init.last}%d->${mults.last}%dx   out_growth" else ""
      println(f"${"query"}%-24s ${"t_1x"}%8s$multCols$marginalHdr")
      val jsonRows = Seq.newBuilder[String]
      // the faster of two runs after an untimed one: JIT/codegen for a
      // query's operators compiles on its first run, which would otherwise
      // inflate t_1x (it always runs first) and understate the scaling
      // ratio. Each point is (seconds, output rows): the row count makes
      // linear-output / super-linear-time cases (single-JVM memory
      // pressure) machine-distinguishable from genuine pair-space blowups
      // — the r11 ngram-Jaccard adjudication rested on a pair count
      // recorded only in prose (r11 verdict task #6).
      queries.foreach { name =>
        val (t1, rows1) +: points = (base +: mults.map(outFor)).map { d =>
          val r = Bench.repeat(spark, name, d, 2)().minBy(_.totalS)
          (r.totalS, r.rows)
        }
        val ts = points.map(_._1)
        val cols = ts.map(tn => f"$tn%9.2f${tn / t1}%9.2f").mkString
        // the marginal between the last two points is the linearity
        // verdict: data grows mults.last/mults.init.last ×, a linear
        // pipeline's time should grow about that factor. output_growth is
        // the OUTPUT-row growth over the same two points: a time marginal
        // above the data factor with output_growth at-or-below it is
        // memory/constant pressure, not pair-space blowup — and vice
        // versa a super-linear output_growth convicts the workload shape
        // regardless of how fast the run happened to be.
        val marginal = if (mults.size >= 2) {
          val og = if (points.init.last._2 > 0)
            points.last._2.toDouble / points.init.last._2 else -1.0
          f"  ${ts.last / ts.init.last}%9.2f  $og%9.2f"
        } else ""
        println(f"$name%-24s $t1%8.2f$cols$marginal")
        val tsJson = mults.zip(points)
          .map { case (m, (tn, rn)) => f""""t_${m}%dx":$tn%.2f,"rows_${m}%dx":$rn%d""" }
          .mkString(",")
        val margJson = if (mults.size >= 2) {
          val og = if (points.init.last._2 > 0)
            points.last._2.toDouble / points.init.last._2 else -1.0
          f""","marginal":${ts.last / ts.init.last}%.2f,"output_growth":$og%.2f"""
        } else ""
        jsonRows += f""""$name":{"t_1x":$t1%.2f,"rows_1x":$rows1%d,$tsJson$margJson}"""
      }
      // machine-readable rows for the committed PROBES.json (r10 verdict
      // task #7): the same numbers as the table above, keyed per query
      sys.env.get("GRAFT_SCALE_JSON").foreach { p =>
        val json = s"""{"metric":"scale_probe","mults":[${mults.mkString(",")}],""" +
          s""""queries":{${jsonRows.result().mkString(",")}}}"""
        java.nio.file.Files.write(java.nio.file.Paths.get(p),
          json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    spark.stop()
  }
}
