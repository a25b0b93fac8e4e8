package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}

/** One-shot plan audit across the ENTIRE query registry: builds every
  * query's physical plan (no execution) and flags the shapes that do not
  * survive scale — cartesian products, nested-loop joins on non-broadcast
  * sides, single-partition exchanges, and excessive shuffle counts.
  * PlanSpec pins the important plans individually; this is the fleet-wide
  * sweep that catches a regression in a query nobody pinned.
  *
  * Usage: runMain graft.PlanAudit [sfDir]  (a [[Bench.session]] of 8 cores)
  */
object PlanAudit {
  // BroadcastNestedLoopJoin is legitimate exactly where a tiny side is
  // broadcast against a scan (the ANN query set); everything else flags.
  private val bnljAllowed = Set(
    "sim_topk_bruteforce", "sim_ivf_ann", "sim_ivf_nprobe2", "sim_ivf_kmeans",
    "sim_lsh_ann", "sim_q8_rerank", "sim_pq_adc",
    // the tiny centroid artifact crossJoin-broadcast onto the 8-row
    // probe set (sim_ivf_ann's exact assignment shape)
    "sim_cluster_assign",
    "text_bm25_topk", "text_bm25_multi",
    // bm25 stats row + the 1-row query vector, each crossJoin-broadcast
    // onto one corpus pass; the fusion join touches <=10-row lists
    "text_hybrid_rrf",
    // same shape, N queries: the tiny query-vector set crossJoin-broadcast
    // onto one corpus pass; fusion joins two <=8-row-per-query lists
    "text_hybrid_rrf_multi",
    // the `<`-ordered self-pairing of the per-SOURCE signature frame:
    // both sides are aggregated to one row per source before the join,
    // so the broadcast carries #sources rows and the loop is #sources²
    // comparisons — index-metadata scale, not data scale
    "dedup_source_overlap",
    "text_vocab_topk", "text_length_outliers", "text_length_outliers_approx",
    // the 1-row doc-count frame cross-joined onto the VOCAB-sized df
    // table (idf scaling) — never onto the token stream
    "text_tfidf_topk",
    // two 1-row corpus-stat frames (rt, tt) cross-joined onto the
    // 1024-row weight table — never onto the document stream
    "text_dsir_importance",
    // the 1-row LM-total frame cross-joined onto the DENSE 4096-row LM
    // table build — never onto the gram stream (the first version DID
    // crossJoin the stream and this audit caught it)
    "text_ngram_perplexity",
    "mix_rebalance", "mix_temperature",
    // two 1-row stat frames (corpus totals, weight total) cross-joined
    // onto the ~|domains|-row table — never onto the document stream
    "mix_doremi",
    // the 1-row min-cluster-count frame cross-joined onto the per-cluster
    // count table (mix_rebalance's exact shape, cluster-keyed)
    "curate_cluster_balanced",
    // the 1-row quantile-threshold frame cross-joined onto the scan
    // (text_length_outliers' exact shape)
    "curate_curriculum",
    // composes the allowlisted ANN probes above (their broadcast query
    // sets), plus one 1-row truth-count frame cross-joined onto the
    // 7-row per-method summary
    "sim_recall_eval",
    // same eval shape for the dedup family: one 1-row truth-count frame
    // cross-joined onto the 5-row per-method summary
    "dedup_method_eval",
    // the 1-row global-exemplar vector crossJoin-broadcast onto the
    // labeled member stream (the curate_curriculum threshold shape) —
    // one baseline cosine per member, never a data×data loop
    "sim_cluster_quality",
    // the 1-row doc-count threshold frame cross-joined onto the
    // VOCAB-sized heavy-hitter report — never onto the posting stream;
    // the CMS itself broadcasts as a 16384-cell equi-join side
    "text_heavy_hitters_cms",
    // same report shape over the merged (base-artifact + batch) sketch
    "text_heavy_hitters_incr")

  // A one-row global summary ends in an Exchange SinglePartition that
  // receives only per-task PARTIAL aggregates (map-side combined) — the
  // canonical global-agg shape, not a bottleneck. Flag single-partition
  // exchanges everywhere else (a global sort or windowless row_number
  // funneling real data through one task IS a scale killer).
  private val globalSummaryAllowed = Set(
    "quality_expectations", "text_length_outliers",
    "text_length_outliers_approx", "mix_rebalance",
    // the 1-row corpus-totals and weight-total aggs of per-task partials
    "mix_doremi",
    "mix_temperature", "dedup_keep_canonical", "text_bm25_topk",
    "text_bm25_multi", "text_vocab_topk", "text_dsir_importance",
    "text_ngram_perplexity", "curate_cluster_balanced", "curate_curriculum",
    // 1-row card summary of per-task partials (multi-distinct expand)
    "curate_dataset_card",
    // one single-row agg of per-task (words, tokens) partials
    "text_bpe_fertility",
    // rank windows + fusion over two TakeOrdered <=10-row lists
    "text_hybrid_rrf",
    // the bm25 stats global agg + query-count-sized rank lists
    "text_hybrid_rrf_multi",
    // the 1-row truth-count agg (24 rows in) joined onto the 7-row
    // per-method recall summary
    "sim_recall_eval",
    // the 1-row planted-truth count joined onto the 5-row method summary
    "dedup_method_eval",
    // the 1-row doc-count agg feeding the vocab-level idf scaling
    "text_tfidf_topk",
    // the 1-row global-exemplar argmax: per-task (rank, -node) partials
    // map-side combined into one row — the canonical global-agg shape
    "sim_cluster_quality",
    // the 1-row doc-count agg feeding the heavy-hitter threshold
    "text_heavy_hitters_cms",
    // the union-corpus 1-row doc-count agg, same threshold shape
    "text_heavy_hitters_incr")

  /** The shuffle-count ceiling catches one QUERY accreting shuffles; a
    * deliberate UNION of many independent pipelines legitimately sums
    * theirs. Each entry must be a composition whose arms are individually
    * audited under their own names. */
  private val shuffleCountAllowed = Set(
    // 7 ANN probe pipelines (each 1–3 shuffles, each audited standalone)
    // + one 168-row summary agg
    "sim_recall_eval",
    // 5 pair-search pipelines (each audited standalone) + one summary agg
    "dedup_method_eval")

  /** Big parquet tables: a scan of one of these feeding an INTERPRETED
    * (non-WholeStageCodegen) stretch is a hot path running the row-at-a-
    * time Volcano loop — ~an order of magnitude of per-row overhead at
    * 100 TB. Dimension tables don't matter. */
  private val bigTables =
    Set("documents", "embeddings", "lineitem", "orders", "events")

  /** Queries allowed to evaluate lambda (higher-order) functions over a
    * big-table scan. HOFs are CodegenFallback — per-element interpreted
    * evaluation — which twice this round was the root cause of a 2–10×
    * per-query regression (LSH plane weights; minhash signatures), so any
    * NEW appearance must either move to a fused kernel
    * (graft.functions.*) or be justified here. Current entries: the
    * deliberate HOF-surface pin (p13), per-row text algebra whose arrays
    * are a few dozen words and whose queries are sub-0.2 s (text ops,
    * packing/curation), ScaleProbe-style derived corpora that transform
    * embeddings once at plant time (dedup_embedding_*), and the q8
    * index/query quantization transforms (index side built once per
    * session; query side is 8 rows). */
  private val lambdaAllowed = Set(
    "p13_higher_order",
    "text_quality", "text_langid", "text_fingerprint", "text_repetition",
    "text_blocklist_filter",
    // the Gopher rule battery: filter/array_distinct over per-doc word
    // arrays of ≤~100 elements, text_quality's exact class (narrow
    // per-row algebra, sub-0.15 s at the 100× probe)
    "text_gopher_rules",
    "text_entropy", "text_length_outliers", "text_length_outliers_approx",
    "text_pipeline_e2e",
    "text_decontaminate", "text_pii_redact", "text_tokens",
    "text_chunk_sliding",
    // line chunking + reassembly transforms: per-doc arrays of ≤12 lines,
    // and the big-side stream is checkpointed before the transform anyway
    "text_line_dedup",
    // positional-gram hashing + span-coverage filter/exists over per-doc
    // arrays of ≤100 words; the gram stream is checkpointed once
    "dedup_exact_substring",
    // positional pair-bucketing transform over the per-doc word-id array
    // (ids come from the fused kernel; the pair arithmetic is per-doc-
    // bounded and the gram stream is checkpointed once)
    "text_ngram_perplexity",
    // the adjacent-pair transform runs on the VOCAB-BOUNDED side above
    // the word-count shuffle (per-word arrays ≤ word length); the corpus
    // scan below the shuffle never evaluates a lambda
    "text_bpe_train",
    "pack_sequences", "quality_expectations", "curate_curriculum",
    "curate_dataset_card",
    // the shared stopword-filter HOF feeding scoreBpSql, per-doc arrays
    // of ≤~100 words — curate_curriculum's exact class
    "mix_doremi",
    "dedup_embedding_lsh", "dedup_embedding_cosine",
    // pq: the ADC-table collect/transform runs over the 8-row query side;
    // the encoded index and codebook build inside the session memo
    "sim_q8_rerank", "sim_pq_adc", "mm_frame_sample", "mm_decode_features",
    // composes sim_q8_rerank / sim_pq_adc, inheriting their allowlisted
    // index-build / 8-row-query-side transforms
    "sim_recall_eval",
    // centroid array collect + the ×1.01 batch transform: both run once
    // per monitoring invocation over k×dim / batch-sized frames
    "sim_index_staleness")

  /** Names of big tables scanned OUTSIDE any WholeStageCodegen span.
    * (The scan node lives inside the WSCG subtree via InputAdapter /
    * ColumnarToRow when codegen fired for its consuming stage.)
    *
    * InputAdapter is the codegen-STAGE boundary: everything below it
    * belongs to other stages, so `under` resets there — otherwise a scan
    * whose own stage failed codegen would count as covered whenever ANY
    * ancestor stage had WSCG, and the detector would only fire with
    * codegen globally off. The one shape that stays covered across the
    * boundary is a scan that is itself the adapter's direct child (the
    * stage's input iterator — e.g. a columnar parquet scan feeding
    * ColumnarToRow): no interpreted operator work happens there. */
  private[graft] def scansOutsideCodegen(p: SparkPlan, under: Boolean = false): Seq[String] =
    p match {
      case w: WholeStageCodegenExec =>
        w.children.flatMap(scansOutsideCodegen(_, under = true))
      case i: InputAdapter =>
        i.children.flatMap {
          case s: FileSourceScanExec => scansOutsideCodegen(s, under)
          case c => scansOutsideCodegen(c, under = false)
        }
      case s: FileSourceScanExec =>
        val table = s.relation.location.rootPaths.headOption
          .map(_.getName.stripSuffix(".parquet")).getOrElse("")
        if (!under && bigTables(table)) Seq(table) else Nil
      case other => other.children.flatMap(scansOutsideCodegen(_, under))
    }

  /** JIT dead-zone sweep (round 12): compile every WholeStageCodegen
    * subtree of a plan and report the largest generated METHOD size. A
    * method above HotSpot's DontCompileHugeMethods ceiling (8000
    * bytecode) never JIT-compiles; with Spark's default
    * hugeMethodLimit=65535 a stage in the (8000, 65535] window silently
    * runs INTERPRETED generated code — the 25-rule merged detection
    * dispatch lived exactly there, 4-5× slower per event until round 12
    * measured it (2.1 s → 0.54 s per 400k-event rate-source
    * trigger). Under the library's SessionDefaults (hugeMethodLimit=8000)
    * such stages take the visible per-operator-codegen fallback instead,
    * so a listing here means "this stage does not fuse", not "this stage
    * is interpreted" — report it so fusion loss is a recorded fact, not a
    * surprise. */
  private[graft] def jitDeadZone(plan: SparkPlan): Seq[Int] =
    org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
      .map(_._3.maxMethodCodeSize).filter(_ > 8000)

  /** Audit every registered query's physical plan; returns the flagged
    * (name, reasons) pairs plus the JIT dead-zone report
    * (query -> max generated-method bytecode across its no-fuse stages).
    * Plan building only — nothing executes (beyond the localCheckpoints
    * some dedup queries take at build time), though the dead-zone sweep
    * does COMPILE each stage's generated code. AQE is disabled while
    * building: the adaptive wrapper's pre-execution plan carries no
    * WholeStageCodegen markers, and the static planner's shapes are what
    * the string checks inspect anyway. */
  def audit(spark: SparkSession, dir: String): Seq[(String, String)] =
    auditFull(spark, dir)._1

  def auditFull(spark: SparkSession, dir: String):
      (Seq[(String, String)], Seq[(String, Int)]) = {
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val deadZone = Seq.newBuilder[(String, Int)]
    val flagged = try SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan
        val dz = try jitDeadZone(plan) catch { case _: Throwable => Nil }
        if (dz.nonEmpty) deadZone += (name -> dz.max)
        val p = plan.toString
        val interpreted = scansOutsideCodegen(plan).distinct
        // a SinglePartition exchange is benign when it feeds a global
        // aggregate of per-task partials; the runtime bloom-filter join
        // pushdown (bloom_filter_agg) is exactly that shape — its parent
        // line in the printed tree is the final ObjectHashAggregate
        val lines = p.linesIterator.toVector
        val dataBearingSinglePartition = lines.zipWithIndex.exists {
          case (l, i) =>
            l.contains("Exchange SinglePartition") &&
              !lines.take(i).lastOption.exists(_.contains("bloom_filter_agg"))
        }
        val scansBig = plan.collect {
          case s: FileSourceScanExec => s.relation.location.rootPaths.headOption
            .map(_.getName.stripSuffix(".parquet")).getOrElse("")
        }.exists(bigTables)
        val flags = Seq(
          "CartesianProduct" -> p.contains("CartesianProduct"),
          "BNLJ" -> (p.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)),
          "SinglePartition" ->
            (dataBearingSinglePartition && !globalSummaryAllowed(name)),
          "10+ shuffles" ->
            (p.linesIterator.count(_.contains("Exchange hashpartitioning")) >= 10
              && !shuffleCountAllowed(name)),
          s"interpreted big-table scan (${interpreted.mkString(",")})" ->
            interpreted.nonEmpty,
          "interpreted HOF over a big-table scan" ->
            (scansBig && p.contains("lambdafunction") && !lambdaAllowed(name))
        ).collect { case (f, true) => f }
        if (flags.nonEmpty) Some(name -> flags.mkString(", ")) else None
      } catch {
        case e: Throwable =>
          Some(name -> s"plan build failed: ${e.getMessage.take(120)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    (flagged, deadZone.result())
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Bench.session(cpus = "8")
    spark.sparkContext.setLogLevel("ERROR")
    val (flagged, deadZone) = auditFull(spark, dir)
    flagged.foreach { case (n, f) => println(s"FLAG $n: $f") }
    deadZone.foreach { case (n, sz) => println(s"NOFUSE $n: max method $sz B") }
    println(s"audited ${SparkEntry.queries.size} queries, ${flagged.size} flagged, " +
      s"${deadZone.size} with no-fuse (JIT dead-zone) stages")
    // machine-readable result for the committed PROBES.json
    sys.env.get("GRAFT_AUDIT_JSON").foreach { p =>
      val fl = flagged.map { case (n, f) =>
        s""""$n":"${f.replace("\"", "'")}"""" }.mkString(",")
      val dz = deadZone.map { case (n, sz) => s""""$n":$sz""" }.mkString(",")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (s"""{"metric":"plan_audit","audited":${SparkEntry.queries.size},""" +
          s""""flagged":{$fl},"jit_dead_zone":{$dz}}""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
