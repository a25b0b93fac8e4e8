package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Similarity search over the `embeddings` table (64-dim Array[Float]):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path.
  *
  * Dot products run as `aggregate(zip_with(...))` column algebra in pure
  * doubles — no UDFs, stays inside codegen. Ranking rounds cosine to 6
  * decimals before ordering (ties broken by vec_id) so Spark and DuckDB
  * order identically despite float-summation noise.
  *
  * Scale (100 TB): brute-force is a broadcast of the (small) query set
  * against a full scan of the corpus — one pass, no shuffle except the
  * per-query top-k (tiny). The LSH variant buckets the corpus once
  * (narrow), then probes only the query's bucket: candidate count drops by
  * the bucket fan-out, and the plane count is sized from the corpus count
  * (Lsh.planesFor) so per-bucket population — and probe cost — stays
  * ~constant as the corpus grows. An IVF variant would swap the hash for
  * k-means centroids — same join topology.
  */
object Similarity {

  // native codegen'd loop (graft.functions.VecDotExpr) — same left-to-right
  // double summation as the DuckDB oracle's unnest+sum
  private val dotExpr = "vec_dot(qe, ce)"
  private def normExpr(c: String) = s"sqrt(vec_dot($c, $c))"

  /** Rebuild threshold for sim_index_staleness, in 1e-6 squared-distance
    * units (drift6 > this ⇒ stale). Config in a deployment; a literal
    * here so both engines share one constant. */
  private[ops] val StaleDrift6 = 1000L

  /** Per-label centroid drift verdicts — stored centroid set vs a
    * recomputed one, integer-scaled squared distance against the ONE
    * shared threshold. Factored so the monitoring query
    * (sim_index_staleness: current = corpus + synthetic arrival batch)
    * and the IndexRefresh job (current = the corpus as it stands after
    * real ingest) share the verdict arithmetic — the job must not be
    * able to disagree with the monitor about what "stale" means. */
  private[graft] def centroidDrift(stored: DataFrame, current: DataFrame): DataFrame =
    // FULL OUTER on the label key: a label present on only one side —
    // new content arrived under a label the stored index has never
    // seen, or the last rows of an old label left the corpus — is
    // maximal staleness, not a row to silently drop (an inner join
    // here would leave the refresh canary blind to exactly the arrival
    // that most needs a rebuild: the IVF routing table would
    // permanently lack the new label's centroid). Unmatched labels
    // carry a NULL drift6 and an unconditional 'stale' verdict.
    stored.select(col("label"), col("carr").as("ca"))
      .join(current.select(col("label"), col("carr").as("cb")), Seq("label"), "full_outer")
      .select(col("label"),
        when(col("ca").isNull || col("cb").isNull, lit(null).cast("long"))
          .otherwise(expr("CAST(round(round(vec_sqdist(ca, cb), 6) * 1e6) AS BIGINT)"))
          .as("drift6"))
      .withColumn("verdict",
        when(col("drift6").isNull || col("drift6") > StaleDrift6, "stale")
          .otherwise("fresh"))

  /** The cheap semantic canary the refresh job evaluates: per-label
    * means over the CURRENT corpus (one aggregate pass — the
    * incremental-ingest monitoring cost), for comparison against the
    * stored centroid artifact. */
  private[graft] def currentLabelCentroids(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    labelCentroids(Tables(s, dir, "embeddings"))
  }

  /** Own-space canary means for the K-MEANS-family centroid artifacts
    * (ivf_kmeans_centarr / semdedup_centarr / knn_cluster_centarr). The
    * r10 ADVICE blind spot: gating every centroid family on drift of
    * per-LABEL means lets a corpus change that redistributes vectors
    * WITHIN labels move the k-means optima while label means sit still —
    * those artifacts were adopted (and stamped current) with unmonitored
    * drift in their own centroid space. This measures in that space:
    * route each current-corpus vector to its nearest STORED centroid
    * (one broadcast pass, the builders' exact 6dp-rounded argmin
    * discipline) and take per-centroid means; centroidDrift of stored vs
    * routed means then applies the one shared threshold. Cost is one
    * n×k broadcast pass per family, paid only when the source
    * fingerprint actually changed. `stored` is (label, carr). */
  private[graft] def reassignedCentroids(corpus: DataFrame, stored: DataFrame): DataFrame =
    labelCentroids(corpus
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(stored.select(col("label"), col("carr"))))
      .select(col("vec_id"),
        struct(round(expr("vec_sqdist(embedding, carr)"), 6).as("dist"),
          col("label"), col("embedding")).as("cand"))
      .groupBy("vec_id")
      .agg(min(col("cand")).as("m"))
      .select(col("m.label").as("label"), col("m.embedding").as("embedding")))

  /** Per-query top-3 over (qid, nid, cos_r) via the bounded-state
    * `topk3_ids` aggregate (graft.functions.TopKIdsExpr): map-side partials
    * keep ≤3 rows per qid, so the shuffle is O(tasks × queries × 3) — the
    * round-2 window (`row_number OVER (PARTITION BY qid ...)`) shuffled the
    * FULL scored pair set into 8 sort tasks, which both regressed the bench
    * and is exactly the parallelism collapse that kills a 100 TB scan.
    * Ordering (cos_r DESC, nid ASC) matches the DuckDB window oracle. */
  private def topK3(scored: DataFrame): DataFrame =
    scored.groupBy("qid")
      .agg(expr("topk3_ids(cos_r, nid)").as("top"))
      .select(col("qid"), posexplode(col("top.ids")).as(Seq("pos", "nid")))
      .select(col("qid"), (col("pos") + 1).as("rank"), col("nid"))
      .orderBy("qid", "rank")

  /** Array-form per-label centroid index (label, carr double[dim],
    * d-ascending): per-dim means collected into arrays so a probe is one
    * codegen'd vec_sqdist per (query, centroid) instead of a dim×-row
    * explode through a join. The collect/sort HOF runs once per session at
    * index build (Tables.cachedFrame), off the hot path. */
  private def labelCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("label", "d")
      .agg(avg(col("x").cast("double")).as("c"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(d, c))), s -> s.c)").as("carr"))

  /** Bucketed embeddings frame for the ALL-NODES kNN queries (graph /
    * density / clustering), with a HARD candidate-pair bound.
    *
    * Round-8 measurement history, because the bound matters: at the 100×
    * probe the plain sign-at-zero buckets left only 1 200 of 4 096 buckets
    * occupied (effective population 898 vs the 64 target) and the kNN
    * marginal went super-linear (5.3× for 3.33× data). Median-thresholding
    * the planes (Lsh.centeredBucket) changed NOTHING — the per-plane
    * medians were already ~0, so the skew is inter-plane CORRELATION:
    * this corpus is clustered, and similar vectors sharing a bucket is
    * precisely what LSH is for — a dense cluster IS a mega-bucket, and no
    * plane count sized on a balance assumption caps it. (The centered
    * bits are kept: they cost one memoized stats job and make the scheme
    * robust to mean-shifted corpora, the OTHER failure mode.)
    *
    * The distribution-proof fix is BUCKET CAPPING: every bucket over the
    * target population is split into nsub = ceil(pop / TargetBucketPop)
    * deterministic sub-buckets by vec_id mod nsub, and the self-join
    * requires sub-bucket equality too — per bucket the pair space drops
    * from pop² to ≤ pop · cap, so the TOTAL is ≤ n · cap for ANY data
    * distribution: no corpus can blow up the join. The trade is candidate
    * DIVERSITY inside mega-clusters (a capped node sees ~cap of its
    * cluster-mates, still plenty to pick 3 neighbors from); pops is one
    * keyed count off the checkpointed signatures, joined back on the same
    * bucket key the main join shuffles on (index metadata at deployment).
    * Measured at 100×: pairs 179.6M → 13.8M (effective population 898 →
    * 69 against the 64 target), the kNN marginal back to ~linear. */
  private[ops] def cappedKnnBuckets(s: SparkSession, dir: String): DataFrame =
    Tables.cachedFrame(s, dir, "knn_capped_buckets") {
      val e = Tables(s, dir, "embeddings")
      val (planes, dim) = Lsh.sizing(s, dir, "embeddings", e)
      val thr2 = Lsh.medianThr2(s, dir, "embeddings", e, planes, dim)
      val withB = e.withColumn("bucket",
        Lsh.centeredBucket(planes, "embedding", dim, thr2)).localCheckpoint()
      val pops = withB.groupBy("bucket").agg(
        expr(s"(count(1) + ${Lsh.TargetBucketPop - 1}) div ${Lsh.TargetBucketPop}")
          .as("nsub"))
      withB.join(pops, "bucket")
    }

  /** Per-(session, dir) count of cluster-label CC builds this JVM has run
    * — the spec hook proving repeat invocations (and warm-store sessions)
    * probe the stored labels instead of re-running the edge build + CC
    * loop. Incremented only inside the cachedFrame build thunk. */
  private[graft] val labelBuildCounts =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Int]

  /** kNN-graph cluster labels (node, cluster) as a DURABLE INDEX ARTIFACT
    * — the same build-once / probe-forever lifecycle every other index
    * here gets (IVF centroids, q8 vectors, band signatures). The build —
    * the O(n · pop) capped-bucket edge join + the O(log d) large-star/
    * small-star CC loop — is the expensive part of every clustering
    * consumer (balanced sampling, SemDeDup-style pruning, cluster
    * analytics), and it is pure corpus-derived state: exactly what a
    * deployment runs as a dedicated index job. Resolving through
    * Tables.cachedFrame means one build per session (localCheckpoint
    * memo), and with GRAFT_INDEX_DIR set one build per STORE — later
    * sessions and JVMs read the stored parquet with zero CC rounds.
    * At 100 TB that converts ~13 s per invocation (measured at the 100×
    * probe) into a parquet scan of an (node, cluster) table. */
  private[ops] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    Tables.cachedFrame(s, dir, "knn_cluster_labels") {
      labelBuildCounts.updateWith((s, dir))(c => Some(c.getOrElse(0) + 1))
      graft.functions.GraftFunctions.register(s)
      // cosine ties in the top-3 broken by nid → the edge SET is
      // deterministic and the labels replay exactly in the oracle's
      // recursive CTE; edges resolve through the shared durable edge
      // artifact (one corpus-sized build serves labels, PageRank, and
      // seeded diffusion); starCC = one boolean per round to the driver,
      // plan size O(1) via per-round localCheckpoint
      val edges = knnEdgesDeg(s, dir)
        .select(col("src").as("da"), col("dst").as("db"))
      Dedup.starCC(edges)._1
    }

  /** Build counter for the PageRank artifact — same spec hook as
    * labelBuildCounts: proves repeat invocations probe the stored ranks
    * instead of re-running the edge build + iteration loop. */
  private[graft] val prBuildCounts =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Int]

  /** Per-node top-3 cosine neighbors (qid, rank, nid) over the capped
    * buckets — the ONE edge definition shared by the live sim_knn_graph
    * query and the durable knn_edges_deg artifact that labels, PageRank,
    * and seeded diffusion iterate over. The recursive-CTE oracles and
    * the intra-cluster/reachability specs all assume query and artifact
    * are edge-identical, so a tweak to the tie-break, the rounding, or
    * the cap must flow through HERE and reach both — the two bodies
    * were copy-pasted until round 9's review pass. */
  private def knnTop3(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val b = cappedKnnBuckets(s, dir)
    val q = b.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      col("bucket"), (col("vec_id") % col("nsub")).as("sub"),
      expr(normExpr("embedding")).as("qn"))
    val c = b.select(col("vec_id").as("nid"), col("embedding").as("ce"),
      col("bucket").as("cb"), (col("vec_id") % col("nsub")).as("csub"),
      expr(normExpr("embedding")).as("cn"))
    topK3(
      q.join(c, col("bucket") === col("cb") && col("sub") === col("csub")
          && col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r")))
  }

  /** Per-cluster centroid arrays (label, carr) as a DURABLE artifact
    * (`knn_cluster_centarr`), derived once from the stored labels ×
    * embeddings — the routing table every assignment consumer probes:
    * sim_cluster_assign, the ingest twin IngestFilters.clusterAssign,
    * and the incremental label maintenance (sim_cluster_labels_incr). */
  private[ops] def clusterCentArtifact(s: SparkSession, dir: String): DataFrame =
    Tables.cachedFrame(s, dir, "knn_cluster_centarr")(
      labelCentroids(clusterLabels(s, dir)
        .join(Tables(s, dir, "embeddings"), col("node") === col("vec_id"))
        .select(col("cluster").as("label"), col("embedding"))))

  /** The arriving-batch convention shared by the index-maintenance
    * queries (sim_index_staleness, sim_cluster_labels_incr): every 5th
    * vector rescaled ×1.01 in float, ids offset by +100000 — a
    * deterministic stand-in for an ingest batch that both engines can
    * replay bit-for-bit (float×float multiply, then the double math
    * downstream). */
  private def arrivalBatch(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % 5 === 0).select(
      (col("vec_id") + 100000).as("vec_id"),
      expr("transform(embedding, x -> CAST(x AS FLOAT) * CAST(1.01 AS FLOAT))").as("embedding"),
      col("label"))

  /** Arrival-probe candidate scores (qid, nid, cos_r): the arriving
    * batch joined against the indexed corpus through the capped buckets
    * — own centered bucket (index thresholds) + every 1-bit flip, each
    * probe picking up the TARGET bucket's nsub so the join stays fully
    * equi-keyed on (bucket, sub). Pair space ≤ batch·(planes+1)·cap for
    * ANY distribution (the sim_knn_graph_mp bound, probe-side
    * multiplier only). Shared by the label maintenance (top-1 over
    * labeled candidates) and the edge maintenance (top-3). */
  private def arrivalProbeCands(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables(s, dir, "embeddings")
    val b = cappedKnnBuckets(s, dir)
    val (planes, dim) = Lsh.sizing(s, dir, "embeddings", e)
    val thr2 = Lsh.medianThr2(s, dir, "embeddings", e, planes, dim)
    val pops = b.select(col("bucket").as("pb"), col("nsub").as("pnsub")).distinct()
    val q = arrivalBatch(e)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        expr(normExpr("embedding")).as("qn"),
        Lsh.centeredBucket(planes, "embedding", dim, thr2).as("bucket"))
      .withColumn("pb", explode(array(
        col("bucket") +:
          (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)))
      .join(pops, "pb")
      .select(col("qid"), col("qe"), col("qn"), col("pb"),
        (col("qid") % col("pnsub")).as("psub"))
    val c = b.select(col("vec_id").as("nid"), col("embedding").as("ce"),
      col("bucket").as("cb"), (col("vec_id") % col("nsub")).as("csub"),
      expr(normExpr("embedding")).as("cn"))
    q.join(c, col("pb") === col("cb") && col("psub") === col("csub"))
      .select(col("qid"), col("nid"),
        round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r"))
  }

  /** Per-cluster exemplars (cluster, exemplar, rank): the max-PageRank
    * member, ties to the smaller node — the ONE argmax rule shared by
    * the sim_cluster_exemplars query and the cluster-quality metric
    * (both oracles replay the same window, so the rule must have one
    * definition site). */
  private def exemplarsByRank(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)
      .join(pagerankRanks(s, dir), "node")
      .groupBy("cluster")
      .agg(max(struct(col("rank"), (-col("node")).as("nn"))).as("m"))
      .select(col("cluster"), (-col("m.nn")).as("exemplar"),
        col("m.rank").as("rank"))

  /** One maintenance step's APPEND-MERGE through a fresh temp copy of
    * the store (append semantics make these queries stateful by design
    * — a fixed path would double-append across invocations; production
    * appends to the real artifact in place). Returns the merged table. */
  private def tempStoreMerge(s: SparkSession, tag: String,
      base: DataFrame, appended: DataFrame): DataFrame = {
    val path = java.nio.file.Files
      .createTempDirectory(s"graft-$tag-ingest").toString + "/merged"
    graft.engine.IndexStore.save(base, path)
    graft.engine.IndexStore.append(appended, path)
    graft.engine.IndexStore.load(s, path)
  }

  /** The kNN graph's degree-attached edge list (src, dst, deg) as a
    * DURABLE artifact — the substrate every graph-diffusion consumer
    * iterates over (global PageRank, seeded expansion). Factored out of
    * the PageRank build so a second diffusion query doesn't pay the
    * capped-bucket join + top-3 aggregation again: the edge build is the
    * corpus-sized part; each diffusion is a few joins over this frame. */
  private[ops] def knnEdgesDeg(s: SparkSession, dir: String): DataFrame =
    Tables.cachedFrame(s, dir, "knn_edges_deg") {
      val edges = knnTop3(s, dir).select(col("qid").as("src"), col("nid").as("dst"))
      edges.join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src")
    }

  /** PageRank over the kNN similarity graph, as a DURABLE INDEX ARTIFACT
    * (`knn_pagerank`) — the graph-centrality quality signal web-corpus
    * curation ranks by, applied to the semantic graph: a document whose
    * neighborhood keeps choosing it as a nearest neighbor is prototypical
    * of a dense region; isolated or peripheral vectors rank at the
    * teleport floor. Consumers: centrality-weighted sampling, "keep the
    * most central exemplar" dedup policies, outlier triage.
    *
    * Determinism: the whole computation is INTEGER arithmetic, so both
    * engines replay it bit-for-bit with no float-summation-order channel.
    * Total mass S = 1e12; rank_0 = S div n; five unrolled iterations of
    *   rank'(v) = (15·S) div (100·n)  +  Σ_{u→v} (85·rank(u)) div (100·deg(u))
    * (floor division everywhere; Spark `div` ≡ DuckDB `//` on
    * non-negatives). Mass lost to floor rounding and to dangling nodes
    * (top-3 graphs have none, but sub-3 out-degrees floor harder) LEAKS
    * rather than being redistributed — a deliberate, documented variant:
    * ranks are consumed as a relative ordering, and the leak keeps every
    * term exact-integer in both engines.
    *
    * Scale (100 TB): edges are the capped kNN build (≤ 3n rows, pair
    * space ≤ n·cap for any distribution — see cappedKnnBuckets); each
    * iteration is ONE shuffle join (edge frame × rank frame on src) plus
    * ONE keyed aggregation (contributions by dst) plus a left join back
    * to the node frame — all linear in n, lineage truncated every other
    * round (the starCC localCheckpoint discipline). The iteration count
    * is fixed (5), not convergence-tested: no driver-side loop decision
    * depends on data, so the plan is static and the oracle unrollable. */
  /** Integer PageRank total mass (1e12) — shared by the cold build, the
    * warm refresh, and both oracles. */
  private val PrMass = 1000000000000L

  /** Warm-refresh iteration count. Two is the standard warm-start
    * budget: the seed already carries the converged structure of the old
    * graph, so the iterations only need to flow rank across the appended
    * edges — IndexRefreshSpec measures the warm job count strictly below
    * the 5-iteration cold build's. */
  private[graft] val PrWarmIters = 2

  /** `iters` integer PageRank iterations from `seed` over a
    * degree-attached edge frame — the ONE iteration kernel the cold
    * build (uniform seed, 5 iters) and the warm refresh (stored-rank
    * seed, PrWarmIters) both run, so the two paths cannot disagree on
    * the update rule. Each iteration: one shuffle join (edges × ranks on
    * src), one keyed aggregation (contributions by dst), one left join
    * back to the node frame — linear in n, lineage truncated every other
    * round. */
  private def prIterate(nodes: DataFrame, edges: DataFrame, seed: DataFrame,
      nTotal: Long, iters: Int): DataFrame = {
    val base = (15L * PrMass) / (100L * nTotal)
    var rank = seed
    for (i <- 1 to iters) {
      val contrib = edges
        .join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("(85 * rank) div (100 * deg)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("cs"))
      rank = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("cs"), lit(0L))).as("rank"))
      if (i % 2 == 0) rank = rank.localCheckpoint()
    }
    rank
  }

  private[ops] def pagerankRanks(s: SparkSession, dir: String): DataFrame =
    Tables.cachedFrame(s, dir, "knn_pagerank") {
      prBuildCounts.updateWith((s, dir))(c => Some(c.getOrElse(0) + 1))
      graft.functions.GraftFunctions.register(s)
      // the durable edge artifact — five iterations scan it, not the
      // bucket join
      val ed = knnEdgesDeg(s, dir)
      val e = Tables(s, dir, "embeddings")
      val n = Tables.cachedStat(s, dir, "count:embeddings")(e.count())
      val nodes = e.select(col("vec_id").as("node"))
      prIterate(nodes, ed, nodes.select(col("node"), lit(PrMass / n).as("rank")), n, 5)
    }

  /** WARM PageRank refresh — the standard re-seed-from-stored-ranks warm
    * start (r10 verdict task #6): nodes already ranked keep their stored
    * rank as the seed, new nodes seed at the uniform share under the NEW
    * node count, and only PrWarmIters iterations run over the maintained
    * (base + appended) edge frame. The seed already encodes the old
    * graph's converged structure; the short budget flows rank across the
    * appended edges. Cost: 2/5 of the cold build's iteration jobs plus
    * one seed join — no bucket build, no edge rebuild. The result is the
    * warm APPROXIMATION of the new graph's ranks (ranks are consumed as
    * a relative ordering; a full re-cluster refresh still cold-builds) —
    * deterministic integer arithmetic end to end, so the sim_pagerank_incr
    * oracle replays it bit-for-bit. */
  private[graft] def pagerankWarmRefresh(nodes: DataFrame, edges: DataFrame,
      stored: DataFrame, nTotal: Long): DataFrame =
    prIterate(nodes, edges,
      nodes.join(stored, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("rank"), lit(PrMass / nTotal)).as("rank")),
      nTotal, PrWarmIters)

  /** Oracle CTEs replaying cappedKnnBuckets' bucketed corpus: centered
    * buckets + per-bucket sub-split counts. Expects `comp` and `params`
    * upstream; yields `pops` (bucket, nsub) and `withb`
    * (vec_id, embedding, bucket, nsub). */
  private val knnBucketsSql: String =
    s"""${Lsh.centeredBucketsSql},
        pops AS (SELECT bucket,
                        (count(*) + ${Lsh.TargetBucketPop - 1}) // ${Lsh.TargetBucketPop}
                          AS nsub
                 FROM buckets GROUP BY bucket),
        withb AS (SELECT e.vec_id, e.embedding, b.bucket, p.nsub
                  FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id
                  JOIN pops p USING (bucket))"""

  /** Shared oracle CTEs replaying the single-probe capped self-join.
    * Expects `comp` and `params` upstream; yields `pairs`
    * (qid, nid, qe, ce). */
  private val knnPairsSql: String =
    s"""$knnBucketsSql,
        q AS (SELECT vec_id AS qid, embedding AS qe, bucket,
                     vec_id % nsub AS sub FROM withb),
        c AS (SELECT vec_id AS nid, embedding AS ce, bucket AS cb,
                     vec_id % nsub AS csub FROM withb),
        pairs AS (SELECT qid, nid, qe, ce FROM q JOIN c
                  ON bucket = cb AND sub = csub AND qid <> nid)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact ANN baseline: 8 query vectors × full corpus, cosine top-3.
    "sim_topk_bruteforce" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          expr(normExpr("embedding")).as("qn"))
      val c = e.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("nid"), col("embedding").as("ce"),
          expr(normExpr("embedding")).as("cn"))
      topK3(
        c.crossJoin(broadcast(q)) // broadcast the tiny query set; the corpus scan stays partition-local
          .select(col("qid"), col("nid"),
            round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r")))
    }),

    // IVF ANN: coarse quantizer = per-label centroids (the k-means step of
    // a real IVF index, replayable because the partition is given); probe
    // the nearest centroid only (nprobe=1), exact cosine top-3 inside it.
    // At scale: centroids are tiny (k × dim) → broadcast; the corpus is
    // hash-partitioned by centroid id so a probe touches one partition set.
    // The index is ARRAY-form (label, carr double[dim], d-ascending), built
    // once per session (cachedFrame): each query↔centroid distance is one
    // codegen'd vec_sqdist loop and the argmin is a bounded min(struct)
    // aggregation — the posexplode/join-on-d/window spelling amplified
    // every comparison dim× through a shuffle and paid ~5 sequential AQE
    // stages of latency per invocation.
    "sim_ivf_ann" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      val cent = Tables.cachedFrame(s, dir, "ivf_label_centarr")(labelCentroids(e))
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          expr(normExpr("embedding")).as("qn"))
      // nearest centroid by L2, rounded so the oracle ranks identically;
      // min(struct(dist, label)) = argmin with the oracle's (dist, label)
      // tie-break, bounded partial state, no window sort
      val probe = q.crossJoin(broadcast(cent))
        .select(col("qid"), col("label"),
          round(expr("vec_sqdist(qe, carr)"), 6).as("dist"))
        .groupBy("qid")
        .agg(min(struct(col("dist"), col("label"))).as("m"))
        .select(col("qid").as("pqid"), col("m.label").as("plabel"))
      val c = e.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("nid"), col("embedding").as("ce"), col("label"),
          expr(normExpr("embedding")).as("cn"))
      topK3(
        q.join(probe, col("qid") === col("pqid"))
          .join(c, col("plabel") === col("label"))
          .select(col("qid"), col("nid"),
            round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r")))
    }),

    // IVF with nprobe=2: probe the TWO nearest centroids — the standard
    // recall/cost knob (nprobe=1 misses neighbors that sit just across a
    // centroid boundary; each extra probe adds one block of exact work).
    // Identical topology to sim_ivf_ann: centroids broadcast, candidate
    // set = union of the probed blocks, exact cosine top-3 inside it.
    "sim_ivf_nprobe2" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      // shares the session-memoized array-form centroid index with sim_ivf_ann
      val cent = Tables.cachedFrame(s, dir, "ivf_label_centarr")(labelCentroids(e))
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          expr(normExpr("embedding")).as("qn"))
      // top-2 centroids per query: collect_list is bounded by the centroid
      // count k (tiny by construction; a huge-k deployment would swap in a
      // bounded top-k aggregate like topk3_ids)
      val probe = q.crossJoin(broadcast(cent))
        .select(col("qid"), col("label"),
          round(expr("vec_sqdist(qe, carr)"), 6).as("dist"))
        .groupBy("qid")
        .agg(expr("slice(array_sort(collect_list(struct(dist, label))), 1, 2)").as("top2"))
        .select(col("qid").as("pqid"), explode(col("top2.label")).as("plabel"))
      val c = e.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("nid"), col("embedding").as("ce"), col("label"),
          expr(normExpr("embedding")).as("cn"))
      topK3(
        q.join(probe, col("qid") === col("pqid"))
          .join(c, col("plabel") === col("label"))
          .select(col("qid"), col("nid"),
            round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r")))
    }),

    // IVF with a REAL k-means coarse quantizer (unlabeled corpora — the
    // other IVF variants use the given label partition, which real corpora
    // don't ship). k=8 centroids seeded from the first 8 candidate vectors
    // (deterministic), 2 Lloyd iterations, then the standard IVF probe:
    // nearest centroid per query, exact cosine top-3 inside that block.
    // Distributed shape per iteration: corpus × BROADCAST array-form
    // centroids → one codegen'd vec_sqdist per (vector, centroid) → bounded
    // min(struct) argmin → per-(centroid, dim) mean — the corpus never
    // moves except two keyed aggs; no driver-side loop (centroids stay a
    // DataFrame, localCheckpointed per round so plan size stays O(1) like
    // starCC). Both engines round centroid means AND distances to 6
    // decimals each round, so assignment argmins can't diverge on
    // summation-order noise. The trained quantizer + inverted lists ARE
    // the IVF index: built once per session (cachedFrame), probed by
    // every invocation.
    "sim_ivf_kmeans" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      val cand = e.filter(col("vec_id") >= 8)
      // comp (vec_id, d, x) feeds the per-dim mean UPDATE steps (2 rounds)
      // — checkpointed via the session memo so the corpus is exploded
      // exactly once, the same way dedup_ngram_jaccard checkpoints postings
      val comp = Tables.cachedFrame(s, dir, "ivf_kmeans_comp", durable = false)(
        cand.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("d", "x"))))
      // (cid, d, c) → (cid, carr) array form for the vec_sqdist kernel;
      // runs once per Lloyd round over k×dim rows (interpreted HOF is fine
      // off the hot path)
      def toArr(cent: DataFrame): DataFrame =
        cent.groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(d, c))), s -> s.c)").as("carr"))
      def assign(centArr: DataFrame): DataFrame =
        cand.select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(centArr))
          .select(col("vec_id"), col("cid"),
            round(expr("vec_sqdist(embedding, carr)"), 6).as("dist"))
          .groupBy("vec_id")
          .agg(min(struct(col("dist"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cid"))
      def update(asg: DataFrame): DataFrame =
        comp.join(asg, "vec_id")
          .groupBy(col("cid"), col("d"))
          .agg(round(avg(col("x").cast("double")), 6).as("c"))
          .localCheckpoint()
      val cent0 = comp.filter(col("vec_id") < 16)
        .select((col("vec_id") - 8).as("cid"), col("d"),
          col("x").cast("double").as("c"))
      val cent2 = Tables.cachedFrame(s, dir, "ivf_kmeans_centarr")(
        toArr(update(assign(toArr(update(assign(toArr(cent0))))))))
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          expr(normExpr("embedding")).as("qn"))
      val probe = q.crossJoin(broadcast(cent2))
        .select(col("qid"), col("cid"),
          round(expr("vec_sqdist(qe, carr)"), 6).as("dist"))
        .groupBy("qid")
        .agg(min(struct(col("dist"), col("cid"))).as("m"))
        .select(col("qid").as("pqid"), col("m.cid").as("pcid"))
      val blocks = Tables.cachedFrame(s, dir, "ivf_kmeans_blocks")(assign(cent2))
      val c = cand
        .select(col("vec_id").as("nid"), col("embedding").as("ce"),
          expr(normExpr("embedding")).as("cn"))
        .join(blocks.select(col("vec_id").as("nid"), col("cid")), "nid")
      topK3(
        q.join(probe, col("qid") === col("pqid"))
          .join(c, col("pcid") === col("cid"))
          .select(col("qid"), col("nid"),
            round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r")))
    }),

    // LSH-bucketed ANN: deterministic integer hyperplanes (count sized from
    // the corpus count — Lsh.planesFor, so per-bucket population stays
    // ~constant as the corpus grows); probe only the query's bucket, exact
    // cosine inside it.
    "sim_lsh_ann" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      // Each plane's projection is computed NARROWLY per vector — one
      // codegen'd vec_dot against a literal weight array (Lsh.planeDot);
      // the round-1 posexplode + crossJoin + two-groupBy pipeline pushed
      // 64×4 rows per vector through two shuffles to compute the same 4
      // signs. Corpus count + dim are session-memoized statistics, and the
      // bucketed frame is localCheckpointed so the signature computation
      // runs ONCE, not on both sides of the q/c split (the same pattern
      // candidatePairs uses for band signatures).
      val (planes, dim) = Lsh.sizing(s, dir, "embeddings", e)
      val withB = e.withColumn("bucket", Lsh.bucket(planes, "embedding", dim))
        .localCheckpoint()
      val q = withB.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"),
          expr(normExpr("embedding")).as("qn"))
      val c = withB.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("nid"), col("embedding").as("ce"), col("bucket").as("cb"),
          expr(normExpr("embedding")).as("cn"))
      topK3(
        q.join(c, col("bucket") === col("cb"))
          .select(col("qid"), col("nid"),
            round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r")))
    }),

    // Multi-probe LSH: probe the query's bucket PLUS every bucket at
    // Hamming distance 1 (one plane sign flipped) — hyperplane LSH's
    // standard recall/cost knob, symmetric to IVF's nprobe (a true
    // neighbor lost to one borderline projection sign is recovered from
    // the adjacent bucket; cost is planes+1 bucket lookups per query,
    // each ~TargetBucketPop candidates). The probe fan-out is a per-QUERY
    // explode — the corpus side is untouched, so at scale this multiplies
    // only the tiny query side of the bucket equi-join.
    "sim_lsh_multiprobe" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      val (planes, dim) = Lsh.sizing(s, dir, "embeddings", e)
      val withB = e.withColumn("bucket", Lsh.bucket(planes, "embedding", dim))
        .localCheckpoint()
      val q = withB.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"),
          expr(normExpr("embedding")).as("qn"))
        // probe buckets are pairwise distinct and a corpus vector has ONE
        // bucket, so the join emits each (qid, nid) at most once
        .withColumn("pb", explode(array(
          col("bucket") +:
            (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)))
      val c = withB.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("nid"), col("embedding").as("ce"), col("bucket").as("cb"),
          expr(normExpr("embedding")).as("cn"))
      topK3(
        q.join(c, col("pb") === col("cb"))
          .select(col("qid"), col("nid"),
            round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r")))
    }),

    // k-NN GRAPH build (every node's top-3 cosine neighbors) — the
    // substrate for graph-based curation: SemDeDup-style cluster pruning,
    // graph connectivity dedup, and density-based quality scoring all
    // start from this structure. Unlike the ANN queries above (8 probe
    // vectors × corpus), here EVERY vector is a query, so the naive
    // all-pairs formulation is O(n²) and unshippable at 100 TB. The LSH
    // bucket SELF-join bounds it: plane count sized so expected bucket
    // population stays ~TargetBucketPop regardless of corpus size
    // (Lsh.planesFor), making the candidate-pair space O(n · pop) —
    // linear — and the per-node top-3 the bounded-state topk3_ids
    // aggregate, so no full pair set is ever shuffled or sorted. One
    // signature pass (localCheckpointed, shared by both join sides), one
    // bucket equi-join, one map-side-combined top-k agg. Nodes alone in
    // their bucket get no edges — the standard LSH-graph tradeoff;
    // multi-probe (sim_lsh_multiprobe's explode) is the recall knob and
    // would multiply only the probe side here too.
    "sim_knn_graph" -> ((s, dir) => knnTop3(s, dir)),

    // kNN density / prototypicality scoring: each node's mean cosine to
    // its top-3 neighbors — the per-item quality signal cluster-pruning
    // recipes rank by (dense core points are prototypical; low-density
    // points are outliers/noise). Same O(n · pop) bucket self-join as the
    // graph build, but the aggregate keeps SCORES (topk3_scored), and the
    // mean is computed exactly: each 6dp cosine is scaled to an integer
    // (round(c·1e6)), the ≤3 integers sum exactly in both engines, and
    // only the final division rounds — no float-summation-order channel.
    "sim_knn_density" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val b = cappedKnnBuckets(s, dir)
      val q = b.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("bucket"), (col("vec_id") % col("nsub")).as("sub"),
        expr(normExpr("embedding")).as("qn"))
      val c = b.select(col("vec_id").as("nid"), col("embedding").as("ce"),
        col("bucket").as("cb"), (col("vec_id") % col("nsub")).as("csub"),
        expr(normExpr("embedding")).as("cn"))
      def s6(i: Int) = when(size(col("top.scores")) >= i,
        round(element_at(col("top.scores"), i) * 1e6).cast("long"))
        .otherwise(lit(0L))
      q.join(c, col("bucket") === col("cb") && col("sub") === col("csub")
          && col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r"))
        .groupBy("qid")
        .agg(expr("topk3_scored(cos_r, nid)").as("top"))
        .select(col("qid"), size(col("top.ids")).cast("long").as("k"),
          (s6(1) + s6(2) + s6(3)).as("sum6"))
        .withColumn("density", round(col("sum6") / (col("k") * lit(1e6)), 6))
        .orderBy("qid")
    }),

    // Embedding-space clustering: the kNN-graph edges above resolved
    // into connected components — every vector gets a cluster label.
    // This is the cluster structure SemDeDup-style pruning and
    // cluster-balanced sampling consume. The labels resolve through
    // clusterLabels — a DURABLE INDEX ARTIFACT, not a per-query plan.
    "sim_cluster_knn" -> ((s, dir) => clusterLabels(s, dir).orderBy("node")),

    // Cluster ASSIGNMENT — routing vectors into the STORED semantic
    // clusters without re-clustering: per-cluster centroids are derived
    // once from the durable label artifact (clusterLabels × embeddings,
    // the labelCentroids array form — itself durable as
    // knn_cluster_centarr), and a probe is one codegen'd vec_sqdist per
    // (vector, centroid) + the bounded min(struct) argmin. This is the
    // consumer a production pipeline runs between full re-cluster jobs:
    // new data routes into existing clusters (for balanced sampling,
    // SemDeDup pruning, cluster analytics) at broadcast-join cost. The
    // ingest-side twin is IngestFilters.clusterAssign (same centroids,
    // stateless on a stream); at very large k the centroid table
    // becomes hierarchical (route via a coarse level first) — the same
    // swap IVF makes.
    "sim_cluster_assign" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      val cents = clusterCentArtifact(s, dir)
      e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .crossJoin(broadcast(cents))
        .select(col("qid"), col("label"),
          round(expr("vec_sqdist(qe, carr)"), 6).as("dist"))
        .groupBy("qid")
        .agg(min(struct(col("dist"), col("label"))).as("m"))
        .select(col("qid"), col("m.label").as("cluster"), col("m.dist").as("dist_r"))
        .orderBy("qid")
    }),

    // Multi-probe kNN graph — the RECALL knob on the capped graph build:
    // a node alone in its (sub-)bucket gets no edges from the single-
    // probe self-join (the standard LSH-graph tradeoff); here every node
    // ALSO probes each 1-bit-flip neighbor of its own bucket (the
    // sim_lsh_multiprobe explode, applied to the probe side only), so
    // near-boundary singletons recover candidates from the adjacent
    // half-spaces. The capping discipline HOLDS for probes: each probe
    // picks up the TARGET bucket's nsub (one bucket-keyed join against
    // the tiny pops table) and lands in sub-bucket qid % nsub, so the
    // join stays fully equi-keyed on (bucket, sub) and the pair space is
    // ≤ n · (planes+1) · cap — the multiplier is the probe count, never
    // a data distribution. Probed buckets are pairwise distinct and a
    // candidate lives in exactly one (bucket, sub), so each (qid, nid)
    // pair is emitted at most once — no distinct needed before top-3.
    "sim_knn_graph_mp" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val b = cappedKnnBuckets(s, dir)
      val (planes, _) = Lsh.sizing(s, dir, "embeddings", Tables(s, dir, "embeddings"))
      val pops = b.select(col("bucket").as("pb"), col("nsub").as("pnsub")).distinct()
      val q = b.select(col("vec_id").as("qid"), col("embedding").as("qe"),
          expr(normExpr("embedding")).as("qn"), col("bucket"))
        .withColumn("pb", explode(array(
          col("bucket") +:
            (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)))
        .join(pops, "pb") // only probed buckets that exist have candidates
        .select(col("qid"), col("qe"), col("qn"), col("pb"),
          (col("qid") % col("pnsub")).as("psub"))
      val c = b.select(col("vec_id").as("nid"), col("embedding").as("ce"),
        col("bucket").as("cb"), (col("vec_id") % col("nsub")).as("csub"),
        expr(normExpr("embedding")).as("cn"))
      topK3(
        q.join(c, col("pb") === col("cb") && col("psub") === col("csub")
            && col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r")))
    }),

    // Graph centrality over the kNN graph — see pagerankRanks. The query
    // itself is a probe of the durable artifact (build once per session /
    // per store, like every other index here).
    "sim_graph_pagerank" -> ((s, dir) => pagerankRanks(s, dir).orderBy("node")),

    // SEED EXPANSION by graph diffusion — personalized PageRank from a
    // seed set: teleport mass goes ONLY to the seeds (the 8 probe
    // vectors, the ANN queries' convention), three diffusion rounds push
    // it along kNN edges, and the top-50 non-seed nodes by accumulated
    // score are the expansion. This is the graph-based way to grow a
    // small curated seed set into a training subset ("find more like
    // these") — the diffusion respects the similarity graph's structure
    // where a plain cosine threshold treats every seed independently.
    // Same integer-exact floor-division arithmetic as the global
    // PageRank (bit-replayable; score 0 = unreached, excluded), over the
    // SAME durable edge artifact — per-invocation cost is three joins
    // over (src, dst, deg), so changing the seed set is cheap, which is
    // the point: seed sets are per-task, edges are per-corpus.
    "sim_seed_expand" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val ed = knnEdgesDeg(s, dir)
      val e = Tables(s, dir, "embeddings")
      val S = 1000000000000L
      val k = Tables.cachedStat(s, dir, "count:seeds")(
        e.filter(col("vec_id") < 8).count())
      val nodes = e.select(col("vec_id").as("node"))
      def seedBase(amount: Long) =
        when(col("node") < 8, lit(amount)).otherwise(lit(0L))
      var score = nodes.select(col("node"), seedBase(S / k).as("score"))
      for (_ <- 1 to 3) {
        val contrib = ed
          .join(score.withColumnRenamed("node", "src"), "src")
          .select(col("dst"), expr("(85 * score) div (100 * deg)").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("cs"))
        score = nodes
          .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
          .select(col("node"),
            (seedBase(15L * S / (100L * k)) + coalesce(col("cs"), lit(0L)))
              .as("score"))
      }
      score.filter(col("node") >= 8 && col("score") > 0)
        .orderBy(col("score").desc, col("node")).limit(50)
    }),

    // Cluster EXEMPLARS: the most-central member of each semantic
    // cluster — the "keep the prototypical copy" selection SemDeDup-style
    // pruning and cluster summarization want (min-id canonicals are
    // arbitrary; the max-PageRank member is the one its cluster keeps
    // choosing as a neighbor). Pure composition of two DURABLE artifacts
    // (labels × ranks): one node-keyed join, one bounded argmax per
    // cluster (max over (rank, -node) structs — rank desc, ties to the
    // smaller node, matching the oracle's window), no corpus-sized
    // rebuild anywhere on the probe path.
    "sim_cluster_exemplars" -> ((s, dir) =>
      exemplarsByRank(s, dir).orderBy("cluster")),

    // Two-stage retrieval over an int8 SCALAR-QUANTIZED index — the
    // production memory-bandwidth lever: stage 1 scans quantized vectors
    // (4× smaller than float32, so a 100 TB corpus scans as ~25 TB) and
    // keeps an approximate top-8 per query; stage 2 reranks only those ≤8
    // candidates with exact cosine. Quantization is per-vector symmetric:
    // scale = 127 / max|x| (floored at 1e-12 so a zero vector quantizes to
    // zeros instead of NULLs), q_i = round(x_i · 127 / max|x|) as int8-range
    // ints. Stage-1 scores are integer dot products (≤ 64·127² ≪ 2⁵³), so
    // they are EXACT in both engines regardless of summation order — the
    // approx ranking is bit-for-bit replayable, with no rounding channel.
    // Index built once per session (cachedFrame); the per-element transform
    // HOF runs interpreted but only at index build, off the probe path.
    "sim_q8_rerank" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      def maxAbs(c: String) =
        s"greatest(array_max(transform($c, x -> abs(CAST(x AS DOUBLE)))), 1e-12)"
      def quant(c: String) =
        s"transform($c, x -> CAST(round(CAST(x AS DOUBLE) * 127.0D / ${maxAbs(c)}) AS INT))"
      val cq = Tables.cachedFrame(s, dir, "q8_index")(
        e.filter(col("vec_id") >= 8).select(
          col("vec_id").as("nid"), col("embedding").as("ce"),
          expr(normExpr("embedding")).as("cn"),
          expr(quant("embedding")).as("c8")))
      val q = e.filter(col("vec_id") < 8).select(
        col("vec_id").as("qid"), col("embedding").as("qe"),
        expr(normExpr("embedding")).as("qn"),
        expr(quant("embedding")).as("q8"))
      // stage 1: bounded top-8 per query over the quantized scan
      val cand = cq.crossJoin(broadcast(q.select(col("qid"), col("q8"))))
        .select(col("qid"), col("nid"), expr("vec_dot(q8, c8)").as("qdot"))
        .groupBy("qid").agg(expr("topk8_ids(qdot, nid)").as("top"))
        .select(col("qid").as("cqid"), explode(col("top.ids")).as("cnid"))
      // stage 2: exact cosine over ≤8 candidates per query
      topK3(cand
        .join(cq, col("cnid") === col("nid"))
        .join(broadcast(q.select(col("qid"), col("qe"), col("qn"))), col("cqid") === col("qid"))
        .select(col("qid"), col("nid"),
          round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r")))
    }),

    // Product quantization with asymmetric distance computation (ADC) —
    // the third classic ANN scale lever after IVF (probe fewer vectors)
    // and int8 (scan smaller vectors): encode each 64-d vector as M=4
    // subspace codes into a k=16 codebook (4 bytes/vector, a 64× smaller
    // index than float32), train the codebook with the SAME grouped Lloyd
    // discipline sim_ivf_kmeans uses (subspace id as an extra group key;
    // 2 rounds; centroid means and distances rounded to 6dp each step so
    // assignment argmins can't diverge on summation-order noise). Probing
    // is ADC: per query, ONE 64-entry distance table (m×cid → squared
    // subdistance, integer-scaled ×1e6 so all downstream sums are exact
    // integers) broadcasts; each encoded vector's approx distance is 4
    // codegen'd array lookups + integer adds — no per-pair float work at
    // all. Approx top-8 per query via the bounded topk8_ids aggregate,
    // then exact cosine rerank of ≤8, exactly the q8 two-stage shape. At
    // 100 TB: codebook training samples the corpus (here: full corpus,
    // deterministic seeds = vectors 8..23); the encoded index is ~1.6% of
    // the raw bytes, so the stage-1 scan is memory-bandwidth-trivial, and
    // the only shuffles are the bounded top-8 partials.
    "sim_pq_adc" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val (m0, sub, k0) = (8, 8, 16) // M subspaces × sub dims; k codes each
      val e = Tables(s, dir, "embeddings")
      val cand = e.filter(col("vec_id") >= 8)
      // The retrieval metric is COSINE, so PQ runs over UNIT-NORMALIZED
      // vectors (‖a−b‖² = 2 − 2·cos there, monotone in cosine) — raw-space
      // L2 codes rank scaled copies LAST instead of first. Components are
      // rounded to 6dp after the divide so both engines train on identical
      // bits (the norm itself is a cross-engine float-sum channel).
      def normalized(src: DataFrame): DataFrame =
        src.select(col("vec_id"),
          greatest(expr(normExpr("embedding")), lit(1e-12)).as("nn"),
          col("embedding"))
          .select(col("vec_id"),
            expr("transform(embedding, v -> round(CAST(v AS DOUBLE) / nn, 6))").as("ne"))
      val cne = Tables.cachedFrame(s, dir, "pq_nemb", durable = false)(normalized(cand))
      // (vec_id, m, d, x): subspace component stream for the UPDATE steps
      val comp = Tables.cachedFrame(s, dir, "pq_comp", durable = false)(
        cne.select(col("vec_id"), posexplode(col("ne")).as(Seq("dd", "x")))
          .select(col("vec_id"), expr(s"dd DIV $sub").as("m"),
            (col("dd") % sub).as("d"), col("x")))
      // (id, m, sv): the M subvectors per normalized vector (ASSIGN steps)
      def subvecs(src: DataFrame, idCol: String): DataFrame =
        src.select(col(idCol),
          posexplode(array((0 until m0).map(mm =>
            expr(s"slice(ne, ${mm * sub + 1}, $sub)")): _*)).as(Seq("m", "sv")))
      def toArr(cent: DataFrame): DataFrame =
        cent.groupBy("m", "cid")
          .agg(expr("transform(array_sort(collect_list(struct(d, c))), s -> s.c)").as("carr"))
      def assign(centArr: DataFrame): DataFrame =
        subvecs(cne, "vec_id")
          .join(broadcast(centArr), "m")
          .select(col("vec_id"), col("m"), col("cid"),
            round(expr("vec_sqdist(sv, carr)"), 6).as("dist"))
          .groupBy("vec_id", "m")
          .agg(min(struct(col("dist"), col("cid"))).as("mn"))
          .select(col("vec_id"), col("m"), col("mn.cid").as("cid"))
      def update(asg: DataFrame): DataFrame =
        comp.join(asg, Seq("vec_id", "m"))
          .groupBy(col("m"), col("cid"), col("d"))
          .agg(round(avg(col("x")), 6).as("c"))
          .localCheckpoint()
      val cent0 = comp.filter(col("vec_id") < 8 + k0)
        .select(col("m"), (col("vec_id") - 8).as("cid"), col("d"), col("x").as("c"))
      val cent2 = Tables.cachedFrame(s, dir, "pq_codebook")(
        toArr(update(assign(toArr(update(assign(toArr(cent0))))))))
      // the encoded index: (nid, codes int[4], ce, cn) — codes for the ADC
      // scan, raw vector + norm only consumed by the ≤8-candidate rerank
      val codes = Tables.cachedFrame(s, dir, "pq_codes")(
        assign(cent2)
          .groupBy("vec_id")
          .agg(expr("transform(array_sort(collect_list(struct(m, cid))), s -> s.cid)").as("codes")))
      val q = e.filter(col("vec_id") < 8).select(
        col("vec_id").as("qid"), col("embedding").as("qe"),
        expr(normExpr("embedding")).as("qn"))
      // per-query ADC table: 64 integer-scaled subdistances, flattened so
      // lookup i = m*k + cid (one tiny HOF over 8 query rows)
      val qdarr = subvecs(
        normalized(e.filter(col("vec_id") < 8)).withColumnRenamed("vec_id", "qid"), "qid")
        .join(broadcast(cent2), "m")
        .select(col("qid"), (col("m") * k0 + col("cid")).as("i"),
          expr("CAST(round(round(vec_sqdist(sv, carr), 6) * 1e6) AS BIGINT)").as("d9"))
        .groupBy("qid")
        .agg(expr("transform(array_sort(collect_list(struct(i, d9))), s -> s.d9)").as("qdarr"))
      val adcExpr = (0 until m0).map(mm =>
        s"element_at(qdarr, CAST(${mm * k0 + 1} + codes[$mm] AS INT))").mkString(" + ")
      val cand8 = codes.crossJoin(broadcast(qdarr))
        .select(col("qid"), col("vec_id").as("nid"), expr(adcExpr).as("ad9"))
        .groupBy("qid").agg(expr("topk8_ids(-CAST(ad9 AS DOUBLE), nid)").as("top"))
        .select(col("qid").as("cqid"), explode(col("top.ids")).as("cnid"))
      val cfull = cand.select(col("vec_id").as("nid"), col("embedding").as("ce"),
        expr(normExpr("embedding")).as("cn"))
      topK3(cand8
        .join(cfull, col("cnid") === col("nid"))
        .join(broadcast(q), col("cqid") === col("qid"))
        .select(col("qid"), col("nid"),
          round(expr(dotExpr) / (col("qn") * col("cn")), 6).as("cos_r")))
    }),

    // Cluster COMPOSITION profile — what each semantic cluster actually
    // CONTAINS: the stored kNN cluster labels joined to document
    // metadata (vec_id ≡ doc_id, the corpus convention the hybrid
    // retrieval queries pin), rolled up to per-(cluster, lang) doc and
    // token mass. This is the analytics consumer of the durable label
    // artifact: mixture audits ("is cluster 7 all French boilerplate?"),
    // per-cluster sampling weights, and dataset cards all read this
    // table. Scale: labels are an (n × 2) artifact probed from the
    // store (zero CC rounds on the probe path — the OpsSpec job-count
    // pin), the join is one hash join on the id, and the rollup is a
    // map-side-combined agg on a cluster×lang key space.
    "sim_cluster_profile" -> ((s, dir) => {
      clusterLabels(s, dir)
        .join(Tables(s, dir, "documents")
          .select(col("doc_id").as("node"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_words")), "node")
        .groupBy("cluster", "lang")
        .agg(count(lit(1)).as("docs"), sum("n_words").as("tokens"))
        .orderBy("cluster", "lang")
    }),

    // INDEX STALENESS check — "has ingest drifted the data enough to
    // rebuild?": recompute the per-label centroids over the corpus PLUS
    // an arrived batch (the dedup_embedding batch convention: every 5th
    // vector rescaled, ids +100000) and compare against the STORED
    // centroid artifact serving live IVF probes. Per label: the squared
    // drift distance, integer-scaled, and a rebuild verdict at a fixed
    // threshold. This closes the index lifecycle loop: build
    // (IndexBuild) → probe (sim_ivf_*) → MONITOR (here) → rebuild. At
    // 100 TB both centroid sets are k×dim tiny; the only corpus-sized
    // work is the one per-(label, dim) mean pass over the new snapshot —
    // exactly the incremental-ingest monitoring job's cost.
    "sim_index_staleness" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      val stored = Tables.cachedFrame(s, dir, "ivf_label_centarr")(labelCentroids(e))
      val batch = arrivalBatch(e)
      val current = labelCentroids(
        e.select(col("vec_id"), col("embedding"), col("label")).unionAll(batch))
      centroidDrift(stored, current).orderBy("label")
    }),

    // INCREMENTAL LABEL MAINTENANCE — the dedup_incremental_maint
    // discipline applied to the graph-index family (the r9 verdict's
    // gap): arriving vectors are routed into the STORED clustering and
    // APPENDED into the durable label artifact, so every label consumer
    // (balanced sampling, cluster profiles, exemplar selection) sees
    // base + batch without a re-cluster — the full CC rebuild stays a
    // dedicated index job (IndexBuild / IndexRefresh on a stale
    // verdict). The batch is the shared arrival convention (every 5th
    // vector ×1.01, ids +100000).
    //
    // Routing rule: each arrival joins the cluster of its NEAREST
    // LABELED NEIGHBOR among the capped-bucket candidates (own centered
    // bucket + every 1-bit flip — the sim_knn_graph_mp probe side,
    // bucketed with the index's stored thresholds). This is the rule
    // the clustering itself is built from — CC components form along
    // nearest-neighbor edges, so NN-routing assigns the arrival exactly
    // where the edge build would have connected it. The first draft
    // assigned by exact argmin over ALL per-cluster centroids and the
    // 100× probe showed why that cannot ship: batch size AND cluster
    // count both grow with the corpus, so the batch×k candidate space
    // is QUADRATIC (measured: one 41.6 s crossJoin job at 100×, an
    // 8.8× 30→100× marginal). The capped-bucket probe is the
    // distribution-proof shape: pair space ≤ batch·(planes+1)·cap for
    // ANY data (the cappedKnnBuckets bound, probe-side multiplier
    // only). An arrival with NO labeled candidate in its probed cells
    // is left UNROUTED (absent from the output) — it is genuinely new
    // content; it waits for the next IndexRefresh re-cluster rather
    // than being glued onto a far-away cluster.
    //
    // Zero CC rounds, zero base-rehash on the probe path: OpsSpec pins
    // the build counters flat. Merge semantics: tempStoreMerge.
    "sim_cluster_labels_incr" -> ((s, dir) => {
      val base = clusterLabels(s, dir)
      val assigned = arrivalProbeCands(s, dir)
        .join(base.select(col("node").as("nid"), col("cluster")), "nid")
        .groupBy("qid")
        // top-1 by (cos_r desc, nid asc); cluster rides as payload (nid
        // is unique, so the struct comparison never reaches it)
        .agg(max(struct(col("cos_r"), (-col("nid")).as("nn"), col("cluster"))).as("m"))
        .select(col("qid").as("node"), col("m.cluster").as("cluster"))
      tempStoreMerge(s, "labels", base, assigned).orderBy("node")
    }),

    // INCREMENTAL EDGE MAINTENANCE — the second half of the graph
    // family's ingest story (labels above route arrivals into clusters;
    // this appends the arrivals' OWN kNN edges into the durable
    // knn_edges_deg artifact, so diffusion consumers — seeded
    // expansion, the next PageRank refresh — see the arrivals as graph
    // nodes without a full edge rebuild). Each arrival contributes its
    // top-3 probe candidates as out-edges with its own out-degree
    // attached — exactly the knnTop3 edge rule on the probe side, so
    // appended rows are shape- and semantics-identical to built rows.
    // Existing rows never change: edges carry the SOURCE's degree, and
    // arrivals only add new source nodes. Same capped probe bound and
    // temp-store statefulness discipline as the label maintenance.
    "sim_graph_edges_incr" -> ((s, dir) => {
      val arrTop = topK3(arrivalProbeCands(s, dir))
        .select(col("qid").as("src"), col("nid").as("dst"))
      val arrEd = arrTop
        .join(arrTop.groupBy("src").agg(count(lit(1)).as("deg")), "src")
        .select(col("src"), col("dst"), col("deg"))
      tempStoreMerge(s, "edges", knnEdgesDeg(s, dir), arrEd)
        .orderBy("src", "dst")
    }),

    // WARM PAGERANK REFRESH — the third leg of the graph family's
    // maintenance story (labels route arrivals, edges append their kNN
    // links; this refreshes the centrality artifact those consumers
    // rank by WITHOUT the 5-iteration cold build): re-seed from the
    // STORED ranks (new nodes at the uniform share under the new count),
    // run PrWarmIters iterations over the maintained base+arrival edge
    // frame — see pagerankWarmRefresh. Same arrival convention as the
    // other *_incr queries; same integer arithmetic, so the oracle
    // replays the 5-iter base build AND the 2-iter warm pass exactly.
    "sim_pagerank_incr" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      val arrTop = topK3(arrivalProbeCands(s, dir))
        .select(col("qid").as("src"), col("nid").as("dst"))
      val arrEd = arrTop
        .join(arrTop.groupBy("src").agg(count(lit(1)).as("deg")), "src")
        .select(col("src"), col("dst"), col("deg"))
      val edges = knnEdgesDeg(s, dir).unionAll(arrEd)
      val n = Tables.cachedStat(s, dir, "count:embeddings")(e.count())
      val narr = Tables.cachedStat(s, dir, "count:pr_arrivals")(
        arrivalBatch(e).count())
      val nodes = e.select(col("vec_id").as("node"))
        .unionAll(arrivalBatch(e).select(col("vec_id").as("node")))
      pagerankWarmRefresh(nodes, edges, pagerankRanks(s, dir), n + narr)
        .orderBy("node")
    }),

    // CLUSTER QUALITY EVALUATION — "are the semantic clusters real?"
    // measured, not assumed (the sim_recall_eval discipline applied to
    // the clustering): per cluster, the mean member→exemplar cosine
    // (cohesion) against the mean member→GLOBAL-exemplar cosine
    // (baseline — what cohesion would look like if cluster structure
    // were noise), and the margin between them. A clustering worth
    // sampling/pruning by shows positive margins; a collapsed or
    // arbitrary one shows ~zero. Exemplars are the max-PageRank members
    // (the sim_cluster_exemplars rule), the exemplar itself excluded
    // from its own mean so singleton-ish clusters can't self-certify.
    //
    // Scale shape — deliberately O(n + k), never pairwise: cohesion via
    // ALL member pairs is Σ n_c² (quadratic in cluster size); one
    // representative per cluster makes it one n-row join + a broadcast
    // of k exemplar vectors + ONE 1-row global vector, all cosines
    // narrow codegen'd vec_dot. Integer discipline: per-pair cosines
    // integer-scaled (round(cos_r·1e6)), per-cluster means via floor
    // division AFTER a +1e6 shift — cosines can be negative, and Spark
    // `div` truncates toward zero while DuckDB `//` floors, so the
    // shift keeps every dividend non-negative where the two agree
    // (floor(x/m) ≡ shift-div identity, exact in both engines).
    "sim_cluster_quality" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      val labels = clusterLabels(s, dir)
      val ex = exemplarsByRank(s, dir).select(col("cluster"), col("exemplar"))
      val g = pagerankRanks(s, dir)
        .agg(max(struct(col("rank"), (-col("node")).as("nn"))).as("m"))
        .select((-col("m.nn")).as("gnode"))
      val ne = e.select(col("vec_id"), col("embedding"),
        expr(normExpr("embedding")).as("nrm"))
      val exemb = ex.join(
        ne.select(col("vec_id").as("exemplar"), col("embedding").as("xe"),
          col("nrm").as("xn")), "exemplar")
      val gemb = g.join(
        ne.select(col("vec_id").as("gnode"), col("embedding").as("ge"),
          col("nrm").as("gn")), "gnode")
      labels.join(broadcast(exemb), "cluster")
        .filter(col("node") =!= col("exemplar"))
        .join(ne.select(col("vec_id").as("node"), col("embedding").as("qe"),
          col("nrm").as("qn")), "node")
        .crossJoin(broadcast(gemb))
        .select(col("cluster"),
          expr("CAST(round(round(vec_dot(qe, xe) / (qn * xn), 6) * 1e6) AS BIGINT) + 1000000")
            .as("own6s"),
          expr("CAST(round(round(vec_dot(qe, ge) / (qn * gn), 6) * 1e6) AS BIGINT) + 1000000")
            .as("glob6s"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("members"),
          sum("own6s").as("so"), sum("glob6s").as("sg"))
        .select(col("cluster"), col("members"),
          expr("so div members - 1000000").as("cohesion6"),
          expr("sg div members - 1000000").as("baseline6"),
          expr("(so div members) - (sg div members)").as("margin6"))
        .orderBy("cluster")
    }),

    // ANN RECALL EVALUATION — measure the recall/cost trade instead of
    // asserting it: every approximate index above (IVF probe narrowing,
    // LSH bucketing, int8 scan, PQ codes) can silently lose true
    // neighbors, and THIS query is the number that says how many. Each
    // method's top-3 is joined against the exact brute-force top-3
    // (ground truth) and summarized as integer hits / basis-point
    // recall@3 per method — the evaluation loop a production vector
    // deployment runs after every index rebuild or knob change (nprobe,
    // plane count, codebook size). Cost at scale: ground truth is 8
    // queries × corpus (the one exact pass), every probe side reuses the
    // session/durable index frames, and the comparison itself moves ≤
    // 3·|queries| rows per method — evaluation is FREE relative to one
    // brute-force scan, which is why there is no excuse not to run it.
    "sim_recall_eval" -> ((s, dir) => {
      val truth = queries("sim_topk_bruteforce")(s, dir)
        .select(col("qid"), col("nid"), lit(1L).as("hit"))
      val methods = Seq(
        "ivf_kmeans" -> "sim_ivf_kmeans",
        "ivf_nprobe1" -> "sim_ivf_ann",
        "ivf_nprobe2" -> "sim_ivf_nprobe2",
        "lsh_multiprobe" -> "sim_lsh_multiprobe",
        "lsh_single" -> "sim_lsh_ann",
        "pq_adc" -> "sim_pq_adc",
        "q8_rerank" -> "sim_q8_rerank")
      methods.map { case (label, qn) =>
        queries(qn)(s, dir).select(lit(label).as("method"), col("qid"), col("nid"))
      }.reduce(_ union _)
        .join(truth, Seq("qid", "nid"), "left")
        .groupBy("method")
        .agg(count(lit(1)).as("retrieved"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("truth_n"))))
        .select(col("method"), col("retrieved"), col("hits"), col("truth_n"),
          expr("(hits * 10000) div truth_n").as("recall_bp"))
        .orderBy("method")
    })
  )

  private val dotsSql =
    """SELECT qid, nid,
              sum(CAST(xq AS DOUBLE) * CAST(xc AS DOUBLE)) AS dot,
              sqrt(sum(CAST(xq AS DOUBLE) * CAST(xq AS DOUBLE))) AS nq,
              sqrt(sum(CAST(xc AS DOUBLE) * CAST(xc AS DOUBLE))) AS nc
       FROM (SELECT qid, nid, unnest(qe) AS xq, unnest(ce) AS xc FROM pairs)
       GROUP BY qid, nid"""

  /** Shared oracle CTE chain replaying arrivalProbeCands: the arrival
    * batch (shared convention), its centered buckets under the CORPUS
    * thresholds (`thr` from the centered-bucket CTEs must be in scope),
    * the own-bucket + 1-bit-flip probes with per-target nsub, and the
    * probe-pair dot products. Yields `bdots` (qid, nid, dot, nq, nc). */
  private val arrivalProbeSql: String =
    s"""batch AS (
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(embedding,
                   x -> CAST(CAST(x AS FLOAT) * CAST(1.01 AS FLOAT) AS FLOAT)) AS embedding
          FROM embeddings WHERE vec_id % 5 = 0),
        bcomp AS (
          SELECT vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) - 1 AS d
          FROM batch),
        bpd AS (
          SELECT vec_id, p,
                 sum(CAST(x AS DOUBLE) * ((p * 131 + d * 137) % 97 - 48)) AS dot
          FROM bcomp
          CROSS JOIN (SELECT CAST(i AS INT) AS p FROM range(${Lsh.MaxPlanes}) t(i))
          CROSS JOIN params
          WHERE p < params.np
          GROUP BY vec_id, p),
        bd6 AS (SELECT vec_id, p, CAST(round(dot * 1e6) AS BIGINT) AS d6 FROM bpd),
        bbuckets AS (
          SELECT vec_id,
                 CAST(sum(CASE WHEN 2 * d6 >= t2
                          THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)
                      AS BIGINT) AS bucket
          FROM bd6 JOIN thr USING (p) GROUP BY vec_id),
        bprobes0 AS (
          SELECT vec_id AS qid, bucket AS pb FROM bbuckets
          UNION ALL
          SELECT vec_id, xor(bucket, CAST(pow(2, p) AS BIGINT)) AS pb
          FROM bbuckets
          CROSS JOIN (SELECT CAST(i AS INT) AS p FROM range(${Lsh.MaxPlanes}) t(i))
          CROSS JOIN params
          WHERE p < params.np),
        bprobes AS (
          SELECT qid, pb, qid % nsub AS psub
          FROM bprobes0 JOIN pops ON bprobes0.pb = pops.bucket),
        bpairs AS (
          SELECT bp.qid, cc.nid, b.embedding AS qe, cc.ce
          FROM bprobes bp
          JOIN (SELECT vec_id AS nid, embedding AS ce, bucket AS cb,
                       vec_id % nsub AS csub FROM withb) cc
            ON bp.pb = cc.cb AND bp.psub = cc.csub
          JOIN batch b ON b.vec_id = bp.qid),
        bdots AS (
          SELECT qid, nid,
                 sum(CAST(xq AS DOUBLE) * CAST(xc AS DOUBLE)) AS dot,
                 sqrt(sum(CAST(xq AS DOUBLE) * CAST(xq AS DOUBLE))) AS nq,
                 sqrt(sum(CAST(xc AS DOUBLE) * CAST(xc AS DOUBLE))) AS nc
          FROM (SELECT qid, nid, unnest(qe) AS xq, unnest(ce) AS xc FROM bpairs)
          GROUP BY qid, nid)"""

  /** Oracle CTEs replaying knnEdgesDeg off an upstream `topk` (qid, nid)
    * edge set: out-degrees + the degree-attached edge list `ed`. */
  private val edgeCtesSql: String =
    s"""deg AS (SELECT qid AS src, count(*) AS deg FROM topk GROUP BY 1),
        ed AS (SELECT t.qid AS src, t.nid AS dst, d.deg
               FROM topk t JOIN deg d ON t.qid = d.src)"""

  /** Shared oracle CTE suffix replaying pagerankRanks off an upstream
    * `topk` (qid, nid) edge set: the edge CTEs plus five unrolled integer
    * iterations. Yields `r5` (node, rank). */
  private val pagerankCtesSql: String =
    s"""$edgeCtesSql,
        nn AS (SELECT count(*) AS n FROM embeddings),
        r0 AS (SELECT vec_id AS node, CAST(1000000000000 // n AS BIGINT) AS rank
               FROM embeddings CROSS JOIN nn),
        ${(1 to 5).map(i =>
          s"""c$i AS (SELECT dst, sum((85 * rank) // (100 * deg)) AS cs
                     FROM ed JOIN r${i - 1} ON ed.src = r${i - 1}.node
                     GROUP BY dst),
             r$i AS (SELECT e.vec_id AS node,
                            CAST((15 * 1000000000000) // (100 * n)
                                 + coalesce(cs, 0) AS BIGINT) AS rank
                     FROM embeddings e CROSS JOIN nn
                     LEFT JOIN c$i ON e.vec_id = c$i.dst)""").mkString(",\n")}"""

  private val baseOracles: Map[String, String] = Map(
    "sim_topk_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
          c AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings WHERE vec_id >= 8),
          pairs AS (SELECT * FROM q CROSS JOIN c),
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots)
          SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""",

    "sim_ivf_ann" ->
      s"""WITH comp AS (
            SELECT vec_id, label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          cent AS (
            SELECT label, d, avg(CAST(x AS DOUBLE)) AS c
            FROM comp GROUP BY label, d),
          q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
          qcomp AS (
            SELECT vec_id AS qid, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings WHERE vec_id < 8),
          probe AS (
            SELECT qid, label FROM (
              SELECT qid, label,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY round(sum(power(CAST(x AS DOUBLE) - c, 2)), 6), label) AS rk
              FROM qcomp JOIN cent USING (d)
              GROUP BY qid, label)
            WHERE rk = 1),
          c AS (SELECT vec_id AS nid, embedding AS ce, label
                FROM embeddings WHERE vec_id >= 8),
          pairs AS (
            SELECT q.qid, c.nid, q.qe, c.ce
            FROM q JOIN probe ON q.qid = probe.qid
                 JOIN c ON c.label = probe.label),
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots)
          SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""",

    "sim_ivf_nprobe2" ->
      s"""WITH comp AS (
            SELECT vec_id, label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          cent AS (
            SELECT label, d, avg(CAST(x AS DOUBLE)) AS c
            FROM comp GROUP BY label, d),
          q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
          qcomp AS (
            SELECT vec_id AS qid, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings WHERE vec_id < 8),
          probe AS (
            SELECT qid, label FROM (
              SELECT qid, label,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY round(sum(power(CAST(x AS DOUBLE) - c, 2)), 6), label) AS rk
              FROM qcomp JOIN cent USING (d)
              GROUP BY qid, label)
            WHERE rk <= 2),
          c AS (SELECT vec_id AS nid, embedding AS ce, label
                FROM embeddings WHERE vec_id >= 8),
          pairs AS (
            SELECT q.qid, c.nid, q.qe, c.ce
            FROM q JOIN probe ON q.qid = probe.qid
                 JOIN c ON c.label = probe.label),
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots)
          SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""",

    "sim_ivf_kmeans" -> {
      // one Lloyd round as SQL, parameterized by the incoming centroid CTE
      def assignSql(cent: String, a: String) =
        s"""$a AS (
              SELECT vec_id, cid FROM (
                SELECT comp.vec_id, c.cid,
                       row_number() OVER (PARTITION BY comp.vec_id
                         ORDER BY round(sum(power(CAST(comp.x AS DOUBLE) - c.c, 2)), 6),
                                  c.cid) AS rk
                FROM comp JOIN $cent c USING (d)
                GROUP BY comp.vec_id, c.cid)
              WHERE rk = 1)"""
      def updateSql(a: String, cent: String) =
        s"""$cent AS (
              SELECT cid, d, round(avg(CAST(x AS DOUBLE)), 6) AS c
              FROM comp JOIN $a USING (vec_id) GROUP BY cid, d)"""
      s"""WITH comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings WHERE vec_id >= 8),
          c0 AS (SELECT vec_id - 8 AS cid, d, CAST(x AS DOUBLE) AS c
                 FROM comp WHERE vec_id < 16),
          ${assignSql("c0", "a1")}, ${updateSql("a1", "c1")},
          ${assignSql("c1", "a2")}, ${updateSql("a2", "c2")},
          ${assignSql("c2", "blocks")},
          q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
          qcomp AS (
            SELECT vec_id AS qid, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings WHERE vec_id < 8),
          probe AS (
            SELECT qid, cid FROM (
              SELECT qid, c.cid,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY round(sum(power(CAST(x AS DOUBLE) - c.c, 2)), 6), c.cid) AS rk
              FROM qcomp JOIN c2 c USING (d)
              GROUP BY qid, c.cid)
            WHERE rk = 1),
          c AS (SELECT e.vec_id AS nid, e.embedding AS ce, b.cid
                FROM embeddings e JOIN blocks b ON e.vec_id = b.vec_id
                WHERE e.vec_id >= 8),
          pairs AS (
            SELECT q.qid, c.nid, q.qe, c.ce
            FROM q JOIN probe ON q.qid = probe.qid
                 JOIN c ON c.cid = probe.cid),
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots)
          SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank"""
    },

    "sim_lsh_ann" ->
      s"""WITH ${Lsh.paramsSql("embeddings")},
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          ${Lsh.bucketsSql},
          withb AS (SELECT e.vec_id, e.embedding, b.bucket
                    FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
          q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM withb WHERE vec_id < 8),
          c AS (SELECT vec_id AS nid, embedding AS ce, bucket AS cb FROM withb WHERE vec_id >= 8),
          pairs AS (SELECT qid, nid, qe, ce FROM q JOIN c ON bucket = cb),
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots)
          SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""",

    "sim_lsh_multiprobe" ->
      s"""WITH ${Lsh.paramsSql("embeddings")},
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          ${Lsh.bucketsSql},
          withb AS (SELECT e.vec_id, e.embedding, b.bucket
                    FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
          q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM withb WHERE vec_id < 8),
          probes AS (
            SELECT qid, qe, bucket AS pb FROM q
            UNION ALL
            SELECT qid, qe, xor(bucket, CAST(pow(2, p) AS BIGINT)) AS pb
            FROM q
            CROSS JOIN (SELECT CAST(i AS INT) AS p FROM range(${Lsh.MaxPlanes}) t(i))
            CROSS JOIN params
            WHERE p < params.np),
          c AS (SELECT vec_id AS nid, embedding AS ce, bucket AS cb FROM withb WHERE vec_id >= 8),
          pairs AS (SELECT qid, nid, qe, ce FROM probes JOIN c ON pb = cb),
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots)
          SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""",

    // same bucket replay as sim_lsh_ann, but every vector is a query and
    // the bucket join is a self-join minus the diagonal
    "sim_knn_graph" ->
      s"""WITH ${Lsh.paramsSql("embeddings")},
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          $knnPairsSql,
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots)
          SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""",

    // same capped buckets; the probe side unions the own bucket with its
    // 1-bit flips, picks up each TARGET bucket's nsub from pops, and the
    // join stays equi-keyed on (bucket, sub) — identical pair set, then
    // the same 6dp-rounded ranking
    "sim_knn_graph_mp" ->
      s"""WITH ${Lsh.paramsSql("embeddings")},
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          $knnBucketsSql,
          q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM withb),
          probes0 AS (
            SELECT qid, qe, bucket AS pb FROM q
            UNION ALL
            SELECT qid, qe, xor(bucket, CAST(pow(2, p) AS BIGINT)) AS pb
            FROM q
            CROSS JOIN (SELECT CAST(i AS INT) AS p FROM range(${Lsh.MaxPlanes}) t(i))
            CROSS JOIN params
            WHERE p < params.np),
          probes AS (
            SELECT qid, qe, pb, qid % nsub AS psub
            FROM probes0 JOIN pops ON probes0.pb = pops.bucket),
          c AS (SELECT vec_id AS nid, embedding AS ce, bucket AS cb,
                       vec_id % nsub AS csub FROM withb),
          pairs AS (SELECT qid, nid, qe, ce FROM probes JOIN c
                    ON pb = cb AND psub = csub AND qid <> nid),
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots)
          SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""",

    // the sim_knn_graph edge replay, then five UNROLLED integer PageRank
    // iterations (Spark `div` ≡ DuckDB `//` on non-negatives; contribution
    // sums are integer, so order-independent) — the same chain the Spark
    // build runs, with the fixed iteration count making unrolling exact
    "sim_graph_pagerank" ->
      s"""WITH ${Lsh.paramsSql("embeddings")},
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          $knnPairsSql,
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots),
          topk AS (SELECT qid, nid FROM ranked WHERE rank <= 3),
          $pagerankCtesSql
          SELECT node, rank FROM r5 ORDER BY node""",

    // the same edge replay, then three unrolled SEEDED iterations:
    // teleport mass lands only on vec_id < 8, everything else starts (and
    // teleports) at zero — identical floor-division arithmetic
    "sim_seed_expand" ->
      s"""WITH ${Lsh.paramsSql("embeddings")},
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          $knnPairsSql,
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots),
          topk AS (SELECT qid, nid FROM ranked WHERE rank <= 3),
          $edgeCtesSql,
          sk AS (SELECT count(*) AS k FROM embeddings WHERE vec_id < 8),
          p0 AS (SELECT vec_id AS node,
                        CAST(CASE WHEN vec_id < 8 THEN 1000000000000 // k
                             ELSE 0 END AS BIGINT) AS score
                 FROM embeddings CROSS JOIN sk),
          ${(1 to 3).map(i =>
            s"""s$i AS (SELECT dst, sum((85 * score) // (100 * deg)) AS cs
                       FROM ed JOIN p${i - 1} ON ed.src = p${i - 1}.node
                       GROUP BY dst),
               p$i AS (SELECT e.vec_id AS node,
                              CAST(CASE WHEN e.vec_id < 8
                                   THEN (15 * 1000000000000) // (100 * k)
                                   ELSE 0 END
                                   + coalesce(cs, 0) AS BIGINT) AS score
                       FROM embeddings e CROSS JOIN sk
                       LEFT JOIN s$i ON e.vec_id = s$i.dst)""").mkString(",\n")}
          SELECT node, score FROM p3
          WHERE node >= 8 AND score > 0
          ORDER BY score DESC, node LIMIT 50""",

    // the label CTEs (edges → recursive min-label reachability) and the
    // PageRank CTEs off the SAME topk edge set, then the per-cluster
    // argmax window (rank desc, node asc — the max(struct(rank, -node))
    // spelling on the Spark side)
    "sim_cluster_exemplars" ->
      s"""WITH RECURSIVE ${Lsh.paramsSql("embeddings")},
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          $knnPairsSql,
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots),
          topk AS (SELECT qid, nid FROM ranked WHERE rank <= 3),
          edges AS (SELECT qid AS a, nid AS b FROM topk
                    UNION SELECT nid AS a, qid AS b FROM topk),
          reach(node, lbl) AS (
            SELECT DISTINCT a AS node, a AS lbl FROM edges
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
          labels AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
          $pagerankCtesSql
          SELECT cluster, node AS exemplar, rank FROM (
            SELECT l.cluster, r.node, r.rank,
                   row_number() OVER (PARTITION BY l.cluster
                                      ORDER BY r.rank DESC, r.node) AS rk
            FROM labels l JOIN r5 r ON l.node = r.node)
          WHERE rk = 1 ORDER BY cluster""",

    // the sim_knn_graph ranking replay; the mean is integer-scaled sums
    // with one final division, so no summation-order channel
    "sim_knn_density" ->
      s"""WITH ${Lsh.paramsSql("embeddings")},
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          $knnPairsSql,
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots),
          agg AS (
            SELECT qid, count(*) AS k,
                   CAST(sum(CAST(round(cos_r * 1e6) AS BIGINT)) AS BIGINT) AS sum6
            FROM ranked WHERE rank <= 3 GROUP BY qid)
          SELECT qid, k, sum6, round(sum6 / (k * 1000000.0), 6) AS density
          FROM agg ORDER BY qid""",

    // the sim_knn_graph edge replay + the dedup_cluster_cc recursive-CTE
    // min-label reachability (edges undirected for CC)
    "sim_cluster_knn" ->
      s"""WITH RECURSIVE ${Lsh.paramsSql("embeddings")},
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          $knnPairsSql,
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots),
          topk AS (SELECT qid, nid FROM ranked WHERE rank <= 3),
          edges AS (SELECT qid AS a, nid AS b FROM topk
                    UNION SELECT nid AS a, qid AS b FROM topk),
          reach(node, lbl) AS (
            SELECT DISTINCT a AS node, a AS lbl FROM edges
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node)
          SELECT node, min(lbl) AS cluster FROM reach
          GROUP BY node ORDER BY node""",

    // the label CTEs above verbatim, then per-cluster per-dim centroid
    // means and the same rounded-sqdist argmin as the IVF oracle
    "sim_cluster_assign" ->
      s"""WITH RECURSIVE ${Lsh.paramsSql("embeddings")},
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings),
          $knnPairsSql,
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots),
          topk AS (SELECT qid, nid FROM ranked WHERE rank <= 3),
          edges AS (SELECT qid AS a, nid AS b FROM topk
                    UNION SELECT nid AS a, qid AS b FROM topk),
          reach(node, lbl) AS (
            SELECT DISTINCT a AS node, a AS lbl FROM edges
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
          labels AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
          cent AS (
            SELECT l.cluster, c.d, avg(CAST(c.x AS DOUBLE)) AS c
            FROM labels l JOIN comp c ON l.node = c.vec_id
            GROUP BY l.cluster, c.d),
          qcomp AS (
            SELECT vec_id AS qid, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM embeddings WHERE vec_id < 8),
          scored AS (
            SELECT qid, cluster,
                   round(sum(power(CAST(x AS DOUBLE) - c, 2)), 6) AS dist
            FROM qcomp JOIN cent USING (d)
            GROUP BY qid, cluster),
          best AS (
            SELECT qid, cluster, dist,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dist, cluster) AS rk
            FROM scored)
          SELECT qid, cluster, dist AS dist_r FROM best WHERE rk = 1
          ORDER BY qid""",

    // replay the symmetric int8 quantization (round(x·127/max|x|)), the
    // integer-exact approx top-8, and the exact top-3 rerank
    "sim_q8_rerank" ->
      s"""WITH q AS (
            SELECT vec_id AS qid, embedding AS qe,
                   greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS qs
            FROM embeddings WHERE vec_id < 8),
          c AS (
            SELECT vec_id AS nid, embedding AS ce,
                   greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS cs
            FROM embeddings WHERE vec_id >= 8),
          qcomp AS (SELECT qid, qs, unnest(qe) AS xq, generate_subscripts(qe, 1) AS d FROM q),
          ccomp AS (SELECT nid, cs, unnest(ce) AS xc, generate_subscripts(ce, 1) AS d FROM c),
          qdots AS (
            SELECT qid, nid,
                   sum(round(CAST(xq AS DOUBLE) * 127.0 / qs)
                       * round(CAST(xc AS DOUBLE) * 127.0 / cs)) AS qdot
            FROM qcomp JOIN ccomp USING (d) GROUP BY qid, nid),
          cand AS (
            SELECT qid, nid FROM (
              SELECT qid, nid,
                     row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, nid) AS rk
              FROM qdots)
            WHERE rk <= 8),
          pairs AS (
            SELECT q.qid, c.nid, q.qe, c.ce
            FROM cand JOIN q USING (qid) JOIN c USING (nid)),
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots)
          SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank""",

    // replay the grouped (per-subspace) 2-round Lloyd training with the
    // same 6dp rounding discipline, the ×1e6 integer ADC tables, the
    // integer-exact approx top-8, and the exact top-3 rerank
    "sim_pq_adc" -> {
      // one Lloyd round as SQL with the subspace id m as an extra key
      def assignSql(cent: String, a: String) =
        s"""$a AS (
              SELECT vec_id, m, cid FROM (
                SELECT comp.vec_id, comp.m, c.cid,
                       row_number() OVER (PARTITION BY comp.vec_id, comp.m
                         ORDER BY round(sum(power(comp.x - c.c, 2)), 6),
                                  c.cid) AS rk
                FROM comp JOIN $cent c ON comp.m = c.m AND comp.d = c.d
                GROUP BY comp.vec_id, comp.m, c.cid)
              WHERE rk = 1)"""
      def updateSql(a: String, cent: String) =
        s"""$cent AS (
              SELECT comp.m, $a.cid, comp.d, round(avg(comp.x), 6) AS c
              FROM comp JOIN $a ON comp.vec_id = $a.vec_id AND comp.m = $a.m
              GROUP BY comp.m, $a.cid, comp.d)"""
      s"""WITH raw AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS gs
            FROM embeddings),
          norms AS (
            SELECT vec_id,
                   greatest(sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 1e-12) AS nn
            FROM raw GROUP BY 1),
          ncomp AS (
            SELECT raw.vec_id, (gs - 1) // 8 AS m, (gs - 1) % 8 AS d,
                   round(CAST(x AS DOUBLE) / nn, 6) AS x
            FROM raw JOIN norms ON raw.vec_id = norms.vec_id),
          comp AS (SELECT * FROM ncomp WHERE vec_id >= 8),
          c0 AS (SELECT m, vec_id - 8 AS cid, d, x AS c
                 FROM comp WHERE vec_id < 24),
          ${assignSql("c0", "a1")}, ${updateSql("a1", "c1")},
          ${assignSql("c1", "a2")}, ${updateSql("a2", "c2")},
          ${assignSql("c2", "codes")},
          qcomp AS (SELECT vec_id AS qid, m, d, x FROM ncomp WHERE vec_id < 8),
          qd AS (
            SELECT qid, c.m, c.cid,
                   CAST(round(round(sum(power(qcomp.x - c.c, 2)), 6) * 1e6)
                        AS BIGINT) AS d9
            FROM qcomp JOIN c2 c ON qcomp.m = c.m AND qcomp.d = c.d
            GROUP BY qid, c.m, c.cid),
          approx AS (
            SELECT qd.qid, codes.vec_id AS nid, sum(qd.d9) AS ad9
            FROM codes JOIN qd ON codes.m = qd.m AND codes.cid = qd.cid
            GROUP BY qd.qid, codes.vec_id),
          cand AS (
            SELECT qid, nid FROM (
              SELECT qid, nid,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY ad9 ASC, nid) AS rk
              FROM approx)
            WHERE rk <= 8),
          q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
          c AS (SELECT vec_id AS nid, embedding AS ce FROM embeddings WHERE vec_id >= 8),
          pairs AS (
            SELECT q.qid, c.nid, q.qe, c.ce
            FROM cand JOIN q USING (qid) JOIN c USING (nid)),
          dots AS ($dotsSql),
          ranked AS (
            SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
            FROM dots)
          SELECT qid, rank, nid FROM ranked WHERE rank <= 3 ORDER BY qid, rank"""
    }
  )

  /** Recall oracle = the per-method oracle statements composed verbatim as
    * subqueries (DuckDB allows a full WITH inside a derived table), so the
    * ground truth and every method's top-3 replay EXACTLY the SQL already
    * hash-pinned by their own queries — the eval adds only the join and
    * integer arithmetic on top. */
  private def recallEvalSql: String = {
    val methods = Seq(
      "ivf_kmeans" -> "sim_ivf_kmeans",
      "ivf_nprobe1" -> "sim_ivf_ann",
      "ivf_nprobe2" -> "sim_ivf_nprobe2",
      "lsh_multiprobe" -> "sim_lsh_multiprobe",
      "lsh_single" -> "sim_lsh_ann",
      "pq_adc" -> "sim_pq_adc",
      "q8_rerank" -> "sim_q8_rerank")
    val arms = methods.map { case (label, qn) =>
      s"SELECT '$label' AS method, qid, nid FROM (${baseOracles(qn)}) t"
    }.mkString("\nUNION ALL\n")
    s"""WITH truth AS (SELECT qid, nid, 1 AS hit
                       FROM (${baseOracles("sim_topk_bruteforce")}) t),
        allm AS ($arms),
        j AS (SELECT method,
                     CAST(count(*) AS BIGINT) AS retrieved,
                     CAST(sum(coalesce(hit, 0)) AS BIGINT) AS hits
              FROM allm LEFT JOIN truth USING (qid, nid)
              GROUP BY method),
        tn AS (SELECT CAST(count(*) AS BIGINT) AS truth_n FROM truth)
        SELECT method, retrieved, hits, truth_n,
               CAST((hits * 10000) // truth_n AS BIGINT) AS recall_bp
        FROM j CROSS JOIN tn ORDER BY method"""
  }

  val oracles: Map[String, String] =
    baseOracles ++ Map(
      "sim_recall_eval" -> recallEvalSql,
      // both centroid sets replay the labelCentroids SQL (the sim_ivf_ann
      // cent CTE); drift rounds at 6dp before the integer scale, the same
      // float-summation discipline every centroid consumer here uses.
      // The label join is FULL OUTER like the Spark side: one-sided
      // labels verdict 'stale' with NULL drift (the fixture batch reuses
      // existing labels, so both engines emit matched rows here — the
      // outer arm is the refresh canary's real-ingest contract)
      "sim_index_staleness" ->
        s"""WITH all_e AS (
              SELECT vec_id, embedding, label FROM embeddings
              UNION ALL
              SELECT vec_id + 100000 AS vec_id,
                     list_transform(embedding,
                       x -> CAST(CAST(x AS FLOAT) * CAST(1.01 AS FLOAT) AS FLOAT)) AS embedding,
                     label
              FROM embeddings WHERE vec_id % 5 = 0),
            comp0 AS (SELECT label, unnest(embedding) AS x,
                             generate_subscripts(embedding, 1) - 1 AS d
                      FROM embeddings),
            cent0 AS (SELECT label, d, avg(CAST(x AS DOUBLE)) AS c
                      FROM comp0 GROUP BY label, d),
            comp1 AS (SELECT label, unnest(embedding) AS x,
                             generate_subscripts(embedding, 1) - 1 AS d
                      FROM all_e),
            cent1 AS (SELECT label, d, avg(CAST(x AS DOUBLE)) AS c
                      FROM comp1 GROUP BY label, d),
            matched AS (SELECT cent0.label AS label,
                               CAST(round(round(sum(power(cent0.c - cent1.c, 2)), 6) * 1e6)
                                    AS BIGINT) AS drift6
                        FROM cent0 JOIN cent1
                          ON cent0.label = cent1.label AND cent0.d = cent1.d
                        GROUP BY cent0.label),
            l0 AS (SELECT DISTINCT label FROM cent0),
            l1 AS (SELECT DISTINCT label FROM cent1),
            drift AS (SELECT coalesce(l0.label, l1.label) AS label,
                             m.drift6 AS drift6
                      FROM l0 FULL OUTER JOIN l1 ON l0.label = l1.label
                      -- matched only holds both-side labels, so a
                      -- one-sided label left-joins to NULL drift
                      LEFT JOIN matched m ON m.label = coalesce(l0.label, l1.label))
            SELECT label, drift6,
                   CASE WHEN drift6 IS NULL OR drift6 > $StaleDrift6
                        THEN 'stale' ELSE 'fresh' END AS verdict
            FROM drift ORDER BY label""",
      // label CTEs off the corpus replay, then the ARRIVAL probe: batch
      // vectors bucketed with the CORPUS thresholds (thr is in scope
      // from the centered-bucket CTEs), own bucket + 1-bit flips picking
      // up each target's nsub, cosine top-1 over LABELED candidates
      // (ORDER BY cos_r DESC, nid — the max(struct) spelling), unioned
      // under the base labels. Unrouted arrivals emit no row.
      "sim_cluster_labels_incr" ->
        s"""WITH RECURSIVE ${Lsh.paramsSql("embeddings")},
            comp AS (
              SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) - 1 AS d
              FROM embeddings),
            $knnPairsSql,
            dots AS ($dotsSql),
            ranked AS (
              SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
              FROM dots),
            topk AS (SELECT qid, nid FROM ranked WHERE rank <= 3),
            edges AS (SELECT qid AS a, nid AS b FROM topk
                      UNION SELECT nid AS a, qid AS b FROM topk),
            reach(node, lbl) AS (
              SELECT DISTINCT a AS node, a AS lbl FROM edges
              UNION
              SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
            labels AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
            $arrivalProbeSql,
            bbest AS (
              SELECT qid, cluster FROM (
                SELECT s.qid, l.cluster,
                       row_number() OVER (PARTITION BY s.qid
                         ORDER BY round(s.dot / (s.nq * s.nc), 6) DESC, s.nid) AS rk
                FROM bdots s JOIN labels l ON s.nid = l.node)
              WHERE rk = 1)
            SELECT node, cluster FROM (
              SELECT node, cluster FROM labels
              UNION ALL
              SELECT qid AS node, cluster FROM bbest)
            ORDER BY node""",

      // the base edge replay (topk → deg → ed) plus the arrival probe's
      // top-3 with per-arrival out-degrees, unioned — appended rows are
      // rule-identical to built rows
      "sim_graph_edges_incr" ->
        s"""WITH ${Lsh.paramsSql("embeddings")},
            comp AS (
              SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) - 1 AS d
              FROM embeddings),
            $knnPairsSql,
            dots AS ($dotsSql),
            ranked AS (
              SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
              FROM dots),
            topk AS (SELECT qid, nid FROM ranked WHERE rank <= 3),
            $edgeCtesSql,
            $arrivalProbeSql,
            branked AS (
              SELECT qid, nid,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
              FROM bdots),
            btopk AS (SELECT qid, nid FROM branked WHERE rank <= 3),
            bdeg AS (SELECT qid AS src, count(*) AS deg FROM btopk GROUP BY 1),
            bed AS (SELECT t.qid AS src, t.nid AS dst, d.deg
                    FROM btopk t JOIN bdeg d ON t.qid = d.src)
            SELECT src, dst, CAST(deg AS BIGINT) AS deg FROM (
              SELECT * FROM ed UNION ALL SELECT * FROM bed)
            ORDER BY src, dst""",

      // the 5-iteration base PageRank (r5) + the arrival top-3 edges
      // (bed, the edges_incr rule) merged into the base edge list, then
      // the TWO warm iterations re-seeded from r5 — new nodes seeded at
      // the uniform share under the new count n2
      "sim_pagerank_incr" ->
        s"""WITH ${Lsh.paramsSql("embeddings")},
            comp AS (
              SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) - 1 AS d
              FROM embeddings),
            $knnPairsSql,
            dots AS ($dotsSql),
            ranked AS (
              SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
              FROM dots),
            topk AS (SELECT qid, nid FROM ranked WHERE rank <= 3),
            $pagerankCtesSql,
            $arrivalProbeSql,
            branked AS (
              SELECT qid, nid,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
              FROM bdots),
            btopk AS (SELECT qid, nid FROM branked WHERE rank <= 3),
            bdeg AS (SELECT qid AS src, count(*) AS deg FROM btopk GROUP BY 1),
            bed AS (SELECT t.qid AS src, t.nid AS dst, d.deg
                    FROM btopk t JOIN bdeg d ON t.qid = d.src),
            med AS (SELECT * FROM ed UNION ALL SELECT * FROM bed),
            alln AS (SELECT vec_id AS node FROM embeddings
                     UNION ALL
                     SELECT vec_id + 100000 AS node FROM embeddings
                     WHERE vec_id % 5 = 0),
            n2 AS (SELECT count(*) AS n2 FROM alln),
            w0 AS (SELECT a.node,
                          CAST(coalesce(r.rank, 1000000000000 // n2) AS BIGINT) AS rank
                   FROM alln a CROSS JOIN n2
                   LEFT JOIN r5 r ON a.node = r.node),
            ${(1 to 2).map(i =>
              s"""wc$i AS (SELECT dst, sum((85 * rank) // (100 * deg)) AS cs
                          FROM med JOIN w${i - 1} ON med.src = w${i - 1}.node
                          GROUP BY dst),
                  w$i AS (SELECT a.node,
                                 CAST((15 * 1000000000000) // (100 * n2)
                                      + coalesce(cs, 0) AS BIGINT) AS rank
                          FROM alln a CROSS JOIN n2
                          LEFT JOIN wc$i ON a.node = wc$i.dst)""").mkString(",\n")}
            SELECT node, rank FROM w2 ORDER BY node""",

      // labels + PageRank replay, the per-cluster argmax exemplar and
      // the global argmax, then the two per-member cosines and the
      // shifted floor-division means
      "sim_cluster_quality" ->
        s"""WITH RECURSIVE ${Lsh.paramsSql("embeddings")},
            comp AS (
              SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) - 1 AS d
              FROM embeddings),
            $knnPairsSql,
            dots AS ($dotsSql),
            ranked AS (
              SELECT qid, nid, round(dot / (nq * nc), 6) AS cos_r,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY round(dot / (nq * nc), 6) DESC, nid) AS rank
              FROM dots),
            topk AS (SELECT qid, nid FROM ranked WHERE rank <= 3),
            edges AS (SELECT qid AS a, nid AS b FROM topk
                      UNION SELECT nid AS a, qid AS b FROM topk),
            reach(node, lbl) AS (
              SELECT DISTINCT a AS node, a AS lbl FROM edges
              UNION
              SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
            labels AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node),
            $pagerankCtesSql,
            ex AS (SELECT cluster, node AS exemplar FROM (
                     SELECT l.cluster, r.node,
                            row_number() OVER (PARTITION BY l.cluster
                                               ORDER BY r.rank DESC, r.node) AS rk
                     FROM labels l JOIN r5 r ON l.node = r.node)
                   WHERE rk = 1),
            gx AS (SELECT node AS gnode FROM (
                     SELECT node, row_number() OVER (ORDER BY rank DESC, node) AS rk
                     FROM r5)
                   WHERE rk = 1),
            mem AS (SELECT l.node, l.cluster, e.exemplar
                    FROM labels l JOIN ex e USING (cluster)
                    WHERE l.node <> e.exemplar),
            qp AS (SELECT m.node AS qid, m.cluster,
                          a.embedding AS qe, x.embedding AS xe, gg.embedding AS ge
                   FROM mem m
                   JOIN embeddings a ON a.vec_id = m.node
                   JOIN embeddings x ON x.vec_id = m.exemplar
                   CROSS JOIN gx
                   JOIN embeddings gg ON gg.vec_id = gx.gnode),
            down AS (
              SELECT qid, cluster,
                     sum(CAST(xq AS DOUBLE) * CAST(xx AS DOUBLE)) AS dot,
                     sqrt(sum(CAST(xq AS DOUBLE) * CAST(xq AS DOUBLE))) AS nq,
                     sqrt(sum(CAST(xx AS DOUBLE) * CAST(xx AS DOUBLE))) AS nx
              FROM (SELECT qid, cluster, unnest(qe) AS xq, unnest(xe) AS xx FROM qp)
              GROUP BY qid, cluster),
            dglob AS (
              SELECT qid,
                     sum(CAST(xq AS DOUBLE) * CAST(xg AS DOUBLE)) AS dot,
                     sqrt(sum(CAST(xq AS DOUBLE) * CAST(xq AS DOUBLE))) AS nq,
                     sqrt(sum(CAST(xg AS DOUBLE) * CAST(xg AS DOUBLE))) AS ng
              FROM (SELECT qid, unnest(qe) AS xq, unnest(ge) AS xg FROM qp)
              GROUP BY qid),
            c6 AS (
              SELECT d1.cluster,
                     CAST(round(round(d1.dot / (d1.nq * d1.nx), 6) * 1e6) AS BIGINT)
                       + 1000000 AS own6s,
                     CAST(round(round(d2.dot / (d2.nq * d2.ng), 6) * 1e6) AS BIGINT)
                       + 1000000 AS glob6s
              FROM down d1 JOIN dglob d2 USING (qid))
            SELECT cluster,
                   CAST(count(*) AS BIGINT) AS members,
                   CAST(sum(own6s) // count(*) - 1000000 AS BIGINT) AS cohesion6,
                   CAST(sum(glob6s) // count(*) - 1000000 AS BIGINT) AS baseline6,
                   CAST((sum(own6s) // count(*)) - (sum(glob6s) // count(*))
                        AS BIGINT) AS margin6
            FROM c6 GROUP BY cluster ORDER BY cluster""",

      // the full label replay as a derived table + one metadata join
      "sim_cluster_profile" ->
        s"""WITH labels AS (SELECT * FROM (${baseOracles("sim_cluster_knn")}) t),
            d AS (SELECT doc_id, lang,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
                  FROM documents)
            SELECT cluster, lang,
                   CAST(count(*) AS BIGINT) AS docs,
                   CAST(sum(n_words) AS BIGINT) AS tokens
            FROM labels l JOIN d ON l.node = d.doc_id
            GROUP BY cluster, lang ORDER BY cluster, lang""")
}
