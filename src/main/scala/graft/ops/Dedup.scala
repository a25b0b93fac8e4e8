package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Tables

/** Deduplication operators for a training-data pipeline: exact (content
  * hash), MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * The driver's `documents`/`embeddings` tables contain no duplicates, so
  * each query plants deterministic duplicates first (id + 100000, text
  * mutated / embedding scaled) — the oracle plants the identical ones, and
  * the dedup must find exactly the planted pairs and nothing else.
  *
  * Scale notes (100 TB):
  *  - exact dedup groups by md5(text): one hash-shuffle on a 128-bit key,
  *    map-side combined; never shuffles full text twice.
  *  - MinHash-LSH assigns shingle ids via md5 (bit-identical in Spark and
  *    DuckDB → full hash oracle) — a narrow per-row hash, no dictionary, no
  *    global sort. `dedup_minhash_fast` is the same topology with FNV-1a 64
  *    (a cheap non-cryptographic hash that is STILL replayable in DuckDB,
  *    so it carries a full hash oracle too) — the production pick.
  *  - candidate generation joins on (band, signature) so the self-join is
  *    band-partitioned — never O(n²); verification touches candidates only.
  *  - embedding near-dup blocks by label (the IVF-style coarse partition),
  *    so the pair space is per-block, not global.
  */
object Dedup {
  private val P = 2147483647L // 2^31-1, Mersenne prime for minhash perms

  /** documents + near-duplicate copies (every 3rd doc, 2 words appended).
    * private[ops]: TextOps' winnowing pair search runs over the same
    * planted corpus so its recall is measurable. */
  private[ops] def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionAll(
      d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zz0 zz1")).as("text")))
  }
  private[ops] val nearDupSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000 AS doc_id, text || ' zz0 zz1' AS text
       FROM documents WHERE doc_id % 3 = 0"""

  /** documents + byte-exact copies (every 4th doc). */
  private def exactDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionAll(d.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }
  private val exactDupSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0"""

  /** Oracle-side shingle relation (the Spark side builds the same word
    * 3-grams in array-land via sidArrays; the round-1 Spark version used
    * posexplode + lead windows + a global distinct — two shuffles — and
    * per-doc `array_distinct` replaced it because doc_ids are unique per
    * corpus row, so per-array distinct IS per-(doc_id, shingle) distinct). */
  private val shinglesSql =
    s"""SELECT DISTINCT doc_id, word || ' ' || w2 || ' ' || w3 AS shingle FROM (
          SELECT doc_id, word, pos,
                 lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
                 lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                       generate_subscripts(string_split(text, ' '), 1) AS pos
                FROM corpus))
        WHERE w3 IS NOT NULL"""

  /** Per-doc shingle-id ARRAYS, built entirely narrowly: slide over the
    * split words, md5/FNV-1a each shingle to a long id in array-land —
    * all in ONE fused kernel pass (`shingle_sids_*` —
    * graft.functions.ShingleIdsExpr, byte-identical to the previous
    * transform/array_distinct/concat_ws/md5 HOF chain, which ran
    * interpreted and was the dominant remaining job in the dedup
    * pipelines). `sidsFn` selects the md5 or FNV-1a 64 (production fast
    * path) id; both are oracle-replayable. */
  private def sidArrays(corpus: DataFrame, sidsFn: String): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), expr(s"$sidsFn(w, 3)").as("sids"))
  }

  private val md5Sids = "shingle_sids_md5"
  private val fnvSids = "shingle_sids_fnv"

  /** 32-bit SimHash signature per (doc_id, text) row, fully narrow. The
    * word hash is md5-derived (replayable bit-for-bit in DuckDB) — a weak
    * hash (e.g. first-char × length) collapses the signature space on a
    * shared-vocabulary corpus and every doc collides with every other.
    * 32 bits (not 16) because the pair search's precision is bounded by
    * the signature space: on this homogeneous synthetic corpus a 16-bit
    * signature put every doc within Hamming 2 of thousands of others
    * (word hashes are < 2³¹, so bits above 30 would always be zero —
    * 31/32 is the usable width here; a production corpus hashes words to
    * 64 bits and uses the full width). */
  private def simhashSigs(corpus: DataFrame): DataFrame = {
    // contribution for bit b is bit b OF the word hash (±1, unbiased and
    // independent across bits — a biased rule like `% 5 < 2` drives every
    // sb positive and collapses all signatures to 0xFFFF). simhash32 is
    // the native codegen'd fold (graft.functions.SimHashExpr): the HOF
    // formulation ran 32 × words interpreted lambda evals per row and
    // dominated the pair search.
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus
      // fused per-word md5-id kernel (WordIdsExpr) feeding the fused
      // simhash32 fold — no interpreted HOF anywhere in the signature
      .select(col("doc_id"),
        expr("word_ids_md5(split(text, ' '), 'p31')").as("hws"))
      .select(col("doc_id"), expr("simhash32(hws)").as("simhash"))
  }

  /** Banded minhash signatures per doc with ZERO shuffles: 16 permutations
    * → 8 bands × 2 rows, band key = mh(2j)·P + mh(2j+1) (both < P = 2³¹−1,
    * so the combination fits a long exactly). All 16 permutation minima
    * come from ONE fused codegen'd pass over the per-row shingle-id array
    * (`minhash16` — graft.functions.MinHash16Expr; the earlier sixteen
    * `array_min(transform(...))` columns ran on the interpreted HOF path
    * and were the largest job in the pipeline). The signature build never
    * leaves the scan stage (the round-2 version shuffled the full
    * (doc_id, sid) posting stream through a 16-min groupBy; at 100 TB that
    * shuffle IS the token stream). Same per-row topology as
    * streaming/StreamingDedup's at-ingest signatures.
    *
    * Band width r=2 is the LSH tuning knob: with r=1 a single colliding
    * minhash makes a candidate, so pairs at Jaccard 0.05 still collide
    * with p = 1−0.95⁸ ≈ 33% and verification drowns in false positives
    * (~150k candidates from ~6.7k docs at sf0.1 — 99% FPs). With r=2 a
    * band needs BOTH minhashes equal: p(J=0.05) = 1−(1−0.0025)⁸ ≈ 2%,
    * while the planted near-dups (J ≥ 0.8) still collide with
    * p = 1−(1−0.64)⁸ ≈ 0.9997. */
  private def bandSigs(docSids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docSids.sparkSession)
    docSids.select(col("doc_id"), expr("minhash16(sids)").as("mh"))
      .select(col("doc_id"), explode(array((0 until 8).map(j =>
        struct(lit(j.toLong).as("band"),
          (col("mh")(2 * j) * P + col("mh")(2 * j + 1)).as("bsig"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bsig").as("bsig"))
  }

  // (shingles/md5 posting construction now lives in sidArrays — the
  // exploded (doc_id, sid) posting form is derived from the same
  // checkpointed array base where verification needs it, so the corpus is
  // shingled exactly once per query.)

  /** Band candidates with exact Jaccard attached (NO threshold) — the
    * one banding + verification pass shared by the ≥0.5 near-dup query
    * and the threshold-calibration histogram. Verification is entirely
    * per-pair array intersection: two joins attach the candidate docs'
    * sid arrays, then one narrow size(array_intersect(...)) per pair —
    * the round-2 version exploded the posting list through two shuffled
    * joins and a pair-count groupBy (the full token stream on the
    * wire); here only the candidate pairs (banding keeps them ~2% FP)
    * move, with their two arrays. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s) // IntersectCountRule
    // one shingle pass; sid arrays deduped at build so set arithmetic
    // below is exact (two shingles CAN hash to one sid)
    val docSids = sidArrays(nearDupCorpus(s, dir), md5Sids)
      .select(col("doc_id"), expr("array_distinct(sids)").as("sids"))
      .localCheckpoint()
    val cand = candidatePairs(docSids)
    // ONE attach join instead of two (round 19, VERDICT r18 #3): the old
    // shape joined docSids once per pair SIDE — two BroadcastExchanges of
    // the full sid-array table per invocation locally (the r18 plan dump
    // shows both, unshared), two full shuffles of it at scale. Here each
    // pair explodes into its two member ids (narrow longs), the sid
    // arrays attach in ONE doc_id-keyed join, and the pair re-packs by
    // (da, db) — the arrays cross the wire once per pair MEMBER (pairs
    // are banding-bounded, ≪ corpus) instead of once per corpus row per
    // side. Locally the pack aggregation is exchange-free: cand.distinct
    // already hash-partitioned the pairs by (da, db) and the explode +
    // broadcast-probe preserve that partitioning.
    val packed = cand
      .select(col("da"), col("db"),
        posexplode(array(col("da"), col("db"))).as(Seq("side", "doc_id")))
      .join(docSids, "doc_id")
      .groupBy("da", "db")
      .agg(
        first(when(col("side") === 0, col("sids")), ignoreNulls = true).as("sa"),
        first(when(col("side") === 1, col("sids")), ignoreNulls = true).as("sb"))
    packed
      .select(col("da"), col("db"),
        expr("size(array_intersect(sa, sb))").as("common"),
        size(col("sa")).as("ca"), size(col("sb")).as("cb"))
      .withColumn("jaccard",
        round(col("common") / (col("ca") + col("cb") - col("common")), 3))
  }

  /** LSH candidate pairs (da < db): 8 bands × 2 rows — ~0.9997 recall at
    * J ≥ 0.8, FPs filtered by downstream verification. Band signatures are
    * checkpointed before the self-join so the signature build runs once,
    * not twice. Takes the (doc_id, sids) array form — candidate
    * generation is shuffle-free up to the band-bucket join itself. */
  private def candidatePairs(docSids: DataFrame): DataFrame = {
    val bands = bandSigs(docSids).localCheckpoint()
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
  }

  /** Oracle CTE chain replaying the md5 (doc_id, sid) posting form of
    * sidArrays, over an arbitrary corpus relation. */
  private def docShSqlFor(corpusSql: String) =
    s"""corpus AS ($corpusSql),
        sh AS ($shinglesSql),
        doc_sh AS (SELECT doc_id,
                     CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % $P AS sid
                   FROM sh)"""
  private val docShSql = docShSqlFor(nearDupSql)

  /** The perms→sig→bands→cand replay of candidatePairs over whatever
    * doc_sh CTE precedes it (md5 or FNV postings — the banding is
    * id-space-agnostic). */
  private val candChainSql =
    s"""perms AS (SELECT i, 12345 * i + 1103515245 AS a, 987654 * i + 67867967 AS b
                  FROM range(16) t(i)),
        sig AS (SELECT doc_id, i, min((a * sid + b) % $P) AS mh
                FROM doc_sh CROSS JOIN perms GROUP BY doc_id, i),
        bands AS (SELECT doc_id, i // 2 AS band,
                         CAST(sum(CASE WHEN i % 2 = 0 THEN mh * $P ELSE mh END) AS BIGINT) AS bsig
                  FROM sig GROUP BY doc_id, i // 2),
        cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
                 FROM bands x JOIN bands y
                   ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id)"""

  /** Shared oracle CTE chain replaying the md5 postings + candidatePairs. */
  private def candSqlFor(corpusSql: String) =
    s"""${docShSqlFor(corpusSql)},
        $candChainSql"""
  private val candSql = candSqlFor(nearDupSql)

  /** FNV-1a 64 (doc_id, sid) postings replaying shingle_sids_fnv: the
    * per-byte wrapping step h = (h XOR byte)·0x100000001b3 mod 2⁶⁴ runs
    * in HUGEINT (every product < 2¹⁰⁵ because the prime is < 2⁴¹) via
    * list_reduce over the shingle's characters. ord(char) == UTF-8 byte
    * requires pure-ASCII text — the precondition the media-oracle spec
    * already asserts for this corpus at every oracle SF (OpsSpec "media
    * oracle precondition"); final reduction % P matches the Spark side's
    * Long.remainderUnsigned (h is kept unsigned end-to-end here). */
  private val fnvDocShSql =
    s"""corpus AS ($nearDupSql),
        sh AS ($shinglesSql),
        doc_sh AS (SELECT doc_id,
          CAST(list_reduce(
                 list_prepend(14695981039346656037::HUGEINT,
                   list_transform(range(1, length(shingle) + 1),
                     i -> ord(shingle[i])::HUGEINT)),
                 (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
                             % 18446744073709551616::HUGEINT)
               % $P AS BIGINT) AS sid
          FROM sh)"""

  /** Exact-Jaccard verification of cross (index, batch) candidate pairs:
    * attach both sides' sid arrays, one narrow size(array_intersect) per
    * pair, keep J ≥ 0.5 as (doc_id=batch, dup_of=index, jaccard). Shared by
    * the memoized (`dedup_incremental`) and store-maintained
    * (`dedup_incremental_maint`) ingest shapes. */
  private def verifyCross(cand: DataFrame, indexSids: DataFrame,
      batchSids: DataFrame): DataFrame = {
    val a = indexSids.select(col("doc_id").as("da"), col("sids").as("sa"))
    val b = batchSids.select(col("doc_id").as("db"), col("sids").as("sb"))
    cand.join(a, "da").join(b, "db")
      .select(col("da"), col("db"),
        expr("size(array_intersect(sa, sb))").as("common"),
        size(col("sa")).as("ca"), size(col("sb")).as("cb"))
      .withColumn("jaccard",
        round(col("common") / (col("ca") + col("cb") - col("common")), 3))
      .filter(col("jaccard") >= 0.5)
      .select(col("db").as("doc_id"), col("da").as("dup_of"), col("jaccard"))
  }

  /** The base corpus's deduped sid-array index and band-signature index
    * as DURABLE artifacts — shared by the incremental dedup queries and
    * the ingest job's dup-gate (ONE build, every consumer probes). */
  private[graft] def baseSidIndex(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.cachedFrame(s, dir, "dedup_sid_index")(
      sidArrays(Tables(s, dir, "documents").select(col("doc_id"), col("text")), md5Sids)
        .select(col("doc_id"), expr("array_distinct(sids)").as("sids")))
  }
  private[graft] def baseBandIndex(s: SparkSession, dir: String): DataFrame =
    Tables.cachedFrame(s, dir, "dedup_band_index")(bandSigs(baseSidIndex(s, dir)))

  /** Band signatures for an ARRIVING batch, in the md5 id space of the
    * stored index — the probe side of the ingest dup-gate. Narrow
    * per-row algebra + the band explode; no state, no corpus access. */
  private[graft] def arrivalBandSigs(batch: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    bandSigs(sidArrays(batch, md5Sids)
      .select(col("doc_id"), expr("array_distinct(sids)").as("sids")))
  }

  /** Cross candidates from a band-signature INDEX × a batch's bands —
    * never index×index or batch×batch. Widened for the ingest job's
    * dup-gate (jobs.IngestJob), which probes the stored index with
    * arrivalBandSigs. */
  private[graft] def crossCandidates(indexBands: DataFrame, batchBands: DataFrame): DataFrame =
    indexBands.as("x").join(batchBands.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()

  /** One ingest step of the MAINTAINED dedup index: dedup `batch` against
    * the stored index (band signatures at `bandPath`, sid arrays at
    * `sidPath`), then APPEND the batch's signatures so the NEXT batch
    * dedups against base + this batch — steady-state ingest never re-pairs
    * the corpus, and the index grows by exactly one batch per step.
    * Callers own doc-id discipline (batch ids disjoint from the index).
    * The dup result is materialized BEFORE the appends: the verification
    * plan reads the stored index lazily, and appending first would make it
    * see the batch's own rows (every doc would self-match at J = 1.0). */
  private[ops] def ingestStep(s: SparkSession, sidPath: String,
      bandPath: String, batch: DataFrame): DataFrame = {
    import graft.engine.IndexStore
    val indexSids = IndexStore.load(s, sidPath)
    val indexBands = IndexStore.load(s, bandPath)
    val batchSids = sidArrays(batch, md5Sids)
      .select(col("doc_id"), expr("array_distinct(sids)").as("sids"))
      .localCheckpoint() // 3 consumers: bands + verification + append
    val batchBands = bandSigs(batchSids).localCheckpoint()
    val dups =
      verifyCross(crossCandidates(indexBands, batchBands), indexSids, batchSids)
        .localCheckpoint()
    IndexStore.append(batchSids, sidPath)
    IndexStore.append(batchBands, bandPath)
    dups
  }

  /** Oracle corpus for the maintained-ingest query: base + both batches
    * (the appended index state batch 2 is deduped against). */
  private val maintCorpusSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000 AS doc_id, text || ' zz0 zz1' AS text
       FROM documents WHERE doc_id % 3 = 0
       UNION ALL
       SELECT doc_id + 200000 AS doc_id, text || ' zz0 zz1 zz2' AS text
       FROM documents WHERE doc_id % 5 = 0"""

  /** Truncated-copy corpus for the containment query's oracle. */
  private val containCorpusSql =
    """SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 100000 AS doc_id,
              array_to_string(string_split(text, ' ')[1:40], ' ') AS text
       FROM documents WHERE doc_id % 6 = 0"""

  /** Alternating large-star / small-star connected components (the
    * MapReduce CC algorithm of Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): converges in O(log d) rounds on a
    * diameter-d graph, vs plain label propagation's O(d) — this is the
    * scale path for deep duplicate chains (A≈B≈C≈…), where propagation
    * would need one shuffle round per hop.
    *
    * Each round is two grouped aggregations + joins on the node key, all
    * map-side combined; state is localCheckpointed so lineage stays O(1).
    * Returns ((node, cluster=min id in component), rounds). */
  private[ops] def starCC(pairs: DataFrame, maxRounds: Int = 25): (DataFrame, Int) = {
    // canonical directed form: a = larger endpoint, b = smaller
    var edges = pairs
      .select(greatest(col("da"), col("db")).as("a"), least(col("da"), col("db")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val prevEdges = edges
      // large-star: per node u (over both edge directions), attach every
      // strictly-larger neighbor to m = min(neighbors ∪ {u})
      val both = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      val mL = both.groupBy("a").agg(min("b").as("mn"))
        .select(col("a"), least(col("mn"), col("a")).as("m"))
      val ls = both.join(mL, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star: per larger-endpoint u, attach u and all its smaller
      // neighbors to m = min of those neighbors
      val mS = ls.groupBy("a").agg(min("b").as("m"))
      val withM = ls.join(mS, "a")
      edges = withM.select(col("b").as("v"), col("m"))
        .unionAll(withM.select(col("a").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct().localCheckpoint()
      // exact fixpoint test in ONE job: both sides are distinct, so the
      // sets are equal iff their symmetric difference is empty (every
      // (a, b) in the union appears exactly twice). Sound, unlike a hash
      // checksum (two different edge sets can collide and exit early with
      // wrong labels); the driver still receives only a boolean per round.
      converged = edges.unionAll(prevEdges)
        .groupBy("a", "b").count()
        .filter(col("count") === 1).isEmpty
      rounds += 1
    }
    val nodes = pairs.select(col("da").as("node"))
      .unionAll(pairs.select(col("db").as("node"))).distinct()
    val labels = nodes
      .join(edges.select(col("a").as("node"), col("b").as("lbl")), Seq("node"), "left")
      .groupBy("node").agg(min(coalesce(col("lbl"), col("node"))).as("cluster"))
    (labels, rounds)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact SUBSTRING dedup (Lee et al., "Deduplicating Training Data
    // Makes Language Models Better"): find every word-span of length ≥ L
    // that occurs more than once corpus-wide and remove ALL its
    // occurrences — the span-level modality the whole-doc and line-level
    // ops can't express (a quoted paragraph inside an otherwise-unique
    // doc). The suffix-array machinery of the paper is replaced by the
    // hash-count shape: any duplicated span of length ≥ L contains only
    // duplicated L-grams, so (1) hash every positional L-gram (L=15),
    // (2) one map-side-combined count finds the duplicated gram set —
    // tiny relative to the corpus, broadcast back (a bloom filter at
    // extreme scale), (3) a word is removed iff some duplicated gram
    // covers it — per-doc array algebra over the marked start offsets,
    // no doc-vs-doc pairing anywhere. Fixture: every 6th (≥40-word) doc
    // gets a quote-doc copying its words 1..30 behind a 10-word reshuffled
    // own-prefix, so both the quote and the quoted span are planted
    // deterministically in both engines.
    "dedup_exact_substring" -> ((s, dir) => {
      val L = 15
      val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(col("doc_id") % 6 === 0 && size(col("w")) >= 40)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat_ws(" ", concat(expr("slice(w, 31, 10)"), expr("slice(w, 1, 30)"))).as("text"))
      val docs = base.unionAll(planted)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      graft.functions.GraftFunctions.register(s)
      val grams = docs.filter(size(col("w")) >= L)
        // gram key via the fused md5_grams kernel: the 16-byte BINARY
        // digest per start position — bit-identical dup decisions to the
        // former `transform(sequence…, i -> md5(concat_ws(' ', slice…)))`
        // spelling (Md5GramsExprSpec pins the equivalence), but the
        // lambda ran on the interpreted HOF path and every gram paid a
        // slice() allocation + a concat string build + a hex encode; the
        // kernel streams word bytes into one incremental digest. The
        // binary key also halves the checkpoint and both gram-keyed
        // shuffles vs the 32-char hex string (guide §2.3 narrower types).
        .select(col("doc_id"), posexplode(expr(s"md5_grams(w, $L)"))
          .as(Seq("i", "g")))
        .localCheckpoint() // 2 consumers: global count + marking
      // NO broadcast hint on the dup set: it scales with the CORPUS'S
      // DUPLICATION RATE, not a constant — tiny on clean corpora (AQE
      // sees the real post-shuffle size and converts to broadcast), but
      // on heavily-duplicated crawls it must stay a hash shuffle join on
      // g (forcing broadcast made the 30→100× marginal super-linear:
      // 3.6× for 3.33× data, ~120 MB broadcast at 100×)
      val dups = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select(col("g"))
      val marked = grams.join(dups, "g")
        .groupBy("doc_id").agg(sort_array(collect_list(col("i"))).as("starts"))
      docs.join(marked, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("w")).as("n_words"),
          coalesce(size(col("starts")), lit(0)).as("n_dup_grams"),
          expr(s"""filter(w, (x, p) -> NOT exists(
                     coalesce(starts, CAST(array() AS ARRAY<INT>)),
                     s -> s <= p AND p <= s + ${L - 1}))""").as("kept"))
        .select(col("doc_id"), col("n_words"), col("n_dup_grams"),
          (col("n_words") - size(col("kept"))).as("n_removed"),
          md5(concat_ws(" ", col("kept"))).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Exact dedup by content hash (md5 so the oracle hashes identically;
    // the key point is group-by-hash, not group-by-text).
    "dedup_exact" -> ((s, dir) => {
      exactDupCorpus(s, dir)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("canonical"), count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(col("canonical"), col("n"))
        .orderBy("canonical")
    }),

    // URL-canonicalization dedup (web-crawl curation): synthesized URL
    // variants — upper/lower host, explicit default port, utm_* tracking
    // params in leading or trailing position — collapse to one canonical
    // form. Canonicalization is a narrow per-row expression chain (lower +
    // literal replaces, no regex so Spark and DuckDB agree on replace-all
    // semantics); dedup is then exact dedup's hash-shuffle on the
    // canonical string.
    "dedup_url_canonical" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.EXAMPLE.COM:443"))
          .otherwise(lit("https://www.example.com")),
        lit("/path/"), (col("doc_id") % 500).cast("string"),
        when(col("doc_id") % 3 === 0, lit("?utm_source=x&")).otherwise(lit("?")),
        concat(lit("id="), (col("doc_id") % 7).cast("string")),
        when(col("doc_id") % 5 === 0, lit("&utm_medium=y")).otherwise(lit("")))
      d.select(col("doc_id"), url.as("url"))
        .withColumn("canon", expr(
          """replace(replace(replace(lower(url), ':443', ''),
               'utm_source=x&', ''), '&utm_medium=y', '')"""))
        .groupBy("canon")
        .agg(min("doc_id").as("keep"), count(lit(1)).as("n"))
        .orderBy("canon")
    }),

    // MinHash + LSH: shingle → dictionary id → 8 permutations → minhash
    // signature → 8 bands → band-bucket self-join → exact-Jaccard
    // verification of candidates only.
    "dedup_minhash_lsh" -> ((s, dir) =>
      verifiedPairs(s, dir)
        .filter(col("jaccard") >= 0.5)
        .select(col("da"), col("db"), col("jaccard"))
        .orderBy("da", "db")),

    // THRESHOLD CALIBRATION for the near-dup knob: the per-decile
    // Jaccard histogram of the verified candidate pairs, with the
    // cumulative "pairs you would merge at threshold ≥ d/10" column —
    // the table a data engineer reads before picking 0.5 vs 0.8 (too
    // low merges topical cousins; too high misses paraphrases). Reuses
    // the ONE banding + verification pass; the rollup is an ≤11-row
    // aggregate, and the cumulative window runs over those ≤11 rows
    // (partitioned by a constant non-foldable key — the text_hybrid_rrf
    // trick — so no warning and no real single-partition data risk).
    "dedup_threshold_calibration" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // common >= 1 mirrors the oracle's inner verification join: a
      // band-signature collision with ZERO shared shingles is an LSH
      // false positive, not a similarity datum — it has no decile.
      // The decile comes from EXACT integer arithmetic on the set
      // counts ((10·common) div union), never from the 3dp-rounded
      // float: floor(jaccard·10) puts non-representable values (true
      // jaccard 0.7 → 6.999…96) one decile low, so cum_pairs_ge at
      // decile d would undercount what an actual j ≥ d/10 filter
      // merges — exactly at the boundaries this table exists to read.
      val d = verifiedPairs(s, dir)
        .filter(col("common") >= 1)
        .select(expr("(common * 10) div (ca + cb - common)").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("pairs"))
      val w = Window.partitionBy(col("decile") % 1)
        .orderBy(col("decile").desc)
      d.withColumn("cum_pairs_ge", sum("pairs").over(w))
        .select(col("decile"), col("pairs"), col("cum_pairs_ge"))
        .orderBy("decile")
    }),

    // Production-path MinHash (no dictionary): shingle ids via a codegen'd
    // FNV-1a 64 kernel — a narrow per-row hash, no global sort, fully
    // scalable, AND cross-engine replayable (the FNV prime is < 2^41, so
    // DuckDB's HUGEINT holds every wrapping product exactly — see
    // ShingleIdsExpr), which upgrades this query from the long-standing
    // rows-only check to a full hash oracle.
    "dedup_minhash_fast" -> ((s, dir) => {
      candidatePairs(sidArrays(nearDupCorpus(s, dir), fnvSids)).orderBy("da", "db")
    }),

    // CORPUS-LEVEL source overlap: the data-mixing diagnostic — how much
    // shingle vocabulary do two ingest sources share? Each source gets a
    // 16-permutation MinHash signature of its UNION of shingles, and each
    // source pair an estimated Jaccard = matching permutations / 16. The
    // signature trick makes this free at scale: min is idempotent over
    // duplicates, so per-source minima need NO per-doc distinct and no
    // posting-list join — per-doc minhash16 arrays come from the same
    // fused kernel the pair search uses (one narrow pass), the per-source
    // elementwise min is a map-side-combined aggregate whose shuffle
    // carries tasks × sources × 16 longs, and the pairwise compare runs
    // on a #sources-row frame. Compare dedup_minhash_lsh, which answers
    // the per-DOCUMENT version of this question; a cross-source
    // contamination AUDIT at 100 TB starts here, then drills into the
    // high-overlap pair with the document-level machinery.
    "dedup_source_overlap" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val perDoc = Tables(s, dir, "documents")
        .select(col("source"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("source"), expr(s"$md5Sids(w, 3)").as("sids"))
        .select(col("source"), expr("minhash16(sids)").as("mh"))
      val mins = (0 until 16).map(i => min(col("mh")(i)).as(s"m$i"))
      val sigs = perDoc.groupBy("source").agg(mins.head, mins.tail: _*)
      val x = sigs.select(col("source").as("src_a") +:
        (0 until 16).map(i => col(s"m$i").as(s"a$i")): _*)
      val y = sigs.select(col("source").as("src_b") +:
        (0 until 16).map(i => col(s"m$i").as(s"b$i")): _*)
      // non-equi self-pairing over the #sources-row signature frame —
      // broadcast by construction (aggregated to one row per source); the
      // match count is 16 codegen'd comparisons, no lambda in the plan
      val matches = (0 until 16)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      x.join(broadcast(y), col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"), matches.as("matches"))
        .withColumn("jaccard_est", round(col("matches") / 16.0, 6))
        .orderBy("src_a", "src_b")
    }),

    // INCREMENTAL dedup: a NEW batch against the EXISTING corpus — the
    // shape a production ingest actually runs (a full-corpus re-pair per
    // arriving shard would be O(corpus) work per batch). The base corpus's
    // band signatures are the persisted dedup INDEX (session-memoized via
    // cachedFrame — at 100 TB it lives in a table and is appended to);
    // the batch computes its own signatures narrowly, candidates come
    // from the band equi-join INDEX × BATCH (never index×index or
    // batch×batch), and exact-Jaccard verification touches candidate
    // pairs only. Batch here = every 3rd doc mutated like nearDupCorpus,
    // so the oracle replays the same union corpus and keeps only the
    // cross (base, batch) candidate pairs.
    "dedup_incremental" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s) // IntersectCountRule
      val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val batch = base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zz0 zz1")).as("text"))
      val baseSids = baseSidIndex(s, dir)
      val baseBands = baseBandIndex(s, dir)
      val batchSids = sidArrays(batch, md5Sids)
        .select(col("doc_id"), expr("array_distinct(sids)").as("sids"))
        .localCheckpoint() // 2 consumers: bands + verification
      verifyCross(crossCandidates(baseBands, bandSigs(batchSids)),
          baseSids, batchSids)
        .orderBy("doc_id", "dup_of")
    }),

    // MAINTAINED incremental dedup: the dedup index lives in the durable
    // store (IndexStore) and each ingest step APPENDS the arriving batch's
    // signatures after deduping it — so batch 2 is checked against
    // base + batch 1, not just the base. Two consecutive batches are run
    // here; the emitted rows are batch 2's dups, which include near-dups
    // OF BATCH 1 docs (dup_of in [100000, 200000)) — the appended state is
    // what the oracle verifies. Each invocation uses a fresh temp store
    // (append semantics make the query stateful by design; a fixed path
    // would double-append across invocations). At 100 TB the store is a
    // table and this is the per-shard ingest job, O(batch) work per step.
    "dedup_incremental_maint" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      // base index frames shared with dedup_incremental's session memo
      val baseSids = baseSidIndex(s, dir)
      val baseBands = baseBandIndex(s, dir)
      val root = java.nio.file.Files
        .createTempDirectory("graft-dedup-ingest").toString
      val sidPath = s"$root/sids"
      val bandPath = s"$root/bands"
      graft.engine.IndexStore.save(baseSids, sidPath)
      graft.engine.IndexStore.save(baseBands, bandPath)
      val batch1 = base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" zz0 zz1")).as("text"))
      val batch2 = base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zz0 zz1 zz2")).as("text"))
      ingestStep(s, sidPath, bandPath, batch1) // dups vs base; index += batch1
      ingestStep(s, sidPath, bandPath, batch2) // dups vs base AND batch1
        .orderBy("doc_id", "dup_of")
    }),

    // Duplicate-cluster resolution: connected components over the LSH
    // candidate graph (near-dup pairs are pairwise; a dedup pipeline keeps
    // ONE doc per transitive cluster). Implemented as iterative min-label
    // propagation — per round, every node takes the min label among itself
    // and its neighbors; one hash-shuffle per round on the node key, state
    // checkpointed so lineage stays O(1). Converges in diameter rounds;
    // labels only decrease, so an unchanged label-sum (one scalar to the
    // driver per round) proves a fixpoint. At 100 TB graph scale the same
    // loop gets the large-star/small-star edge rewrite; the per-round plan
    // (join → min-agg → join) is unchanged.
    "dedup_cluster_cc" -> ((s, dir) => {
      val cand = candidatePairs(sidArrays(nearDupCorpus(s, dir), md5Sids))
      val edges = cand.select(col("da").as("a"), col("db").as("b"))
        .unionAll(cand.select(col("db").as("a"), col("da").as("b")))
        .localCheckpoint()
      var labels = edges.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node")).localCheckpoint()
      var prevSum = -1L
      var curSum = labels.agg(sum("lbl")).head().getLong(0)
      var iter = 0
      // fixpoint (sum unchanged) is the real exit; the cap bounds runtime on
      // a pathological graph (plain propagation converges in diameter
      // rounds — near-dup clusters are shallow; a deep graph wants the
      // large-star/small-star rewrite, which is O(log d) rounds)
      while (curSum != prevSum && iter < 30) {
        val nbr = edges.join(labels, edges("b") === labels("node"))
          .groupBy(col("a")).agg(min("lbl").as("m"))
        labels = labels.join(nbr, labels("node") === nbr("a"), "left")
          .select(col("node"), least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl"))
          .localCheckpoint()
        prevSum = curSum
        curSum = labels.agg(sum("lbl")).head().getLong(0)
        iter += 1
      }
      labels.select(col("node"), col("lbl").as("cluster")).orderBy("node")
    }),

    // Same clustering, via the O(log d) large-star/small-star algorithm —
    // the variant a 100 TB duplicate graph actually runs (propagation's
    // round count is the graph diameter; stars' is its log). Identical
    // output and oracle as dedup_cluster_cc.
    "dedup_cluster_cc_stars" -> ((s, dir) => {
      starCC(candidatePairs(sidArrays(nearDupCorpus(s, dir), md5Sids)))._1.orderBy("node")
    }),

    // NEAR-DUP METHOD EVALUATION — the sim_recall_eval discipline
    // applied to the dedup family: every pair-search method over the
    // SAME planted corpus (nearDupCorpus — each doc_id % 3 == 0 has a
    // two-token-appended copy at +100000) scored against the KNOWN
    // planted pair set: integer hits, basis-point recall, and the total
    // pair volume each method surfaces (its precision-side cost — pairs
    // beyond the plants are corpus-internal near-dups plus collisions
    // that downstream exact verification pays for). This is the
    // evaluation loop a dedup deployment runs on every knob change
    // (band count, shingle size, hamming gate, fingerprint window):
    // recall against plants, volume as the verification bill. Cost at
    // scale: the arms reuse their own (index-backed) pipelines; the
    // comparison moves |pairs| rows per method through one keyed join.
    "dedup_method_eval" -> ((s, dir) => {
      val truth = Tables(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("da"), (col("doc_id") + 100000).as("db"),
          lit(1L).as("hit"))
      val arms = Seq(
        "minhash_lsh" -> queries("dedup_minhash_lsh")(s, dir),
        "ngram_jaccard" -> queries("dedup_ngram_jaccard")(s, dir),
        "simhash32" -> queries("dedup_simhash_pairs")(s, dir),
        "simhash64" -> queries("dedup_simhash64_pairs")(s, dir),
        "winnowing" -> TextOps.queries("dedup_winnowing_pairs")(s, dir))
      arms.map { case (m, df) =>
        df.select(lit(m).as("method"), col("da"), col("db"))
      }.reduce(_ unionAll _)
        .join(truth, Seq("da", "db"), "left")
        .groupBy("method")
        .agg(count(lit(1)).as("pairs"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("truth_n"))))
        .select(col("method"), col("pairs"), col("hits"), col("truth_n"),
          expr("(hits * 10000) div truth_n").as("recall_bp"))
        .orderBy("method")
    }),

    // Standalone n-gram Jaccard near-dup, inverted-index formulation:
    // candidates are blocked by the first-3-words prefix key
    // (append-mutations preserve it), then exact word-3-gram Jaccard ≥ 0.3.
    // The (blk, c, sid, doc_id) posting list is an INDEX (session-memoized,
    // durable under GRAFT_INDEX_DIR) built in ONE narrow pass; one
    // self-join on (blk, sid) emits co-occurring pairs directly. Since
    // every doc has exactly one block key, "shared sid within a block" ≡
    // "blocked candidate pair sharing that sid" — per-pair counts are
    // identical to the oracle's two-step candidate/verify formulation.
    //
    // Round-7 scale fixes (the 100× ScaleProbe point measured this query
    // super-linear — 30→100× marginal 5.7× for 3.3× data): (1) the block
    // key is an md5-derived LONG, not the 3-word string — the string key
    // doubled the self-join's shuffle/sort bytes (replayed bit-identically
    // by the oracle, so candidate sets are unchanged); (2) each posting
    // row carries its doc's sid count, so the per-doc count table and the
    // TWO extra shuffled joins that attached it to every candidate pair
    // are gone — the group keys (da, db, ca, cb) are functionally
    // (da, db); (3) the posting build no longer re-materializes per
    // invocation (cachedFrame memo).
    "dedup_ngram_jaccard" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val postings = Tables.cachedFrame(s, dir, "ngram_posting_index")(
        nearDupCorpus(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"),
            // same md5-long id derivation as WordIdsExpr's p31 mode —
            // conv is codegen'd and the oracle replays it via the 0x cast
            expr(s"""CAST(conv(substr(md5(concat_ws(' ', slice(w, 1, 3))), 1, 15),
                          16, 10) AS BIGINT) % $P""").as("blk"),
            // fused shingle→distinct→md5-id kernel; same ids as the oracle
            expr("shingle_sids_md5(w, 3)").as("sids"))
          .select(col("doc_id"), col("blk"), size(col("sids")).as("c"),
            explode(col("sids")).as("sid")))
      postings.as("x").join(postings.as("y"),
          col("x.blk") === col("y.blk") && col("x.sid") === col("y.sid")
            && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
          col("x.c").as("ca"), col("y.c").as("cb"))
        .agg(count(lit(1)).as("common"))
        .withColumn("jaccard",
          round(col("common") / (col("ca") + col("cb") - col("common")), 3))
        .filter(col("jaccard") >= 0.3)
        .select(col("da"), col("db"), col("jaccard"))
        .orderBy("da", "db")
    }),

    // End-to-end dedup composition: LSH candidates → connected components
    // → keep ONE doc per cluster (the min id — matches the CC labeling) →
    // corpus summary. This is the shape a production dedup job actually
    // ships: candidates and clustering as above, then a left join of the
    // corpus against the (small) label table and a single-pass summary.
    "dedup_keep_canonical" -> ((s, dir) => {
      val labels = starCC(candidatePairs(sidArrays(nearDupCorpus(s, dir), md5Sids)))._1
      nearDupCorpus(s, dir)
        .join(labels, col("doc_id") === col("node"), "left")
        .withColumn("keep", coalesce(col("cluster"), col("doc_id")) === col("doc_id"))
        .agg(count(lit(1)).as("docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("dropped"))
    }),

    // Containment dedup (one-sided Jaccard): |A∩B| / min(|A|, |B|) ≥ 0.9
    // catches a short doc QUOTED INSIDE a longer one — symmetric Jaccard
    // misses those because the union is dominated by the long doc. Planted
    // here as truncated copies (first-40-words prefix of every 6th doc),
    // which the symmetric threshold would score at ~40/150 ≈ 0.27.
    // Candidates come from the same banded minhash join (the contained doc
    // shares the original's prefix shingles, so its minhashes still
    // collide on some bands); verification is the fused intersect_count
    // over the two sid arrays.
    "dedup_containment" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = d.unionAll(
        d.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 40)).as("text")))
      val docSids = sidArrays(corpus, md5Sids)
        .select(col("doc_id"), expr("array_distinct(sids)").as("sids"))
        .localCheckpoint()
      val cand = candidatePairs(docSids)
      val a = docSids.select(col("doc_id").as("da"), col("sids").as("sa"))
      val b = docSids.select(col("doc_id").as("db"), col("sids").as("sb"))
      cand.join(a, "da").join(b, "db")
        .select(col("da"), col("db"),
          expr("size(array_intersect(sa, sb))").as("common"),
          size(col("sa")).as("ca"), size(col("sb")).as("cb"))
        .withColumn("containment",
          round(col("common") / least(col("ca"), col("cb")).cast("double"), 3))
        .filter(col("containment") >= 0.9)
        .select(col("da"), col("db"), col("containment"))
        .orderBy("da", "db")
    }),

    // SimHash: 32-bit signature from signed per-(word, bit) contributions,
    // computed entirely in array-land — words hash to a word-hash once per
    // row, then the native simhash32 fold builds the signature. Fully
    // narrow per-row expression, ZERO shuffles except the output sort (the
    // round-2 version crossJoined words × bits through two shuffled
    // groupBys; at 100 TB that is bits× the token stream shuffled twice).
    "dedup_simhash" -> ((s, dir) => {
      simhashSigs(Tables(s, dir, "documents").select(col("doc_id"), col("text")))
        .orderBy("doc_id")
    }),

    // SimHash near-dup SEARCH: pairs within Hamming distance ≤ 2, found by
    // the pigeonhole trick — split the 32-bit signature into 3 chunks
    // (11+11+10 bits); ≤2 bit flips can touch at most 2 chunks, so every
    // qualifying pair shares at least one exact chunk. Candidates come
    // from an equi-join on (chunk_idx, chunk_value) — the same banded
    // topology as MinHash-LSH, never all-pairs — and verification is one
    // narrow bit_count(xor) per candidate. Chunk width is the bucket-size
    // knob: 10-11 bits keeps per-bucket population (and thus the pair
    // fan-out) small; a production corpus uses 64-bit signatures with
    // ~16-bit chunks — identical topology.
    "dedup_simhash_pairs" -> ((s, dir) => {
      val sigs = simhashSigs(nearDupCorpus(s, dir)).localCheckpoint()
      val chunks = sigs.select(col("doc_id"), col("simhash"),
        explode(array(
          struct(lit(0).as("ci"), expr("simhash % 2048").as("cv")),
          struct(lit(1).as("ci"), expr("(simhash div 2048) % 2048").as("cv")),
          struct(lit(2).as("ci"), expr("simhash div 4194304").as("cv")))).as("c"))
        .select(col("doc_id"), col("simhash"), col("c.ci").as("ci"), col("c.cv").as("cv"))
      chunks.as("x").join(chunks.as("y"),
          col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
          expr("CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)").as("ham"))
        .distinct()
        .filter(col("ham") <= 2)
        .orderBy("da", "db")
    }),

    // Production-width SimHash pair search: 64-bit signature (the width
    // dedup_simhash_pairs' own scale note prescribes), materialized as TWO
    // 32-bit simhash32 halves over the low/high 32 bits of the word's md5 —
    // a packed 64-bit signature would overflow: hi·2³² exceeds Long range
    // when the high half's bit 31 is set, and Spark wraps silently where
    // DuckDB errors, so the halves stay separate and every chunk/Hamming
    // step works half-wise. Pigeonhole with 4 × 16-bit chunks: ≤3 bit flips
    // touch ≤3 chunks, so every pair within Hamming 3 shares ≥1 exact
    // chunk — candidates come from the (ci, cv) equi-join (banded, never
    // all-pairs; 16-bit chunks keep per-bucket population small) and
    // verification is two narrow bit_counts per candidate.
    "dedup_simhash64_pairs" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val sigs = nearDupCorpus(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        // fused per-word md5 halves (WordIdsExpr lo32/hi32) into the fused
        // simhash32 folds — the md5→substring→conv HOF chain ran interpreted
        .select(col("doc_id"),
          expr("simhash32(word_ids_md5(w, 'lo32'))").as("lo"),
          expr("simhash32(word_ids_md5(w, 'hi32'))").as("hi"))
        .localCheckpoint()
      val chunks = sigs.select(col("doc_id"), col("lo"), col("hi"),
        explode(array(
          struct(lit(0).as("ci"), expr("lo % 65536").as("cv")),
          struct(lit(1).as("ci"), expr("lo div 65536").as("cv")),
          struct(lit(2).as("ci"), expr("hi % 65536").as("cv")),
          struct(lit(3).as("ci"), expr("hi div 65536").as("cv")))).as("c"))
        .select(col("doc_id"), col("lo"), col("hi"),
          col("c.ci").as("ci"), col("c.cv").as("cv"))
      chunks.as("x").join(chunks.as("y"),
          col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"),
          expr("CAST(bit_count(x.lo ^ y.lo) + bit_count(x.hi ^ y.hi) AS BIGINT)").as("ham"))
        .distinct()
        .filter(col("ham") <= 3)
        .orderBy("da", "db")
    }),

    // Embedding near-dup on an UNLABELED corpus: random-hyperplane LSH
    // buckets replace the given-label blocks — the variant a 100 TB
    // pipeline actually runs, since real corpora don't ship with a coarse
    // partition. Bucketing is narrow per row (plane projections via the
    // codegen'd vec_dot — same plane grid as sim_lsh_ann); candidate pairs
    // are a bucket equi-join, never all-pairs; verification is one vec_dot
    // per candidate. The plane count is sized from the corpus count
    // (Lsh.planesFor — a session-memoized statistic, the one a real
    // deployment reads from table metadata), so per-bucket population stays ~constant
    // as the corpus grows and the pair join stays linear — at the old
    // hard-coded 4 planes, ScaleProbe measured 10× time at 10× data. A
    // positive scalar copy preserves every projection sign exactly, so
    // planted dups always share their original's bucket at ANY plane count.
    "dedup_embedding_lsh" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      val dup = e.filter(col("vec_id") % 5 === 0).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, x -> CAST(x AS FLOAT) * CAST(1.01 AS FLOAT))").as("embedding"))
      val all = e.select(col("vec_id"), col("embedding")).unionAll(dup)
      // count+dim memoized per session; buckets+norms checkpointed so the
      // signature computation runs once, not on both sides of the self-join
      val (planes, dim) = Lsh.sizing(s, dir, "embeddings_lsh_corpus", all)
      val withB = all
        .withColumn("bucket", Lsh.bucket(planes, "embedding", dim))
        .withColumn("norm", expr("sqrt(vec_dot(embedding, embedding))"))
        .localCheckpoint()
      val pairs = withB.as("a").join(withB.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      pairs
        .withColumn("dot", expr("vec_dot(a.embedding, b.embedding)"))
        .filter(col("dot") / (col("a.norm") * col("b.norm")) >= 0.9)
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
        .orderBy("va", "vb")
    }),

    // Embedding near-dup: planted scaled copies (cosine == 1 up to float
    // noise) found by blocked pairwise cosine ≥ 0.9 within label blocks.
    "dedup_embedding_cosine" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables(s, dir, "embeddings")
      val dup = e.filter(col("vec_id") % 5 === 0).select(
        (col("vec_id") + 100000).as("vec_id"),
        expr("transform(embedding, x -> CAST(x AS FLOAT) * CAST(1.01 AS FLOAT))").as("embedding"),
        col("label"))
      // norm once per vector BEFORE the pair join; the per-pair work is one
      // codegen'd vec_dot loop (the round-1 zip_with/aggregate HOF pair ran
      // interpreted and dominated the whole benchmark at 20s)
      val all = e.select(col("vec_id"), col("embedding"), col("label")).unionAll(dup)
        .withColumn("norm", expr("sqrt(vec_dot(embedding, embedding))"))
      val pairs = all.as("a").join(all.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      pairs
        .withColumn("dot", expr("vec_dot(a.embedding, b.embedding)"))
        .filter(col("dot") / (col("a.norm") * col("b.norm")) >= 0.9)
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
        .orderBy("va", "vb")
    }),

    // SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    // web-scale through semantic deduplication"): cluster the corpus with
    // a k-means coarse quantizer, then search for near-dup pairs ONLY
    // within each cluster — pair space O(Σ sᶜ²) instead of O(n²), with
    // the cluster count auto-sized from the corpus (k = max(8, n/500), so
    // expected cluster population stays ~constant as the corpus grows —
    // the Lsh.planesFor discipline applied to clustering). This is the
    // third embedding-dedup pair-bounding strategy next to hyperplane LSH
    // (dedup_embedding_lsh) and given-label blocking
    // (dedup_embedding_cosine): clusters are LEARNED from the data, so it
    // works on unlabeled corpora and groups by semantic region rather
    // than random hyperplane cells. Training follows sim_ivf_kmeans
    // exactly (2-round Lloyd, seeds = vec_id ∈ [8, 8+k), per-round 6dp
    // rounding of means AND distances so assignment argmins can't
    // diverge on summation order; quantizer + assignment memoized as the
    // index). Keep-rule: the lowest vec_id of a cos ≥ 0.9 pair survives
    // (the paper keeps the member farthest from its centroid — that
    // changes WHICH duplicate survives, not the topology; min-id is
    // deterministic cross-engine). At extreme scale the brute-force
    // nearest-centroid assignment (n×k distances) is the dominant term —
    // a deployment swaps in hierarchical assignment (coarse √k level
    // first), which changes only the `assign` helper. Output: per-cluster
    // (n_members, n_dup_pairs, n_removed) summary.
    "dedup_semantic" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val all = semanticCorpus(s, dir)
      val n = Tables.cachedStat(s, dir, "semdedup_n")(all.count())
      val k = math.max(8L, n / 500).toInt
      val comp = Tables.cachedFrame(s, dir, "semdedup_comp", durable = false)(
        all.select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x"))))
      def toArr(cent: DataFrame): DataFrame =
        cent.groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(d, c))), s -> s.c)").as("carr"))
      def assign(centArr: DataFrame): DataFrame =
        all.crossJoin(broadcast(centArr))
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
      val cent0 = comp.filter(col("vec_id") >= 8 && col("vec_id") < 8 + k)
        .select((col("vec_id") - 8).as("cid"), col("d"), col("x").cast("double").as("c"))
      val cent2 = Tables.cachedFrame(s, dir, "semdedup_centarr")(
        toArr(update(assign(toArr(update(assign(toArr(cent0))))))))
      val blocks = Tables.cachedFrame(s, dir, "semdedup_blocks")(assign(cent2))
      // norm once per vector BEFORE the pair join (the embedding_cosine
      // lesson); checkpointed so the signature side of the self-join and
      // the member counts share one computation
      val withB = all.join(blocks, "vec_id")
        .withColumn("norm", expr("sqrt(vec_dot(embedding, embedding))"))
        .localCheckpoint()
      val pairs = withB.as("a").join(withB.as("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("dot", expr("vec_dot(a.embedding, b.embedding)"))
        .filter(col("dot") / (col("a.norm") * col("b.norm")) >= 0.9)
        .select(col("a.cid").as("cid"), col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      val members = withB.groupBy("cid").agg(count(lit(1)).as("n_members"))
      val stats = pairs.groupBy("cid")
        .agg(count(lit(1)).as("n_dup_pairs"), countDistinct(col("vb")).as("n_removed"))
      members.join(stats, Seq("cid"), "left")
        .select(col("cid"), col("n_members"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"))
        .orderBy("cid")
    })
  )

  /** The semantic-dedup build corpus: embeddings plus the deterministic
    * planted near-duplicates (every 5th vector, scaled ×1.01, id+100000).
    * Factored out so the IndexRefresh own-space canary measures
    * semdedup_centarr drift against the SAME corpus its builder
    * clustered — the artifact summarizes this frame, not raw embeddings. */
  private[graft] def semanticCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val dup = e.filter(col("vec_id") % 5 === 0).select(
      (col("vec_id") + 100000).as("vec_id"),
      expr("transform(embedding, x -> CAST(x AS FLOAT) * CAST(1.01 AS FLOAT))").as("embedding"))
    e.select(col("vec_id"), col("embedding")).unionAll(dup)
  }

  private val clusterCcSql =
    s"""WITH RECURSIVE $candSql,
        edges AS (SELECT da AS a, db AS b FROM cand
                  UNION SELECT db AS a, da AS b FROM cand),
        reach(node, lbl) AS (
          SELECT DISTINCT a AS node, a AS lbl FROM edges
          UNION
          SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node)
        SELECT node, min(lbl) AS cluster FROM reach
        GROUP BY node ORDER BY node"""

  private val baseOracles: Map[String, String] = Map(
    // identical planting (1-based inclusive slices ≡ Spark's slice),
    // identical positional 15-gram strings/md5 keys, and the NOT EXISTS
    // coverage join replaying the array-land filter/exists predicate
    "dedup_exact_substring" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 200000 AS doc_id,
                  array_to_string(string_split(text, ' ')[31:40], ' ')
                  || ' ' ||
                  array_to_string(string_split(text, ' ')[1:30], ' ') AS text
           FROM documents
           WHERE doc_id % 6 = 0 AND len(string_split(text, ' ')) >= 40),
         d AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         grams AS (
           SELECT doc_id, i - 1 AS i,
                  md5(array_to_string(w[i : i + 14], ' ')) AS g
           FROM (SELECT doc_id, w, unnest(range(1, len(w) - 13)) AS i
                 FROM d WHERE len(w) >= 15)),
         dups AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
         marked AS (SELECT doc_id, i FROM grams JOIN dups USING (g)),
         pos AS (SELECT doc_id, unnest(w) AS word,
                        generate_subscripts(w, 1) - 1 AS p
                 FROM d),
         kept AS (
           SELECT doc_id, p, word FROM pos
           WHERE NOT EXISTS (
             SELECT 1 FROM marked m
             WHERE m.doc_id = pos.doc_id
               AND m.i <= pos.p AND pos.p <= m.i + 14)),
         mc AS (SELECT doc_id, count(*) AS c FROM marked GROUP BY 1),
         kc AS (SELECT doc_id, count(*) AS c,
                       string_agg(word, ' ' ORDER BY p) AS s
                FROM kept GROUP BY 1)
         SELECT d.doc_id, len(w) AS n_words,
                coalesce(mc.c, 0) AS n_dup_grams,
                len(w) - coalesce(kc.c, 0) AS n_removed,
                md5(coalesce(kc.s, '')) AS clean_md5
         FROM d LEFT JOIN mc USING (doc_id) LEFT JOIN kc USING (doc_id)
         ORDER BY d.doc_id""",

    "dedup_exact" ->
      s"""SELECT canonical, n FROM (
            SELECT md5(text) AS h, min(doc_id) AS canonical, count(*) AS n
            FROM ($exactDupSql) GROUP BY 1)
          WHERE n > 1 ORDER BY canonical""",

    "dedup_url_canonical" ->
      """WITH u AS (
           SELECT doc_id,
                  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.EXAMPLE.COM:443'
                        ELSE 'https://www.example.com' END)
                  || '/path/' || CAST(doc_id % 500 AS VARCHAR)
                  || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&' ELSE '?' END)
                  || 'id=' || CAST(doc_id % 7 AS VARCHAR)
                  || (CASE WHEN doc_id % 5 = 0 THEN '&utm_medium=y' ELSE '' END) AS url
           FROM documents)
         SELECT replace(replace(replace(lower(url), ':443', ''),
                  'utm_source=x&', ''), '&utm_medium=y', '') AS canon,
                min(doc_id) AS keep, count(*) AS n
         FROM u GROUP BY 1 ORDER BY canon""",

    // cnt/com count DISTINCT sids (set semantics) to mirror the Spark
    // side's array_distinct + array_intersect — two shingles hashing to
    // one sid must count once on both engines
    "dedup_minhash_lsh" ->
      s"""WITH $candSql,
          cnt AS (SELECT doc_id, count(DISTINCT sid) AS c FROM doc_sh GROUP BY doc_id),
          com AS (SELECT da, db, count(DISTINCT sa.sid) AS common
                  FROM cand
                  JOIN doc_sh sa ON cand.da = sa.doc_id
                  JOIN doc_sh sb ON cand.db = sb.doc_id AND sa.sid = sb.sid
                  GROUP BY da, db)
          SELECT da, db, round(common / (ca.c + cb.c - common * 1.0), 3) AS jaccard
          FROM com JOIN cnt ca ON com.da = ca.doc_id JOIN cnt cb ON com.db = cb.doc_id
          WHERE round(common / (ca.c + cb.c - common * 1.0), 3) >= 0.5
          ORDER BY da, db""",

    // the FNV-1a 64 postings feeding the identical banding chain — the
    // query emits the candidate pairs themselves (verification is the
    // downstream consumer's job in the fast path)
    "dedup_minhash_fast" ->
      s"""WITH $fnvDocShSql,
          $candChainSql
          SELECT da, db FROM cand ORDER BY da, db""",

    // same banding + verification replay WITHOUT the threshold, rolled
    // into the per-decile histogram + cumulative merge counts
    "dedup_threshold_calibration" ->
      s"""WITH $candSql,
          cnt AS (SELECT doc_id, count(DISTINCT sid) AS c FROM doc_sh GROUP BY doc_id),
          com AS (SELECT da, db, count(DISTINCT sa.sid) AS common
                  FROM cand
                  JOIN doc_sh sa ON cand.da = sa.doc_id
                  JOIN doc_sh sb ON cand.db = sb.doc_id AND sa.sid = sb.sid
                  GROUP BY da, db),
          j AS (SELECT (common * 10) // (ca.c + cb.c - common) AS decile
                FROM com JOIN cnt ca ON com.da = ca.doc_id
                JOIN cnt cb ON com.db = cb.doc_id),
          d AS (SELECT CAST(decile AS BIGINT) AS decile,
                       CAST(count(*) AS BIGINT) AS pairs
                FROM j GROUP BY 1)
          SELECT decile, pairs,
                 CAST(sum(pairs) OVER (ORDER BY decile DESC) AS BIGINT)
                   AS cum_pairs_ge
          FROM d ORDER BY decile""",

    // per-source signature = min over the source's (doc, shingle) stream
    // per permutation (the per-doc minhash16 elementwise-min composes to
    // exactly this, min being associative), then the pairwise match count
    "dedup_source_overlap" ->
      s"""WITH ${docShSqlFor("SELECT doc_id, text FROM documents")},
          perms AS (SELECT i, 12345 * i + 1103515245 AS a, 987654 * i + 67867967 AS b
                    FROM range(16) t(i)),
          sig AS (SELECT dd.source, p.i, min((p.a * ds.sid + p.b) % $P) AS mh
                  FROM doc_sh ds JOIN documents dd USING (doc_id)
                  CROSS JOIN perms p
                  GROUP BY dd.source, p.i),
          pw AS (SELECT x.source AS src_a, y.source AS src_b,
                        sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS matches
                 FROM sig x JOIN sig y ON x.i = y.i AND x.source < y.source
                 GROUP BY 1, 2)
          SELECT src_a, src_b, CAST(matches AS BIGINT) AS matches,
                 round(matches / 16.0, 6) AS jaccard_est
          FROM pw ORDER BY src_a, src_b""",

    // same band/verification replay restricted to the cross (base, batch)
    // candidate pairs: base ids < 100000 ≤ batch ids, so cand's da<db
    // ordering puts base on the da side for every cross pair
    "dedup_incremental" ->
      s"""WITH $candSql,
          xc AS (SELECT da, db FROM cand WHERE da < 100000 AND db >= 100000),
          cnt AS (SELECT doc_id, count(DISTINCT sid) AS c FROM doc_sh GROUP BY doc_id),
          com AS (SELECT da, db, count(DISTINCT sa.sid) AS common
                  FROM xc
                  JOIN doc_sh sa ON xc.da = sa.doc_id
                  JOIN doc_sh sb ON xc.db = sb.doc_id AND sa.sid = sb.sid
                  GROUP BY da, db)
          SELECT db AS doc_id, da AS dup_of,
                 round(common / (ca.c + cb.c - common * 1.0), 3) AS jaccard
          FROM com JOIN cnt ca ON com.da = ca.doc_id JOIN cnt cb ON com.db = cb.doc_id
          WHERE round(common / (ca.c + cb.c - common * 1.0), 3) >= 0.5
          ORDER BY doc_id, dup_of""",

    // the appended-state replay: candidates between batch 2 (ids >=
    // 200000) and EVERYTHING already in the index when it arrives — base
    // AND batch 1 (da < 200000; da<db ordering puts the index side on da
    // for every cross pair, exactly the Spark side's index×batch join)
    "dedup_incremental_maint" ->
      s"""WITH ${candSqlFor(maintCorpusSql)},
          xc AS (SELECT da, db FROM cand WHERE da < 200000 AND db >= 200000),
          cnt AS (SELECT doc_id, count(DISTINCT sid) AS c FROM doc_sh GROUP BY doc_id),
          com AS (SELECT da, db, count(DISTINCT sa.sid) AS common
                  FROM xc
                  JOIN doc_sh sa ON xc.da = sa.doc_id
                  JOIN doc_sh sb ON xc.db = sb.doc_id AND sa.sid = sb.sid
                  GROUP BY da, db)
          SELECT db AS doc_id, da AS dup_of,
                 round(common / (ca.c + cb.c - common * 1.0), 3) AS jaccard
          FROM com JOIN cnt ca ON com.da = ca.doc_id JOIN cnt cb ON com.db = cb.doc_id
          WHERE round(common / (ca.c + cb.c - common * 1.0), 3) >= 0.5
          ORDER BY doc_id, dup_of""",

    // transitive closure via recursive CTE — min reachable id per node
    // (shared verbatim by dedup_cluster_cc_stars: both Spark
    // implementations must produce the identical min-id labeling)
    "dedup_cluster_cc" -> clusterCcSql,
    "dedup_cluster_cc_stars" -> clusterCcSql,

    "dedup_keep_canonical" ->
      s"""WITH RECURSIVE $candSql,
          edges AS (SELECT da AS a, db AS b FROM cand
                    UNION SELECT db AS a, da AS b FROM cand),
          reach(node, lbl) AS (
            SELECT DISTINCT a AS node, a AS lbl FROM edges
            UNION
            SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
          labels AS (SELECT node, min(lbl) AS cluster FROM reach GROUP BY node)
          SELECT count(*) AS docs,
                 count(CASE WHEN l.cluster IS NULL OR l.cluster = c.doc_id
                       THEN 1 END) AS kept,
                 count(CASE WHEN l.cluster IS NOT NULL AND l.cluster <> c.doc_id
                       THEN 1 END) AS dropped
          FROM corpus c LEFT JOIN labels l ON c.doc_id = l.node""",

    // blk is the same md5-long derivation as the Spark side (equality-only
    // key; hashing it halves the self-join's shuffled bytes at scale)
    "dedup_ngram_jaccard" ->
      s"""WITH $docShSql,
          blocks AS (
            SELECT doc_id,
                   CAST(concat('0x',
                     substr(md5(array_to_string(string_split(text, ' ')[1:3], ' ')), 1, 15))
                   AS BIGINT) % $P AS blk
            FROM corpus),
          cnt AS (SELECT doc_id, count(*) AS c FROM doc_sh GROUP BY doc_id),
          cand AS (SELECT x.doc_id AS da, y.doc_id AS db
                   FROM blocks x JOIN blocks y
                     ON x.blk = y.blk AND x.doc_id < y.doc_id),
          com AS (SELECT da, db, count(*) AS common
                  FROM cand
                  JOIN doc_sh sa ON cand.da = sa.doc_id
                  JOIN doc_sh sb ON cand.db = sb.doc_id AND sa.sid = sb.sid
                  GROUP BY da, db)
          SELECT da, db, round(common / (ca.c + cb.c - common * 1.0), 3) AS jaccard
          FROM com JOIN cnt ca ON com.da = ca.doc_id JOIN cnt cb ON com.db = cb.doc_id
          WHERE round(common / (ca.c + cb.c - common * 1.0), 3) >= 0.3
          ORDER BY da, db""",

    "dedup_simhash" ->
      s"""WITH words AS (
           SELECT doc_id,
                  CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) % $P AS hw
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
         sb AS (SELECT doc_id, b,
                       sum(CASE WHEN (hw // CAST(pow(2, b) AS BIGINT)) % 2 = 1
                                THEN 1 ELSE -1 END) AS sb
                FROM words CROSS JOIN (SELECT i AS b FROM range(32) t(i))
                GROUP BY doc_id, b)
         SELECT doc_id,
                CAST(sum(CASE WHEN sb > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT)
                  AS simhash
         FROM sb GROUP BY doc_id ORDER BY doc_id""",

    "dedup_containment" ->
      s"""WITH ${candSqlFor(containCorpusSql)},
          cnt AS (SELECT doc_id, count(DISTINCT sid) AS c FROM doc_sh GROUP BY doc_id),
          com AS (SELECT da, db, count(DISTINCT sa.sid) AS common
                  FROM cand
                  JOIN doc_sh sa ON cand.da = sa.doc_id
                  JOIN doc_sh sb ON cand.db = sb.doc_id AND sa.sid = sb.sid
                  GROUP BY da, db)
          SELECT da, db,
                 round(common / (least(ca.c, cb.c) * 1.0), 3) AS containment
          FROM com JOIN cnt ca ON com.da = ca.doc_id JOIN cnt cb ON com.db = cb.doc_id
          WHERE round(common / (least(ca.c, cb.c) * 1.0), 3) >= 0.9
          ORDER BY da, db""",

    "dedup_simhash_pairs" ->
      s"""WITH corpus AS ($nearDupSql),
         words AS (
           SELECT doc_id,
                  CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT) % $P AS hw
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus)),
         sb AS (SELECT doc_id, b,
                       sum(CASE WHEN (hw // CAST(pow(2, b) AS BIGINT)) % 2 = 1
                                THEN 1 ELSE -1 END) AS sb
                FROM words CROSS JOIN (SELECT i AS b FROM range(32) t(i))
                GROUP BY doc_id, b),
         sig AS (SELECT doc_id,
                        CAST(sum(CASE WHEN sb > 0 THEN CAST(pow(2, b) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS simhash
                 FROM sb GROUP BY doc_id),
         chunks AS (
           SELECT doc_id, simhash, 0 AS ci, simhash % 2048 AS cv FROM sig
           UNION ALL SELECT doc_id, simhash, 1, (simhash // 2048) % 2048 FROM sig
           UNION ALL SELECT doc_id, simhash, 2, simhash // 4194304 FROM sig)
         SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
                CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS ham
         FROM chunks x JOIN chunks y
           ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id
         WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
         ORDER BY da, db""",

    "dedup_simhash64_pairs" ->
      s"""WITH corpus AS ($nearDupSql),
         words AS (
           SELECT doc_id,
                  CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) AS hlo,
                  CAST(concat('0x', substr(md5(word), 9, 8)) AS BIGINT) AS hhi
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus)),
         sb AS (SELECT doc_id, b,
                       sum(CASE WHEN (hlo // CAST(pow(2, b) AS BIGINT)) % 2 = 1
                                THEN 1 ELSE -1 END) AS slo,
                       sum(CASE WHEN (hhi // CAST(pow(2, b) AS BIGINT)) % 2 = 1
                                THEN 1 ELSE -1 END) AS shi
                FROM words CROSS JOIN (SELECT i AS b FROM range(32) t(i))
                GROUP BY doc_id, b),
         sig AS (SELECT doc_id,
                        CAST(sum(CASE WHEN slo > 0 THEN CAST(pow(2, b) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS lo,
                        CAST(sum(CASE WHEN shi > 0 THEN CAST(pow(2, b) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS hi
                 FROM sb GROUP BY doc_id),
         chunks AS (
           SELECT doc_id, lo, hi, 0 AS ci, lo % 65536 AS cv FROM sig
           UNION ALL SELECT doc_id, lo, hi, 1, lo // 65536 FROM sig
           UNION ALL SELECT doc_id, lo, hi, 2, hi % 65536 FROM sig
           UNION ALL SELECT doc_id, lo, hi, 3, hi // 65536 FROM sig)
         SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
                CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) AS BIGINT) AS ham
         FROM chunks x JOIN chunks y
           ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id
         WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 3
         ORDER BY da, db""",

    "dedup_embedding_lsh" ->
      s"""WITH all_e AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 100000 AS vec_id,
                  list_transform(embedding,
                    x -> CAST(CAST(x AS FLOAT) * CAST(1.01 AS FLOAT) AS FLOAT)) AS embedding
           FROM embeddings WHERE vec_id % 5 = 0),
         ${Lsh.paramsSql("all_e")},
         comp AS (
           SELECT vec_id, unnest(embedding) AS x,
                  generate_subscripts(embedding, 1) - 1 AS d
           FROM all_e),
         ${Lsh.bucketsSql},
         wb AS (SELECT a.vec_id, a.embedding, b.bucket
                FROM all_e a JOIN buckets b ON a.vec_id = b.vec_id),
         pairs AS (
           SELECT a.vec_id AS va, b.vec_id AS vb, a.embedding AS ea, b.embedding AS eb
           FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         dots AS (
           SELECT va, vb,
                  sum(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot,
                  sqrt(sum(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE))) AS na,
                  sqrt(sum(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE))) AS nb
           FROM (SELECT va, vb, unnest(ea) AS xa, unnest(eb) AS xb FROM pairs)
           GROUP BY va, vb)
         SELECT va, vb FROM dots WHERE dot / (na * nb) >= 0.9 ORDER BY va, vb""",

    "dedup_embedding_cosine" ->
      """WITH all_e AS (
           SELECT vec_id, embedding, label FROM embeddings
           UNION ALL
           SELECT vec_id + 100000 AS vec_id,
                  list_transform(embedding, x -> CAST(CAST(x AS FLOAT) * CAST(1.01 AS FLOAT) AS FLOAT)) AS embedding,
                  label
           FROM embeddings WHERE vec_id % 5 = 0),
         pairs AS (
           SELECT a.vec_id AS va, b.vec_id AS vb, a.embedding AS ea, b.embedding AS eb
           FROM all_e a JOIN all_e b ON a.label = b.label AND a.vec_id < b.vec_id),
         dots AS (
           SELECT va, vb,
                  sum(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot,
                  sqrt(sum(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE))) AS na,
                  sqrt(sum(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE))) AS nb
           FROM (SELECT va, vb, unnest(ea) AS xa, unnest(eb) AS xb FROM pairs)
           GROUP BY va, vb)
         SELECT va, vb FROM dots WHERE dot / (na * nb) >= 0.9 ORDER BY va, vb""",

    // replay the auto-sized k (GREATEST(8, n // 500)), the 2-round Lloyd
    // training (the sim_ivf_kmeans SQL discipline: 6dp-rounded means and
    // distances, cid tiebreak), the within-cluster pair search, and the
    // per-cluster summary
    "dedup_semantic" -> {
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
      s"""WITH all_e AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   list_transform(embedding,
                     x -> CAST(CAST(x AS FLOAT) * CAST(1.01 AS FLOAT) AS FLOAT)) AS embedding
            FROM embeddings WHERE vec_id % 5 = 0),
          kk AS (SELECT GREATEST(8, count(*) // 500) AS k FROM all_e),
          comp AS (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS d
            FROM all_e),
          c0 AS (SELECT vec_id - 8 AS cid, d, CAST(x AS DOUBLE) AS c
                 FROM comp WHERE vec_id >= 8 AND vec_id < 8 + (SELECT k FROM kk)),
          ${assignSql("c0", "a1")}, ${updateSql("a1", "c1")},
          ${assignSql("c1", "a2")}, ${updateSql("a2", "c2")},
          ${assignSql("c2", "blocks")},
          wb AS (SELECT a.vec_id, a.embedding, b.cid
                 FROM all_e a JOIN blocks b ON a.vec_id = b.vec_id),
          pairs AS (
            SELECT a.cid, a.vec_id AS va, b.vec_id AS vb,
                   a.embedding AS ea, b.embedding AS eb
            FROM wb a JOIN wb b ON a.cid = b.cid AND a.vec_id < b.vec_id),
          dots AS (
            SELECT cid, va, vb,
                   sum(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot,
                   sqrt(sum(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE))) AS na,
                   sqrt(sum(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE))) AS nb
            FROM (SELECT cid, va, vb, unnest(ea) AS xa, unnest(eb) AS xb FROM pairs)
            GROUP BY cid, va, vb),
          dup AS (SELECT cid, va, vb FROM dots WHERE dot / (na * nb) >= 0.9),
          members AS (SELECT cid, count(*) AS n_members FROM wb GROUP BY cid),
          stats AS (SELECT cid, count(*) AS n_dup_pairs,
                           count(DISTINCT vb) AS n_removed
                    FROM dup GROUP BY cid)
          SELECT m.cid, m.n_members,
                 coalesce(s.n_dup_pairs, 0) AS n_dup_pairs,
                 coalesce(s.n_removed, 0) AS n_removed
          FROM members m LEFT JOIN stats s ON m.cid = s.cid
          ORDER BY m.cid"""
    }
  )

  /** Eval oracle = the per-method pair-search oracles composed verbatim
    * as derived tables (the sim_recall_eval discipline: every arm is
    * already hash-pinned standalone; the eval adds only the planted-
    * truth join and integer arithmetic). */
  private def methodEvalSql: String = {
    val arms = Seq(
      "minhash_lsh" -> baseOracles("dedup_minhash_lsh"),
      "ngram_jaccard" -> baseOracles("dedup_ngram_jaccard"),
      "simhash32" -> baseOracles("dedup_simhash_pairs"),
      "simhash64" -> baseOracles("dedup_simhash64_pairs"),
      "winnowing" -> TextOps.oracles("dedup_winnowing_pairs"))
      .map { case (label, sql) =>
        s"SELECT '$label' AS method, da, db FROM ($sql) t"
      }.mkString("\nUNION ALL\n")
    s"""WITH truth AS (SELECT doc_id AS da, doc_id + 100000 AS db, 1 AS hit
                       FROM documents WHERE doc_id % 3 = 0),
        allm AS ($arms),
        j AS (SELECT method,
                     CAST(count(*) AS BIGINT) AS pairs,
                     CAST(sum(coalesce(hit, 0)) AS BIGINT) AS hits
              FROM allm LEFT JOIN truth USING (da, db)
              GROUP BY method),
        tn AS (SELECT CAST(count(*) AS BIGINT) AS truth_n FROM truth)
        SELECT method, pairs, hits, truth_n,
               CAST((hits * 10000) // truth_n AS BIGINT) AS recall_bp
        FROM j CROSS JOIN tn ORDER BY method"""
  }

  // lazy: methodEvalSql reads TextOps.oracles, and TextOps' own init
  // touches this object (nearDupCorpus/nearDupSql) — an eager val here
  // would observe TextOps.oracles as null mid-initialization
  lazy val oracles: Map[String, String] =
    baseOracles + ("dedup_method_eval" -> methodEvalSql)
}
