package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ShingleIdsExprSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("shingle_sids_md5 matches the declarative HOF chain on real documents") {
    GraftFunctions.register(spark)
    val P = ShingleIdsExpr.P
    val w = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
    val hashExpr = s"CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT) % $P"
    for (width <- Seq(3, 8)) {
      val joined = (0 until width).map(k => s"w[i + $k]").mkString(", ")
      val legacy = w.select(col("doc_id"), expr(
        s"""transform(array_distinct(transform(sequence(0, size(w) - $width),
              i -> concat_ws(' ', $joined))), sh -> $hashExpr)""").as("sids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val fused = w.select(col("doc_id"), expr(s"shingle_sids_md5(w, $width)").as("sids"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(fused.keySet == legacy.keySet, s"width=$width keys")
      legacy.foreach { case (id, sids) =>
        assert(fused(id) == sids, s"width=$width doc $id")
      }
    }
  }

  test("shingle_sids_fnv matches a driver-side FNV-1a 64 reference on real documents") {
    // FNV-1a cannot be spelled declaratively in Spark SQL (no per-byte
    // fold over a string), so the reference is a direct Scala
    // reimplementation of the published algorithm — independent of the
    // kernel's code path (codegen'd compute vs plain Scala here).
    GraftFunctions.register(spark)
    def fnv(s: String): Long = {
      var h = ShingleIdsExpr.FnvOffset
      s.getBytes("UTF-8").foreach(b => h = (h ^ (b & 0xffL)) * ShingleIdsExpr.FnvPrime)
      java.lang.Long.remainderUnsigned(h, ShingleIdsExpr.P)
    }
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("w"), expr("shingle_sids_fnv(w, 3)").as("sids"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected = r.getSeq[String](1).sliding(3)
        .map(_.mkString(" ")).toSeq.distinct.map(fnv)
      assert(r.getSeq[Long](2) == expected, s"doc ${r.getLong(0)}")
    }
  }

  test("shingle_sids_fnv known vectors: published FNV-1a 64 values") {
    GraftFunctions.register(spark)
    // 'a' is the canonical published FNV-1a 64 test vector
    // (0xaf63dc4c8601ec8c); 'a b c' % P = 1498142145 is additionally
    // cross-checked against the DuckDB list_reduce replay the
    // dedup_minhash_fast oracle uses — a byte-order or signedness slip
    // identical in kernel and test reference would still fail here.
    val r = spark.sql(
      "SELECT shingle_sids_fnv(array('a'), 1) AS a, " +
        "shingle_sids_fnv(array('a', 'b', 'c'), 3) AS abc").collect()(0)
    assert(r.getSeq[Long](0) ==
      Seq(java.lang.Long.remainderUnsigned(0xaf63dc4c8601ec8cL, ShingleIdsExpr.P)))
    assert(r.getSeq[Long](1) == Seq(1498142145L))
  }

  test("shingle_sids: input shorter than the width yields an empty array") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT shingle_sids_md5(array('a', 'b'), 3) AS s").collect()(0)
    assert(r.getSeq[Long](0).isEmpty)
  }
}
