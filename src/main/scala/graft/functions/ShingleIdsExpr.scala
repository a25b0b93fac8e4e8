package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused word-shingle → distinct → long-id kernel: one pass over the split
  * words producing the per-doc shingle-id array that feeds every MinHash /
  * Jaccard / containment pipeline (Dedup.sidArrays) and the 8-gram
  * decontamination postings (TextOps.gram8).
  *
  * Replicates the declarative spelling EXACTLY —
  * `transform(array_distinct(transform(sequence(0, size(w)-width),
  *    i -> concat_ws(' ', w[i], ..., w[i+width-1]))), sh -> <hash>)` —
  * which runs on the interpreted higher-order-function path and, after the
  * minhash16 fusion, was the remaining dominant job in the dedup pipelines
  * (~0.45 s per invocation at sf0.1). Exactness contract, pinned by an
  * equivalence spec and the DuckDB hash oracles:
  *  - shingles joined with single spaces, null words skipped (concat_ws);
  *  - de-duplication on the shingle STRING, first occurrence kept in order
  *    (array_distinct) — two distinct strings colliding to one id stay two
  *    array entries, exactly like the declarative form and the oracles'
  *    `SELECT DISTINCT doc_id, shingle`;
  *  - md5 id = conv(substring(md5(sh), 1, 15), 16, 10) % P, computed as
  *    (big-endian u64 of the first 8 digest bytes >>> 4) % P — the first
  *    15 hex digits ARE the top 60 bits;
  *  - fnv id = FNV-1a 64 over the UTF-8 bytes, reduced UNSIGNED mod P
  *    (Long.remainderUnsigned — the running hash is a full 64-bit
  *    unsigned value). FNV-1a is the production hash that IS
  *    cross-engine replayable: its per-byte step is
  *    h = (h XOR byte) · 0x100000001b3 mod 2⁶⁴, and because the prime
  *    is < 2⁴¹ every wrapping product fits DuckDB's HUGEINT
  *    ((2⁶⁴−1)·2⁴¹ < 2¹²⁷−1), so the oracle replays it exactly with
  *    list_reduce — unlike xxhash64, whose 64×64-bit wrapping multiplies
  *    overflow HUGEINT (see COVERAGE.md "xxhash64 DuckDB oracle").
  * Inputs shorter than `width` yield an empty array; callers filter
  * size(w) >= width anyway (the declarative form is undefined there:
  * sequence(0, negative) counts DOWN).
  */
case class ShingleIdsExpr(child: Expression, width: Int, mode: String)
    extends UnaryExpression {
  import ShingleIdsExpr.{P, FnvOffset, FnvPrime}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = s"shingle_sids_$mode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if !ShingleIdsExpr.Modes.contains(mode) =>
      TypeCheckResult.TypeCheckFailure(
        s"unknown shingle-id mode '$mode' (expected one of " +
          s"${ShingleIdsExpr.Modes.mkString(", ")})")
    case ArrayType(StringType, _) if width >= 1 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> and width >= 1, got " +
        s"${child.dataType.catalogString}, width=$width")
  }

  /** Instance method so codegen can invoke it through a captured reference
    * (ctx.addReferenceObj) — keeps the kernel inside the WholeStageCodegen
    * pipeline with one virtual call per row. */
  def compute(input: ArrayData): ArrayData = {
    val n = input.numElements()
    if (n < width) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[String]((n - width + 1) * 2)
    val out = new java.util.ArrayList[Long](n - width + 1)
    val md = if (mode == "md5") ShingleIdsExpr.md5.get() else null
    var i = 0
    while (i <= n - width) {
      val sb = new java.lang.StringBuilder
      var first = true
      var k = 0
      while (k < width) {
        if (!input.isNullAt(i + k)) {
          if (!first) sb.append(' ')
          sb.append(input.getUTF8String(i + k).toString)
          first = false
        }
        k += 1
      }
      val sh = sb.toString
      if (seen.add(sh)) {
        val id =
          if (mode == "fnv") {
            var h = FnvOffset
            val bytes = sh.getBytes(StandardCharsets.UTF_8)
            var bi = 0
            while (bi < bytes.length) {
              h = (h ^ (bytes(bi) & 0xffL)) * FnvPrime
              bi += 1
            }
            java.lang.Long.remainderUnsigned(h, P)
          } else {
            md.reset()
            val d = md.digest(sh.getBytes(StandardCharsets.UTF_8))
            val hi = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
              ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
              ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
              ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
            (hi >>> 4) % P
          }
        out.add(id)
      }
      i += 1
    }
    val res = new Array[Long](out.size)
    var j = 0
    while (j < res.length) { res(j) = out.get(j); j += 1 }
    new GenericArrayData(res)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleIds", this, classOf[ShingleIdsExpr].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.compute($arr);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleIdsExpr {
  val P = 2147483647L // 2^31 - 1, the shared shingle-id space
  val Modes: Set[String] = Set("md5", "fnv")
  val FnvOffset = 0xcbf29ce484222325L // FNV-1a 64 offset basis
  val FnvPrime = 0x100000001b3L // FNV-1a 64 prime (2^40 + 2^8 + 0xb3)
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}
