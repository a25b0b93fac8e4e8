package graft.functions

import org.apache.commons.text.StringEscapeUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, StringRegexExpression}
import org.apache.spark.unsafe.types.UTF8String

import graft.compile.Pred

/** Native Catalyst `similar_to(str, pattern)` — the strict-fidelity
  * implementation of the reference's `SIMILAR TO` predicate
  * (SURVEY §2.2 P10; used at windows-process-access.sql:340 and
  * windows-process-creation.sql:117,126).
  *
  * Semantics: fully-anchored regex match — `SIMILAR TO` matches the WHOLE
  * string, unlike `rlike`'s substring search. The corpus patterns are
  * Java-flavored (`{4,6}` quantifiers, `(?i)` flags), so the pattern
  * dialect is Java regex with [[Pred.fixRegex]] brace fixing — identical
  * to what the reference's Flink deployment actually executed.
  *
  * Codegen: when the pattern is foldable (every corpus rule — patterns are
  * literals), the compiled `java.util.regex.Pattern` is hoisted into
  * operator mutable state once per task, and the per-row code is a single
  * `matcher(...).find()` — stays inside whole-stage codegen, no fallback.
  * Non-foldable patterns use the parent's per-value compile cache.
  */
case class SimilarToExpr(left: Expression, right: Expression)
    extends StringRegexExpression {

  override def escape(v: String): String = s"^(?:${Pred.fixRegex(v)})$$"
  override def matches(regex: java.util.regex.Pattern, str: String): Boolean =
    regex.matcher(str).find(0)

  override def prettyName: String = "similar_to"
  override def toString: String = s"$left SIMILAR TO $right"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val patternClass = classOf[java.util.regex.Pattern].getName
    if (right.foldable) {
      val rVal = right.eval()
      if (rVal != null) {
        val regexStr = StringEscapeUtils.escapeJava(escape(rVal.asInstanceOf[UTF8String].toString))
        // compile once per task, not per row
        val patternRef = ctx.addMutableState(patternClass, "similarToPattern",
          v => s"""$v = $patternClass.compile("$regexStr");""")
        val eval = left.genCode(ctx)
        import org.apache.spark.sql.catalyst.expressions.codegen.Block._
        ev.copy(code =
          code"""
            ${eval.code}
            boolean ${ev.isNull} = ${eval.isNull};
            boolean ${ev.value} = false;
            if (!${ev.isNull}) {
              ${ev.value} = $patternRef.matcher(${eval.value}.toString()).find(0);
            }
          """)
      } else {
        import org.apache.spark.sql.catalyst.expressions.codegen.Block._
        ev.copy(code =
          code"""
            boolean ${ev.isNull} = true;
            boolean ${ev.value} = false;
          """)
      }
    } else {
      // pattern is per-row: compile inline (rare path; corpus never hits it)
      nullSafeCodeGen(ctx, ev, (l, r) =>
        s"""${ev.value} = $patternClass.compile(
           |  "^(?:" + graft.compile.Pred.fixRegex($r.toString()) + ")$$")
           |  .matcher($l.toString()).find(0);""".stripMargin)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Function registration: both the `SparkSessionExtensions` path (for
  * `spark.sql.extensions=graft.functions.GraftExtensions`) and a direct
  * registry helper for sessions that already exist. */
object GraftFunctions {
  /** The analysis error for a call with the wrong argument count. */
  private def wrongArgs(name: String, expected: String, children: Seq[Expression]): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map("functionName" -> name, "expectedNum" -> expected,
        "actualNum" -> children.length.toString, "docroot" -> "-"))

  /** Builder with an arity gate: a wrong argument count surfaces as a clear
    * analysis-time error, not an opaque NoSuchElementException. */
  private def binary(name: String, mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(l, r) => mk(l, r)
    case children => wrongArgs(name, "2", children)
  }

  val similarTo: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("similar_to"),
    new ExpressionInfo(classOf[SimilarToExpr].getName, "similar_to"),
    binary("similar_to", SimilarToExpr))

  val vecDot: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDotExpr].getName, "vec_dot"),
    binary("vec_dot", VecDotExpr))

  val vecSqDist: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_sqdist"),
    new ExpressionInfo(classOf[VecSqDistExpr].getName, "vec_sqdist"),
    binary("vec_sqdist", VecSqDistExpr))

  private def unary(name: String, mk: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(c) => mk(c)
    case children => wrongArgs(name, "1", children)
  }

  val simHash: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash32"),
    new ExpressionInfo(classOf[SimHashExpr].getName, "simhash32"),
    unary("simhash32", SimHashExpr))

  val intersectCount: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("intersect_count"),
    new ExpressionInfo(classOf[IntersectCountExpr].getName, "intersect_count"),
    binary("intersect_count", IntersectCountExpr))

  val minHash16: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash16"),
    new ExpressionInfo(classOf[MinHash16Expr].getName, "minhash16"),
    unary("minhash16", MinHash16Expr.apply))

  /** Second-argument literal extraction with honest diagnostics: a
    * non-foldable expression or a NULL literal raises the dedicated
    * analysis error instead of an NPE at plan build or a misleading
    * wrong-arg-count ("actualNum=2" on a 2-arg call). */
  private def foldableArg(fn: String, param: String, tpe: String,
      e: Expression): Any = {
    if (!e.foldable)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map(
          "funcName" -> s"`$fn`", "paramName" -> s"`$param`",
          "paramType" -> s""""$tpe""""))
    val v = e.eval()
    if (v == null)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INVALID_PARAMETER_VALUE.NULL",
        messageParameters = Map(
          "parameter" -> s"`$param`", "functionName" -> s"`$fn`"))
    v
  }

  /** shingle_sids_*(words, width) — width must be a literal (it is baked
    * into the kernel at plan-build time). */
  private def shingle(name: String, mode: String): Seq[Expression] => Expression = {
    case Seq(arr, w) =>
      ShingleIdsExpr(arr,
        foldableArg(name, "width", "INT", w).asInstanceOf[Number].intValue(),
        mode)
    case children => wrongArgs(name, "2 (array, literal width)", children)
  }

  val shingleMd5: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_sids_md5"),
    new ExpressionInfo(classOf[ShingleIdsExpr].getName, "shingle_sids_md5"),
    shingle("shingle_sids_md5", "md5"))

  val shingleFnv: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_sids_fnv"),
    new ExpressionInfo(classOf[ShingleIdsExpr].getName, "shingle_sids_fnv"),
    shingle("shingle_sids_fnv", "fnv"))

  /** ngrams_ws(words, width) — fused distinct n-gram STRING array; width
    * must be a literal (baked into the kernel at plan-build time). */
  val ngramsWs: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("ngrams_ws"),
    new ExpressionInfo(classOf[NgramsExpr].getName, "ngrams_ws"),
    {
      case Seq(arr, w) =>
        NgramsExpr(arr,
          foldableArg("ngrams_ws", "width", "INT", w).asInstanceOf[Number].intValue())
      case children => wrongArgs("ngrams_ws", "2 (array, literal width)", children)
    })

  /** md5_grams(words, width) — fused positional binary-md5 gram array;
    * width must be a literal (baked into the kernel at plan-build time). */
  val md5Grams: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("md5_grams"),
    new ExpressionInfo(classOf[Md5GramsExpr].getName, "md5_grams"),
    {
      case Seq(arr, w) =>
        Md5GramsExpr(arr,
          foldableArg("md5_grams", "width", "INT", w).asInstanceOf[Number].intValue())
      case children => wrongArgs("md5_grams", "2 (array, literal width)", children)
    })

  /** bloom_might_contain(key, bytes) — the filter bytes must be a literal
    * (deserialized once at plan build, attached to codegen as a reference
    * object). */
  val bloomProbe: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_might_contain"),
    new ExpressionInfo(classOf[BloomProbeExpr].getName, "bloom_might_contain"),
    {
      case Seq(v, b) =>
        BloomProbeExpr(v,
          foldableArg("bloom_might_contain", "bloomBytes", "BINARY", b)
            .asInstanceOf[Array[Byte]])
      case children => wrongArgs("bloom_might_contain", "2 (key, literal filter bytes)", children)
    })

  /** bpe_apply(text, pairs) — the merge list must be a literal array (it
    * is the trained 6-row index, baked into the kernel at plan build). */
  val bpeApply: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bpe_apply"),
    new ExpressionInfo(classOf[BpeApplyExpr].getName, "bpe_apply"),
    {
      case Seq(t, p) =>
        val arr = foldableArg("bpe_apply", "pairs", "ARRAY<STRING>", p)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        BpeApplyExpr(t, arr.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.toString).toSeq)
      case children => wrongArgs("bpe_apply", "2 (text, literal pair array)", children)
    })

  /** winnow_fps(words) — fused winnowing fingerprint set. */
  val winnowFps: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("winnow_fps"),
    new ExpressionInfo(classOf[WinnowFpsExpr].getName, "winnow_fps"),
    {
      case Seq(arr) => WinnowFpsExpr(arr)
      case children => wrongArgs("winnow_fps", "1 (array)", children)
    })

  /** min_k_collect(v, k) — bounded-state sorted collect (provenance
    * sampling; the analyzer wraps the returned AggregateFunction). */
  val minKCollect: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("min_k_collect"),
    new ExpressionInfo(classOf[MinKCollectExpr].getName, "min_k_collect"),
    {
      case Seq(c, kExpr) if kExpr.foldable && kExpr.eval() != null =>
        MinKCollectExpr(c, kExpr.eval().asInstanceOf[Number].intValue())
      case children => wrongArgs("min_k_collect", "2 (value, literal k)", children)
    })

  /** min_k_distinct(v, k) — the k smallest DISTINCT values, bounded state
    * (`size(...)` = exact distinct count saturated at k; the Sigma
    * `count(field)` correlation pipe's aggregate). */
  val minKDistinct: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("min_k_distinct"),
    new ExpressionInfo(classOf[MinKCollectExpr].getName, "min_k_distinct"),
    {
      case Seq(c, kExpr) if kExpr.foldable && kExpr.eval() != null =>
        MinKCollectExpr(c, kExpr.eval().asInstanceOf[Number].intValue(),
          distinct = true)
      case children => wrongArgs("min_k_distinct", "2 (value, literal k)", children)
    })

  /** quality_score_md5(words) — the fused linear-classifier score. */
  val qualityScore: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("quality_score_md5"),
    new ExpressionInfo(classOf[QualityScoreExpr].getName, "quality_score_md5"),
    {
      case Seq(arr) => QualityScoreExpr(arr)
      case children => wrongArgs("quality_score_md5", "1 (array)", children)
    })

  /** word_ids_md5(words, 'p31'|'lo32'|'hi32') — mode must be a literal. */
  val wordIds: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_ids_md5"),
    new ExpressionInfo(classOf[WordIdsExpr].getName, "word_ids_md5"),
    {
      case Seq(arr, m) =>
        WordIdsExpr(arr,
          foldableArg("word_ids_md5", "mode", "STRING", m).toString)
      case children => wrongArgs("word_ids_md5", "2 (array, literal mode)", children)
    })

  /** bounded-state distributed top-k: topkN_ids(score, id) → struct(ids).
    * k=3 is the ANN result size; k=8 is the quantized-scan candidate pool
    * reranked exactly by sim_q8_rerank. Native TypedImperativeAggregate
    * (TopKIdsExpr) since r18 — the udaf Aggregator wrapper paid a
    * Catalyst→Scala conversion plus an immutable-Seq rebuild per
    * candidate row (the MinKCollectExpr lesson); TopKIdsExprSpec pins the
    * exact top-k under any split, serialise and merge. */
  private def topk(name: String, k: Int, withScores: Boolean)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(classOf[TopKIdsExpr].getName, name),
    binary(name, TopKIdsExpr(_, _, k, withScores)))

  /** Every native function graft adds, as registry builder triples: what
    * [[register]] registers on a built session and [[GraftExtensions]]
    * injects into one built with `spark.sql.extensions`, so SQL that a
    * session of either kind accepts (RuleCompiler's rendered timeframe
    * SQL calls min_k_collect and min_k_distinct) runs on both. */
  val builders: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    similarTo, vecDot, vecSqDist, simHash, intersectCount, minHash16, shingleMd5,
    shingleFnv, ngramsWs, md5Grams, wordIds, qualityScore, winnowFps, minKCollect,
    minKDistinct, bloomProbe, bpeApply,
    topk("topk3_ids", 3, withScores = false),
    topk("topk8_ids", 8, withScores = false),
    topk("topk3_scored", 3, withScores = true))

  // Registration is idempotent in effect but the registry logs a WARN per
  // re-registered name — 3 UDAFs × every query invocation floods stderr
  // (and the driver's captured output tail). Register once per live
  // session; the weak keying releases an entry when its session becomes
  // unreachable (a stopped session still referenced elsewhere stays in
  // the set — harmless, it's one map entry, not held Spark state).
  private val registered =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  def register(spark: SparkSession): Unit = synchronized {
    if (!registered.add(spark)) return
    builders.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    // KMV distinct-count sketch over 52-bit md5-derived hashes: bounded
    // mergeable state (≤64 longs per group), replayable bit-for-bit by the
    // DuckDB oracle — see KmvSketchAgg for the full rationale. A udaf
    // wrapper has no builder triple, so the extensions path lacks it; no
    // SQL that graft renders calls it.
    spark.udf.register("kmv64",
      org.apache.spark.sql.functions.udaf(new KmvSketchAgg(64),
        org.apache.spark.sql.Encoders.scalaLong))
    // optimizer rewrite: size(array_intersect) → fused intersect_count.
    // experimental.extraOptimizations reaches an ALREADY-BUILT session
    // (the extensions path below covers spark.sql.extensions users).
    // The contains-check + reassignment is a read-modify-write of a plain
    // var, so concurrent register() calls (parallel test suites share a
    // session) could double-add or drop the rule — serialize it.
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.contains(IntersectCountRule)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ IntersectCountRule
      }
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => IntersectCountRule)
  }
}
