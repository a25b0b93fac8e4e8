package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.compile._

/** The rule-battery dispatch as ONE Catalyst expression:
  * `rule_dispatch(event_data, event_id) -> array<int>` of fired rule ids
  * (ascending), SURVEY §4's anticipated "predicate-dispatch operator".
  *
  * Why it exists (r12 verdict #2): the expression-tree spelling of the
  * merged dispatch — `array(when(p_0, 0).otherwise(-1), …, when(p_N-1,
  * N-1).otherwise(-1))` — is an O(rules) tree that Catalyst RE-ANALYZES
  * and RE-OPTIMIZES every streaming micro-batch (measured ~1.1 s per
  * trigger of queryPlanning at 1000 corpus-sized rules — driver-side
  * fixed cost that no executor count dilutes, the reference workload
  * shape being a 24/7 stream, windows-process-access.sql:72-601). This
  * node presents the whole battery to the planner as ONE expression: the
  * predicates live in a constructor field the tree walkers never enter,
  * so plan-build cost is O(1) in rule count while the per-row work is
  * unchanged.
  *
  * Evaluation: each predicate compiles once per instance to a closure
  * chain returning SQL tri-state (0=false, 1=true, 2=null) with Kleene
  * AND/OR/NOT and the same short-circuit order as Spark's And/Or, and
  * subtrees shared across rules are memoised per row. `dispatch` is the
  * one evaluator: `eval` calls it, and the generated code is the
  * children's code plus one `dispatch` call, so whole-stage fusion stays
  * while the generated source does not grow with the rule count.
  * Generating Java per rule instead (one method per rule, 64-rule block
  * methods, memo methods) regenerated about 786 KB of source per trigger
  * at 250 rules, and JFR runs of the 250-rule streaming benchmark put
  * about 10 s of JIT compile time on those methods.
  *
  * Fired-id semantics match the tree spelling exactly: rule i is emitted
  * iff its predicate is TRUE (NULL and FALSE both skip), ids ascending —
  * the same bag the `when(p,i).otherwise(-1)` + `array_remove(-1)` +
  * `explode` pipeline produced, asserted by the union≡merged specs.
  */
case class RuleDispatchExpr(eventData: Expression, eventId: Expression,
    preds: Seq[Pred]) extends Expression {
  import RuleDispatchExpr._

  override def children: Seq[Expression] = Seq(eventData, eventId)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "rule_dispatch"
  override def toString: String = s"rule_dispatch($eventData, $eventId, ${preds.size} rules)"

  /** event_data field name → struct ordinal (resolved once per plan). */
  @transient private lazy val ordinals: Map[String, Int] =
    eventData.dataType.asInstanceOf[StructType].fieldNames.zipWithIndex.toMap

  private def referencedFields(p: Pred): Seq[String] = p match {
    case Eq(f, _) => Seq(f)
    case In(f, _) => Seq(f)
    case IsNull(f) => Seq(f)
    case Like(f, _) => Seq(f)
    case SimilarTo(f, _) => Seq(f)
    case TopEq(_, _) => Seq.empty
    case And(l, r) => referencedFields(l) ++ referencedFields(r)
    case Or(l, r) => referencedFields(l) ++ referencedFields(r)
    case Not(q) => referencedFields(q)
  }

  private def topCols(p: Pred): Seq[String] = p match {
    case TopEq(c, _) => Seq(c)
    case And(l, r) => topCols(l) ++ topCols(r)
    case Or(l, r) => topCols(l) ++ topCols(r)
    case Not(q) => topCols(q)
    case _ => Seq.empty
  }

  override def checkInputDataTypes(): TypeCheckResult = eventData.dataType match {
    case st: StructType =>
      if (eventId.dataType != LongType)
        return TypeCheckResult.TypeCheckFailure(
          s"rule_dispatch expects a BIGINT event_id, got ${eventId.dataType.catalogString}")
      val badTop = preds.flatMap(topCols).filterNot(_ == "event_id").distinct
      if (badTop.nonEmpty)
        return TypeCheckResult.TypeCheckFailure(
          s"rule_dispatch top-level predicates support only event_id, got ${badTop.mkString(", ")}")
      val missing = preds.flatMap(referencedFields).distinct
        .filterNot(f => st.fieldNames.contains(f))
      if (missing.nonEmpty)
        return TypeCheckResult.TypeCheckFailure(
          s"rule_dispatch: fields absent from the event_data struct: ${missing.mkString(", ")}")
      val nonString = preds.flatMap(referencedFields).distinct
        .filter(f => st(f).dataType != StringType)
      if (nonString.nonEmpty)
        TypeCheckResult.TypeCheckFailure(
          s"rule_dispatch: non-string event_data fields: ${nonString.mkString(", ")}")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rule_dispatch expects a STRUCT event_data, got ${other.catalogString}")
  }

  // ---- the evaluator -----------------------------------------------------

  /** Memo slot of every predicate subtree that occurs more than once in
    * the battery, assigned once per instance. Real rule fleets repeat
    * structure — a cloned fleet shares 25 base predicates 40× each, and
    * even hand-written corpora repeat event-gate conjuncts — and the memo
    * is LAZY: a shared subtree is evaluated at most once per row, but
    * work that a short circuit skips is never paid at all (corpus rules
    * mostly die on their event_id gate). Without it this evaluator ran a
    * 1000-rule cloned fleet 3.7× slower (batch noop write of 400k rows,
    * 4 cores: 14.6 s vs 3.9 s). TopEq and IsNull cost no more than a
    * memo probe, so they are never memoised. */
  @transient private lazy val memoSlots: Map[Pred, Int] = {
    val occurs = scala.collection.mutable.HashMap.empty[Pred, Int]
    def census(p: Pred): Unit = {
      occurs(p) = occurs.getOrElse(p, 0) + 1
      p match {
        case And(l, r) => census(l); census(r)
        case Or(l, r) => census(l); census(r)
        case Not(q) => census(q)
        case _ => ()
      }
    }
    preds.foreach(census)
    occurs.iterator.collect {
      case (p, n) if n > 1 && !p.isInstanceOf[TopEq] && !p.isInstanceOf[IsNull] => p
    }.zipWithIndex.toMap
  }

  /** One closure chain per rule; a memoised subtree compiles once and is
    * shared by every rule that contains it. */
  @transient private lazy val compiled: Array[Ev3] = {
    val shared = scala.collection.mutable.HashMap.empty[Pred, Ev3]
    def comp(p: Pred): Ev3 = memoSlots.get(p) match {
      case None => compile(p, comp)
      case Some(slot) => shared.get(p) match {
        case Some(ev) => ev
        case None =>
          val inner = compile(p, comp)
          val ev: Ev3 = (ed, en, e, memo) => {
            val v = memo(slot)
            if (v != UNSET3) v
            else { val r = inner(ed, en, e, memo); memo(slot) = r; r }
          }
          shared(p) = ev
          ev
      }
    }
    preds.map(comp).toArray
  }

  /** Tri-state (0=false, 1=true, 2=null) closure for `p` with Kleene
    * AND/OR/NOT and the same short-circuit order as Spark's And/Or;
    * `sub` compiles the children (and applies the memo). */
  private def compile(p: Pred, sub: Pred => Ev3): Ev3 = p match {
    case Eq(f, v) =>
      val lit = UTF8String.fromString(v)
      strLeaf(f, _.equals(lit))
    case In(f, vs) =>
      val set = new java.util.HashSet[UTF8String](vs.size * 2)
      vs.foreach(v => set.add(UTF8String.fromString(v)))
      strLeaf(f, set.contains(_))
    case IsNull(f) =>
      val ord = ordinals(f)
      (ed, _, _, _) => if (strAt(ed, ord) == null) TRUE3 else FALSE3
    case Like(f, pattern) =>
      import Pred._
      parseLike(pattern) match {
        case List(Lit(s0)) => val l = UTF8String.fromString(s0); strLeaf(f, _.equals(l))
        case List(AnyN) => strLeaf(f, _ => true)
        case List(AnyN, Lit(s0)) => val l = UTF8String.fromString(s0); strLeaf(f, _.endsWith(l))
        case List(Lit(s0), AnyN) => val l = UTF8String.fromString(s0); strLeaf(f, _.startsWith(l))
        case List(AnyN, Lit(s0), AnyN) => val l = UTF8String.fromString(s0); strLeaf(f, _.contains(l))
        case _ =>
          val re = java.util.regex.Pattern.compile(likeToRegex(pattern))
          strLeaf(f, s => re.matcher(s.toString).find())
      }
    case SimilarTo(f, pattern) =>
      val re = java.util.regex.Pattern.compile(s"^(?:${Pred.fixRegex(pattern)})$$")
      strLeaf(f, s => re.matcher(s.toString).find())
    case TopEq(_, v) =>
      (_, eidNull, eid, _) =>
        if (eidNull) NULL3 else if (eid == v) TRUE3 else FALSE3
    case And(l, r) =>
      val le = sub(l); val re = sub(r)
      (ed, en, e, m) => {
        val a = le(ed, en, e, m)
        if (a == FALSE3) FALSE3
        else {
          val b = re(ed, en, e, m)
          if (b == FALSE3) FALSE3
          else if (a == NULL3 || b == NULL3) NULL3
          else TRUE3
        }
      }
    case Or(l, r) =>
      val le = sub(l); val re = sub(r)
      (ed, en, e, m) => {
        val a = le(ed, en, e, m)
        if (a == TRUE3) TRUE3
        else {
          val b = re(ed, en, e, m)
          if (b == TRUE3) TRUE3
          else if (a == NULL3 || b == NULL3) NULL3
          else FALSE3
        }
      }
    case Not(q) =>
      val qe = sub(q)
      (ed, en, e, m) => {
        val a = qe(ed, en, e, m)
        if (a == NULL3) NULL3 else if (a == TRUE3) FALSE3 else TRUE3
      }
  }

  /** A string leaf: NULL field → NULL, else the test's verdict. */
  private def strLeaf(f: String, test: StrTest): Ev3 = {
    val ord = ordinals(f)
    (ed, _, _, _) => {
      val s = strAt(ed, ord)
      if (s == null) NULL3 else if (test(s)) TRUE3 else FALSE3
    }
  }

  private def strAt(ed: InternalRow, ord: Int): UTF8String =
    if (ed == null || ed.isNullAt(ord)) null else ed.getUTF8String(ord)

  // per-thread fired-id buffer and memo (one instance may run concurrently)
  @transient private lazy val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch =
      new Scratch(new Array[Int](preds.size), new Array[Byte](memoSlots.size))
  }

  /** Fired rule ids, ascending, for one row (`ed` null = NULL struct) —
    * the battery's only evaluator, called by `eval` and by the generated
    * code alike. */
  def dispatch(ed: InternalRow, eidNull: Boolean, eid: Long): ArrayData = {
    val evs = compiled
    val s = scratch.get()
    val memo = s.memo
    java.util.Arrays.fill(memo, UNSET3)
    val ids = s.ids
    var n = 0
    var i = 0
    while (i < evs.length) {
      if (evs(i)(ed, eidNull, eid, memo) == TRUE3) { ids(n) = i; n += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(ids, Platform.INT_ARRAY_OFFSET, n, 4)
  }

  override def eval(input: InternalRow): Any = {
    val eid = eventId.eval(input)
    dispatch(eventData.eval(input).asInstanceOf[InternalRow], eid == null,
      if (eid == null) 0L else eid.asInstanceOf[Long])
  }

  /** The children's code plus one `dispatch` call on this instance: the
    * whole-stage fusion stays, and the generated source does not depend
    * on the battery. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ruleDispatch", this)
    val ed = eventData.genCode(ctx)
    val eid = eventId.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code =
      code"""
        ${ed.code}
        ${eid.code}
        ${classOf[ArrayData].getName} ${ev.value} =
          $self.dispatch(${ed.isNull} ? null : ${ed.value}, ${eid.isNull}, ${eid.value});
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(eventData = newChildren(0), eventId = newChildren(1))
}

object RuleDispatchExpr {
  private[graft] val TRUE3: Byte = 1
  private[graft] val FALSE3: Byte = 0
  private[graft] val NULL3: Byte = 2
  /** Memo value of a subtree not yet evaluated on this row. */
  private val UNSET3: Byte = 3

  /** A compiled predicate: (event_data row or null, event_id is null,
    * event_id, this row's memo) → tri-state. A trait rather than a
    * Function4, so the primitives pass unboxed. */
  private trait Ev3 {
    def apply(ed: InternalRow, eidNull: Boolean, eid: Long, memo: Array[Byte]): Byte
  }

  private trait StrTest { def apply(s: UTF8String): Boolean }

  private final class Scratch(val ids: Array[Int], val memo: Array[Byte])
}

/** Column-level entry point for [[RuleDispatchExpr]]: the battery goes
  * into the plan as the expression itself, with the predicates in a
  * constructor field. The Column is resolved like any other: it needs
  * nothing registered in the session, and executors receive the
  * predicates serialized inside the expression.
  */
object RuleDispatch {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.classic.ColumnConversions.expression
  import org.apache.spark.sql.graftshim.Columns

  /** `rule_dispatch(event_data, event_id)` over `preds` as a Column. */
  def column(preds: Seq[Pred], eventData: Column, eventId: Column): Column =
    Columns.column(RuleDispatchExpr(expression(eventData), expression(eventId), preds))
}
