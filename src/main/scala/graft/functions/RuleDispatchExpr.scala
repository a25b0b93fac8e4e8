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

/** Column-level entry point for [[RuleDispatchExpr]].
  *
  * Spark 4 keeps `Column(Expression)` private[sql], so the expression is
  * reached the same way every other graft kernel is — through the
  * function registry — but a rule battery cannot ride a SQL string (the
  * predicates are an AST, and corpus literals are full of backslashes).
  * The battery is therefore INTERNED under a content key: `column(...)`
  * stores the Seq[Pred] in a process-local map, registers a resolver
  * function once per session, and emits
  * `graft_rule_dispatch('<key>', event_data, event_id)`; at analysis the
  * resolver swaps the key literal for the real [[RuleDispatchExpr]] with
  * the predicates inlined as a constructor field. The key only exists
  * between Column construction and analysis ON THE DRIVER — executors
  * receive the resolved expression with the predicates serialized inside
  * it, so cluster execution never touches the map. The map is a
  * size-bounded LRU ([[RuleDispatch.MaxBatteries]] entries): a rules-hot-
  * reload service that re-interns on every update can no longer grow it
  * without bound. Entries are PIN-REFCOUNTED — +1 per intern, -1 per
  * resolution — and eviction prefers unpinned entries, so a caller that
  * pre-builds Columns (even several sharing one interned key) and
  * analyzes them later no longer races the LRU (advisors r14/r15). Two
  * remaining edges, documented not defended: interning MaxBatteries MORE
  * never-analyzed batteries on top of a pending one still evicts it (the
  * bound must stay hard — abandoned Columns must not leak the map), and
  * re-analyzing one Column releases a pin per analysis (the builder sees
  * resolutions, not Column identities) — both end in the clear
  * unknown-key error below, never silent wrong dispatch.
  */
object RuleDispatch {
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import org.apache.spark.sql.functions.{call_function, lit}

  val Name = "graft_rule_dispatch"

  /** LRU bound on interned batteries — far above any real concurrent
    * working set (a battery is a whole rule fleet; the library analyzes
    * each Column immediately after building it). */
  private[graft] val MaxBatteries = 1024

  /** Access-ordered map + pin REFCOUNTS: every intern of a key increments
    * its pin count and every first resolution of a Column decrements it,
    * and eviction skips keys with a positive count — so a caller that
    * builds a battery Column and only analyzes it after many further
    * interns can no longer have its key evicted out from under the
    * unanalyzed Column (advisor r14: the plain LRU made that a
    * nondeterministic unknown-key failure under churn), and two pending
    * Columns SHARING an interned key each hold their own pin — the first
    * one resolving no longer exposes the second to eviction (advisor
    * r15: the boolean pin unpinned on first resolution, weakening the
    * guarantee for shared-key double-builds). Pinned entries that are
    * NEVER analyzed are the one leak this could create, so the bound
    * stays hard: when every entry is pinned, the eldest pinned one is
    * evicted anyway (back to the loud unknown-key error — bounded memory
    * beats an unbounded map held by abandoned Columns). */
  private val batteries =
    new java.util.LinkedHashMap[String, Seq[Pred]](64, 0.75f, true)
  private val pinCounts = new java.util.HashMap[String, Integer]()

  private[graft] def internedCount: Int =
    batteries.synchronized(batteries.size())
  private[graft] def pinnedCount: Int =
    batteries.synchronized(pinCounts.size())
  private[graft] def pinCount(key: String): Int =
    batteries.synchronized(Option(pinCounts.get(key)).fold(0)(_.intValue))

  /** Evict past-bound entries, least-recently-used first, unpinned first.
    * Call only while holding the `batteries` lock. */
  private def evictLocked(): Unit = {
    while (batteries.size() > MaxBatteries) {
      val it = batteries.keySet().iterator()
      var victim: String = null
      while (victim == null && it.hasNext) {
        val k = it.next()
        if (!pinCounts.containsKey(k)) victim = k
      }
      // all pinned: drop the eldest pinned entry to keep the bound hard
      val k = if (victim != null) victim else batteries.keySet().iterator().next()
      batteries.remove(k)
      pinCounts.remove(k)
    }
  }

  /** Content key: size + MD5 over a STRUCTURAL encoding of the predicate
    * ASTs — one tag byte per node, every string field length-prefixed —
    * so distinct trees cannot render to the same bytes the way
    * delimiter-free toString could (Eq("A","x,y") vs Eq("A,x","y")).
    * Defense-in-depth: if a key is already interned for a DIFFERENT
    * battery (a genuine 128-bit collision), fail loudly instead of
    * silently dispatching another battery's rules. */
  private[graft] def intern(preds: Seq[Pred]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def str(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    def enc(p: Pred): Unit = p match {
      case graft.compile.Eq(f, v)        => md.update(1.toByte); str(f); str(v)
      case graft.compile.In(f, vs)       => md.update(2.toByte); str(f)
        md.update(java.nio.ByteBuffer.allocate(4).putInt(vs.size).array())
        vs.foreach(str)
      case graft.compile.IsNull(f)       => md.update(3.toByte); str(f)
      case graft.compile.Like(f, pat)    => md.update(4.toByte); str(f); str(pat)
      case graft.compile.SimilarTo(f, p2) => md.update(5.toByte); str(f); str(p2)
      case graft.compile.TopEq(c, v)     => md.update(6.toByte); str(c); str(v.toString)
      case graft.compile.And(l, r)       => md.update(7.toByte); enc(l); enc(r)
      case graft.compile.Or(l, r)        => md.update(8.toByte); enc(l); enc(r)
      case graft.compile.Not(q)          => md.update(9.toByte); enc(q)
    }
    preds.foreach(enc)
    val key = s"${preds.size}-${md.digest().map("%02x".format(_)).mkString}"
    batteries.synchronized {
      val prev = batteries.put(key, preds) // put also refreshes LRU recency
      if (prev != null && prev != preds)
        throw new IllegalStateException(
          s"rule_dispatch battery key '$key' already interned for a different battery")
      // one pin PER intern: each pending Column holds its own (refcount)
      pinCounts.merge(key, 1, (a, b) => a + b)
      evictLocked()
    }
    key
  }

  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(k, ed, eid) if k.foldable =>
      val key = String.valueOf(k.eval())
      val preds = batteries.synchronized {
        val p = batteries.get(key) // access refreshes LRU recency
        if (p != null)
          // one resolution releases ONE pin; the key stays pinned while
          // other not-yet-analyzed Columns still hold theirs
          pinCounts.computeIfPresent(key, (_, c) => if (c > 1) c - 1 else null)
        p
      }
      if (preds == null)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "INVALID_PARAMETER_VALUE.NULL",
          messageParameters = Map(
            "parameter" -> s"`batteryKey` (unknown key '$key' — build the call via RuleDispatch.column)",
            "functionName" -> s"`$Name`"))
      RuleDispatchExpr(ed, eid, preds)
    case children => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> Name,
        "expectedNum" -> "3 (literal battery key, event_data, event_id)",
        "actualNum" -> children.length.toString, "docroot" -> "-"))
  }

  // once-per-live-session registration (same WeakHashMap discipline as
  // GraftFunctions.register — a stopped session's entry is collectable)
  private val registered =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  def register(spark: SparkSession): Unit = synchronized {
    if (!registered.add(spark)) return
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(Name),
      new ExpressionInfo(classOf[RuleDispatchExpr].getName, Name),
      builder)
  }

  /** `rule_dispatch(event_data, event_id)` over `preds` as a Column. */
  def column(spark: SparkSession, preds: Seq[Pred],
      eventData: Column, eventId: Column): Column = {
    register(spark)
    call_function(Name, lit(intern(preds)), eventData, eventId)
  }
}
