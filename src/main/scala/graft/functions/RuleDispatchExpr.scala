package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
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
  * Codegen (the ShingleIdsExpr discipline, adapted): each rule compiles
  * to its OWN private method — `byte rule_i(ed, edNull, eid, eidNull)`
  * returning SQL tri-state (0=false, 1=true, 2=null) with Kleene
  * AND/OR/NOT and the same short-circuit order as Spark's generated
  * And/Or, so measured per-rule cost tracks the expression-tree plan's.
  * Rules are grouped into batch-of-[[RuleDispatchExpr.BlockSize]] block
  * methods; every generated method (rule, block, and the top-level stage
  * fragment, which is just #blocks calls) stays far below HotSpot's
  * 8000-byte DontCompileHugeMethods ceiling, so the JIT dead zone the
  * r12 round diagnosed (SessionDefaults) cannot re-form here at ANY rule
  * count: the fused stage method no longer grows with rules at all.
  * String/pattern/set constants ride `ctx.addReferenceObj`, keeping the
  * generated source free of escaping hazards (the corpus is full of
  * Windows-path backslashes).
  *
  * Interpreted eval compiles each predicate once to a closure chain with
  * identical tri-state semantics (RuleDispatchExprSpec pins codegen ≡
  * interpreted over the corpus and random batteries).
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

  // ---- interpreted path ---------------------------------------------------

  /** (event_data row or null, event_id is null, event_id) → tri-state. */
  private type Ev3 = (InternalRow, Boolean, Long) => Byte

  @transient private lazy val compiled: Array[Ev3] = preds.map(compile).toArray

  private def compile(p: Pred): Ev3 = p match {
    case Eq(f, v) =>
      val ord = ordinals(f); val lit = UTF8String.fromString(v)
      (ed, _, _) => {
        val s = strAt(ed, ord)
        if (s == null) NULL3 else if (s.equals(lit)) TRUE3 else FALSE3
      }
    case In(f, vs) =>
      val ord = ordinals(f)
      val set = new java.util.HashSet[UTF8String](vs.size * 2)
      vs.foreach(v => set.add(UTF8String.fromString(v)))
      (ed, _, _) => {
        val s = strAt(ed, ord)
        if (s == null) NULL3 else if (set.contains(s)) TRUE3 else FALSE3
      }
    case IsNull(f) =>
      val ord = ordinals(f)
      (ed, _, _) => if (strAt(ed, ord) == null) TRUE3 else FALSE3
    case Like(f, pattern) =>
      val ord = ordinals(f)
      import Pred._
      def str(g: UTF8String => Boolean): Ev3 = (ed, _, _) => {
        val s = strAt(ed, ord)
        if (s == null) NULL3 else if (g(s)) TRUE3 else FALSE3
      }
      parseLike(pattern) match {
        case List(Lit(s0)) => val l = UTF8String.fromString(s0); str(_.equals(l))
        case List(AnyN) => str(_ => true)
        case List(AnyN, Lit(s0)) => val l = UTF8String.fromString(s0); str(_.endsWith(l))
        case List(Lit(s0), AnyN) => val l = UTF8String.fromString(s0); str(_.startsWith(l))
        case List(AnyN, Lit(s0), AnyN) => val l = UTF8String.fromString(s0); str(_.contains(l))
        case _ =>
          val re = java.util.regex.Pattern.compile(likeToRegex(pattern))
          str(s => re.matcher(s.toString).find())
      }
    case SimilarTo(f, pattern) =>
      val ord = ordinals(f)
      val re = java.util.regex.Pattern.compile(s"^(?:${Pred.fixRegex(pattern)})$$")
      (ed, _, _) => {
        val s = strAt(ed, ord)
        if (s == null) NULL3 else if (re.matcher(s.toString).find()) TRUE3 else FALSE3
      }
    case TopEq(_, v) =>
      (_, eidNull, eid) =>
        if (eidNull) NULL3 else if (eid == v) TRUE3 else FALSE3
    case And(l, r) =>
      val le = compile(l); val re = compile(r)
      (ed, en, e) => {
        val a = le(ed, en, e)
        if (a == FALSE3) FALSE3
        else {
          val b = re(ed, en, e)
          if (b == FALSE3) FALSE3
          else if (a == NULL3 || b == NULL3) NULL3
          else TRUE3
        }
      }
    case Or(l, r) =>
      val le = compile(l); val re = compile(r)
      (ed, en, e) => {
        val a = le(ed, en, e)
        if (a == TRUE3) TRUE3
        else {
          val b = re(ed, en, e)
          if (b == TRUE3) TRUE3
          else if (a == NULL3 || b == NULL3) NULL3
          else FALSE3
        }
      }
    case Not(q) =>
      val qe = compile(q)
      (ed, en, e) => {
        val a = qe(ed, en, e)
        if (a == NULL3) NULL3 else if (a == TRUE3) FALSE3 else TRUE3
      }
  }

  private def strAt(ed: InternalRow, ord: Int): UTF8String =
    if (ed == null || ed.isNullAt(ord)) null else ed.getUTF8String(ord)

  // per-thread fired-id scratch (eval may run concurrently on one instance)
  @transient private lazy val evalBuf = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](preds.size)
  }

  override def eval(input: InternalRow): Any = {
    val ed = eventData.eval(input).asInstanceOf[InternalRow]
    val eidAny = eventId.eval(input)
    val eidNull = eidAny == null
    val eid = if (eidNull) 0L else eidAny.asInstanceOf[Long]
    val evs = compiled
    val buf = evalBuf.get()
    var n = 0
    var i = 0
    while (i < evs.length) {
      if (evs(i)(ed, eidNull, eid) == TRUE3) { buf(n) = i; n += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(buf, n))
  }

  // ---- codegen path -------------------------------------------------------

  /** Codegen-time cross-rule sharing state. Real rule fleets repeat
    * structure — a cloned fleet shares 25 base predicates 40× each, and
    * even hand-written corpora repeat event-gate conjuncts — and Spark's
    * whole-stage codegen exploits that with common-subexpression
    * elimination across the when/otherwise tree. Per-rule methods hide
    * the sharing from Janino, and the first draft of this expression lost
    * 2.6× per-row to the tree at 1000 cloned rules exactly there
    * (batch noop-write 28.1 s vs 11.0 s, round 13). The fix is LAZY
    * per-row memoization, which the eager CSE can't do: every predicate
    * subtree occurring more than once gets a tri-state cache slot
    * (sentinel 3 = not yet computed this row), and every referenced
    * event_data field gets a lazily-filled UTF8String slot — so repeated
    * work is paid once per row like CSE, but work short-circuited away is
    * never paid at all (corpus rules mostly die on their event_id gate). */
  private final class GenState(ctx: CodegenContext) {
    // per-INSTANCE function-name prefix: two dispatch expressions landing
    // in one generated class (e.g. two batteries in one projection) would
    // otherwise both emit graftRule0/graftSub0/... — duplicate methods,
    // Janino compile failure, silent interpreted fallback. freshName is
    // unique within the CodegenContext.
    val pfx: String = ctx.freshName("graftDispatch")
    // census: structural occurrence count of every subtree in the battery
    private val occurs = new java.util.HashMap[Pred, Integer]()
    private def census(p: Pred): Unit = {
      occurs.merge(p, 1, (a, b) => a + b)
      p match {
        case And(l, r) => census(l); census(r)
        case Or(l, r) => census(l); census(r)
        case Not(q) => census(q)
        case _ => ()
      }
    }
    preds.foreach(census)
    private def memoizable(p: Pred): Boolean = p match {
      // a cache probe costs as much as these leaves themselves
      case TopEq(_, _) | IsNull(_) => false
      case _ => occurs.get(p) != null && occurs.get(p) > 1
    }

    // slots assigned up-front so the mutable-state arrays have final sizes
    private val memoSlots: Map[Pred, Int] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[Pred, Int]
      def walk(p: Pred): Unit = {
        if (memoizable(p) && !m.contains(p)) m(p) = m.size
        p match {
          case And(l, r) => walk(l); walk(r)
          case Or(l, r) => walk(l); walk(r)
          case Not(q) => walk(q)
          case _ => ()
        }
      }
      preds.foreach(walk)
      m.toMap
    }
    private val fieldSlots: Map[String, Int] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      def walk(p: Pred): Unit = p match {
        case Eq(f, _) => m.getOrElseUpdate(f, m.size); ()
        case In(f, _) => m.getOrElseUpdate(f, m.size); ()
        case IsNull(f) => m.getOrElseUpdate(f, m.size); ()
        case Like(f, _) => m.getOrElseUpdate(f, m.size); ()
        case SimilarTo(f, _) => m.getOrElseUpdate(f, m.size); ()
        case TopEq(_, _) => ()
        case And(l, r) => walk(l); walk(r)
        case Or(l, r) => walk(l); walk(r)
        case Not(q) => walk(q)
      }
      preds.foreach(walk)
      m.toMap
    }

    val mcache: String =
      if (memoSlots.isEmpty) ""
      else ctx.addMutableState("byte[]", "graftMemo",
        v => s"$v = new byte[${memoSlots.size}];")
    private val fcache = ctx.addMutableState(
      "org.apache.spark.unsafe.types.UTF8String[]", "graftFields",
      v => s"$v = new org.apache.spark.unsafe.types.UTF8String[${math.max(1, fieldSlots.size)}];")
    val fdone: String = ctx.addMutableState("boolean[]", "graftFieldsDone",
      v => s"$v = new boolean[${math.max(1, fieldSlots.size)}];")

    /** Per-row cache reset, emitted once at the top of the dispatch. */
    def resetCode: String = {
      val m = if (memoSlots.isEmpty) ""
        else s"java.util.Arrays.fill($mcache, (byte)3);"
      s"""$m
         |java.util.Arrays.fill($fdone, false);""".stripMargin
    }

    // one accessor method per referenced field: lazily extracts + caches
    private val fieldFns: Map[String, String] = fieldSlots.map { case (f, slot) =>
      val ord = ordinals(f)
      f -> ctx.addNewFunction(s"${pfx}Fld$slot",
        s"""private org.apache.spark.unsafe.types.UTF8String ${pfx}Fld$slot(
           |    ${classOf[InternalRow].getName} ed, boolean edNull) {
           |  if (!$fdone[$slot]) {
           |    $fcache[$slot] = (edNull || ed.isNullAt($ord)) ? null : ed.getUTF8String($ord);
           |    $fdone[$slot] = true;
           |  }
           |  return $fcache[$slot];
           |}""".stripMargin)
    }
    def field(f: String): String = s"${fieldFns(f)}(ed, edNull)"

    private val memoFns = scala.collection.mutable.HashMap.empty[Pred, String]

    /** Tri-state code for `p`: memoized subtrees become a cached-method
      * call; everything else inlines. Returns (statements, result var). */
    def gen(p: Pred): (String, String) =
      memoSlots.get(p) match {
        case Some(slot) =>
          val fn = memoFns.getOrElseUpdate(p, {
            val (code, v) = genInner(p)
            ctx.addNewFunction(s"${pfx}Sub$slot",
              s"""private byte ${pfx}Sub$slot(${classOf[InternalRow].getName} ed,
                 |    boolean edNull, long eid, boolean eidNull) {
                 |  if ($mcache[$slot] == (byte)3) {
                 |    $code
                 |    $mcache[$slot] = $v;
                 |  }
                 |  return $mcache[$slot];
                 |}""".stripMargin)
          })
          val r = ctx.freshName("p")
          (s"byte $r = $fn(ed, edNull, eid, eidNull);", r)
        case None => genInner(p)
      }

    private def genInner(p: Pred): (String, String) = {
      val r = ctx.freshName("p")
      def strLeaf(f: String, test: String => String): (String, String) = {
        val s = ctx.freshName("s")
        val code =
          s"""byte $r;
             |{
             |  org.apache.spark.unsafe.types.UTF8String $s = ${field(f)};
             |  if ($s == null) { $r = (byte)2; }
             |  else { $r = ${test(s)} ? (byte)1 : (byte)0; }
             |}""".stripMargin
        (code, r)
      }
      def utf8Ref(v: String): String = ctx.addReferenceObj("ruleLit",
        UTF8String.fromString(v), "org.apache.spark.unsafe.types.UTF8String")
      def patternRef(regex: String): String = ctx.addReferenceObj("rulePat",
        java.util.regex.Pattern.compile(regex), "java.util.regex.Pattern")

      p match {
        case Eq(f, v) => strLeaf(f, s => s"$s.equals(${utf8Ref(v)})")
        case In(f, vs) =>
          val set = new java.util.HashSet[UTF8String](vs.size * 2)
          vs.foreach(v => set.add(UTF8String.fromString(v)))
          val ref = ctx.addReferenceObj("ruleSet", set, "java.util.HashSet")
          strLeaf(f, s => s"$ref.contains($s)")
        case IsNull(f) =>
          (s"byte $r = (${field(f)} == null) ? (byte)1 : (byte)0;", r)
        case Like(f, pattern) =>
          import Pred._
          parseLike(pattern) match {
            case List(Lit(s0)) => strLeaf(f, s => s"$s.equals(${utf8Ref(s0)})")
            case List(AnyN) => strLeaf(f, _ => "true")
            case List(AnyN, Lit(s0)) => strLeaf(f, s => s"$s.endsWith(${utf8Ref(s0)})")
            case List(Lit(s0), AnyN) => strLeaf(f, s => s"$s.startsWith(${utf8Ref(s0)})")
            case List(AnyN, Lit(s0), AnyN) => strLeaf(f, s => s"$s.contains(${utf8Ref(s0)})")
            case _ =>
              val ref = patternRef(likeToRegex(pattern))
              strLeaf(f, s => s"$ref.matcher($s.toString()).find()")
          }
        case SimilarTo(f, pattern) =>
          val ref = patternRef(s"^(?:${Pred.fixRegex(pattern)})$$")
          strLeaf(f, s => s"$ref.matcher($s.toString()).find()")
        case TopEq(_, v) =>
          (s"byte $r = eidNull ? (byte)2 : ((eid == ${v}L) ? (byte)1 : (byte)0);", r)
        case And(l, r2) =>
          val (lc, lv) = gen(l)
          val (rc, rv) = gen(r2)
          val code =
            s"""byte $r;
               |{
               |  $lc
               |  if ($lv == (byte)0) { $r = (byte)0; }
               |  else {
               |    $rc
               |    if ($rv == (byte)0) { $r = (byte)0; }
               |    else if ($lv == (byte)2 || $rv == (byte)2) { $r = (byte)2; }
               |    else { $r = (byte)1; }
               |  }
               |}""".stripMargin
          (code, r)
        case Or(l, r2) =>
          val (lc, lv) = gen(l)
          val (rc, rv) = gen(r2)
          val code =
            s"""byte $r;
               |{
               |  $lc
               |  if ($lv == (byte)1) { $r = (byte)1; }
               |  else {
               |    $rc
               |    if ($rv == (byte)1) { $r = (byte)1; }
               |    else if ($lv == (byte)2 || $rv == (byte)2) { $r = (byte)2; }
               |    else { $r = (byte)0; }
               |  }
               |}""".stripMargin
          (code, r)
        case Not(q) =>
          val (qc, qv) = gen(q)
          val code =
            s"""byte $r;
               |{
               |  $qc
               |  $r = ($qv == (byte)2) ? (byte)2 : (($qv == (byte)1) ? (byte)0 : (byte)1);
               |}""".stripMargin
          (code, r)
      }
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val row = classOf[InternalRow].getName
    val st = new GenState(ctx)
    // one tiny method per rule: JIT-able at any battery size
    val ruleFns = preds.zipWithIndex.map { case (p, i) =>
      val (code, v) = st.gen(p)
      ctx.addNewFunction(s"${st.pfx}Rule$i",
        s"""private byte ${st.pfx}Rule$i($row ed, boolean edNull, long eid, boolean eidNull) {
           |  $code
           |  return $v;
           |}""".stripMargin)
    }
    // blocks of BlockSize call sites keep every enclosing method small
    val blockFns = ruleFns.zipWithIndex.grouped(BlockSize).map { grp =>
      val body = grp.map { case (fn, i) =>
        s"if ($fn(ed, edNull, eid, eidNull) == (byte)1) { acc[n++] = $i; }"
      }.mkString("\n  ")
      ctx.addNewFunction(s"${st.pfx}Block${grp.head._2 / BlockSize}",
        s"""private int ${st.pfx}Block${grp.head._2 / BlockSize}(
           |    $row ed, boolean edNull, long eid, boolean eidNull, int[] acc, int n) {
           |  $body
           |  return n;
           |}""".stripMargin)
    }.toSeq
    val buf = ctx.addMutableState("int[]", "graftRuleBuf",
      v => s"$v = new int[${preds.size}];")
    val edGen = eventData.genCode(ctx)
    val eidGen = eventId.genCode(ctx)
    val n = ctx.freshName("nFired")
    val calls = blockFns.map(fn =>
      s"$n = $fn(${edGen.value}, ${edGen.isNull}, ${eidGen.value}, ${eidGen.isNull}, $buf, $n);")
      .mkString("\n")
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val reset = st.resetCode
    ev.copy(
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral,
      code =
        code"""
          ${edGen.code}
          ${eidGen.code}
          $reset
          int $n = 0;
          $calls
          org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
            org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
              .fromPrimitiveArray(java.util.Arrays.copyOf($buf, $n));
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

  /** Rules per generated block method. 64 call sites ≈ 2 KB of bytecode —
    * comfortably under the 8000-byte JIT ceiling with margin for the
    * per-call argument shuffling. */
  private[graft] val BlockSize = 64
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
