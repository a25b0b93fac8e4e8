package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mutable bounded top-k buffer: parallel primitive arrays kept sorted
  * best-first by (score DESC, id ASC). */
final class TopKBuffer(val k: Int) {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  /** true iff (s, id) orders strictly before (scores(i), ids(i)). */
  @inline def before(s: Double, id: Long, i: Int): Boolean =
    s > scores(i) || (s == scores(i) && id < ids(i))

  def insert(s: Double, id: Long): Unit = {
    if (n >= k && !before(s, id, n - 1)) return
    var lo = 0; var hi = n
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (before(s, id, mid)) hi = mid else lo = mid + 1
    }
    val last = math.min(n, k - 1)
    var j = last
    while (j > lo) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
    scores(lo) = s; ids(lo) = id
    if (n < k) n += 1
  }
}

/** Distributed bounded top-k as a NATIVE Catalyst aggregate: (score
  * DESC, id ASC) ordering and k-item state. It replaced (r18) a typed
  * `Aggregator` udaf with the same ordering and state, dropping two
  * per-input-row costs the udaf wrapper carried: the Catalyst→Scala
  * encoder conversion of every candidate row (the MinKCollectExpr lesson
  * — ~10% of a hot aggregation's throughput) and the immutable
  * `(in +: items).sorted` Seq rebuild per accepted row.
  * The buffer is two primitive arrays maintained sorted best-first; a row
  * that cannot enter a full buffer is rejected with one comparison.
  *
  * Output keeps the udaf's shape, so consumers did not change:
  * struct<ids: array<bigint>> (`withScores = false`, topkN_ids) or
  * struct<ids: array<bigint>, scores: array<double>> (`withScores = true`,
  * topk3_scored). Null score or id never occurs in the callers (scores are
  * rounded arithmetic over non-null columns); such rows are skipped.
  * TopKIdsExprSpec pins the exact top-k under any split, serialise and
  * merge, and the k-entry state bound.
  */
case class TopKIdsExpr(score: Expression, id: Expression, k: Int,
    withScores: Boolean,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with BinaryLike[Expression]
  with ImplicitCastInputTypes {
  require(k > 0, s"topk needs k > 0, got $k")

  override def left: Expression = score
  override def right: Expression = id
  // the replaced udaf got encoder-driven coercion (an int score without a
  // CAST worked); without declared input types a wrong-typed argument
  // passed analysis and ClassCastException'd at execution (ADVICE r18)
  // (Seq[DataType] — the declared Seq[AbstractDataType] supertype is
  // private[sql]; covariant override)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def prettyName: String =
    if (withScores) s"topk${k}_scored" else s"topk${k}_ids"
  override def nullable: Boolean = false
  override def dataType: DataType =
    if (withScores)
      StructType(Seq(
        StructField("ids", ArrayType(LongType, containsNull = false), nullable = false),
        StructField("scores", ArrayType(DoubleType, containsNull = false), nullable = false)))
    else
      StructType(Seq(
        StructField("ids", ArrayType(LongType, containsNull = false), nullable = false)))

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      b.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.n) { b.insert(other.scores(i), other.ids(i)); i += 1 }
    b
  }

  override def eval(b: TopKBuffer): Any = {
    val ids = new GenericArrayData(java.util.Arrays.copyOf(b.ids, b.n))
    if (withScores)
      InternalRow(ids, new GenericArrayData(java.util.Arrays.copyOf(b.scores, b.n)))
    else InternalRow(ids)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(4 + b.n * 16)
    buf.putInt(b.n)
    var i = 0
    while (i < b.n) { buf.putDouble(b.scores(i)); buf.putLong(b.ids(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val b = new TopKBuffer(k)
    // already sorted best-first: bulk-restore preserves order
    var i = 0
    while (i < n) { b.scores(i) = buf.getDouble; b.ids(i) = buf.getLong; i += 1 }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKIdsExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKIdsExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKIdsExpr =
    copy(score = newLeft, id = newRight)
}
