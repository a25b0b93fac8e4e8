package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property tests for the native bounded-state top-k aggregate
  * (`TopKBuffer` / `TopKIdsExpr`, behind `topkN_ids` and `topk3_scored`):
  * any way of splitting the input across partial buffers — each side
  * serialised and deserialised like a real partial merge — must produce
  * exactly the top-k under (score DESC, id ASC). This is the algebraic
  * property that makes map-side combine safe. Seeded random cases
  * (deterministic across runs) stand in for ScalaCheck, which isn't on
  * the offline classpath.
  */
class TopKIdsExprSpec extends AnyFunSuite {
  private val ks = Seq(3, 8)

  /** (score, id) candidates; small id/score domains force ties,
    * exercising the id tie-break. */
  private def cases(seed: Int): Seq[List[(Double, Long)]] = {
    val rnd = new Random(seed)
    (0 until 200).map { _ =>
      List.fill(rnd.nextInt(40))(((rnd.nextInt(9) - 4) / 4.0, rnd.nextInt(12).toLong))
    }
  }

  private def expected(xs: List[(Double, Long)], k: Int): Seq[(Double, Long)] =
    xs.sortBy { case (s, id) => (-s, id) }.take(k)

  private def agg(k: Int) = TopKIdsExpr(null, null, k, withScores = true)

  private def fill(k: Int, xs: List[(Double, Long)]): TopKBuffer = {
    val buf = agg(k).createAggregationBuffer()
    xs.foreach { case (s, id) => buf.insert(s, id) }
    buf
  }

  private def contents(b: TopKBuffer): Seq[(Double, Long)] =
    b.scores.take(b.n).toSeq.zip(b.ids.take(b.n).toSeq)

  test("sequential insert yields the exact top-k") {
    for (k <- ks; xs <- cases(1))
      assert(contents(fill(k, xs)) == expected(xs, k), (k, xs))
  }

  test("any split, serialised and merged, yields the one-pass top-k") {
    for (k <- ks; xs <- cases(2)) {
      val e = agg(k)
      val rnd = new Random(xs.hashCode ^ k)
      val cut = if (xs.isEmpty) 0 else rnd.nextInt(xs.length + 1)
      val (a, b) = xs.splitAt(cut)
      def roundTrip(part: List[(Double, Long)]) = e.deserialize(e.serialize(fill(k, part)))
      val merged = e.merge(roundTrip(a), roundTrip(b))
      assert(contents(merged) == expected(xs, k), (k, xs, cut))
    }
  }

  test("every cut merges a raw and a deserialised half to the top-k") {
    for (k <- ks; xs <- cases(4); cut <- 0 to xs.length) {
      val e = agg(k)
      val (a, b) = xs.splitAt(cut)
      val want = expected(xs, k)
      def revived(part: List[(Double, Long)]) = e.deserialize(e.serialize(fill(k, part)))
      assert(contents(e.merge(fill(k, a), revived(b))) == want, (k, xs, cut))
      assert(contents(e.merge(revived(a), fill(k, b))) == want, (k, xs, cut))
    }
  }

  test("the buffer never holds more than k entries") {
    for (k <- ks; xs <- cases(3)) {
      val buf = agg(k).createAggregationBuffer()
      xs.foreach { case (s, id) =>
        buf.insert(s, id)
        assert(buf.n <= k, (k, xs))
      }
    }
  }
}
