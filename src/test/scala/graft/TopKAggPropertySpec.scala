package graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKPairsAgg

/** Merge-order invariance of the bounded-heap top-k aggregate: any
  * partitioning of the input into partial buffers, merged in any
  * order, must produce exactly sort-take-k — the property that makes
  * the aggregate safe under Spark's nondeterministic partial
  * aggregation and AQE-coalesced merges. Deterministic pseudo-random
  * trials (seeded LCG — reproducible; scores draw from a
  * small pool so TIES are common and the id tie-break path is the one
  * hammered).
  */
class TopKAggPropertySpec extends AnyFunSuite {

  private val k = 5
  private def agg = TopKPairsAgg(
    BoundReference(0, DoubleType, nullable = true),
    BoundReference(1, LongType, nullable = true), k)

  private def reference(rows: Seq[(Double, Long)]): List[(Double, Long)] =
    rows.toList.sortWith((a, b) =>
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(k)

  private def evalPairs(a: TopKPairsAgg,
      buf: mutable.ArrayBuffer[(Double, Long)]): List[(Double, Long)] =
    a.eval(buf).asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
      .array.toList.map { r =>
        val row = r.asInstanceOf[InternalRow]
        (row.getDouble(0), row.getLong(1))
      }

  test("any partitioning + merge order yields exactly sort-take-k (200 trials)") {
    var s = 42L
    def next(mod: Int): Int = { s = s * 6364136223846793005L + 1442695040888963407L
      (math.abs(s >>> 17) % mod).toInt }
    for (trial <- 1 to 200) {
      val n = next(61)
      val rows = (0 until n).map(i => (next(10).toDouble, i.toLong))
      val a = agg
      // random cut points partition the rows into up to 4 partials
      val cuts = (List(0, n) ++ (1 to 3).map(_ => next(n + 1))).distinct.sorted
      val partials = cuts.zip(cuts.tail).map { case (lo, hi) =>
        val b = a.createAggregationBuffer()
        rows.slice(lo, hi).foreach { case (sc, id) =>
          a.update(b, InternalRow(sc, id)) }
        b
      }
      // merge right-to-left — a different order than generation
      val merged = partials.reverse.reduceOption((x, y) => a.merge(x, y))
        .getOrElse(a.createAggregationBuffer())
      assert(evalPairs(a, merged) == reference(rows), s"trial $trial n=$n")
    }
  }

  test("serialize/deserialize round-trips through the exchange format") {
    val a = agg
    val b = a.createAggregationBuffer()
    Seq((3.0, 1L), (3.0, 0L), (7.5, 2L), (0.0, 3L), (7.5, 9L), (1.0, 4L))
      .foreach { case (sc, id) => a.update(b, InternalRow(sc, id)) }
    val back = a.deserialize(a.serialize(b))
    assert(evalPairs(a, back) == evalPairs(a, b))
    assert(evalPairs(a, back) ==
      List((7.5, 2L), (7.5, 9L), (3.0, 0L), (3.0, 1L), (1.0, 4L)))
  }

  test("NaN ranks above every finite score, matching Spark's DESC window order") {
    val a = agg
    val b = a.createAggregationBuffer()
    // fill to capacity with finite scores first, THEN offer NaN: it
    // must displace the worst element (raw < comparisons would make it
    // un-insertable — every NaN compare is false)
    Seq((1.0, 1L), (2.0, 2L), (3.0, 3L), (4.0, 4L), (5.0, 5L))
      .foreach { case (sc, id) => a.update(b, InternalRow(sc, id)) }
    a.update(b, InternalRow(Double.NaN, 6L))
    val got = evalPairs(a, b)
    assert(got.head._2 == 6L && got.head._1.isNaN,
      s"NaN must rank first: $got")
    assert(got.map(_._2) == List(6L, 5L, 4L, 3L, 2L))
  }

  test("null scores and ids are skipped, not crashed on") {
    val a = agg
    val b = a.createAggregationBuffer()
    a.update(b, InternalRow(null, 1L))
    a.update(b, InternalRow(2.0, null))
    a.update(b, InternalRow(3.0, 7L))
    assert(evalPairs(a, b) == List((3.0, 7L)))
  }
}
