package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r11 pair kernels: the packed 8-byte pair key (`pair_longs`) and the
  * canonical co-posting pair generator (`posting_pairs`).
  *
  * pair_longs must be a bijective respelling of pair_structs whenever
  * its u32 precondition holds — unpacking (shiftrightunsigned / mask)
  * must reproduce the exact (ia, ib) set, including ids above 2^31
  * (where a SIGNED shift would sign-extend garbage). Out-of-range
  * elements must fail loudly, never silently merge distinct pairs.
  *
  * posting_pairs must emit exactly the a<b pairs the double-explode
  * idiom emits, with the same tf product and norm columns.
  */
class PairKernelSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = Sessions.build("graft-test", "4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def mkSets(entities: Int, itemsPer: Int, vocab: Int,
      offset: Long = 0L) = {
    import spark.implicits._
    (0 until entities).map { e =>
      val items = (0 until vocab)
        .filter(i => ((e * 2654435761L + i * 40503L) % 97) < itemsPer)
        .map(i => offset + i.toLong)
      (e.toLong, items)
    }.toDF("u", "items").where(size(col("items")) > 1)
  }

  private def viaStructs(sets: org.apache.spark.sql.DataFrame, min: Int) =
    operators.Recommend.pairCounts(sets, min)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def viaPacked(sets: org.apache.spark.sql.DataFrame, min: Int) =
    operators.Recommend.pairCounts(sets, min, packU32 = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("packed pair counts equal struct pair counts, small ids") {
    val sets = mkSets(entities = 300, itemsPer = 12, vocab = 80)
    for (min <- Seq(1, 2, 4)) {
      assert(viaPacked(sets, min) == viaStructs(sets, min), s"min=$min")
    }
  }

  test("packed pair counts equal struct pair counts near the u32 ceiling") {
    // ids in [2^32 - 100, 2^32): above 2^31, so the unpack must use the
    // UNSIGNED shift; still within the pack precondition
    val sets = mkSets(entities = 120, itemsPer = 10, vocab = 60,
      offset = (1L << 32) - 100)
    val direct = viaStructs(sets, 2)
    assert(direct.nonEmpty, "fixture must produce thresholded pairs")
    assert(direct.keys.exists(_._1 > Int.MaxValue.toLong),
      "fixture must exercise ids above 2^31")
    assert(viaPacked(sets, 2) == direct)
  }

  test("pair_longs fails loudly past the u32 precondition") {
    import spark.implicits._
    val bad = Seq((1L, Seq(1L, 1L << 32))).toDF("u", "items")
    val e = intercept[Exception] {
      bad.select(explode(call_function("pair_longs", col("items")))).collect()
    }
    assert(e.getMessage != null)
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t =>
      t.getMessage != null && t.getMessage.contains("exceeds unsigned 32 bits")))
  }

  test("posting_pairs equals the double-explode idiom") {
    import spark.implicits._
    // posting lists with duplicate tf/n2 values and unordered doc ids
    val ps = Seq(
      Seq((5L, 2L, 29L), (1L, 3L, 14L), (9L, 2L, 50L), (3L, 1L, 10L)),
      Seq((7L, 4L, 65L), (2L, 4L, 20L)),
      Seq((11L, 1L, 2L)),
      Seq.empty[(Long, Long, Long)],
    ).toDF("raw")
      .select(expr(
        "transform(raw, r -> named_struct('doc_id', r._1, 'tf', r._2, 'n2', r._3))")
        .as("ps"))
    val viaKernel = ps
      .select(explode(call_function("posting_pairs", col("ps"))).as("pr"))
      .select(col("pr.doc_a"), col("pr.doc_b"), col("pr.p"),
        col("pr.na2"), col("pr.nb2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val viaExplode = ps
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (col("a.tf") * col("b.tf")).as("p"), col("a.n2"), col("b.n2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(viaKernel == viaExplode)
    assert(viaKernel.size == 4 * 3 / 2 + 1) // C(4,2) + C(2,2)
  }

  test("posting_pairs rejects a posting struct whose fields are reordered") {
    import spark.implicits._
    // same three BIGINTs, tf first: read positionally it would swap
    // doc ids and term frequencies, so analysis must refuse it
    val ps = Seq(Seq((5L, 2L, 29L), (1L, 3L, 14L))).toDF("raw")
      .select(expr(
        "transform(raw, r -> named_struct('tf', r._2, 'doc_id', r._1, 'n2', r._3))")
        .as("ps"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      ps.select(explode(call_function("posting_pairs", col("ps")))).collect()
    }
    assert(e.getMessage.contains("posting_pairs expects"), e.getMessage)
  }

  test("itemIdsPackU32 proves the bound from footers and routes correctly") {
    // the bench fixtures' partkeys fit u32; the 10× full-referential
    // replica offsets them past 2^32 — both routes are exercised by
    // the dev sweeps; here: the footer path agrees with a direct max
    val dir = "/root/testdata/sf0.001"
    val packable = operators.Recommend.itemIdsPackU32(spark, dir)
    val mx = Tables.lineitem(spark, dir).agg(max(col("l_partkey"))).head.getLong(0)
    assert(packable == (mx <= 0xFFFFFFFFL))
    assert(packable, "sf0.001 partkeys fit u32")
  }
}
