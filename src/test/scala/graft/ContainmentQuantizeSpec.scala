package graft

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** q55 (asymmetric containment pairs) against a driver-side brute force
  * over the same capped shingle sets, and q56 (int8 quantization)
  * against its mathematical invariants.
  */
class ContainmentQuantizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.001"

  test("q55 containment pairs match a driver-side brute force exactly " +
      "(same capped shingle sets, all pairs, threshold 0.8)") {
    // the same front-end the query uses; brute-forcing the PAIR logic
    // is the point — 50 docs at sf0.001 is driver-trivial
    val sets: Map[Long, Set[String]] = TextOps.shingleIndexPlan(spark, sf)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rows) => id -> rows.map(_.getAs[String]("tok")).toSet }
    val ids = sets.keys.toSeq.sorted
    val expected: Map[(Long, Long), Double] = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      d1 = ids(i); d2 = ids(j)
      inter = (sets(d1) & sets(d2)).size
      c = inter.toDouble / math.min(sets(d1).size, sets(d2).size)
      if c >= 0.8
    } yield (d1, d2) ->
      BigDecimal(c).setScale(6, RoundingMode.HALF_UP).toDouble).toMap

    val got: Map[(Long, Long), Double] =
      SparkEntry.queries("q55_containment")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    assert(got == expected,
      s"missing=${(expected.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expected.keySet).take(5)}")
    assert(expected.nonEmpty, "degenerate fixture: no containment pairs")
  }

  test("q27/q55 path gate: the prefix-filter plan and the count-shuffle " +
      "plan produce identical relations (both orders of the gate)") {
    // at fixture scale the gate picks the count path; force BOTH paths
    // and compare row-for-row, so the above-knee plan stays verified at
    // every sf even though only the sf1 sweep selects it naturally
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val sf001 = "/root/testdata/sf0.001"
    assert(rows(graft.operators.TextOps.jaccardPrefixPath(spark, sf001)) ==
      rows(graft.operators.TextOps.jaccardCountPath(spark, sf001)))
    assert(rows(graft.operators.TextOps.containmentPrefixPath(spark, sf001)) ==
      rows(graft.operators.TextOps.containmentCountPath(spark, sf001)))
    assert(graft.operators.TextOps.pairVolume(spark, sf001) > 0)
  }

  test("q55 reports size-mismatched pairs that symmetric Jaccard scores " +
      "strictly lower (containment > jaccard whenever |A| != |B|)") {
    val sizes: Map[Long, Int] = TextOps.shingleIndexPlan(spark, sf)
      .collect().groupBy(_.getAs[Long]("doc_id")).map { case (id, r) => id -> r.length }
    val rows = SparkEntry.queries("q55_containment")(spark, sf).collect()
    rows.foreach { r =>
      val (d1, d2, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (n1, n2) = (sizes(d1), sizes(d2))
      val lo = math.min(n1, n2).toDouble
      // jac = inter / (n1 + n2 - inter) <= inter / max >= relation:
      // containment uses min in the denominator, so it weakly dominates
      val inter = c * lo // recover |A∩B| (pre-rounding, tolerance below)
      val jac = inter / (n1 + n2 - inter)
      assert(c >= jac - 1e-9, s"pair ($d1,$d2): containment $c < jaccard $jac")
    }
  }

  test("q56 int8 quantization invariants: range, peak saturation, " +
      "round-trip error bound, zero-vector guard") {
    val rows: Array[Row] =
      SparkEntry.queries("q56_quantize_int8")(spark, sf).collect()
    assert(rows.nonEmpty)
    val emb: Map[Long, Seq[Float]] = graft.sources.Tables.embeddings(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val mx = r.getDouble(1)
      val qv = r.getString(2).split(',').toSeq.filter(_.nonEmpty).map(_.toInt)
      val v = emb(id)
      assert(qv.length == v.length)
      if (mx == 0.0) {
        assert(qv.forall(_ == 0), s"vec $id: zero vector must quantize to zeros")
      } else {
        assert(qv.forall(q => q >= -127 && q <= 127),
          s"vec $id: quantized value outside [-127, 127]")
        assert(qv.map(math.abs).max == 127,
          s"vec $id: peak element must saturate to ±127")
        val scale = 127.0 / mx
        v.zip(qv).foreach { case (x, q) =>
          val err = math.abs(q / scale - x.toDouble)
          assert(err <= 0.5 / scale + 1e-12,
            s"vec $id: round-trip error $err exceeds half-step ${0.5 / scale}")
        }
      }
    }
  }
}
