package graft

import org.apache.spark.sql.functions.{col, posexplode}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityOps

/** The two-level (hierarchical) coarse assignment that q129's
  * deployment form and q140 build through [[SimilarityOps.hierCellAssign]],
  * on sf0.1's 2,000 vectors at k = 128:
  *
  *  - at full routing width (w ≥ g) it must reproduce the flat
  *    assignment (learned centroids scored through
  *    `nearestCellIdsStatic`) row for row — the approximation of the
  *    default width is the width, nothing else;
  *  - at the default width its ids and ranks stay in range.
  */
class CoarseAssignSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.1"
  private val k = SimilarityOps.PairCells
  private val np = SimilarityOps.PairNprobeAsym

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "crn", "c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq

  test("hierarchical tier at full routing width (w >= g) reproduces " +
      "the flat computation row for row — the approximation is the " +
      "width, nothing else") {
    // with every super group scanned, the two-level argmax and the
    // Lloyd means it trains must be IDENTICAL to the flat computation;
    // this pins that the g/2 default's recall loss comes from routing
    // width alone, not from a defect in the two-level machinery
    val cents = SimilarityOps.learnedCentroids(spark, sf, 0, k)
      .orderBy(col("c_id")).collect()
    val ids = cents.map(_.getLong(0))
    val nrs = cents.map(_.getDouble(2))
    val flatCents = cents.flatMap(_.getSeq[Double](1))
    val flat = rows(SimilarityOps.embVecs(spark, sf)
      .select(col("vec_id"),
        posexplode(graft.functions.VectorFunctions.nearestCellIdsStatic(
          col("embedding"), col("nr"), ids, flatCents, nrs, np)))
      .withColumnRenamed("pos", "crn")
      .withColumnRenamed("col", "c_id"))
    val wide = rows(SimilarityOps.hierCellAssign(spark, sf, 0, k, np,
      wOverride = k))
    assert(wide == flat,
      s"wide-hier=${wide.size} rows, flat=${flat.size} rows; first diffs: " +
        s"${wide.diff(flat).take(3)} / ${flat.diff(wide).take(3)}")
    assert(wide.nonEmpty)
  }

  test("hierarchical assignment at default routing width: ids and " +
      "ranks in range") {
    val asn = rows(SimilarityOps.hierCellAssign(spark, sf, 0, k, np))
    assert(asn.nonEmpty)
    asn.foreach { case (v, crn, cid) =>
      assert(crn >= 0 && crn < np, s"vec $v: crn $crn out of range")
      assert(cid >= 0 && cid < k, s"vec $v: c_id $cid outside quantizer 0")
    }
  }
}
