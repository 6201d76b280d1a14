package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** q134's incremental cluster semantics on a hand-built corpus where
  * every outcome is computable by eye:
  *   - two REAL base clusters (identical-text pairs) bridged by one
  *     delta document that is ≥ 0.5-Jaccard to each side while the
  *     sides stay below threshold with each other → ONE merged cluster
  *     with n_base_clusters_merged = 2;
  *   - a base cluster the ingest never touches → merged = 1, new = 0;
  *   - a previously-singleton base doc joined by a delta duplicate →
  *     merged = 0 (it was never a base CLUSTER), new = 1.
  * Plus partition agreement with q49's from-scratch relabel on both the
  * hand corpus and the real fixture (seeding can only speed
  * convergence, never change the fixed point at diameter ≤ 3).
  */
class IncrementalClusterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def fixture(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = SessionCache.scratchDir("graft_incr_cluster").toString
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("bridge merge, untouched cluster, and singleton growth on a " +
      "hand-built corpus") {
    // the token universe is a free choice; "a" lands LSH band hits for
    // both bridge edges with these fixed minhash seeds (a banded scheme
    // at jac 0.66-0.76 has per-universe deterministic misses — the
    // guard assertion below keeps the fixture honest if seeds change)
    val w = (1 to 60).map(i => s"a$i")
    val cA = w.take(40).mkString(" ")        // tokens t1..t40 (39 shingles)
    val cB = w.drop(14).mkString(" ")        // tokens t15..t60 (45 shingles)
    // t1..t60: jac 39/59 = 0.66 to A, 45/59 = 0.76 to B, while
    // jac(A, B) = 25/59 = 0.42 stays below the 0.5 pair threshold
    val bridge = w.mkString(" ")
    val dir = fixture(Seq(
      1L -> cA, 2L -> cA,                    // base cluster A
      4L -> cB, 5L -> cB,                    // base cluster B
      7L -> "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10",
      8L -> "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10", // untouched base cluster
      9L -> "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10", // singleton base doc
      14L -> bridge,                          // delta (14 % 11 == 3)
      25L -> "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10")) // delta dup of 9
    // guard: the intended edge set materialized (LSH bands hit)
    val pairs = TextOps.verifiedPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs((1L, 14L)) && pairs((4L, 14L)),
      s"bridge edges missing from the verified pair set: $pairs")
    assert(!pairs((1L, 4L)) && !pairs((2L, 5L)),
      s"cluster A and B must stay below the 0.5 threshold: $pairs")
    val out = SparkEntry.queries("q134_incremental_clusters")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // merged cluster {1,2,4,5,14}: 5 docs, 1 new, 2 base clusters merged
    assert(out(1L) == ((5L, 1L, 2L, 1L)), s"bridge cluster wrong: $out")
    // untouched cluster {7,8}
    assert(out(7L) == ((2L, 0L, 1L, 7L)), s"untouched cluster wrong: $out")
    // singleton 9 + delta 25: no prior base CLUSTER to merge
    assert(out(9L) == ((2L, 1L, 0L, 9L)), s"growth cluster wrong: $out")
    assert(out.size == 3)
  }

  test("seeded update agrees with q49's from-scratch partition on the " +
      "real fixture") {
    val sf = "/root/testdata/sf0.01"
    val inc = SparkEntry.queries("q134_incremental_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    val scratch = SparkEntry.queries("q49_dedup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc.nonEmpty && inc == scratch,
      "seeding changed the fixed point (components must agree at " +
        s"diameter <= 3):\ninc=$inc\nscratch=$scratch")
  }
}
