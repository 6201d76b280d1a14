package graft

import org.scalatest.funsuite.AnyFunSuite

/** q128's keep-first substring-removal semantics on a hand-built corpus
  * where every outcome is computable by eye, plus conservation
  * invariants on the real fixture.
  */
class SubstringDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  /** Writes a documents.parquet with the given (doc_id, text) rows and
    * returns the directory (the query fn reads `$dir/documents.parquet`). */
  private def fixture(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = SessionCache.scratchDir("graft_ssd_fixture").toString
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("keep-first removal: exact duplicate empties, canonical doc " +
      "round-trips, partial 8-token overlap removes exactly the span, " +
      "short docs are untouched") {
    val dir = fixture(Seq(
      1L -> "a b c d e f g h i j k l", // canonical for every shared window
      2L -> "a b c d e f g h i j k l", // exact duplicate of doc 1
      3L -> "x y z", // < 8 tokens: no windows
      4L -> "p q r s a b c d e f g h t u")) // shares doc 1's window at pos 0
    val out = SparkEntry.queries("q128_substring_dedup_apply")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc 1 holds the lexicographic-min occurrence of every duplicated
    // hash, so it loses nothing
    assert(out(1L) == (("a b c d e f g h i j k l", 12L, 0L)))
    // doc 2: every position is covered by some non-canonical duplicated
    // window -> fully removed
    assert(out(2L) == (("", 0L, 12L)))
    // doc 3: no windows exist, text survives verbatim
    assert(out(3L) == (("x y z", 3L, 0L)))
    // doc 4: only its pos-4 window ("a b c d e f g h") is duplicated and
    // non-canonical (doc 1 pos 0 wins keep-first), so exactly tokens
    // 4..11 go
    assert(out(4L) == (("p q r s t u", 6L, 8L)))
  }

  test("within-doc repeats of a cross-doc-duplicated window are removed " +
      "too (only the single canonical occurrence survives)") {
    // doc 5 contains the shared 8-gram twice; doc 5's FIRST occurrence
    // is canonical (doc 5 < doc 6), the second occurrence and doc 6's
    // are both removed
    val dir = fixture(Seq(
      5L -> "a b c d e f g h z a b c d e f g h",
      6L -> "w a b c d e f g h"))
    val out = SparkEntry.queries("q128_substring_dedup_apply")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc 5: positions 9..16 (second occurrence) removed; 0..8 kept.
    // the 'z' at pos 8 is covered only by non-duplicated windows
    // (straddling windows like "f g h z a b c d" occur once globally)
    assert(out(5L) == (("a b c d e f g h z", 9L, 8L)))
    assert(out(6L) == (("w", 1L, 8L)))
  }

  test("conservation + round-trip invariants on the sf0.001 corpus") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q128_substring_dedup_apply")(spark, sf)
      .collect()
    assert(rows.length == 500)
    val docs = graft.sources.Tables.documents(spark, sf)
      .selectExpr("doc_id", "trim(text) AS t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (id, clean, kept, removed) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
      val n = docs(id).split(" ", -1).length.toLong
      assert(kept + removed == n, s"doc $id: $kept + $removed != $n tokens")
      assert(removed >= 0 && kept >= 0)
      // untouched docs round-trip verbatim (single-space corpus)
      if (removed == 0) assert(clean == docs(id), s"doc $id mutated")
      else assert(clean.length < docs(id).length)
    }
    // the fixture must actually exercise removal
    assert(rows.count(_.getLong(3) > 0) > 0, "no removals in fixture")
  }
}
