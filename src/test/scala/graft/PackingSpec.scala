package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** q58's two-level prefix-sum packing against the naive
  * single-window-per-source form (the literal shape of the DuckDB
  * oracle): long sums are exact and associative, so blocking must be
  * bit-identical at EVERY block size — including sizes that split the
  * fixture into many partial blocks and a size larger than the corpus
  * (single block = degenerate case where loc_off carries everything).
  */
class PackingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("blocked packing equals the naive per-source window at block " +
      "sizes 1, 7, 128, and corpus-sized") {
    val naive = rows(TextOps.packSequencesNaive(spark, sf))
    assert(naive.nonEmpty, "degenerate fixture: no packed sequences")
    for (b <- Seq(1L, 7L, TextOps.PackBlockDocs, 1000000L)) {
      val blocked = rows(TextOps.packSequencesPlan(spark, sf, b))
      assert(blocked == naive, s"blocked packing diverges at blockDocs=$b")
    }
  }

  test("registered q58 runs the blocked plan and every bin respects the " +
      "packing invariant (bins overflow by less than one document)") {
    val out = SparkEntry.queries("q58_pack_sequences")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nDocs, seqTokens) = (r.getLong(2), r.getLong(3))
      assert(nDocs >= 1)
      // a bin's exclusive start offset is < (seq_id+1)*256, so its
      // total can exceed 256 only by the tokens of its last document —
      // equivalently, dropping any one document leaves < 256 span.
      // Weaker corpus-independent check: a single-doc bin can be any
      // size; a multi-doc bin's first (n-1) docs all STARTED inside the
      // 256-token window, so tokens-before-last < 256 + first-doc size.
      // We assert the structural part the query guarantees directly:
      // per (source, seq_id) the doc range is contiguous and non-empty.
      assert(seqTokens >= nDocs, "every doc has at least one token")
    }
    // bins per source are dense: seq_ids 0..max with no gaps would only
    // hold if every bin receives a document; greedy packing guarantees
    // consecutive bins are non-decreasing in first_doc instead.
    out.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1)).toSeq
      sorted.sliding(2).foreach { pair =>
        if (pair.size == 2) {
          assert(pair(0).getLong(5) < pair(1).getLong(4),
            "doc ranges of consecutive bins must not overlap")
        }
      }
    }
  }

  test("q125 segment layout: token conservation, exact 256 fill on every " +
      "non-final sequence, contiguous disjoint segments, and block-size " +
      "independence") {
    import org.apache.spark.sql.functions._
    val segs = SparkEntry.queries("q125_pack_segments")(spark, sf).collect()
    assert(segs.nonEmpty)
    // (source, seq_id, seg_id, doc_id, tok_start, tok_len, is_continuation)
    val totalSegTokens = segs.map(_.getLong(5)).sum
    val totalDocTokens = TextOps
      .packSequencesNaive(spark, sf)
      .agg(sum(col("seq_tokens"))).collect()(0).getLong(0)
    assert(totalSegTokens == totalDocTokens, "token conservation")
    segs.groupBy(r => (r.getString(0), r.getInt(1))).foreach {
      case ((srcKey, seq), rs) =>
        val bySeg = rs.sortBy(_.getInt(2)).toSeq
        // contiguity: each segment starts where the previous ended
        var cursor = 0L
        bySeg.foreach { r =>
          assert(r.getLong(4) == cursor,
            s"gap/overlap at ($srcKey, $seq, seg ${r.getInt(2)})")
          assert(r.getLong(5) >= 1, "empty segment")
          cursor += r.getLong(5)
        }
        assert(cursor <= 256L, s"sequence ($srcKey, $seq) overfilled")
        // a continuation tail is exactly a segment that starts at 0 for
        // a document whose earlier tokens live in a previous sequence
        bySeg.zipWithIndex.foreach { case (r, i) =>
          if (r.getInt(6) == 1)
            assert(i == 0 && r.getLong(4) == 0L,
              "continuation segments lead their sequence at offset 0")
        }
    }
    // every non-final sequence of a source is filled to exactly 256
    segs.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val fills = rs.groupBy(_.getInt(1)).view
        .mapValues(_.map(_.getLong(5)).sum).toSeq.sortBy(_._1)
      fills.dropRight(1).foreach { case (seq, fill) =>
        assert(fill == 256L, s"non-final sequence $seq filled to $fill")
      }
    }
    // blocked offsets are bit-identical at degenerate block sizes here too
    val reg = segs.map(_.toSeq).toSeq
    for (b <- Seq(1L, 7L, 1000000L)) {
      val alt = TextOps.packSegmentsPlan(spark, sf, b).collect().map(_.toSeq).toSeq
      assert(alt == reg, s"segment layout diverges at blockDocs=$b")
    }
  }

  test("q127 incremental packing equals the full repack restricted to " +
      "the appended docs — row for row, including the boundary " +
      "sequence's composed seg_ids — at several block sizes") {
    import org.apache.spark.sql.functions._
    val cutoff = spark.read.parquet(s"$sf/documents.parquet")
      .agg(max(col("doc_id"))).collect()(0).getLong(0) * 9L / 10L
    val full = SparkEntry.queries("q125_pack_segments")(spark, sf)
      .filter(col("doc_id") > cutoff)
      .collect().map(_.toSeq).toSeq
    assert(full.nonEmpty, "degenerate fixture: no appended docs")
    val inc = SparkEntry.queries("q127_pack_incremental")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(inc == full,
      s"incremental (${inc.size} rows) diverges from full-repack " +
        s"restriction (${full.size} rows)")
    // the composed-rank path is actually exercised: some delta segment
    // continues a base sequence (seg_id > 0 in its boundary sequence)
    assert(inc.exists(r => r(2).asInstanceOf[Int] > 0),
      "fixture never lands a delta doc mid-sequence — boundary " +
        "composition untested")
    for (b <- Seq(1L, 7L, 1000000L)) {
      val alt = TextOps.packIncrementalPlan(spark, sf, b)
        .collect().map(_.toSeq).toSeq
      assert(alt == inc, s"incremental layout diverges at blockDocs=$b")
    }
  }

  test("grouped incremental state: interleaved multi-tenant appends are " +
      "isolated per source, and a source born inside the delta starts " +
      "at offset zero") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def words(n: Int, tag: String): String =
      (0 until n).map(i => s"$tag$i").mkString(" ")
    // base (ids 1..8): sources a and b interleaved in doc_id order, each
    // with 100-token docs so both cross a 256-token sequence boundary
    // (their boundary C is nonzero). delta (ids 91..100): appends from
    // a, b, AND a brand-new source c INTERLEAVED in doc_id — the
    // multi-tenant ingest shape. doc_id 100 is source a in BOTH
    // corpora, so the cutoff max(doc_id)*9/10 = 90 is identical.
    val base = Seq(
      (1L, "a"), (2L, "b"), (3L, "a"), (4L, "b"),
      (5L, "a"), (6L, "b"), (7L, "a"), (8L, "b"))
      .map { case (id, s) => (s, id, words(100, s)) }
    val deltaAll = Seq(
      (91L, "a", 50), (92L, "b", 300), (93L, "c", 40), (94L, "a", 200),
      (95L, "b", 10), (96L, "c", 260), (97L, "a", 30), (98L, "b", 20),
      (99L, "c", 5), (100L, "a", 70))
      .map { case (id, s, n) => (s, id, words(n, s)) }
    def fixture(rows: Seq[(String, Long, String)]): String = {
      val dir = SessionCache.scratchDir("graft_grouped_pack").toString
      rows.toDF("source", "doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val full = fixture(base ++ deltaAll)
    val aOnly = fixture(base ++ deltaAll.filter(_._1 == "a"))
    for (b <- Seq(3L, 1000000L)) {
      val incFull = TextOps.packIncrementalPlan(spark, full, b)
        .collect().map(_.toSeq).toSeq
      // 1. incremental == full repack restricted to the delta, on the
      //    interleaved corpus
      val repack = TextOps.packSegmentsPlan(spark, full, b)
        .filter(col("doc_id") > 90L).collect().map(_.toSeq).toSeq
      assert(incFull == repack,
        s"interleaved incremental diverges from repack at blockDocs=$b")
      // 2. ISOLATION: source a's segments are identical whether or not
      //    b's and c's appends are interleaved with its own — one (T, C)
      //    pair per source is the ONLY cross-snapshot state, so other
      //    tenants' ingest cannot perturb it
      val aFromFull = incFull.filter(_.head == "a")
      val aFromAOnly = TextOps.packIncrementalPlan(spark, aOnly, b)
        .collect().map(_.toSeq).toSeq.filter(_.head == "a")
      assert(aFromFull.nonEmpty && aFromFull == aFromAOnly,
        s"source a's layout shifted under interleaved appends (block=$b)")
      // 3. source c exists only in the delta: its packing starts at the
      //    origin (left-join coalesce path), not at some other source's
      //    base total
      val cFirst = incFull.filter(_.head == "c")
        .minBy(r => (r(1).asInstanceOf[Int], r(2).asInstanceOf[Int]))
      assert(cFirst(1) == 0 && cFirst(2) == 0 && cFirst(4) == 0L,
        s"delta-born source c does not start at offset zero: $cFirst")
    }
  }
}
