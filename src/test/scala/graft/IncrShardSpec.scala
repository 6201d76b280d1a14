package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** q137 incremental shard update: the composed (cached-base ∪ delta)
  * rows must equal a from-scratch full rebuild restricted to each
  * source's affected shards, at several block sizes; and the rows the
  * query does NOT emit must be provably immutable — the full rebuild
  * below the boundary shard equals the base-only build there.
  */
class IncrShardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.01"

  // from-scratch per-source shard rows off a (source, doc_id, n_tok) set
  private def shardRows(docs: Seq[(String, Long, Long)])
      : Map[(String, Long), (Long, Long)] = {
    docs.groupBy(_._1).flatMap { case (src, ds) =>
      var off = 0L
      val bins = scala.collection.mutable.LinkedHashMap[Int, Long]()
      ds.sortBy(_._2).foreach { case (_, _, n) =>
        val seq = (off / 256L).toInt
        bins(seq) = bins.getOrElse(seq, 0L) + n
        off += n
      }
      var binOff = 0L
      val sh = scala.collection.mutable.LinkedHashMap[Long, (Long, Long)]()
      bins.toSeq.sortBy(_._1).foreach { case (_, tok) =>
        val shard = binOff / 16384L
        val (c, t) = sh.getOrElse(shard, (0L, 0L))
        sh(shard) = (c + 1, t + tok)
        binOff += tok
      }
      sh.map { case (shard, v) => (src, shard) -> v }
    }
  }

  private lazy val docs = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
  }

  test("incremental update equals the full rebuild restricted to " +
      "affected shards, at several block sizes") {
    val cut = docs.map(_._2).max * 9L / 10L
    val full = shardRows(docs)
    val base = docs.filter(_._2 <= cut)
    val tBase = base.groupBy(_._1).map { case (s, ds) => s -> ds.map(_._3).sum }
    val deltaSrc = docs.filter(_._2 > cut).map(_._1).toSet
    assert(deltaSrc.nonEmpty)
    // s0 per delta source: the shard of bin floor(t_base/256) in the
    // FULL build = t_base minus that bin's base mass, over 16384
    val baseBins = base.groupBy(_._1).map { case (src, ds) =>
      var off = 0L
      val bins = scala.collection.mutable.Map[Int, Long]()
      ds.sortBy(_._2).foreach { case (_, _, n) =>
        bins((off / 256L).toInt) = bins.getOrElse((off / 256L).toInt, 0L) + n
        off += n
      }
      src -> bins.toMap
    }
    val s0 = deltaSrc.map { src =>
      val t = tBase.getOrElse(src, 0L)
      val b0 = (t / 256L).toInt
      val b0tok = baseBins.get(src).flatMap(_.get(b0)).getOrElse(0L)
      src -> (t - b0tok) / 16384L
    }.toMap
    val expected = full.toSeq.collect {
      case ((src, shard), (n, tok)) if deltaSrc(src) && shard >= s0(src) =>
        (src, shard, n, tok)
    }.sortBy { case (s, sh, _, _) => (s, sh) }
    for (b <- Seq(1L, 17L, TextOps.PackBlockDocs)) {
      val got = TextOps.incrementalShardPlan(spark, sf, b).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got == expected, s"diverges at blockDocs=$b")
    }
  }

  test("a source with NO appended docs emits nothing (oracle ds-CTE " +
      "semantics): delta-source restriction") {
    import org.apache.spark.sql.functions._
    // synthetic corpus: max doc_id = 100 → cutoff 90; source "c" has
    // every doc ≤ 90 (absent from the delta), "a" and "b" straddle it,
    // and "d" is DELTA-ONLY (no base docs — boundary state must coalesce
    // to zero offsets and emit its shards from 0)
    val rows = Seq(
      ("a", 1L, 300L), ("a", 10L, 200L), ("a", 95L, 500L),
      ("b", 2L, 100L), ("b", 50L, 40000L), ("b", 100L, 700L),
      ("c", 3L, 20000L), ("c", 60L, 123L), ("c", 90L, 77L),
      ("d", 92L, 450L), ("d", 96L, 17000L))
    val dir = SessionCache.scratchDir("incrshard_ds").toString
    spark.createDataFrame(rows.map { case (s, id, n) =>
      (s, id, Seq.fill(n.toInt)("w").mkString(" "))
    }).toDF("source", "doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cut = 90L
    val full = shardRows(rows)
    val deltaSrc = rows.filter(_._2 > cut).map(_._1).toSet
    assert(deltaSrc == Set("a", "b", "d"))
    val tBase = rows.filter(_._2 <= cut).groupBy(_._1)
      .map { case (s, ds) => s -> ds.map(_._3).sum }
    val s0 = deltaSrc.map { src =>
      val t = tBase.getOrElse(src, 0L)
      val b0 = (t / 256L).toInt
      var off = 0L
      val bins = scala.collection.mutable.Map[Int, Long]()
      rows.filter(r => r._1 == src && r._2 <= cut).sortBy(_._2)
        .foreach { case (_, _, n) =>
          bins((off / 256L).toInt) = bins.getOrElse((off / 256L).toInt, 0L) + n
          off += n
        }
      src -> (t - bins.getOrElse(b0, 0L)) / 16384L
    }.toMap
    val expected = full.toSeq.collect {
      case ((src, shard), (n, tok)) if deltaSrc(src) && shard >= s0(src) =>
        (src, shard, n, tok)
    }.sortBy { case (s, sh, _, _) => (s, sh) }
    for (b <- Seq(1L, TextOps.PackBlockDocs)) {
      val got = TextOps.incrementalShardPlan(spark, dir, b).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(!got.exists(_._1 == "c"),
        s"source with no delta docs emitted rows at blockDocs=$b")
      assert(got == expected, s"diverges at blockDocs=$b")
    }
  }

  test("unemitted rows are immutable: the full rebuild below each " +
      "source's boundary shard equals the base-only build") {
    val cut = docs.map(_._2).max * 9L / 10L
    val full = shardRows(docs)
    val baseOnly = shardRows(docs.filter(_._2 <= cut))
    val emitted = TextOps.incrementalShardPlan(spark, sf, TextOps.PackBlockDocs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val below = full.keySet.filterNot(emitted)
    assert(below.forall(k => baseOnly.get(k).contains(full(k))),
      "an unemitted shard row differs between base and full builds")
  }
}
