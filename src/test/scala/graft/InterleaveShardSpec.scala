package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** q136 mixture-interleaved shards: the whole layout (stride keys,
  * interleaved order, shard cuts, manifest stats) must equal a
  * from-scratch Scala recompute off q58's bins, and the interleaving
  * must measurably mix — every shard spans more sources than the
  * source-blocked q133 layout's average, with a dominant-source share
  * far from the blocked layout's 100%.
  */
class InterleaveShardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.01"

  // from-scratch manifest recompute off (source, seq_id, seq_tokens)
  // bins: stride keys, total interleaved order, shard cuts, mixing stats
  private def expectedManifest(bins: Seq[(String, Int, Long)])
      : Seq[(Long, Long, Long, Long, Long)] = {
    val tSrc = bins.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._3).sum }
    val w = tSrc.map { case (s, t) => s -> math.sqrt(t.toDouble).toLong }
    val ordered = bins
      .map { case (s, q, tok) => (((q + 1L) * 16777216L) / w(s), s, q, tok) }
      .sortBy { case (k, s, q, _) => (k, s, q) }
    var off = 0L
    val assigned = ordered.map { case (_, s, q, tok) =>
      val shard = off / 16384L
      off += tok
      (shard, s, q, tok)
    }
    assigned.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (shard, rs) =>
        val bySrc = rs.groupBy(_._2).map { case (_, xs) => xs.map(_._4).sum }
        (shard, rs.length.toLong, rs.map(_._4).sum, bySrc.size.toLong,
          bySrc.max * 1000000L / rs.map(_._4).sum)
    }
  }

  private def binsOf(dir: String): Seq[(String, Int, Long)] =
    TextOps.packSequencesPlan(spark, dir, TextOps.PackBlockDocs)
      .select("source", "seq_id", "seq_tokens").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq

  test("manifest equals a from-scratch recompute (stride keys, global " +
      "interleaved prefix, shard cuts, per-shard mixing stats)") {
    val bins = binsOf(sf)
    val expected = expectedManifest(bins)
    val got = SparkEntry.queries("q136_interleaved_shards")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(got == expected)
    // token conservation + dense ids fall out of the equality, but make
    // the invariants explicit
    assert(got.map(_._3).sum == bins.map(_._3).sum)
    assert(got.map(_._1) == got.indices.map(_.toLong))
  }

  test("interleaving mixes: every q136 shard spans at least as many " +
      "sources as the source-blocked q133 layout's average, and no " +
      "source dominates") {
    val inter = SparkEntry.queries("q136_interleaved_shards")(spark, sf)
      .collect()
    val blocked = SparkEntry.queries("q133_shard_manifest")(spark, sf)
      .collect()
    val blockedAvgSources =
      blocked.map(_.getLong(3)).sum.toDouble / blocked.length
    inter.foreach { r =>
      assert(r.getLong(3) >= blockedAvgSources.floor.toLong,
        s"shard ${r.getLong(0)} spans only ${r.getLong(3)} sources " +
          s"(blocked layout averages $blockedAvgSources)")
      assert(r.getLong(4) < 500000L,
        s"shard ${r.getLong(0)} dominated: ${r.getLong(4)} ppm")
    }
  }

  test("layout is block-size independent (key-range blocking at any " +
      "granularity is offset-exact)") {
    val ref = TextOps.interleavedShardsPlan(spark, sf, TextOps.PackBlockDocs)
      .collect().map(_.toSeq).toSeq
    for (b <- Seq(1L, 17L, 1000000L)) {
      val alt = TextOps.interleavedShardsPlan(spark, sf, b)
        .collect().map(_.toSeq).toSeq
      assert(alt == ref, s"layout diverges at blockDocs=$b")
    }
  }

  test("production range-blocked path is bit-equal to the packed " +
      "composite on in-bounds data, at several block sizes") {
    val ref = TextOps.interleavedShardsPlan(spark, sf, TextOps.PackBlockDocs)
      .collect().map(_.toSeq).toSeq
    for (b <- Seq(1L, TextOps.PackBlockDocs)) {
      val rng = TextOps
        .interleavedShardsPlan(spark, sf, b, forceRange = true)
        .collect().map(_.toSeq).toSeq
      assert(rng == ref, s"range path diverges at blockDocs=$b")
    }
  }

  // q141: from-scratch recompute of the repetition-expanded layout —
  // q139's planning numbers, epoch replication at shifted virtual
  // times, granted-mass truncation, global (k, source, pos) order,
  // shard cuts, mixing + repetition stats
  private def expectedRepetitionManifest(bins: Seq[(String, Int, Long)])
      : Seq[(Long, Long, Long, Long, Long, Long)] = {
    val bySrc = bins.groupBy(_._1)
    val supply = bySrc.map { case (s, rs) => s -> rs.map(_._3).sum }
    val nbins = bySrc.map { case (s, rs) => s -> rs.length.toLong }
    val w = supply.map { case (s, t) => s -> math.sqrt(t.toDouble).toLong }
    val tw = w.values.sum
    val budget = supply.values.sum * 2
    val target = supply.keysIterator
      .map(s => s -> budget * w(s) / tw).toMap
    val epochs = supply.keysIterator
      .map(s => s -> math.min(4L, (target(s) + supply(s) - 1) / supply(s)))
      .toMap
    val granted = supply.keysIterator
      .map(s => s -> math.min(target(s), epochs(s) * supply(s))).toMap
    val boff: Map[(String, Int), Long] = bySrc.flatMap { case (s, rs) =>
      var off = 0L
      rs.sortBy(_._2).map { case (_, q, tok) =>
        val o = off; off += tok; ((s, q), o)
      }
    }
    val rep = for {
      (s, q, tok) <- bins
      e <- 0L until epochs(s)
      if e * supply(s) + boff((s, q)) < granted(s)
    } yield {
      val pos = e * nbins(s) + q
      (((pos + 1) * 16777216L) / w(s), s, pos, tok, e)
    }
    var off = 0L
    val assigned = rep.sortBy { case (k, s, pos, _, _) => (k, s, pos) }
      .map { case (_, s, _, tok, e) =>
        val shard = off / 16384L; off += tok; (shard, s, tok, e)
      }
    assigned.groupBy(_._1).toSeq.sortBy(_._1).map { case (shard, rs) =>
      val srcTok = rs.groupBy(_._2).map { case (_, xs) => xs.map(_._3).sum }
      val tot = rs.map(_._3).sum
      val rept = rs.filter(_._4 > 0).map(_._3).sum
      (shard, rs.length.toLong, tot, srcTok.size.toLong,
        srcTok.max * 1000000L / tot, rept * 1000000L / tot)
    }
  }

  test("q141 repetition-expanded manifest equals a from-scratch " +
      "recompute (planner numbers, shifted-virtual-time replication, " +
      "granted truncation, shard cuts, repetition stats)") {
    val bins = binsOf(sf)
    val expected = expectedRepetitionManifest(bins)
    val got = SparkEntry.queries("q141_repetition_shards")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == expected)
    // the data-constrained semantics are visible: repeated mass exists
    // (upweighted small sources recycle) and the early stream is
    // fresher than the tail (epoch 0 schedules first per source)
    assert(got.map(_._6).max > 0L)
    assert(got.head._6 <= got.last._6)
    // granted truncation: total mass is Σ_s granted ± one boundary bin
    // per source (whole-bin granularity)
    val bySrc = bins.groupBy(_._1)
    val supply = bySrc.map { case (s, rs) => s -> rs.map(_._3).sum }
    val w = supply.map { case (s, t) => s -> math.sqrt(t.toDouble).toLong }
    val tw = w.values.sum
    val budget = supply.values.sum * 2
    val grantedTot = supply.keysIterator.map { s =>
      val target = budget * w(s) / tw
      val ep = math.min(4L, (target + supply(s) - 1) / supply(s))
      math.min(target, ep * supply(s))
    }.sum
    val maxBin = bins.map(_._3).max
    val tot = got.map(_._3).sum
    assert(tot >= grantedTot &&
      tot <= grantedTot + bySrc.size * maxBin,
      s"kept mass $tot outside [$grantedTot, granted + |src|·maxBin]")
  }

  // shared repetition-stream recompute: (k, source, pos, tok, epoch)
  // rows after planner numbers, replication, granted truncation
  private def expectedRepStream(bins: Seq[(String, Int, Long)])
      : Seq[(Long, String, Long, Long, Long)] = {
    val bySrc = bins.groupBy(_._1)
    val supply = bySrc.map { case (s, rs) => s -> rs.map(_._3).sum }
    val nbins = bySrc.map { case (s, rs) => s -> rs.length.toLong }
    val w = supply.map { case (s, t) => s -> math.sqrt(t.toDouble).toLong }
    val tw = w.values.sum
    val budget = supply.values.sum * 2
    val target = supply.keysIterator.map(s => s -> budget * w(s) / tw).toMap
    val epochs = supply.keysIterator
      .map(s => s -> math.min(4L, (target(s) + supply(s) - 1) / supply(s)))
      .toMap
    val granted = supply.keysIterator
      .map(s => s -> math.min(target(s), epochs(s) * supply(s))).toMap
    val boff: Map[(String, Int), Long] = bySrc.flatMap { case (s, rs) =>
      var off = 0L
      rs.sortBy(_._2).map { case (_, q, tok) =>
        val o = off; off += tok; ((s, q), o)
      }
    }
    (for {
      (s, q, tok) <- bins
      e <- 0L until epochs(s)
      if e * supply(s) + boff((s, q)) < granted(s)
    } yield {
      val pos = e * nbins(s) + q
      (((pos + 1) * 16777216L) / w(s), s, pos, tok, e)
    }).sortBy { case (k, s, pos, _, _) => (k, s, pos) }
  }

  test("q142 resume manifest equals a from-scratch recompute, and the " +
      "consumed prefix covers the 40% budget at whole-bin granularity") {
    val bins = binsOf(sf)
    val stream = expectedRepStream(bins)
    val nbins = bins.groupBy(_._1).map { case (s, rs) => s -> rs.length.toLong }
    var off = 0L
    val withOff = stream.map { case (_, s, pos, tok, _) =>
      val o = off; off += tok; (s, pos, tok, o)
    }
    val total = withOff.map(_._3).sum
    val c = total * 2 / 5
    val expected = withOff.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (s, rs) =>
        val consumed = rs.filter(_._4 < c)
        val nextPos = rs.filter(_._4 >= c).map(_._2).minOption
        (s, consumed.length.toLong, consumed.map(_._3).sum,
          rs.map(_._3).sum,
          consumed.map(_._3).sum * 1000000L / rs.map(_._3).sum,
          nextPos.map(_ / nbins(s)).getOrElse(-1L),
          nextPos.map(_ % nbins(s)).getOrElse(-1L))
    }
    val got = SparkEntry.queries("q142_resume_manifest")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq
    assert(got == expected)
    // whole-bin budget bound: the consumed prefix reaches C but
    // overshoots by less than one bin
    val consumedTot = got.map(_._3).sum
    val maxBin = bins.map(_._3).max
    assert(consumedTot >= c && consumedTot < c + maxBin,
      s"consumed $consumedTot outside [$c, c + maxBin)")
    // next pointers are real positions: re-reading from them replays
    // exactly the unconsumed suffix
    val nextBySrc = got.map(r => r._1 -> (r._6, r._7)).toMap
    withOff.filter(_._4 >= c).groupBy(_._1).foreach { case (s, rs) =>
      val minPos = rs.map(_._2).min
      assert(nextBySrc(s) == (minPos / nbins(s), minPos % nbins(s)))
    }
  }

  test("q143 run lengths equal a from-scratch recompute off the " +
      "interleaved stream, and stride interleaving keeps runs short") {
    val bins = binsOf(sf)
    val tSrc = bins.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._3).sum }
    val w = tSrc.map { case (s, t) => s -> math.sqrt(t.toDouble).toLong }
    val ordered = bins
      .map { case (s, q, tok) => (((q + 1L) * 16777216L) / w(s), s, q, tok) }
      .sortBy { case (k, s, q, _) => (k, s, q) }
    var off = 0L
    val assigned = ordered.map { case (_, s, _, tok) =>
      val shard = off / 16384L; off += tok; (shard, s)
    }
    val expected = assigned.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (shard, rs) =>
        val srcs = rs.map(_._2)
        val runs = srcs.foldLeft(List.empty[(String, Long)]) {
          case ((h, n) :: t, s) if h == s => (h, n + 1) :: t
          case (acc, s) => (s, 1L) :: acc
        }.map(_._2)
        (shard, srcs.length.toLong, runs.length.toLong,
          srcs.length.toLong * 1000000L / runs.length, runs.max)
    }
    val got = SparkEntry.queries("q143_interleave_runs")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == bins.length.toLong)
    // the metric's point: stride scheduling over this near-uniform
    // corpus keeps every run tiny (q136's max-share alone can't see
    // locality)
    assert(got.map(_._5).max <= 3L,
      s"stride interleave produced a long same-source run: $got")
  }

  test("q141 layout is block-size independent") {
    val ref = TextOps.repetitionShardsPlan(spark, sf, TextOps.PackBlockDocs)
      .collect().map(_.toSeq).toSeq
    for (b <- Seq(1L, 17L, 1000000L)) {
      val alt = TextOps.repetitionShardsPlan(spark, sf, b)
        .collect().map(_.toSeq).toSeq
      assert(alt == ref, s"q141 layout diverges at blockDocs=$b")
    }
  }

  test("out-of-bounds corpus (33 sources) routes through the range " +
      "fallback automatically and matches the from-scratch recompute") {
    import org.apache.spark.sql.functions._
    // 33 sources breaks the composite key's |sources| ≤ 32 bound — the
    // former require(); deterministic doc sizes, a few shards of mass
    val rows = for {
      s <- 0 until 33
      d <- 0 until 12
    } yield (f"src$s%02d", d.toLong, 200 + (s * 31 + d * 7) % 900)
    val dir = SessionCache.scratchDir("interleave_oob").toString
    spark.createDataFrame(rows.map { case (s, id, n) =>
      (s, id, Seq.fill(n)("w").mkString(" "))
    }).toDF("source", "doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val expected = expectedManifest(binsOf(dir))
    val got = TextOps
      .interleavedShardsPlan(spark, dir, TextOps.PackBlockDocs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSeq
    assert(got == expected)
    assert(got.map(_._4).max > 1L) // shards genuinely mix sources
  }
}
