package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ScaleOps
import graft.sources.Layout

class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("salted aggregation equals the direct group-by exactly") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val direct = li.groupBy(col("l_returnflag").as("k"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sv"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    val salted = ScaleOps.saltedSum(li, col("l_returnflag"), col("l_quantity"))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("approx_count_distinct stays within its error bound") {
    val rows = ScaleOps.approxVsExactOrders(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_orders").toDouble
      val approx = r.getAs[Long]("approx_orders").toDouble
      assert(math.abs(approx - exact) / exact < 0.1,
        s"${r.getAs[String]("l_returnflag")}: $approx vs $exact")
    }
    // the registered (hash-compared) form reports the same bound as TRUE
    val q39 = ScaleOps.q39ApproxDistinct.fn(spark, sf).collect()
    assert(q39.nonEmpty && q39.forall(_.getAs[Boolean]("within_rsd")))
  }

  test("approx_percentile's answer ranks within n/accuracy of the " +
      "exact median and the registered form pins it TRUE") {
    val rows = ScaleOps.q82ApproxQuantile.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("within_rank_bound")),
      rows.map(r => s"${r.getAs[String]("l_returnflag")}: " +
        s"median=${r.getAs[Long]("exact_median_cents")}").mkString(", "))
    // the exact order statistic is a real data value (cents are integer)
    rows.foreach(r => assert(r.getAs[Long]("exact_median_cents") > 0))
  }

  test("Misra-Gries summary retains every item above n/(k+1) under " +
      "adversarial ordering and arbitrary merge splits") {
    val mg = new graft.functions.MisraGries(9) // guarantee: freq > n/10
    // stream: 'hot' 30×, 'warm' 15×, 100 singleton distractors → n=145;
    // n/10 = 14.5, so hot AND warm must survive any processing order
    val hot = Seq.fill(30)("hot"); val warm = Seq.fill(15)("warm")
    val noise = (0 until 100).map(i => s"x$i")
    // adversarial: all distractors first, hitters last; then reversed;
    // then interleaved — and merged from uneven partition splits
    for (stream <- Seq(noise ++ hot ++ warm, (hot ++ warm ++ noise).reverse,
        noise.zipAll(hot ++ warm, "pad", "pad2").flatMap(t => Seq(t._1, t._2)))) {
      for (split <- Seq(1, 7, 145)) {
        val parts = stream.grouped(math.max(stream.size / split, 1)).toSeq
        val merged = parts.map(_.foldLeft(mg.zero)(mg.reduce))
          .foldLeft(mg.zero)(mg.merge)
        val out = mg.finish(merged).toSet
        assert(out.contains("hot") && out.contains("warm"),
          s"split=$split lost a guaranteed hitter: $out")
        assert(merged.size <= 9, s"buffer exceeded capacity: ${merged.size}")
      }
    }
    // end-to-end: q92 equals the exact HAVING over a full group-by
    val got = ScaleOps.q92HeavyHitters.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(trim(col("text")), " ")).as("tok"))
    val total = toks.count()
    val want = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .filter(col("freq") * 100 > total)
      .orderBy(col("freq").desc, col("tok"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, s"sketch-pruned exact != plain exact")
    assert(got.nonEmpty, "fixture should have heavy hitters")
  }

  test("partitioned+sorted layout prunes partitions at scan time") {
    val out = SessionCache.scratchDir("layout").toString + "/li"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    Layout.writeIndexed(li, out, "l_returnflag", "l_suppkey", "l_shipdate")
    val all = Layout.filesRead(spark, out, "l_quantity >= 0")
    val pruned = Layout.filesRead(spark, out, "l_returnflag = 'R'")
    assert(all > pruned, s"expected pruning: all=$all pruned=$pruned")
    // pruned scan still returns correct data
    val n = spark.read.parquet(out).filter(col("l_returnflag") === "R").count()
    assert(n == li.filter(col("l_returnflag") === "R").count())
  }

  test("incremental refresh equals the one-shot aggregate bit-for-bit") {
    val got = ScaleOps.q87IncrAggRefresh.fn(spark, sf)
    val want = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("total"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // every history row must come from the artifact, not a rescan: the
    // snapshot side of the merge is a checkpoint scan in the plan
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"),
      s"snapshot side should read the checkpointed artifact\n$plan")
  }

  test("q118 Z-order layout skips row groups on BOTH dimensions where a " +
      "lexicographic sort skips only its leading column") {
    import graft.sources.Layout
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    val total = li.count()
    val zDir = SessionCache.scratchDir("zorder").toString
    val lexDir = SessionCache.scratchDir("lexorder").toString
    Layout.writeZOrdered(li, zDir, n = 16, "l_partkey", "l_suppkey")
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(lexDir)
    // content identity: clustering moves rows, never changes them
    assert(spark.read.parquet(zDir).exceptAll(li).isEmpty &&
      li.exceptAll(spark.read.parquet(zDir)).isEmpty)
    // boxes sized to the sf0.001 domains (partkey 0..199, suppkey 0..9)
    val boxA = "l_partkey BETWEEN 40 AND 79"    // leading dim, ~20%
    val boxB = "l_suppkey BETWEEN 2 AND 3"      // secondary dim, ~20%
    // leading-dim predicate: both layouts skip
    assert(Layout.rowsScanned(spark, zDir, boxA) < total * 6 / 10)
    assert(Layout.rowsScanned(spark, lexDir, boxA) < total * 6 / 10)
    // secondary-dim predicate: only the Z-order layout skips — the
    // lexicographic twin's every file spans the full l_suppkey range
    val zB = Layout.rowsScanned(spark, zDir, boxB)
    val lexB = Layout.rowsScanned(spark, lexDir, boxB)
    assert(lexB == total,
      s"lex layout unexpectedly skipped on the secondary dim ($lexB/$total)")
    assert(zB < total * 6 / 10,
      s"z layout failed to skip on the secondary dim ($zB/$total)")
    // the z-key itself is a correct Morton interleave (spot check)
    val z = li.limit(100)
      .select(col("l_partkey"), col("l_suppkey"),
        Layout.zorderKey(col("l_partkey"), col("l_suppkey")).as("z"))
      .collect()
    def spread(v: Long): Long = {
      var x = v & 0xFFFFFFFFL
      x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
      x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x << 2)) & 0x3333333333333333L
      x = (x | (x << 1)) & 0x5555555555555555L
      x
    }
    z.foreach { r =>
      assert(r.getLong(2) ==
        (spread(r.getLong(0)) | (spread(r.getLong(1)) << 1)))
    }
  }
}
