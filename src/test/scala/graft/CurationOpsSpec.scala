package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant pins for the curation family (q104-q108): each query's
  * result is re-derived here by an independent driver-side computation
  * over the same fixture, so a DuckDB-side and Spark-side bug cannot
  * cancel out (the oracle compare alone can't catch a matched error in
  * the shared derivation, e.g. both engines building the wrong "old"
  * snapshot).
  */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = spark.read
    .parquet(s"$sf/documents.parquet")
    .select("doc_id", "text", "lang", "source")
    .collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))

  test("q105 snapshot-diff statuses match direct doc_id arithmetic") {
    val got = SparkEntry.queries("q105_snapshot_diff")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ids = docs.map(_._1)
    val off = ids.max + 1 // the query derives the shift from the corpus
    val added = ids.filter(_ % 11 == 3)
    val removed = ids.filter(_ % 13 == 5).map(_ + off)
    val changed = ids.filter(i => i % 11 != 3 && i % 7 == 2)
    val unchanged = ids.filter(i => i % 11 != 3 && i % 7 != 2)
    def exp(s: Seq[Long]) = (s.length.toLong, s.sum)
    assert(got("added") == exp(added))
    assert(got("removed") == exp(removed))
    assert(got("changed") == exp(changed))
    assert(got("unchanged") == exp(unchanged))
    // the four statuses partition old ∪ new keyed rows exactly
    assert(got.values.map(_._1).sum ==
      added.length + removed.length + changed.length + unchanged.length)
  }

  test("q106 one-pass profile stats equal per-column direct computes") {
    val prof = SparkEntry.queries("q106_data_profile")(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val q = prof("l_quantity")
    assert(q.getLong(1) == li.filter(col("l_quantity").isNull).count())
    assert(q.getLong(2) == li.select("l_quantity").distinct().count())
    assert(q.getDouble(3) ==
      li.agg(min("l_quantity")).head.getDouble(0))
    assert(q.getDouble(4) ==
      li.agg(max("l_quantity")).head.getDouble(0))
    val rf = prof("l_returnflag")
    assert(rf.getLong(2) == li.select("l_returnflag").distinct().count())
    assert(rf.getString(5) ==
      li.agg(min("l_returnflag")).head.getString(0))
    assert(rf.isNullAt(3) && rf.isNullAt(4))
    // five NARROW scans (one column each — same bytes as one 5-column
    // scan on columnar storage) and no Expand (the multi-distinct
    // rewrite would replicate every row ×6 into one wide shuffle)
    val df = SparkEntry.queries("q106_data_profile")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("Scan parquet").length - 1 == 5,
      s"profile should be five single-column scans:\n$plan")
    assert(!plan.contains("Expand"),
      s"profile must avoid the multi-distinct Expand:\n$plan")
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val schemas = fmt.linesIterator
      .filter(_.trim.startsWith("ReadSchema")).toSeq
    // "ReadSchema: struct<col:type>" — exactly one field per scan
    assert(schemas.size == 5 &&
      schemas.forall(l => l.count(_ == ':') == 2 && !l.contains(",")),
      s"each scan should read exactly one column:\n${schemas.mkString("\n")}")
  }

  test("q107 quantized importance scores equal a driver-side recompute") {
    val B = 4096
    // independent model: token -> bucket via the same md5 construction,
    // computed with java.security.MessageDigest, not Spark's md5
    def bucket(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % B
    }
    val tokens = docs.flatMap { case (id, text, lang, _) =>
      text.trim.split(" ").map(t => (id, lang, bucket(t)))
    }
    val rawC = tokens.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val tgtC = tokens.filter(_._2 == "en").groupBy(_._3).view
      .mapValues(_.length.toLong).toMap
    val rtot = tokens.length.toLong
    val ttot = tokens.count(_._2 == "en").toLong
    val nano: Map[Long, Long] = rawC.map { case (b, rc) =>
      val tc = tgtC.getOrElse(b, 0L)
      b -> math.floor((math.log((tc + 1.0) / (ttot + B))
        - math.log((rc + 1.0) / (rtot + B))) * 1e9 + 0.5).toLong
    }
    val expected = tokens.groupBy(_._1).view
      .mapValues(_.map(t => nano(t._3)).sum).toMap
    val got = SparkEntry.queries("q107_importance_weights")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(3))
    assert(got.length == 50)
    got.foreach { case (id, w) =>
      assert(w == expected(id), s"doc $id: got $w expected ${expected(id)}")
    }
    // and the 50 returned really are the top-50 by (w_nano desc, id)
    val top = expected.toSeq.sortBy { case (id, w) => (-w, id) }.take(50)
    assert(got.map(_._1).toSeq == top.map(_._1))
  }

  test("q108 PII counts equal the injection arithmetic (corpus is " +
      "organically PII-free — pinned so a regenerated corpus fails loudly)") {
    // precondition the injection arithmetic relies on: no digits, '@' or
    // '-' in the organic text, so every match comes from an injected span
    docs.foreach { case (id, text, _, _) =>
      assert(!text.exists(c => c.isDigit || c == '@' || c == '-'),
        s"doc $id contains PII-shaped characters organically")
    }
    val got = SparkEntry.queries("q108_pii_scan")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    docs.groupBy(_._4).foreach { case (src, rows) =>
      val ids = rows.map(_._1)
      val exp = (ids.length.toLong,
        ids.count(i => i % 3 == 0 || i % 5 == 0 || i % 7 == 0).toLong,
        ids.count(_ % 3 == 0).toLong,
        ids.count(_ % 5 == 0).toLong,
        ids.count(_ % 7 == 0).toLong)
      assert(got(src) == exp, s"source $src: ${got(src)} vs $exp")
    }
  }

  test("q104 streaming heavy hitters equal the batch GROUP BY + HAVING " +
      "computed in Spark (DuckDB-independent)") {
    val got = SparkEntry.queries("q104_stream_heavy_hitters")(spark, sf)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val e = spark.read.parquet(s"$sf/events.parquet")
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), floor(col("value")).cast("long").as("bk"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val totals = ev.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = ev.groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq
      .collect { case ((t, bk), freq) if 125 * freq > totals(t) =>
        (t, bk, freq, totals(t)) }
      .sortBy { case (t, bk, freq, _) => (t, -freq, bk) }
    assert(got.toSeq == expected)
    assert(got.nonEmpty, "degenerate fixture: no heavy hitters")
    assert(e.count() > 0)
  }

  test("q111 NFC normalization: codegen expression matches the JDK " +
      "normalizer and counts match the injection arithmetic") {
    // precondition: organic corpus text is already NFC (ASCII), so every
    // change comes from the injected decomposed suffix
    docs.foreach { case (id, text, _, _) =>
      assert(java.text.Normalizer.isNormalized(
        text, java.text.Normalizer.Form.NFC), s"doc $id not NFC organically")
    }
    val got = SparkEntry.queries("q111_nfc_normalize")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    docs.groupBy(_._4).foreach { case (src, rows) =>
      val changed = rows.count(_._1 % 4 == 0).toLong
      // the decomposed suffix loses exactly one codepoint per changed doc
      assert(got(src) == ((changed, changed)), s"source $src: ${got(src)}")
    }
    // expression-level parity: codegen path ≡ direct JDK call, including
    // the already-normalized fast path and null propagation
    import spark.implicits._
    val samples = Seq("cafe\u0301", "caf\u00e9", "plain", "",
      "a\u0308\u0301mix", null)
    val viaExpr = samples.toDF("s")
      .select(graft.functions.NormalizeNfc.normalizeNfc(col("s")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    val direct = samples.map(s =>
      if (s == null) null else graft.functions.NormalizeNfc.nfc(s))
    assert(viaExpr.toSeq == direct)
    assert(direct(0) == " caf\u00e9".trim && direct(1) == "caf\u00e9")
  }

  test("q112 weighted sample: top-30 matches a driver-side " +
      "Efraimidis-Spirakis recompute") {
    def hash60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val nchars = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val keys = nchars.map { case (id, text, w) =>
      (id, math.log((hash60(text) + 1.0) / 1152921504606846976.0) / w)
    }
    val expected = keys.sortBy { case (id, k) => (-k, id) }.take(30).map(_._1)
    val got = SparkEntry.queries("q112_weighted_sample")(spark, sf)
      .collect().map(_.getLong(0))
    assert(got.toSeq == expected.toSeq)
  }

  test("q110 streaming drift scores equal a driver-side batch recompute") {
    // ts is TIMESTAMP_NTZ → LocalDateTime in external rows
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("ts"), col("value")).collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0)
          .toEpochSecond(java.time.ZoneOffset.UTC) / 3600,
        math.floor(r.getDouble(1) / 50).toLong))
    val ref = ev.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = ev.length.toLong
    val expected = ev.groupBy(_._1).view.mapValues { rows =>
      val nw = rows.length.toLong
      val wc = rows.groupBy(_._2).view.mapValues(_.length.toLong)
      val tv = ref.map { case (b, rc) =>
        math.abs(1000000L * wc.getOrElse(b, 0L) / nw - 1000000L * rc / n)
      }.sum / 2
      (nw, tv)
    }.toMap
    val got = SparkEntry.queries("q110_stream_drift")(spark, sf).collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0)
          .toEpochSecond(java.time.ZoneOffset.UTC) / 3600,
        (r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q109 k-means training: clusters partition the corpus and the " +
      "trained model differs from its seeds") {
    val res = SparkEntry.queries("q109_kmeans_train")(spark, sf).collect()
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(res.length <= 16)
    assert(res.map(_.getLong(1)).sum == nVecs,
      "final assignment must cover every vector exactly once")
    // seeds are unit-ish raw embeddings; trained centroids are means of
    // many near-orthogonal vectors, so norms must have contracted for
    // most clusters — training actually moved the model
    val norms = res.map(_.getDouble(2))
    assert(norms.forall(n => n > 0.0 && n.isFinite))
    val seedNorms = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 16)
      .select(sqrt(aggregate(transform(col("embedding"),
        v => v.cast("double") * v.cast("double")),
        lit(0.0), (a, x) => a + x)))
      .collect().map(_.getDouble(0))
    val contracted = res.count(_.getDouble(2) < seedNorms.min)
    assert(contracted >= res.length / 2,
      s"only $contracted/${res.length} centroid norms contracted below " +
        s"the smallest seed norm ${seedNorms.min}")
  }

  test("Misra-Gries streaming state retains every bucket above n/(cap+1) " +
      "on an adversarial feed wider than its capacity") {
    // 5000 events: bucket 9999 appears 25 times (> 5000/250 = 20), the
    // rest are 4975 distinct singleton buckets — 4976 distinct values
    // against capacity 249, so the sketch decrements constantly
    val rows = (0 until 5000).map { i =>
      val v: Double = if (i % 200 == 7) 9999.0 else 10000.0 + i
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        1L, "probe", v, null.asInstanceOf[String])
    }
    val dir = SessionCache.scratchDir("mg_adversarial")
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val snaps = graft.streaming.StreamingOps.runToMemory(
      graft.streaming.StreamingOps.mgCandidates(
        graft.streaming.StreamingOps.eventStream(spark, dir.toString),
        cap = 249).toDF(),
      "mg_adv_out",
      org.apache.spark.sql.streaming.OutputMode.Update).df
    val fin = snaps.orderBy(col("n_seen").desc).head
    assert(fin.getLong(1) == 5000)
    val cands = fin.getSeq[Long](2)
    assert(cands.contains(9999L),
      s"heavy bucket lost by the sketch (${cands.length} candidates)")
    assert(cands.length <= 249)
  }

  /** the engines' shared 60-bit md5 hash, re-derived independently. */
  private def hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  test("q113 fusion rows are rank-consistent and drawn from real lists") {
    val rows = SparkEntry.queries("q113_hybrid_rrf")(spark, sf).collect()
    assert(rows.length == 50)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 5L).toSet)
    for ((q, rs) <- byQ) {
      assert(rs.map(_.getInt(5)).sorted.toSeq == (1 to 10),
        s"q$q fused ranks not 1..10")
      assert(rs.forall(_.getLong(1) != q), s"q$q retrieved itself")
    }
    // RRF arithmetic: rrf_micro re-derived from the published ranks
    for (r <- rows) {
      val lex = if (r.isNullAt(2)) 0.0 else 1.0 / (60 + r.getInt(2))
      val sem = if (r.isNullAt(3)) 0.0 else 1.0 / (60 + r.getInt(3))
      assert(!(r.isNullAt(2) && r.isNullAt(3)),
        "fused row in neither source list")
      val exp = BigDecimal((lex + sem) * 1000000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == exp, s"rrf mismatch at $r")
    }
    // semantic ranks re-derived by brute-force cosine over the fixture
    val embs = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        x.zip(y).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    for (q <- 0L until 5L) {
      val ranked = embs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(embs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(50).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1) }.toMap
      for (r <- byQ(q) if !r.isNullAt(3))
        assert(ranked(r.getLong(1)) == r.getInt(3),
          s"q$q sem_rank diverges from brute force at doc ${r.getLong(1)}")
    }
  }

  test("q114 temperature mix matches an independent driver re-derivation " +
      "and up-weights rare sources (rate monotone decreasing in size)") {
    val got = SparkEntry.queries("q114_temperature_mix")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val bySrc = docs.groupBy(_._4)
    assert(got.keySet == bySrc.keySet)
    val total = docs.length.toLong
    val w = bySrc.map { case (s, ds) =>
      s -> math.floor(math.exp(0.7 * math.log(ds.length.toDouble)) *
        1000000.0 + 0.5).toLong
    }
    val z = w.values.sum
    for ((src, ds) <- bySrc) {
      val n = ds.length.toLong
      val rate = math.min(1000000000L,
        math.floor((total / 2).toDouble * w(src) /
          (z.toDouble * n) * 1000000000.0).toLong)
      val kept = ds.filter(d => hash60(d._2) % 1000000000L < rate)
      val (gN, gKept, gIdSum, gRate) = got(src)
      assert(gN == n && gRate == rate)
      assert(gKept == kept.length.toLong, s"$src kept count")
      assert(gIdSum == kept.map(_._1).sum, s"$src kept id sum")
    }
    // α = 0.7 < 1: acceptance rate strictly decreases as source size
    // grows (rate ∝ n^(α−1)), so rare sources are up-weighted
    val byN = got.values.toSeq.sortBy(_._1)
    for (Seq(a, b) <- byN.sliding(2).toSeq if a._1 < b._1)
      assert(a._4 >= b._4, "larger source got a higher acceptance rate")
  }

  test("q115 novelty curve: every capped shingle is novel exactly once " +
      "and the curve saturates") {
    val rows = SparkEntry.queries("q115_novelty_curve")(spark, sf).collect()
    val idx = graft.operators.TextOps.shingleIndexPlan(spark, sf)
    assert(rows.map(_.getLong(3)).sum == idx.select("tok").distinct().count(),
      "sum of novel observations != distinct shingle count")
    assert(rows.map(_.getLong(2)).sum == idx.count(),
      "sum of gram observations != index size")
    assert(rows.map(_.getLong(1)).sum ==
      idx.select("doc_id").distinct().count())
    assert(rows.head.getLong(4) >= rows.last.getLong(4),
      "novelty did not decay from first to last bucket")
  }

  test("q116 dataset card: shares and entropies re-derive exactly") {
    val rows = SparkEntry.queries("q116_dataset_card")(spark, sf).collect()
    val bySrc = docs.groupBy(_._4)
    assert(rows.length == bySrc.size)
    val totD = docs.length.toLong
    for (r <- rows) {
      val ds = bySrc(r.getString(0))
      assert(r.getLong(1) == ds.length.toLong)
      assert(r.getLong(3) ==
        math.round(1000000.0 * ds.length / totD))
      // entropy: per-lang nano terms summed as integers
      val byLang = ds.groupBy(_._3).map(_._2.length)
      val ns = ds.length.toDouble
      val ent = byLang.map { nl =>
        math.floor(-(nl / ns) * math.log(nl / ns) * 1000000000.0 + 0.5).toLong
      }.sum
      assert(r.getLong(5) == ent, s"${r.getString(0)} entropy")
      assert(ent >= 0 && ent <= math.ceil(
        math.log(byLang.size.toDouble.max(1.0)) * 1000000000.0).toLong + 1)
    }
    // doc shares sum to one within per-source rounding
    assert(math.abs(rows.map(_.getLong(3)).sum - 1000000L) <=
      rows.length / 2 + 1)
  }

  test("q119 waterfill allocation: budget exhausted exactly, caps " +
      "respected, uncapped sources level within one token") {
    val rows = SparkEntry.queries("q119_token_budget")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val totTok = rows.map(_._2).sum
    val b = 2 * totTok
    rows.foreach { case (src, t, cap, alloc) =>
      assert(cap == 3 * t, src)
      assert(alloc <= cap, s"$src allocated past its epoch cap")
      assert(alloc >= 0)
    }
    assert(rows.map(_._4).sum == math.min(b, rows.map(_._3).sum),
      "allocation must exhaust min(budget, total capacity) exactly")
    // uncapped sources (alloc < cap) sit at a uniform level ±1 token
    val uncapped = rows.filter(r => r._4 < r._3).map(_._4)
    if (uncapped.nonEmpty)
      assert(uncapped.max - uncapped.min <= 1,
        s"uncapped allocations not level: ${uncapped.toSeq}")
    // and every capped source is smaller than every uncapped allocation
    val capped = rows.filter(r => r._4 == r._3).map(_._4)
    if (capped.nonEmpty && uncapped.nonEmpty)
      assert(capped.max <= uncapped.min,
        "a capped source out-consumed the uniform level")
  }

  test("q120 grouped exact quantiles equal a driver-side sorted " +
      "type-1 percentile per source") {
    val got = SparkEntry.queries("q120_length_quantiles")(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val bySource = docs.groupBy(_._4)
    def q(tokCounts: Seq[Long], num: Int, den: Int): Long = {
      val sorted = tokCounts.sorted
      // type-1: smallest v with cum*den >= tot*num
      val k = (sorted.size * num + den - 1) / den // ceil
      sorted(k - 1)
    }
    bySource.foreach { case (src, ds) =>
      val lens = ds.map(d => d._2.trim.split(" ").length.toLong).toSeq
      val (n, p25, p50, p90) = got(src)
      assert(n == lens.size)
      assert(p25 == q(lens, 1, 4), s"$src p25")
      assert(p50 == q(lens, 1, 2), s"$src p50")
      assert(p90 == q(lens, 9, 10), s"$src p90")
    }
  }

  test("q121 centroid drift matches a driver-side double-mean cosine " +
      "and flags only real movement") {
    val rows = SparkEntry.queries("q121_centroid_drift")(spark, sf)
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getSeq[Float](2).toArray))
    def centroid(vs: Seq[Array[Double]]): Array[Double] = {
      val c = new Array[Double](64)
      vs.foreach(v => (0 until 64).foreach(i => c(i) += v(i)))
      c.map(_ / vs.size)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = (0 until 64).map(i => a(i) * b(i)).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val newBy = embs.groupBy(_._2)
    val oldBy = embs.filter(_._1 % 13 != 5).map { case (id, l, e) =>
      val p = if (id % 7 == 2)
        e.zipWithIndex.map { case (x, i) =>
          if (i % 2 == 1) -x.toDouble else x.toDouble }
      else e.map(_.toDouble)
      (l, p)
    }.groupBy(_._1)
    rows.foreach { case (label, nOld, nNew, drift) =>
      assert(nNew == newBy(label).length)
      assert(nOld == oldBy(label).length)
      val expected = cos(
        centroid(oldBy(label).map(_._2).toSeq),
        centroid(newBy(label).map(_._3.map(_.toDouble)).toSeq))
      // plain double mean vs the exact 56-bit mean: identical to ~1e-12
      assert(math.abs(drift - expected) < 1e-9,
        s"label $label drift $drift vs recompute $expected")
      assert(drift <= 1.0 && drift >= -1.0)
      // the sign-flip slice guarantees real movement somewhere
    }
    assert(rows.exists(_._4 < 0.9999),
      "perturbed snapshot should show measurable drift for some label")
  }
}
