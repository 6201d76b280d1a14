package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EventOps, SimilarityOps, TextOps}
import graft.streaming.StreamingOps

/** Invariant checks for the round-6 pipeline additions (q68-q72) on
  * sf0.001 — oracle parity is the driver's job; these pin the semantics
  * that survive a re-plan (conservation laws, vote bounds, dedup
  * exactness) so a regression shows up without DuckDB in the loop.
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  test("q68 chunk dedup conserves chunks and survivors match distinct count") {
    val out = TextOps.q68ChunkDedup.fn(spark, sf).cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(out.count() == docs) // every doc reported, even all-dup ones
    // survivors never exceed the doc's chunks, and dup + kept == total
    assert(out.filter(col("kept_chunks") > col("n_chunks")).count() == 0)
    assert(out.filter(
      col("kept_chunks") + col("dup_chunks") =!= col("n_chunks")).count() == 0)
    // Σ kept over docs == number of DISTINCT chunks in the corpus
    val kept = out.agg(sum("kept_chunks")).collect().head.getLong(0)
    val distinctChunks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(trim(col("text")), " ").as("w"))
      .withColumn("n_chunks", ceil(size(col("w")) / 8.0).cast("int"))
      .select(col("w"), explode(sequence(lit(0), col("n_chunks") - 1)).as("i"))
      .select(array_join(slice(col("w"), col("i") * 8 + 1, lit(8)), " ").as("c"))
      .distinct().count()
    assert(kept == distinctChunks)
    out.unpersist()
  }

  test("q69 top bigrams is a true descending top-k of the full bigram bag") {
    val out = TextOps.q69TopBigrams.fn(spark, sf).collect()
    assert(out.length == 25)
    val counts = out.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // the 25th count is >= the count of any bigram outside the top-k
    val naive = spark.read.parquet(s"$sf/documents.parquet")
      .select(split(trim(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"))
        .as("bigram"))
      .groupBy("bigram").count()
    val inTop = out.map(_.getString(0)).toSet
    val maxOutside = naive
      .filter(!col("bigram").isin(inTop.toSeq: _*))
      .agg(max("count")).collect().head.getLong(0)
    assert(counts.last >= maxOutside)
  }

  test("q70 streaming dedup of a doubled feed equals single-copy batch totals") {
    // the registered path must be the BOUNDED-state dedup: state holds
    // only keys within the watermark horizon, never one entry per
    // event_id forever (the unbounded form OOMs the state store on a
    // real feed). Pin the logical operator, not just the result.
    val streamPlan = StreamingOps.dedupedStream(
      StreamingOps.eventStream(spark,
        SessionCache.scratchDir("q70_pin").toString))
      .queryExecution.analyzed
    val nodes = streamPlan.collect { case n => n.nodeName }
    assert(nodes.contains("DeduplicateWithinWatermark"),
      s"expected watermark-bounded dedup, got: $nodes")
    assert(!nodes.contains("Deduplicate"),
      s"watermark-free Deduplicate must not appear: $nodes")
    val got = StreamingOps.q70StreamDedup.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.sumd2(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("q71 z-score stats are internally consistent") {
    val out = EventOps.q71AnomalyZscore.fn(spark, sf).cache()
    assert(out.count() > 0)
    assert(out.filter(col("std") < 0).count() == 0)
    assert(out.filter(col("n_outliers") >= col("n")).count() == 0)
    // mean matches a plain double average to rounding tolerance
    val naive = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type").agg(avg("value").as("m"))
    val joined = out.join(naive, "event_type")
      .filter(abs(col("mean") - col("m")) > 1e-6)
    assert(joined.count() == 0)
    out.unpersist()
  }

  test("q74 keeps exactly the documents the q63 keep-list does not drop") {
    val drops = TextOps.q63DedupKeeplist.fn(spark, sf)
      .filter(col("keep") === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val want = docs
      .filter(!col("doc_id").isin(drops.toSeq: _*))
      .select(col("source"), size(split(trim(col("text")), " ")).as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").cast("long").as("kept_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = TextOps.q74DedupApply.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(drops.nonEmpty, "fixture should actually drop near-duplicates")
  }

  test("q73 alerts are micro-batch-boundary independent and closed-form") {
    import org.apache.spark.sql.streaming.OutputMode
    // split the events into two files and force one file per trigger,
    // so the per-user state genuinely spans micro-batches
    val dir = SessionCache.scratchDir("alerts_split")
    // split from the NORMALIZED read so the staged halves carry exactly
    // the canonical `rawSchema` encoding (µs TIMESTAMP_NTZ) the stream
    // reader expects, whatever the source file's physical encoding.
    val raw = graft.sources.Tables.events(spark, sf)
    raw.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$dir/even")
    raw.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$dir/odd")
    val staged = SessionCache.scratchDir("alerts_src")
    Seq("even", "odd").foreach { half =>
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$half"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(f, staged.resolve(s"$half.parquet"))
    }
    val stream = spark.readStream.schema(StreamingOps.rawSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged.toString)
    val drained = StreamingOps.runToMemory(
      StreamingOps.thresholdAlertsCents(stream, 5000L).toDF(),
      "alerts_split_out", OutputMode.Append)
    val got = drained.df
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), max("k").as("mk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // closed form: one alert per 50-unit multiple of the exact total
    val want = graft.sources.Tables.events(spark, sf)
      .select(col("user_id").cast("long"),
        (abs(graft.functions.Exact.dec2(col("value"))) * 100).cast("long").as("c"))
      .groupBy("user_id").agg(expr("sum(c) div 5000").as("n"))
      .filter(col("n") >= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(1))).toSet
    assert(got == want)
  }

  test("q75 stream-static enrichment equals the batch join aggregate") {
    val got = StreamingOps.q75StreamEnrich.fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val dim = graft.sources.Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val want = graft.sources.Tables.events(spark, sf)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.sumd2(col("value")).as("sum_value"))
      .orderBy(col("segment"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q76 incremental dedup drops exactly the delta docs the " +
      "corpus-wide pair set implicates") {
    val out = TextOps.q76IncrementalDedup.fn(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("src0"))
    val r = out.head
    val (nNew, nDropped, nIngested) = (r.getLong(1), r.getLong(2), r.getLong(3))
    val deltaDocs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("source") === "src0")
    assert(nNew == deltaDocs.count())
    assert(nDropped + nIngested == nNew)
    assert(nDropped >= 1, "fixture should drop at least one near-dup delta doc")
    // recompute from the SYMMETRIC corpus-wide pair set: a delta doc is
    // dropped iff it pairs with a corpus doc, or with a smaller delta id
    val delta = deltaDocs.select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val pairs = TextOps.minHashPairs(spark, sf)
      .select("d1", "d2").collect().map(p => (p.getLong(0), p.getLong(1)))
    val want = pairs.flatMap { case (a, b) =>
      (delta(a), delta(b)) match {
        case (true, false) => Some(a)
        case (false, true) => Some(b)
        case (true, true)  => Some(math.max(a, b))
        case _             => None
      }
    }.toSet
    assert(want.size == nDropped,
      s"recomputed drops ${want.size} != reported $nDropped")
  }

  test("q72 kNN vote matches a recomputed majority over the exact top-10") {
    val out = SimilarityOps.q72KnnClassify.fn(spark, sf).collect()
    assert(out.length == 5)
    assert(out.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 10))
    // recompute: q33's exact top-10 neighbors joined to labels
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("neighbor"), col("label"))
    val votes = SimilarityOps.q33CosineTopK.fn(spark, sf)
      .join(labels, "neighbor")
      .groupBy("q_id", "label").count()
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getInt(1), r.getLong(2)))
          .toSeq.sortBy { case (l, c) => (-c, l) }.head
      }
    out.foreach { r =>
      val (lbl, cnt) = votes(r.getLong(0))
      assert(r.getInt(2) == lbl && r.getLong(3) == cnt)
    }
  }
}
