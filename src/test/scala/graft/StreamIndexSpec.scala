package graft

import org.scalatest.funsuite.AnyFunSuite

/** The streamed index lifecycle (VERDICT r13 item 5): q126's ingest
  * maintains the per-vector assignment artifact, q129 consumes it, and
  * micro-batch boundaries / at-least-once replay cannot change the
  * answer. Three pins:
  *   1. streamed artifact pairs ≡ a cold batch rebuild, row for row;
  *   2. ONE lifecycle: after q126's ingest ran, q129 reads the staged
  *      artifact without draining a stream of its own (observed via the
  *      drain log);
  *   3. replaying the whole ingest over the already-staged artifact
  *      (q126 re-run = every micro-batch rewritten, the at-least-once
  *      failure mode) leaves q129's result unchanged.
  */
class StreamIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  /** Fresh corpus dir (its own staging key) holding sf0.01's embeddings. */
  private def fixture(): String = {
    import java.nio.file.{Files, Paths}
    val dir = SessionCache.scratchDir("graft_sidx_fixture")
    Files.copy(Paths.get("/root/testdata/sf0.01/embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    dir.toString
  }

  test("q129 over the streamed assignment artifact matches a cold batch " +
      "rebuild row-for-row, and every pair touches the delta slice") {
    val dir = fixture()
    val got = SparkEntry.queries("q129_stream_index_pairs")(spark, dir)
      .collect()
    val cold = graft.operators.SimilarityOps
      .streamIndexPairsCold(spark, dir).collect()
    assert(got.nonEmpty)
    assert(got.toSeq == cold.toSeq)
    assert(got.forall(r =>
      r.getLong(0) % 13 == 5 || r.getLong(1) % 13 == 5))
  }

  test("one index lifecycle: q126's ingest stages the artifact and q129 " +
      "reuses it without draining a stream of its own") {
    val dir = fixture()
    graft.streaming.StreamingOps.pollDrainStats() // clear the shared log
    SparkEntry.queries("q126_stream_ann_ingest")(spark, dir).collect()
    val afterIngest = graft.streaming.StreamingOps.pollDrainStats().map(_._1)
    assert(afterIngest.contains("q126_stream_ann_ingest"))
    val viaArtifact = SparkEntry.queries("q129_stream_index_pairs")(spark, dir)
      .collect()
    val afterPairs = graft.streaming.StreamingOps.pollDrainStats().map(_._1)
    assert(!afterPairs.contains("q129_stream_index_pairs"),
      "q129 drained its own stream despite a fresh staged artifact")
    val cold = graft.operators.SimilarityOps
      .streamIndexPairsCold(spark, dir).collect()
    assert(viaArtifact.toSeq == cold.toSeq)
  }

  test("at-least-once replay: re-running the whole ingest over the " +
      "staged artifact leaves q129 unchanged") {
    val dir = fixture()
    val before = SparkEntry.queries("q129_stream_index_pairs")(spark, dir)
      .collect()
    // q126 re-run over the same corpus = every micro-batch's assignment
    // partition rewritten in place — the at-least-once failure mode,
    // maximized (all batches replayed, not one)
    SparkEntry.queries("q126_stream_ann_ingest")(spark, dir).collect()
    val after = SparkEntry.queries("q129_stream_index_pairs")(spark, dir)
      .collect()
    assert(before.nonEmpty)
    assert(before.toSeq == after.toSeq)
  }

  test("q140 hier-built pairs: recall-vs-truth retention >= 0.9 against " +
      "a flat build at the same k, and every pair touches the delta " +
      "slice with a valid cosine") {
    val sf = "/root/testdata/sf0.01"
    import graft.operators.SimilarityOps
    val rows = SparkEntry.queries("q140_stream_index_pairs_hier")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getLong(0) % 13 == 5 || r.getLong(1) % 13 == 5))
    assert(rows.forall(r => r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0001))
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val k = SimilarityOps.pairCells(
      spark.read.parquet(s"$sf/embeddings.parquet").count())
    val flat = SimilarityOps.probePairJoin(spark,
        SimilarityOps.probeAssignment(spark, sf, k))
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = SimilarityOps.probeDeltaTruth(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val flatHits = truth.count(flat)
    val hierHits = truth.count(got)
    assert(flatHits > 0, "degenerate fixture: flat build found no true pairs")
    // the hier routing approximation may only cost a bounded slice of
    // the flat tier's truth-recall (measured r17: 1.0 at sf0.01, 0.917
    // at sf0.1, matching the r16 probe's 96-97% at 200k-500k vectors)
    assert(hierHits.toDouble / flatHits >= 0.9,
      s"hier retention ${hierHits.toDouble / flatHits} < 0.9 " +
        s"(hier $hierHits vs flat $flatHits of ${truth.size} true pairs)")
  }

  test("bestCellAssign (map-side per-row argmax, r18) is row-identical " +
      "to the crossJoin + max_by form on the real corpus") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val ops = graft.operators.SimilarityOps
    val e = ops.embVecs(spark, sf)
    val cents = ops.learnedCentroids(spark, sf, 0, 16)
    val got = ops.bestCellAssign(cents, e)
      .select(col("vec_id"), col("c_id"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val want = e.crossJoin(broadcast(cents))
      .withColumn("c_cos",
        graft.functions.VectorFunctions.vecDotAny(
          col("embedding"), col("c_emb")) / (col("nr") * col("c_nr")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("c_id"), col("c_cos")),
        struct(col("c_cos"), (-col("c_id")).as("neg"))).as("best"))
      .select(col("vec_id"), col("best.c_id"), col("best.c_cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.nonEmpty && got.length == want.length)
    // BIT equality on the cosine, not epsilon — the audit quantizes
    // floor(cos*1e6 + 0.5), so any drift would eventually flip a bucket
    assert(got.toSeq == want.toSeq,
      "map-side argmax drifted from the crossJoin form")
  }
}
