package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audit: the scale properties README promises, pinned as
  * tests so a refactor cannot silently regress them — filters/projections
  * reach the parquet scan, dims broadcast, top-k avoids global sorts,
  * the similarity hot path uses the native codegen expression.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def finalPlan(df: DataFrame): String = {
    df.collect() // let AQE settle on the final plan
    df.queryExecution.executedPlan.toString
  }

  private def formatted(df: DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q01: filter pushed to the scan, columns pruned") {
    val plan = formatted(SparkEntry.queries("q01_pricing_summary")(spark, sf))
    assert(plan.contains("LessThan(l_shipdate"))
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      s"scan reads more than needed: $readSchema")
  }

  test("q06 star join: dimension joins broadcast, no sort-merge") {
    val plan = finalPlan(SparkEntry.queries("q06_star_join")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), "star join fell back to SMJ")
    // region filter reached its scan
    assert(plan.contains("EqualTo(r_name,ASIA)"))
  }

  test("q02 top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = finalPlan(SparkEntry.queries("q02_top_customers")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("q33 similarity uses the native codegen dot product") {
    val plan = finalPlan(SparkEntry.queries("q33_cosine_topk")(spark, sf))
    assert(plan.toLowerCase.contains("floatvectordot"))
    // and the query-vector filter reached the scan
    assert(plan.contains("LessThan(vec_id,5)"))
  }

  test("q07 pair expansion has no join at all") {
    val plan = finalPlan(SparkEntry.queries("q07_supplier_pairs")(spark, sf))
    assert(!plan.contains("Join"), "pair counting should be join-free")
  }

  test("q26 shingle pipeline is free of interpreted array lambdas") {
    // higher-order functions are CodegenFallback; an ArrayTransform/
    // ArrayFilter re-appearing in these plans means the O(n²)
    // inline-split trap (see TextOps.shingleIndex) has re-formed. The
    // index build is audited via its exposed pre-checkpoint plan (the
    // checkpoint hides it behind an RDD scan in q26's own plan).
    val idxPlan = finalPlan(
      graft.operators.TextOps.shingleIndexPlan(spark, sf))
    assert(!idxPlan.contains("transform("), s"array lambda in index plan")
    val plan = finalPlan(SparkEntry.queries("q26_minhash_lsh")(spark, sf))
    assert(!plan.contains("transform("), s"array lambda in q26 plan")
    assert(!plan.contains("filter(lambdafunction"), s"array filter in q26 plan")
  }

  test("shared shingle index applies the stop-shingle df cap " +
      "before any candidate join (q26/q27/q49/q54)") {
    val plan = finalPlan(
      graft.operators.TextOps.shingleIndexPlan(spark, sf))
    assert(plan.contains("LeftAnti"), "df-cap broadcast anti-join missing")
    assert(plan.contains("> 1000"), "df-cap literal missing from index plan")
  }

  test("q44 centroid update keeps flat agg buffers: no collect_list, " +
      "no ObjectHashAggregate") {
    val plan = finalPlan(SparkEntry.queries("q44_ann_ivf")(spark, sf))
    assert(!plan.contains("collect_list"), "collect_list back in q44 plan")
    assert(!plan.contains("ObjectHashAggregate"),
      "q44 aggregation fell out of codegen HashAggregate")
  }

  test("q34 below the knee: candidates come from band equi-joins, " +
    "not all-pairs") {
    val plan = finalPlan(SparkEntry.queries("q34_embed_near_pairs")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"), "all-pairs BNLJ in q34")
    assert(!plan.contains("CartesianProduct"), "cartesian in q34")
  }

  test("q34 above the knee: cost gate switches to the blocked exact " +
    "product (one BNLJ scan, no band shuffle)") {
    // a >PairExactKnee corpus: replicate sf0.001's 500 vectors 10x with
    // distinct ids (content is irrelevant to the PLAN-shape assertion).
    import org.apache.spark.sql.functions._
    val dir = SessionCache.scratchDir("graft_knee")
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    base.crossJoin(spark.range(10).toDF("rep"))
      .select((col("vec_id") + col("rep") * lit(100000)).as("vec_id"),
        col("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val df = SparkEntry.queries("q34_embed_near_pairs")(spark, dir.toString)
    val plan = finalPlan(df)
    // the pair stage must be the per-cell equi-join on the learned cell
    // id — never the retired global v1<v2 nested-loop product (the only
    // BNLJ allowed is the 16-row centroid-assignment cross join)
    assert("BroadcastNestedLoopJoin [^,\n]*, Inner".r.findFirstIn(plan).isEmpty,
      s"global all-pairs product back in q34's above-knee tier\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in q34\n$plan")
    assert(plan.contains("HashJoin [c_id"),
      s"per-cell pair join (equi on c_id) missing above the knee\n$plan")
    // the band generator explodes a literal array(struct(band, sig));
    // the per-cell tier's only explode is the top-nprobe cell-id list
    // from the per-row assignment (exchange-free, no window)
    assert(!plan.contains("explode(array("),
      s"band generator ran above the knee\n$plan")
    assert(plan.toLowerCase.contains("explode(nearestcellids"),
      s"per-row top-nprobe assignment explode missing above the knee\n$plan")
    assert(!plan.contains("Window"),
      s"assignment fell back to a row_number window above the knee\n$plan")
  }

  test("q48 fuzzy-match candidates come from an equi-join, not all-pairs") {
    val plan = finalPlan(SparkEntry.queries("q48_fuzzy_match")(spark, sf))
    assert(!plan.contains("CartesianProduct"), "all-pairs join in q48")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "theta-only join in q48")
  }

  // the adaptive plan string repeats the tree under "== Initial Plan ==";
  // count shuffle exchanges in the executed (final) section only —
  // "Exchange <dist>partitioning(...)" nodes, not ReusedExchange.
  private def finalExchanges(plan: String): Int =
    "Exchange (hash|range|single|round)".r
      .findAllIn(plan.split("== Initial Plan ==")(0)).length

  test("q57 chunking is map-only: no join, no window, and the only " +
      "exchange is the final presentation sort") {
    val plan = finalPlan(SparkEntry.queries("q57_chunk_overlap")(spark, sf))
    assert(!plan.contains("Join"), "chunking must not join")
    assert(!plan.contains("Window"), "chunking must not window")
    val exchanges = finalExchanges(plan)
    assert(exchanges == 1, s"expected 1 exchange (final sort), got $exchanges\n$plan")
  }

  test("q58 packing is a two-level prefix sum: the corpus window " +
      "partitions on (source, blk) — never source alone — and block " +
      "offsets come back as a broadcast join") {
    val plan = finalPlan(SparkEntry.queries("q58_pack_sequences")(spark, sf))
    // the only corpus-row window is the blocked one (corpus/B tasks)
    assert("windowspecdefinition\\(source#\\d+, blk#\\d+L?, doc_id".r
        .findFirstIn(plan).isDefined,
      s"blocked (source, blk, doc_id) corpus window missing\n$plan")
    // a (source, doc_id) windowspec = the single-task-per-source sort
    // that serializes at 100 TB — must never re-form
    assert("windowspecdefinition\\(source#\\d+, doc_id".r
        .findFirstIn(plan).isEmpty,
      s"per-source corpus window is back\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "block offsets must join back as a broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "corpus-wide sort-merge join in the packing plan")
    // the block-totals branch must partial-aggregate map-side so its
    // exchange carries corpus/B rows, not corpus rows
    assert(plan.contains("partial_sum"),
      "block totals lost their map-side partial aggregation")
  }

  test("q125 segment layout keeps q58's blocked offsets (no per-source " +
      "corpus window) and its seg_id window partitions on the " +
      "fine-grained (source, seq_id) key") {
    val plan = finalPlan(SparkEntry.queries("q125_pack_segments")(spark, sf))
    assert("windowspecdefinition\\(source#\\d+, blk#\\d+L?, doc_id".r
        .findFirstIn(plan).isDefined,
      s"blocked (source, blk, doc_id) offset window missing\n$plan")
    assert("windowspecdefinition\\(source#\\d+, doc_id".r
        .findFirstIn(plan).isEmpty,
      s"per-source corpus window is back\n$plan")
    // the seg_id rank runs per (source, seq_id) — millions of tiny
    // partitions at scale, never a per-source serialization
    assert("windowspecdefinition\\(source#\\d+, seq_id#\\d+".r
        .findFirstIn(plan).isDefined,
      s"(source, seq_id) segment window missing\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "block offsets must join back as a broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "corpus-wide sort-merge join in the segment plan")
    // the boundary split must be the bounded-fanout generator
    assert(plan.toLowerCase.contains("generate"),
      s"sequence()+explode boundary split missing\n$plan")
  }

  test("q127 incremental packing: blocked offsets on BOTH the base-state " +
      "and delta branches, state joins back as broadcasts, and the " +
      "seg_id window stays on the fine-grained (source, seq_id) key") {
    val plan = finalPlan(SparkEntry.queries("q127_pack_incremental")(spark, sf))
    assert("windowspecdefinition\\(source#\\d+, blk#\\d+L?, doc_id".r
        .findFirstIn(plan).isDefined,
      s"blocked (source, blk, doc_id) offset window missing\n$plan")
    // the per-source corpus window must not re-form on either branch
    assert("windowspecdefinition\\(source#\\d+, doc_id".r
        .findFirstIn(plan).isEmpty,
      s"per-source corpus window is back\n$plan")
    assert("windowspecdefinition\\(source#\\d+, seq_id#\\d+".r
        .findFirstIn(plan).isDefined,
      s"(source, seq_id) segment window missing\n$plan")
    // block offsets AND the per-source (T, C) state both come back as
    // broadcasts — the delta must never shuffle against base-sized data
    assert(plan.contains("BroadcastHashJoin"),
      "broadcast joins missing (block offsets / base state)")
    assert(!plan.contains("SortMergeJoin"),
      "corpus-wide sort-merge join in the incremental plan")
    assert(plan.toLowerCase.contains("generate"),
      s"sequence()+explode boundary split missing\n$plan")
  }

  test("q64 LM scoring probes the corpus with a broadcast cost table — " +
      "no corpus-side sort-merge join") {
    val plan = finalPlan(SparkEntry.queries("q64_unigram_logprob")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "cost-table probe not broadcast")
    assert(!plan.contains("SortMergeJoin"),
      "corpus shuffled to join the vocab-sized cost table")
  }

  test("q63 keep-list windows only per cluster, never over the corpus") {
    val plan = finalPlan(SparkEntry.queries("q63_dedup_keeplist")(spark, sf))
    // the only window partitions by cluster (cluster-sized partitions)
    assert("windowspecdefinition\\(cluster#\\d+L?,".r.findFirstIn(plan).isDefined,
      s"per-cluster ranking window missing\n$plan")
    val specs = "windowspecdefinition\\([a-z_]+#".r.findAllIn(plan)
      .toSeq.distinct
    assert(specs.forall(_.contains("cluster")),
      s"unexpected non-cluster window partitioning: $specs")
  }

  test("PageRank runs the whole power iteration in one job: the job " +
      "count is the same at 4 and 12 iterations and at most 6, float " +
      "and quantized") {
    import graft.operators.GraphOps
    val edges = GraphOps.facedEdges(spark, sf).select("src", "dst").distinct()
    for ((label, run) <- Seq[(String, Int => Unit)](
        "float" -> (i => GraphOps.pageRank(edges, iters = i).collect()),
        "quantized" -> (i => GraphOps.pageRankQuantized(edges, iters = i).collect()))) {
      val at4 = TestSpark.jobsOf(run(4))
      val at12 = TestSpark.jobsOf(run(12))
      assert(at4 == at12, s"$label: jobs grow with iterations: $at4 at 4, $at12 at 12")
      assert(at12 <= 6, s"$label: $at12 jobs exceed the budget of 6")
    }
  }

  test("q39 joins two 3-row aggregates — the sketch join must broadcast " +
      "and both aggs keep map-side partials") {
    val plan = finalPlan(SparkEntry.queries("q39_approx_distinct")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "3-row sketch join not broadcast")
    assert(!plan.contains("SortMergeJoin"), "sort-merge join of two tiny aggs")
  }

  test("q76 incremental dedup meets on band keys only — no all-pairs " +
      "join anywhere in the delta-vs-corpus plan") {
    val plan = finalPlan(SparkEntry.queries("q76_incremental_dedup")(spark, sf))
    assert(!plan.contains("CartesianProduct"), "all-pairs join in q76")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "theta-only join in q76")
    // the delta-id probe and the final drop filter are broadcasts
    assert(plan.contains("BroadcastHashJoin"), "delta probe not broadcast")
  }

  test("q68 chunk dedup never windows or sorts the instance rows: the " +
      "keeper is a hash-agg argmin over content hashes") {
    val plan = finalPlan(SparkEntry.queries("q68_chunk_dedup")(spark, sf))
    assert(!plan.contains("Window"), "chunk dedup must not window")
    // the keeper agg partial-aggregates map-side, so the exchange
    // carries one row per distinct chunk, not per instance
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"keeper argmin lost its map-side partial aggregation\n$plan")
  }

  test("q69 bigram top-k plans as TakeOrderedAndProject over one hash agg") {
    val plan = finalPlan(SparkEntry.queries("q69_top_bigrams")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "bigram top-k fell back to a global sort")
    assert(!plan.contains("Join"), "bigram counting must not join")
  }

  test("q77 BPE round: pair argmax is one hash-agg exchange topped by " +
      "TakeOrdered — no join, no global sort, map-side partials") {
    import org.apache.spark.sql.functions._
    val seqs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(trim(col("text")), " ").as("t"))
    val plan = finalPlan(graft.operators.TextOps.topPairPlan(seqs))
    assert(plan.contains("TakeOrderedAndProject"),
      "pair argmax fell back to a global sort")
    assert(!plan.contains("Join"), "pair counting must not join")
    assert(plan.contains("partial_count"),
      "pair counts lost their map-side partial aggregation")
    val exchanges = finalExchanges(plan)
    assert(exchanges == 1,
      s"expected exactly the pair-key agg exchange, got $exchanges\n$plan")
  }

  test("q79 encode tail: map-side projection over the pinned sequences — " +
      "no join, single presentation-sort exchange") {
    val plan = finalPlan(SparkEntry.queries("q79_bpe_encode")(spark, sf))
    assert(!plan.contains("Join"),
      s"encode stats must not join — the merge table is trainer state\n$plan")
    val exchanges = finalExchanges(plan)
    assert(exchanges == 1,
      s"expected only the final doc_id sort exchange, got $exchanges\n$plan")
  }

  test("q80 mixture: lang totals and grand total join back broadcast, " +
      "never sort-merge; epoch fan-out is a generate, not a join") {
    val plan = finalPlan(SparkEntry.queries("q80_epoch_mixture")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"per-lang totals fell out of broadcast\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row grand total should broadcast-nested-loop\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"mixture factors must not shuffle the corpus\n$plan")
    assert(plan.contains("Generate"), s"epoch fan-out lost its explode\n$plan")
    val exchanges = finalExchanges(plan)
    assert(exchanges <= 4,
      s"mixture exchange budget blown (2 tiny aggs + final sort): $exchanges\n$plan")
  }

  test("q71 outlier count probes with broadcast stats — never a window " +
      "or sort-merge join over the events table") {
    val plan = finalPlan(SparkEntry.queries("q71_anomaly_zscore")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "stats probe not broadcast")
    assert(!plan.contains("Window"),
      "per-type window would serialize each type into one task")
  }

  test("q91 SCD2 is join-free: one user_id shuffle feeds both window " +
      "groups through a single sort") {
    val plan = finalPlan(SparkEntry.queries("q91_scd2_intervals")(spark, sf))
    assert(!plan.contains("Join"), s"SCD2 build must not join\n$plan")
    // the run-collapse lag and the version/lead windows share one
    // (partition, order) spec: exactly one hash-partition exchange on
    // user_id (+ the output orderBy's range exchange), and the second
    // Window must NOT re-sort — filter preserves the first sort's order
    val sorts = plan.linesIterator.count(_.trim.startsWith("+- Sort"))
    assert(sorts <= 2, s"windows re-sorted: $sorts sorts\n$plan")
  }

  test("q90 cohort matrix: one fact pipeline — cohort sizes come from " +
      "a window over the matrix, never a second aggregation branch") {
    val plan = finalPlan(SparkEntry.queries("q90_cohort_retention")(spark, sf))
    assert(!plan.contains("CartesianProduct"))
    // first-seen agg + events⋈first-seen (user_id, reused) + per-user-day
    // dedup + matrix agg + matrix window + output sort — a second
    // fact-sized branch (the self-join formulation AQE fails to dedup)
    // would push this past the budget
    assert(finalExchanges(plan) <= 5,
      s"exchange budget blown: ${finalExchanges(plan)}\n$plan")
    val joins = plan.split("== Initial Plan ==")(0)
      .linesIterator.count(_.contains("HashJoin"))
    assert(joins <= 1, s"matrix should not self-join: $joins joins\n$plan")
  }

  test("q92 heavy hitters: MG sketch aggregates object-hash map-side; " +
      "the exact pass probes candidates with a broadcast semi-join") {
    val plan = finalPlan(SparkEntry.queries("q92_heavy_hitters")(spark, sf))
    assert(plan.contains("ObjectHashAggregate"),
      "MG aggregator should run as an object-hash aggregate")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "candidate probe should be a broadcast semi-join")
    assert(!plan.contains("SortMergeJoin"),
      "nothing in the sketch path may shuffle-sort the token stream")
  }

  test("q93 boilerplate: frequent-shingle probe broadcasts; no " +
      "sort-merge join over the index") {
    val plan = finalPlan(SparkEntry.queries("q93_boilerplate")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "frequent probe not broadcast")
    assert(!plan.contains("SortMergeJoin"), s"index shuffled for the probe")
  }

  test("q97 point-in-time join is join-free: union + carry-forward " +
      "window, one entity-key shuffle, no interval theta join") {
    val plan = finalPlan(SparkEntry.queries("q97_pit_join")(spark, sf))
    val finalSection = plan.split("== Initial Plan ==")(0)
    assert(!finalSection.linesIterator.exists(l =>
        l.contains("Join") && !l.contains("joinType")),
      s"PIT must compose as union+window, never a join\n$plan")
    assert(finalSection.contains("Window"), "carry-forward window missing")
  }

  test("q95 skew join: hot dim rows fan out into salted copies and the " +
      "fact join carries the salt in its key") {
    val plan = finalPlan(SparkEntry.queries("q95_skew_join")(spark, sf))
    assert(plan.contains("Generate explode"),
      "dim side must explode salted copies")
    val saltedJoin = plan.split("== Initial Plan ==")(0).linesIterator
      .exists(l => l.contains("Join") && l.contains("salt"))
    assert(saltedJoin, s"join key must include the salt\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q94 BM25: O(1) query terms broadcast into the postings; top-20 " +
      "is TakeOrderedAndProject, never a corpus sort") {
    val plan = finalPlan(SparkEntry.queries("q94_bm25_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), "top-k fell to a sort")
    assert(plan.contains("BroadcastHashJoin"), "term probe not broadcast")
  }

  test("q101 dup-spans: windows stream from the NGram Generator exactly " +
      "once (the df self-join form re-evaluates the corpus subtree " +
      "twice), and the doc-count rung is a window, not a join") {
    val plan = finalPlan(SparkEntry.queries("q101_dup_spans")(spark, sf))
    val finalSection = plan.split("== Initial Plan ==")(0)
    val generates = finalSection.linesIterator
      .count(_.toLowerCase.contains("ngramgenerator"))
    assert(generates == 1,
      s"expected exactly one Generate pass over the corpus, got $generates")
    assert(!finalSection.linesIterator.exists(l =>
        l.contains("Join") && !l.contains("joinType")),
      s"doc counting must be the h-partitioned window, never a join\n$plan")
    assert(finalSection.contains("Window"), "per-window doc count missing")
  }

  test("q102 semantic dedup below the knee: cluster-local candidates " +
      "via broadcast, codegen dot, no cartesian pair generation") {
    val plan = finalPlan(SparkEntry.queries("q102_semantic_dedup")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "below-knee candidate join must broadcast")
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      "pairs must meet on the cluster key, never all-pairs")
    assert(plan.toLowerCase.contains("floatvectordot"),
      "cosine must use the native codegen expression")
  }

  test("q105 snapshot diff: one full-outer join on the key, and only " +
      "(doc_id, md5) columns travel — text never reaches the join") {
    // count in the FINAL plan only (AQE's toString appends the initial
    // plan, which would double-count the join)
    val plan = finalPlan(SparkEntry.queries("q105_snapshot_diff")(spark, sf))
      .split("== Initial Plan ==").head
    assert(plan.contains("FullOuter"), s"expected a full-outer join:\n$plan")
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).length +
      "BroadcastHashJoin".r.findAllIn(plan).length == 1,
      "snapshot diff should be exactly one join")
    // the join's output columns are key + hashes, not text
    val joinLine = plan.linesIterator.find(_.contains("Join FullOuter"))
      .getOrElse(plan.linesIterator.find(_.contains("FullOuter")).getOrElse(""))
    assert(!joinLine.contains("text"), s"text reached the join: $joinLine")
  }

  test("q107 DSIR: the 4096-bucket model broadcasts into the scoring " +
      "pass; selection is TakeOrderedAndProject, no global sort") {
    val plan = finalPlan(
      SparkEntry.queries("q107_importance_weights")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the bucket model must broadcast into the token stream")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-50 selection must not be a global sort")
  }

  test("q108 PII scan is map-only up to the per-source aggregation: no " +
      "join, no window; regex work never shuffles text") {
    val plan = finalPlan(SparkEntry.queries("q108_pii_scan")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"PII scan should be join-free:\n$plan")
    assert(!plan.contains("Window"), "PII scan should not use a window")
    // exactly the agg exchange (partial → final) + the output sort's
    // range partitioning — nothing shuffles the text itself
    assert("Exchange".r.findAllIn(plan).length == 2,
      s"expected agg + sort exchanges only, got:\n$plan")
  }

  test("q111 NFC normalize runs inside whole-stage codegen (native " +
      "expression, not a UDF) and is join-free") {
    val df = SparkEntry.queries("q111_nfc_normalize")(spark, sf)
    val plan = finalPlan(df)
    assert(!plan.contains("Join"))
    assert(!plan.toLowerCase.contains("scalaudf"),
      "normalization must not be a UDF")
    // the expression appears inside a codegen stage, not a fallback
    val fmt = formatted(df)
    assert(fmt.toLowerCase.contains("normalizenfc"),
      s"expected the native expression in the plan:\n$fmt")
  }

  test("q112 weighted sample: one map pass + TakeOrderedAndProject — " +
      "no shuffle other than the top-k merge, no window") {
    val plan = finalPlan(SparkEntry.queries("q112_weighted_sample")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Window") && !plan.contains("Join"))
    assert(!plan.contains("Exchange"),
      s"weighted sampling should not shuffle:\n$plan")
  }

  test("q103 outliers: centroids join back broadcast and the scoring " +
      "pass uses the codegen mixed dot; no sort-merge anywhere") {
    val plan = finalPlan(SparkEntry.queries("q103_embed_outliers")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "label-count-sized centroid table must broadcast")
    assert(!plan.contains("SortMergeJoin"))
    assert(plan.toLowerCase.contains("vectordot"),
      "centroid cosine must use the native codegen expression")
  }

  test("q113 hybrid RRF: both corpus probes are broadcast joins, the " +
      "semantic side uses the codegen dot with its query filter pushed") {
    val plan = finalPlan(SparkEntry.queries("q113_hybrid_rrf")(spark, sf))
    assert(plan.toLowerCase.contains("floatvectordot"))
    assert(plan.contains("LessThan(vec_id,5)"),
      "query-vector filter must reach the embeddings scan")
    assert(plan.contains("BroadcastHashJoin"),
      "the query-vocabulary probe must broadcast into the tf table")
  }

  test("q114 temperature mix: the rate table broadcasts and the kept " +
      "filter is map-only — no sort-merge join, no document-text shuffle") {
    val df = SparkEntry.queries("q114_temperature_mix")(spark, sf)
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      "|sources|-row rate table must broadcast")
    assert(!plan.contains("SortMergeJoin"))
    val fmt = formatted(df)
    val reads = fmt.linesIterator.filter(_.trim.startsWith("ReadSchema"))
      .mkString("\n")
    assert(!reads.contains("n_chars") && !reads.contains("lang"),
      s"scan reads unused columns: $reads")
  }

  test("q115 novelty: the first-seer table joins back broadcast onto " +
      "the cached index") {
    val plan = finalPlan(SparkEntry.queries("q115_novelty_curve")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "vocabulary-sized seer table must broadcast")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q116 dataset card: two cascaded aggregations, totals re-attach " +
      "broadcast, and only (source, lang, text) are scanned") {
    val df = SparkEntry.queries("q116_dataset_card")(spark, sf)
    val plan = finalPlan(df)
    assert(!plan.contains("SortMergeJoin"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "1-row totals must re-attach broadcast")
    val fmt = formatted(df)
    val reads = fmt.linesIterator.filter(_.trim.startsWith("ReadSchema"))
      .mkString("\n")
    assert(!reads.contains("doc_id") && !reads.contains("n_chars"),
      s"scan reads unused columns: $reads")
  }

  test("q119 token budget: the corpus pass is aggregation-only; all " +
      "waterfill math runs on broadcast |sources|-sized relations") {
    val df = SparkEntry.queries("q119_token_budget")(spark, sf)
    val plan = finalPlan(df)
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"waterfill math must never shuffle-join:\n$plan")
    val fmt = formatted(df)
    val reads = fmt.linesIterator.filter(_.trim.startsWith("ReadSchema"))
      .mkString("\n")
    assert(!reads.contains("doc_id") && !reads.contains("n_chars"),
      s"scan reads unused columns: $reads")
  }

  test("q120 grouped quantiles: join-free — order statistics come from " +
      "the (source, value) count map, never a per-group document sort") {
    val plan = finalPlan(
      SparkEntry.queries("q120_length_quantiles")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"grouped quantiles must be join-free:\n$plan")
    assert(plan.contains("Window"), "count-map cumsum window missing")
    // the window input is the compact (source, v, c) count table: a
    // hash aggregate must run BELOW the window
    val belowWindow = plan.split("Window").last
    assert(belowWindow.contains("HashAggregate"),
      s"window must consume pre-aggregated counts, not raw documents:\n$plan")
  }

  test("q121 centroid drift: label-keyed means only — no pair join, " +
      "no cartesian; the cosine uses the codegen mixed dot") {
    val plan = finalPlan(
      SparkEntry.queries("q121_centroid_drift")(spark, sf))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.toLowerCase.contains("vectordot"),
      "drift cosine must use the native codegen expression")
    assert(!plan.contains("SortMergeJoin"),
      s"|labels|-sized joins must broadcast:\n$plan")
  }

  test("q123 index maintenance: one broadcast-argmax assignment pass, " +
      "no window sort over the table, no pair join") {
    val plan = finalPlan(
      SparkEntry.queries("q123_index_maintenance")(spark, sf))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"),
      s"assignment must be the max_by argmax, not a window rank:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"index maintenance must not shuffle-join or cross:\n$plan")
  }

  test("q124 adaptive gate: threshold table broadcasts back over the " +
      "scoring scan; the count-map window consumes aggregated rows") {
    val plan = finalPlan(
      SparkEntry.queries("q124_adaptive_quality_gate")(spark, sf))
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      "|sources|-row threshold table must broadcast")
    assert(!plan.contains("SortMergeJoin"))
    val belowWindow = plan.split("Window").last
    assert(belowWindow.contains("HashAggregate"),
      s"window must consume pre-aggregated (source, ppm) counts:\n$plan")
  }

  test("q130 operating curve: the threshold grid explodes the " +
      "|sources|-row aggregate, never the corpus, and the scan is " +
      "pruned to (source, text)") {
    val plan = formatted(
      SparkEntry.queries("q130_gate_operating_curve")(spark, sf))
    // Generate (the grid explode) must sit ABOVE every HashAggregate:
    // plan text prints parents first, so its first mention precedes the
    // aggregation's if and only if the fan-out happens post-agg
    val gen = plan.indexOf("Generate")
    val agg = plan.indexOf("HashAggregate")
    assert(gen >= 0 && agg >= 0 && gen < agg,
      s"grid explode must consume the aggregate, not the corpus:\n$plan")
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(readSchema.contains("source") && readSchema.contains("text") &&
      !readSchema.contains("doc_id") && !readSchema.contains("lang"),
      s"scan reads more than (source, text): $readSchema")
  }

  test("q128 substring dedup: ONE h-only exchange feeds both window " +
      "passes (no groupBy+join-back), the (h, doc_id) collapse is " +
      "partial-aggregated before its exchange, removal joins " +
      "broadcast, no sort-merge") {
    val plan = finalPlan(
      SparkEntry.queries("q128_substring_dedup_apply")(spark, sf))
      .split("== Initial Plan ==").head
    // since the tokArrays artifact replaced the per-reference doc_id
    // repartition (which incidentally satisfied the groupBy's
    // distribution), the (h, doc_id) collapse carries its own slim
    // exchange — one row per (h, doc_id) after map-side partial agg —
    // and the two windows still share ONE h-only exchange above it
    assert("Exchange hashpartitioning\\(h#\\d+L, \\d+\\)".r
        .findAllIn(plan).size == 1,
      s"dup-flag and canonical must share one h-only exchange:\n$plan")
    assert("Exchange hashpartitioning\\(h#\\d+L, doc_id#".r
        .findAllIn(plan).size == 1,
      s"expected the one partial-aggregated (h, doc_id) exchange:\n$plan")
    assert("windowspecdefinition\\(h#".r.findAllIn(plan).size == 2,
      s"expected exactly the two h-partitioned windows:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"removal path fell to SMJ:\n$plan")
  }

  test("q140 hier streamed-index pairs: the assignment build is " +
      "TWO-LEVEL (super routing + per-group scan expressions), with " +
      "no flat n-by-k crossJoin anywhere in the executed plan") {
    val plan = finalPlan(
      SparkEntry.queries("q140_stream_index_pairs_hier")(spark, sf))
    assert(plan.contains("nearestcellidsstatic"),
      s"vector routing must ride the static super scan:\n$plan")
    assert(plan.contains("nearestcellstop"),
      s"per-group cell scan must ride NearestCellsTop:\n$plan")
    // the flat build's signature: crossJoin(broadcast(k-row centroids))
    // physical-plans as a BroadcastNestedLoopJoin - its absence IS the
    // no-n-by-k-explosion pin
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"flat n-by-k build leaked into the hier route:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in the hier route:\n$plan")
  }

  test("q129 streamed-index pairs: the pair join reads the staged " +
      "assignment artifact, no broadcast-nested-loop anywhere") {
    val plan = finalPlan(
      SparkEntry.queries("q129_stream_index_pairs")(spark, sf))
    assert(plan.contains("graft_emb_asn"),
      s"join must consume the streamed artifact, not re-assign:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"pair join must stay an equi-join on c_id:\n$plan")
  }

  test("q133 shard layout: no corpus-wide window — every global " +
      "row_number consumes the |sources| aggregate, prefix windows " +
      "ride the blocked partitioning") {
    // ckpt = false: the registered query materializes the shared bins
    // relation (localCheckpoint), which truncates the final plan at the
    // checkpoint — the audit reads the untruncated twin (identical
    // logical shape, bit-identical offsets)
    val plan = finalPlan(graft.operators.TextOps.shardManifestPlan(
      spark, "/root/testdata/sf0.01", graft.operators.TextOps.PackBlockDocs,
      ckpt = false))
    val rn = plan.split("Window \\[row_number").drop(1)
    assert(rn.nonEmpty && rn.forall(_.contains("HashAggregate")),
      s"a row_number window runs over non-aggregated (corpus) input:\n$plan")
    assert(plan.contains("windowspecdefinition(blk#"),
      s"the token prefix must use the blocked two-level form:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q136 interleaved shards: no corpus-wide window — row_number " +
      "windows consume aggregates, the interleaved token prefix rides " +
      "the blocked partitioning, rate/index joins broadcast") {
    val plan = finalPlan(graft.operators.TextOps.interleavedShardsPlan(
      spark, "/root/testdata/sf0.01", graft.operators.TextOps.PackBlockDocs,
      ckpt = false))
    val rn = plan.split("Window \\[row_number").drop(1)
    assert(rn.nonEmpty && rn.forall(_.contains("HashAggregate")),
      s"a row_number window runs over non-aggregated (corpus) input:\n$plan")
    assert(plan.contains("windowspecdefinition(blk#"),
      s"the interleaved prefix must use the blocked form:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q138 contaminated shards: no corpus-wide window (prefix rides " +
      "the blocked form, row_numbers consume aggregates), the " +
      "contamination join broadcasts, no nested-loop anywhere") {
    val plan = finalPlan(graft.operators.TextOps.contaminatedShardsPlan(
      spark, "/root/testdata/sf0.01", graft.operators.TextOps.PackBlockDocs,
      ckpt = false))
    val rn = plan.split("Window \\[row_number").drop(1)
    assert(rn.nonEmpty && rn.forall(_.contains("HashAggregate")),
      s"a row_number window runs over non-aggregated (corpus) input:\n$plan")
    assert(plan.contains("windowspecdefinition(blk#"),
      s"the token prefix must use the blocked two-level form:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"contamination flag must stay an equi-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no join should fall to SMJ at this sf:\n$plan")
  }

  test("q141 repetition-interleaved shards: replication is an explode " +
      "of a sequence literal (no join blowup), the global prefix rides " +
      "the key-range blocked form, no corpus-wide window, no cartesian, " +
      "no sort-merge") {
    val plan = finalPlan(graft.operators.TextOps.repetitionShardsPlan(
      spark, "/root/testdata/sf0.01", graft.operators.TextOps.PackBlockDocs,
      ckpt = false))
    assert(plan.contains("Generate explode(sequence("),
      s"epoch replication must be a per-row sequence explode:\n$plan")
    assert(plan.contains("windowspecdefinition(blk#"),
      s"the interleaved prefix must use the blocked form:\n$plan")
    // every window partitions on a blocking/source column — a corpus-
    // wide prefix window would open with its ORDER column + sort dir
    val wins = plan.split("windowspecdefinition\\(").drop(1)
    assert(wins.nonEmpty && wins.forall(w0 =>
      w0.startsWith("blk#") || w0.startsWith("source#") ||
        w0.startsWith("src#")),
      s"unpartitioned (corpus-wide) window in the plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in the repetition route:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a join fell to SMJ at this sf:\n$plan")
  }

  test("q142 resume manifest: the consumed-budget C is a 1-row " +
      "broadcast over the checkpointed stream, the manifest is one " +
      "map-side-combinable per-source aggregate, every window is " +
      "partitioned (no corpus-wide window), no cartesian/SMJ") {
    val plan = finalPlan(graft.operators.TextOps.resumeManifestPlan(
      spark, "/root/testdata/sf0.01", graft.operators.TextOps.PackBlockDocs,
      ckpt = false))
    val wins = plan.split("windowspecdefinition\\(").drop(1)
    assert(wins.forall(w0 =>
      w0.startsWith("blk#") || w0.startsWith("source#") ||
        w0.startsWith("src#")),
      s"unpartitioned (corpus-wide) window in the plan:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in the resume route:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a join fell to SMJ at this sf:\n$plan")
    // partial+final aggregation over the stream (map-side combine)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregation:\n$plan")
  }

  test("q143 interleave runs: run detection windows partition on " +
      "shard_id (shard-sized partitions, one shared sort), the stream " +
      "prefix rides the blocked form, no corpus-wide window, no SMJ") {
    val plan = finalPlan(graft.operators.TextOps.interleaveRunsPlan(
      spark, "/root/testdata/sf0.01", graft.operators.TextOps.PackBlockDocs,
      ckpt = false))
    assert(plan.contains("windowspecdefinition(shard_id#"),
      s"run detection must window per shard:\n$plan")
    assert(plan.contains("windowspecdefinition(blk#"),
      s"the interleaved prefix must use the blocked form:\n$plan")
    val wins = plan.split("windowspecdefinition\\(").drop(1)
    assert(wins.forall(w0 =>
      w0.startsWith("blk#") || w0.startsWith("source#") ||
        w0.startsWith("src#") || w0.startsWith("shard_id#")),
      s"unpartitioned (corpus-wide) window in the plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a join fell to SMJ at this sf:\n$plan")
  }

  test("shard-family ckpt=false audit twins compute the REGISTERED " +
      "queries' exact rows (ADVICE r17: the six plan audits above " +
      "inspect the untruncated twin, so pin twin ≡ registered here)") {
    import graft.operators.TextOps
    val sf1k = "/root/testdata/sf0.001"
    val bd = TextOps.PackBlockDocs
    val twins: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "q133_shard_manifest" ->
        TextOps.shardManifestPlan(spark, sf1k, bd, ckpt = false),
      "q136_interleaved_shards" ->
        TextOps.interleavedShardsPlan(spark, sf1k, bd, ckpt = false),
      "q138_contaminated_shards" ->
        TextOps.contaminatedShardsPlan(spark, sf1k, bd, ckpt = false),
      "q141_repetition_shards" ->
        TextOps.repetitionShardsPlan(spark, sf1k, bd, ckpt = false),
      "q142_resume_manifest" ->
        TextOps.resumeManifestPlan(spark, sf1k, bd, ckpt = false),
      "q143_interleave_runs" ->
        TextOps.interleaveRunsPlan(spark, sf1k, bd, ckpt = false))
    twins.foreach { case (name, twin) =>
      val reg = SparkEntry.queries(name)(spark, sf1k)
        .collect().map(_.toString).sorted.toSeq
      val tw = twin.collect().map(_.toString).sorted.toSeq
      assert(reg == tw,
        s"$name: registered (checkpointed) query diverged from its " +
          s"ckpt=false audit twin\nreg: $reg\ntwin: $tw")
    }
  }

  test("q139 epoch plan: one map-side-combinable corpus aggregate, the " +
      "1-row global broadcast back, no window and no sort-merge") {
    val plan = finalPlan(
      SparkEntry.queries("q139_epoch_plan")(spark, sf))
    assert(!plan.contains("Window"),
      s"planner math must run on aggregates, never a window:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the 1-row global must broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected the broadcast global join:\n$plan")
    // partial aggregation before the source-key exchange: the corpus
    // rows combine map-side, so the shuffle carries |sources|-ish rows
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregation:\n$plan")
  }

  test("q12/q13/q45: Expand consumes the finest-grain aggregate, not " +
      "the corpus (r18 agg-before-expand), and results equal the " +
      "direct rollup/cube/grouping-sets form") {
    import org.apache.spark.sql.functions._
    import graft.functions.Exact._
    for ((name, direct) <- Seq[(String, DataFrame)](
      ("q12_rollup", graft.sources.Tables.lineitem(spark, sf)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sumd2(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))),
      ("q13_cube", graft.sources.Tables.orders(spark, sf)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumd2(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("n"), col("sum_price"))),
      ("q45_grouping_sets", graft.sources.Tables.lineitem(spark, sf)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sumd2(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))))) {
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = formatted(df)
      // the Expand detail block must read the pre-aggregated columns
      // (pn/pq/pp), never a raw fact column — i.e. it sits ABOVE the
      // finest-grain aggregate instead of multiplying the corpus
      val expandBlock = plan.split("\n\n")
        .find(b => b.matches("(?s)\\(\\d+\\) Expand.*"))
        .getOrElse(fail(s"$name: no Expand block in plan:\n$plan"))
      assert(expandBlock.contains("pn#"),
        s"$name: Expand consumes raw rows, not the base aggregate:\n$expandBlock")
      assert(!expandBlock.contains("l_quantity#") &&
        !expandBlock.contains("o_totalprice#"),
        s"$name: Expand still carries a fact column:\n$expandBlock")
      // exact equivalence with the direct (single-level) form
      val got = df.collect().map(_.toSeq).sortBy(_.mkString("|"))
      val want = direct.collect().map(_.toSeq).sortBy(_.mkString("|"))
      assert(got.toSeq == want.toSeq, s"$name: rewrite drifted from direct form")
    }
  }

  test("q04: the HAVING threshold derives from the materialized per-key " +
      "aggregate — one lineitem scan, no second distinct pass (r18)") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("q04_having_threshold")(spark, sf)
    val plan = formatted(df)
    val finalTree = plan.split("== Initial Plan ==").head
    assert(!finalTree.contains("Scan parquet"),
      s"threshold branch re-scans the corpus:\n$finalTree")
    // equivalence with the direct two-scan form
    val li = graft.sources.Tables.lineitem(spark, sf)
    val thr = li.agg(
      (count(lit(1)) / countDistinct(col("l_suppkey"))).as("thr"))
    val direct = li.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.sumd2(col("l_quantity")).as("qty"))
      .crossJoin(broadcast(thr))
      .filter(col("n") >= col("thr"))
      .select(col("l_suppkey"), col("n"), col("qty"))
    val got = df.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val want = direct.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(got.toSeq == want.toSeq, "q04 rewrite drifted from direct form")
  }

  test("q16 window running: ONE hash exchange establishes l_orderkey " +
      "partitioning for both the aggregation and the window (r18 §2.4)") {
    val df = SparkEntry.queries("q16_window_running")(spark, sf)
    val full = formatted(df)
    // the FINAL plan tree: exactly two exchanges — the up-front
    // l_orderkey hash repartition (shared by the aggregation and the
    // window) and the output-order range sort; three would mean the
    // aggregate re-introduced its own (l_orderkey, l_linenumber) shuffle
    val finalTree = full.split("== Initial Plan ==").head
    val exchanges = "Exchange \\(".r.findAllIn(finalTree).size
    assert(exchanges == 2,
      s"expected two exchanges (repartition + range), got $exchanges:\n$finalTree")
    assert(full.contains("REPARTITION_BY_COL"),
      s"the explicit l_orderkey repartition is gone:\n$full")
    assert(finalTree.contains("Window"), s"window lost:\n$finalTree")
  }

  test("q122 bucketed join: sort-merge with NO exchange below the " +
      "join — bucketing replaces the per-query shuffle") {
    val plan = finalPlan(
      SparkEntry.queries("q122_bucketed_join")(spark, sf))
      .split("== Initial Plan ==").head
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    // everything below the join must be scan-only: the section after
    // the SMJ node lists its two bucketed-scan subtrees
    val below = plan.split("SortMergeJoin").last
    assert(!below.contains("Exchange"),
      s"bucketed join still shuffles its inputs:\n$plan")
    assert(below.toLowerCase.contains("bucketed: true"),
      s"scans must report bucketed reads:\n$below")
  }
}
