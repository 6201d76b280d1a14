package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, SessionCache}
import graft.QueryDef.sql
import graft.sources.Tables._

/** Text / document operators for large-scale training-data pipelines:
  * exact + near dedup (MinHash-LSH, SimHash), n-gram Jaccard similarity,
  * token statistics, quality scoring, language-ID heuristics, and
  * rolling-hash fingerprints — all over the `documents` table.
  *
  * Cross-engine determinism: every hash routes through
  * `md5(token) → first 15 hex digits → int64` — a construction both
  * Spark (`conv(substr(md5(t),1,15),16,10)`) and ANSI-ish SQL
  * (`CAST('0x'||substr(md5(t),1,15) AS BIGINT)`) evaluate identically,
  * so MinHash signatures, SimHash bits, and fingerprints hash-match the
  * oracle exactly. Everything stays in built-in higher-order functions
  * (transform/filter/aggregate/array_*) — no UDFs, so whole-stage
  * codegen applies end-to-end.
  *
  * Scale posture (100 TB of documents):
  *  - dedup groups by a 128-bit content hash, never by raw text (shuffle
  *    keys stay 16 bytes);
  *  - near-dup candidate generation is LSH banding (shuffle per band
  *    signature), never all-pairs;
  *  - exact-Jaccard pair generation goes through the inverted token
  *    index (join on token), so only documents sharing a token meet;
  *  - per-doc scoring ops are pure map-side projections (no shuffle).
  */
object TextOps {

  private val P = 2147483647L // 2^31 - 1
  private val FpMod = 1000000007L

  /** md5-derived 60-bit token hash — identical in Spark and the oracle. */
  private def tokHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** whitespace tokens of trimmed text (data is single-space joined). */
  private def toks(c: Column): Column = split(trim(c), " ")

  /** Distinct-2-word-shingle inverted index: one row per (doc_id,
    * shingle), via the custom `ShingleGenerator` UDTF (§2.I) — the
    * tokenizer is the generator's child, evaluated exactly once per
    * document inside `GenerateExec`, then shingle rows stream out. No
    * window/sort, and structurally immune to the optimizer alias-
    * inlining that makes array-lambda formulations re-tokenize the
    * document per element (O(n²) per doc; see ShingleGenerator docs).
    *
    * The one shuffle is an EXPLICIT repartition (REPARTITION_BY_NUM):
    * AQE would otherwise coalesce this small exchange to one partition
    * and serialize the ~50× generator expansion plus the candidate join
    * past it. The distinct (clustered by doc_id → no new exchange), the
    * per-doc signature/size aggregations, and any broadcast-join probe
    * over the index all inherit the full width.
    *
    * Single-token docs yield no shingles, matching DuckDB's
    * `list_distinct` null-dropping oracle semantics.
    */
  /** Stop-shingle document-frequency cap on the shared inverted index:
    * shingles appearing in more than this many documents are dropped
    * before any candidate join — a single hot shingle is otherwise a
    * df²/2 quadratic key at corpus scale. 1000 bounds any one shingle's
    * candidate contribution to ≤ 500k pairs regardless of corpus size
    * (the CountVectorizer-maxDF / stop-word-removal standard for dedup
    * pipelines), and the capped-set Jaccard semantic is mirrored
    * literally in the q26/q27/q49 oracle CTEs.
    *
    * Deliberately ABSOLUTE, not a percent of the corpus: this corpus has
    * a ~930-shingle vocabulary with median df ≈ 5.7% of documents
    * (measured at sf0.1), so a "1–5% of docs" cap would drop ~98% of the
    * index and replace the 256 true ≥0.4-Jaccard pairs with ~215k
    * spurious one-shingle matches (measured at cap = 5%). At test SFs
    * (max df 338) the cap is inactive — results are bit-identical to
    * the uncapped semantics — while at real scale it activates exactly
    * on the keys that would quadratically blow up.
    */
  private val ShingleDfCap = 1000L

  /** The capped index PLAN, un-materialized — exposed so `PlanAuditSpec`
    * can pin the df-cap anti-join and the generator's lambda-free shape,
    * which the checkpoint in [[shingleIndex]] would otherwise hide
    * behind an RDD scan. */
  private[graft] def shingleIndexPlan(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.classic.GraftBridge
    val shingles = GraftBridge.column(graft.functions.ShingleGenerator(
      GraftBridge.expression(toks(col("text")))))
    // explicit width BEFORE the generator (the one-file local scan is a
    // single partition; the expansion, md5 work, and dedup inherit the
    // full width from the exchange) — and the whole build runs exactly
    // once because [[shingleIndex]] checkpoints the result, so the
    // 4-6 consumers per query never re-run it.
    val raw = documents(s, d)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), shingles.as("tok"))
      .dropDuplicates("doc_id", "tok")
    // hot-shingle removal as a BROADCAST anti-join: the hot set has at
    // most index_rows / cap entries (each needs > cap occurrences), so
    // it stays driver-small and the probe is map-side — the index keeps
    // its doc_id clustering for the per-doc signature/size aggregations
    // downstream. The two consumers of `raw` share one physical scan via
    // exchange reuse on the explicit repartition.
    val hot = raw.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") > ShingleDfCap)
      .select(col("tok"))
    raw.join(broadcast(hot), Seq("tok"), "left_anti")
  }

  /** The shared capped inverted index, one session artifact per corpus
    * snapshot (see [[graft.SessionCache]] for why it is materialized). */
  private def shingleIndex(s: SparkSession, d: String): DataFrame =
    SessionCache.checkpoint("shingleIndex", s, d)(shingleIndexPlan(s, d))

  /** The tokenized corpus (doc_id, w: array<string>) as a per-(session,
    * snapshot) DISK artifact — the token-array sibling of [[tfPostings]]
    * (round 15's retrieval-family win): any plan that references the
    * split corpus more than once re-runs the scan+split per REFERENCE
    * under lazy lineage, so consumers with several references (q128
    * holds three) read this instead. Written repartitioned on doc_id at
    * the session's parallelism so downstream explodes fan out evenly
    * regardless of the source file count. At 100 TB this is the
    * materialized tokenization every production pipeline keeps beside
    * the raw text — same artifact, durable medium. */
  private def tokArrays(s: SparkSession, d: String): DataFrame =
    SessionCache.checkpoint("tokArrays", s, d)(
      documents(s, d)
        .select(col("doc_id"), toks(col("text")).as("w"))
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))

  /** AllPairs/PPJoin-style RANKED index over the capped shingle index:
    * one row per (doc_id, h) with the token's rank `r` under the global
    * (df ASC, h ASC) token order and the doc's capped size `n`. The
    * rarest-first total order is what makes PREFIX FILTERING exact: any
    * pair with |A∩B| ≥ α shares its first common token within the first
    * |X| − α + 1 tokens of BOTH documents under any common total order,
    * and ordering by ascending document frequency puts the least
    * candidate-generating tokens in every prefix (Chaudhuri et al.
    * SSJoin / Bayardo et al. "Scaling Up All Pairs Similarity Search").
    *
    * The df join is broadcast (vocabulary-sized: one row per distinct
    * shingle hash), and both window functions share the single doc_id
    * exchange the checkpointed index already satisfies. Consumed by the
    * exact-similarity pair generators (q27 Jaccard, q55 containment) —
    * 2 self-join sides each — so it is session-cached like the index it
    * ranks; at 100 TB it persists beside the index as part of the same
    * per-snapshot dedup artifact set.
    */
  private[graft] def rankedIndexPlan(s: SparkSession, d: String): DataFrame = {
    val th = shingleIndex(s, d)
      .select(col("doc_id"), tokHash(col("tok")).as("h"))
    val df = th.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val wAll = Window.partitionBy(col("doc_id"))
    th.join(broadcast(df), Seq("h"))
      .select(col("doc_id"), col("h"),
        row_number().over(wOrd).as("r"),
        count(lit(1)).over(wAll).as("n"))
  }

  private def rankedIndex(s: SparkSession, d: String): DataFrame =
    SessionCache.checkpoint("rankedIndex", s, d)(rankedIndexPlan(s, d))

  /** Σ df·(df−1)/2 over the capped index — EXACTLY the pair-row volume
    * the inverted-index count-shuffle formulation generates, computed
    * from one pass over the session-cached index and memoized beside
    * it. This is the cost statistic the q27/q55 path gate reads. */
  private[graft] def pairVolume(s: SparkSession, d: String): Long =
    SessionCache.memo[java.lang.Long]("pairVolume", s, d)(Long.box(
      shingleIndex(s, d)
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .agg(sum(expr("df * (df - 1) div 2")).cast("long"))
        .head().getLong(0)))

  /** Path gate for the exact pair generators (the q34 cost-gated-index
    * pattern applied to the dedup flagship): BELOW this pair-row volume
    * the round-8 count-shuffle plan — index self-join on the hash key,
    * one count per shared occurrence — is cheaper (measured: 3.6 s at
    * ~31M pair rows / sf0.1 vs 6.4 s for prefix-filter, because the
    * filter pays ranked-prefix construction plus per-candidate array
    * verification); ABOVE it the Σdf²/2 shuffle dominates everything
    * (measured: 89 s at ~314M pair rows / sf1 vs 15 s prefix-filtered)
    * and the prefix-filter + verify plan is the only scale-viable one.
    * Both paths compute the IDENTICAL relation (the prunes are lossless
    * and the verifier reproduces join-count semantics — equivalence
    * spec-pinned at fixture scale), so the gate changes cost only. */
  private[graft] val PairCountKnee = 60000000L

  /** Per-document SORTED array of capped-index token hashes (plus its
    * length): the compact verification artifact for candidate pairs.
    * `SortedIntersectCount` over two of these arrays reproduces the
    * inverted-index join + pair-count semantics exactly (multiset run
    * products — see its scaladoc), at O(|A|+|B|) per pair with no
    * pair-level shuffle. ~`avg_shingles × 8` bytes per document (≈400 B
    * here), so the whole table is megabytes up to ~10⁵ documents.
    */
  private[graft] def docHashArraysPlan(s: SparkSession, d: String): DataFrame =
    shingleIndex(s, d)
      .select(col("doc_id"), tokHash(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("n"))

  private def docHashArrays(s: SparkSession, d: String): DataFrame =
    SessionCache.checkpoint("docHashArrays", s, d)(docHashArraysPlan(s, d))

  /** Attach both documents' sorted hash arrays (+ sizes) to (d1, d2)
    * candidate pairs as broadcast map-side probes. The per-doc array
    * relation is ~400 B a document, so about 20 MB at sf1's 50k
    * documents (measured at a 150k-doc corpus: two ~200 MB broadcasts
    * still ran q27 faster than shuffling the candidate stream on the
    * pair keys). */
  private def withPairArrays(s: SparkSession, d: String,
      cand: DataFrame): DataFrame = {
    val arrs = docHashArrays(s, d)
    val va = arrs.select(col("doc_id").as("d1"), col("hs").as("hs1"),
      col("n").as("n1"))
    val vb = arrs.select(col("doc_id").as("d2"), col("hs").as("hs2"),
      col("n").as("n2"))
    cand.join(broadcast(va), "d1").join(broadcast(vb), "d2")
  }

  /** (tok, cnt) corpus unigram vocabulary — one corpus explode+hash-agg,
    * materialized once per (session, sfDir); shared by the vocabulary
    * audit (q59) and the unigram LM scorer (q64). */
  private def vocabCounts(s: SparkSession, d: String): DataFrame =
    SessionCache.checkpoint("vocabCounts", s, d) {
      documents(s, d)
        .select(explode(toks(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    }

  /** (j, a, b) MinHash permutation constants — fixed seed, mirrored
    * literally in the oracle SQL. */
  private val perms: Seq[(Int, Long, Long)] = Seq(
    (0, 1373158607L, 239081663L), (1, 53710185L, 1592467581L),
    (2, 590620973L, 525901256L), (3, 479341425L, 299655412L),
    (4, 1581559893L, 220106707L), (5, 1453201079L, 1590571865L),
    (6, 1915941033L, 1171165722L), (7, 186699715L, 1268073012L),
    (8, 906070221L, 68252793L), (9, 63989049L, 201209005L),
    (10, 469521479L, 499635468L), (11, 1085242217L, 1292825378L),
    (12, 56985563L, 1205264595L), (13, 427000597L, 1537640408L),
    (14, 1395616197L, 1506083910L), (15, 1170252925L, 900911954L))

  private val permsSqlValues: String = perms
    .map { case (j, a, b) => s"($j, $a, $b)" }.mkString(", ")

  /** Exact deduplication via content hash — group by md5(text), the
    * at-scale pattern (16-byte shuffle keys instead of raw documents).
    */
  val q25DedupExact: QueryDef = sql(
    "q25_dedup_exact",
    """WITH g AS (SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS copies
      |           FROM documents GROUP BY 1)
      |SELECT count(*) AS n_groups,
      |       CAST(sum(copies) AS BIGINT) AS n_docs,
      |       CAST(sum(copies - 1) AS BIGINT) AS n_dupes,
      |       min(keep_id) AS first_keep
      |FROM g""") { (s, d) =>
    documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(col("copies")).cast("long").as("n_docs"),
        sum(col("copies") - 1).cast("long").as("n_dupes"),
        min(col("keep_id")).as("first_keep"))
  }

  /** MinHash + LSH near-duplicate detection: distinct word shingles →
    * 16 minhashes ((a*h+b) mod p over md5-derived token hashes) → 4
    * bands of 4 → candidate pairs share a band signature → verified with
    * exact Jaccard ≥ 0.5. The banding join is the scale path: candidates
    * meet on 4 band-signature shuffle keys, never all-pairs.
    *
    * The oracle keeps the relational formulation (cross join with the
    * permutation table + groupBy-min); the Spark side computes identical
    * signatures one-pass through `MinHashAggregator` — a 16-long buffer
    * per document, so the shuffle carries one row per token instead of
    * 16 (equality of the two forms is pinned by `MinHashAggregatorSpec`).
    */
  /** the shared CTE chain computing verified near-dup pairs (no final
    * SELECT): `j` holds (d1, d2, jac) for all LSH candidates. */
  private val minHashPairsCtes: String =
    s"""w AS (SELECT doc_id, string_split(trim(text), ' ') AS w
      |           FROM documents),
      |d0 AS (SELECT doc_id, list_distinct(list_transform(
      |        range(1, greatest(len(w), 2)), i -> w[i] || ' ' || w[i+1])) AS tk
      |      FROM w),
      |t0 AS (SELECT doc_id, unnest(tk) AS tok FROM d0),
      |tdf AS (SELECT tok, count(*) AS df FROM t0 GROUP BY 1),
      |t AS (SELECT doc_id, tok FROM t0 JOIN tdf USING (tok) WHERE df <= 1000),
      |d AS (SELECT doc_id, list(tok) AS tk FROM t GROUP BY 1),
      |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % $P AS hv FROM t),
      |perms(j, a, b) AS (VALUES $permsSqlValues),
      |mh AS (SELECT doc_id, j, j // 4 AS band, min((a * hv + b) % $P) AS m
      |       FROM h CROSS JOIN perms GROUP BY doc_id, j),
      |sig AS (SELECT doc_id, band, string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS s
      |        FROM mh GROUP BY doc_id, band),
      |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |         FROM sig x JOIN sig y ON x.band = y.band AND x.s = y.s AND x.doc_id < y.doc_id),
      |j AS (SELECT d1, d2,
      |        CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.tk, b.tk))) AS jac
      |      FROM cand JOIN d a ON a.doc_id = d1 JOIN d b ON b.doc_id = d2)""".stripMargin.trim

  private val minHashOracle: String =
    s"""WITH $minHashPairsCtes
      |SELECT d1, d2, round(jac, 6) AS jaccard
      |FROM j WHERE jac >= 0.5 ORDER BY d1, d2""".stripMargin.trim

  /** Verified near-duplicate pairs (d1 < d2, exact jaccard ≥ 0.5) — the
    * full q26 pipeline minus presentation; shared with the clustering
    * operator (q49). */
  /** (doc_id, band, s) LSH band signatures over the shared capped index —
    * one-pass signatures: the 16 minhashes are 16 declarative min()
    * columns in a SINGLE Tungsten HashAggregate — one codegen pass
    * over one row per token (not token×permutation as the relational
    * oracle form shuffles), primitive fixed-width buffers, map-side
    * partial combine, and the groupBy reuses the index's doc_id
    * partitioning so no new shuffle. (The equivalent typed
    * `MinHashAggregator` exists as the §2.I UDAF rung, but
    * ObjectHashAggregate falls back to sort-based aggregation with
    * serialized buffers past 128 groups — measured strictly slower
    * here than the flat-min form.) Shared by the corpus-wide pair scan
    * (q26/q49) and the incremental delta-vs-corpus dedup (q76) — and
    * consumed 2-4 times per query (self-join sides, delta + corpus
    * probes), so it is session-cached like the index it derives from:
    * one corpus-wide signature aggregation per (session, sfDir), which
    * is also the persisted-artifact posture a real pipeline takes (the
    * signature table IS the dedup index a 100 TB ingest keeps per
    * corpus snapshot). */
  private[graft] def bandSignatures(s: SparkSession, d: String): DataFrame =
    SessionCache.checkpoint("bandSignatures", s, d)(bandSignaturesPlan(s, d))

  private def bandSignaturesPlan(s: SparkSession, d: String): DataFrame = {
    val idx = shingleIndex(s, d)
    val hashed = idx.select(col("doc_id"), (tokHash(col("tok")) % P).as("hv"))
    val sigCols = perms.map { case (j, a, b) =>
      min((lit(a) * col("hv") + lit(b)) % P).as(s"m$j") }
    val sigArr = hashed.groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
    // 4 bands of 4: band b's signature string = m[4b..4b+3] joined —
    // same j-ordered string the relational/oracle form aggregates.
    val bandCols = (0 until 4).map { bIdx =>
      struct(lit(bIdx).as("band"),
        concat_ws(",", (0 until 4).map(j =>
          col(s"m${bIdx * 4 + j}").cast("string")): _*).as("s")) }
    sigArr
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.s").as("s"))
  }

  /** Exact-Jaccard verification of (d1, d2) candidate pairs through the
    * inverted index: shared shingles counted per candidate pair (|A∩B|
    * as an equi-join + count), |A∪B| = n1 + n2 - inter. Integer counts →
    * the double division is bit-identical to the oracle's
    * list_intersect form. Returns pairs with jac ≥ `threshold`. */
  private[graft] def verifiedJaccard(s: SparkSession, d: String, cand: DataFrame,
      threshold: Double): DataFrame = {
    val idx = shingleIndex(s, d)
    val sz = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val ia = idx.select(col("doc_id").as("d1"), col("tok"))
    val ib = idx.select(col("doc_id").as("d2"), col("tok"))
    cand.join(ia, "d1").join(ib, Seq("d2", "tok"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jac",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))
  }

  def minHashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = bandSignatures(s, d)
    val x = sig.as("x")
    val y = sig.as("y")
    val cand = x.join(y,
        col("x.band") === col("y.band") && col("x.s") === col("y.s") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    verifiedJaccard(s, d, cand, threshold = 0.5)
  }

  val q26MinHashLsh: QueryDef =
    QueryDef("q26_minhash_lsh", (s, d) =>
      minHashPairs(s, d)
        .select(col("d1"), col("d2"), round(col("jac"), 6).as("jaccard"))
        .orderBy(col("d1"), col("d2")),
      Some(minHashOracle))

  /** Exact n-gram Jaccard pairs on 2-word shingles: AllPairs/PPJoin
    * prefix-filtered candidate generation over the ranked inverted
    * index, then per-pair verification against broadcast sorted hash
    * arrays — |A∩B| / (|A|+|B|−|A∩B|) ≥ 0.4, exact (no LSH misses).
    * Word shingles (vs unigrams) separate true near-duplicates from
    * shared-vocabulary noise.
    *
    * The ORACLE keeps the plain inverted-index self-join + pair-count
    * formulation — the Spark plan computes the identical relation by a
    * chain of LOSSLESS prunes (each a published exact-similarity-join
    * bound, integer arithmetic on both engines):
    *  - df cap on the index (see [[ShingleDfCap]]), mirrored in the
    *    oracle CTE;
    *  - PREFIX FILTER: jac ≥ 0.4 with the length filter forces overlap
    *    ≥ ⌈0.4·|X|⌉, so both docs' first |X| − ⌈0.4·|X|⌉ + 1 tokens
    *    under the global (df ASC, h ASC) order must share a token — the
    *    self-join runs on ~60% of the index rows, biased to RARE tokens
    *    (the df² blow-up keys never enter the join);
    *  - LENGTH FILTER: jac ≥ 0.4 forces 5·min(|A|,|B|) ≥ 2·max;
    *  - POSITIONAL FILTER (PPJoin): a shared token at ranks (r1, r2)
    *    bounds the overlap by 1 + min(n1−r1, n2−r2), which must reach
    *    ⌈2(n1+n2)/7⌉ = ⌈(jac/(1+jac))·(n1+n2)⌉; the pair survives if
    *    ANY shared prefix token passes (its first common token always
    *    does when the pair qualifies);
    *  - exact verification: distinct surviving pairs probe the
    *    broadcast per-doc sorted hash arrays and `SortedIntersectCount`
    *    reproduces the join-count semantics per pair.
    * Versus counting intersections through the raw index self-join
    * (round-8 shape), this shuffles candidate PAIRS once (16 B keys)
    * instead of every shared-shingle occurrence into a 78M-group
    * aggregation — the stage that made the decade step superlinear.
    *
    * PATH GATE (the q34 cost-gated-index pattern): the count-shuffle
    * plan is actually CHEAPER below [[PairCountKnee]] pair rows — no
    * ranked-prefix build, no per-candidate verification — so the query
    * reads the Σ df²/2 statistic off the cached index and picks the
    * plan ([[jaccardCountPath]] / [[jaccardPrefixPath]]); equivalence
    * of the two relations is spec-pinned, and the oracle (which states
    * the RESULT, in the count formulation) is unchanged either way.
    */
  val q27JaccardPairs: QueryDef = sql(
    "q27_jaccard_pairs",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w
      |           FROM documents),
      |d0 AS (SELECT doc_id, list_distinct(list_transform(
      |        range(1, greatest(len(w), 2)), i -> w[i] || ' ' || w[i+1])) AS tk
      |      FROM w),
      |t0 AS (SELECT doc_id, unnest(tk) AS tok FROM d0),
      |tdf AS (SELECT tok, count(*) AS df FROM t0 GROUP BY 1),
      |t AS (SELECT doc_id, tok FROM t0 JOIN tdf USING (tok) WHERE df <= 1000),
      |sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
      |th AS (SELECT t.doc_id, CAST(concat('0x', substr(md5(t.tok), 1, 15)) AS BIGINT) AS h, sz.n
      |       FROM t JOIN sz USING (doc_id)),
      |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |      FROM th a JOIN th b ON a.h = b.h AND a.doc_id < b.doc_id
      |        AND 5 * a.n >= 2 * b.n AND 5 * b.n >= 2 * a.n
      |      GROUP BY 1, 2),
      |j AS (SELECT d1, d2, CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jac
      |      FROM p JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2)
      |SELECT d1, d2, round(jac, 6) AS jaccard
      |FROM j WHERE jac >= 0.4 ORDER BY d1, d2""") { (s, d) =>
    val pv = pairVolume(s, d)
    if (pv <= PairCountKnee) jaccardCountPath(s, d)
    else jaccardPrefixPath(s, d)
  }

  /** Sub-knee q27 plan: index self-join on the hash key + one count row
    * per shared occurrence — the cheapest plan while Σ df²/2 stays
    * small (see [[PairCountKnee]]). The sizes ride through the join
    * only for the length filter; the aggregation key stays (d1, d2). */
  private[graft] def jaccardCountPath(s: SparkSession, d: String): DataFrame = {
    val t = shingleIndex(s, d)
    val sz = t.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val th = t.join(sz, "doc_id")
      .select(col("doc_id"), tokHash(col("tok")).as("h"), col("n"))
    val a = th.select(col("doc_id").as("d1"), col("h"), col("n").as("n1"))
    val b = th.select(col("doc_id").as("d2"), col("h"), col("n").as("n2"))
    a.join(b, Seq("h"))
      .filter(col("d1") < col("d2") &&
        col("n1") * 5 >= col("n2") * 2 && col("n2") * 5 >= col("n1") * 2)
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jac",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jac") >= 0.4)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Above-knee q27 plan: the AllPairs/PPJoin prefix-filter chain (see
    * the q27 scaladoc) + broadcast sorted-array verification. */
  private[graft] def jaccardPrefixPath(s: SparkSession, d: String): DataFrame = {
    val rk = rankedIndex(s, d)
    // prefix length |X| − ⌈0.4·|X|⌉ + 1, integer-exact: ⌈2n/5⌉ = (2n+4) DIV 5
    val pre = rk.filter(col("r") <= col("n") - expr("(2*n+4) DIV 5") + 1)
    val a = pre.select(col("doc_id").as("d1"), col("h"),
      col("n").as("n1"), col("r").as("r1"))
    val b = pre.select(col("doc_id").as("d2"), col("h"),
      col("n").as("n2"), col("r").as("r2"))
    // minoverlap ⌈2(n1+n2)/7⌉ ≤ ubound ⟺ 7·ubound ≥ 2(n1+n2) (ubound int)
    val cand = a.join(b, Seq("h"))
      .filter(col("d1") < col("d2") &&
        col("n1") * 5 >= col("n2") * 2 && col("n2") * 5 >= col("n1") * 2 &&
        (lit(1) + least(col("n1") - col("r1"), col("n2") - col("r2"))) * 7 >=
          (col("n1") + col("n2")) * 2)
      .select(col("d1"), col("d2"))
      // dedup BEFORE the array verify — measured at sf1: the prefix join
      // emits 91M rows for 48M distinct pairs, and re-verifying the 43M
      // duplicates costs more (+7 s) than the 16-byte-key dedup shuffle
      // saves (the opposite trade from q48, whose verify is one cheap
      // levenshtein; the intersect here walks ~100 longs per pair)
      .distinct()
    withPairArrays(s, d, cand)
      .withColumn("inter",
        graft.functions.SetFunctions.sortedIntersectCount(col("hs1"), col("hs2")))
      .withColumn("jac",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jac") >= 0.4)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** 48-bit SimHash fingerprints: per-token md5-derived bits, weighted by
    * token count, sign-aggregated per bit position. Pure
    * projection+agg — no pairwise work; hamming-distance bucketing over
    * these is the near-dup scale path.
    */
  val q28SimHash: QueryDef = sql(
    "q28_simhash",
    s"""WITH t AS (SELECT doc_id, tok, count(*) AS cnt
      |           FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      |                 FROM documents) GROUP BY 1, 2),
      |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS hv, cnt FROM t),
      |b AS (SELECT doc_id, i,
      |        CASE WHEN sum(CASE WHEN (hv >> i) & 1 = 1 THEN cnt ELSE -cnt END) > 0
      |             THEN 1 ELSE 0 END AS bit
      |      FROM h CROSS JOIN (SELECT unnest(range(0, 48)) AS i)
      |      GROUP BY doc_id, i)
      |SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << i)) AS BIGINT) AS simhash
      |FROM b GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
    // hv is a GROUP KEY, not a projected alias: Catalyst would otherwise
    // collapse `md5(tok)` into the ×48-amplified bit expression after
    // the crossJoin and recompute the digest 48× per token. Grouping by
    // (doc_id, hash) is count-equivalent to grouping by (doc_id, tok) —
    // the bit-sum is linear in cnt — and materializes hv once per token
    // in the wide post-repartition stage. Explicit width: AQE would
    // coalesce the small token shuffle to one partition and serialize
    // the 13M-row bit aggregation that follows; the (doc_id, i) and
    // doc_id groupBys reuse this partitioning with no further exchange.
    val h = documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .groupBy(col("doc_id"), tokHash(col("tok")).as("hv"))
      .agg(count(lit(1)).as("cnt"))
    h.crossJoin(broadcast(
        s.range(0, 48).select(col("id").cast("int").as("i"))))
      .groupBy(col("doc_id"), col("i"))
      .agg(when(
        sum(when(expr("(hv >> i) & 1 = 1"), col("cnt")).otherwise(-col("cnt"))) > 0,
        1).otherwise(0).as("bit"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bit") * expr("shiftleft(CAST(1 AS BIGINT), i)"))
        .cast("long").as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** Per-language token statistics: whitespace tokens, regex (BPE-ish)
    * tokens, character and alpha-character counts — map-side projections
    * aggregated once.
    */
  val q29TokenStats: QueryDef = sql(
    "q29_token_stats",
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS sum_ws_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS sum_re_tokens,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
      |  CAST(sum(length(regexp_replace(text, '[^a-z]', '', 'g'))) AS BIGINT) AS sum_alpha
      |FROM documents
      |GROUP BY lang ORDER BY lang""") { (s, d) =>
    documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(graft.functions.TokenCount.tokenCount(col("text"))).cast("long").as("sum_ws_tokens"),
        sum(size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))))
          .cast("long").as("sum_re_tokens"),
        sum(length(col("text"))).cast("long").as("sum_chars"),
        sum(length(regexp_replace(col("text"), "[^a-z]", "")))
          .cast("long").as("sum_alpha"))
      .orderBy(col("lang"))
  }

  /** Per-document quality scoring: token count, stopword ratio, average
    * word length, combined into a deterministic [0,1] score. All double
    * arithmetic on identical inputs → identical outputs.
    */
  val q30QualityScore: QueryDef = sql(
    "q30_quality_score",
    """WITH x AS (
      |  SELECT doc_id,
      |    len(string_split(trim(text), ' ')) AS n_tokens,
      |    len(list_filter(string_split(trim(text), ' '),
      |        t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop,
      |    length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha
      |  FROM documents WHERE doc_id < 100)
      |SELECT doc_id, n_tokens,
      |  round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
      |  round(0.4 * least(1.0, n_tokens / 20.0)
      |      + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
      |      + 0.3 * least(1.0, (CAST(n_alpha AS DOUBLE) / n_tokens) / 8.0), 6) AS quality
      |FROM x ORDER BY doc_id""") { (s, d) =>
    val stopSet = Seq("the", "a", "of", "and", "to")
    val tk = toks(col("text"))
    documents(s, d).filter(col("doc_id") < 100)
      .select(
        col("doc_id"),
        size(tk).as("n_tokens"),
        size(filter(tk, t => t.isInCollection(stopSet))).as("n_stop"),
        length(regexp_replace(col("text"), "[^a-z]", "")).as("n_alpha"))
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("n_stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
        round(
          lit(0.4) * least(lit(1.0), col("n_tokens") / 20.0) +
            lit(0.3) * (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) +
            lit(0.3) * least(lit(1.0),
              (col("n_alpha").cast("double") / col("n_tokens")) / 8.0),
          6).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic (marker-token rules) scored against the
    * labelled `lang` column — a confusion-matrix-shaped aggregate.
    * Deterministic CASE logic, identical in both engines.
    */
  val q31LangId: QueryDef = sql(
    "q31_lang_id",
    """WITH x AS (
      |  SELECT lang,
      |    CASE WHEN text LIKE '%the %' OR text LIKE '% the %' THEN 'en'
      |         WHEN text LIKE '% le %' OR text LIKE '% la %' THEN 'fr'
      |         WHEN text LIKE '% der %' OR text LIKE '% die %' THEN 'de'
      |         ELSE 'unk' END AS predicted
      |  FROM documents)
      |SELECT lang, predicted, count(*) AS n
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    documents(s, d)
      .select(col("lang"),
        when(col("text").like("%the %") || col("text").like("% the %"), "en")
          .when(col("text").like("% le %") || col("text").like("% la %"), "fr")
          .when(col("text").like("% der %") || col("text").like("% die %"), "de")
          .otherwise("unk").as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Rolling polynomial fingerprint: fold (acc*131 + tokenHash) mod p
    * over the token sequence — order-sensitive (unlike the set-based
    * hashes above), computed with the `aggregate` higher-order function
    * so it stays codegen-compatible and shuffle-free.
    */
  val q32Fingerprint: QueryDef = sql(
    "q32_fingerprint",
    s"""SELECT doc_id,
      |  list_reduce(
      |    list_concat([CAST(0 AS BIGINT)],
      |      list_transform(string_split(trim(text), ' '),
      |        t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % $FpMod)),
      |    (acc, h) -> (acc * 131 + h) % $FpMod) AS fp
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""") { (s, d) =>
    documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"),
        aggregate(
          transform(toks(col("text")), t => tokHash(t) % FpMod),
          lit(0L),
          (acc, h) => (acc * 131 + h) % FpMod).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-duplicate pairs: candidates meet on a 12-bit band of
    * the 48-bit fingerprint (4 bands — near-identical docs collide in at
    * least one), then exact Hamming distance ≤ 14 filters. Candidate
    * generation is 4 equi-joins on small keys — never all-pairs.
    */
  val q40SimHashPairs: QueryDef = sql(
    "q40_simhash_pairs",
    s"""WITH t AS (SELECT doc_id, tok, count(*) AS cnt
      |           FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      |                 FROM documents WHERE doc_id < 1000) GROUP BY 1, 2),
      |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS hv, cnt FROM t),
      |b AS (SELECT doc_id, i,
      |        CASE WHEN sum(CASE WHEN (hv >> i) & 1 = 1 THEN cnt ELSE -cnt END) > 0
      |             THEN 1 ELSE 0 END AS bit
      |      FROM h CROSS JOIN (SELECT unnest(range(0, 48)) AS i)
      |      GROUP BY doc_id, i),
      |sh AS (SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << i)) AS BIGINT) AS s
      |       FROM b GROUP BY doc_id),
      |bands AS (SELECT doc_id, s, band, (s >> (band * 12)) & 4095 AS sig
      |          FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band)),
      |cand AS (SELECT DISTINCT x.doc_id AS d1, x.s AS s1, y.doc_id AS d2, y.s AS s2
      |         FROM bands x JOIN bands y
      |           ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
      |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(s1, s2)) <= 14
      |ORDER BY d1, d2""") { (s, d) =>
    // hv as a group key + explicit width ahead of the ×48 expansion —
    // same reasoning as q28.
    val h = documents(s, d).filter(col("doc_id") < 1000)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .groupBy(col("doc_id"), tokHash(col("tok")).as("hv"))
      .agg(count(lit(1)).as("cnt"))
    val sh = h.crossJoin(broadcast(
        s.range(0, 48).select(col("id").cast("int").as("i"))))
      .groupBy(col("doc_id"), col("i"))
      .agg(when(
        sum(when(expr("(hv >> i) & 1 = 1"), col("cnt")).otherwise(-col("cnt"))) > 0,
        1).otherwise(0).as("bit"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bit") * expr("shiftleft(CAST(1 AS BIGINT), i)"))
        .cast("long").as("s"))
    val bands = sh.crossJoin(broadcast(
        s.range(0, 4).select(col("id").cast("int").as("band"))))
      .select(col("doc_id"), col("s"), col("band"),
        expr("(s >> (band * 12)) & 4095").as("sig"))
    val x = bands.as("x")
    val y = bands.as("y")
    x.join(y, col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("x.s").as("s1"),
        col("y.doc_id").as("d2"), col("y.s").as("s2"))
      .distinct()
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 14)
      .orderBy(col("d1"), col("d2"))
  }

  /** Fuzzy entity matching over the FULL customer table: candidate pairs
    * come from deletion-neighborhood blocking (FastSS, k=1) — each name
    * emits itself plus every delete-one-char variant, and two names
    * within edit distance 1 provably share a variant — so pair
    * generation is an equi-join on the variant key, never all-pairs.
    * The levenshtein ≤ 1 check then verifies candidates exactly.
    *
    * The Spark plan joins on a 64-bit HASH of the variant (8-byte
    * shuffle/compare keys instead of ~20-char strings), carries only
    * the two custkeys through the join + distinct, and re-attaches the
    * names for verification afterwards as broadcast probes (150k names
    * at sf1, a few MB). A hash
    * collision can only ADD a candidate, and any added candidate that
    * passes the dist ≤ 1 verify shares a real variant by the FastSS
    * guarantee — so the result is identical to the oracle's raw
    * string-keyed join, row for row. (The join volume itself is linear
    * in customers — per-variant df is bounded by the digit structure of
    * the names, max 46 at both benched decades — the round-8 decade
    * cost was the string-laden distinct, not candidate growth.)
    */
  val q48FuzzyMatch: QueryDef = sql(
    "q48_fuzzy_match",
    """WITH c AS (SELECT c_custkey, c_name FROM customer),
      |v AS (SELECT c_custkey, c_name,
      |        unnest(list_concat([c_name],
      |          list_transform(range(1, length(c_name) + 1),
      |            i -> substr(c_name, 1, i - 1)
      |              || substr(c_name, i + 1, length(c_name))))) AS var
      |      FROM c),
      |cand AS (SELECT DISTINCT a.c_custkey AS k1, a.c_name AS n1,
      |                b.c_custkey AS k2, b.c_name AS n2
      |         FROM v a JOIN v b
      |           ON a.var = b.var AND a.c_custkey < b.c_custkey)
      |SELECT k1, k2, CAST(levenshtein(n1, n2) AS INT) AS dist
      |FROM cand WHERE levenshtein(n1, n2) <= 1
      |ORDER BY k1, k2""") { (s, d) =>
    val name = col("c_name")
    val variants = concat(
      array(name),
      transform(sequence(lit(1), length(name)),
        i => concat(name.substr(lit(1), i - lit(1)),
          name.substr(i + lit(1), length(name)))))
    // explicit width ahead of the ~L× variant explosion (the lambda
    // indexes the c_name attribute — O(L) per name, no inline-split
    // trap — but a single-file scan would run the whole expansion and
    // the variant join in one task).
    val cust = customer(s, d).select(col("c_custkey"), name)
    // variant SET, not list: names with repeated characters (the long
    // digit runs here) collapse delete-one variants, and FastSS only
    // needs set membership — measured at sf1 this cuts variant rows
    // 3.39M→2.78M and candidate pairs 14.6M→9.8M (the duplicates were
    // pure re-verification work; the oracle's candidate DISTINCT makes
    // multiplicity invisible to the result)
    val v = cust
      .repartition(s.sparkContext.defaultParallelism, col("c_custkey"))
      .select(col("c_custkey"), explode(array_distinct(variants)).as("var"))
      .select(col("c_custkey"), xxhash64(col("var")).as("h"))
    val a = v.select(col("c_custkey").as("k1"), col("h"))
    val b = v.select(col("c_custkey").as("k2"), col("h"))
    // verify BEFORE deduplicating: the name lookups are map-side
    // broadcast probes and the levenshtein filter kills ~99% of the
    // stream in the same codegen stage, so the distinct only shuffles
    // true matches — never the raw candidate stream (the round-8 plan
    // shuffled every candidate with both name strings attached).
    val cand = a.join(b, Seq("h"))
      .filter(col("k1") < col("k2"))
      .select(col("k1"), col("k2"))
    val n1 = cust.select(col("c_custkey").as("k1"), name.as("n1"))
    val n2 = cust.select(col("c_custkey").as("k2"), name.as("n2"))
    cand.join(broadcast(n1), "k1").join(broadcast(n2), "k2")
      .select(col("k1"), col("k2"),
        levenshtein(col("n1"), col("n2")).cast("int").as("dist"))
      .filter(col("dist") <= 1)
      .distinct()
      .orderBy(col("k1"), col("k2"))
  }

  /** The q49/q63 oracle CTE chain: verified pairs → undirected edges →
    * 3 rounds of min-label propagation (l3 = final labels). */
  private val dedupLabelCtes: String =
    s"""$minHashPairsCtes,
      |pairs AS (SELECT d1, d2 FROM j WHERE jac >= 0.5),
      |nodes AS (SELECT DISTINCT doc_id
      |          FROM (SELECT d1 AS doc_id FROM pairs
      |                UNION ALL SELECT d2 FROM pairs)),
      |e AS (SELECT d1 AS a, d2 AS b FROM pairs
      |      UNION ALL SELECT d2, d1 FROM pairs),
      |l0 AS (SELECT doc_id, doc_id AS lbl FROM nodes),
      |l1 AS (SELECT l.doc_id, least(l.lbl, min(n.lbl)) AS lbl
      |       FROM l0 l JOIN e ON e.a = l.doc_id JOIN l0 n ON n.doc_id = e.b
      |       GROUP BY l.doc_id, l.lbl),
      |l2 AS (SELECT l.doc_id, least(l.lbl, min(n.lbl)) AS lbl
      |       FROM l1 l JOIN e ON e.a = l.doc_id JOIN l1 n ON n.doc_id = e.b
      |       GROUP BY l.doc_id, l.lbl),
      |l3 AS (SELECT l.doc_id, least(l.lbl, min(n.lbl)) AS lbl
      |       FROM l2 l JOIN e ON e.a = l.doc_id JOIN l2 n ON n.doc_id = e.b
      |       GROUP BY l.doc_id, l.lbl)""".stripMargin.trim

  /** (doc_id, lbl) for every document in a verified near-dup pair —
    * 3-round min-label propagation (exact for components of diameter
    * ≤ 3, which near-dup clusters are in practice), cached per
    * (session, sfDir) because both the cluster summary (q49) and the
    * keep-list (q63) consume it. Each round is one edge⋈label join +
    * groupBy-min — the same shape PageRank iterates, join keys only,
    * no all-pairs. */
  /** Verified near-dup pair set (d1 < d2), materialized once per
    * (session, sfDir): the label propagation references it 2× per round
    * and the pair-graph analytics (q89) reference it 3× — lazy lineage
    * would re-run the whole LSH pipeline each time. */
  private[graft] def verifiedPairs(s: SparkSession, d: String): DataFrame =
    SessionCache.checkpoint("minhashPairs", s, d)(
      minHashPairs(s, d).select(col("d1"), col("d2")))

  private[graft] def dedupLabels(s: SparkSession, d: String): DataFrame = {
    // (SessionCache lookups are reentrant, so the chained
    // index→pairs→labels entries are safe to nest.)
    val pairs = verifiedPairs(s, d)
    SessionCache.checkpoint("dedupLabels", s, d) {
      val e = pairs.select(col("d1").as("a"), col("d2").as("b"))
        .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
      val nodes = pairs.select(col("d1").as("doc_id"))
        .union(pairs.select(col("d2").as("doc_id"))).distinct()
      var lbl = nodes.select(col("doc_id"), col("doc_id").as("lbl"))
      for (_ <- 1 to 3) lbl = lblRound(lbl, e)
      lbl
    }
  }

  /** One min-label propagation round (the q49 shape: edge⋈label join +
    * groupBy-min, PageRank's join cadence) — factored so the
    * incremental path (q134) can run it from arbitrary SEEDS. */
  private def lblRound(lbl: DataFrame, e: DataFrame): DataFrame = {
    val nb = lbl.select(col("doc_id").as("nb_id"), col("lbl").as("nb_lbl"))
    lbl.join(e, lbl("doc_id") === col("a"))
      .join(nb, col("b") === col("nb_id"))
      .groupBy(lbl("doc_id").as("doc_id"), lbl("lbl").as("l0"))
      .agg(min(col("nb_lbl")).as("mn"))
      .select(col("doc_id"), least(col("l0"), col("mn")).as("lbl"))
  }

  /** The oracle's unrolled 3-round chain from a seed CTE over an edge
    * CTE — shared by q134's base and merged propagations. */
  private def lblRoundsSql(p: String, seedCte: String, edgeCte: String): String =
    (1 to 3).map { i =>
      val prev = if (i == 1) seedCte else s"$p${i - 1}"
      s"""$p$i AS (SELECT l.doc_id, least(l.lbl, min(n.lbl)) AS lbl
        |       FROM $prev l JOIN $edgeCte ee ON ee.a = l.doc_id
        |            JOIN $prev n ON n.doc_id = ee.b
        |       GROUP BY l.doc_id, l.lbl)""".stripMargin
    }.mkString(",\n")

  /** Near-duplicate CLUSTERING: the step after pair detection in a real
    * dedup pipeline — group the verified MinHash pairs into connected
    * components. The propagation round count is mirrored exactly in the
    * oracle, so results are hash-verified rather than rows-only.
    * `keep_id` here is the cluster's min-doc_id CANONICAL LABEL (stable
    * across reruns); the policy-driven keeper (keep-longest) is the
    * separate keep-list operator, q63.
    */
  val q49DedupClusters: QueryDef = sql(
    "q49_dedup_clusters",
    s"""WITH $dedupLabelCtes
      |SELECT lbl AS cluster, count(*) AS n_docs, min(doc_id) AS keep_id
      |FROM l3 GROUP BY 1 ORDER BY 1""") { (s, d) =>
    dedupLabels(s, d)
      .groupBy(col("lbl").as("cluster"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("cluster"))
  }

  /** INCREMENTAL cluster update — the missing member of the engine's
    * incremental family (q76 dedup, q127 packing, q129 ANN index):
    * an ingest (docs with doc_id % 11 == 3, the q105 "added"
    * convention) lands new near-dup edges; instead of relabeling the
    * corpus from scratch, propagation is SEEDED with the persisted
    * per-snapshot base labels (components of the base-only edge set),
    * so rounds only need to resolve the delta's neighborhood — within a
    * base component the seed is already uniform. Output per updated
    * cluster: size, how many docs the ingest contributed, and — the
    * audit an incremental dedup pipeline acts on — how many PREVIOUSLY
    * SEPARATE base clusters this cluster merged (n_base_clusters_merged
    * > 1 means the keep-list for those clusters must be re-issued; a
    * delta doc can bridge two base components that were each below the
    * pair threshold with each other).
    *
    * Both the base labels and the merged update run the exact q49
    * machinery (3 min-label rounds, edge⋈label join + groupBy-min, no
    * all-pairs), unrolled identically in the oracle, so the result is
    * hash-verified. Scale shape: base labels are a cached per-snapshot
    * artifact (the q123/q127/q129 convention); each update round costs
    * one scan of the edge set, and convergence needs only the DELTA's
    * neighborhood diameter — a from-scratch relabel needs the full
    * component diameter. `IncrementalClusterSpec` pins merge detection
    * on a hand-built bridge corpus and agreement with q49's partition
    * on the real fixture. */
  val q134IncrementalClusters: QueryDef = sql(
    "q134_incremental_clusters",
    s"""WITH $minHashPairsCtes,
      |pairs AS (SELECT d1, d2 FROM j WHERE jac >= 0.5),
      |bpe AS (SELECT d1 AS a, d2 AS b FROM pairs
      |        WHERE d1 % 11 <> 3 AND d2 % 11 <> 3
      |        UNION ALL
      |        SELECT d2, d1 FROM pairs
      |        WHERE d1 % 11 <> 3 AND d2 % 11 <> 3),
      |bl0 AS (SELECT DISTINCT a AS doc_id, a AS lbl FROM bpe),
      |${lblRoundsSql("bl", "bl0", "bpe")},
      |e AS (SELECT d1 AS a, d2 AS b FROM pairs
      |      UNION ALL SELECT d2, d1 FROM pairs),
      |nodes AS (SELECT DISTINCT doc_id
      |          FROM (SELECT d1 AS doc_id FROM pairs
      |                UNION ALL SELECT d2 FROM pairs)),
      |ml0 AS (SELECT n.doc_id, COALESCE(b.lbl, n.doc_id) AS lbl
      |        FROM nodes n LEFT JOIN bl3 b ON b.doc_id = n.doc_id),
      |${lblRoundsSql("ml", "ml0", "e")}
      |SELECT m.lbl AS cluster, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN m.doc_id % 11 = 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_new_docs,
      |  CAST(count(DISTINCT b.lbl) AS BIGINT) AS n_base_clusters_merged,
      |  min(m.doc_id) AS keep_id
      |FROM ml3 m LEFT JOIN bl3 b ON b.doc_id = m.doc_id
      |GROUP BY m.lbl ORDER BY cluster""") { (s, d) =>
    incrementalClusterPlan(s, d)
  }

  /** See [[q134IncrementalClusters]]; split out for the spec. */
  private[graft] def incrementalClusterPlan(s: SparkSession, d: String): DataFrame = {
    val pairs = verifiedPairs(s, d)
    val bp = pairs.filter(col("d1") % 11 =!= 3 && col("d2") % 11 =!= 3)
    val bpe = bp.select(col("d1").as("a"), col("d2").as("b"))
      .union(bp.select(col("d2").as("a"), col("d1").as("b")))
    // the persisted per-snapshot label artifact: components of the
    // base-only edge set, the state an incremental pipeline carries
    val baseLbl = SessionCache.checkpoint("baseDedupLabels", s, d) {
      var l = bpe.select(col("a").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("lbl"))
      for (_ <- 1 to 3) l = lblRound(l, bpe)
      l
    }
    val e = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
    val nodes = pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2").as("doc_id"))).distinct()
    var lbl = nodes
      .join(baseLbl.select(col("doc_id"), col("lbl").as("bl")), Seq("doc_id"),
        "left")
      .select(col("doc_id"), coalesce(col("bl"), col("doc_id")).as("lbl"))
    for (_ <- 1 to 3) lbl = lblRound(lbl, e)
    lbl
      .join(baseLbl.select(col("doc_id"), col("lbl").as("base_lbl")),
        Seq("doc_id"), "left")
      .groupBy(col("lbl").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") % 11 === 3, 1L).otherwise(0L)).as("n_new_docs"),
        countDistinct(col("base_lbl")).as("n_base_clusters_merged"),
        min(col("doc_id")).as("keep_id"))
      .orderBy(col("cluster"))
  }

  /** Triangle count + global clustering coefficient of the verified
    * near-dup pair graph — the structural audit a dedup pipeline runs on
    * its pair set: near-dup clusters should be near-cliques (every wedge
    * closed, cc ≈ 1); a low coefficient means chained borderline pairs
    * are bridging unrelated documents and the Jaccard threshold is too
    * loose. Distributed-triangle counting done the scale-correct way:
    * every edge is ORIENTED from its lower-(degree, id) endpoint to the
    * higher one — an acyclic total order, so each triangle survives as
    * exactly one (a→b, b→c, a→c) path and is counted once, and, the
    * actual point, the wedge-generating self-join on the middle vertex
    * fans out by OUT-degree, which the orientation caps at O(√m) even if
    * some hub document pairs with everything (the unoriented join fans
    * out by raw degree — quadratic in the hub). Wedges and the closing
    * check are plain equi-joins on the cached pair artifact; nothing is
    * all-pairs, and the counts are exact integers (the one double — the
    * coefficient — is a single exactly-rounded IEEE division mirrored by
    * the oracle).
    */
  val q89TriangleCount: QueryDef = sql(
    "q89_triangle_count",
    s"""WITH $minHashPairsCtes,
      |pairs AS (SELECT d1, d2 FROM j WHERE jac >= 0.5),
      |deg AS (SELECT v, count(*) AS deg
      |        FROM (SELECT d1 AS v FROM pairs UNION ALL SELECT d2 FROM pairs)
      |        GROUP BY 1),
      |o AS (SELECT CASE WHEN da.deg < db.deg
      |                    OR (da.deg = db.deg AND p.d1 < p.d2)
      |               THEN p.d1 ELSE p.d2 END AS src,
      |             CASE WHEN da.deg < db.deg
      |                    OR (da.deg = db.deg AND p.d1 < p.d2)
      |               THEN p.d2 ELSE p.d1 END AS dst
      |      FROM pairs p JOIN deg da ON da.v = p.d1
      |                   JOIN deg db ON db.v = p.d2),
      |tri AS (SELECT count(*) AS n_triangles
      |        FROM o e1 JOIN o e2 ON e2.src = e1.dst
      |             JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |wn AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
      |              count(*) AS n_nodes FROM deg),
      |m AS (SELECT count(*) AS n_edges FROM pairs)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |       CAST(3 * n_triangles AS DOUBLE) / n_wedges AS global_cc
      |FROM wn, m, tri""") { (s, d) =>
    val pairs = verifiedPairs(s, d)
    val deg = pairs.select(col("d1").as("v"))
      .union(pairs.select(col("d2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient by (degree, id): lower endpoint in that order is src. The
    // degree table is node-sized; at local scale AQE broadcasts it, at
    // 100 TB it stays a shuffle join — no hint pinned, same reasoning
    // as q63's labels join.
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("d1") < col("d2"))
    val o = pairs
      .join(deg.select(col("v").as("d1"), col("deg").as("da")), "d1")
      .join(deg.select(col("v").as("d2"), col("deg").as("db")), "d2")
      .select(when(lower, col("d1")).otherwise(col("d2")).as("src"),
        when(lower, col("d2")).otherwise(col("d1")).as("dst"))
    val wedgeClose = o.as("e1")
      .join(o.as("e2"), col("e2.src") === col("e1.dst"))
      .join(o.as("e3"), col("e3.src") === col("e1.src") &&
        col("e3.dst") === col("e2.dst"))
    val tri = wedgeClose.agg(count(lit(1)).as("n_triangles"))
    val wn = deg.agg(
      sum(expr("(deg * (deg - 1)) div 2")).cast("long").as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val m = pairs.agg(count(lit(1)).as("n_edges"))
    wn.crossJoin(m).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        ((lit(3) * col("n_triangles")).cast("double") /
          col("n_wedges").cast("double")).as("global_cc"))
  }

  /** Dedup KEEP-LIST — the corpus-level artifact a dedup pipeline
    * actually ships: for every clustered document, the keep/drop
    * decision under the "keep the longest member" policy (ties by
    * doc_id; unclustered documents are implicitly kept and never appear
    * — the keep-list stays cluster-sized, not corpus-sized). The
    * representative window partitions by cluster, and near-dup clusters
    * are small by construction, so no partition ever exceeds a cluster.
    * The labels⋈documents join is a plain equi-join on doc_id: labels
    * are usually broadcastable (AQE decides from actual size) but are
    * NOT hinted — at 100 TB a heavily duplicated corpus can have a
    * labels side too big to pin into every executor.
    */
  val q63DedupKeeplist: QueryDef = sql(
    "q63_dedup_keeplist",
    s"""WITH $dedupLabelCtes,
      |tl AS (SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tok
      |       FROM documents),
      |m AS (SELECT l3.doc_id, lbl AS cluster, n_tok
      |      FROM l3 JOIN tl ON tl.doc_id = l3.doc_id),
      |r AS (SELECT cluster, doc_id, n_tok,
      |        row_number() OVER (PARTITION BY cluster
      |          ORDER BY n_tok DESC, doc_id) AS rn FROM m)
      |SELECT cluster, doc_id, CAST(n_tok AS INT) AS n_tok,
      |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
      |FROM r ORDER BY cluster, doc_id""") { (s, d) =>
    val toklen = documents(s, d)
      .select(col("doc_id"), graft.functions.TokenCount.tokenCount(col("text")).as("n_tok"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_tok").desc, col("doc_id"))
    dedupLabels(s, d)
      .select(col("doc_id"), col("lbl").as("cluster"))
      .join(toklen, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("cluster"), col("doc_id"), col("n_tok"),
        (col("rn") === 1).cast("int").as("keep"))
      .orderBy(col("cluster"), col("doc_id"))
  }

  /** APPLY the dedup keep-list — the final step of the dedup loop
    * (detect pairs → cluster → choose keepers → filter the corpus):
    * documents whose cluster ranked them below the keeper are dropped
    * via a broadcast ANTI join, and the surviving corpus is summarized
    * per source. The drop-list is cluster-sized (usually tiny vs the
    * corpus), so the anti-join probe is map-side: one corpus pass, no
    * corpus shuffle beyond the per-source agg. At 100 TB this is
    * exactly how a materialized keep-list is consumed — the expensive
    * clustering runs once, the cheap filter reruns per snapshot.
    */
  val q74DedupApply: QueryDef = sql(
    "q74_dedup_apply",
    s"""WITH $dedupLabelCtes,
      |tl AS (SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tok
      |       FROM documents),
      |m AS (SELECT l3.doc_id, lbl AS cluster, n_tok
      |      FROM l3 JOIN tl ON tl.doc_id = l3.doc_id),
      |r AS (SELECT cluster, doc_id, n_tok,
      |        row_number() OVER (PARTITION BY cluster
      |          ORDER BY n_tok DESC, doc_id) AS rn FROM m),
      |drops AS (SELECT doc_id FROM r WHERE rn > 1)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS kept_tokens
      |FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      |GROUP BY source ORDER BY source""") { (s, d) =>
    val toklen = documents(s, d)
      .select(col("doc_id"), graft.functions.TokenCount.tokenCount(col("text")).as("n_tok"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n_tok").desc, col("doc_id"))
    val drops = dedupLabels(s, d)
      .select(col("doc_id"), col("lbl").as("cluster"))
      .join(toklen, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select(col("doc_id"))
    documents(s, d)
      .join(broadcast(drops), Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TokenCount.tokenCount(col("text"))).cast("long").as("kept_tokens"))
      .orderBy(col("source"))
  }

  /** INCREMENTAL near-dup dedup — the shape a 100 TB ingest actually
    * runs: a NEW SOURCE (delta = `source = 'src0'`) arrives and is
    * deduped against the already-ingested corpus WITHOUT re-scanning
    * corpus×corpus. Delta band signatures probe the corpus signatures
    * on the 4 band keys (delta-sized join work), within-batch dups meet
    * on a delta×delta band join (keep-lowest-id), and candidates are
    * exact-Jaccard-verified through the shared index. A delta doc is
    * dropped if it matches ANY corpus doc (the corpus copy is already
    * ingested and immutable) or an earlier delta doc. Output: the new
    * batch's admission summary.
    *
    * The oracle specifies the RESULT, not the work plan: it reuses the
    * corpus-wide verified pair set (q26's CTE chain) and keeps the
    * pairs touching the delta — the same set the incremental
    * formulation generates, since banding is symmetric. At scale the
    * corpus signature side is the persisted artifact a real pipeline
    * keeps per snapshot (exactly like the shared shingle index), so
    * per-batch cost is delta-sized, not corpus-sized.
    */
  /** q76's oracle — ALSO the oracle of its streaming twin
    * (q78, `StreamingOps`): the incremental formulation's admission
    * summary, specified via the corpus-wide verified pair set. */
  private[graft] val incrementalDedupOracle: String =
    s"""WITH $minHashPairsCtes,
      |pr AS (SELECT d1, d2 FROM j WHERE jac >= 0.5),
      |del AS (SELECT doc_id, source FROM documents WHERE source = 'src0'),
      |prs AS (SELECT pr.d1, pr.d2,
      |          (a.source = 'src0') AS e1, (b.source = 'src0') AS e2
      |        FROM pr JOIN documents a ON a.doc_id = pr.d1
      |                JOIN documents b ON b.doc_id = pr.d2),
      |dr AS (SELECT DISTINCT CASE WHEN e1 AND NOT e2 THEN d1 ELSE d2 END AS doc_id
      |       FROM prs WHERE e1 OR e2)
      |SELECT del.source, count(*) AS n_new,
      |  CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ingested
      |FROM del LEFT JOIN dr ON del.doc_id = dr.doc_id
      |GROUP BY 1 ORDER BY 1""".stripMargin.trim

  val q76IncrementalDedup: QueryDef = sql(
    "q76_incremental_dedup", incrementalDedupOracle) { (s, d) =>
    val delta = documents(s, d).filter(col("source") === "src0")
    val deltaIds = delta.select(col("doc_id"))
    val sig = bandSignatures(s, d)
    val sd = sig.join(broadcast(deltaIds), Seq("doc_id"), "left_semi")
    val sc = sig.join(broadcast(deltaIds), Seq("doc_id"), "left_anti")
    // delta probes corpus: candidate = (corpus_id, delta_id) so the
    // verified pair's d2 is ALWAYS the delta side to drop...
    val candCross = sd.as("x")
      .join(sc.as("y"),
        col("x.band") === col("y.band") && col("x.s") === col("y.s"))
      .select(col("y.doc_id").as("d1"), col("x.doc_id").as("d2"))
      .distinct()
    // ...and within-batch keep-first: d2 is the larger (later) delta id
    val candIntra = sd.as("x")
      .join(sd.as("y"),
        col("x.band") === col("y.band") && col("x.s") === col("y.s") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    val drops = verifiedJaccard(s, d, candCross.union(candIntra).distinct(),
        threshold = 0.5)
      .select(col("d2").as("doc_id")).distinct()
    delta
      .join(broadcast(drops.withColumn("dropped", lit(1))), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("dropped").isNotNull, 1).otherwise(0))
          .cast("long").as("n_dropped"),
        sum(when(col("dropped").isNull, 1).otherwise(0))
          .cast("long").as("n_ingested"))
      .orderBy(col("source"))
  }

  /** Deterministic train/valid/test split: bucket by a stable content-
    * independent hash of the document id (md5 → int64 → mod 10; 80/10/10)
    * — reproducible across runs, engines, and repartitioning, the
    * standard way to split a 100 TB corpus without a shuffle or an RNG.
    */
  val q50TrainSplit: QueryDef = sql(
    "q50_train_split",
    """WITH x AS (SELECT lang,
      |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS bucket
      |  FROM documents)
      |SELECT CASE WHEN bucket < 8 THEN 'train'
      |            WHEN bucket = 8 THEN 'valid' ELSE 'test' END AS split,
      |       lang, count(*) AS n
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    documents(s, d)
      .select(col("lang"),
        (tokHash(col("doc_id").cast("string")) % 10).as("bucket"))
      .select(
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "valid")
          .otherwise("test").as("split"),
        col("lang"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("split"), col("lang"))
  }

  /** TF-IDF top terms per document: tf from the per-doc token counts,
    * idf = ln(N/df) over the FULL corpus (the filter to the reported
    * doc slice applies only to the tf side), top-3 by score with a
    * total tie-break. ln and the double arithmetic are identical in
    * both engines, so scores hash-match without tolerance.
    */
  val q51TfIdf: QueryDef = sql(
    "q51_tfidf_terms",
    """WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      |           FROM documents),
      |tfall AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
      |dfq AS (SELECT tok, count(*) AS df FROM tfall GROUP BY 1),
      |nd AS (SELECT count(*) AS n FROM documents),
      |sc AS (SELECT doc_id, tok, tf * ln(CAST(n AS DOUBLE) / df) AS score
      |       FROM tfall JOIN dfq USING (tok) CROSS JOIN nd
      |       WHERE doc_id < 100),
      |r AS (SELECT doc_id, tok, score,
      |        ROW_NUMBER() OVER (PARTITION BY doc_id
      |          ORDER BY score DESC, tok) AS rn
      |      FROM sc)
      |SELECT doc_id, tok AS term, round(score, 6) AS score, rn
      |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""") { (s, d) =>
    val tfall = documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfq = tfall.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nd = documents(s, d).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    tfall.filter(col("doc_id") < 100)
      .join(dfq, "tok")
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("tok"),
        (col("tf") * log(col("n").cast("double") / col("df"))).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("tok").as("term"),
        round(col("score"), 6).as("score"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Repetition scoring (Gopher-style quality signals): per document,
    * the duplicate-token fraction, duplicate-2-gram fraction, and
    * top-2-gram occupancy, plus a keep/drop flag at the standard
    * thresholds. Relational O(L) shape — explode → per-(doc, gram)
    * counts → per-doc aggregation, all clustered on one doc_id
    * exchange — NOT the per-doc array-lambda formulation, which is
    * O(L²) CPU per document (for each distinct gram, scan the list).
    * Single-token documents have no 2-grams: left join + coalesce-to-0,
    * keep decision unaffected.
    */
  val q52Repetition: QueryDef = sql(
    "q52_repetition",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |u AS (SELECT doc_id, unnest(w) AS tok FROM w),
      |uc AS (SELECT doc_id, tok, count(*) AS cnt FROM u GROUP BY 1, 2),
      |us AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok,
      |               CAST(count(*) AS BIGINT) AS d_tok
      |        FROM uc GROUP BY 1),
      |g0 AS (SELECT doc_id, unnest(list_transform(
      |         range(1, greatest(len(w), 2)), i -> w[i] || ' ' || w[i+1])) AS g
      |       FROM w),
      |gc AS (SELECT doc_id, g, count(*) AS cnt FROM g0 WHERE g IS NOT NULL
      |       GROUP BY 1, 2),
      |gs AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_g,
      |               CAST(count(*) AS BIGINT) AS d_g,
      |               CAST(max(cnt) AS BIGINT) AS top_g
      |       FROM gc GROUP BY 1),
      |x AS (SELECT us.doc_id, n_tok,
      |        round(1.0 - CAST(d_tok AS DOUBLE) / n_tok, 6) AS dup_token_frac,
      |        round(coalesce(1.0 - CAST(d_g AS DOUBLE) / n_g, 0.0), 6) AS dup_2gram_frac,
      |        round(coalesce(CAST(top_g AS DOUBLE) / n_g, 0.0), 6) AS top_2gram_frac
      |      FROM us LEFT JOIN gs ON us.doc_id = gs.doc_id)
      |SELECT doc_id, n_tok, dup_token_frac, dup_2gram_frac, top_2gram_frac,
      |       (dup_token_frac <= 0.3 AND dup_2gram_frac <= 0.2
      |        AND top_2gram_frac <= 0.2) AS keep
      |FROM x ORDER BY doc_id""") { (s, d) =>
    import org.apache.spark.sql.classic.GraftBridge
    val docs = documents(s, d)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    val us = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_tok"),
        count(lit(1)).cast("long").as("d_tok"))
    val shingles = GraftBridge.column(graft.functions.ShingleGenerator(
      GraftBridge.expression(toks(col("text")))))
    val gs = docs
      .select(col("doc_id"), shingles.as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_g"),
        count(lit(1)).cast("long").as("d_g"),
        max(col("cnt")).cast("long").as("top_g"))
    us.join(gs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        round(lit(1.0) - col("d_tok").cast("double") / col("n_tok"), 6)
          .as("dup_token_frac"),
        round(coalesce(lit(1.0) - col("d_g").cast("double") / col("n_g"),
          lit(0.0)), 6).as("dup_2gram_frac"),
        round(coalesce(col("top_g").cast("double") / col("n_g"), lit(0.0)), 6)
          .as("top_2gram_frac"))
      .withColumn("keep",
        col("dup_token_frac") <= 0.3 && col("dup_2gram_frac") <= 0.2 &&
          col("top_2gram_frac") <= 0.2)
      .orderBy(col("doc_id"))
  }

  /** Deterministic stratified downsampling — the data-mixing primitive:
    * per-language keep rates (en 1/2, fr 1/4, de 1/8, rest 1/16) applied
    * via a salted hash bucket of the doc id. No RNG, no shuffle before
    * the final count; reproducible across runs, engines, and
    * partitionings; the ':smp' salt decorrelates the sample from q50's
    * train/valid/test hash so sampling never biases a split.
    */
  val q53StratifiedSample: QueryDef = sql(
    "q53_stratified_sample",
    """WITH x AS (SELECT lang, source,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':smp'), 1, 15)) AS BIGINT) % 16 AS b
      |  FROM documents),
      |s AS (SELECT lang, source, count(*) AS n_total,
      |        CAST(sum(CASE WHEN b < (CASE lang WHEN 'en' THEN 8 WHEN 'fr' THEN 4
      |                                WHEN 'de' THEN 2 ELSE 1 END)
      |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |      FROM x GROUP BY 1, 2)
      |SELECT lang, source, n_total, n_sampled,
      |       round(CAST(n_sampled AS DOUBLE) / n_total, 6) AS rate
      |FROM s ORDER BY lang, source""") { (s, d) =>
    val quota = when(col("lang") === "en", 8)
      .when(col("lang") === "fr", 4)
      .when(col("lang") === "de", 2).otherwise(1)
    documents(s, d)
      .select(col("lang"), col("source"),
        (tokHash(concat(col("doc_id").cast("string"), lit(":smp"))) % 16)
          .as("b"), quota.as("q"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("b") < col("q"), 1).otherwise(0)).cast("long")
          .as("n_sampled"))
      .select(col("lang"), col("source"), col("n_total"), col("n_sampled"),
        round(col("n_sampled").cast("double") / col("n_total"), 6).as("rate"))
      .orderBy(col("lang"), col("source"))
  }

  /** Per-group top-k (the 3 longest documents per (lang, source)) via
    * the bounded [[graft.functions.TopKLongPairs]] Aggregator — the
    * per-domain quota/exemplar selection stage of a curation pipeline.
    * The oracle states the semantics as the window idiom
    * (`row_number() OVER (PARTITION BY ...) <= k`), but the registered
    * plan deliberately is NOT that: a window would shuffle every corpus
    * row and sort whole groups to discard all but k; the aggregator
    * ships at most k rows per (partition, group) through the shuffle
    * with map-side partial combine — per-group TakeOrderedAndProject.
    * `GroupedTopKSpec` pins the window-free plan and partial-mode
    * aggregation.
    */
  val q85GroupedTopK: QueryDef = sql(
    "q85_grouped_topk",
    """WITH r AS (SELECT lang, source, doc_id, n_chars,
      |        row_number() OVER (PARTITION BY lang, source
      |                           ORDER BY n_chars DESC, doc_id) AS rnk
      |      FROM documents)
      |SELECT lang, source, CAST(rnk AS BIGINT) AS rnk, doc_id, n_chars
      |FROM r WHERE rnk <= 3 ORDER BY lang, source, rnk""") { (s, d) =>
    val topk = udaf(new graft.functions.TopKLongPairs(3))
    documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(topk(col("n_chars"), col("doc_id")).as("top"))
      .select(col("lang"), col("source"), posexplode(col("top")))
      .select(col("lang"), col("source"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col._2").as("doc_id"), col("col._1").as("n_chars"))
      .orderBy(col("lang"), col("source"), col("rnk"))
  }

  /** Benchmark decontamination: find every document sharing ≥ 3 distinct
    * 2-word shingles with a benchmark document (doc 0 stands in for the
    * eval set). The probe set is one document's shingles — broadcast —
    * so the check is a map-side broadcast semi-join over the shared
    * (df-capped) inverted index + per-doc count: one pass over the
    * corpus regardless of its size, the standard n-gram-overlap
    * decontamination shape.
    */
  val q54Decontaminate: QueryDef = sql(
    "q54_decontaminate",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |d0 AS (SELECT doc_id, list_distinct(list_transform(
      |        range(1, greatest(len(w), 2)), i -> w[i] || ' ' || w[i+1])) AS tk
      |      FROM w),
      |t0 AS (SELECT doc_id, unnest(tk) AS tok FROM d0),
      |tdf AS (SELECT tok, count(*) AS df FROM t0 GROUP BY 1),
      |t AS (SELECT doc_id, tok FROM t0 JOIN tdf USING (tok) WHERE df <= 1000),
      |probe AS (SELECT tok FROM t WHERE doc_id = 0)
      |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      |FROM t JOIN probe USING (tok)
      |WHERE t.doc_id <> 0
      |GROUP BY 1 HAVING count(*) >= 3
      |ORDER BY doc_id""") { (s, d) =>
    val idx = shingleIndex(s, d)
    val probe = idx.filter(col("doc_id") === 0).select(col("tok"))
    idx.filter(col("doc_id") =!= 0)
      .join(broadcast(probe), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("doc_id"))
  }

  /** Bloom-pruned decontamination — the same n-gram-overlap semantics
    * as [[q54Decontaminate]] scaled to a LARGE probe set (here the
    * "eval suite" is docs 0-4): instead of shipping the probe relation
    * into a broadcast hash join that every corpus row must probe, the
    * probe's distinct shingle hashes are aggregated ONCE into a Bloom
    * filter (~10 bits/key vs the join relation's 8-byte keys plus hash
    * machinery), and the corpus scan filters through it INSIDE
    * whole-stage codegen ([[graft.functions.BloomMightContainLong]]).
    * Only Bloom survivors — true matches plus the filter's false
    * positives — reach the exact broadcast join, which removes the
    * false positives; since a Bloom filter has no false NEGATIVES the
    * composition is bit-identical to the oracle's plain join for any
    * fpp. The two probe-side actions (count + filter build) are
    * driver-sized AGGREGATES of the artifact, the shape a production
    * pass reads from snapshot stats — no data rows cross the driver.
    */
  val q84BloomDecontaminate: QueryDef = sql(
    "q84_bloom_decontaminate",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |d0 AS (SELECT doc_id, list_distinct(list_transform(
      |        range(1, greatest(len(w), 2)), i -> w[i] || ' ' || w[i+1])) AS tk
      |      FROM w),
      |t0 AS (SELECT doc_id, unnest(tk) AS tok FROM d0),
      |tdf AS (SELECT tok, count(*) AS df FROM t0 GROUP BY 1),
      |t AS (SELECT doc_id, tok FROM t0 JOIN tdf USING (tok) WHERE df <= 1000),
      |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM t),
      |probe AS (SELECT DISTINCT h FROM th WHERE doc_id < 5)
      |SELECT th.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      |FROM th JOIN probe USING (h)
      |WHERE th.doc_id >= 5
      |GROUP BY 1 HAVING count(*) >= 3
      |ORDER BY doc_id""") { (s, d) => bloomDecontaminate(s, d, useBloom = true) }

  /** q84's body with the Bloom stage toggleable, so the spec can prove
    * the pruned plan equals the plain join it accelerates.
    *
    * r18: the Bloom gate moved BELOW the md5 (VERDICT r17 item 3). The
    * oracle-pinned join key `h` = md5(tok)→60 bits is ~20× the cost of
    * one codegen `xxhash64` pass, and at sf10-docs hashing the full
    * corpus index owned q138's wall (builder-measured 5.2 of 8.9 s).
    * The gate now blooms the PROBE's `xxhash64(tok)` values and filters
    * corpus rows on `xxhash64(tok)` BEFORE md5, so only plausible
    * contaminants (true matches + the filter's fp) ever reach the
    * md5→conv chain; the exact broadcast join on `h` then removes the
    * false positives as before. Equal token strings hash equal under
    * xxhash64 — a Bloom filter has no false negatives on its exact key
    * set — so every token-equal match survives and the composition
    * stays bit-identical to the plain join (`BloomFunctionsSpec` pins
    * gated ≡ ungated on the fixture; the DuckDB oracle pins the real
    * SFs). The one input class where gated and ungated could diverge —
    * two DIFFERENT shingle strings whose 60-bit md5 prefixes collide,
    * which the declared query would count as shared — has probability
    * ~2⁻⁶⁰ per token pair and is absent from every oracle-checked
    * corpus. */
  private[graft] def bloomDecontaminate(s: SparkSession, d: String,
      useBloom: Boolean): DataFrame = {
    val idx = shingleIndex(s, d)
    val probeToks = idx.filter(col("doc_id") < 5)
    val probe = probeToks.select(tokHash(col("tok")).as("h")).distinct()
    val corpus = idx.filter(col("doc_id") >= 5)
    val pruned = if (useBloom) {
      // raw probe row count (≥ distinct keys) sizes the filter without
      // paying a distinct; both probe actions stay driver-sized
      val gate = probeToks.select(xxhash64(col("tok")).as("x"))
        .stat.bloomFilter("x", math.max(probeToks.count(), 1L), 0.03)
      corpus.filter(graft.functions.BloomFunctions.mightContainLong(
        xxhash64(col("tok")), gate))
    } else corpus
    pruned
      .select(col("doc_id"), tokHash(col("tok")).as("h"))
      .join(broadcast(probe), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy(col("doc_id"))
  }

  /** Asymmetric CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥ 0.8 — catches
    * a small document embedded in a larger one (quotes, boilerplate,
    * snippet reuse), which symmetric Jaccard structurally misses (a
    * 20-shingle doc inside a 100-shingle doc has jac ≤ 0.2 but
    * containment 1.0). The oracle keeps the df-capped hashed-index
    * self-join + pair-count formulation; the Spark plan computes the
    * identical relation through the one-sided prefix filter (the
    * asymmetric-threshold variant of q27's candidate chain — no length
    * filter: size-mismatched pairs are exactly the signal here):
    *  - containment ≥ 0.8 forces overlap ≥ ⌈0.8·n_small⌉, so the
    *    SMALLER document's first n − ⌈0.8·n⌉ + 1 tokens (~20% of it,
    *    rarest first) must include a token of the larger document —
    *    the join runs prefix(smaller-role) × full index, each unordered
    *    pair covered exactly once via the (n, doc_id) role order;
    *  - positional filter: a shared token at ranks (ra, rb) bounds the
    *    overlap by 1 + min(na−ra, nb−rb) ≥ ⌈0.8·na⌉ (any-row-passes,
    *    as in q27);
    *  - distinct surviving pairs verify exactly via the broadcast
    *    sorted hash arrays (`SortedIntersectCount`), replacing the
    *    round-8 every-shared-occurrence pair aggregation.
    */
  val q55Containment: QueryDef = sql(
    "q55_containment",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |d0 AS (SELECT doc_id, list_distinct(list_transform(
      |        range(1, greatest(len(w), 2)), i -> w[i] || ' ' || w[i+1])) AS tk
      |      FROM w),
      |t0 AS (SELECT doc_id, unnest(tk) AS tok FROM d0),
      |tdf AS (SELECT tok, count(*) AS df FROM t0 GROUP BY 1),
      |t AS (SELECT doc_id, tok FROM t0 JOIN tdf USING (tok) WHERE df <= 1000),
      |sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
      |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM t),
      |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      |      FROM th a JOIN th b ON a.h = b.h AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |j AS (SELECT d1, d2, CAST(inter AS DOUBLE) / least(s1.n, s2.n) AS containment
      |      FROM p JOIN sz s1 ON s1.doc_id = d1 JOIN sz s2 ON s2.doc_id = d2)
      |SELECT d1, d2, round(containment, 6) AS containment
      |FROM j WHERE containment >= 0.8 ORDER BY d1, d2""") { (s, d) =>
    val pv = pairVolume(s, d)
    if (pv <= PairCountKnee) containmentCountPath(s, d)
    else containmentPrefixPath(s, d)
  }

  /** Sub-knee q55 plan: raw index self-join + pair count (the oracle's
    * own formulation) — cheapest while Σ df²/2 is small. */
  private[graft] def containmentCountPath(
      s: SparkSession, d: String): DataFrame = {
    val t = shingleIndex(s, d)
    val sz = t.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val th = t.select(col("doc_id"), tokHash(col("tok")).as("h"))
    val a = th.select(col("doc_id").as("d1"), col("h"))
    val b = th.select(col("doc_id").as("d2"), col("h"))
    a.join(b, Seq("h"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("containment",
        col("inter").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= 0.8)
      .select(col("d1"), col("d2"),
        round(col("containment"), 6).as("containment"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Above-knee q55 plan: one-sided (smaller-role) prefix filter +
    * broadcast sorted-array verification (see the q55 scaladoc). */
  private[graft] def containmentPrefixPath(
      s: SparkSession, d: String): DataFrame = {
    val rk = rankedIndex(s, d)
    // smaller-role prefix |X| − ⌈0.8·|X|⌉ + 1; ⌈4n/5⌉ = (4n+4) DIV 5
    val pre = rk.filter(col("r") <= col("n") - expr("(4*n+4) DIV 5") + 1)
    val a = pre.select(col("doc_id").as("da"), col("h"),
      col("n").as("na"), col("r").as("ra"))
    val b = rk.select(col("doc_id").as("db"), col("h"),
      col("n").as("nb"), col("r").as("rb"))
    // role order (n, doc_id): each unordered pair meets exactly once,
    // with `a` the smaller document. minoverlap ⌈4·na/5⌉ ≤ ubound ⟺
    // 5·ubound ≥ 4·na (ubound integer).
    val cand = a.join(b, Seq("h"))
      .filter((col("na") < col("nb") ||
          (col("na") === col("nb") && col("da") < col("db"))) &&
        (lit(1) + least(col("na") - col("ra"), col("nb") - col("rb"))) * 5 >=
          col("na") * 4)
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"))
      .distinct()
    withPairArrays(s, d, cand)
      .withColumn("inter",
        graft.functions.SetFunctions.sortedIntersectCount(col("hs1"), col("hs2")))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= 0.8)
      .select(col("d1"), col("d2"), round(col("containment"), 6).as("containment"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Sliding-window token chunking (chunk = 32 tokens, stride = 24,
    * overlap = 8): the step that turns documents into fixed-size
    * training sequences. Chunk count ⌈(n−C)/S⌉+1 guarantees every token
    * is covered and the last chunk is never a strict subset of its
    * predecessor. Pure per-row explode — no shuffle, no join; at 100 TB
    * this is a map-only pass whose output partitioning inherits the
    * scan's.
    */
  val q57ChunkOverlap: QueryDef = sql(
    "q57_chunk_overlap",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |n AS (SELECT doc_id, w, len(w) AS n_tok,
      |        greatest(1, CAST(ceil((len(w) - 32) / 24.0) AS INT) + 1) AS n_chunks
      |      FROM w),
      |c AS (SELECT doc_id, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_id, w, n_tok FROM n)
      |SELECT doc_id, chunk_id,
      |  CAST(least(32, n_tok - chunk_id * 24) AS INT) AS chunk_tokens,
      |  array_to_string(w[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk
      |FROM c ORDER BY doc_id, chunk_id""") { (s, d) =>
    val C = 32
    val S = 24
    documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .withColumn("n_tok", size(col("w")))
      .withColumn("n_chunks",
        greatest(lit(1),
          ceil((col("n_tok") - C) / lit(S.toDouble)).cast("int") + 1))
      .select(col("doc_id"), col("w"), col("n_tok"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        least(lit(C), col("n_tok") - col("chunk_id") * S)
          .cast("int").as("chunk_tokens"),
        array_join(slice(col("w"), col("chunk_id") * S + 1, lit(C)), " ")
          .as("chunk"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** `df.localCheckpoint()` unless a plan audit asked for the
    * untruncated twin (`ckpt = false`) — results identical either way;
    * the checkpoint only stops Spark re-executing a multiply-referenced
    * subtree once per reference. */
  private def maybeCkpt(df: DataFrame, ckpt: Boolean): DataFrame =
    if (ckpt) df.localCheckpoint() else df

  /** Docs per prefix-sum block in [[packSequencesPlan]]. 128 puts the
    * driver's sf0.01 verify (≈500 docs) and the sf0.1 bench on the real
    * multi-block path; a 100 TB deployment raises it (4096+) so the
    * block-totals table is corpus/B rows — the scale knob. */
  private[graft] val PackBlockDocs = 128L

  /** Greedy sequence packing (concat-without-splitting into 256-token
    * bins): each document lands in the bin its exclusive running token
    * offset falls in — the standard pre-training packing approximation
    * (bins may overflow by less than one document).
    *
    * The running offset is a TWO-LEVEL prefix sum, never one window per
    * source: `source` is low-cardinality, so a per-source window sorts
    * each source's entire corpus in ONE task at scale. Instead the
    * corpus blocks on (source, ⌊doc_id/B⌋): the within-block exclusive
    * running sum parallelizes across corpus/B tasks of ≤B rows, the
    * per-block totals (a corpus/B-row table) take their own per-source
    * exclusive prefix sum — trivially small, and recursable to a third
    * level if corpus/B ever stops being small — and the block offset
    * broadcast-joins back. ⌊doc_id/B⌋ is monotone in doc_id, so
    * (blk asc, doc_id asc within blk) is exactly the per-source doc_id
    * order, and every sum is over longs — exact and associative — so
    * the offsets are bit-identical to the single-window form the oracle
    * keeps (proved by `PackingSpec` against the naive window at several
    * block sizes).
    *
    * Physical shape (pinned in `PlanAuditSpec`): the corpus window
    * partitions on (source, blk) — corpus/B tasks of ≤B rows, never a
    * per-source corpus sort; the block-totals branch partial-aggregates
    * MAP-SIDE, so its exchange and the per-source prefix window carry
    * only corpus/B aggregated rows; the block offsets come back as a
    * broadcast hash join. Two map-parallel corpus passes total (window
    * + block totals — Catalyst prunes the totals branch down past the
    * window, which beats reusing the wide exchange), and the only
    * corpus-row shuffle is the window's blocked one.
    */
  /** The blocked exclusive-prefix-sum core shared by the packing family:
    * (source, doc_id, n_tok, off) where `off` is each document's global
    * token offset in its source's doc_id order. See the scaladoc above
    * for why the blocked two-level form is bit-identical to the naive
    * per-source window at any block size (`PackingSpec`).
    */
  private[graft] def packOffsets(
      s: SparkSession, d: String, blockDocs: Long): DataFrame =
    packOffsetsFrom(
      documents(s, d).select(col("source"), col("doc_id"),
        graft.functions.TokenCount.tokenCount(col("text")).as("n_tok")),
      blockDocs)

  /** [[packOffsets]] over an arbitrary (source, doc_id, n_tok) relation —
    * the incremental path ([[q127PackIncremental]]) runs the same blocked
    * prefix sum over the base and the delta SEPARATELY.
    *
    * `levels` is the prefix-sum depth: 2 (default) is the blocked
    * two-level form — fine whenever each source's block-totals table
    * (rows/B per source) fits one sorted task. A caller whose `source`
    * is a CONSTANT pseudo-key (q133's cross-source global pass) passes
    * 3: the block totals then take their OWN blocked prefix, so the one
    * single-task window at the top sorts rows/B² rows instead of
    * rows/B — at 10¹¹ packed sequences with the deployment block size
    * (4096) that is ~6k rows where two levels would leave ~2.4·10⁷ in
    * one task. Every level sums longs (exact, associative), so the
    * offsets are bit-identical at any depth (`ShardManifestSpec` pins a
    * levels-2 ≡ levels-3 case alongside its block-size sweep). */
  private[graft] def packOffsetsFrom(
      docs: DataFrame, blockDocs: Long, levels: Int = 2,
      innerBlockDocs: Long = -1L): DataFrame = {
    require(levels >= 2, s"prefix-sum depth must be >= 2, got $levels")
    // callers with SPARSE ids (q136's virtual-time keys) block level 1
    // by key range; the level-1 block ids handed to the recursion are
    // DENSE, so deeper levels block by innerBlockDocs (row count)
    val inner = if (innerBlockDocs > 0) innerBlockDocs else blockDocs
    val wLoc = Window.partitionBy(col("source"), col("blk"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wBlk = Window.partitionBy(col("source")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = docs
      // doc_id / B in doubles is exact below 2^53 — far past any doc_id
      .withColumn("blk", floor(col("doc_id") / blockDocs.toDouble).cast("long"))
    val local = base
      .withColumn("loc_off", coalesce(sum(col("n_tok")).over(wLoc), lit(0L)))
    val blkTot = local
      .groupBy(col("source"), col("blk"))
      .agg(sum(col("n_tok")).as("blk_tot"))
    val blkOff =
      if (levels == 2)
        blkTot
          .withColumn("blk_off", coalesce(sum(col("blk_tot")).over(wBlk), lit(0L)))
          .select(col("source"), col("blk"), col("blk_off"))
      else
        // recurse: the block-totals table is itself a (source, doc_id,
        // n_tok) relation whose exclusive prefix is exactly blk_off
        packOffsetsFrom(
          blkTot.select(col("source"), col("blk").as("doc_id"),
            col("blk_tot").as("n_tok")),
          inner, levels - 1)
          .select(col("source"), col("doc_id").as("blk"),
            col("off").as("blk_off"))
    local.join(broadcast(blkOff), Seq("source", "blk"))
      .withColumn("off", col("blk_off") + col("loc_off"))
      .select(col("source"), col("doc_id"), col("n_tok"), col("off"))
  }

  private[graft] def packSequencesPlan(
      s: SparkSession, d: String, blockDocs: Long): DataFrame =
    packOffsets(s, d, blockDocs)
      // off/256.0 is a power-of-two division — exact in doubles, so the
      // floor is bit-identical in both engines
      .withColumn("seq_id", floor(col("off") / 256.0).cast("int"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("seq_id"))

  /** The naive single-window-per-source form — NOT registered; it is the
    * equivalence oracle `PackingSpec` checks [[packSequencesPlan]]
    * against, and the literal shape of the DuckDB SQL. */
  private[graft] def packSequencesNaive(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(s, d)
      .select(col("source"), col("doc_id"), graft.functions.TokenCount.tokenCount(col("text")).as("n_tok"))
      .withColumn("off", coalesce(sum(col("n_tok")).over(w), lit(0)))
      .withColumn("seq_id", floor(col("off") / 256.0).cast("int"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("seq_id"))
  }

  val q58PackSequences: QueryDef = sql(
    "q58_pack_sequences",
    """WITH n AS (SELECT source, doc_id,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |o AS (SELECT source, doc_id, n_tok,
      |        COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM n),
      |b AS (SELECT source, doc_id, n_tok,
      |        CAST(floor(off / 256.0) AS INT) AS seq_id FROM o)
      |SELECT source, seq_id, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM b GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    packSequencesPlan(s, d, PackBlockDocs)
  }

  /** TRAINING-SHARD MANIFEST — the last hop before training data hits
    * object storage: q58's packed 256-token sequences are assigned to
    * fixed-token-budget shards (16,384 tokens ≈ 64 sequences per shard,
    * split at sequence boundaries in global (source, seq_id) order) and
    * each shard gets a manifest row: sequence/token counts, how many
    * sources it spans, and its first/last (source, seq_id) — what a
    * dataloader needs to address shards without opening them.
    *
    * Scale shape: the global token prefix is [[packOffsetsFrom]]'s
    * blocked two-level sum reused ACROSS sources — bins are keyed
    * src_idx·2⁴⁰ + seq_id (src_idx from the |sources|-row broadcast
    * dimension), so one pseudo-source's blocked prefix ranks the whole
    * corpus with NO corpus-wide window (the oracle states the literal
    * global window; `ShardManifestSpec` pins the blocked form equal at
    * several block sizes AND depths). Because the pseudo-source is
    * constant, the global pass runs at prefix depth 3 — its one
    * single-task window holds n_seq/B² block-of-block rows, not
    * n_seq/B (round 15; was the known single-task watch item).
    * Shard assignment is then a map-side
    * power-of-two division of the exclusive prefix (exact in doubles),
    * and the manifest is one |shards|-row aggregate. */
  val q133ShardManifest: QueryDef = sql(
    "q133_shard_manifest",
    """WITH n AS (SELECT source, doc_id,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |o AS (SELECT source, doc_id, n_tok,
      |        COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM n),
      |b AS (SELECT source, doc_id, n_tok,
      |        CAST(floor(off / 256.0) AS INT) AS seq_id FROM o),
      |bins AS (SELECT source, seq_id,
      |        CAST(sum(n_tok) AS BIGINT) AS seq_tokens
      |      FROM b GROUP BY 1, 2),
      |r AS (SELECT source, seq_id, seq_tokens,
      |        COALESCE(sum(seq_tokens) OVER (ORDER BY source, seq_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS tok_off
      |      FROM bins),
      |sh AS (SELECT source, seq_id, seq_tokens, tok_off,
      |        CAST(tok_off // 16384 AS BIGINT) AS shard_id FROM r)
      |SELECT shard_id, count(*) AS n_seqs,
      |  CAST(sum(seq_tokens) AS BIGINT) AS shard_tokens,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  arg_min(source, tok_off) AS first_source,
      |  CAST(arg_min(seq_id, tok_off) AS INT) AS first_seq,
      |  arg_max(source, tok_off) AS last_source,
      |  CAST(arg_max(seq_id, tok_off) AS INT) AS last_seq
      |FROM sh GROUP BY shard_id ORDER BY shard_id""") { (s, d) =>
    shardManifestPlan(s, d, PackBlockDocs)
  }

  /** See [[q133ShardManifest]]; split out so `ShardManifestSpec` can pin
    * block-size independence and the manifest invariants. `ckpt = false`
    * (PlanAuditSpec only) skips the materialization so the audit sees
    * the full untruncated plan — identical logical shape, offsets
    * bit-identical either way. */
  private[graft] def shardManifestPlan(
      s: SparkSession, d: String, blockDocs: Long,
      ckpt: Boolean = true): DataFrame = {
    // materialized ONCE: srcIdx + the depth-3 prefix reference this
    // relation ~6× through packOffsetsFrom's local/blkTot branches —
    // uncheckpointed, each reference re-ran the corpus tokenize+pack
    // chain (28 parquet scans in the executed plan)
    val bins = maybeCkpt(packSequencesPlan(s, d, blockDocs)
      .select(col("source"), col("seq_id"), col("seq_tokens")), ckpt)
    // |sources|-row dimension: alphabetical index, broadcast both ways
    val srcIdx = bins.select(col("source")).distinct()
      .withColumn("src_idx",
        (row_number().over(Window.orderBy(col("source"))) - 1).cast("long"))
    val keyed = bins.join(broadcast(srcIdx), "source")
      .select(lit("_g").as("source"),
        (col("src_idx") * (1L << 40) + col("seq_id")).as("doc_id"),
        col("seq_tokens").as("n_tok"))
    // off = exclusive GLOBAL token prefix in (source, seq_id) order —
    // the composite key orders identically to the pair (seq_id < 2^40).
    // levels = 3: the pseudo-source "_g" is constant, so the two-level
    // form's top window would sort ALL n_seq/B block rows in one task;
    // the third level bounds that single task at n_seq/B² rows (~6k at
    // 10¹¹ sequences with the deployment block size) — bit-identical
    // offsets at any depth (ShardManifestSpec).
    val ranked = packOffsetsFrom(keyed, blockDocs, levels = 3)
      .withColumn("src_idx", shiftright(col("doc_id"), 40))
      .withColumn("seq_id",
        col("doc_id").bitwiseAND(lit((1L << 40) - 1)).cast("int"))
      // off / 2^14 is an exponent shift — exact in doubles at any off
      .withColumn("shard_id", floor(col("off") / 16384.0).cast("long"))
    ranked
      .join(broadcast(srcIdx.select(col("source").as("src"), col("src_idx"))),
        "src_idx")
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("n_tok")).as("shard_tokens"),
        countDistinct(col("src")).as("n_sources"),
        min_by(struct(col("src"), col("seq_id")), col("off")).as("f"),
        max_by(struct(col("src"), col("seq_id")), col("off")).as("l"))
      .select(col("shard_id"), col("n_seqs"), col("shard_tokens"),
        col("n_sources"),
        col("f.src").as("first_source"), col("f.seq_id").as("first_seq"),
        col("l.src").as("last_source"), col("l.seq_id").as("last_seq"))
      .orderBy(col("shard_id"))
  }

  /** MIXTURE-INTERLEAVED SHARD LAYOUT — the dataloader-order complement
    * of [[q133ShardManifest]] (VERDICT r14 item 6b): q133 cuts shards in
    * source-BLOCKED global order, so a sequential reader sees
    * source-homogeneous runs; real mixture training wants each shard
    * (and any prefix of the shard stream) to approximate the target
    * mix. This query interleaves q58's packed sequences by STRIDE
    * SCHEDULING (WFQ/stride virtual time, the deterministic form of
    * every rate-based mixture dataloader): source s's sequence at
    * within-source token position p (= seq_id·256) is scheduled at
    * virtual time k = ⌊(seq_id+1)·2²⁴ / w_s⌋ with integer rate
    * w_s = ⌊√T_s⌋ — the α = 0.5 temperature mixture (q114's recipe:
    * rare sources up-weighted relative to natural share), all BIGINT
    * arithmetic (⌊√·⌋ of a long is engine-identical: IEEE sqrt is
    * correctly rounded). Sequences sort by (k, source, seq_id) — total,
    * integer-exact — then 16,384-token shards are cut over THAT order.
    * Per shard the manifest reports the mixing audit: sources spanned
    * and the dominant source's token share in ppm (source-blocked q133
    * shards sit at 1,000,000; interleaved shards approach the mixture).
    *
    * Scale shape: rates and the source index are |sources|-row
    * broadcast aggregates; the interleave key is map-side arithmetic;
    * the global prefix reuses [[packOffsetsFrom]] at depth 3 under the
    * q133 pseudo-source trick with composite key k·2²⁵ + src_idx·2²⁰ +
    * seq_id (orders identically to (k, source, seq_id)) WHEN the key
    * fits (|sources| ≤ 32, seq_id < 2²⁰, checked from one bins-sized
    * aggregate); corpora past those bounds route AUTOMATICALLY through
    * [[interleaveOffsetsByRange]] — the same prefix computed by
    * key-range blocking on k directly, no packing, bit-identical
    * offsets (`InterleaveShardSpec` pins composite ≡ range on in-bounds
    * data and drives an out-of-bounds corpus through the fallback).
    * Virtual-time keys are SPARSE, so blocks are sized by key RANGE
    * (one stats row picks blockEff ≈ key-span/(n/B) — any monotone
    * blocking is exact, `InterleaveShardSpec` recomputes the whole
    * layout from scratch). bins is localCheckpointed once so the
    * bounds/stats/main passes share one corpus scan. */
  val q136InterleavedShards: QueryDef = sql(
    "q136_interleaved_shards",
    """WITH n AS (SELECT source, doc_id,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |o AS (SELECT source, doc_id, n_tok,
      |        COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM n),
      |b AS (SELECT source, doc_id, n_tok,
      |        CAST(floor(off / 256.0) AS INT) AS seq_id FROM o),
      |bins AS (SELECT source, seq_id,
      |        CAST(sum(n_tok) AS BIGINT) AS seq_tokens
      |      FROM b GROUP BY 1, 2),
      |ts AS (SELECT source,
      |        CAST(floor(sqrt(CAST(sum(seq_tokens) AS BIGINT))) AS BIGINT)
      |          AS w
      |      FROM bins GROUP BY 1),
      |ky AS (SELECT bins.source, bins.seq_id, bins.seq_tokens,
      |        ((CAST(bins.seq_id AS BIGINT) + 1) * 16777216) // ts.w AS k
      |      FROM bins JOIN ts USING (source)),
      |r AS (SELECT source, seq_id, seq_tokens,
      |        COALESCE(sum(seq_tokens) OVER (ORDER BY k, source, seq_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS tok_off
      |      FROM ky),
      |sh AS (SELECT source, seq_id, seq_tokens,
      |        CAST(tok_off // 16384 AS BIGINT) AS shard_id FROM r),
      |g1 AS (SELECT shard_id, source, count(*) AS n,
      |        CAST(sum(seq_tokens) AS BIGINT) AS toks
      |      FROM sh GROUP BY 1, 2)
      |SELECT shard_id, CAST(sum(n) AS BIGINT) AS n_seqs,
      |  CAST(sum(toks) AS BIGINT) AS shard_tokens,
      |  CAST(count(*) AS BIGINT) AS n_sources,
      |  (max(toks) * 1000000) // CAST(sum(toks) AS BIGINT)
      |    AS max_src_share_ppm
      |FROM g1 GROUP BY 1 ORDER BY 1""") { (s, d) =>
    interleavedShardsPlan(s, d, PackBlockDocs)
  }

  /** Production interleave prefix — the composite key's "range-partition
    * the sort by k" recipe as code: the global exclusive running sum
    * over (k, src, seq_id) order via KEY-RANGE blocking on the
    * virtual-time key itself. Blocking by a PREFIX of the sort key is
    * monotone (k alone picks the block, so every row of block i
    * precedes every row of block j > i); key ties complete their
    * (k, src, seq_id) order inside the block's window; and the
    * block-totals table rides [[packOffsetsFrom]] under a constant
    * pseudo-source, so no single task ever sorts more than ~n/B² rows.
    * Every sum is over longs — bit-identical to the packed-composite
    * route on in-bounds data (`InterleaveShardSpec` pins the equality)
    * and free of that route's |sources| ≤ 32 / seq_id < 2²⁰ bounds:
    * this is the deployment path when a corpus has hundreds of sources
    * or virtual times past the packed key's headroom. */
  private[graft] def interleaveOffsetsByRange(
      keyed0: DataFrame, blockDocs: Long,
      ckpt: Boolean = true): DataFrame = {
    // materialized ONCE: the span stats collect below plus the window
    // and block-totals branches would otherwise each re-run the whole
    // upstream pipeline (3× — bins-sized, but a multi-stage replay)
    val keyed = maybeCkpt(keyed0, ckpt)
    val st = keyed.agg(min(col("k")).as("mn"), max(col("k")).as("mx"),
      count(lit(1)).as("n")).collect()(0)
    val (mn, mx, n) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val span = math.max(1L, (mx - mn + 1) / math.max(1L, n / blockDocs))
    val wLoc = Window.partitionBy(col("blk"))
      .orderBy(col("k"), col("src"), col("seq_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = keyed
      .withColumn("blk", expr(s"(k - ${mn}L) div ${span}L"))
      .withColumn("loc_off", coalesce(sum(col("n_tok")).over(wLoc), lit(0L)))
    val blkOff = packOffsetsFrom(
      local.groupBy(col("blk")).agg(sum(col("n_tok")).as("blk_tot"))
        .select(lit("_g").as("source"), col("blk").as("doc_id"),
          col("blk_tot").as("n_tok")),
      blockDocs)
      .select(col("doc_id").as("blk"), col("off").as("blk_off"))
    local.join(broadcast(blkOff), Seq("blk"))
      .withColumn("off", col("blk_off") + col("loc_off"))
      .select(col("src"), col("seq_id"), col("n_tok"), col("off"))
  }

  /** See [[q136InterleavedShards]]; split out for `InterleaveShardSpec`.
    * `forceRange` routes an in-bounds corpus through the production
    * range-blocked path so the spec can pin composite ≡ range
    * bit-equality; out-of-bounds corpora take that path AUTOMATICALLY
    * (the former demo-bounds require() is now a route, not a wall). */
  private[graft] def interleavedShardsPlan(
      s: SparkSession, d: String, blockDocs: Long,
      forceRange: Boolean = false, ckpt: Boolean = true): DataFrame =
    interleavedStreamPlan(s, d, blockDocs, forceRange, ckpt)
      .withColumn("shard_id", floor(col("off") / 16384.0).cast("long"))
      .groupBy(col("shard_id"), col("src"))
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("toks"))
      .groupBy(col("shard_id"))
      .agg(sum(col("n")).as("n_seqs"),
        sum(col("toks")).as("shard_tokens"),
        count(lit(1)).as("n_sources"),
        max(col("toks")).as("mx_toks"))
      .select(col("shard_id"), col("n_seqs"), col("shard_tokens"),
        col("n_sources"),
        expr("(mx_toks * 1000000) div shard_tokens").as("max_src_share_ppm"))
      .orderBy(col("shard_id"))

  /** q136's interleaved stream BEFORE the shard aggregate:
    * (src, n_tok, off) in global (k, source, seq_id) stride order —
    * shared by [[q136InterleavedShards]] and the run-length audit. */
  private[graft] def interleavedStreamPlan(
      s: SparkSession, d: String, blockDocs: Long,
      forceRange: Boolean = false, ckpt: Boolean = true): DataFrame = {
    val bins = maybeCkpt(packSequencesPlan(s, d, blockDocs)
      .select(col("source"), col("seq_id"), col("seq_tokens")), ckpt)
    val bounds = bins
      .agg(max(col("seq_id")).as("mx_seq"),
        countDistinct(col("source")).as("n_src"))
      .collect()(0)
    // the packed composite k·2²⁵ + src_idx·2²⁰ + seq_id is the cheap
    // route (single-long sort key) when it fits; otherwise the range-
    // blocked production path — identical offsets either way
    val compositeFits =
      bounds.getInt(0) < (1 << 20) && bounds.getLong(1) <= 32L
    val rates = bins.groupBy(col("source"))
      .agg(floor(sqrt(sum(col("seq_tokens")))).cast("long").as("w"))
    val withOff: DataFrame =
      if (compositeFits && !forceRange) {
        val srcIdx = bins.select(col("source")).distinct()
          .withColumn("src_idx",
            (row_number().over(Window.orderBy(col("source"))) - 1).cast("long"))
        val keyed = bins
          .join(broadcast(rates), "source")
          .join(broadcast(srcIdx), "source")
          .withColumn("k",
            expr("((cast(seq_id as bigint) + 1) * cast(16777216 as bigint)) div w"))
          .select(lit("_g").as("source"),
            (col("k") * (1L << 25) + col("src_idx") * (1L << 20) +
              col("seq_id").cast("long")).as("doc_id"),
            col("seq_tokens").as("n_tok"))
          // materialized ONCE: the blockEff stats collect plus the
          // depth-3 prefix's branch references would otherwise replay
          // this join pipeline ~5×
          .transform(kdf => maybeCkpt(kdf, ckpt))
        // virtual-time keys are sparse: size blocks by key RANGE so the
        // blocked prefix still forms ~n/B groups (any monotone blocking
        // is offset-exact; see packOffsetsFrom)
        val st = keyed.agg(max(col("doc_id")).as("mx"), count(lit(1)).as("n"))
          .collect()(0)
        val blockEff = math.max(blockDocs,
          (st.getLong(0) + 1) / math.max(1L, st.getLong(1) / blockDocs) + 1)
        packOffsetsFrom(keyed, blockEff, levels = 3,
            innerBlockDocs = blockDocs)
          .withColumn("src_idx",
            shiftright(col("doc_id"), 20).bitwiseAND(lit(31L)))
          .join(broadcast(
            srcIdx.select(col("source").as("src"), col("src_idx"))),
            "src_idx")
          .select(col("src"), col("n_tok"), col("off"))
      } else {
        interleaveOffsetsByRange(
          bins.join(broadcast(rates), "source")
            .withColumn("k",
              expr("((cast(seq_id as bigint) + 1) * cast(16777216 as bigint)) div w"))
            .select(col("source").as("src"), col("seq_id"),
              col("seq_tokens").as("n_tok"), col("k")),
          blockDocs, ckpt)
          .select(col("src"), col("n_tok"), col("off"))
      }
    withOff
  }

  /** INCREMENTAL SHARD-MANIFEST UPDATE — the shard layer's member of
    * the incremental family (q76 dedup / q127 packing / q129 ANN index /
    * q134 clusters): an append arrives (doc_id > ⌊0.9·max⌋, q127's
    * snapshot-boundary convention) and the PER-SOURCE shard manifest
    * (16,384-token shards over each source's packed 256-token bins)
    * must be updated WITHOUT re-ranking the base corpus. Because every
    * offset is an exclusive prefix sum and appends sort last in
    * (source, doc_id) order, an ingest can only EXTEND each source's
    * boundary shard and append new shards — shards before the boundary
    * are immutable. Output: the affected rows only (shard_idx ≥ the
    * boundary shard S0), per (source, shard): sequence count and token
    * mass — exactly the full rebuild's rows for those shards (the
    * oracle builds the full per-source manifest and filters; bit-equal
    * composition, all long arithmetic).
    *
    * Scale shape: the base contributes two per-snapshot CACHED
    * artifacts (its bin relation and its shard manifest — the
    * q123/q127/q134 convention; a production pipeline persists the
    * |sources|-row boundary state directly) plus a |sources|-row
    * boundary-state aggregate over the cached bins; per-ingest compute
    * is DELTA-sized: the delta's own blocked prefix, one bins-group,
    * a composed prefix over (boundary bin ∪ delta bins), and
    * broadcast joins of |sources|-row state. Nothing corpus-sized
    * recomputes per ingest. */
  val q137IncrementalShards: QueryDef = sql(
    "q137_incremental_shard_update",
    """WITH n AS (SELECT source, doc_id,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |cut AS (SELECT (max(doc_id) * 9) // 10 AS c FROM documents),
      |o AS (SELECT source, doc_id, n_tok,
      |        COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM n),
      |b AS (SELECT source, doc_id, n_tok,
      |        CAST(floor(off / 256.0) AS INT) AS seq_id FROM o),
      |bins AS (SELECT source, seq_id,
      |        CAST(sum(n_tok) AS BIGINT) AS seq_tokens
      |      FROM b GROUP BY 1, 2),
      |r AS (SELECT source, seq_id, seq_tokens,
      |        COALESCE(sum(seq_tokens) OVER (PARTITION BY source
      |          ORDER BY seq_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS bin_off
      |      FROM bins),
      |full_sh AS (SELECT source,
      |        CAST(bin_off // 16384 AS BIGINT) AS shard_idx,
      |        CAST(count(*) AS BIGINT) AS n_seqs,
      |        CAST(sum(seq_tokens) AS BIGINT) AS shard_tokens
      |      FROM r GROUP BY 1, 2),
      |ds AS (SELECT DISTINCT source FROM n CROSS JOIN cut WHERE doc_id > c),
      |tb AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS t_base
      |       FROM n CROSS JOIN cut WHERE doc_id <= c GROUP BY source),
      |s0 AS (SELECT r.source, CAST(r.bin_off // 16384 AS BIGINT) AS s0
      |       FROM r JOIN (SELECT ds.source, COALESCE(tb.t_base, 0) AS t_base
      |                    FROM ds LEFT JOIN tb USING (source)) x
      |         USING (source)
      |       WHERE r.seq_id = CAST(floor(x.t_base / 256.0) AS INT))
      |SELECT f.source, f.shard_idx, f.n_seqs, f.shard_tokens
      |FROM full_sh f JOIN s0 USING (source)
      |WHERE f.shard_idx >= s0.s0
      |ORDER BY f.source, f.shard_idx""") { (s, d) =>
    incrementalShardPlan(s, d, PackBlockDocs)
  }

  /** CONTAMINATION-AWARE SHARD MANIFEST — q84's decontamination signal
    * joined INTO q133's shard layout (VERDICT r15 item 6b): per training
    * shard, how much of its token mass belongs to documents that
    * overlap the held-out benchmark (q84's capped-shingle probe, docs
    * 0–4, ≥ 3 shared shingles). This is the report a training run needs
    * BEFORE it reads a shard stream: which shards to drop or re-cut
    * when the decontamination sweep lands after the layout was built.
    * Because q58's packing is greedy concat-without-splitting, a
    * document lives entirely in ONE sequence and a sequence entirely in
    * ONE shard, so contaminated mass per shard is an exact integer
    * aggregate — no partial-overlap approximation.
    *
    * Scale shape: one packing chain (the per-source blocked prefix +
    * q133's depth-3 global bin prefix — nothing new over q133's own
    * cost); the doc→shard hop is an equi-join on (source, seq_id) —
    * corpus-row but key-dense, the well-distributed case; the
    * contaminated doc set is q84's OUTPUT (benchmark-overlapping docs
    * only — broadcast-sized by construction, and its build rides the
    * session-cached shingle index the dedup family already shares).
    * All-BIGINT arithmetic; ppm is integer div. */
  val q138ContaminatedShards: QueryDef = sql(
    "q138_contaminated_shards",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |d0 AS (SELECT doc_id, list_distinct(list_transform(
      |        range(1, greatest(len(w), 2)), i -> w[i] || ' ' || w[i+1])) AS tk
      |      FROM w),
      |t0 AS (SELECT doc_id, unnest(tk) AS tok FROM d0),
      |tdf AS (SELECT tok, count(*) AS df FROM t0 GROUP BY 1),
      |t AS (SELECT doc_id, tok FROM t0 JOIN tdf USING (tok) WHERE df <= 1000),
      |th AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM t),
      |probe AS (SELECT DISTINCT h FROM th WHERE doc_id < 5),
      |cont AS (SELECT th.doc_id FROM th JOIN probe USING (h)
      |         WHERE th.doc_id >= 5 GROUP BY 1 HAVING count(*) >= 3),
      |n AS (SELECT source, doc_id,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |o AS (SELECT source, doc_id, n_tok,
      |        COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM n),
      |b AS (SELECT source, doc_id, n_tok,
      |        CAST(floor(off / 256.0) AS INT) AS seq_id FROM o),
      |bins AS (SELECT source, seq_id,
      |        CAST(sum(n_tok) AS BIGINT) AS seq_tokens
      |      FROM b GROUP BY 1, 2),
      |r AS (SELECT source, seq_id,
      |        COALESCE(sum(seq_tokens) OVER (ORDER BY source, seq_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS tok_off
      |      FROM bins),
      |shb AS (SELECT source, seq_id,
      |        CAST(tok_off // 16384 AS BIGINT) AS shard_id FROM r),
      |ds AS (SELECT shb.shard_id, b.n_tok,
      |        CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ic
      |      FROM b JOIN shb USING (source, seq_id)
      |        LEFT JOIN cont ON b.doc_id = cont.doc_id)
      |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(ic) AS BIGINT) AS n_contaminated,
      |  CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
      |  CAST(sum(ic * n_tok) AS BIGINT) AS contaminated_tokens,
      |  (CAST(sum(ic * n_tok) AS BIGINT) * 1000000)
      |    // CAST(sum(n_tok) AS BIGINT) AS contamination_ppm
      |FROM ds GROUP BY 1 ORDER BY 1""") { (s, d) =>
    contaminatedShardsPlan(s, d, PackBlockDocs)
  }

  /** See [[q138ContaminatedShards]]; split out for spec pinning. */
  private[graft] def contaminatedShardsPlan(
      s: SparkSession, d: String, blockDocs: Long,
      ckpt: Boolean = true): DataFrame = {
    // materialized ONCE (narrow: 4 int/long cols): bins→keyed→depth-3
    // prefix plus the final doc→shard join reference this relation ~6×
    // — uncheckpointed, each reference re-ran the corpus tokenize+pack
    // chain (32 parquet scans in the executed plan)
    val docs = maybeCkpt(packOffsets(s, d, blockDocs)
      .withColumn("seq_id", floor(col("off") / 256.0).cast("int"))
      .select(col("source"), col("doc_id"), col("n_tok"), col("seq_id")),
      ckpt)
    val bins = docs.groupBy(col("source"), col("seq_id"))
      .agg(sum(col("n_tok")).cast("long").as("seq_tokens"))
    val srcIdx = bins.select(col("source")).distinct()
      .withColumn("src_idx",
        (row_number().over(Window.orderBy(col("source"))) - 1).cast("long"))
    val keyed = bins.join(broadcast(srcIdx), "source")
      .select(lit("_g").as("source"),
        (col("src_idx") * (1L << 40) + col("seq_id")).as("doc_id"),
        col("seq_tokens").as("n_tok"))
    val seqShard = packOffsetsFrom(keyed, blockDocs, levels = 3)
      .drop("source")
      .withColumn("src_idx", shiftright(col("doc_id"), 40))
      .withColumn("seq_id",
        col("doc_id").bitwiseAND(lit((1L << 40) - 1)).cast("int"))
      .withColumn("shard_id", floor(col("off") / 16384.0).cast("long"))
      .join(broadcast(srcIdx.select(col("source"), col("src_idx"))),
        "src_idx")
      .select(col("source"), col("seq_id"), col("shard_id"))
    val cont = bloomDecontaminate(s, d, useBloom = true)
      .select(col("doc_id"), lit(1L).as("ic"))
    docs.join(seqShard, Seq("source", "seq_id"))
      .join(broadcast(cont), Seq("doc_id"), "left")
      .withColumn("ic", coalesce(col("ic"), lit(0L)))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ic")).as("n_contaminated"),
        sum(col("n_tok")).cast("long").as("shard_tokens"),
        sum(col("ic") * col("n_tok")).cast("long").as("contaminated_tokens"))
      .withColumn("contamination_ppm",
        expr("(contaminated_tokens * 1000000) div shard_tokens"))
      .orderBy(col("shard_id"))
  }

  /** (source, seq_id, seq_tokens) bins of an offset relation. */
  private def binsOf(off: DataFrame): DataFrame =
    off.withColumn("seq_id", floor(col("off") / 256.0).cast("int"))
      .groupBy(col("source"), col("seq_id"))
      .agg(sum(col("n_tok")).cast("long").as("seq_tokens"))

  /** Per-source 16,384-token shard rows of a bin relation. */
  private def shardRowsOf(bins: DataFrame, blockDocs: Long): DataFrame =
    packOffsetsFrom(
      bins.select(col("source"), col("seq_id").cast("long").as("doc_id"),
        col("seq_tokens").as("n_tok")),
      blockDocs)
      .withColumn("shard_idx", floor(col("off") / 16384.0).cast("long"))
      .groupBy(col("source"), col("shard_idx"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("n_tok")).as("shard_tokens"))

  /** See [[q137IncrementalShards]]; split out for `IncrShardSpec`. */
  private[graft] def incrementalShardPlan(
      s: SparkSession, d: String, blockDocs: Long): DataFrame = {
    val docsAll = documents(s, d)
      .select(col("source"), col("doc_id"), graft.functions.TokenCount.tokenCount(col("text")).as("n_tok"))
    val cutoff =
      docsAll.agg(max(col("doc_id")).cast("long")).first().getLong(0) * 9L / 10L
    // per-snapshot cached artifacts (q127/q134 convention)
    val baseBins = SessionCache.checkpoint("incrShardBaseBins", s, d)(
      binsOf(packOffsetsFrom(docsAll.filter(col("doc_id") <= cutoff), blockDocs)))
    val baseMan = SessionCache.checkpoint("incrShardBaseMan", s, d)(
      shardRowsOf(baseBins, blockDocs))
    // |sources|-row boundary state off the cached bins: base token total
    // T, the boundary bin B0 = ⌊T/256⌋, its base token mass (0 when no
    // base doc STARTS in it), the bin's start offset, and the boundary
    // shard S0 — what a production pipeline persists per snapshot
    val tBase = baseBins.groupBy(col("source"))
      .agg(sum(col("seq_tokens")).cast("long").as("t_base"))
      .withColumn("b0", expr("t_base div 256").cast("int"))
    val b0Tok = baseBins
      .join(tBase, Seq("source"))
      .filter(col("seq_id") === col("b0"))
      .select(col("source"), col("seq_tokens").as("b0_base_tokens"))
    // delta prefix relation, materialized ONCE (delta-sized, narrow):
    // both the delta-source set and the delta bins derive from it, so
    // the delta slice of the corpus is scanned exactly once (r16's
    // semi-join fix re-scanned (source, doc_id) corpus columns for the
    // distinct — VERDICT r16 item 6 measured that pass away)
    val deltaOff = packOffsetsFrom(
      docsAll.filter(col("doc_id") > cutoff), blockDocs).localCheckpoint()
    // the oracle's ds CTE: only sources that actually received an
    // append emit rows — a source absent from the delta is untouched,
    // so its boundary state must not enter the composed stream (it
    // would re-emit an unchanged boundary-shard row the oracle omits)
    val deltaSrcs = deltaOff.select(col("source")).distinct()
    val state = tBase.join(b0Tok, Seq("source"), "left")
      .withColumn("b0_base_tokens", coalesce(col("b0_base_tokens"), lit(0L)))
      .withColumn("start_off", col("t_base") - col("b0_base_tokens"))
      .withColumn("s0", expr("start_off div 16384"))
      .join(broadcast(deltaSrcs), Seq("source"), "left_semi")
    // delta bins: offsets compose as base-total + the delta's OWN
    // blocked prefix (appends sort last per source)
    val deltaBins = deltaOff
      .join(broadcast(state.select(col("source"), col("t_base"))),
        Seq("source"), "left")
      .withColumn("off", col("off") + coalesce(col("t_base"), lit(0L)))
      .drop("t_base")
      .transform(binsOf)
    // composed boundary stream: the base boundary bin (if it has base
    // mass) plus every delta bin, re-binned — the only bins whose shard
    // rows an append can touch
    val composed = state.filter(col("b0_base_tokens") > 0)
      .select(col("source"), col("b0").as("seq_id"),
        col("b0_base_tokens").as("seq_tokens"))
      .unionByName(deltaBins)
      .groupBy(col("source"), col("seq_id"))
      .agg(sum(col("seq_tokens")).cast("long").as("seq_tokens"))
    val cRows = packOffsetsFrom(
        composed.select(col("source"), col("seq_id").cast("long").as("doc_id"),
          col("seq_tokens").as("n_tok")),
        blockDocs)
      .join(broadcast(state.select(col("source"), col("start_off"))),
        Seq("source"), "left")
      .withColumn("off", col("off") + coalesce(col("start_off"), lit(0L)))
      .withColumn("shard_idx", floor(col("off") / 16384.0).cast("long"))
      .groupBy(col("source"), col("shard_idx"))
      .agg(count(lit(1)).as("n_seqs_c"), sum(col("n_tok")).as("tokens_c"))
    // boundary-shard adjustment: the base manifest's S0 row minus the
    // boundary bin's own base contribution (it re-enters via composed)
    val adj = baseMan
      .join(broadcast(state.select(col("source"), col("s0"),
        col("b0_base_tokens"))), Seq("source"))
      .filter(col("shard_idx") === col("s0"))
      .select(col("source"), col("shard_idx"),
        (col("n_seqs") -
          when(col("b0_base_tokens") > 0, 1L).otherwise(0L)).as("adj_seqs"),
        (col("shard_tokens") - col("b0_base_tokens")).as("adj_tokens"))
    cRows.join(adj, Seq("source", "shard_idx"), "left")
      .select(col("source"), col("shard_idx"),
        (col("n_seqs_c") + coalesce(col("adj_seqs"), lit(0L))).as("n_seqs"),
        (col("tokens_c") + coalesce(col("adj_tokens"), lit(0L)))
          .as("shard_tokens"))
      .orderBy(col("source"), col("shard_idx"))
  }

  /** REPETITION-EXPANDED INTERLEAVE — the q139 planner's numbers driven
    * INTO q136's layout (VERDICT r16 item 5): q139 decides per source
    * how many whole-epoch repetitions r_s = min(4, ⌈m_s/T_s⌉) a
    * data-constrained run grants and how much token mass
    * g_s = min(m_s, r_s·T_s) it may actually read; this query emits the
    * shard stream such a run consumes. Each source's packed bins are
    * replicated r_s times at SHIFTED virtual times — replica (e, seq_id)
    * schedules at k = ⌊(e·n_s + seq_id + 1)·2²⁴ / w_s⌋ with n_s the
    * source's bin count, so epoch e continues the stride schedule
    * exactly where epoch e−1 left off (the e = 0 slice IS q136's
    * schedule) — and the final epoch is TRUNCATED to the granted mass
    * at whole-bin granularity (a bin enters iff its within-source
    * replicated-stream exclusive prefix e·T_s + boff < g_s; the
    * boundary bin may overshoot by < one bin, the packing family's
    * standard approximation). Shards are 16,384-token cuts over the
    * global (k, source, pos) order, pos = e·n_s + seq_id. Per shard the
    * manifest adds `repeated_ppm` — the token share drawn from epochs
    * ≥ 1 — the data-constrained audit a run reads next to q136's
    * mixing share.
    *
    * Scale shape: the plan table is |sources|-row (one bins-sized
    * aggregate off the SHARED localCheckpointed bins — no second corpus
    * pass) broadcast everywhere; within-source bin prefixes ride
    * [[packOffsetsFrom]]'s blocked form (never a per-source window);
    * replication is one `explode(sequence(0, epochs−1))` — per-row
    * fan-out ≤ 4, independent of corpus size, never a join blowup; and
    * the global prefix rides [[interleaveOffsetsByRange]], the
    * production key-range-blocked path (no corpus-wide window, no
    * |sources| bound). Epoch recovery after the ranked pass is integer
    * arithmetic on pos (e = pos div n_s) — nothing re-joins the corpus.
    */
  val q141RepetitionShards: QueryDef = sql(
    "q141_repetition_shards",
    """WITH n AS (SELECT source, doc_id,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |o AS (SELECT source, doc_id, n_tok,
      |        COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM n),
      |b AS (SELECT source, n_tok,
      |        CAST(floor(off / 256.0) AS INT) AS seq_id FROM o),
      |bins AS (SELECT source, seq_id,
      |        CAST(sum(n_tok) AS BIGINT) AS seq_tokens
      |      FROM b GROUP BY 1, 2),
      |t AS (SELECT source, CAST(sum(seq_tokens) AS BIGINT) AS supply,
      |        CAST(count(*) AS BIGINT) AS nbins,
      |        CAST(floor(sqrt(CAST(sum(seq_tokens) AS BIGINT))) AS BIGINT)
      |          AS w
      |      FROM bins GROUP BY 1),
      |g AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
      |        CAST(sum(supply) AS BIGINT) * 2 AS budget FROM t),
      |m AS (SELECT source, supply, nbins, w, (g.budget * w) // g.tw AS target
      |      FROM t CROSS JOIN g),
      |ep AS (SELECT source, supply, nbins, w, target,
      |        least(CAST(4 AS BIGINT), (target + supply - 1) // supply)
      |          AS epochs FROM m),
      |p AS (SELECT source, supply, nbins, w, epochs,
      |        least(target, epochs * supply) AS granted FROM ep),
      |so AS (SELECT source, seq_id, seq_tokens,
      |        COALESCE(CAST(sum(seq_tokens) OVER (PARTITION BY source
      |          ORDER BY seq_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS BIGINT), 0) AS boff
      |      FROM bins),
      |px AS (SELECT source, supply, nbins, w, granted,
      |        unnest(generate_series(CAST(0 AS BIGINT), epochs - 1)) AS e
      |      FROM p),
      |kept AS (SELECT so.source, so.seq_tokens, px.e,
      |        px.e * px.nbins + CAST(so.seq_id AS BIGINT) AS pos,
      |        ((px.e * px.nbins + CAST(so.seq_id AS BIGINT) + 1) * 16777216)
      |          // px.w AS k
      |      FROM so JOIN px USING (source)
      |      WHERE px.e * px.supply + so.boff < px.granted),
      |r AS (SELECT source, seq_tokens, e,
      |        COALESCE(CAST(sum(seq_tokens) OVER (ORDER BY k, source, pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS BIGINT), 0) AS tok_off
      |      FROM kept),
      |sh AS (SELECT source, seq_tokens, e,
      |        CAST(tok_off // 16384 AS BIGINT) AS shard_id FROM r),
      |g1 AS (SELECT shard_id, source, count(*) AS n,
      |        CAST(sum(seq_tokens) AS BIGINT) AS toks,
      |        CAST(sum(CASE WHEN e > 0 THEN seq_tokens ELSE 0 END)
      |          AS BIGINT) AS rtoks
      |      FROM sh GROUP BY 1, 2)
      |SELECT shard_id, CAST(sum(n) AS BIGINT) AS n_seqs,
      |  CAST(sum(toks) AS BIGINT) AS shard_tokens,
      |  CAST(count(*) AS BIGINT) AS n_sources,
      |  (max(toks) * 1000000) // CAST(sum(toks) AS BIGINT)
      |    AS max_src_share_ppm,
      |  (CAST(sum(rtoks) AS BIGINT) * 1000000) // CAST(sum(toks) AS BIGINT)
      |    AS repeated_ppm
      |FROM g1 GROUP BY 1 ORDER BY 1""") { (s, d) =>
    repetitionShardsPlan(s, d, PackBlockDocs)
  }

  /** See [[q141RepetitionShards]]; split out for `InterleaveShardSpec`. */
  private[graft] def repetitionShardsPlan(
      s: SparkSession, d: String, blockDocs: Long,
      ckpt: Boolean = true): DataFrame =
    repetitionStreamPlan(s, d, blockDocs, ckpt)
      .withColumn("e", expr("seq_id div nbins"))
      .withColumn("shard_id", floor(col("off") / 16384.0).cast("long"))
      .groupBy(col("shard_id"), col("src"))
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("toks"),
        sum(when(col("e") > 0, col("n_tok")).otherwise(0L)).as("rtoks"))
      .groupBy(col("shard_id"))
      .agg(sum(col("n")).as("n_seqs"),
        sum(col("toks")).as("shard_tokens"),
        count(lit(1)).as("n_sources"),
        max(col("toks")).as("mx_toks"),
        sum(col("rtoks")).as("r_toks"))
      .select(col("shard_id"), col("n_seqs"), col("shard_tokens"),
        col("n_sources"),
        expr("(mx_toks * 1000000) div shard_tokens").as("max_src_share_ppm"),
        expr("(r_toks * 1000000) div shard_tokens").as("repeated_ppm"))
      .orderBy(col("shard_id"))

  /** q141's repetition-expanded stream BEFORE the shard aggregate:
    * (src, seq_id = e·nbins + within-epoch seq, n_tok, off, nbins) in
    * global (k, source, pos) order — shared by [[q141RepetitionShards]]
    * and the resume manifest (epoch recovery: e = seq_id div nbins). */
  private[graft] def repetitionStreamPlan(
      s: SparkSession, d: String, blockDocs: Long,
      ckpt: Boolean = true): DataFrame = {
    val bins = maybeCkpt(packSequencesPlan(s, d, blockDocs)
      .select(col("source"), col("seq_id"), col("seq_tokens")), ckpt)
    // q139's planning numbers from the SAME bins artifact (one corpus
    // scan total): |sources|-row, broadcast from here on
    val t = bins.groupBy(col("source"))
      .agg(sum(col("seq_tokens")).cast("long").as("supply"),
        count(lit(1)).as("nbins"))
      .withColumn("w", floor(sqrt(col("supply"))).cast("long"))
    val g = t.agg(sum(col("w")).cast("long").as("tw"),
      (sum(col("supply")) * 2).cast("long").as("budget"))
    val plan = t.crossJoin(broadcast(g))
      .withColumn("target", expr("(budget * w) div tw"))
      .withColumn("epochs",
        least(lit(4L), expr("(target + supply - 1) div supply")))
      .withColumn("granted",
        least(col("target"), col("epochs") * col("supply")))
      .select(col("source"), col("supply"), col("nbins"), col("w"),
        col("epochs"), col("granted"))
    // within-source bin prefix — blocked, never a per-source window
    val boff = packOffsetsFrom(
        bins.select(col("source"), col("seq_id").cast("long").as("doc_id"),
          col("seq_tokens").as("n_tok")),
        blockDocs)
      .select(col("source"), col("doc_id"), col("n_tok"),
        col("off").as("boff"))
    val rep = boff.join(broadcast(plan), "source")
      .withColumn("e",
        explode(expr("sequence(cast(0 as bigint), epochs - 1)")))
      .filter(col("e") * col("supply") + col("boff") < col("granted"))
      .withColumn("pos", col("e") * col("nbins") + col("doc_id"))
      .select(col("source").as("src"), col("pos").as("seq_id"),
        col("n_tok"),
        expr("((pos + 1) * cast(16777216 as bigint)) div w").as("k"))
    interleaveOffsetsByRange(rep, blockDocs, ckpt)
      .join(broadcast(plan.select(col("source").as("src"), col("nbins"))),
        "src")
  }

  /** DATALOADER RESUME MANIFEST — the checkpoint/restart op over q141's
    * repetition-expanded stream: a run that consumed the first
    * C = ⌊2·M/5⌋ tokens of the stream (M = total granted-kept mass;
    * whole-bin granularity, the shard-cut convention) restarts from a
    * manifest that tells it, PER SOURCE, how much it already read
    * (bins, tokens, ppm of the source's total stream mass) and the
    * exact next replica to fetch — (epoch, seq_id) of the first
    * unconsumed bin in stream order, (−1, −1) for a source the
    * consumed prefix fully drained. Epoch recovery is integer
    * arithmetic on the stream position (e = pos div n_s) — the same
    * identity q141 uses.
    *
    * Scale shape: the stream is built once ([[repetitionStreamPlan]],
    * localCheckpointed — the C aggregate and the per-source manifest
    * share it); C is a 1-row broadcast; the manifest is ONE map-side-
    * combinable per-source aggregate (conditional sums + a conditional
    * min). Nothing after the stream build is corpus-sized. */
  val q142ResumeManifest: QueryDef = sql(
    "q142_resume_manifest",
    """WITH n AS (SELECT source, doc_id,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |o AS (SELECT source, doc_id, n_tok,
      |        COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM n),
      |b AS (SELECT source, n_tok,
      |        CAST(floor(off / 256.0) AS INT) AS seq_id FROM o),
      |bins AS (SELECT source, seq_id,
      |        CAST(sum(n_tok) AS BIGINT) AS seq_tokens
      |      FROM b GROUP BY 1, 2),
      |t AS (SELECT source, CAST(sum(seq_tokens) AS BIGINT) AS supply,
      |        CAST(count(*) AS BIGINT) AS nbins,
      |        CAST(floor(sqrt(CAST(sum(seq_tokens) AS BIGINT))) AS BIGINT)
      |          AS w
      |      FROM bins GROUP BY 1),
      |g AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
      |        CAST(sum(supply) AS BIGINT) * 2 AS budget FROM t),
      |m AS (SELECT source, supply, nbins, w, (g.budget * w) // g.tw AS target
      |      FROM t CROSS JOIN g),
      |ep AS (SELECT source, supply, nbins, w, target,
      |        least(CAST(4 AS BIGINT), (target + supply - 1) // supply)
      |          AS epochs FROM m),
      |p AS (SELECT source, supply, nbins, w, epochs,
      |        least(target, epochs * supply) AS granted FROM ep),
      |so AS (SELECT source, seq_id, seq_tokens,
      |        COALESCE(CAST(sum(seq_tokens) OVER (PARTITION BY source
      |          ORDER BY seq_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS BIGINT), 0) AS boff
      |      FROM bins),
      |px AS (SELECT source, supply, nbins, w, granted,
      |        unnest(generate_series(CAST(0 AS BIGINT), epochs - 1)) AS e
      |      FROM p),
      |kept AS (SELECT so.source, so.seq_tokens, px.nbins,
      |        px.e * px.nbins + CAST(so.seq_id AS BIGINT) AS pos,
      |        ((px.e * px.nbins + CAST(so.seq_id AS BIGINT) + 1) * 16777216)
      |          // px.w AS k
      |      FROM so JOIN px USING (source)
      |      WHERE px.e * px.supply + so.boff < px.granted),
      |r AS (SELECT source, seq_tokens, nbins, pos,
      |        COALESCE(CAST(sum(seq_tokens) OVER (ORDER BY k, source, pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS BIGINT), 0) AS tok_off
      |      FROM kept),
      |ctab AS (SELECT (CAST(sum(seq_tokens) AS BIGINT) * 2) // 5 AS c
      |      FROM kept),
      |a AS (SELECT source,
      |        CAST(sum(CASE WHEN tok_off < c THEN 1 ELSE 0 END) AS BIGINT)
      |          AS consumed_bins,
      |        CAST(sum(CASE WHEN tok_off < c THEN seq_tokens ELSE 0 END)
      |          AS BIGINT) AS consumed_tokens,
      |        min(CASE WHEN tok_off >= c THEN pos END) AS next_pos,
      |        CAST(sum(seq_tokens) AS BIGINT) AS kept_tokens,
      |        min(nbins) AS nbins
      |      FROM r CROSS JOIN ctab GROUP BY source)
      |SELECT source, consumed_bins, consumed_tokens, kept_tokens,
      |  (consumed_tokens * 1000000) // kept_tokens AS consumed_ppm,
      |  CASE WHEN next_pos IS NULL THEN CAST(-1 AS BIGINT)
      |       ELSE next_pos // nbins END AS next_epoch,
      |  CASE WHEN next_pos IS NULL THEN CAST(-1 AS BIGINT)
      |       ELSE next_pos % nbins END AS next_seq_id
      |FROM a ORDER BY source""") { (s, d) =>
    resumeManifestPlan(s, d, PackBlockDocs)
  }

  /** See [[q142ResumeManifest]]; split out for `InterleaveShardSpec`. */
  private[graft] def resumeManifestPlan(
      s: SparkSession, d: String, blockDocs: Long,
      ckpt: Boolean = true): DataFrame = {
    val stream =
      maybeCkpt(repetitionStreamPlan(s, d, blockDocs, ckpt), ckpt)
    val cTbl = stream.agg(
      expr("(sum(n_tok) * 2) div 5").cast("long").as("c"))
    stream.crossJoin(broadcast(cTbl))
      .groupBy(col("src"))
      .agg(
        sum(when(col("off") < col("c"), 1L).otherwise(0L))
          .as("consumed_bins"),
        sum(when(col("off") < col("c"), col("n_tok")).otherwise(0L))
          .as("consumed_tokens"),
        min(when(col("off") >= col("c"), col("seq_id"))).as("next_pos"),
        sum(col("n_tok")).cast("long").as("kept_tokens"),
        min(col("nbins")).as("nbins"))
      .select(col("src").as("source"),
        col("consumed_bins"), col("consumed_tokens"), col("kept_tokens"),
        expr("(consumed_tokens * 1000000) div kept_tokens")
          .as("consumed_ppm"),
        when(col("next_pos").isNull, lit(-1L))
          .otherwise(expr("next_pos div nbins")).as("next_epoch"),
        when(col("next_pos").isNull, lit(-1L))
          .otherwise(expr("next_pos % nbins")).as("next_seq_id"))
      .orderBy(col("source"))
  }

  /** INTERLEAVE RUN-LENGTH AUDIT — the mixing metric q136's
    * max-share ppm cannot see: two layouts with identical per-shard
    * source shares can still differ wildly in LOCALITY (AAABBB vs
    * ABABAB), and a mixture dataloader cares — long same-source runs
    * inside a shard are exactly the gradient-correlation pathology
    * interleaving exists to break. Per shard: bins, source-runs
    * (maximal same-source consecutive stretches in stream order), mean
    * run length in micro units, and the longest run. Stride scheduling
    * should keep mean runs near 1 for mixed corpora; a drift upward is
    * the first sign a source's rate has collapsed the interleave.
    *
    * Scale shape: rides [[interleavedStreamPlan]] (q136's exact build —
    * blocked prefix, broadcast rates); the run detection is lag + a
    * running count over (shard_id, off) windows — shard-sized
    * partitions (~64 bins), millions of them: the well-distributed
    * case, ONE sort shared by both window functions; then two
    * shard-keyed aggregates. No corpus-wide window anywhere. */
  val q143InterleaveRuns: QueryDef = sql(
    "q143_interleave_runs",
    """WITH n AS (SELECT source, doc_id,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |o AS (SELECT source, doc_id, n_tok,
      |        COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM n),
      |b AS (SELECT source, n_tok,
      |        CAST(floor(off / 256.0) AS INT) AS seq_id FROM o),
      |bins AS (SELECT source, seq_id,
      |        CAST(sum(n_tok) AS BIGINT) AS seq_tokens
      |      FROM b GROUP BY 1, 2),
      |ts AS (SELECT source,
      |        CAST(floor(sqrt(CAST(sum(seq_tokens) AS BIGINT))) AS BIGINT)
      |          AS w
      |      FROM bins GROUP BY 1),
      |ky AS (SELECT bins.source, bins.seq_id, bins.seq_tokens,
      |        ((CAST(bins.seq_id AS BIGINT) + 1) * 16777216) // ts.w AS k
      |      FROM bins JOIN ts USING (source)),
      |r AS (SELECT source, seq_id, seq_tokens,
      |        COALESCE(sum(seq_tokens) OVER (ORDER BY k, source, seq_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS tok_off
      |      FROM ky),
      |sh AS (SELECT source, tok_off,
      |        CAST(tok_off // 16384 AS BIGINT) AS shard_id FROM r),
      |f AS (SELECT shard_id, source, tok_off,
      |        CASE WHEN lag(source) OVER (PARTITION BY shard_id
      |              ORDER BY tok_off) IS NULL
      |             OR lag(source) OVER (PARTITION BY shard_id
      |              ORDER BY tok_off) <> source
      |          THEN 1 ELSE 0 END AS chg
      |      FROM sh),
      |rn AS (SELECT shard_id,
      |        CAST(sum(chg) OVER (PARTITION BY shard_id ORDER BY tok_off
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS BIGINT) AS run_id
      |      FROM f),
      |runs AS (SELECT shard_id, run_id, CAST(count(*) AS BIGINT) AS rl
      |      FROM rn GROUP BY 1, 2)
      |SELECT shard_id, CAST(sum(rl) AS BIGINT) AS n_seqs,
      |  CAST(count(*) AS BIGINT) AS n_runs,
      |  (CAST(sum(rl) AS BIGINT) * 1000000) // CAST(count(*) AS BIGINT)
      |    AS mean_run_micro,
      |  CAST(max(rl) AS BIGINT) AS max_run
      |FROM runs GROUP BY 1 ORDER BY 1""") { (s, d) =>
    interleaveRunsPlan(s, d, PackBlockDocs)
  }

  /** See [[q143InterleaveRuns]]; split out for `InterleaveShardSpec`. */
  private[graft] def interleaveRunsPlan(
      s: SparkSession, d: String, blockDocs: Long,
      ckpt: Boolean = true): DataFrame = {
    val wOrd = Window.partitionBy(col("shard_id")).orderBy(col("off"))
    val flagged = interleavedStreamPlan(s, d, blockDocs, ckpt = ckpt)
      .withColumn("shard_id", floor(col("off") / 16384.0).cast("long"))
      .withColumn("chg",
        when(lag(col("src"), 1).over(wOrd).isNull ||
          lag(col("src"), 1).over(wOrd) =!= col("src"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("shard_id"), col("run_id"))
      .agg(count(lit(1)).as("rl"))
      .groupBy(col("shard_id"))
      .agg(sum(col("rl")).as("n_seqs"), count(lit(1)).as("n_runs"),
        max(col("rl")).as("max_run"))
      .select(col("shard_id"), col("n_seqs"), col("n_runs"),
        expr("(n_seqs * 1000000) div n_runs").as("mean_run_micro"),
        col("max_run"))
      .orderBy(col("shard_id"))
  }

  /** GPU-shape-aware packing layout — q58's bins taken the rest of the
    * way to what a training dataloader actually consumes: every document
    * is SPLIT at the 256-token sequence boundaries into attention-mask
    * segments, one row per (sequence, segment) with the segment's start
    * offset and length INSIDE its sequence, its position index
    * (`seg_id`, the per-sequence attention-mask segment id), and a
    * continuation flag for the tail of a document that straddled the
    * previous boundary. Invariants (spec-pinned in `PackingSpec`):
    * token conservation (Σ tok_len = Σ n_tok), every non-final sequence
    * of a source filled to exactly 256, segments within a sequence
    * contiguous and disjoint.
    *
    * Scale shape: offsets reuse [[packOffsets]]'s blocked two-level
    * prefix sum (no per-source corpus sort); the boundary split is a
    * per-row `sequence()`+`explode` whose fan-out is 1 + ⌊n_tok/256⌋ —
    * bounded by document length, independent of corpus size; and the
    * only new exchange is the `seg_id` window's shuffle on
    * (source, seq_id) — millions of tiny partitions, the well-
    * distributed case. Nothing here is driver-sized.
    */
  val q125PackSegments: QueryDef = sql(
    "q125_pack_segments",
    """WITH n AS (SELECT source, doc_id,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |o AS (SELECT source, doc_id, n_tok,
      |        COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM n),
      |sp AS (SELECT source, doc_id, n_tok, off,
      |        CAST(floor(off / 256.0) AS INT) AS first_seq,
      |        CAST(floor((off + n_tok - 1) / 256.0) AS INT) AS last_seq
      |      FROM o),
      |seg AS (SELECT source, doc_id, n_tok, off,
      |        CAST(unnest(generate_series(first_seq, last_seq)) AS INT) AS seq_id
      |      FROM sp),
      |x AS (SELECT source, doc_id, seq_id,
      |        greatest(off, seq_id*256) - seq_id*256 AS tok_start,
      |        least(off + n_tok, (seq_id+1)*256) - greatest(off, seq_id*256) AS tok_len,
      |        CASE WHEN off < seq_id*256 THEN 1 ELSE 0 END AS is_continuation
      |      FROM seg)
      |SELECT source, seq_id,
      |  CAST(row_number() OVER (PARTITION BY source, seq_id
      |    ORDER BY tok_start) - 1 AS INT) AS seg_id,
      |  doc_id, CAST(tok_start AS BIGINT) AS tok_start,
      |  CAST(tok_len AS BIGINT) AS tok_len, is_continuation
      |FROM x ORDER BY source, seq_id, seg_id""") { (s, d) =>
    packSegmentsPlan(s, d, PackBlockDocs)
  }

  /** INCREMENTAL packing under an appended corpus — q125's segment
    * relation restricted to the appended documents, computed WITHOUT
    * repacking the base. The append split is deterministic and
    * oracle-expressible: docs with doc_id > ⌊0.9·max(doc_id)⌋ are "the
    * new arrivals" (packing order is (source, doc_id), so an append is
    * exactly a doc_id suffix). Because the running offset is an
    * exclusive prefix sum, appending can never move an existing
    * document's offset — the delta's offsets are base-total + its own
    * prefix sum, and the only packing state a source carries across
    * snapshots is TWO scalars: its base token total T and the number of
    * base segments C already in the boundary (last, partial) sequence
    * ⌊T/256⌋, which the delta's first segments continue (their seg_ids
    * start at C; delta tok_starts in that sequence all exceed the base
    * ones, so ranks compose exactly). The oracle packs the FULL corpus
    * and filters to the delta; the engine touches base rows only to
    * derive (T, C) — one aggregate scan, the per-snapshot statistic a
    * real pipeline persists (q123's convention) — so the explode + rank
    * work is DELTA-sized. At 100 TB this is the difference between
    * repacking the corpus per ingest batch and paying O(new docs):
    * segment generation, ranking, and the output all scale with the
    * append, while the base contributes a broadcast of one (T, C) row
    * per source.
    */
  val q127PackIncremental: QueryDef = sql(
    "q127_pack_incremental",
    """WITH n AS (SELECT source, doc_id,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |o AS (SELECT source, doc_id, n_tok,
      |        COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |      FROM n),
      |sp AS (SELECT source, doc_id, n_tok, off,
      |        CAST(floor(off / 256.0) AS INT) AS first_seq,
      |        CAST(floor((off + n_tok - 1) / 256.0) AS INT) AS last_seq
      |      FROM o),
      |seg AS (SELECT source, doc_id, n_tok, off,
      |        CAST(unnest(generate_series(first_seq, last_seq)) AS INT) AS seq_id
      |      FROM sp),
      |x AS (SELECT source, doc_id, seq_id,
      |        greatest(off, seq_id*256) - seq_id*256 AS tok_start,
      |        least(off + n_tok, (seq_id+1)*256) - greatest(off, seq_id*256) AS tok_len,
      |        CASE WHEN off < seq_id*256 THEN 1 ELSE 0 END AS is_continuation
      |      FROM seg),
      |y AS (SELECT source, seq_id,
      |        CAST(row_number() OVER (PARTITION BY source, seq_id
      |          ORDER BY tok_start) - 1 AS INT) AS seg_id,
      |        doc_id, CAST(tok_start AS BIGINT) AS tok_start,
      |        CAST(tok_len AS BIGINT) AS tok_len, is_continuation
      |      FROM x)
      |SELECT source, seq_id, seg_id, doc_id, tok_start, tok_len,
      |  is_continuation
      |FROM y
      |WHERE doc_id > (SELECT (max(doc_id) * 9) // 10 FROM documents)
      |ORDER BY source, seq_id, seg_id""") { (s, d) =>
    packIncrementalPlan(s, d, PackBlockDocs)
  }

  /** See [[q127PackIncremental]]; split out so `PackingSpec` can pin it
    * equal to the full repack's delta restriction at several block
    * sizes. */
  private[graft] def packIncrementalPlan(
      s: SparkSession, d: String, blockDocs: Long): DataFrame = {
    val docsAll = documents(s, d)
      .select(col("source"), col("doc_id"), graft.functions.TokenCount.tokenCount(col("text")).as("n_tok"))
    // one driver scalar, the snapshot boundary (bench convention; a real
    // pipeline knows its previous high-water mark)
    val cutoff =
      docsAll.agg(max(col("doc_id")).cast("long")).first().getLong(0) * 9L / 10L
    // per-source base state (T, C): ONE aggregate pass over the base —
    // the statistic a pipeline persists per snapshot. C counts the base
    // segments already in the boundary sequence ⌊T/256⌋: base docs whose
    // token span crosses that sequence's start. When T lands exactly on
    // a 256 boundary the "boundary sequence" is empty and no base doc
    // satisfies off + n_tok > T, so C = 0 falls out with no special case.
    val baseOff = packOffsetsFrom(
      docsAll.filter(col("doc_id") <= cutoff), blockDocs)
    val totals = baseOff.groupBy(col("source"))
      .agg(sum(col("n_tok")).cast("long").as("t_tokens"))
    val state = baseOff.join(broadcast(totals), Seq("source"))
      .groupBy(col("source"), col("t_tokens"))
      .agg(sum(when(col("off") + col("n_tok") >
          expr("(t_tokens div 256) * 256"), 1L).otherwise(0L))
        .as("c_boundary"))
    // delta offsets: base total + the delta's OWN blocked prefix sum;
    // left join covers a source born entirely inside the delta
    val deltaOff = packOffsetsFrom(
        docsAll.filter(col("doc_id") > cutoff), blockDocs)
      .join(broadcast(state), Seq("source"), "left")
      .withColumn("t_tokens", coalesce(col("t_tokens"), lit(0L)))
      .withColumn("c_boundary", coalesce(col("c_boundary"), lit(0L)))
      .withColumn("off", col("off") + col("t_tokens"))
      .withColumn("boundary_seq", expr("t_tokens div 256").cast("int"))
    // same explode as the full path; the rank offsets by C exactly in
    // the boundary sequence (delta tok_starts there all exceed the base
    // ones, so base ranks 0..C-1 + delta ranks C.. compose to the full
    // repack's seg_ids)
    val w = Window.partitionBy(col("source"), col("seq_id"))
      .orderBy(col("tok_start"))
    segmentExplode(deltaOff)
      .withColumn("seg_id",
        (row_number().over(w) - 1 +
          when(col("seq_id") === col("boundary_seq"), col("c_boundary"))
            .otherwise(lit(0L))).cast("int"))
      .select(col("source"), col("seq_id"), col("seg_id"), col("doc_id"),
        col("tok_start").cast("long").as("tok_start"),
        col("tok_len").cast("long").as("tok_len"),
        col("is_continuation"))
      .orderBy(col("source"), col("seq_id"), col("seg_id"))
  }

  /** See [[q125PackSegments]]; split out so `PackingSpec` can drive it
    * at several block sizes. */
  private[graft] def packSegmentsPlan(
      s: SparkSession, d: String, blockDocs: Long): DataFrame = {
    val segs = segmentExplode(packOffsets(s, d, blockDocs))
    // tok_start is unique within a sequence (segments partition the
    // token interval), so the rank is total and deterministic
    val w = Window.partitionBy(col("source"), col("seq_id"))
      .orderBy(col("tok_start"))
    segs
      .withColumn("seg_id", (row_number().over(w) - 1).cast("int"))
      .select(col("source"), col("seq_id"), col("seg_id"), col("doc_id"),
        col("tok_start").cast("long").as("tok_start"),
        col("tok_len").cast("long").as("tok_len"),
        col("is_continuation"))
      .orderBy(col("source"), col("seq_id"), col("seg_id"))
  }

  /** Per-document 256-token-bin segment explosion over a (source,
    * doc_id, n_tok, off, …) offsets relation — the shared middle of the
    * full ([[packSegmentsPlan]]) and incremental
    * ([[q127PackIncremental]]) packing paths. Extra input columns are
    * carried through (the incremental path rides its per-source base
    * state alongside). */
  private def segmentExplode(offsets: DataFrame): DataFrame =
    offsets
      .withColumn("first_seq", floor(col("off") / 256.0).cast("int"))
      // off + n_tok - 1 stays exact in doubles below 2^53 (corpus tokens)
      .withColumn("last_seq",
        floor((col("off") + col("n_tok") - 1) / 256.0).cast("int"))
      .withColumn("seq_id",
        explode(sequence(col("first_seq"), col("last_seq"))))
      .withColumn("seq_base", col("seq_id").cast("long") * 256L)
      .withColumn("tok_start",
        greatest(col("off"), col("seq_base")) - col("seq_base"))
      .withColumn("tok_len",
        least(col("off") + col("n_tok"), col("seq_base") + 256L) -
          greatest(col("off"), col("seq_base")))
      .withColumn("is_continuation",
        when(col("off") < col("seq_base"), 1).otherwise(0))

  /** Vocabulary coverage audit (tokenizer-training prep): top-50 corpus
    * tokens by frequency with each rank's cumulative share of all token
    * occurrences. The only global window runs over the 50-row top-k —
    * the full vocabulary is reduced by a hash agg, the top-k is a
    * TakeOrdered (never a global sort), and the corpus total rides in as
    * a broadcast scalar; nothing unbounded ever sits in one partition.
    * Ties break on the token itself so the ranking is total and the
    * result deterministic.
    */
  val q59VocabCoverage: QueryDef = sql(
    "q59_vocab_coverage",
    """WITH t AS (SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
      |top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 50),
      |r AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank,
      |        sum(cnt) OVER (ORDER BY cnt DESC, tok ROWS UNBOUNDED PRECEDING) AS cum
      |      FROM top)
      |SELECT CAST(rank AS INT) AS rank, tok, CAST(cnt AS BIGINT) AS cnt,
      |  round(CAST(cum AS DOUBLE) / total, 6) AS coverage
      |FROM r CROSS JOIN tot ORDER BY rank""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // materialized once per (session, sfDir): both consumers (top-k and
    // the corpus total) otherwise re-run the corpus-wide explode+agg —
    // the expensive pass at scale; the vocab-sized result is the right
    // thing to persist, and the session cache keeps bench passes from
    // accumulating per-run copies
    val counts = vocabCounts(s, d)
    val total = counts.agg(sum(col("cnt")).cast("long").as("total"))
    val top = counts.orderBy(col("cnt").desc, col("tok")).limit(50)
    val w = Window.orderBy(col("cnt").desc, col("tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top
      .withColumn("rank", row_number().over(w))
      .withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("tok"), col("cnt").cast("long").as("cnt"),
        round(col("cum").cast("double") / col("total"), 6).as("coverage"))
      .orderBy(col("rank"))
  }

  /** Unigram LM quality score (the CCNet/CC-style language-model filter
    * proxy): per-document mean negative log-likelihood under the corpus
    * unigram distribution — high avg_nll = rare-token-heavy documents,
    * the standard cheap perplexity stand-in for quality filtering.
    *
    * Cross-engine exactness: a doc's NLL is a SUM of per-token doubles,
    * and double addition is order-dependent — a hash-agg over shuffled
    * tokens would hash-differently run to run. So each token's cost is
    * quantized ONCE to an integer (⌊ln(total/cnt)·1e9 + 0.5⌋ — ln and
    * the floor evaluated identically in both engines) and the per-doc
    * sum is an exact, order-independent long sum; only the final
    * per-doc average returns to doubles (one division, one round).
    *
    * Scale: vocab by hash agg (one corpus pass, shared with q59 via the
    * session cache), per-token costs broadcast (vocab-sized — a web-
    * scale corpus caps or joins instead), scoring is one map-side probe
    * + doc-keyed agg.
    */
  val q64UnigramLogprob: QueryDef = sql(
    "q64_unigram_logprob",
    """WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      |           FROM documents),
      |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
      |cost AS (SELECT tok,
      |    CAST(floor(ln(CAST(total AS DOUBLE) / cnt) * 1000000000.0 + 0.5) AS BIGINT) AS nll
      |  FROM c CROSS JOIN tot),
      |sdoc AS (SELECT doc_id, CAST(sum(nll) AS BIGINT) AS snll,
      |           count(*) AS n_tok
      |         FROM t JOIN cost USING (tok) GROUP BY 1)
      |SELECT doc_id, n_tok,
      |  round(CAST(snll AS DOUBLE) / 1000000000.0 / n_tok, 6) AS avg_nll
      |FROM sdoc ORDER BY doc_id""") { (s, d) =>
    val counts = vocabCounts(s, d)
    val total = counts.agg(sum(col("cnt")).cast("long").as("total"))
    val cost = counts.crossJoin(broadcast(total))
      .select(col("tok"),
        floor(log(col("total").cast("double") / col("cnt")) * 1000000000.0
          + 0.5).cast("long").as("nll"))
    documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .join(broadcast(cost), "tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("nll")).cast("long").as("snll"),
        count(lit(1)).as("n_tok"))
      .select(col("doc_id"), col("n_tok"),
        round(col("snll").cast("double") / 1000000000.0 / col("n_tok"), 6)
          .as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** Per-language length-percentile trimming (outlier-length filtering,
    * the standard pre-training length gate): exact p05/p95 of per-doc
    * token counts per language, plus how many documents the [p05, p95]
    * band keeps. Exact `percentile` ↔ `quantile_cont` parity is the q14
    * pattern; exact (vs approx) is the right call here because token
    * counts have BOUNDED distinct values, so the percentile buffer is a
    * count-map over lengths, not the rows — at 100 TB switch to
    * `approx_percentile` only for unbounded continuous metrics. Two
    * corpus passes (quantiles, then the keep count against the
    * broadcast per-lang bands), both map-parallel.
    */
  val q65LengthTrim: QueryDef = sql(
    "q65_length_trim",
    """WITH n AS (SELECT doc_id, lang,
      |        len(string_split(trim(text), ' ')) AS n_tok FROM documents),
      |q AS (SELECT lang, quantile_cont(n_tok, 0.05) AS p05,
      |        quantile_cont(n_tok, 0.95) AS p95 FROM n GROUP BY 1)
      |SELECT n.lang AS lang, p05, p95, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_tok >= p05 AND n_tok <= p95
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM n JOIN q ON n.lang = q.lang
      |GROUP BY 1, 2, 3 ORDER BY 1""") { (s, d) =>
    val n = documents(s, d)
      .select(col("doc_id"), col("lang"), graft.functions.TokenCount.tokenCount(col("text")).as("n_tok"))
    val q = n.groupBy(col("lang")).agg(
      expr("percentile(n_tok, 0.05)").as("p05"),
      expr("percentile(n_tok, 0.95)").as("p95"))
    n.join(broadcast(q), "lang")
      .groupBy(col("lang"), col("p05"), col("p95"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") >= col("p05") && col("n_tok") <= col("p95"), 1)
          .otherwise(0)).cast("long").as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Corpus-wide chunk-level exact dedup (the CCNet paragraph-dedup
    * shape at chunk granularity — this corpus has no newlines, so the
    * dedup unit is the non-overlapping 8-token chunk): a chunk instance
    * survives iff it is the globally FIRST occurrence of its content,
    * ordered by (doc_id, chunk_id). Reports per-document how much
    * survives — the signal repetition-heavy documents are filtered by.
    *
    * Scale shape: the keeper per distinct chunk is `min(encoded
    * occurrence key)` grouped by the chunk's 128-bit content hash — a
    * map-side-combinable hash agg whose shuffle carries one row per
    * DISTINCT chunk (never per instance), with 16-byte keys (never raw
    * text). No window, no sort, no join back to instance rows: the
    * per-doc survivor count is a second small agg over the keeper
    * table. The occurrence key packs (doc_id, chunk_id) into one long
    * (chunk_id < 2^20 ⇔ docs < 8M tokens), so the argmin is a plain
    * long `min` — exact, associative, order-independent.
    */
  val q68ChunkDedup: QueryDef = sql(
    "q68_chunk_dedup",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |n AS (SELECT doc_id, w, CAST(ceil(len(w) / 8.0) AS INT) AS n_chunks FROM w),
      |c AS (SELECT doc_id, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_id, w, n_chunks FROM n),
      |ch AS (SELECT doc_id, n_chunks, chunk_id,
      |         array_to_string(w[chunk_id * 8 + 1 : chunk_id * 8 + 8], ' ') AS chunk
      |       FROM c),
      |f AS (SELECT md5(chunk) AS h, min(doc_id * 1048576 + chunk_id) AS keeper
      |      FROM ch GROUP BY 1),
      |k AS (SELECT CAST(keeper // 1048576 AS BIGINT) AS doc_id,
      |        count(*) AS kept_chunks FROM f GROUP BY 1)
      |SELECT n.doc_id, n.n_chunks,
      |  CAST(coalesce(k.kept_chunks, 0) AS BIGINT) AS kept_chunks,
      |  CAST(n.n_chunks - coalesce(k.kept_chunks, 0) AS BIGINT) AS dup_chunks
      |FROM n LEFT JOIN k ON n.doc_id = k.doc_id
      |ORDER BY n.doc_id""") { (s, d) =>
    val C = 8
    val docs = documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .withColumn("n_chunks", ceil(size(col("w")) / lit(C.toDouble)).cast("int"))
    val ch = docs
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        md5(array_join(slice(col("w"), col("chunk_id") * C + 1, lit(C)), " "))
          .as("h"))
    // the packed argmin is only injective while chunk_id < 2^20 and
    // doc_id < 2^43; a violation (an ~8M-token document, or a synthetic
    // doc_id space that outgrows 43 bits) must FAIL LOUDLY, not silently
    // mis-attribute keepers — assert_true raises inside the aggregate, so
    // the guard rides the existing scan and cannot be pruned away.
    val packGuard = assert_true(
      col("chunk_id") < lit(1L << 20) && col("doc_id") < lit(1L << 43),
      lit("q68: (doc_id, chunk_id) outside packing range " +
        "(requires chunk_id < 2^20 and doc_id < 2^43)"))
    val keepers = ch
      .groupBy(col("h"))
      .agg(min(when(packGuard.isNull,
        col("doc_id") * lit(1048576L) + col("chunk_id"))).as("keeper"))
      .select(expr("keeper div 1048576").as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_chunks"))
    docs.select(col("doc_id"), col("n_chunks"))
      .join(keepers, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"),
        (col("n_chunks") - coalesce(col("kept_chunks"), lit(0L)))
          .cast("long").as("dup_chunks"))
      .orderBy(col("doc_id"))
  }

  /** Corpus bigram statistics (tokenizer-merge-rule prep / collocation
    * mining): top-25 adjacent token pairs by frequency, ties broken on
    * the bigram text. Same plan skeleton as q59: the bigram explode is
    * map-side (the adjacent-pair transform is a per-row array lambda,
    * no self-join), the count is one hash agg over distinct bigrams,
    * and the top-k is a TakeOrdered — never a global sort. */
  val q69TopBigrams: QueryDef = sql(
    "q69_top_bigrams",
    """WITH w AS (SELECT string_split(trim(text), ' ') AS t FROM documents
      |           WHERE len(string_split(trim(text), ' ')) >= 2),
      |i AS (SELECT t, unnest(range(1, len(t))) AS i FROM w),
      |b AS (SELECT t[i] || ' ' || t[i + 1] AS bigram FROM i)
      |SELECT bigram, count(*) AS cnt FROM b
      |GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 25""") { (s, d) =>
    documents(s, d)
      .select(toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(25)
  }

  /** Adjacent-pair counts over the current symbol sequences, top-1 by
    * (count DESC, left, right) — one BPE-trainer iteration's argmax.
    * Self-pairs (a = a) are excluded BY DESIGN: with distinct pair
    * members, adjacent matches can never overlap, so "merge all
    * occurrences" is a pure relational rewrite (no sequential
    * greedy-scan state) and both engines compute the identical result. */
  private[graft] def topPairPlan(seqs: DataFrame): DataFrame =
    seqs.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "filter(transform(sequence(0, size(t) - 2), " +
          "i -> struct(element_at(t, i + 1) AS a, element_at(t, i + 2) AS b)), " +
          "p -> p.a != p.b)")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(1)

  /** One merge pass: every adjacent (a, b) occurrence collapses into the
    * single symbol "a b". Pure map-side array lambda — `get` is 0-based
    * and null-safe out of bounds, so boundaries need no special cases;
    * a position is consumed iff its LEFT neighbor starts a match, which
    * cannot itself be a match start (that would need a = b). */
  private def mergeExpr(a: String, b: String): String = {
    def q(x: String) = x.replace("'", "''")
    s"filter(transform(t, (x, i) -> CASE " +
      s"WHEN x = '${q(a)}' AND get(t, i + 1) = '${q(b)}' THEN '${q(a)} ${q(b)}' " +
      s"WHEN get(t, i - 1) = '${q(a)}' AND x = '${q(b)}' THEN NULL " +
      s"ELSE x END), x -> x IS NOT NULL)"
  }

  /** Shared unrolled-CTE prefix for the BPE pair (q77 train / q79
    * encode): tokenize → 3× (adjacent-pair argmax tN + lag/lead rewrite
    * qN) — the q24 PageRank recipe. `w` is the tokenized corpus, `tN`
    * the round-N merge argmax, `pN`/`qN` the renumbered / rewritten
    * sequence states. q77 reads t1..t3; q79 additionally applies t3
    * (r3/q3) and aggregates the final sequence state per document. */
  private val bpeCtes: String =
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
      |p1 AS (SELECT doc_id, unnest(range(len(t))) AS i, unnest(t) AS sym FROM w),
      |c1 AS (SELECT sym AS a, lead(sym) OVER (PARTITION BY doc_id ORDER BY i) AS b
      |       FROM p1),
      |t1 AS (SELECT a, b, count(*) AS cnt FROM c1
      |       WHERE b IS NOT NULL AND a <> b
      |       GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
      |r1 AS (SELECT doc_id, i, sym,
      |         lead(sym) OVER (PARTITION BY doc_id ORDER BY i) AS nxt,
      |         lag(sym) OVER (PARTITION BY doc_id ORDER BY i) AS prv
      |       FROM p1),
      |q1 AS (SELECT doc_id, i,
      |         CASE WHEN sym = t.a AND nxt = t.b THEN t.a || ' ' || t.b
      |              ELSE sym END AS sym
      |       FROM r1 CROSS JOIN t1 t
      |       WHERE NOT coalesce(prv = t.a AND sym = t.b, FALSE)),
      |p2 AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i,
      |         sym FROM q1),
      |c2 AS (SELECT sym AS a, lead(sym) OVER (PARTITION BY doc_id ORDER BY i) AS b
      |       FROM p2),
      |t2 AS (SELECT a, b, count(*) AS cnt FROM c2
      |       WHERE b IS NOT NULL AND a <> b
      |       GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1),
      |r2 AS (SELECT doc_id, i, sym,
      |         lead(sym) OVER (PARTITION BY doc_id ORDER BY i) AS nxt,
      |         lag(sym) OVER (PARTITION BY doc_id ORDER BY i) AS prv
      |       FROM p2),
      |q2 AS (SELECT doc_id, i,
      |         CASE WHEN sym = t.a AND nxt = t.b THEN t.a || ' ' || t.b
      |              ELSE sym END AS sym
      |       FROM r2 CROSS JOIN t2 t
      |       WHERE NOT coalesce(prv = t.a AND sym = t.b, FALSE)),
      |p3 AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i,
      |         sym FROM q2),
      |c3 AS (SELECT sym AS a, lead(sym) OVER (PARTITION BY doc_id ORDER BY i) AS b
      |       FROM p3),
      |t3 AS (SELECT a, b, count(*) AS cnt FROM c3
      |       WHERE b IS NOT NULL AND a <> b
      |       GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin

  /** The iterative trainer shared by q77/q79: 3 merge rounds over the
    * corpus token sequences, each round = count adjacent symbol pairs →
    * take the most frequent (ties: lexicographic) → rewrite every
    * occurrence into one merged symbol. Later rounds see earlier merges
    * as atomic symbols, exactly like BPE vocabulary training at the word
    * level. Returns the merge table and the (optionally fully-rewritten)
    * sequence state, with the pre-merge token count carried as `n_raw`.
    *
    * The tokenized sequences go through an explicit-width exchange, and
    * each round's rewrite is PINNED (localCheckpoint, the PageRank
    * cadence): the merge lambda reads its input array 3× per element
    * (self, left, right), so if `t` stayed a projection alias,
    * CollapseProject would inline the full split-plus-prior-merges
    * expression into every access — O(L²) CPU per document compounding
    * per round (the q26 trap), observed as a single-thread multi-minute
    * stall at sf1. Pinning makes each round's input a physical column;
    * the rounds are short two-job chains, so the pin cost is noise.
    * `applyLast` controls whether the FINAL merge is applied to the
    * sequences (the trainer's output is the merge table, so q77 skips
    * the last rewrite; the encoder q79 needs the final state). */
  private def bpeTrain(s: SparkSession, d: String, applyLast: Boolean)
      : (Seq[(Int, String, Long)], DataFrame) = {
    var seqs = documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("n_raw", size(col("t")).cast("long"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Int, String, Long)]
    for (step <- 1 to 3) {
      val top = topPairPlan(seqs).collect()
      require(top.nonEmpty, "bpe: corpus has no mergeable adjacent pair")
      val (a, b, cnt) =
        (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
      merges += ((step, s"$a $b", cnt))
      if (step < 3 || applyLast)
        seqs = seqs.withColumn("t", expr(mergeExpr(a, b))).localCheckpoint()
    }
    (merges.result(), seqs)
  }

  /** Iterative BPE-style tokenizer-merge trainer (the stage after q69's
    * bigram prep in a training-data pipeline) — see [[bpeTrain]]. Output:
    * the learned merge table (step, merged pair, count at merge time).
    *
    * Scale shape: each round is one corpus-wide explode + map-side-
    * combinable hash agg (pair keys, never raw documents) topped by a
    * TakeOrdered(1); the rewrite is a per-row array lambda (no shuffle,
    * no join). The only driver-side transfer is the per-round argmax —
    * ONE row — broadcast back into the next round's rewrite literal,
    * which is precisely how distributed BPE trainers iterate (the merge
    * rule is trainer state, not data). A production trainer runs
    * thousands of rounds by batching the top-k NON-ADJACENT pairs per
    * pass; the per-round plan is identical.
    *
    * Oracle: the identical three rounds unrolled as chained CTEs (the
    * q24 PageRank recipe) — integer counts and the shared tie-break make
    * the trajectory engine-exact, so the merge table hash-matches.
    */
  val q77BpeMerges: QueryDef = sql(
    "q77_bpe_merges",
    bpeCtes +
      """
        |SELECT 1 AS step, a || ' ' || b AS merged, cnt FROM t1
        |UNION ALL SELECT 2, a || ' ' || b, cnt FROM t2
        |UNION ALL SELECT 3, a || ' ' || b, cnt FROM t3
        |ORDER BY step""".stripMargin) { (s, d) =>
    val (merges, _) = bpeTrain(s, d, applyLast = false)
    import s.implicits._
    merges.toDF("step", "merged", "cnt").orderBy("step")
  }

  /** Tokenizer APPLY (encode) — the stage after q77's training in a
    * training-data pipeline: rewrite every document through the learned
    * merge table in rank order and emit per-document encoding stats
    * (pre-merge token count, post-merge symbol count, merged-symbol
    * count). Training and encoding share rewrite semantics by
    * construction, so the encoder is exercised against the full
    * trainer trajectory including the final merge.
    *
    * Scale shape: the encode pass is 3 chained MAP-SIDE array lambdas —
    * the merge table is driver/trainer state broadcast into the rewrite
    * literals, never a join — followed by one narrow projection; the
    * only exchanges are the trainer's own. At 100 TB the merge table is
    * a few thousand rules applied the same way (chained rewrites over a
    * pinned physical column); per-doc stats stay one pass, no shuffle.
    *
    * Oracle: q77's unrolled CTE chain extended by the third rewrite
    * (r3/q3), aggregated per document — merged symbols are exactly those
    * containing a space (raw tokens are split on spaces, so they can't).
    */
  val q79BpeEncode: QueryDef = sql(
    "q79_bpe_encode",
    bpeCtes +
      """,
        |r3 AS (SELECT doc_id, i, sym,
        |         lead(sym) OVER (PARTITION BY doc_id ORDER BY i) AS nxt,
        |         lag(sym) OVER (PARTITION BY doc_id ORDER BY i) AS prv
        |       FROM p3),
        |q3 AS (SELECT doc_id, i,
        |         CASE WHEN sym = t.a AND nxt = t.b THEN t.a || ' ' || t.b
        |              ELSE sym END AS sym
        |       FROM r3 CROSS JOIN t3 t
        |       WHERE NOT coalesce(prv = t.a AND sym = t.b, FALSE)),
        |e AS (SELECT doc_id, count(*) AS n_enc,
        |        count(*) FILTER (WHERE contains(sym, ' ')) AS n_merged
        |      FROM q3 GROUP BY 1),
        |n AS (SELECT doc_id, len(t) AS n_raw FROM w)
        |SELECT n.doc_id, n.n_raw, e.n_enc, e.n_merged
        |FROM n JOIN e USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, d) =>
    val (_, seqs) = bpeTrain(s, d, applyLast = true)
    seqs.select(col("doc_id"), col("n_raw"),
      size(col("t")).cast("long").as("n_enc"),
      expr("size(filter(t, x -> contains(x, ' ')))").cast("long")
        .as("n_merged"))
      .orderBy("doc_id")
  }

  /** TOKENIZER FERTILITY AUDIT — the per-language health check run
    * after training a tokenizer and before committing a corpus to it:
    * for each language, document count, raw whitespace-token mass,
    * encoded-symbol mass under the trained BPE merges (q77's trainer,
    * q79's encoder — the same 3-round merge table, reused), merged-
    * symbol count, and the compression ratio micro-quantized. A
    * language whose compression lags the corpus mean is being
    * under-served by the learned merges (its pairs never won a merge
    * round) and will train at inflated sequence lengths — the signal
    * that drives per-language vocabulary budgets in multilingual
    * tokenizer work.
    *
    * Scale shape: everything corpus-sized is the q79 encode itself
    * (explicit-width exchange, per-round pinned rewrites); this audit
    * adds one doc_id equi-join against the (doc_id, lang) projection
    * and a |langs|-row aggregate. */
  val q132TokenizerFertility: QueryDef = sql(
    "q132_tokenizer_fertility",
    bpeCtes +
      """,
        |r3 AS (SELECT doc_id, i, sym,
        |         lead(sym) OVER (PARTITION BY doc_id ORDER BY i) AS nxt,
        |         lag(sym) OVER (PARTITION BY doc_id ORDER BY i) AS prv
        |       FROM p3),
        |q3 AS (SELECT doc_id, i,
        |         CASE WHEN sym = t.a AND nxt = t.b THEN t.a || ' ' || t.b
        |              ELSE sym END AS sym
        |       FROM r3 CROSS JOIN t3 t
        |       WHERE NOT coalesce(prv = t.a AND sym = t.b, FALSE)),
        |e AS (SELECT doc_id, count(*) AS n_enc,
        |        count(*) FILTER (WHERE contains(sym, ' ')) AS n_merged
        |      FROM q3 GROUP BY 1),
        |n AS (SELECT doc_id, len(t) AS n_raw FROM w)
        |SELECT d2.lang, count(*) AS n_docs,
        |  CAST(sum(n.n_raw) AS BIGINT) AS raw_tokens,
        |  CAST(sum(e.n_enc) AS BIGINT) AS enc_tokens,
        |  CAST(sum(e.n_merged) AS BIGINT) AS merged_tokens,
        |  CAST(floor(1000000 * CAST(sum(e.n_enc) AS DOUBLE)
        |    / sum(n.n_raw)) AS BIGINT) AS compression_micro
        |FROM n JOIN e USING (doc_id) JOIN documents d2 USING (doc_id)
        |GROUP BY d2.lang ORDER BY d2.lang""".stripMargin) { (s, d) =>
    val (_, seqs) = bpeTrain(s, d, applyLast = true)
    val perDoc = seqs.select(col("doc_id"), col("n_raw"),
      size(col("t")).cast("long").as("n_enc"),
      expr("size(filter(t, x -> contains(x, ' ')))").cast("long")
        .as("n_merged"))
    perDoc
      .join(documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_raw")).as("raw_tokens"),
        sum(col("n_enc")).as("enc_tokens"),
        sum(col("n_merged")).as("merged_tokens"))
      .select(col("lang"), col("n_docs"), col("raw_tokens"),
        col("enc_tokens"), col("merged_tokens"),
        floor(lit(1000000) * col("enc_tokens").cast("double")
          / col("raw_tokens")).cast("long").as("compression_micro"))
      .orderBy(col("lang"))
  }

  /** Epoch-upsampling data mixture — the mixing stage that follows
    * dedup/quality/split in a training-data pipeline: given target
    * token-share percentages per language, repeat each language's
    * documents ⌈pct·T / (100·langToks)⌉ times so its repeated token
    * mass reaches its target share of the corpus total T (downweighted
    * languages stay at 1 epoch; upweighted ones repeat whole — epoch
    * granularity, the standard mixture-training practice). Output: one
    * row per (document, epoch).
    *
    * Scale shape: the per-language token totals and the grand total are
    * two tiny aggregates joined back BROADCAST (|langs| rows and 1 row —
    * never a shuffle of the corpus); the repetition factor is integer
    * arithmetic (exact ceil via (a + b - 1) div b, engine-portable, no
    * float rounding), and the epoch fan-out is a map-side
    * explode(sequence(1, k)). One corpus pass end to end.
    */
  val q80EpochMixture: QueryDef = sql(
    "q80_epoch_mixture",
    """WITH d AS (SELECT doc_id, lang,
      |            len(string_split(trim(text), ' ')) AS n_toks FROM documents),
      |w AS (SELECT *, CASE lang WHEN 'en' THEN 40 WHEN 'fr' THEN 20
      |                          WHEN 'de' THEN 15 WHEN 'es' THEN 15
      |                          ELSE 10 END AS pct FROM d),
      |l AS (SELECT lang, sum(n_toks) AS lang_toks FROM d GROUP BY 1),
      |t AS (SELECT sum(n_toks) AS total_toks FROM d),
      |k AS (SELECT w.doc_id, w.lang, w.n_toks,
      |        CAST((w.pct * t.total_toks + 100 * l.lang_toks - 1)
      |             // (100 * l.lang_toks) AS BIGINT) AS k
      |      FROM w JOIN l USING (lang) CROSS JOIN t)
      |SELECT doc_id, lang, CAST(unnest(range(1, k + 1)) AS BIGINT) AS epoch,
      |       n_toks
      |FROM k ORDER BY doc_id, epoch""") { (s, d) =>
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"),
        graft.functions.TokenCount.tokenCount(col("text")).cast("long").as("n_toks"))
    val pct = when(col("lang") === "en", 40).when(col("lang") === "fr", 20)
      .when(col("lang") === "de", 15).when(col("lang") === "es", 15)
      .otherwise(10).cast("long").as("pct")
    val langToks = docs.groupBy("lang").agg(sum("n_toks").as("lang_toks"))
    val totalToks = docs.agg(sum("n_toks").as("total_toks"))
    docs.select(col("doc_id"), col("lang"), col("n_toks"), pct)
      .join(broadcast(langToks), "lang")
      .crossJoin(broadcast(totalToks))
      .withColumn("k", expr(
        "(pct * total_toks + 100 * lang_toks - 1) div (100 * lang_toks)"))
      .select(col("doc_id"), col("lang"),
        explode(expr("sequence(1L, k)")).as("epoch"), col("n_toks"))
      .orderBy("doc_id", "epoch")
  }

  /** Boilerplate detection — the web-corpus cleaning stage (headers,
    * footers, nav chrome, license blurbs) that CCNet/RefinedWeb-style
    * pipelines run before dedup: a document's BOILERPLATE RATIO is the
    * fraction of its distinct shingles that are corpus-frequent
    * (df ≥ 100). Reuses the shared capped shingle index — the same
    * per-corpus-snapshot artifact the dedup family reads, so the
    * boilerplate pass adds one token-keyed df aggregation and a
    * BROADCAST probe, no new corpus scan: the frequent set is at most
    * index_rows/100 entries (each needs ≥100 occurrences), the same
    * driver-small bound as the index's own hot-shingle set. Ratios are
    * integer ppm — no float tolerance. Oracle replicates the index
    * semantics (q27's CTE prefix) including the df ≤ 1000 cap, inactive
    * at test scale.
    */
  val q93Boilerplate: QueryDef = sql(
    "q93_boilerplate",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w
      |           FROM documents),
      |d0 AS (SELECT doc_id, list_distinct(list_transform(
      |        range(1, greatest(len(w), 2)), i -> w[i] || ' ' || w[i+1])) AS tk
      |      FROM w),
      |t0 AS (SELECT doc_id, unnest(tk) AS tok FROM d0),
      |tdf AS (SELECT tok, count(*) AS df FROM t0 GROUP BY 1),
      |t AS (SELECT doc_id, tok, df FROM t0 JOIN tdf USING (tok)
      |      WHERE df <= 1000)
      |SELECT doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN df >= 100 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_frequent,
      |  CAST((1000000 * sum(CASE WHEN df >= 100 THEN 1 ELSE 0 END))
      |    // count(*) AS BIGINT) AS boilerplate_ppm
      |FROM t GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val t = shingleIndex(s, d)
    val freq = t.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 100)
      .select(col("tok"), lit(1).as("hit"))
    t.join(broadcast(freq), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_frequent"))
      .select(col("doc_id"), col("n_shingles"), col("n_frequent"),
        expr("(1000000 * n_frequent) div n_shingles").as("boilerplate_ppm"))
      .orderBy(col("doc_id"))
  }

  /** BM25 retrieval scoring (Robertson-Sparck Jones; k1 = 1.2,
    * b = 0.75) — the ranking function behind retrieval-augmented data
    * curation: score every document against a query-term set and keep
    * the top 20. The query is DERIVED deterministically (document-
    * frequency ranks 5-7) so both engines resolve the identical terms
    * with no fixture literal. Each (doc, term) score is ONE
    * deterministic IEEE double expression over exact integers (tf, df,
    * dl) — identical bit-for-bit across engines, the q51 recipe — and
    * is quantized to integer micro-units BEFORE the per-doc sum, so the
    * aggregation is exact integer addition (order-independent; a float
    * sum's addition order would differ between engines — the PageRank
    * quantization recipe). Scale shape: per-doc term frequencies and
    * lengths are one
    * corpus-scan hash agg each; the 3-term posting probe is a BROADCAST
    * semi-pattern (query terms are O(1)), the length join touches only
    * matching docs, and the top-20 is TakeOrderedAndProject — no sort
    * of the corpus.
    */
  val q94Bm25: QueryDef = sql(
    "q94_bm25_topk",
    """WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      |           FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS ntok FROM dl),
      |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |q AS (SELECT tok, df FROM dfq ORDER BY df DESC, tok LIMIT 3 OFFSET 4),
      |sc AS (SELECT tf.doc_id,
      |         CAST(round(1000000 *
      |           ln(1 + (st.nd - q.df + 0.5) / (q.df + 0.5)) *
      |           (tf.tf * 2.2) /
      |           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * st.nd / st.ntok)))
      |           AS BIGINT) AS s
      |       FROM tf JOIN q USING (tok)
      |            JOIN dl ON dl.doc_id = tf.doc_id
      |            CROSS JOIN st)
      |SELECT doc_id, CAST(sum(s) AS BIGINT) AS bm25_micro,
      |       CAST(count(*) AS BIGINT) AS n_terms
      |FROM sc GROUP BY 1
      |ORDER BY bm25_micro DESC, doc_id LIMIT 20""") { (s, d) =>
    val (scored, _) = bm25Machinery(s, d)
    scored.orderBy(col("bm25_micro").desc, col("doc_id")).limit(20)
  }

  /** q135's positional stage, pre-checkpoint (split out so `RerankSpec`
    * can pin the plan: positions of query-term occurrences are computed
    * WITHIN candidates only — the broadcast semi-join prunes the corpus
    * scan BEFORE the posexplode Generate, which is what makes the
    * expensive per-candidate feature O(K·len), corpus-independent). */
  private[graft] def rerankPositionsPlan(
      s: SparkSession, d: String, cand: DataFrame,
      qTerms: DataFrame): DataFrame =
    documents(s, d)
      .join(broadcast(cand.select(col("doc_id"))), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(toks(col("text"))))
      .toDF("doc_id", "pos0", "tok")
      .join(broadcast(qTerms), Seq("tok"))
      .select(col("doc_id"), col("tok"),
        (col("pos0") + 1).cast("long").as("pos"))

  /** Per-(session, corpus-snapshot) POSTINGS artifact shared by the
    * retrieval family (q94 retrieve / q113 hybrid fusion / q135
    * rerank): the (doc_id, tok, tf) term-frequency relation, reliably
    * disk-checkpointed once per snapshot like the shingle index —
    * every retrieval query probes the artifact (and each of its
    * several per-query references reads the checkpoint) instead of
    * re-tokenizing the corpus per reference. At 100 TB this is THE
    * retrieval index build: one tokenize+aggregate pass per corpus
    * snapshot persisted to shared storage, amortized over every
    * retrieve/fuse/rerank query against that snapshot. */
  private[graft] def tfPostings(s: SparkSession, d: String): DataFrame =
    SessionCache.checkpoint("tfPostings", s, d)(
      documents(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))

  /** The BM25 scoring relation shared by the retrieve (q94) and rerank
    * (q135) stages: returns (scored, qTerms) where `scored` is one row
    * per matching document (doc_id, bm25_micro, n_terms) and `qTerms`
    * the 3-term derived query (tok). See [[q94Bm25]]'s scaladoc for the
    * exactness and scale argument. */
  private[graft] def bm25Machinery(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val tf = tfPostings(s, d)
    val dl = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).as("nd"),
      sum(col("dl")).cast("long").as("ntok"))
    val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // df ranks 5-7: TakeOrdered on the vocab, never a full sort
    val q = dfq.orderBy(col("df").desc, col("tok")).offset(4).limit(3)
    val sc = tf.join(broadcast(q.withColumnRenamed("df", "qdf")), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .select(col("doc_id"),
        round(lit(1000000) *
          log(lit(1) + (col("nd") - col("qdf") + lit(0.5)) /
            (col("qdf") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") * col("nd") / col("ntok"))))
          .cast("long").as("s"))
    val scored = sc.groupBy(col("doc_id"))
      .agg(sum(col("s")).cast("long").as("bm25_micro"),
        count(lit(1)).as("n_terms"))
    (scored, q.select(col("tok")))
  }

  /** RETRIEVE → RERANK — the two-stage shape every RAG data pipeline
    * runs over its curated corpus: a cheap corpus-wide retriever (q94's
    * BM25) nominates a bounded candidate set (top 100), and an
    * EXPENSIVE per-candidate scorer re-orders only those 100 — here a
    * deterministic cross-encoder stand-in over features a real reranker
    * reads (term coverage, positional proximity): rerank_micro =
    * bm25_micro + 300000·coverage + ⌊10⁶/(1+min_dist)⌋, where min_dist
    * is the closest distance between occurrences of two DISTINCT query
    * terms in the document (the cross-encoder's attention-locality
    * analogue, exact in integers; -1 when <2 distinct terms match).
    *
    * Scale shape — the point of the two stages: the positional feature
    * (posexplode + a per-doc position self-join) touches ONLY the 100
    * candidate documents (broadcast semi-join prunes the corpus scan
    * before the explode), so its cost is O(K·len²) INDEPENDENT of
    * corpus size, while the corpus-wide stage stays q94's hash-agg +
    * broadcast-probe plan. The candidate set and its positions are
    * 100-row/few-hundred-row relations — localCheckpointed so the
    * heavy retrieval upstream runs once, not once per consumer branch.
    * All rerank arithmetic is BIGINT (integer `div`), so the score is
    * exact and order-independent across engines. */
  val q135Rerank: QueryDef = sql(
    "q135_bm25_rerank",
    """WITH t AS (SELECT doc_id,
      |             unnest(string_split(trim(text), ' ')) AS tok,
      |             unnest(generate_series(1,
      |               len(string_split(trim(text), ' ')))) AS pos
      |           FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS ntok FROM dl),
      |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |q AS (SELECT tok, df FROM dfq ORDER BY df DESC, tok LIMIT 3 OFFSET 4),
      |sc AS (SELECT tf.doc_id,
      |         CAST(round(1000000 *
      |           ln(1 + (st.nd - q.df + 0.5) / (q.df + 0.5)) *
      |           (tf.tf * 2.2) /
      |           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * st.nd / st.ntok)))
      |           AS BIGINT) AS s
      |       FROM tf JOIN q USING (tok)
      |            JOIN dl ON dl.doc_id = tf.doc_id
      |            CROSS JOIN st),
      |agg AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS bm25_micro,
      |          CAST(count(*) AS BIGINT) AS n_terms
      |        FROM sc GROUP BY 1),
      |cand AS (SELECT doc_id, bm25_micro, n_terms,
      |           CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id)
      |             AS BIGINT) AS bm25_rank
      |         FROM agg ORDER BY bm25_micro DESC, doc_id LIMIT 100),
      |pos AS (SELECT t.doc_id, t.tok, CAST(t.pos AS BIGINT) AS pos
      |        FROM t JOIN q USING (tok) JOIN cand USING (doc_id)),
      |prox AS (SELECT p1.doc_id,
      |           CAST(min(abs(p1.pos - p2.pos)) AS BIGINT) AS min_dist
      |         FROM pos p1 JOIN pos p2
      |           ON p1.doc_id = p2.doc_id AND p1.tok < p2.tok
      |         GROUP BY 1)
      |SELECT c.doc_id, c.bm25_micro, c.n_terms, c.bm25_rank,
      |  COALESCE(x.min_dist, -1) AS min_dist,
      |  c.bm25_micro + c.n_terms * 300000 +
      |    (CASE WHEN x.min_dist IS NULL THEN 0
      |          ELSE 1000000 // (1 + x.min_dist) END) AS rerank_micro
      |FROM cand c LEFT JOIN prox x ON c.doc_id = x.doc_id
      |ORDER BY rerank_micro DESC, c.doc_id LIMIT 10""") { (s, d) =>
    val (scored, qTerms) = bm25Machinery(s, d)
    // bounded candidate set: TakeOrdered top-100, then rank — a 100-row
    // relation; localCheckpoint so the corpus-wide retrieval runs once
    // across this plan's three uses of it
    val cand = scored
      .orderBy(col("bm25_micro").desc, col("doc_id")).limit(100)
      .localCheckpoint()
      .withColumn("bm25_rank",
        row_number().over(
          Window.orderBy(col("bm25_micro").desc, col("doc_id"))).cast("long"))
    val pos = rerankPositionsPlan(s, d, cand, qTerms).localCheckpoint()
    val prox = pos.select(col("doc_id"), col("tok").as("t1"), col("pos").as("pp1"))
      .join(pos.select(col("doc_id"), col("tok").as("t2"), col("pos").as("pp2")),
        Seq("doc_id"))
      .where(col("t1") < col("t2"))
      .groupBy(col("doc_id"))
      .agg(min(abs(col("pp1") - col("pp2"))).as("min_dist0"))
    cand.join(prox, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bm25_micro"), col("n_terms"),
        col("bm25_rank"),
        coalesce(col("min_dist0"), lit(-1L)).as("min_dist"),
        (col("bm25_micro") + col("n_terms") * lit(300000L) +
          when(col("min_dist0").isNull, lit(0L))
            .otherwise(expr("1000000 div (1 + min_dist0)")))
          .as("rerank_micro"))
      .orderBy(col("rerank_micro").desc, col("doc_id"))
      .limit(10)
  }

  /** k-hop BFS reachability over the verified near-dup pair graph —
    * the iterative TRAVERSAL primitive (Cypher `[*..k]` variable-length
    * paths, GraphFrames BFS) next to PageRank's iterative scoring (q24)
    * and the wedge join's pattern matching (q89): per document, the
    * count of documents within 1, 2 and 3 hops — how fast its
    * duplicate neighborhood closes over. Each level is ONE edge⋈frontier
    * equi-join plus a per-level DISTINCT (set semantics keep the
    * frontier bounded by reachable nodes, never paths — without the
    * dedup, path multiplicity grows geometrically in cliquey dup
    * clusters). Same artifact reuse as q49/q63/q89: the pair set is the
    * session-cached per-corpus-snapshot checkpoint, so no LSH work
    * reruns. Oracle: the identical three levels as unrolled CTEs with
    * UNION set semantics.
    */
  val q98KhopReach: QueryDef = sql(
    "q98_khop_reach",
    s"""WITH $minHashPairsCtes,
      |pairs AS (SELECT d1, d2 FROM j WHERE jac >= 0.5),
      |e AS (SELECT d1 AS src, d2 AS dst FROM pairs
      |      UNION ALL SELECT d2, d1 FROM pairs),
      |r1 AS (SELECT DISTINCT src, dst FROM e),
      |r2 AS (SELECT src, dst FROM r1
      |       UNION SELECT r1.src, e.dst FROM r1 JOIN e ON e.src = r1.dst
      |       WHERE e.dst <> r1.src),
      |r3 AS (SELECT src, dst FROM r2
      |       UNION SELECT r2.src, e.dst FROM r2 JOIN e ON e.src = r2.dst
      |       WHERE e.dst <> r2.src),
      |c1 AS (SELECT src, count(*) AS n1 FROM r1 GROUP BY 1),
      |c2 AS (SELECT src, count(*) AS n2 FROM r2 GROUP BY 1),
      |c3 AS (SELECT src, count(*) AS n3 FROM r3 GROUP BY 1)
      |SELECT c1.src AS doc_id, n1, n2, n3
      |FROM c1 JOIN c2 USING (src) JOIN c3 USING (src)
      |ORDER BY doc_id""") { (s, d) =>
    val pairs = verifiedPairs(s, d)
    val e = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct()
    def expand(r: DataFrame): DataFrame =
      r.unionByName(
          r.join(e.select(col("src").as("mid"), col("dst").as("nxt")),
              col("dst") === col("mid"))
            .filter(col("nxt") =!= col("src"))
            .select(col("src"), col("nxt").as("dst")))
        .distinct()
    val r1 = e
    val r2 = expand(r1)
    val r3 = expand(r2)
    def counts(r: DataFrame, name: String): DataFrame =
      r.groupBy(col("src")).agg(count(lit(1)).as(name))
    counts(r1, "n1")
      .join(counts(r2, "n2"), "src")
      .join(counts(r3, "n3"), "src")
      .select(col("src").as("doc_id"), col("n1"), col("n2"), col("n3"))
      .orderBy(col("doc_id"))
  }

  /** Duplicated-passage detection — the windowed-hash realization of
    * substring-level dedup (the operation suffix-array dedup performs on
    * training corpora): every 8-token window of every document is
    * hashed, a window whose hash occurs in MORE THAN ONE DISTINCT
    * document is a duplicated span, and each document reports its total
    * and duplicated window counts plus the duplicated fraction (the
    * signal a span-removal / doc-drop policy thresholds on).
    *
    * Plan shape (the same 2-pass df-join the shingle index uses, and the
    * shape this takes at 100 TB): one Generate pass emits (doc, window)
    * rows — the custom `NGramGenerator` UDTF, so the tokenizer runs once
    * per document, not once per window (see its scaladoc) — hashed to
    * 60-bit keys so shuffle rows stay 16 bytes with no raw text; a
    * (doc_id, h) hash-aggregation collapses within-doc repeats; the
    * containing-document count per window is then a COUNT OVER
    * (PARTITION BY h) window on those collapsed rows (each row is one
    * distinct (doc, window), so the partition size IS the distinct-doc
    * count) — a window, not a groupBy(h)+self-join, because the join
    * form re-evaluates the whole Generate+aggregate subtree for its
    * second input (no CSE across a self-join; plan-pinned to exactly
    * one Generate); a final doc_id aggregation folds per-document
    * totals. Three compact-key shuffles, one corpus pass, partial
    * aggregation everywhere, nothing driver-side.
    */
  val q101DupSpans: QueryDef = sql(
    "q101_dup_spans",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |win AS (SELECT doc_id, CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
      |        FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
      |               i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS g FROM w)),
      |dc AS (SELECT doc_id, h, count(*) AS c FROM win GROUP BY 1, 2),
      |df AS (SELECT h, count(*) AS nd FROM dc GROUP BY 1),
      |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_win,
      |               CAST(sum(CASE WHEN nd > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_win
      |        FROM dc JOIN df USING (h) GROUP BY 1)
      |SELECT doc_id, n_win, dup_win,
      |       round(CAST(dup_win AS DOUBLE) / n_win, 6) AS dup_frac
      |FROM per WHERE dup_win > 0 ORDER BY doc_id""") { (s, d) =>
    import org.apache.spark.sql.classic.GraftBridge
    val grams = GraftBridge.column(graft.functions.NGramGenerator(
      GraftBridge.expression(toks(col("text"))), 8))
    val win = documents(s, d)
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), grams.as("g"))
      .select(col("doc_id"), tokHash(col("g")).as("h"))
    val dc = win.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
    dc.withColumn("nd", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_win"),
        sum(when(col("nd") > 1, col("c")).otherwise(lit(0L))).cast("long")
          .as("dup_win"))
      .filter(col("dup_win") > 0)
      .select(col("doc_id"), col("n_win"), col("dup_win"),
        round(col("dup_win").cast("double") / col("n_win"), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Substring-level dedup APPLY — the removal step q101 only reports
    * on (the suffix-array dedup of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", realized on 8-token
    * windows): every window whose hash occurs in ≥ 2 distinct documents
    * is a duplicated span; ONE canonical occurrence per hash survives
    * (keep-first: lexicographic min of (doc_id, first position in that
    * doc) — deterministic, so both engines agree), every other
    * occurrence's 8 token positions are removed, and each document is
    * reconstructed from its surviving tokens. Exact-duplicate documents
    * collapse to an empty string (every position covered by
    * non-canonical windows); documents with no duplicated windows
    * round-trip verbatim (spec-pinned).
    *
    * Plan shape: one Generate pass emits (doc, pos, window-hash) — the
    * per-(h, doc) collapse carries min pos AND the full position list,
    * so the dup/canonical computation runs as two window functions over
    * the collapsed rows (count + min(struct) over h: one shuffle,
    * no groupBy+join-back, which would re-evaluate the whole Generate
    * subtree — q101's rationale) and the removal explode re-expands
    * positions only for the ≥2-doc hashes, folding straight into a
    * per-doc `collect_set` of removed positions. The rebuild is then
    * PURE ARRAY EXPRESSIONS on the token-array artifact: one doc-keyed
    * join (token arrays ⋈ removal sets), kept positions via
    * `array_except(sequence(0,n-1), rmv)` (hash-set membership, O(n+r)
    * per doc, order-preserving), tokens re-attached with a `transform`
    * — so clean_text needs NO per-token explode, NO anti-join, NO
    * collect_list+array_sort. (The round-16 form paid all three: a
    * second corpus-token Generate, two token-row exchanges for the
    * anti-join, and a struct-sort rebuild. Measured r17 A/B at sf1:
    * best-of-2 3.56 → 3.47 s — the tail owned ~0.5 s there, NOT the
    * bulk; the r17 per-stage noop timing (since retired,
    * `BENCH_Q128_STAGES_r17.json`) attributes the remaining warm wall
    * to the window-hash Generate (~0.9 s — every window must be
    * hashed) and the (h, doc) collapse (~1.2 s — within-doc repeats
    * must fold before the cross-doc count), both irreducible under
    * the md5-per-window output contract. The structural win is the
    * scale shape: the removed terms were the only O(corpus-token)
    * EXCHANGES in the apply, which dominate at 100 TB even though at
    * sf1 they were cheap.) Everything that shuffles is either 16-byte
    * (h, doc) rows or doc-keyed removal sets bounded by doc length.
    * At 100 TB the one watch-item is a boilerplate window shared by
    * millions of docs: its h-partition is a single sort-based
    * (spillable) window group, the same exposure q101 carries by
    * design. */
  val q128SubstringDedupApply: QueryDef = sql(
    "q128_substring_dedup_apply",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |win AS (SELECT doc_id, i - 1 AS pos,
      |          CAST(concat('0x', substr(md5(array_to_string(list_slice(w, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS h
      |        FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM w)),
      |hd AS (SELECT h FROM (SELECT h, doc_id FROM win GROUP BY 1, 2)
      |       GROUP BY h HAVING count(*) > 1),
      |c1 AS (SELECT win.h, min(doc_id) AS cdoc FROM win JOIN hd ON win.h = hd.h
      |       GROUP BY 1),
      |c2 AS (SELECT w2.h, any_value(c1.cdoc) AS cdoc, min(w2.pos) AS cpos
      |       FROM win w2 JOIN c1 ON w2.h = c1.h AND w2.doc_id = c1.cdoc
      |       GROUP BY 1),
      |rmpos AS (SELECT DISTINCT w3.doc_id, w3.pos + u.o AS t
      |          FROM win w3 JOIN c2 ON w3.h = c2.h, unnest(range(0, 8)) AS u(o)
      |          WHERE NOT (w3.doc_id = c2.cdoc AND w3.pos = c2.cpos)),
      |tk AS (SELECT doc_id, i - 1 AS t, w[i] AS tok
      |       FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM w)),
      |keep AS (SELECT tk.doc_id, tk.t, tk.tok FROM tk
      |         LEFT JOIN rmpos ON tk.doc_id = rmpos.doc_id AND tk.t = rmpos.t
      |         WHERE rmpos.doc_id IS NULL),
      |sz AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n FROM w)
      |SELECT sz.doc_id,
      |  coalesce(array_to_string(list(keep.tok ORDER BY keep.t)
      |    FILTER (WHERE keep.tok IS NOT NULL), ' '), '') AS clean_text,
      |  CAST(count(keep.t) AS BIGINT) AS n_kept,
      |  CAST(any_value(sz.n) - count(keep.t) AS BIGINT) AS n_removed
      |FROM sz LEFT JOIN keep ON sz.doc_id = keep.doc_id
      |GROUP BY sz.doc_id ORDER BY sz.doc_id""") { (s, d) =>
    // the tokenized corpus is referenced THREE times below (the window
    // branch, the per-token explode, the size join) and lazy lineage
    // re-runs the scan+split once per reference (verified: three
    // separate parquet scans in the executed plan, no ReusedExchange —
    // the same per-plan-reference pattern the retrieval family's
    // tfPostings closed in r15). The session-cached disk artifact pays
    // one tokenize + one write, then every reference is a columnar read.
    val docs = tokArrays(s, d)
    val win = docs.filter(size(col("w")) >= 8)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(w) - 8), i -> concat_ws(' ', slice(w, i + 1, 8)))")))
      .select(col("doc_id"), col("pos"), tokHash(col("col")).as("h"))
    // collapse to (h, doc): min pos feeds the keep-first canonical, the
    // position list re-expands ONLY for duplicated hashes
    val byDoc = win.groupBy(col("h"), col("doc_id"))
      .agg(min(col("pos")).as("minpos"), collect_list(col("pos")).as("poss"))
    val overH = Window.partitionBy(col("h"))
    // per-doc removal SET (collect_set subsumes the old row-level
    // distinct): positions of every non-canonical occurrence's 8 tokens
    val rm = byDoc
      .withColumn("nd", count(lit(1)).over(overH))
      .withColumn("canon",
        min(struct(col("doc_id").as("cd"), col("minpos").as("cp"))).over(overH))
      .filter(col("nd") >= 2)
      .select(col("doc_id"), col("canon"), explode(col("poss")).as("pos"))
      .filter(!(col("doc_id") === col("canon.cd") &&
        col("pos") === col("canon.cp")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(7))).as("t"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("t")).as("rmv"))
    // rebuild as array expressions on the token-array artifact: kept
    // positions = array_except(0..n-1, rmv) (order-preserving), tokens
    // re-attached by index — no token-level explode/anti-join/sort.
    // rmv is only ever non-null for docs with ≥1 window (size(w) ≥ 8),
    // so the sequence() below never sees an empty token array.
    docs.join(rm, Seq("doc_id"), "left")
      .withColumn("keep",
        when(col("rmv").isNull, col("w")).otherwise(expr(
          "transform(array_except(sequence(0, size(w) - 1), rmv)," +
            " i -> element_at(w, i + 1))")))
      .select(col("doc_id"),
        concat_ws(" ", col("keep")).as("clean_text"),
        size(col("keep")).cast("long").as("n_kept"),
        (size(col("w")) - size(col("keep"))).cast("long").as("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** First-occurrence novelty curve — the corpus-saturation diagnostic
    * of incremental ingest (how much of each new batch's content is
    * genuinely new?): per ingest bucket of 100 documents (doc_id order
    * = arrival order), the fraction of (document, shingle) observations
    * whose shingle is seen for the FIRST time in that document. Reuses
    * the shared capped shingle index (the dedup family's per-snapshot
    * artifact — the cap's stop-shingle semantics are RIGHT here too:
    * boilerplate shingles hot enough to be capped are by definition not
    * novel, and the oracle mirrors the cap literally as in q26/q27).
    *
    * Scale shape: first-seer is one groupBy(shingle-hash)→min(doc_id)
    * over the index — the same key distribution the index's own df pass
    * shuffles, no new hot spot — and the seer table joins back
    * BROADCAST (one row per distinct capped shingle; this corpus'
    * vocabulary is KB-sized). The bucket rollup
    * is integer sums; the one double division per bucket is a ratio of
    * exact integers, rounded identically in both engines.
    */
  val q115NoveltyCurve: QueryDef = sql(
    "q115_novelty_curve",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w
      |           FROM documents),
      |d0 AS (SELECT doc_id, list_distinct(list_transform(
      |        range(1, greatest(len(w), 2)), i -> w[i] || ' ' || w[i+1])) AS tk
      |      FROM w),
      |t0 AS (SELECT doc_id, unnest(tk) AS tok FROM d0),
      |tdf AS (SELECT tok, count(*) AS df FROM t0 GROUP BY 1),
      |t AS (SELECT doc_id, tok FROM t0 JOIN tdf USING (tok) WHERE df <= 1000),
      |h AS (SELECT doc_id,
      |        CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS hh
      |      FROM t),
      |f AS (SELECT hh, min(doc_id) AS first_doc FROM h GROUP BY 1),
      |p AS (SELECT h.doc_id, count(*) AS n_grams,
      |        count(*) FILTER (WHERE f.first_doc = h.doc_id) AS n_novel
      |      FROM h JOIN f USING (hh) GROUP BY 1)
      |SELECT doc_id // 100 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
      |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
      |  CAST(round(1000000.0 * sum(n_novel) / sum(n_grams)) AS BIGINT)
      |    AS novelty_micro
      |FROM p GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val h = shingleIndex(s, d)
      .select(col("doc_id"), tokHash(col("tok")).as("hh"))
    val first = h.groupBy(col("hh")).agg(min(col("doc_id")).as("first_doc"))
    h.join(broadcast(first), Seq("hh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0))
          .as("n_novel"))
      .groupBy(expr("doc_id div 100").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).cast("long").as("n_grams"),
        sum(col("n_novel")).cast("long").as("n_novel"),
        round(lit(1000000.0) * sum(col("n_novel")) / sum(col("n_grams")))
          .cast("long").as("novelty_micro"))
      .orderBy(col("bucket"))
  }

  def all: Seq[QueryDef] = Seq(
    q25DedupExact, q26MinHashLsh, q27JaccardPairs, q28SimHash,
    q29TokenStats, q30QualityScore, q31LangId, q32Fingerprint,
    q40SimHashPairs, q48FuzzyMatch, q49DedupClusters, q89TriangleCount,
    q63DedupKeeplist,
    q74DedupApply, q76IncrementalDedup, q50TrainSplit,
    q51TfIdf, q52Repetition, q53StratifiedSample, q85GroupedTopK,
    q54Decontaminate,
    q55Containment, q84BloomDecontaminate, q57ChunkOverlap, q58PackSequences,
    q125PackSegments, q127PackIncremental, q59VocabCoverage,
    q64UnigramLogprob, q65LengthTrim, q68ChunkDedup, q69TopBigrams,
    q77BpeMerges, q79BpeEncode, q132TokenizerFertility, q80EpochMixture,
    q93Boilerplate, q94Bm25, q135Rerank,
    q98KhopReach, q101DupSpans, q128SubstringDedupApply, q115NoveltyCurve,
    q133ShardManifest, q134IncrementalClusters, q136InterleavedShards,
    q137IncrementalShards, q138ContaminatedShards, q141RepetitionShards,
    q142ResumeManifest, q143InterleaveRuns)
}
