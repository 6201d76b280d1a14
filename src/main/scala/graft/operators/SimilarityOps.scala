package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.sql
import graft.sources.Tables._

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-dim):
  * brute-force cosine top-k as the exactness baseline, all-pairs
  * near-duplicate detection on a bounded slice, and sign-LSH bucketed ANN
  * as the scale path.
  *
  * Cross-engine determinism: the dot product is an explicit left fold in
  * double precision — `aggregate(zip_with(a,b,(x,y)=>xd*yd), 0.0, +)` in
  * Spark, `list_reduce(list_transform(...), +)` in the oracle. Both
  * engines evaluate the same correctly-rounded IEEE operations in the
  * same order, so cosines are bit-identical and need no rounding.
  * Everything is built-in higher-order functions — no UDFs, stays in
  * codegen.
  *
  * Scale posture (billions of vectors): brute force is O(Q·N) with a
  * broadcast query set — right for small Q or as a re-ranker; the LSH
  * variant buckets by projection signs so candidate generation is an
  * equi-join on the bucket key (shuffle on bucket, not all-pairs). IVF
  * would follow the same shape with learned centroids as bucket keys.
  */
object SimilarityOps {

  /** left-fold double dot product. The composable higher-order form
    * (`aggregate(zip_with(...))`) computes the same fold but is
    * CodegenFallback; the hot path uses the native codegen expression
    * `graft.functions.FloatVectorDot`, which is bit-identical. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  private def nrm(a: Column): Column = sqrt(dot(a, a))

  /** oracle fragment: left-fold double dot product of list columns. */
  private def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |      list_transform(range(1, len($a)+1),
       |        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |    (acc, x) -> acc + x)""".stripMargin

  /** Brute-force cosine top-10 for 5 query vectors against the full
    * table — the exact baseline every ANN variant is measured against.
    * Query set broadcasts; scan side streams once.
    */
  val q33CosineTopK: QueryDef = sql(
    "q33_cosine_topk",
    s"""WITH d AS (SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nr
      |           FROM embeddings),
      |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nr AS q_nr FROM d WHERE vec_id < 5),
      |c AS (SELECT q_id, d.vec_id AS neighbor,
      |        ${sqlDot("q_emb", "embedding")} / (q_nr * nr) AS cosine
      |      FROM q JOIN d ON d.vec_id <> q_id),
      |r AS (SELECT q_id, neighbor, cosine,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor) AS rn
      |      FROM c)
      |SELECT q_id, neighbor, cosine, rn FROM r WHERE rn <= 10
      |ORDER BY q_id, rn""") { (s, d) =>
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), nrm(col("embedding")).as("nr"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nr").as("q_nr"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor"),
        (dot(col("q_emb"), col("embedding")) / (col("q_nr") * col("nr")))
          .as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .orderBy(col("q_id"), col("rn"))
  }

  /** The 32 fixed hyperplanes (8 bands × 4 planes) for q34's banded
    * candidate generation — same LCG construction as [[hyperplanes]]
    * (components k/64, exact in float32 AND float64, so both engines
    * agree on every projection sign), independent seed. */
  private val PairBands = 12
  private val PairBits = 3
  private val pairPlanes: Array[Array[Float]] =
    lcgPlanes(PairBands * PairBits, 20260813L)

  /** Corpus-size knee where q34 switches from the banded generator to
    * the blocked exact product: past ~half the 2^(3 bits)·bands bucket
    * budget the bands are saturated and banding's candidate volume
    * (3× the exact product's, see q34's scaladoc) only buys shuffle
    * work. Below it the banded path stays registered — the LSH surface
    * the recall specs pin — and its cost is immaterial (<1 s measured).
    * The driver SFs (≤2,000 vectors) sit below the knee; the sf1
    * decade corpus (20,000) sits above it. (Declared before q34's
    * QueryDef: vals initialize in declaration order and the knee is
    * interpolated into its oracle SQL.) */
  private[graft] val PairExactKnee = 4096

  /** Cell-count floor of q34's above-knee per-cell tier, chosen on the
    * symmetric sweep geometry: 4 INDEPENDENT coarse quantizers (disjoint
    * seed ranges → decorrelated Voronoi boundaries), each with
    * `PairCells` learned cells, each vector probing its 4 nearest cells
    * per quantizer.
    *
    * Why multiple quantizers: PAIR recall at a 0.4 cosine threshold is
    * structurally harder than q44's top-5 query recall — a 0.4-cosine
    * pair spans ~66° and easily straddles a boundary, and adding cells
    * makes it WORSE (measured single-quantizer sweep on the 20k decade
    * corpus: 16 cells/nprobe 2 → recall 0.545, 64/3 → 0.497, 128/4 →
    * 0.527). Independent quantizers multiply the misses instead:
    * measured 4 × (128 cells, nprobe 4) → recall 0.947 at 20k (0.967 at
    * the 5k spec fixture) with candidate volume quantizers·(nprobe·n)²
    * /(2k) = (64/k)·n²/2 — half the exhaustive product at k = 128, and
    * the fraction FALLS as a larger corpus configures more cells: k
    * scales as max(128, n/[[PairCellTarget]]) ([[pairCells]]), keeping
    * per-cell population (and hence candidate rows per vector) CONSTANT
    * past the swept point. Measured TWO decades further out at fixed
    * (nprobe, quantizers): recall 0.947 at k = 128 (20k vectors) →
    * 0.804 at k = 382 (60k, sf3) → 0.585 at k = 1273 (200k, sf10) —
    * the boundary-miss decay of a growing cell count on this
    * adversarially near-random corpus (a cosine-0.4 pair spans ~66° and
    * straddles ever more Voronoi boundaries as cells shrink). Holding
    * recall while k grows means scaling nprobe/quantizers too
    * (candidate volume rises with nprobe²) — the registered asymmetric
    * tier scales the quantizer count ([[pairQuantizersScaled]]); real
    * embedding corpora, whose near-dups sit at cosine ≥ 0.8, co-cluster
    * far more reliably. The sweep and decade points were measured by
    * the since-retired RecallProbe main (`RECALL_SWEEP_*.json`,
    * `BENCH_sf10_r1*.json`); the recall floors are pinned by
    * `SimilaritySpec` and `AnnRecallSpec`. */
  private[graft] val PairCells = 128

  /** Unroll bound of the oracle's per-quantizer CTE chains = the
    * ladder cap. Chains past the corpus's own q(k) are gated EMPTY at
    * the seeds CTE (seedLo = seedHi), so an inactive chain costs one
    * metadata-cheap scan, never a Lloyd round. */
  private[graft] val PairQuantizersMax = 32

  /** Cell-population target for q34's above-knee tier: the per-quantizer
    * cell count is k = max([[PairCells]], n/PairCellTarget), so the
    * benched scales keep today's exact geometry (n ≤ 20,000 ⇒ k = 128,
    * the recall-swept configuration) while a LARGER corpus configures
    * proportionally more cells — fixed cell size ⇒ per-cell pair volume
    * LINEAR in n, the same k ∝ n contract q102's SemDeDup clusters
    * follow (a fixed k would turn the per-cell product quadratic one
    * decade past sf1). 157 = 20,000/128 — the measured-recall operating
    * point extends as the density-preserving DataGen corpus grows. */
  private[graft] val PairCellTarget = 157L
  private[graft] def pairCells(n: Long): Int =
    math.max(PairCells.toLong, n / PairCellTarget).toInt

  /** Fixed probe width of the above-knee tier (round 12): recall no
    * longer rides the probe width — it rides the QUANTIZER COUNT
    * ([[pairQuantizersScaled]]). np = 4 is the measured
    * recall-per-candidate sweet spot of the asymmetric form: marginal
    * probes have concavely-diminishing hit probability (measured r1 at
    * k=1273: np=2 → 0.068, np=4 → 0.120, np=8 → 0.196 — the 4→8
    * doubling of volume buys only 1.6× the per-quantizer recall),
    * while independent quantizers compound at CONSTANT efficiency
    * (1−(1−r1)^q — measured exact to ±0.006 through q=16, see the
    * ladder's scaladoc). */
  private[graft] val PairNprobeAsym = 4

  /** Quantizer-count ladder for the above-knee tier: q(k) = the least
    * quantizer count whose compounded recall 1−(1−r1(k))^q ≥ 0.88,
    * under the MEASURED per-quantizer recall law
    * r1(np=4, k) = 0.335·(128/k)^0.449 (RecallProbe --sweep q=1
    * points, exhaustive ground truth: 0.3351 @ k=128/20k vectors,
    * 0.2074 @ k=382/60k — fitted curve predicts 0.2051 — and 0.1195 @
    * k=1273/200k). Independence across quantizers (disjoint seed
    * ranges) is measured essentially exact: predicted vs measured
    * aggregate recall 0.804/0.800 (q=4, k=128), 0.876/0.870 (q=9,
    * k=382), 0.639/0.635 (q=8, k=1273), 0.783/0.777 (q=12, k=1273).
    * Thresholds are precomputed integers (k_m = 128·(0.335/r1need)^
    * (1/0.449), r1need = 1−0.12^(1/m)), so both engines evaluate the
    * identical pure-integer CASE — no transcendental ever crosses the
    * engine boundary. Cap 32: past k ≈ 5,100 (n ≈ 800k on one node)
    * the count saturates and recall re-enters the measured slow decay;
    * a cluster raises the cap, and the COVERAGE.md row carries the
    * honest cost curve (candidate volume ∝ n·q(k) ≈ n^1.45 — the
    * spherical-LSH optimality exponent ρ ≈ 0.43 for cosine 0.4 on
    * structure-free data, which this corpus measurably is: strided vs
    * head-of-corpus codebook seeding moved recall by < 0.0004 at every
    * benched scale, so there is no cluster structure for a
    * data-dependent index to exploit and n^(1+ρ) is the floor any
    * implementable candidate generator pays here). */
  private[graft] val PairQuantizerLadder: Seq[(Int, Int)] = Seq(
    166 -> 6, 222 -> 7, 288 -> 8, 362 -> 9, 447 -> 10,
    542 -> 11, 646 -> 12, 761 -> 13, 887 -> 14, 1023 -> 15, 1170 -> 16,
    1327 -> 17, 1496 -> 18, 1677 -> 19, 1868 -> 20, 2071 -> 21,
    2286 -> 22, 2512 -> 23, 2751 -> 24, 3001 -> 25, 3263 -> 26,
    3538 -> 27, 3825 -> 28, 4124 -> 29, 4435 -> 30, 4760 -> 31,
    5096 -> 32)
  private[graft] def pairQuantizersScaled(k: Int): Int =
    PairQuantizerLadder.collectFirst { case (km, q) if k <= km => q }
      .getOrElse(32)

  /** The ladder as the oracle's CASE expression over a cell-count
    * column — the same integer thresholds, engine-exact. */
  private def pairQuantizersSqlCase(kExpr: String): String =
    PairQuantizerLadder
      .map { case (km, q) => s"WHEN $kExpr <= $km THEN $q" }
      .mkString("CASE ", " ", " ELSE 32 END")

  /** Embedding-cosine near-duplicate pairs over the full table, via
    * banded sign-LSH candidate generation + exact cosine verification:
    * each vector hashes to a 3-bit signature per band (sign of its
    * projection onto 3 fixed hyperplanes), candidates are pairs sharing
    * any band's signature — an equi-join on (band, sig), never
    * all-pairs — and every candidate is verified with the exact codegen
    * cosine ≥ 0.4, so no false positives, only LSH misses.
    *
    * Band geometry is 12 bands × 3 bits (was 8 × 4 through round 5,
    * measured recall 0.73–0.80): for a cosine-0.4 pair the per-plane
    * sign-agreement is p = 1 − acos(0.4)/π ≈ 0.63, so expected recall
    * 1 − (1 − p³)^12 ≈ 0.97 vs ≈ 0.75 for 8 × 4 — measured 0.949–0.985
    * across sf0.001/0.01/0.1 (`RecallProbe`) and pinned ≥ 0.9 with the
    * subset property by `SimilaritySpec`, at ~3× the candidate volume
    * (12 bands × 8 buckets vs 8 × 16).
    *
    * COST-GATED INDEX SELECTION (the actual scale story): banding's
    * candidate volume at uniform occupancy is bands·n²/2^bits pairs vs
    * the exact product's n²/2 — a ratio of 2·bands/2^bits = 3 at this
    * plane budget, i.e. once every bucket is populated the "index"
    * generates MORE work than brute force, it only re-orders it behind
    * a shuffle + distinct. Measured (RecallProbe, cold, local[32]):
    * n=20,000 banded 53.2 s vs exact 2.9 s (recall 0.974 vs 1.0);
    * n=2,000 banded 6.7 s vs exact 1.0 s. Driving the ratio below 1 at
    * cosine 0.4 (per-plane agreement p ≈ 0.63, LSH exponent
    * ρ = ln p / ln ½ ≈ 0.67) needs hundreds of unrolled plane literals
    * per engine — past what a mirrored oracle can carry. So the query
    * PICKS ITS INDEX BY COST: corpora up to [[PairExactKnee]] vectors
    * run the banded generator (the LSH surface under test, recall
    * spec-pinned, cost immaterial at that size); larger corpora run the
    * exact codegen-dot product PER IVF CELL in the asymmetric
    * home-vs-probe form ([[embedNearPairsPerCellAsym]]): every vector
    * is indexed under its nearest learned cell and probes its
    * [[PairNprobeAsym]] = 4 nearest cells per quantizer, across
    * [[pairQuantizersScaled]] independent quantizers (q44's
    * learned-centroid construction over [[pairCells]]-sized disjoint
    * seed ranges — the shared per-snapshot index artifact), candidates
    * meet where one side's probe reaches the other's home, and the
    * exact product runs within each cell — pair volume is
    * n²·nprobe/k per quantizer, LINEAR in the corpus at fixed (np, q)
    * because k ∝ n, and the QUANTIZER COUNT carries the recall
    * contract as cells shrink: q(k) is the measured-law ladder (see
    * its scaladoc — round 11's nprobe ∝ √k paid n^1.5 candidates for
    * the same floor; compounding independent quantizers reaches it at
    * ~0.65× that volume, the measured optimum of this family).
    * Recall vs [[embedNearPairsAllPairs]] — the exhaustive ground
    * truth — is spec-pinned at fixture scales and published per decade
    * in the bench artifacts. Both engines evaluate the identical gate,
    * cell structure, probe width, and quantizer-count CASE ladder —
    * the oracle's two branches are count-gated on the same threshold,
    * its per-cell branch unrolls [[PairQuantizersMax]] chains whose
    * seeds empty out past its own q(k) — so results stay hash-exact
    * tier for tier at every k: the engine scores each quantizer's
    * cells separately ([[pairAssignment]]), the form the oracle's
    * per-quantizer chains compute.
    */
  val q34EmbedNearPairs: QueryDef = {
    val bandSelects = (0 until PairBands).map { bi =>
      val sig = (0 until PairBits).map { j =>
        s"(CASE WHEN ${sqlDot("embedding", sqlPlaneLit(pairPlanes(bi * PairBits + j)))} > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $bi AS band, $sig AS sig FROM d"
    }.mkString("\n", "\nUNION ALL\n", "")
    sql(
      "q34_embed_near_pairs",
      s"""WITH nc AS (SELECT count(*) AS n FROM embeddings),
        |pknc AS (SELECT greatest($PairCells, count(*) // $PairCellTarget) AS k
        |         FROM embeddings),
        |d AS (SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nr
        |      FROM embeddings WHERE (SELECT n FROM nc) <= $PairExactKnee),
        |b AS ($bandSelects),
        |cand AS (SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
        |         FROM b x JOIN b y
        |           ON x.band = y.band AND x.sig = y.sig AND x.vec_id < y.vec_id),
        |c AS (SELECT v1, v2,
        |        ${sqlDot("a.embedding", "a2.embedding")} / (a.nr * a2.nr) AS cosine
        |      FROM cand JOIN d a ON a.vec_id = v1 JOIN d a2 ON a2.vec_id = v2),
        |de AS (SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nr
        |       FROM embeddings WHERE (SELECT n FROM nc) > $PairExactKnee),
        |qn AS (SELECT ${pairQuantizersSqlCase("k")} AS q FROM pknc),
        |${(0 until PairQuantizersMax).map(r => ivfCtesSqlExpr("de", s"k${r}_",
             s"$r * (SELECT k FROM pknc)",
             s"(CASE WHEN $r < (SELECT q FROM qn) THEN ${r + 1} ELSE $r END)" +
               " * (SELECT k FROM pknc)",
             sqlDotFast)).mkString(",\n")},
        |kasn AS (${(0 until PairQuantizersMax).map(r =>
             s"SELECT vec_id, embedding, nr, c_id, crn FROM k${r}_a1 " +
               s"WHERE crn <= $PairNprobeAsym")
             .mkString("\nUNION ALL\n")}),
        |ce AS (SELECT DISTINCT least(h.vec_id, p.vec_id) AS v1,
        |         greatest(h.vec_id, p.vec_id) AS v2,
        |         ${sqlDotFast("h.embedding", "p.embedding")} / (h.nr * p.nr) AS cosine
        |       FROM kasn h JOIN kasn p
        |         ON h.c_id = p.c_id AND h.crn = 1 AND h.vec_id <> p.vec_id)
        |SELECT v1, v2, cosine FROM c WHERE cosine >= 0.4
        |UNION ALL
        |SELECT v1, v2, cosine FROM ce WHERE cosine >= 0.4
        |ORDER BY v1, v2""") { (s, d) =>
      // the gate: one metadata-cheap parquet count picks the index.
      if (embeddings(s, d).count() > PairExactKnee)
        embedNearPairsPerCellAsym(s, d)
      else {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding"), nrm(col("embedding")).as("nr"))
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      // all 36 plane dots per row ride ONE SignPlaneBuckets pass (same
      // JIT-cliff avoidance as q35; posexplode position = band id)
      val bands = e
        .select(col("vec_id"),
          posexplode(graft.functions.VectorFunctions.signPlaneBuckets(
            col("embedding"), pairPlanes, PairBits)).as(Seq("band", "sig")))
      val x = bands.as("x")
      val y = bands.as("y")
      val cand = x.join(y,
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
        .distinct()
      val a = e.select(col("vec_id").as("v1"), col("embedding").as("ea"),
        col("nr").as("na"))
      val b = e.select(col("vec_id").as("v2"), col("embedding").as("eb"),
        col("nr").as("nb"))
      cand.join(a, "v1").join(b, "v2")
        .select(col("v1"), col("v2"),
          (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
        .filter(col("cosine") >= 0.4)
        .orderBy(col("v1"), col("v2"))
      }
    }
  }

  /** ASYMMETRIC home-vs-probe form of the per-cell tier — the
    * REGISTERED above-knee relation (the classic IVF SEARCH shape,
    * evaluated pairwise): each vector is INDEXED under its single
    * nearest cell (rank-1 "home") and PROBES its `nprobe` nearest
    * cells; a pair is a candidate when either member's home cell is
    * among the other's probed cells. Candidate volume scales LINEARLY
    * with nprobe (n²·np/k per quantizer — a symmetric probed∩probed
    * form pays np²/2). The defaults are the round-12 law: fixed
    * [[PairNprobeAsym]] probe width and the [[pairQuantizersScaled]]
    * quantizer-count ladder. Every candidate is verified with the exact
    * codegen cosine, duplicates (both directions, shared cells,
    * multiple quantizers) collapse in one distinct over the few
    * survivors, and the n·q-row home side broadcasts (sf1's 20k vectors
    * make a few MB of it), keeping the whole pair stage map-side. */
  private[graft] def embedNearPairsPerCellAsym(s: SparkSession,
      d: String): DataFrame = {
    val src = pairAssignment(s, d)
    val home = src.filter(col("crn") === 0)
      .select(col("c_id"), col("vec_id").as("vh"),
        col("embedding").as("eh"), col("nr").as("nh"))
    val probe = src.select(col("c_id"), col("vec_id").as("vp"),
      col("embedding").as("ep"), col("nr").as("np_"))
    broadcast(home).join(probe, Seq("c_id"))
      .filter(col("vh") =!= col("vp"))
      .select(least(col("vh"), col("vp")).as("v1"),
        greatest(col("vh"), col("vp")).as("v2"),
        (dot(col("eh"), col("ep")) / (col("nh") * col("np_"))).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .distinct()
      .orderBy(col("v1"), col("v2"))
  }

  /** The coarse-assignment half of [[embedNearPairsPerCellAsym]]: one
    * (vec_id, embedding, nr, crn, c_id) row per vector, quantizer and
    * probed cell. Each of the q(k) quantizers scores its own
    * [[pairCells]]-sized range of learned cells through a
    * driver-collected matrix ([[centroidArrays]]) — per quantizer, as
    * the oracle's unrolled window chains do, so the relation is
    * hash-exact at every k. */
  private[graft] def pairAssignment(s: SparkSession, d: String): DataFrame = {
    val cells = pairCells(embeddings(s, d).count())
    val e = embVecs(s, d)
    (0 until pairQuantizersScaled(cells)).map { r =>
      val (ids, flat, nrs) = centroidArrays(s, d, r * cells, (r + 1) * cells)
      e.select(col("vec_id"), col("embedding"), col("nr"),
          posexplode(graft.functions.VectorFunctions.nearestCellIdsStatic(
            col("embedding"), col("nr"), ids, flat, nrs, PairNprobeAsym)))
        .withColumnRenamed("pos", "crn")
        .withColumnRenamed("col", "c_id")
    }.reduce(_ unionByName _)
  }

  /** The blocked exhaustive form of q34's exact product — O(N²/2)
    * codegen float-dot cosine over one BroadcastNestedLoopJoin scan.
    * No longer registered (the per-cell tier replaced it above the
    * knee); kept as the recall GROUND TRUTH `SimilaritySpec` /
    * `AnnRecallSpec` measure the banded and per-cell paths against.
    */
  def embedNearPairsAllPairs(s: SparkSession, d: String): DataFrame = {
    // explicit width on the probe side: BNLJ parallelism equals the
    // probe side's partitioning.
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), nrm(col("embedding")).as("nr"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("ea"),
      col("nr").as("na"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("eb"),
      col("nr").as("nb"))
    a.join(b, col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .orderBy(col("v1"), col("v2"))
  }

  /** Fixed random hyperplanes for sign-LSH, as 64-dim literal vectors.
    * Components are k/64 with k from a fixed LCG in [-48, 48]: every
    * value is exactly representable in BOTH float32 and float64 and has
    * an exact decimal literal, so the Spark plan (float literals through
    * the codegen dot) and the oracle SQL (double literals) compute
    * bit-identical projections and agree on every sign. */
  private def lcgPlanes(num: Int, seed0: Long): Array[Array[Float]] = {
    var seed = seed0
    def next(): Long = { seed = (seed * 6364136223846793005L + 1442695040888963407L); seed }
    Array.fill(num) {
      Array.fill(64) {
        val k = (math.floorMod(next() >>> 16, 97L) - 48L).toInt
        k / 64.0f
      }
    }
  }

  /** q35's hyperplane family: 12 tables × 4 sign bits (48 planes). */
  private val AnnTables = 12
  private val AnnBits = 4
  private val hyperplanes: Array[Array[Float]] =
    lcgPlanes(AnnTables * AnnBits, 20260812L)

  private def sqlPlaneLit(p: Array[Float]): String =
    p.map(v => {
      val k = math.round(v * 64)
      s"CAST($k AS DOUBLE) / 64"
    }).mkString("([", ", ", "])")

  /** MULTI-TABLE sign-LSH ANN: 12 hash tables, each bucketing on 4
    * projection-sign bits; a query's candidates are the union of its 12
    * bucket-mates (posted-list equi-join on (table, bucket), dedup'd
    * BEFORE any vector is fetched), exact-cosine re-ranked to top-5.
    *
    * Geometry, chosen from MEASURED neighbor difficulty (`AnnRecallSpec`
    * pins it): this corpus's true top-5 cosines run ≈ 0.26-0.43, i.e.
    * per-plane sign-agreement p ≈ 0.60, so a single 8-bit table finds a
    * true neighbor with p⁸ ≈ 1.6% — recall@5 ≈ 0.01, an index that
    * hash-matches its oracle while being USELESS (exactly why recall is
    * pinned separately from correctness). 12 tables × 4 bits lifts
    * per-neighbor hit probability to 1-(1-p⁴)¹² ≈ 0.82 (measured ≈ 0.8,
    * floor-pinned 0.6). The recall/cost dial: tables × 2^-bits bounds
    * the candidate fraction; bits must grow with log₂(corpus) and table
    * count with neighbor difficulty — near-random corpora like this one
    * pay a high candidate fraction for recall, while clustered real
    * embedding corpora (near-dup cosines ≥ 0.8 ⇒ p ≥ 0.9) get the same
    * recall from far coarser tables.
    *
    * Scale shape: the index rows are (vec_id, table, bucket) ints —
    * the posted-list artifact an ANN index persists — so the explode
    * never duplicates vectors; candidate (q, neighbor) pairs dedup as
    * ids alone, and vectors are fetched once per surviving pair.
    */
  val q35AnnLshBucketed: QueryDef = {
    def sqlBucketOf(t: Int): String = (0 until AnnBits)
      .map { j =>
        s"(CASE WHEN ${sqlDot("embedding", sqlPlaneLit(hyperplanes(t * AnnBits + j)))} > 0 THEN ${1 << j} ELSE 0 END)" }
      .mkString(" + ")
    val tableSelects = (0 until AnnTables)
      .map(t => s"SELECT vec_id, $t AS t, ${sqlBucketOf(t)} AS b FROM d")
      .mkString("\n", "\nUNION ALL\n", "")
    sql(
      "q35_ann_lsh_bucketed",
      s"""WITH d AS (SELECT vec_id, embedding,
        |             sqrt(${sqlDot("embedding", "embedding")}) AS nr
        |           FROM embeddings),
        |idx AS ($tableSelects),
        |qi AS (SELECT vec_id AS q_id, t, b FROM idx WHERE vec_id < 20),
        |cand AS (SELECT DISTINCT qi.q_id, idx.vec_id AS neighbor
        |         FROM qi JOIN idx ON idx.t = qi.t AND idx.b = qi.b
        |           AND idx.vec_id <> qi.q_id),
        |c AS (SELECT q_id, neighbor,
        |        ${sqlDot("qv.embedding", "nv.embedding")} / (qv.nr * nv.nr) AS cosine
        |      FROM cand JOIN d qv ON qv.vec_id = q_id
        |                JOIN d nv ON nv.vec_id = neighbor),
        |r AS (SELECT q_id, neighbor, cosine,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor) AS rn
        |      FROM c)
        |SELECT q_id, neighbor, cosine, rn FROM r WHERE rn <= 5
        |ORDER BY q_id, rn""") { (s, d) =>
      // all 48 plane dots per row ride ONE SignPlaneBuckets pass (the
      // 48-literal-dot column form silently fell off the JIT cliff —
      // see the expression's scaladoc); posexplode's position IS the
      // table id, so values are unchanged.
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding"), nrm(col("embedding")).as("nr"))
      val idx = e
        .select(col("vec_id"),
          posexplode(graft.functions.VectorFunctions.signPlaneBuckets(
            col("embedding"), hyperplanes, AnnBits)).as(Seq("t", "b")))
      val qi = idx.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("t"), col("b"))
      val cand = idx.join(broadcast(qi), Seq("t", "b"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor"))
        .distinct()
      val qv = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nr").as("q_nr"))
      val nv = e.select(col("vec_id").as("neighbor"),
        col("embedding").as("n_emb"), col("nr").as("n_nr"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("neighbor"))
      cand.join(broadcast(qv), "q_id").join(nv, "neighbor")
        .select(col("q_id"), col("neighbor"),
          (dot(col("q_emb"), col("n_emb")) / (col("q_nr") * col("n_nr")))
            .as("cosine"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .orderBy(col("q_id"), col("rn"))
    }
  }

  /** universal double dot product: works for float/double array mixes
    * (each element promoted to double), matching `sqlDot`'s CAST
    * semantics — used where one operand is a learned (double) centroid.
    * Native codegen (`MixedVectorDot`), bit-identical to the HOF fold. */
  private def dotAny(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDotAny(a, b)

  /** The learned-centroid CTE chain of q44 (seed on vec_id < 16 →
    * nearest-seed assignment → 56-bit floor-split Lloyd mean →
    * dim-ordered centroid reassembly → final assignment ranking),
    * parameterized on the base relation name (must expose vec_id,
    * embedding, nr) and a CTE-name prefix so two queries can
    * instantiate it inside one WITH clause (q44 bare; q34's above-knee
    * tier prefixed, gated to its own base). Ends at `<p>a1`
    * (vec_id, embedding, nr, c_id, crn). */
  /** oracle fragment: DuckDB's native dot over DOUBLE[] casts — the
    * same sequential multiply-add sum as [[sqlDot]]'s explicit fold
    * (verified bit-identical on all 124,750 sf0.001 pairs, round 8) at
    * native speed; used in the per-cell tier's 4-quantizer chains where
    * the interpreted fold would dominate oracle wall time. */
  private def sqlDotFast(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  private def ivfCtesSql(base: String, p: String, seedLo: Int = 0,
      seedHi: Int = 16,
      dotFn: (String, String) => String = sqlDot): String =
    ivfCtesSqlExpr(base, p, seedLo.toString, seedHi.toString, dotFn)

  /** [[ivfCtesSql]] with the seed bounds as SQL EXPRESSIONS rather than
    * int literals — q102 sizes its cell count from the corpus
    * (`k = greatest(16, n/125)`), so its seed bound is a scalar
    * subquery over the same snapshot both engines read. */
  private def ivfCtesSqlExpr(base: String, p: String, seedLo: String,
      seedHi: String,
      dotFn: (String, String) => String = sqlDot): String =
    s"""${p}seeds AS (SELECT vec_id AS c_id, embedding AS c_emb, nr AS c_nr
      |          FROM $base WHERE vec_id >= $seedLo AND vec_id < $seedHi),
      |${p}a0 AS (SELECT vec_id, embedding, nr, c_id,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id
      |           ORDER BY ${dotFn("embedding", "c_emb")} / (nr * c_nr) DESC, c_id) AS rn
      |       FROM $base CROSS JOIN ${p}seeds),
      |${p}asn0 AS (SELECT vec_id, embedding, c_id FROM ${p}a0 WHERE rn = 1),
      |${p}comp AS (SELECT c_id, dim, CAST(embedding[dim] AS DOUBLE) AS v
      |         FROM ${p}asn0 CROSS JOIN (SELECT unnest(range(1, 65)) AS dim)),
      |${p}sp1 AS (SELECT c_id, dim,
      |          CAST(floor(v * 72057594037927936) AS BIGINT) AS x1,
      |          v * 72057594037927936 - floor(v * 72057594037927936) AS r1
      |        FROM ${p}comp),
      |${p}sp2 AS (SELECT c_id, dim, x1,
      |          CAST(floor(r1 * 72057594037927936) AS BIGINT) AS x2,
      |          r1 * 72057594037927936 - floor(r1 * 72057594037927936) AS r2
      |        FROM ${p}sp1),
      |${p}dm AS (SELECT c_id, dim,
      |         (CAST(sum(x1) AS DOUBLE)
      |           + (CAST(sum(x2) AS DOUBLE)
      |              + CAST(sum(CAST(floor(r2 * 72057594037927936) AS BIGINT)) AS DOUBLE)
      |                / 72057594037927936)
      |             / 72057594037927936)
      |         / 72057594037927936 / count(*) AS m
      |       FROM ${p}sp2 GROUP BY c_id, dim),
      |${p}cents AS (SELECT c_id, list(m ORDER BY dim) AS c_emb FROM ${p}dm GROUP BY c_id),
      |${p}cents2 AS (SELECT c_id, c_emb,
      |             sqrt(${dotFn("c_emb", "c_emb")}) AS c_nr FROM ${p}cents),
      |${p}a1 AS (SELECT vec_id, embedding, nr, c_id,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id
      |           ORDER BY ${dotFn("embedding", "c_emb")} / (nr * c_nr) DESC, c_id) AS crn
      |       FROM $base CROSS JOIN ${p}cents2)""".stripMargin

  /** (vec_id, embedding, nr) projection of the embeddings table, width
    * pinned (broadcast-argmax consumers inherit the scan's
    * partitioning otherwise). */
  private[graft] def embVecs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"), col("embedding"), nrm(col("embedding")).as("nr"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))

  /** nearest-centroid assignment as a map-side broadcast argmax:
    * max over (cosine, −c_id) ≡ the oracle's ORDER BY cosine DESC, c_id
    * — partial aggregation, no window sort over the full table. */
  private def assignNearest(vecs: DataFrame, cs: DataFrame,
      cosOf: (Column, Column) => Column): DataFrame =
    vecs.crossJoin(broadcast(cs))
      .withColumn("c_cos", cosOf(col("embedding"), col("c_emb")) /
        (col("nr") * col("c_nr")))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("c_id"), struct(col("c_cos"), (-col("c_id")).as("neg")))
          .as("c_id"),
        first(col("embedding")).as("embedding"),
        first(col("nr")).as("nr"))

  /** q44's learned centroids — one Lloyd round from the vec_id < 16
    * seeds, the exact 56-bit floor-split integer mean (see q44's
    * scaladoc for the bit-reproducibility construction). Session-cached:
    * the IVF cell structure is a per-corpus-snapshot index artifact
    * shared by q44 (ANN search) and q34's above-knee per-cell tier. */
  private[graft] def learnedCentroidsPlan(s: SparkSession, d: String,
      seedLo: Int = 0, seedHi: Int = 16): DataFrame = {
    val e = embVecs(s, d)
    val seeds = e.filter(col("vec_id") >= seedLo && col("vec_id") < seedHi)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("nr").as("c_nr"))
    val asn0 = assignNearest(e, seeds, dot)
    floorSplitMean(asn0.select(col("c_id"), col("embedding")), "c_id")
  }

  private[graft] def learnedCentroids(s: SparkSession, d: String,
      seedLo: Int = 0, seedHi: Int = 16): DataFrame =
    graft.SessionCache.checkpoint(s"ivfCentroids${seedLo}_$seedHi", s, d)(
      learnedCentroidsPlan(s, d, seedLo, seedHi))

  // ——— two-level (hierarchical) coarse machinery: q129's deployment
  // form and q140's registered one ———
  //
  // Each vector routes through g = ⌈√k⌉ SUPER points (the only
  // driver-collected matrix — √k rows, sublinear), then scans the top-w
  // routed groups' cells, which stay DISTRIBUTED as a g-row grouped
  // table joined into the scan. NOTHING k-sized ever centralizes.
  //
  // Exactness, stated from measurement rather than hope: routing is
  // APPROXIMATE on structure-free data — a w < g probe does NOT cover
  // every vector's true nearest cells (cell memberships, hence Lloyd
  // means, visibly diverge from the flat computation); at w ≥ g it
  // reproduces the flat assignment row for row (`CoarseAssignSpec`).
  // End pair recall of the routed form is floor-pinned by
  // `StreamIndexSpec` (q140).

  /** Routing width: how many super groups each vector scans — g/2
    * (floor 4). Round 13 measurement (RecallProbe --sweep, q = 1
    * routed vs flat, exhaustive truth): per-quantizer recall
    * RETENTION through the routing is a function of w/g alone, stable
    * across k — r1_hier/r1_flat = 0.894/0.899 at w = g/4 (k = 382 /
    * 1273) and 0.952/0.957 at w = g/2; w = g reproduces the flat
    * computation bit-exactly. g/2 halves the scan flops vs flat while
    * keeping retention ≥ 0.95. */
  private[graft] def hierSuperProbe(g: Int): Int = math.max(4, (g + 1) / 2)

  /** One Lloyd round over the POINTS to learn the super level: sampled
    * points seed it, each point assigns to its nearest seed, supers are
    * the member means (distributed, g-row result). Raw sampled points
    * as supers routed measurably worse (they are arbitrary directions;
    * a mean at least centers its group), and the round costs k·g dots
    * over k rows — noise. */
  private def hierLearnedSupers(s: SparkSession, d: String, tag: String,
      points: DataFrame, lo: Long,
      k: Int): (Array[Long], Array[Double], Array[Double]) = {
    val g = math.ceil(math.sqrt(k.toDouble)).toInt
    val step = (k + g - 1) / g
    collectCentroidArrays(s, d, tag) {
      val seeds = points.filter((col("c_id") - lo) % step === 0)
        .select(col("c_id"), col("c_emb"), col("c_nr"))
      val sArr = {
        val rows = seeds.orderBy(col("c_id")).collect()
        val ids = rows.map(_.getLong(0))
        val nrs = rows.map(_.getDouble(2))
        val dim = if (rows.isEmpty) 0 else rows(0).getSeq[Number](1).length
        val flat = new Array[Double](rows.length * dim)
        for (i <- rows.indices; j <- 0 until dim)
          flat(i * dim + j) = rows(i).getSeq[Number](1)(j).doubleValue()
        (ids, flat, nrs)
      }
      floorSplitMean(
        points.select(
          explode(graft.functions.VectorFunctions.nearestCellIdsStatic(
            col("c_emb"), col("c_nr"), sArr._1, sArr._2, sArr._3, 1))
            .as("c_id2"),
          col("c_emb").as("embedding")),
        "c_id2")
        .select(col("c_id2").as("c_id"), col("c_emb"), col("c_nr"))
    }
  }

  /** Cells grouped under their nearest super: g rows of
    * (s_id, cells array<struct<c_id, c_emb, c_nr>>) — the distributed
    * second level the per-vector scan joins into. */
  private def hierGroups(points: DataFrame,
      sup: (Array[Long], Array[Double], Array[Double])): DataFrame =
    points.select(
        explode(graft.functions.VectorFunctions.nearestCellIdsStatic(
          col("c_emb"), col("c_nr"), sup._1, sup._2, sup._3, 1)).as("s_id"),
        struct(col("c_id"), col("c_emb"), col("c_nr")).as("cell"))
      .groupBy(col("s_id")).agg(collect_list(col("cell")).as("cells"))

  /** Two-level top-`np` assignment of `e` (vec_id, embedding, nr):
    * route to the top-w supers, scan each routed group with
    * [[graft.functions.NearestCellsTop]] (per-row primitive loop, no
    * per-candidate row explosion), merge the w small per-group tops
    * into the global top-np with one payload-free array_sort — the
    * n·k scored-row exchange the flat window form paid (and the flat
    * expression avoided only by driver-collecting k) never exists.
    * Output matches the flat tier's assignment schema
    * (c_id, crn, vec_id, embedding, nr). */
  private def hierAssign(e: DataFrame, grps: DataFrame,
      sup: (Array[Long], Array[Double], Array[Double]),
      np: Int, w: Int): DataFrame = {
    val routed = e.select(col("vec_id"), col("embedding"), col("nr"),
      explode(graft.functions.VectorFunctions.nearestCellIdsStatic(
        col("embedding"), col("nr"), sup._1, sup._2, sup._3, w)).as("s_id"))
    val perGrp = routed.join(broadcast(grps), Seq("s_id"))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.nearestCellsTop(
          col("embedding"), col("nr"), col("cells"), np).as("tops"))
    val merged = perGrp.groupBy(col("vec_id"))
      .agg(slice(array_sort(flatten(collect_list(col("tops")))), 1, np)
        .as("tops"))
    merged.select(col("vec_id"), posexplode(col("tops")))
      .select(col("vec_id"), col("pos").as("crn"),
        col("col.c_id").as("c_id"))
      .join(e, Seq("vec_id"))
      .select(col("c_id"), col("crn"), col("vec_id"), col("embedding"),
        col("nr"))
  }

  /** [[learnedCentroidsPlan]] computed through the two-level machinery:
    * the Lloyd round's nearest-SEED assignment routes through ⌈√k⌉
    * super seeds instead of scoring all k — same exact 56-bit
    * floor-split mean over the (bit-equal, spec-pinned) assignment. */
  private[graft] def learnedCentroidsHierPlan(s: SparkSession, d: String,
      seedLo: Int, seedHi: Int, wOverride: Int = 0): DataFrame = {
    val k = seedHi - seedLo
    val e = embVecs(s, d)
    val seeds = e.filter(col("vec_id") >= seedLo && col("vec_id") < seedHi)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
        col("nr").as("c_nr"))
    val sup = hierLearnedSupers(s, d, s"hierseed${seedLo}_$seedHi", seeds,
      seedLo.toLong, k)
    val g = sup._1.length
    val asn1 = hierAssign(e, hierGroups(seeds, sup), sup, 1,
      if (wOverride > 0) wOverride else hierSuperProbe(g))
    floorSplitMean(asn1.select(col("c_id"), col("embedding")), "c_id")
  }

  private def learnedCentroidsHier(s: SparkSession, d: String,
      seedLo: Int, seedHi: Int, wOverride: Int = 0): DataFrame =
    graft.SessionCache.checkpoint(
      s"ivfCentroidsHier${seedLo}_$seedHi" +
        (if (wOverride > 0) s"_w$wOverride" else ""), s, d)(
      learnedCentroidsHierPlan(s, d, seedLo, seedHi, wOverride))

  /** The full two-level assignment of the corpus against one
    * quantizer's learned cells: supers sampled FROM the learned
    * centroids (√k-row collect), cells grouped under them
    * (distributed), vectors routed and scanned per group. */
  private[graft] def hierCellAssign(s: SparkSession, d: String,
      seedLo: Int, seedHi: Int, np: Int, wOverride: Int = 0): DataFrame = {
    val cents = learnedCentroidsHier(s, d, seedLo, seedHi, wOverride)
    val sup = hierLearnedSupers(s, d,
      s"hiercent${seedLo}_$seedHi" +
        (if (wOverride > 0) s"_w$wOverride" else ""), cents,
      seedLo.toLong, seedHi - seedLo)
    val g = sup._1.length
    hierAssign(embVecs(s, d), hierGroups(cents, sup), sup, np,
      if (wOverride > 0) wOverride else hierSuperProbe(g))
  }

  /** The learned centroids of a seed range, DRIVER-COLLECTED once per
    * (session, snapshot, range) as (ids, flat row-major matrix, norms)
    * for [[graft.functions.NearestCellIdsStatic]]. k rows of index
    * metadata (≈ 65 KB at sf1's k = 128) — the same driver-sized class
    * as the broadcast array the column-form expression rode. A
    * [[graft.SessionCache]] entry, so a regenerated corpus re-collects. */
  private def centroidArrays(s: SparkSession, d: String, seedLo: Int,
      seedHi: Int): (Array[Long], Array[Double], Array[Double]) =
    collectCentroidArrays(s, d, s"range${seedLo}_$seedHi")(
      learnedCentroids(s, d, seedLo, seedHi))

  private def collectCentroidArrays(s: SparkSession, d: String, tag: String)(
      plan: => DataFrame): (Array[Long], Array[Double], Array[Double]) =
    graft.SessionCache.memo(s"centroidArrays_$tag", s, d) {
      val rows = plan
        .orderBy(col("c_id")).collect()
      val k = rows.length
      val ids = new Array[Long](k)
      val nrs = new Array[Double](k)
      // the vector column is array<double> for learned centroids and
      // array<float> for raw seed vectors (the hierarchy's super level)
      val dim = if (k == 0) 0 else rows(0).getSeq[Number](1).length
      val flat = new Array[Double](k * dim)
      var i = 0
      while (i < k) {
        ids(i) = rows(i).getLong(0)
        nrs(i) = rows(i).getDouble(2)
        val e = rows(i).getSeq[Number](1)
        var j = 0
        while (j < dim) { flat(i * dim + j) = e(j).doubleValue(); j += 1 }
        i += 1
      }
      (ids, flat, nrs)
    }

  /** IVF ANN with LEARNED centroids: seed with the vectors vec_id 0..15,
    * run one Lloyd iteration (assign every vector to its nearest seed,
    * recompute each centroid as the mean of its cell), then
    * coarse-quantize against the learned centroids and search only the
    * query's 2 nearest cells (nprobe=2) with exact cosine re-ranking.
    *
    * Scale shape: assignments are map-side broadcast argmaxes —
    * crossJoin(16 centroids) + partial `max_by` aggregation, no window
    * sort over the full table; candidates meet on the cell-id equi-join.
    *
    * The centroid update is BOUNDED-MEMORY and bit-reproducible across
    * engines without imposing an order: each component v (a float32
    * widened to double) is split EXACTLY into three 56-bit integer
    * digits, x1 = ⌊v·2^56⌋, x2 = ⌊r1·2^56⌋, x3 = ⌊r2·2^56⌋ (r_i the
    * exact remainders — multiply-by-2^56, floor, and subtract are all
    * exact IEEE ops on the operator's domain: |v| < 128 so x1 fits a
    * long, and for negative v not below ~2^-80, where the borrow in
    * r1 = 1 − |v·2^56| would need > 53 bits; outside that corner the
    * split is still deterministic and engine-identical — both engines
    * run the same correctly-rounded ops — just an ≤ 2^-86 approximation.
    * Positive values are exact down to the 2^-149 subnormals. Pinned by
    * `PrimitiveProperties`; embedding components (±0.5, magnitudes
    * ≥ ~2^-30) sit squarely in the exact domain). Integer sums are
    * associative, so
    * `sum(x_i)` is partition-order-independent and exact (decimal(38,0)
    * accumulators never overflow: fixed per-row flat buffers, a few
    * dozen bytes per (cell, dim) group — vs the old `collect_list` of a
    * whole cell's membership in one buffer). The mean then does ONE
    * deterministic rounding per level when the integer sums re-enter
    * doubles. NOT `CAST(v AS DECIMAL)`: Spark rounds a double's
    * shortest decimal representation while DuckDB rounds its exact
    * binary expansion, and they disagree in the 18th digit (float 0.1 →
    * ...119384765625 rounds to ...120 vs ...119), which survives the
    * final double cast whenever the mean is small.
    */
  val q44AnnIvf: QueryDef = {
    sql(
      "q44_ann_ivf",
      s"""WITH d AS (SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nr
        |           FROM embeddings),
        |${ivfCtesSql("d", "")},
        |cells AS (SELECT vec_id, embedding, nr, c_id FROM a1 WHERE crn = 1),
        |probes AS (SELECT vec_id AS q_id, embedding AS q_emb, nr AS q_nr, c_id
        |           FROM a1 WHERE crn <= 2 AND vec_id < 5),
        |c AS (SELECT q_id, cells.vec_id AS neighbor,
        |        ${sqlDot("q_emb", "embedding")} / (q_nr * nr) AS cosine
        |      FROM probes JOIN cells ON cells.c_id = probes.c_id
        |        AND cells.vec_id <> probes.q_id),
        |r AS (SELECT q_id, neighbor, cosine,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor) AS rn
        |      FROM c)
        |SELECT q_id, neighbor, cosine, rn FROM r WHERE rn <= 5
        |ORDER BY q_id, rn""") { (s, d) =>
      val e = embVecs(s, d)
      val cents = learnedCentroids(s, d)
      val asn1 = assignNearest(e, cents, dotAny)
      val cells = asn1
        .select(col("vec_id"), col("embedding"), col("nr"), col("c_id"))
      // query probes: top-2 learned centroids for the 5 query vectors —
      // a window over 5×16 rows, trivially small.
      val wProbe = Window.partitionBy(col("vec_id"))
        .orderBy(col("c_cos").desc, col("c_id"))
      val probes = e.filter(col("vec_id") < 5)
        .crossJoin(broadcast(cents))
        .withColumn("c_cos", dotAny(col("embedding"), col("c_emb")) /
          (col("nr") * col("c_nr")))
        .withColumn("crn", row_number().over(wProbe))
        .filter(col("crn") <= 2)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nr").as("q_nr"), col("c_id"))
      val wRank = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine").desc, col("neighbor"))
      cells.join(broadcast(probes), Seq("c_id"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor"),
          (dot(col("q_emb"), col("embedding")) / (col("q_nr") * col("nr")))
            .as("cosine"))
        .withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= 5)
        .orderBy(col("q_id"), col("rn"))
    }
  }

  /** Per-vector symmetric int8 quantization — the embedding-compression
    * step of a 100 TB vector pipeline (4× smaller than float32 before
    * ANN indexing): scale = 127/max|v_i|, q_i = ⌊v_i·scale + 0.5⌋.
    * Pure elementwise map — no shuffle, no join. Deterministic across
    * engines: max/abs are exact, the scale and products are the same
    * correctly-rounded doubles on both sides, and ⌊x+0.5⌋ (instead of
    * `round`, whose half-way rule differs between engines) makes the
    * integer rounding bit-identical. Zero vectors quantize to zeros via
    * the scale=0 guard. The quantized vector is emitted as a
    * comma-joined string (not an int array) so every output column is a
    * scalar the driver's comparator can sort and hash.
    */
  val q56QuantizeInt8: QueryDef = sql(
    "q56_quantize_int8",
    """WITH m AS (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
      |  FROM embeddings),
      |s AS (SELECT vec_id, embedding, mx,
      |        CASE WHEN mx > 0 THEN 127 / mx ELSE 0 END AS scale FROM m)
      |SELECT vec_id, mx,
      |  array_to_string(list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT)), ',') AS qv
      |FROM s ORDER BY vec_id""") { (s, d) =>
    embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), x => abs(x.cast("double"))))
          .as("mx"))
      .withColumn("scale",
        when(col("mx") > 0, lit(127.0) / col("mx")).otherwise(lit(0.0)))
      .select(col("vec_id"), col("mx"),
        array_join(
          transform(col("embedding"),
            x => floor(x.cast("double") * col("scale") + 0.5).cast("int")),
          ",").as("qv"))
      .orderBy(col("vec_id"))
  }

  /** kNN majority-vote classification (weak-labeling / label-propagation
    * over the embedding space): each probe (vec_id < 5) takes its 10
    * exact-cosine nearest neighbors' `label`s and predicts the majority,
    * ties broken toward the smaller label. This is the q33 top-k plan
    * plus a vote: the probe set broadcasts, the corpus streams once
    * through the codegen dot product, the per-probe top-10 is a 10-row
    * window per probe, and the vote is a tiny (≤50-row) agg — nothing
    * new shuffles, so the scale posture is exactly q33's (O(Q·N) scan
    * with Q broadcast; swap the candidate source to the IVF/LSH bucket
    * join for large Q, same vote tail).
    */
  val q72KnnClassify: QueryDef = sql(
    "q72_knn_classify",
    s"""WITH d AS (SELECT vec_id, label, embedding,
      |             sqrt(${sqlDot("embedding", "embedding")}) AS nr
      |           FROM embeddings),
      |q AS (SELECT vec_id AS q_id, label AS true_label, embedding AS q_emb,
      |        nr AS q_nr FROM d WHERE vec_id < 5),
      |c AS (SELECT q_id, true_label, d.label AS label,
      |        ${sqlDot("q_emb", "embedding")} / (q_nr * nr) AS cosine,
      |        d.vec_id AS neighbor
      |      FROM q JOIN d ON d.vec_id <> q_id),
      |r AS (SELECT q_id, true_label, label,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor) AS rn
      |      FROM c),
      |v AS (SELECT q_id, true_label, label, count(*) AS votes
      |      FROM r WHERE rn <= 10 GROUP BY 1, 2, 3),
      |p AS (SELECT q_id, true_label, label AS pred_label, votes,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS vr
      |      FROM v)
      |SELECT q_id, true_label, pred_label, CAST(votes AS BIGINT) AS votes
      |FROM p WHERE vr = 1 ORDER BY q_id""") { (s, d) =>
    val e = embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        nrm(col("embedding")).as("nr"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"),
        col("embedding").as("q_emb"), col("nr").as("q_nr"))
    val wK = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor"))
    val wVote = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("label"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("true_label"), col("label"),
        (dot(col("q_emb"), col("embedding")) / (col("q_nr") * col("nr")))
          .as("cosine"),
        col("vec_id").as("neighbor"))
      .withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= 10)
      .groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"), col("label").as("pred_label"),
        col("votes"))
      .orderBy(col("q_id"))
  }

  /** q102's target cluster population: the cell count is
    * `k = max(16, n / SemDedupCellSize)`, so per-cell membership stays
    * ~constant as the corpus grows and within-cluster pair volume is
    * Σ m_c²/2 ≈ n·SemDedupCellSize/2 — LINEAR in n (the round-9 form
    * keyed clusters on the fixed-cardinality `label` column, whose
    * per-cluster membership grew ∝ n and pair volume ∝ n²: measured
    * 10.8× wall for the 10× decade). 125 matches SemDeDup's n/1000-ish
    * regime scaled to this corpus's density; the 16 floor keeps driver
    * SFs (500–2,000 vectors) on exactly q44's cached 16-cell index. */
  private[graft] val SemDedupCellSize = 125L
  private[graft] def semDedupK(n: Long): Int =
    math.max(16L, n / SemDedupCellSize).toInt

  /** Semantic deduplication (the SemDeDup shape): cluster the corpus,
    * then WITHIN each cluster drop every vector with a lower-id
    * cluster-mate at cosine ≥ 0.4 — keep-lowest-id, exactly the
    * exact-dedup keep rule lifted to "semantically identical".
    * Clusters are q44's LEARNED IVF cells (seed on vec_id < k, one
    * Lloyd round with the 56-bit floor-split bit-reproducible mean,
    * assign each vector to its single nearest learned centroid), with
    * k = max(16, n/[[SemDedupCellSize]]) sized FROM THE CORPUS — the
    * real SemDeDup contract, where cluster count grows with n and
    * per-cluster pair volume stays bounded. Per-cluster summary:
    * member count, dropped count, and the exact sum of surviving ids
    * as a keep-set checksum.
    *
    * Scale posture: candidate pairs are generated CLUSTER-LOCAL (join
    * on the learned cell id — never all-pairs), so pair volume is
    * n·cellsize/2 — linear — while the cell join parallelizes across
    * cells; the assignment is a map-side broadcast-centroid argmax and
    * the (vec → cell) table is checkpointed once per corpus snapshot
    * beside the centroids themselves (the shared per-snapshot index
    * artifact q44/q34 already stage). The pair join's right side
    * broadcasts (sf1's 20k vectors are a few MB). Cluster-scoped
    * dropping misses cross-cell pairs by DESIGN (that is SemDeDup's
    * trade); the drop-coverage floor vs the exhaustive ground truth is
    * pinned at the decade fixture by `SemDedupSpec`, as q34 pins pair
    * recall.
    * Both engines build the identical cells (the oracle instantiates
    * q44's learned-centroid CTE chain with the same corpus-derived k)
    * and evaluate the same codegen dot, so the ≥ 0.4 gate and the
    * summary are bit-deterministic.
    */
  val q102SemanticDedup: QueryDef = sql(
    "q102_semantic_dedup",
    s"""WITH knc AS (SELECT greatest(16, count(*) // $SemDedupCellSize) AS k
      |             FROM embeddings),
      |d AS (SELECT vec_id, embedding,
      |        sqrt(${sqlDotFast("embedding", "embedding")}) AS nr
      |      FROM embeddings),
      |${ivfCtesSqlExpr("d", "", "0", "(SELECT k FROM knc)", sqlDotFast)},
      |cells AS (SELECT vec_id, embedding, nr, c_id FROM a1 WHERE crn = 1),
      |p AS (SELECT a.c_id, b.vec_id AS v2
      |      FROM cells a JOIN cells b
      |        ON a.c_id = b.c_id AND a.vec_id < b.vec_id
      |      WHERE ${sqlDotFast("a.embedding", "b.embedding")} / (a.nr * b.nr) >= 0.4),
      |drp AS (SELECT DISTINCT c_id, v2 FROM p)
      |SELECT c.c_id AS cluster_id, count(*) AS n_vecs,
      |       CAST(count(drp.v2) AS BIGINT) AS n_dropped,
      |       CAST(sum(CASE WHEN drp.v2 IS NULL THEN c.vec_id ELSE 0 END) AS BIGINT)
      |         AS kept_id_sum
      |FROM cells c LEFT JOIN drp ON drp.c_id = c.c_id AND drp.v2 = c.vec_id
      |GROUP BY c.c_id ORDER BY c.c_id""") { (s, d) =>
    semanticDedupCells(s, d)
  }

  /** q102's plan, factored for the spec: learned-cell assignment →
    * within-cell keep-lowest-id drop at `threshold` → per-cell summary.
    */
  private[graft] def semanticDedupCells(s: SparkSession, d: String,
      threshold: Double = 0.4): DataFrame = {
    val asn = semDedupAssignment(s, d)
    val lhs = asn.select(col("c_id"), col("vec_id").as("v1"),
      col("embedding").as("e1"), col("nr").as("nr1"))
    val rhs = asn.select(col("c_id"), col("vec_id").as("v2"),
      col("embedding").as("e2"), col("nr").as("nr2"))
    val dropped = lhs.join(broadcast(rhs), "c_id").filter(col("v1") < col("v2"))
      .filter(dot(col("e1"), col("e2")) / (col("nr1") * col("nr2"))
        >= threshold)
      .select(col("c_id").as("drop_cid"), col("v2")).distinct()
    asn.join(dropped, col("c_id") === col("drop_cid")
          && col("vec_id") === col("v2"), "left")
      .groupBy(col("c_id").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"),
        count(col("v2")).cast("long").as("n_dropped"),
        sum(when(col("v2").isNull, col("vec_id")).otherwise(lit(0L)))
          .cast("long").as("kept_id_sum"))
      .orderBy(col("cluster_id"))
  }

  /** q102's (vec_id, c_id, embedding, nr) cluster assignment — each
    * vector's single nearest learned centroid among the corpus-sized
    * k cells. Checkpointed per (session, snapshot, k) like the
    * centroids it derives from: the assignment IS the cluster-index
    * artifact a SemDeDup pipeline persists beside its centroids. */
  private[graft] def semDedupAssignment(s: SparkSession, d: String): DataFrame = {
    val k = semDedupK(embeddings(s, d).count())
    graft.SessionCache.checkpoint(s"semDedupAssign$k", s, d)(
      assignNearest(embVecs(s, d), learnedCentroids(s, d, 0, k), dotAny))
  }

  /** Embedding-space outlier pruning (the cluster-distance quality
    * filter of curated-pretraining pipelines: drop items far from their
    * cluster centroid). Per label, the centroid is the exact 56-bit
    * floor-split element-wise mean (q44's bit-reproducible construction
    * — order-independent integer sums, so 32 partitions and a sequential
    * scan agree exactly); every vector's cosine to its centroid is the
    * shared left-fold double dot, and vectors below 0.0 — pointing away
    * from their cluster's mean direction — surface as outliers.
    *
    * Scale posture: the component explode is one map pass (64 rows per
    * vector, compact (label, dim, v) shuffle rows with partial
    * aggregation), centroids are label-count-sized and broadcast back,
    * and the scoring pass is map-side — the same two-shuffle shape as a
    * grouped average plus a broadcast join, at any corpus size.
    */
  /** Per-label exact centroid of `df` (label, embedding) — the 56-bit
    * floor-split bit-reproducible mean (q44's construction, see its
    * scaladoc), returning (label, c_emb, c_nr). Shared by q103
    * (outlier scoring) and q121 (cross-snapshot drift). */
  private def labelCentroids(df: DataFrame): DataFrame =
    floorSplitMean(df, "label")

  /** Oracle fragment: the label-keyed 56-bit floor-split mean chain
    * over CTE `base` (label, embedding), prefixed so two snapshots can
    * instantiate it in one WITH clause. Ends at `<p>cents2`
    * (label, c_emb, c_nr). */
  private def labelMeanCtesSql(base: String, p: String): String =
    s"""${p}comp AS (SELECT label, dim, CAST(embedding[dim] AS DOUBLE) AS v
      |         FROM $base CROSS JOIN (SELECT unnest(range(1, 65)) AS dim)),
      |${p}sp1 AS (SELECT label, dim,
      |          CAST(floor(v * 72057594037927936) AS BIGINT) AS x1,
      |          v * 72057594037927936 - floor(v * 72057594037927936) AS r1
      |        FROM ${p}comp),
      |${p}sp2 AS (SELECT label, dim, x1,
      |          CAST(floor(r1 * 72057594037927936) AS BIGINT) AS x2,
      |          r1 * 72057594037927936 - floor(r1 * 72057594037927936) AS r2
      |        FROM ${p}sp1),
      |${p}dm AS (SELECT label, dim,
      |         (CAST(sum(x1) AS DOUBLE)
      |           + (CAST(sum(x2) AS DOUBLE)
      |              + CAST(sum(CAST(floor(r2 * 72057594037927936) AS BIGINT)) AS DOUBLE)
      |                / 72057594037927936)
      |             / 72057594037927936)
      |         / 72057594037927936 / count(*) AS m
      |       FROM ${p}sp2 GROUP BY label, dim),
      |${p}cents AS (SELECT label, list(m ORDER BY dim) AS c_emb
      |              FROM ${p}dm GROUP BY label),
      |${p}cents2 AS (SELECT label, c_emb,
      |             sqrt(${sqlDotFast("c_emb", "c_emb")}) AS c_nr
      |           FROM ${p}cents)""".stripMargin

  /** Embedding-space DRIFT across corpus snapshots — the monitoring
    * operator a curation pipeline runs per ingest: per label, the exact
    * centroid of the previous snapshot vs the current one, reported as
    * the cosine between them plus both populations. A centroid that
    * swings (cosine well below 1) flags a distribution shift in that
    * slice of the corpus before it reaches training. The old snapshot
    * derives deterministically from the current one (the q105 recipe):
    * the vec_id % 13 == 5 slice is new since last ingest (absent from
    * old), and the % 7 == 2 slice was re-embedded with a sign flip on
    * odd dimensions (an exact float negation, so both engines derive
    * identical inputs).
    *
    * Scale shape: two grouped exact means (compact (label, dim, digit)
    * shuffle rows with map-side partials — q103's posture) and one
    * |labels|-row join; the cosine is evaluated once per label. No
    * pair joins anywhere — drift is a per-cell statistic, linear in
    * corpus size at any scale.
    */
  val q121CentroidDrift: QueryDef = sql(
    "q121_centroid_drift",
    s"""WITH newv AS (SELECT label, embedding FROM embeddings),
      |oldv AS (SELECT label,
      |           CASE WHEN vec_id % 7 = 2 THEN
      |             list_transform(range(1, len(embedding) + 1),
      |               i -> CASE WHEN i % 2 = 0 THEN -CAST(embedding[i] AS DOUBLE)
      |                    ELSE CAST(embedding[i] AS DOUBLE) END)
      |           ELSE CAST(embedding AS DOUBLE[]) END AS embedding
      |         FROM embeddings WHERE vec_id % 13 <> 5),
      |${labelMeanCtesSql("newv", "n_")},
      |${labelMeanCtesSql("oldv", "o_")},
      |nc AS (SELECT label, count(*) AS n_new FROM newv GROUP BY 1),
      |oc AS (SELECT label, count(*) AS n_old FROM oldv GROUP BY 1)
      |SELECT n_cents2.label, oc.n_old, nc.n_new,
      |  ${sqlDotFast("o_cents2.c_emb", "n_cents2.c_emb")}
      |    / (o_cents2.c_nr * n_cents2.c_nr) AS drift_cos
      |FROM n_cents2 JOIN o_cents2 ON o_cents2.label = n_cents2.label
      |  JOIN nc ON nc.label = n_cents2.label
      |  JOIN oc ON oc.label = n_cents2.label
      |ORDER BY n_cents2.label""") { (s, d) =>
    val cur = embeddings(s, d)
    val newv = cur.select(col("label"), col("embedding"))
    val oldv = cur.filter(col("vec_id") % 13 =!= 5)
      .select(col("label"),
        when(col("vec_id") % 7 === 2,
          transform(col("embedding"),
            (x, i) => when(i % 2 === 1, -x.cast("double"))
              .otherwise(x.cast("double"))))
          .otherwise(col("embedding").cast("array<double>"))
          .as("embedding"))
    val cn = labelCentroids(newv)
      .select(col("label"), col("c_emb").as("c_new"), col("c_nr").as("nr_new"))
    val co = labelCentroids(oldv)
      .select(col("label"), col("c_emb").as("c_old"), col("c_nr").as("nr_old"))
    val nc = newv.groupBy(col("label")).agg(count(lit(1)).as("n_new"))
    val oc = oldv.groupBy(col("label")).agg(count(lit(1)).as("n_old"))
    cn.join(co, "label").join(broadcast(oc), "label")
      .join(broadcast(nc), "label")
      .select(col("label"), col("n_old"), col("n_new"),
        (dotAny(col("c_old"), col("c_new")) / (col("nr_old") * col("nr_new")))
          .as("drift_cos"))
      .orderBy(col("label"))
  }

  val q103EmbedOutliers: QueryDef = sql(
    "q103_embed_outliers",
    s"""WITH comp AS (SELECT label, dim, CAST(embedding[dim] AS DOUBLE) AS v
      |         FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS dim)),
      |sp1 AS (SELECT label, dim,
      |          CAST(floor(v * 72057594037927936) AS BIGINT) AS x1,
      |          v * 72057594037927936 - floor(v * 72057594037927936) AS r1
      |        FROM comp),
      |sp2 AS (SELECT label, dim, x1,
      |          CAST(floor(r1 * 72057594037927936) AS BIGINT) AS x2,
      |          r1 * 72057594037927936 - floor(r1 * 72057594037927936) AS r2
      |        FROM sp1),
      |dm AS (SELECT label, dim,
      |         (CAST(sum(x1) AS DOUBLE)
      |           + (CAST(sum(x2) AS DOUBLE)
      |              + CAST(sum(CAST(floor(r2 * 72057594037927936) AS BIGINT)) AS DOUBLE)
      |                / 72057594037927936)
      |             / 72057594037927936)
      |         / 72057594037927936 / count(*) AS m
      |       FROM sp2 GROUP BY label, dim),
      |cents AS (SELECT label, list(m ORDER BY dim) AS c_emb FROM dm GROUP BY label),
      |cents2 AS (SELECT label, c_emb, sqrt(${sqlDot("c_emb", "c_emb")}) AS c_nr
      |           FROM cents),
      |sc AS (SELECT vec_id, e.label,
      |         ${sqlDot("embedding", "c_emb")} / (nr * c_nr) AS cosine
      |       FROM (SELECT vec_id, label, embedding,
      |               sqrt(${sqlDot("embedding", "embedding")}) AS nr
      |             FROM embeddings) e
      |         JOIN cents2 ON cents2.label = e.label)
      |SELECT vec_id, label, cosine FROM sc WHERE cosine < 0.0
      |ORDER BY vec_id""") { (s, d) =>
    val e = embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        nrm(col("embedding")).as("nr"))
    val cents = labelCentroids(e.select(col("label"), col("embedding")))
    e.join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"),
        (dotAny(col("embedding"), col("c_emb")) / (col("nr") * col("c_nr")))
          .as("cosine"))
      .filter(col("cosine") < 0.0)
      .orderBy(col("vec_id"))
  }

  /** One exact Lloyd mean: per-key centroid of `df` (key, embedding)
    * via the 56-bit floor-split integer sum (see q44's scaladoc for the
    * bit-reproducibility construction) → (key, c_emb DOUBLE[64], c_nr).
    * Shared by [[learnedCentroidsPlan]], the multi-round trainer (q109
    * via [[lloydMean]]), q103's outlier scoring, and q121's drift.
    *
    * Each digit xᵢ (|xᵢ| ≤ ~2^58) is accumulated as TWO long sums —
    * hi = xᵢ >> 28 (arithmetic shift = floor division, exact for the
    * signed x1) and lo = xᵢ & (2^28−1) ∈ [0, 2^28) — instead of one
    * decimal(38,0) sum: long sums stay in whole-stage codegen (a
    * decimal sum allocates per row; measured the dominant cost of the
    * explode-aggregate at the 200k-vector corpus), and the exact digit
    * total is reconstructed per GROUP as the decimal hi·2^28 + lo,
    * which equals sum(xᵢ) bit-for-bit — the final double mean is
    * unchanged vs the oracle's hugeint sum. Overflow headroom:
    * |hi| ≤ 2^30, so ~2^33 ≈ 8.6B members per (key, dim) group before
    * a long sum could wrap — ENFORCED, not just documented: any group
    * past [[FloorSplitGroupGuard]] (2^32, half the headroom) fails the
    * query with an explicit re-widen-to-decimal message instead of
    * silently serving a wrapped (corrupted) centroid. The guard rides
    * the already-aggregated cnt, so it costs one comparison per
    * (key, dim) GROUP — k·64 rows — not per input row. */
  private[graft] val FloorSplitGroupGuard = 1L << 32
  private def floorSplitMean(df: DataFrame, key: String): DataFrame = {
    val S = 72057594037927936L // 2^56
    val M28 = (1L << 28) - 1
    def hiLo(x: Column, p: String) =
      Seq(shiftright(x, 28).as(s"${p}h"), x.bitwiseAND(M28).as(s"${p}l"))
    val sp = df
      .select(col(key), posexplode(col("embedding")))
      .select(col(key), col("pos").as("dim"),
        col("col").cast("double").as("v"))
      .withColumn("x1", floor(col("v") * S))
      .withColumn("r1", col("v") * S - col("x1"))
      .withColumn("x2", floor(col("r1") * S))
      .withColumn("r2", col("r1") * S - col("x2"))
      .withColumn("x3", floor(col("r2") * S))
      .select(Seq(col(key), col("dim")) ++
        hiLo(col("x1"), "a") ++ hiLo(col("x2"), "b") ++
        hiLo(col("x3"), "c"): _*)
    def digit(p: String): Column =
      sum(col(s"${p}h")).cast("decimal(38,0)") * (M28 + 1) +
        sum(col(s"${p}l")).cast("decimal(38,0)")
    val dm = sp.groupBy(col(key), col("dim"))
      .agg(digit("a").as("s1"), digit("b").as("s2"), digit("c").as("s3"),
        count(lit(1)).as("cnt"))
      .select(col(key), col("dim"),
        when(col("cnt") > FloorSplitGroupGuard,
          raise_error(concat(
            lit("floorSplitMean: group size "), col("cnt").cast("string"),
            lit(" exceeds the 2^33 long-digit overflow headroom - " +
              "re-widen the digit sums to decimal(38,0)"))))
        .otherwise(
          (col("s1").cast("double")
            + (col("s2").cast("double") + col("s3").cast("double") / S) / S)
            / S / col("cnt")).as("m"))
    dm.groupBy(col(key))
      .agg(array((0 until 64).map(i =>
        max(when(col("dim") === i, col("m")))): _*).as("c_emb"))
      .select(col(key), col("c_emb"),
        sqrt(dotAny(col("c_emb"), col("c_emb"))).as("c_nr"))
  }

  private def lloydMean(asn: DataFrame): DataFrame =
    floorSplitMean(asn, "c_id")

  /** One oracle Lloyd round: assign `base` to `cin` centroids, then the
    * 56-bit floor-split mean → CTEs `<p>asn`, `<p>dm`, `<p>cents`
    * (c_id, c_emb, c_nr). */
  private def lloydRoundSql(base: String, cin: String, p: String): String =
    s"""${p}a AS (SELECT vec_id, embedding, c_id,
      |       ROW_NUMBER() OVER (PARTITION BY vec_id
      |         ORDER BY ${sqlDotFast("embedding", "c_emb")} / (nr * c_nr) DESC, c_id) AS rn
      |     FROM $base CROSS JOIN $cin),
      |${p}asn AS (SELECT vec_id, embedding, c_id FROM ${p}a WHERE rn = 1),
      |${p}comp AS (SELECT c_id, dim, CAST(embedding[dim] AS DOUBLE) AS v
      |       FROM ${p}asn CROSS JOIN (SELECT unnest(range(1, 65)) AS dim)),
      |${p}sp1 AS (SELECT c_id, dim,
      |        CAST(floor(v * 72057594037927936) AS BIGINT) AS x1,
      |        v * 72057594037927936 - floor(v * 72057594037927936) AS r1
      |      FROM ${p}comp),
      |${p}sp2 AS (SELECT c_id, dim, x1,
      |        CAST(floor(r1 * 72057594037927936) AS BIGINT) AS x2,
      |        r1 * 72057594037927936 - floor(r1 * 72057594037927936) AS r2
      |      FROM ${p}sp1),
      |${p}dm AS (SELECT c_id, dim,
      |       (CAST(sum(x1) AS DOUBLE)
      |         + (CAST(sum(x2) AS DOUBLE)
      |            + CAST(sum(CAST(floor(r2 * 72057594037927936) AS BIGINT)) AS DOUBLE)
      |              / 72057594037927936)
      |           / 72057594037927936)
      |       / 72057594037927936 / count(*) AS m
      |     FROM ${p}sp2 GROUP BY c_id, dim),
      |${p}cents AS (SELECT c_id, list(m ORDER BY dim) AS c_emb,
      |         sqrt(list_dot_product(list(m ORDER BY dim), list(m ORDER BY dim))) AS c_nr
      |       FROM ${p}dm GROUP BY c_id)""".stripMargin

  private val KmeansRounds = 3

  /** MULTI-ROUND k-means training — the iterative-ML shape on Spark
    * (Lloyd's algorithm, k=16, 3 rounds): assign every vector to its
    * nearest centroid (map-side broadcast argmax — the model broadcasts,
    * the corpus never shuffles), recompute exact means, repeat. Each
    * round's 16-row model is `localCheckpoint`ed so the executed plan
    * stays one-round-deep however many rounds run (the q24-PageRank /
    * q77-BPE driver-loop recipe) — at 100 TB this is R corpus passes,
    * each a broadcast probe + one (cell, dim)-keyed partial aggregation,
    * with nothing iteration-dependent in the shuffle.
    *
    * Cross-engine exactness: every mean is the 56-bit floor-split
    * integer sum (q44's construction), so all THREE rounds of
    * assignments and centroids are bit-identical in both engines — the
    * oracle unrolls the loop as three chained CTE rounds. Output: final
    * cluster sizes, centroid norms, and nano-quantized component sums
    * (order-independent per-centroid checksum).
    */
  val q109KmeansTrain: QueryDef = {
    val rounds = (1 to KmeansRounds).map { r =>
      lloydRoundSql(
        "d", if (r == 1) "k0cents" else s"k${r - 1}cents", s"k$r")
    }.mkString(",\n")
    sql(
      "q109_kmeans_train",
      s"""WITH d AS (SELECT vec_id, embedding, sqrt(${sqlDotFast("embedding", "embedding")}) AS nr
        |           FROM embeddings),
        |k0cents AS (SELECT vec_id AS c_id, embedding AS c_emb, nr AS c_nr
        |            FROM d WHERE vec_id < 16),
        |$rounds,
        |fa AS (SELECT vec_id, c_id,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id
        |           ORDER BY ${sqlDotFast("embedding", "c_emb")} / (nr * c_nr) DESC, c_id) AS rn
        |       FROM d CROSS JOIN k${KmeansRounds}cents),
        |sz AS (SELECT c_id, count(*) AS n FROM fa WHERE rn = 1 GROUP BY 1),
        |ck AS (SELECT c_id,
        |         CAST(sum(CAST(floor(m * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
        |           AS comp_nano_sum
        |       FROM k${KmeansRounds}dm GROUP BY 1)
        |SELECT c.c_id, coalesce(n, 0) AS n, round(c_nr, 6) AS norm6,
        |       comp_nano_sum
        |FROM k${KmeansRounds}cents c
        |LEFT JOIN sz ON sz.c_id = c.c_id
        |JOIN ck ON ck.c_id = c.c_id
        |ORDER BY c.c_id""") { (s, d) =>
      // materialized ONCE per run (r18, VERDICT r17 item 5): the trainer
      // is R+1 separate ACTIONS (one per checkpointed round + the final
      // sizes pass), and exchange reuse never spans actions — the raw
      // embVecs plan re-ran the parquet scan + norm projection + width
      // exchange once per round. One materialization, R+1 readers; the
      // vec_id partitioning survives the checkpoint, so each round stays
      // a broadcast argmax with no new exchange.
      val e = embVecs(s, d).localCheckpoint()
      var cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
          col("nr").as("c_nr"))
      (1 to KmeansRounds).foreach { r =>
        val asn = assignNearest(e, cents, if (r == 1) dot else dotAny)
        // 16-row model: checkpoint truncates the growing lineage so the
        // next round's plan re-reads a LocalRelation, not r rounds of
        // shuffles (the PageRank fallback recipe)
        cents = lloydMean(asn).localCheckpoint()
      }
      val sizes = assignNearest(e, cents, dotAny)
        .groupBy(col("c_id")).agg(count(lit(1)).as("n"))
      cents
        .join(sizes, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("n"), lit(0L)).as("n"),
          round(col("c_nr"), 6).as("norm6"),
          aggregate(
            transform(col("c_emb"),
              v => floor(v * 1000000000.0 + 0.5).cast("long")),
            lit(0L), (acc, x) => acc + x).as("comp_nano_sum"))
        .orderBy(col("c_id"))
    }
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack et al. 2009:
    * RRF(d) = Σ_lists 1/(60 + rank_list(d)) — the standard fusion of a
    * lexical and a semantic ranker in RAG / retrieval pipelines): for
    * each of 5 query documents, fuse (a) a BM25 more-like-this ranking
    * (query terms = the query document's own token set, q94's scoring
    * formula and micro-quantization) with (b) the exact cosine ranking
    * over the embedding table (q33's bit-deterministic codegen dot).
    * Top-50 from each list enter the fusion; top-10 fused per query
    * come out, with both source ranks (NULL where a doc appears in only
    * one list — at sf0.1 the embedding table covers only vec_id < 2000
    * of 5000 documents, so one-sided fusion rows are organic, not
    * synthetic).
    *
    * Scale shape: the corpus-sized work is two probe passes — the tf
    * table joins the BROADCAST (q_id, term, df) set (5 query docs'
    * vocabularies), the embedding scan joins the BROADCAST 5-vector
    * query set — plus per-query top-50s (TakeOrdered-sized windows,
    * never a corpus sort). The fusion itself touches ≤ 500 rows. At
    * 100 TB both probes are the same one-pass map-side joins; the rank
    * windows see ≤ |queries|·candidates rows.
    *
    * Cross-engine exactness: ranks are integers (BM25 scores micro-
    * quantized longs, cosines bit-identical doubles), and the RRF score
    * is 1/(60+r_lex) + 1/(60+r_sem) — two correctly-rounded IEEE
    * divisions and one addition in a fixed order, so the fused ordering
    * needs no quantization.
    */
  val q113HybridRrf: QueryDef = sql(
    "q113_hybrid_rrf",
    s"""WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      |           FROM documents),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS ntok FROM dl),
      |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |qdf AS (SELECT qt.doc_id AS q_id, qt.tok, dfq.df
      |        FROM tf qt JOIN dfq ON dfq.tok = qt.tok WHERE qt.doc_id < 5),
      |sc AS (SELECT q_id, tf.doc_id,
      |         CAST(round(1000000 *
      |           ln(1 + (st.nd - qdf.df + 0.5) / (qdf.df + 0.5)) *
      |           (tf.tf * 2.2) /
      |           (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * st.nd / st.ntok)))
      |           AS BIGINT) AS s
      |       FROM tf JOIN qdf ON qdf.tok = tf.tok AND tf.doc_id <> qdf.q_id
      |            JOIN dl ON dl.doc_id = tf.doc_id
      |            CROSS JOIN st),
      |lex AS (SELECT q_id, doc_id, CAST(sum(s) AS BIGINT) AS m
      |        FROM sc GROUP BY 1, 2),
      |lr AS (SELECT q_id, doc_id,
      |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY m DESC, doc_id)
      |           AS lex_rank
      |       FROM lex QUALIFY lex_rank <= 50),
      |de AS (SELECT vec_id, embedding,
      |         sqrt(${sqlDot("embedding", "embedding")}) AS nr
      |       FROM embeddings),
      |qe AS (SELECT vec_id AS q_id, embedding AS q_emb, nr AS q_nr
      |       FROM de WHERE vec_id < 5),
      |ce AS (SELECT q_id, de.vec_id AS doc_id,
      |         ${sqlDot("q_emb", "embedding")} / (q_nr * nr) AS cosine
      |       FROM qe JOIN de ON de.vec_id <> q_id),
      |sr AS (SELECT q_id, doc_id,
      |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, doc_id)
      |           AS sem_rank
      |       FROM ce QUALIFY sem_rank <= 50),
      |f AS (SELECT coalesce(lr.q_id, sr.q_id) AS q_id,
      |        coalesce(lr.doc_id, sr.doc_id) AS doc_id, lex_rank, sem_rank,
      |        coalesce(1.0 / (60 + lex_rank), 0.0)
      |          + coalesce(1.0 / (60 + sem_rank), 0.0) AS rrf
      |      FROM lr FULL OUTER JOIN sr
      |        ON lr.q_id = sr.q_id AND lr.doc_id = sr.doc_id),
      |r AS (SELECT q_id, doc_id, lex_rank, sem_rank,
      |        round(rrf * 1000000.0, 6) AS rrf_micro,
      |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id)
      |          AS fused_rank
      |      FROM f QUALIFY fused_rank <= 10)
      |SELECT q_id, doc_id, lex_rank, sem_rank, rrf_micro, fused_rank
      |FROM r ORDER BY q_id, fused_rank""") { (s, d) =>
    // shared per-snapshot postings artifact (one tokenize+aggregate
    // per corpus snapshot for the whole retrieval family — round 15)
    val tf = graft.operators.TextOps.tfPostings(s, d)
    val dl = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).as("nd"),
      sum(col("dl")).cast("long").as("ntok"))
    val dfq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // query vocabularies: 5 documents' terms with their df — tiny, the
    // broadcast probe set for the corpus-sized tf scan
    val qdf = tf.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"), col("tok"))
      .join(dfq, Seq("tok"))
    val sc = tf.join(broadcast(qdf.withColumnRenamed("df", "qdf")), Seq("tok"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .select(col("q_id"), col("doc_id"),
        round(lit(1000000) *
          log(lit(1) + (col("nd") - col("qdf") + lit(0.5)) /
            (col("qdf") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") * col("nd") / col("ntok"))))
          .cast("long").as("s"))
    val wLex = Window.partitionBy(col("q_id"))
      .orderBy(col("m").desc, col("doc_id"))
    val lex = sc.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("s")).cast("long").as("m"))
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= 50)
      .select(col("q_id"), col("doc_id"), col("lex_rank"))
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding"), nrm(col("embedding")).as("nr"))
    val qe = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nr").as("q_nr"))
    val wSem = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    val sem = e.join(broadcast(qe), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("doc_id"),
        (dot(col("q_emb"), col("embedding")) / (col("q_nr") * col("nr")))
          .as("cosine"))
      .withColumn("sem_rank", row_number().over(wSem))
      .filter(col("sem_rank") <= 50)
      .select(col("q_id"), col("doc_id"), col("sem_rank"))
    val wFus = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    lex.join(sem, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("sem_rank")), lit(0.0)))
      .withColumn("fused_rank", row_number().over(wFus))
      .filter(col("fused_rank") <= 10)
      .select(col("q_id"), col("doc_id"), col("lex_rank"), col("sem_rank"),
        round(col("rrf") * 1000000.0, 6).as("rrf_micro"), col("fused_rank"))
      .orderBy(col("q_id"), col("fused_rank"))
  }

  /** Incremental ANN-index maintenance audit — the decision signal an
    * embedding pipeline computes per ingest: assign the NEW snapshot
    * slice (the q105 convention: vec_id % 13 == 5 arrived since the
    * index was built) into the EXISTING learned cells (q44's cached
    * per-snapshot centroids) and report, per cell, the base and delta
    * populations, the growth rate, and the mean member-to-centroid
    * cosine of each population (micro-quantized, integer-summed — the
    * q94 recipe, so the mean is order-independent and engine-exact). A
    * cell whose delta grows fast or sits measurably farther from its
    * centroid than the base did is the retrain trigger; everything
    * here is map-side against the broadcast centroid table plus one
    * |cells|-sized rollup — index maintenance costs one scan of the
    * delta at any corpus size (the base statistics are the kind a real
    * pipeline keeps per snapshot; both engines derive them here from
    * the same table so the oracle stays self-contained).
    */
  /** Shared by q123 (batch) and q126 (streaming ingest): the audit is a
    * pure additive rollup of per-vector assignments, so one closed form
    * verifies both — micro-batch boundaries cannot change it. */
  private val indexAuditOracle: String =
    s"""WITH d AS (SELECT vec_id, embedding,
      |        sqrt(${sqlDotFast("embedding", "embedding")}) AS nr
      |      FROM embeddings),
      |${ivfCtesSqlExpr("d", "", "0", "16", sqlDotFast)},
      |cells AS (SELECT a1.vec_id, a1.c_id,
      |            ${sqlDotFast("a1.embedding", "cents2.c_emb")}
      |              / (a1.nr * cents2.c_nr) AS cos
      |          FROM a1 JOIN cents2 ON cents2.c_id = a1.c_id
      |          WHERE crn = 1),
      |m AS (SELECT c_id,
      |        CASE WHEN vec_id % 13 = 5 THEN 1 ELSE 0 END AS is_delta,
      |        CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_micro
      |      FROM cells),
      |g AS (SELECT c_id,
      |        count(*) FILTER (WHERE is_delta = 0) AS n_base,
      |        count(*) FILTER (WHERE is_delta = 1) AS n_delta,
      |        sum(CASE WHEN is_delta = 0 THEN cos_micro ELSE 0 END) AS bs,
      |        sum(CASE WHEN is_delta = 1 THEN cos_micro ELSE 0 END) AS ds
      |      FROM m GROUP BY c_id)
      |SELECT c_id, n_base, n_delta,
      |  CAST(floor(CAST(1000000 * n_delta AS DOUBLE)
      |    / greatest(1, n_base)) AS BIGINT) AS growth_micro,
      |  CAST(floor(CAST(bs AS DOUBLE) / greatest(1, n_base)) AS BIGINT)
      |    AS base_cos_micro,
      |  CAST(floor(CAST(ds AS DOUBLE) / greatest(1, n_delta)) AS BIGINT)
      |    AS delta_cos_micro
      |FROM g ORDER BY c_id"""

  /** Single-nearest cell per vector CARRYING THE COSINE, computed
    * map-side: the cell table folds to ONE row (array of cell structs),
    * broadcast, and [[graft.functions.NearestCellsTop]] (nprobe = 1)
    * scores all cells per vector in one primitive loop. r18 (§2.4):
    * this replaces the ×|cells| crossJoin + groupBy(vec_id) max_by
    * argmax, which planned as a corpus-wide Sort + SortAggregate pair
    * over the expanded rows (struct agg keys defeat hash agg), plus —
    * when the input is not already vec_id-partitioned, q126's
    * file-source micro-batches — a per-batch exchange carrying the
    * embeddings (first(embedding) rode the aggregation). The per-row
    * form expands nothing, sorts nothing, shuffles nothing.
    * Bit-equal by construction:
    * NearestCellsTop's multiply-add loop and `s / (nr * c_nr)` division
    * are byte-for-byte dotAny's, and its (cos DESC, c_id ASC) tie-break
    * is exactly max_by(struct(cos, −c_id)); `StreamIndexSpec` pins the
    * two forms row-identical on the real corpus. (Input vec_id is
    * unique by construction — embVecs / the vec_id-ranged stream files
    * — which the old groupBy silently relied on too.) */
  private[graft] def bestCellAssign(cents: DataFrame, vecs: DataFrame): DataFrame = {
    val cellsArr = cents.agg(collect_list(
      struct(col("c_id"), col("c_emb"), col("c_nr"))).as("cells"))
    vecs.crossJoin(broadcast(cellsArr))
      .withColumn("best", graft.functions.VectorFunctions.nearestCellsTop(
        col("embedding"), col("nr"), col("cells"), 1).getItem(0))
      .select(col("vec_id"), col("embedding"), col("nr"),
        col("best.c_id").as("c_id"), (-col("best.ncos")).as("cos"))
  }

  val q123IndexMaintenance: QueryDef = sql(
    "q123_index_maintenance", indexAuditOracle) { (s, d) =>
    val e = embVecs(s, d)
    val cents = learnedCentroids(s, d, 0, 16)
    // single-nearest assignment carrying the cosine itself (assignNearest
    // drops it): one map-side primitive loop per vector (bestCellAssign)
    // — no ×16 expansion, no vec_id exchange — then one micro-quantized
    // rollup
    bestCellAssign(cents, e)
      .select(col("vec_id"), col("c_id"), col("cos"))
      .withColumn("is_delta", when(col("vec_id") % 13 === 5, 1).otherwise(0))
      .withColumn("cos_micro",
        floor(col("cos") * 1000000 + 0.5).cast("long"))
      .groupBy(col("c_id"))
      .agg(
        sum(when(col("is_delta") === 0, 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_delta") === 1, 1L).otherwise(0L)).as("n_delta"),
        sum(when(col("is_delta") === 0, col("cos_micro")).otherwise(0L))
          .as("bs"),
        sum(when(col("is_delta") === 1, col("cos_micro")).otherwise(0L))
          .as("ds"))
      .select(col("c_id"), col("n_base"), col("n_delta"),
        floor((lit(1000000) * col("n_delta")).cast("double")
          / greatest(lit(1L), col("n_base"))).cast("long").as("growth_micro"),
        floor(col("bs").cast("double") / greatest(lit(1L), col("n_base")))
          .cast("long").as("base_cos_micro"),
        floor(col("ds").cast("double") / greatest(lit(1L), col("n_delta")))
          .cast("long").as("delta_cos_micro"))
      .orderBy(col("c_id"))
  }

  /** File-stream staging for [[q126StreamAnnIngest]]: the embeddings
    * table written once per corpus snapshot ([[graft.Fs.staged]]) as 4
    * vec_id-ranged files, so the file source (`maxFilesPerTrigger=1`)
    * replays the corpus as 4 ordered micro-batches. */
  private def stageEmbeddingsStream(s: SparkSession, d: String): String =
    graft.Fs.staged("graft_emb_stream", d, embFp(d)) { dir =>
      graft.sources.Tables.embeddings(s, d)
        .repartitionByRange(4, col("vec_id"))
        .write.mode("overwrite").parquet(dir.toString)
    }.toString

  private def embFp(d: String): String =
    graft.Fs.fingerprint(d, "embeddings.parquet")

  /** The per-corpus STREAMED ASSIGNMENT ARTIFACT shared by q126 and
    * q129 — the round-14 promotion VERDICT r13 asked for: the ingest
    * stream no longer only appends the |cells|-sized audit rollup, it
    * maintains the per-vector assignment artifact itself (one
    * `batch=<id>` parquet partition per micro-batch), so streamed
    * ingest and the batch pair consumer share ONE index lifecycle:
    * the cells are the session-cached `ivfCentroids0_16` snapshot
    * artifact q44/q123/q126 already share, and q129's pair discovery
    * reads the artifact the stream wrote instead of re-assigning the
    * corpus.
    *
    * A [[graft.Fs]] stage written in place rather than through
    * [[graft.Fs.staged]], because q126's drain is both the query and
    * the artifact's writer. Returns (stage, data dir, fresh); when
    * stale, the superseded `data` is already removed and recreated
    * empty — the caller streams into it, then marks the stage with
    * [[embFp]]. A writer rewriting the partitions of a FRESH artifact
    * (q126's re-run path) unmarks the stage first: a crash between
    * Spark's overwrite-delete and commit must leave the artifact STALE
    * (forcing a re-drain) rather than marked over a truncated partition
    * that q129 would silently read as complete. */
  private def asnStaging(
      d: String): (java.nio.file.Path, java.nio.file.Path, Boolean) = {
    val stage = graft.Fs.stageDir("graft_emb_asn", d)
    val data = stage.resolve("data")
    val fresh = graft.Fs.isStaged(stage, embFp(d))
    if (!fresh) {
      graft.Fs.unmarkStaged(stage)
      graft.Fs.rmTree(data)
      java.nio.file.Files.createDirectories(data)
    }
    (stage, data, fresh)
  }

  /** The assignment artifact's rows as [[ingestAssignBatch]] writes
    * them ([[bestCellAssign]] over the corpus embeddings). Its reads
    * take this schema, so none runs a footer job. */
  private val AsnSchema =
    "vec_id BIGINT, embedding ARRAY<FLOAT>, nr DOUBLE, c_id BIGINT, cos DOUBLE"

  /** Assign ONE streamed micro-batch into the existing learned cells
    * (map-side against the broadcast centroid table) and write it as
    * the batch's partition of the assignment artifact. batchId-keyed
    * overwrite = IDEMPOTENT: foreachBatch is at-least-once and a
    * replayed micro-batch rewrites its own partition with identical
    * rows instead of double-appending (`StreamIndexSpec` pins this).
    * Returns the written partition, read back with [[AsnSchema]]; rows
    * carry (vec_id, embedding, nr, c_id, cos) so downstream consumers
    * (the audit rollup, q129's exact-cosine pair join) never rescan the
    * source batch. */
  private def ingestAssignBatch(cents: DataFrame, batch: DataFrame,
      batchId: Long, asnDir: String): DataFrame = {
    val part = s"$asnDir/batch=$batchId"
    // r18: map-side per-row argmax (see bestCellAssign) — the previous
    // ×|cells| crossJoin + groupBy(vec_id) shuffled every batch's
    // embeddings through the argmax exchange on every micro-batch
    bestCellAssign(cents, batch.withColumn("nr", nrm(col("embedding"))))
      .write.mode("overwrite").parquet(part)
    cents.sparkSession.read.schema(AsnSchema).parquet(part)
  }

  /** The streamed assignment artifact as a DataFrame, draining the
    * ingest stream first iff the staging is stale — the standalone
    * entry q129 uses when q126's ingest hasn't already staged it this
    * corpus snapshot. */
  private def streamedAssignment(s: SparkSession, d: String): DataFrame = {
    val (stage, dir, fresh) = asnStaging(d)
    if (!fresh) {
      val dataDir = stageEmbeddingsStream(s, d)
      val cents = learnedCentroids(s, d, 0, 16)
      val stream = s.readStream
        .schema(parquet(s, d, "graft_emb_stream", dataDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(dataDir)
      graft.streaming.StreamingOps.drain(stream, "q129_stream_index_pairs",
        statePartitions = Int.MaxValue,
        each = Some { (batch: DataFrame, batchId: Long) =>
          ingestAssignBatch(cents, batch, batchId, dir.toString): Unit
        }): Unit
      graft.Fs.markStaged(stage, embFp(d))
    }
    s.read.schema(AsnSchema).parquet(dir.toString).drop("batch")
  }

  /** STREAMING ANN ingest — q123's index-maintenance audit as a real
    * Structured Streaming maintenance loop: embedding vectors arrive as
    * a bounded file-stream replay (4 micro-batches), each batch assigns
    * its vectors to the EXISTING learned cells map-side against the
    * broadcast centroid table, updates the per-vector ASSIGNMENT
    * ARTIFACT ([[ingestAssignBatch]] — the shared index lifecycle q129
    * consumes; round 14), and appends one |cells|-sized row of
    * ADDITIVE partials (base/delta counts, micro-quantized cosine sums)
    * to a parquet maintenance log — the q78 admissions-log pattern; the
    * audit is the log's rollup. Because every partial is an integer sum,
    * the drained result is a closed-form function of the corpus,
    * independent of micro-batch boundaries — [[indexAuditOracle]], the
    * same oracle q123 hashes against, verifies it bit-exactly.
    *
    * 100 TB posture: the stream side is STATELESS (no watermark state at
    * all — partial aggregation inside each batch, the log in object
    * storage); per-batch work is one scan of the batch against a
    * broadcast; and the rollup reads |cells| × batches rows, not the
    * corpus. This is the shape of continuous index maintenance at
    * ingest: the retrain trigger (growth_micro / delta_cos_micro drift)
    * updates with every arriving batch for the cost of that batch alone.
    */
  val q126StreamAnnIngest: QueryDef = sql(
    "q126_stream_ann_ingest", indexAuditOracle) { (s, d) =>
    val dataDir = stageEmbeddingsStream(s, d)
    val cents = learnedCentroids(s, d, 0, 16)
    val logDir = graft.SessionCache.scratchDir("graft_ann_ingest_log").toString
    val (asnStage, asnDir, asnFresh) = asnStaging(d)
    // About to rewrite the artifact's partitions in place — if it was
    // already marked fresh, unmark first so an interrupted re-run reads
    // as stale instead of serving a truncated partition.
    if (asnFresh) graft.Fs.unmarkStaged(asnStage)
    val stream = s.readStream
      .schema(parquet(s, d, "graft_emb_stream", dataDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dataDir)
    graft.streaming.StreamingOps.drain(stream, "q126_stream_ann_ingest",
      statePartitions = Int.MaxValue,
      each = Some { (batch: DataFrame, batchId: Long) =>
        // round 14: the batch FIRST updates the per-vector assignment
        // artifact (the shared index lifecycle — q129 consumes it),
        // then derives its audit partials from the partition it just
        // wrote, so assignment work is paid once per batch. Both
        // writes are batchId-keyed overwrites = IDEMPOTENT per batch:
        // foreachBatch is at-least-once, and a replayed micro-batch
        // appended twice would silently corrupt the additive rollup;
        // overwriting its own partition is a no-op on replay (and the
        // batch= layout reads back as one partitioned log)
        ingestAssignBatch(cents, batch, batchId, asnDir.toString)
          .withColumn("is_delta",
            when(col("vec_id") % 13 === 5, 1).otherwise(0))
          .withColumn("cos_micro",
            floor(col("cos") * 1000000 + 0.5).cast("long"))
          .groupBy(col("c_id"))
          .agg(
            sum(when(col("is_delta") === 0, 1L).otherwise(0L)).as("n_base"),
            sum(when(col("is_delta") === 1, 1L).otherwise(0L)).as("n_delta"),
            sum(when(col("is_delta") === 0, col("cos_micro")).otherwise(0L))
              .as("bs"),
            sum(when(col("is_delta") === 1, col("cos_micro")).otherwise(0L))
              .as("ds"))
          .write.mode("overwrite").parquet(s"$logDir/batch=$batchId")
      }): Unit
    graft.Fs.markStaged(asnStage, embFp(d))
    s.read.schema("c_id BIGINT, n_base BIGINT, n_delta BIGINT, bs BIGINT, ds BIGINT")
      .parquet(logDir)
      .groupBy(col("c_id"))
      .agg(sum(col("n_base")).as("n_base"), sum(col("n_delta")).as("n_delta"),
        sum(col("bs")).as("bs"), sum(col("ds")).as("ds"))
      .select(col("c_id"), col("n_base"), col("n_delta"),
        floor((lit(1000000) * col("n_delta")).cast("double")
          / greatest(lit(1L), col("n_base"))).cast("long").as("growth_micro"),
        floor(col("bs").cast("double") / greatest(lit(1L), col("n_base")))
          .cast("long").as("base_cos_micro"),
        floor(col("ds").cast("double") / greatest(lit(1L), col("n_delta")))
          .cast("long").as("delta_cos_micro"))
      .orderBy(col("c_id"))
  }

  /** The pair half of the streamed index lifecycle, shared by q129 and
    * its cold-rebuild twin: within-cell exact-cosine pairs with ≥ 1
    * member from the delta slice (vec_id % 13 == 5, the q105/q123
    * ingest convention) — "which near-duplicate pairs did this ingest
    * introduce", the question an embedding pipeline answers per ingest
    * without re-pairing the base corpus. Cost is Σ_cells
    * delta(c)·pop(c): delta-linear at fixed cell population, and the
    * join runs on the artifact's c_id partitioning. Delta–delta pairs
    * arrive in both orders with bit-identical cosines (elementwise
    * float multiply commutes, summation order is dim-ascending on both
    * sides), so the one distinct collapses them. */
  private def withinCellDeltaPairs(s: SparkSession, asn: DataFrame): DataFrame = {
    val a = asn.repartition(s.sparkContext.defaultParallelism, col("c_id"))
    val delta = a.filter(col("vec_id") % 13 === 5)
      .select(col("c_id"), col("vec_id").as("vd"),
        col("embedding").as("ed"), col("nr").as("nd"))
    delta.join(a, Seq("c_id"))
      .filter(col("vd") =!= col("vec_id"))
      .select(least(col("vd"), col("vec_id")).as("v1"),
        greatest(col("vd"), col("vec_id")).as("v2"),
        (dot(col("ed"), col("embedding")) / (col("nd") * col("nr")))
          .as("cosine"))
      .filter(col("cosine") >= 0.4)
      .distinct()
      .orderBy(col("v1"), col("v2"))
  }

  /** Cold-rebuild twin of [[q129StreamIndexPairs]]: one batch
    * assignment of the whole corpus into the SAME session-cached cells,
    * then the same pair join — the reference `StreamIndexSpec` pins the
    * streamed artifact path against row-for-row. */
  private[graft] def streamIndexPairsCold(s: SparkSession, d: String): DataFrame = {
    val cents = learnedCentroids(s, d, 0, 16)
    val asn = embVecs(s, d)
      .crossJoin(broadcast(cents))
      .withColumn("c_cos", dotAny(col("embedding"), col("c_emb")) /
        (col("nr") * col("c_nr")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"),
          struct(col("c_cos"), (-col("c_id")).as("neg"))).as("c_id"),
        first(col("embedding")).as("embedding"),
        first(col("nr")).as("nr"))
    withinCellDeltaPairs(s, asn)
  }

  /** The q129 pair-join term under an ARBITRARY cell count
    * (`StreamIndexSpec` ground truth): [[probeAssignment]] is
    * [[streamIndexPairsCold]]'s batch assignment generalized to k cells
    * (same schema and semantics as the streamed artifact — assignment
    * is per-vector independent given frozen cells); [[probePairJoin]]
    * is the EXACT registered join ([[withinCellDeltaPairs]]). */
  private[graft] def probeAssignment(
      s: SparkSession, d: String, k: Int): DataFrame = {
    val cents = learnedCentroids(s, d, 0, k)
    embVecs(s, d)
      .crossJoin(broadcast(cents))
      .withColumn("c_cos", dotAny(col("embedding"), col("c_emb")) /
        (col("nr") * col("c_nr")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"),
          struct(col("c_cos"), (-col("c_id")).as("neg"))).as("c_id"),
        first(col("embedding")).as("embedding"),
        first(col("nr")).as("nr"))
  }

  private[graft] def probePairJoin(s: SparkSession, asn: DataFrame): DataFrame =
    withinCellDeltaPairs(s, asn)

  /** EXACT ground truth of the q129 delta-pair relation — every pair
    * (v1 < v2, cosine ≥ 0.4) touching the delta set (vec_id % 13 = 5),
    * via a broadcast of the delta vectors against the corpus: n_delta·n
    * dots, no shuffle. Scoring against this rather than against another
    * index measures quality instead of punishing disagreement between
    * two equally-approximate indexes. */
  private[graft] def probeDeltaTruth(s: SparkSession, d: String): DataFrame = {
    val e = embVecs(s, d)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val delta = broadcast(e.filter(col("vec_id") % 13 === 5)
      .select(col("vec_id").as("vd"), col("embedding").as("ed"),
        col("nr").as("nd")))
    delta.join(e, col("vd") =!= col("vec_id"))
      .select(least(col("vd"), col("vec_id")).as("v1"),
        greatest(col("vd"), col("vec_id")).as("v2"),
        (dot(col("ed"), col("embedding")) / (col("nd") * col("nr")))
          .as("cosine"))
      .filter(col("cosine") >= 0.4)
      .select(col("v1"), col("v2"))
      .distinct()
  }

  /** STREAMED-INDEX PAIR DISCOVERY — the q126 → q34 loop closed
    * (VERDICT r13 item 5): the batch pair consumer reads the SAME
    * per-vector assignment artifact the streaming ingest maintains,
    * instead of re-assigning the corpus. The index lifecycle is one
    * object: cells are the session-cached `ivfCentroids0_16` snapshot
    * artifact (shared with q44's ANN search and q123/q126's
    * maintenance audit — whose growth/drift signal is the retrain
    * trigger for ALL consumers at once), the assignment artifact is
    * the stream's batchId-partitioned parquet ([[ingestAssignBatch]]),
    * and this query is delta-sized work over it. When q126's ingest
    * already ran this corpus snapshot the artifact is simply read;
    * standalone it is drained once ([[streamedAssignment]]) —
    * micro-batch boundaries cannot change the result because
    * assignment is per-vector independent given the frozen cells
    * (`StreamIndexSpec` pins streamed ≡ cold rebuild row-for-row, and
    * batch-replay idempotence).
    *
    * 100 TB posture: per ingest the stream pays one delta-sized scan
    * against a broadcast centroid table; this query pays
    * Σ_cells delta(c)·pop(c) on the artifact's own c_id partitioning —
    * nothing corpus-sized recomputes. The Σ term is QUADRATIC in
    * per-cell population, and the shared snapshot index here is q44's
    * FIXED 16-cell demo geometry, so the sf1→sf10 wall ratio is ~10×
    * (0.67 → 6.63 s, measured — the join term dominating once cells
    * hold 10⁴+ members). Holding it linear at scale means k ∝ n — the
    * [[pairCells]] contract q34/q102 already implement, and (round 15)
    * MEASURED on this query's own join shape by the since-retired
    * StreamIndexProbe main (`BENCH_Q129_KN_r15.json`): under
    * k = pairCells(n), candidates grow 10.10× for 10× rows
    * (per-delta-vector volume flat, 156.6 → 158.3 at 20k → 200k
    * vectors) and the join wall 1.29×, where the same session's
    * fixed-16 runs show the quadratic alternative (100× candidates,
    * 16.3× wall). The ASSIGNMENT term is closed the same way (round
    * 16, `BENCH_Q129_ASSIGN_r16.json`): at k ∝ n the flat
    * crossJoin build grows 8.2× for 10× rows (the n·k fat-row
    * explosion) while the two-level build through [[hierCellAssign]] grows
    * 1.96× and retains 96–97% of the flat tier's truth-recall — the
    * hier route is the deployment form of the index build; the
    * registered demo keeps the flat 16-cell geometry so its oracle
    * stays q123/q126's (hash-exact, and at k=16 flat is both exact and
    * cheapest). */
  val q129StreamIndexPairs: QueryDef = sql(
    "q129_stream_index_pairs",
    s"""WITH d AS (SELECT vec_id, embedding,
      |        sqrt(${sqlDotFast("embedding", "embedding")}) AS nr
      |      FROM embeddings),
      |${ivfCtesSqlExpr("d", "", "0", "16", sqlDotFast)},
      |asn AS (SELECT vec_id, embedding, nr, c_id FROM a1 WHERE crn = 1),
      |p AS (SELECT least(x.vec_id, y.vec_id) AS v1,
      |        greatest(x.vec_id, y.vec_id) AS v2,
      |        ${sqlDotFast("x.embedding", "y.embedding")}
      |          / (x.nr * y.nr) AS cosine
      |      FROM asn x JOIN asn y ON x.c_id = y.c_id
      |        AND x.vec_id % 13 = 5 AND x.vec_id <> y.vec_id)
      |SELECT DISTINCT v1, v2, cosine FROM p
      |WHERE cosine >= 0.4 ORDER BY v1, v2""") { (s, d) =>
    withinCellDeltaPairs(s, streamedAssignment(s, d))
  }

  /** Oracle fragment: the 56-bit floor-split exact mean over
    * `$src`($key, embedding) → `${p}cents2`(c_id, c_emb, c_nr) — the
    * identical digit recipe [[ivfCtesSqlExpr]] unrolls (q44's
    * bit-reproducibility construction), factored so the hierarchical
    * chain can run it over arbitrary keyed groups (seed→super means,
    * routed Lloyd means, cent→super means). */
  private def meanCtesSql(p: String, src: String, key: String,
      dotFn: (String, String) => String): String =
    s"""${p}comp AS (SELECT $key, dim, CAST(embedding[dim] AS DOUBLE) AS v
      |         FROM $src CROSS JOIN (SELECT unnest(range(1, 65)) AS dim)),
      |${p}sp1 AS (SELECT $key, dim,
      |          CAST(floor(v * 72057594037927936) AS BIGINT) AS x1,
      |          v * 72057594037927936 - floor(v * 72057594037927936) AS r1
      |        FROM ${p}comp),
      |${p}sp2 AS (SELECT $key, dim, x1,
      |          CAST(floor(r1 * 72057594037927936) AS BIGINT) AS x2,
      |          r1 * 72057594037927936 - floor(r1 * 72057594037927936) AS r2
      |        FROM ${p}sp1),
      |${p}dm AS (SELECT $key, dim,
      |         (CAST(sum(x1) AS DOUBLE)
      |           + (CAST(sum(x2) AS DOUBLE)
      |              + CAST(sum(CAST(floor(r2 * 72057594037927936) AS BIGINT)) AS DOUBLE)
      |                / 72057594037927936)
      |             / 72057594037927936)
      |         / 72057594037927936 / count(*) AS m
      |       FROM ${p}sp2 GROUP BY $key, dim),
      |${p}cents AS (SELECT $key, list(m ORDER BY dim) AS c_emb
      |            FROM ${p}dm GROUP BY $key),
      |${p}cents2 AS (SELECT $key AS c_id, c_emb,
      |             sqrt(${dotFn("c_emb", "c_emb")}) AS c_nr
      |           FROM ${p}cents)""".stripMargin

  /** Oracle fragment: [[hierLearnedSupers]] over `$pts`(c_id, c_emb,
    * c_nr) → `${p}cents2`(c_id, c_emb, c_nr): seeds every `step`-th
    * point id, assigns each point to its nearest seed (cos DESC, c_id
    * — [[NearestCellIdsStatic]]'s comparator), floor-split means the
    * groups. */
  private def superCtesSql(p: String, pts: String,
      dotFn: (String, String) => String): String =
    s"""${p}ss AS (SELECT c_id, c_emb, c_nr FROM $pts
      |        WHERE c_id % (SELECT step FROM hq) = 0),
      |${p}pa AS (SELECT q.c_id AS pkey, q.c_emb AS embedding,
      |          z.c_id AS s_id,
      |          ROW_NUMBER() OVER (PARTITION BY q.c_id
      |            ORDER BY ${dotFn("q.c_emb", "z.c_emb")}
      |              / (q.c_nr * z.c_nr) DESC, z.c_id) AS rn
      |        FROM $pts q CROSS JOIN ${p}ss z),
      |${p}pm AS (SELECT s_id, embedding FROM ${p}pa WHERE rn = 1),
      |${meanCtesSql(s"${p}m", s"${p}pm", "s_id", dotFn)}""".stripMargin

  /** Oracle fragment: [[hierAssign]] of the corpus `d` against cells
    * `$pts` routed through supers `$sup` → `${p}af`(vec_id, embedding,
    * nr, c_id, rn): each cell under its nearest super, each vector
    * routed to its top-w supers (w = max(4, (|supers|+1)/2),
    * [[hierSuperProbe]]), candidates ranked cos DESC, c_id. */
  private def hierAssignCtesSql(p: String, pts: String, sup: String,
      dotFn: (String, String) => String): String =
    s"""${p}gr AS (SELECT c_id, c_emb, c_nr, s_id FROM (
      |          SELECT q.c_id, q.c_emb, q.c_nr, z.c_id AS s_id,
      |            ROW_NUMBER() OVER (PARTITION BY q.c_id
      |              ORDER BY ${dotFn("q.c_emb", "z.c_emb")}
      |                / (q.c_nr * z.c_nr) DESC, z.c_id) AS rn
      |          FROM $pts q CROSS JOIN $sup z) t WHERE rn = 1),
      |${p}w AS (SELECT greatest(4, (count(*) + 1) // 2) AS w FROM $sup),
      |${p}vr AS (SELECT v.vec_id, z.c_id AS s_id,
      |          ROW_NUMBER() OVER (PARTITION BY v.vec_id
      |            ORDER BY ${dotFn("v.embedding", "z.c_emb")}
      |              / (v.nr * z.c_nr) DESC, z.c_id) AS rn
      |        FROM d v CROSS JOIN $sup z),
      |${p}cand AS (SELECT v.vec_id, v.embedding, v.nr,
      |            g.c_id, g.c_emb, g.c_nr
      |          FROM d v
      |          JOIN ${p}vr r ON r.vec_id = v.vec_id
      |            AND r.rn <= (SELECT w FROM ${p}w)
      |          JOIN ${p}gr g ON g.s_id = r.s_id),
      |${p}af AS (SELECT vec_id, embedding, nr, c_id,
      |          ROW_NUMBER() OVER (PARTITION BY vec_id
      |            ORDER BY ${dotFn("embedding", "c_emb")}
      |              / (nr * c_nr) DESC, c_id) AS rn
      |        FROM ${p}cand)""".stripMargin

  /** STREAMED-INDEX PAIRS AT THE k ∝ n DEPLOYMENT GEOMETRY — q129's
    * pair discovery with BOTH index-build terms in their at-scale
    * form: cell count k = [[pairCells]](n) (the contract that keeps the
    * pair join linear, measured on this query's own join shape in
    * `BENCH_Q129_KN_r15.json`) and the assignment built by the
    * TWO-LEVEL route ([[hierCellAssign]] — the r16 probe measured the
    * flat crossJoin build growing 8.2×/decade at k ∝ n vs 1.96× for
    * this build, `BENCH_Q129_ASSIGN_r16.json`; this registers the
    * deployment form as a first-class hash-verified query instead of a
    * probe-only tier). The hier route is approximate BY CONTRACT
    * (per-quantizer routing retention ≥ 0.95, see [[hierSuperProbe]];
    * end pair recall vs exact truth floor-pinned in `StreamIndexSpec`)
    * but DETERMINISTIC — every stage (super
    * seeding every `step`-th id, one floor-split Lloyd round per
    * level, top-w routing, within-group top-1, all ties cos DESC then
    * c_id ASC) is pure arithmetic both engines state identically, so
    * the oracle mirrors the algorithm rather than a flat idealization
    * and the result hash-matches exactly.
    *
    * 100 TB posture: nothing k-sized is ever a join side or a per-row
    * array — supers (⌈√k⌉) ride the task binary, cells reach vectors
    * as broadcast per-super GROUPS, the per-vector scan is w·k/g ≈
    * √k·np cells, and the pair join runs on the assignment's own c_id
    * partitioning with delta-sized probes. Both decade terms are
    * measured: build 1.96×, join 1.29× per 10× rows. */
  val q140StreamIndexPairsHier: QueryDef = sql(
    "q140_stream_index_pairs_hier",
    s"""WITH d AS (SELECT vec_id, embedding,
      |        sqrt(${sqlDotFast("embedding", "embedding")}) AS nr
      |      FROM embeddings),
      |hk AS (SELECT greatest($PairCells, count(*) // $PairCellTarget) AS k
      |       FROM embeddings),
      |hq AS (SELECT k, (k + g - 1) // g AS step FROM (
      |         SELECT k, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS g
      |         FROM hk)),
      |seeds AS (SELECT vec_id AS c_id, embedding AS c_emb, nr AS c_nr
      |          FROM d WHERE vec_id < (SELECT k FROM hq)),
      |${superCtesSql("s0", "seeds", sqlDotFast)},
      |${hierAssignCtesSql("l0", "seeds", "s0mcents2", sqlDotFast)},
      |asn1 AS (SELECT c_id, embedding FROM l0af WHERE rn = 1),
      |${meanCtesSql("lc", "asn1", "c_id", sqlDotFast)},
      |${superCtesSql("s1", "lccents2", sqlDotFast)},
      |${hierAssignCtesSql("l1", "lccents2", "s1mcents2", sqlDotFast)},
      |asn AS (SELECT vec_id, embedding, nr, c_id FROM l1af WHERE rn = 1),
      |p AS (SELECT least(x.vec_id, y.vec_id) AS v1,
      |        greatest(x.vec_id, y.vec_id) AS v2,
      |        ${sqlDotFast("x.embedding", "y.embedding")}
      |          / (x.nr * y.nr) AS cosine
      |      FROM asn x JOIN asn y ON x.c_id = y.c_id
      |        AND x.vec_id % 13 = 5 AND x.vec_id <> y.vec_id)
      |SELECT DISTINCT v1, v2, cosine FROM p
      |WHERE cosine >= 0.4 ORDER BY v1, v2""") { (s, d) =>
    val k = pairCells(embeddings(s, d).count())
    withinCellDeltaPairs(s,
      hierCellAssign(s, d, 0, k, 1)
        .select(col("vec_id"), col("embedding"), col("nr"), col("c_id")))
  }

  def all: Seq[QueryDef] =
    Seq(q33CosineTopK, q34EmbedNearPairs, q35AnnLshBucketed, q44AnnIvf,
      q56QuantizeInt8, q72KnnClassify, q102SemanticDedup, q103EmbedOutliers,
      q109KmeansTrain, q113HybridRrf, q121CentroidDrift,
      q123IndexMaintenance, q126StreamAnnIngest, q129StreamIndexPairs,
      q140StreamIndexPairsHier)
}
