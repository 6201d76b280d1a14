package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.{noOracle, sql}
import graft.functions.Exact._
import graft.sources.Tables._

/** Scale-technique operators: the patterns that keep the §2 inventory
  * viable at 100 TB — skew-resistant aggregation via salting, and
  * sketch-based approximate aggregates as the bounded-memory alternative
  * to exact distinct counts.
  */
object ScaleOps {

  /** Two-phase salted aggregation: pre-aggregate on (key, salt) so a
    * hot key's rows spread over `buckets` reducers, then combine the
    * partials. Result is EXACTLY the plain group-by (verified by the
    * oracle) — only the shuffle distribution changes. At local scale the
    * salt is pointless; at 100 TB it is what survives a key owning 10%
    * of the table. Decimal routing keeps the two-phase sum
    * order-independent, so splitting the aggregation cannot perturb it.
    */
  def saltedSum(df: DataFrame, key: Column, value: Column,
      buckets: Int = 16): DataFrame = {
    val salt = pmod(hash(monotonically_increasing_id()), lit(buckets))
    df.select(key.as("k"), dec2(value).as("v"), salt.as("salt"))
      .groupBy(col("k"), col("salt"))
      .agg(sum(col("v")).as("pv"), count(lit(1)).as("pn"))
      .groupBy(col("k"))
      .agg(sum(col("pv")).as("sv"), sum(col("pn")).as("n"))
  }

  /** Salted revenue-by-returnflag — equal by construction to the direct
    * group-by the oracle runs. */
  val q38SaltedAgg: QueryDef = sql(
    "q38_salted_agg",
    """SELECT l_returnflag AS k,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY 1""") { (s, d) =>
    saltedSum(lineitem(s, d), col("l_returnflag"), col("l_quantity"))
      .select(col("k"), col("sv").cast("double").as("total"), col("n"))
      .orderBy(col("k"))
  }

  /** Sketch headroom (SURVEY §2.E "absent in reference; free in Spark"):
    * HyperLogLog++ distinct counts next to exact ones. The sketch value
    * is engine-specific (rows-only driver check); `ScaleOpsSpec` pins
    * the relative error bound instead.
    *
    * rsd 0.05, not tighter: the HLL aggregation buffer is flattened into
    * codegen as one column per register word, so rsd 0.02 (4096
    * registers, ~680 buffer columns) makes Janino compilation of the
    * combined distinct+sketch aggregate take tens of seconds — far
    * longer than the query itself. 512 registers compile fast and still
    * bound error at 5%.
    */
  /** Exact and sketch distinct-counts side by side — exposed for the
    * spec's error-bound pin; the registered q39 folds the sketch into a
    * boolean so the row is DuckDB-hash-comparable (the raw HLL estimate
    * is engine-specific and can never hash-match another engine).
    *
    * Exact and sketch run as SEPARATE aggregations joined on the group
    * key: fusing them forces the countDistinct Expand into the same
    * generated aggregate as the HLL buffer and the compile cost
    * multiplies; two small scans + a 3-row join beat one giant generated
    * method. */
  /** The HLL sketch's configured relative standard deviation; the q39
    * acceptance bound is derived as 2×Rsd so the two can never drift
    * apart (the "within 2× rsd" contract is definitional, not two
    * coincidentally-matching literals). */
  private[graft] val Rsd = 0.05

  private[graft] def approxVsExactOrders(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val exact = lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        count(lit(1)).as("n"))
    val approx = lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), Rsd).as("approx_orders"))
    exact.join(approx, "l_returnflag")
  }

  /** HLL++ sketch next to the exact count, verified by HASH: the output
    * carries the exact count plus `within_rsd` — whether the sketch
    * landed within 2× its configured rsd of truth — and the oracle
    * asserts that bound as a literal TRUE. A sketch drifting out of
    * bound therefore fails the driver's hash compare loudly, while the
    * engine-specific estimate itself stays out of the hashed row. */
  val q39ApproxDistinct: QueryDef = sql(
    "q39_approx_distinct",
    """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
      |       count(*) AS n, TRUE AS within_rsd
      |FROM lineitem GROUP BY 1 ORDER BY 1""") { (s, d) =>
    approxVsExactOrders(s, d)
      .select(col("l_returnflag"), col("exact_orders"), col("n"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          col("exact_orders") * lit(2 * Rsd)).as("within_rsd"))
      .orderBy(col("l_returnflag"))
  }

  /** The quantile sketch's configured accuracy (approx_percentile's
    * inverse rank-error: observed rank error ≤ n/Accuracy + 1). The q82
    * acceptance bound derives from it the same way q39's does from Rsd. */
  private[graft] val QuantileAccuracy = 1000

  /** Quantile sketch next to the exact order statistic, verified by
    * HASH — the q39 recipe applied to percentiles (the scalable path
    * for "median of 100 TB": an exact percentile needs a global sort or
    * per-group materialization; the KLL-style sketch Spark's
    * `approx_percentile` implements is one bounded-memory pass with a
    * mergeable buffer). Values route through exact integer CENTS
    * (DECIMAL(18,2) × 100), so the exact median is an order statistic
    * both engines compute identically — no float interpolation to
    * drift. The sketch's guarantee is on RANK, not value, so the bound
    * check re-ranks the sketch's answer against the data (one broadcast
    * join + count) and asserts |rank − target| ≤ n/accuracy + 1; the
    * oracle pins that boolean as literal TRUE, keeping the
    * engine-specific sketch value itself out of the hashed row. */
  val q82ApproxQuantile: QueryDef = sql(
    "q82_approx_quantile",
    """WITH v AS (SELECT l_returnflag,
      |            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |              AS c
      |           FROM lineitem),
      |r AS (SELECT l_returnflag, c,
      |        row_number() OVER (PARTITION BY l_returnflag ORDER BY c) AS rn,
      |        count(*) OVER (PARTITION BY l_returnflag) AS n
      |      FROM v)
      |SELECT l_returnflag, c AS exact_median_cents, n,
      |       TRUE AS within_rank_bound
      |FROM r WHERE rn = (n + 1) // 2
      |ORDER BY l_returnflag""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val cents = lineitem(s, d)
      .select(col("l_returnflag"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("c"))
    // exact twin as a COUNT-MAP percentile (the q65 note, applied): the
    // cents domain has bounded distinct values (~200k per group at sf1
    // vs ~2M rows), so aggregate to (flag, cents, count) first — a
    // map-side-partial shuffle — and take the order statistic from the
    // cumulative over DISTINCT values. The windows sort ~10× fewer rows
    // than the row-level row_number form (13.0 s → seconds at sf1), and
    // the rank semantics are identical: the median is the smallest c
    // whose cumulative count reaches (n+1) div 2.
    val w = Window.partitionBy(col("l_returnflag"))
    val cnt = cents.groupBy(col("l_returnflag"), col("c"))
      .agg(count(lit(1)).as("k"))
    val exact = cnt
      .withColumn("cum", sum(col("k")).over(w.orderBy(col("c"))))
      .withColumn("n", sum(col("k")).over(w))
      .filter(col("cum") - col("k") < expr("(n + 1) div 2") &&
        col("cum") >= expr("(n + 1) div 2"))
      .select(col("l_returnflag"), col("c").as("exact_median_cents"),
        col("n"))
    val approx = cents.groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("c"), lit(0.5),
        lit(QuantileAccuracy)).as("approx_c"))
    // rank the sketch's answer against the data: guarantee is on rank.
    // Σ_{rows: c ≤ a} 1 ≡ Σ_{distinct c ≤ a} count(c), so the re-rank
    // consumes the (flag, cents, count) aggregate the exact twin
    // already built — one corpus scan fewer, identical integer rank.
    val rank = cnt.join(broadcast(approx), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("c") <= col("approx_c"), col("k")).otherwise(0L))
        .as("rank_of_approx"))
    exact.join(broadcast(rank), "l_returnflag")
      .select(col("l_returnflag"), col("exact_median_cents"), col("n"),
        (abs(col("rank_of_approx") - expr("(n + 1) div 2")) <=
          expr(s"n div $QuantileAccuracy") + 1).as("within_rank_bound"))
      .orderBy(col("l_returnflag"))
  }

  /** Incremental aggregate refresh — the mergeable-aggregate pattern a
    * 100 TB pipeline uses to keep per-key rollups current without ever
    * rescanning history: a per-customer (count, decimal-sum) SNAPSHOT
    * over the closed order history (< 2001) persists as a session-cached
    * disk-checkpoint artifact (the per-corpus-snapshot posture of
    * q76/q78's signature table); a refresh aggregates ONLY the delta
    * (2001 orders) and full-outer-merges the two partials on the key.
    * Exactness is algebraic, not approximate: count and decimal SUM are
    * commutative monoids, so partial-then-merge equals the oracle's
    * one-shot aggregate over the whole table bit-for-bit. Per-refresh
    * cost is delta-sized aggregation + a key-merge join against the
    * artifact — the same work a compaction pass does — instead of the
    * full-history rescan the oracle formulation implies.
    */
  val q87IncrAggRefresh: QueryDef = sql(
    "q87_incr_agg_refresh",
    """SELECT o_custkey, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY o_custkey""") { (s, d) =>
    val split = lit("2001-01-01").cast("timestamp")
    val snap = graft.SessionCache.checkpoint("orderAggSnapshot", s, d) {
      orders(s, d).filter(col("o_orderdate") < split)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n0"), sumdec(dec2(col("o_totalprice"))).as("t0"))
    }
    val delta = orders(s, d).filter(col("o_orderdate") >= split)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n1"), sumdec(dec2(col("o_totalprice"))).as("t1"))
    snap.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n0"), lit(0L)) + coalesce(col("n1"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("t0"), lit(0).cast("decimal(28,2)")) +
          coalesce(col("t1"), lit(0).cast("decimal(28,2)")))
          .cast("double").as("total"))
      .orderBy(col("o_custkey"))
  }

  /** Exact heavy-hitters via a Misra-Gries candidate sketch — the
    * frequent-items pattern for a token stream too wide to group
    * exactly: a full `groupBy(token)` shuffles every distinct token to
    * find the few that matter, while the MG summary
    * ([[graft.functions.MisraGries]]) keeps an O(k) buffer per
    * partial, combines map-side, and provably retains every token with
    * frequency > n/(k+1). The capacity (199) is 2× the query threshold
    * (freq > n/100), so the candidate set is a strict superset of the
    * answer; an exact count of JUST the candidates (broadcast
    * semi-join, then hash agg over ≤199 keys) removes false positives.
    * The registered result is therefore EXACT — the sketch only prunes
    * — and the oracle is the plain HAVING over a full group-by, which
    * at 100 TB is precisely the plan this shape replaces.
    */
  val q92HeavyHitters: QueryDef = sql(
    "q92_heavy_hitters",
    """WITH t AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
      |           FROM documents),
      |n AS (SELECT count(*) AS total FROM t),
      |c AS (SELECT tok, count(*) AS freq FROM t GROUP BY 1)
      |SELECT tok, freq, (1000000 * freq) // n.total AS freq_ppm
      |FROM c CROSS JOIN n
      |WHERE 100 * freq > n.total
      |ORDER BY freq DESC, tok""") { (s, d) =>
    import s.implicits._
    val toks = documents(s, d)
      .select(explode(split(trim(col("text")), " ")).as("tok"))
    val mg = new graft.functions.MisraGries(199)
    val cands = toks.as[String].select(mg.toColumn).toDF("cands")
      .select(explode(col("cands")).as("tok"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(total))
      .filter(lit(100) * col("freq") > col("total"))
      .select(col("tok"), col("freq"),
        expr("(1000000 * freq) div total").as("freq_ppm"))
      .orderBy(col("freq").desc, col("tok"))
  }

  /** Salted SKEW JOIN — the join-side counterpart of q38's salted
    * aggregation: when one join key owns a disproportionate share of
    * the fact table, a plain hash join sends that key's every row to
    * ONE reducer. Differential salting spreads exactly the hot keys:
    * a first pass finds keys above a frequency threshold (the hot set
    * is tiny by construction — broadcast), hot fact rows get a random
    * salt in [0, B), the dim side EXPLODES its hot rows into B salted
    * copies (cold rows salt 0, no expansion), and the join runs on
    * (key, salt) — hot keys now occupy B reducers. Result is EXACTLY
    * the unsalted join (the oracle), only the shuffle distribution
    * changes; decimal routing keeps the split aggregation exact.
    * AQE's skew-join rewrite does this at runtime for sort-merge
    * joins; the manual form is the one that composes with bucketed /
    * pre-partitioned pipelines where AQE cannot re-split.
    */
  val q95SkewJoin: QueryDef = sql(
    "q95_skew_join",
    """SELECT c_mktsegment AS segment, e.event_type, count(*) AS n,
      |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, d) =>
    val buckets = 8
    val e = events(s, d).select(col("user_id"), col("event_type"),
      dec2(col("value")).as("v"))
    // hot = keys with > 1% of the fact rows; count via one map-side-
    // combinable agg — the hot set is ≤ 100 keys by definition
    val tot = e.agg(count(lit(1)).as("tot"))
    val hot = e.groupBy(col("user_id")).agg(count(lit(1)).as("kn"))
      .crossJoin(broadcast(tot))
      .filter(col("kn") * 100 > col("tot"))
      .select(col("user_id"), lit(1).as("is_hot"))
    val salted = e.join(broadcast(hot), Seq("user_id"), "left")
      .withColumn("salt",
        when(col("is_hot").isNotNull,
          pmod(hash(monotonically_increasing_id()), lit(buckets)))
          .otherwise(lit(0)))
    val dim = customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      .join(broadcast(hot), Seq("user_id"), "left")
      .withColumn("salt",
        explode(when(col("is_hot").isNotNull,
            sequence(lit(0), lit(buckets - 1)))
          .otherwise(array(lit(0)))))
    salted.join(dim, Seq("user_id", "salt"))
      .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("sum_value"))
      .orderBy(col("segment"), col("event_type"))
  }

  /** Stage the Z-ordered lineitem layout once per corpus snapshot
    * ([[graft.Fs.staged]]) — the per-corpus-snapshot artifact pattern
    * of the dedup index, applied to physical layout. The fingerprint
    * carries the layout parameters (file count, clustering columns)
    * beside the source file's, so a parameter change restages like a
    * regenerated corpus does. */
  private[graft] def stageZorderedLineitem(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    val nFiles = 64
    val clusterCols = Seq("l_partkey", "l_suppkey")
    val fp = s"z16|n=$nFiles|${clusterCols.mkString(",")}|" +
      graft.Fs.fingerprint(d, "lineitem.parquet")
    graft.Fs.staged("graft_zorder", d, fp) { dir =>
      graft.sources.Layout.writeZOrdered(
        lineitem(s, d).select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice")),
        dir.toString, n = nFiles, clusterCols.head, clusterCols(1))
    }.toString
  }

  /** Z-order-clustered scan — multi-dimensional data skipping as an
    * operator: lineitem is staged once into 64 files range-partitioned
    * by the Morton key of (l_partkey, l_suppkey)
    * ([[graft.sources.Layout.writeZOrdered]]), so every file covers a
    * tight rectangle of the key plane and a box predicate on EITHER
    * column lets parquet row-group stats skip most of the table —
    * single-column sorting gives this for the leading column only.
    * The registered query is a box aggregate over the staged layout;
    * the oracle runs the identical predicate on the RAW table, so the
    * hash compare proves the rewritten layout is content-identical
    * (clustering is allowed to move rows, never change them), and
    * `ScaleOpsSpec` pins the actual skipping (scan-node output rows ≪
    * table rows, and ≪ the same scan over a lexicographically sorted
    * twin).
    */
  val q118ZorderScan: QueryDef = sql(
    "q118_zorder_scan",
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(sum(l_partkey) AS BIGINT) AS pk_sum,
      |  CAST(sum(l_suppkey) AS BIGINT) AS sk_sum
      |FROM lineitem
      |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40""") {
    (s, d) =>
      val z = parquet(s, d, "graft_zorder", stageZorderedLineitem(s, d))
        .filter(col("l_partkey").between(100, 300) &&
          col("l_suppkey").between(10, 40))
      z.agg(count(lit(1)).as("n"),
        sumd2(col("l_quantity")).as("sum_qty"),
        sumd2(col("l_extendedprice")).as("sum_price"),
        sum(col("l_partkey")).cast("long").as("pk_sum"),
        sum(col("l_suppkey")).cast("long").as("sk_sum"))
  }

  /** Once-per-(session, snapshot) staging of the bucketed join tables:
    * lineitem and orders both bucketed+sorted on the order key into
    * matching bucket counts, registered as EXTERNAL tables under a
    * session scratch dir (no warehouse dir side effects). A
    * [[graft.SessionCache]] entry, because table registration is
    * session-scoped; the write itself is the one-time layout job a
    * warehouse runs at ingest. Each build's names derive from its own
    * scratch dir, so a corpus regenerated in place restages under
    * fresh names instead of serving stale bucketed data. */
  private def stageBucketedJoinTables(
      s: org.apache.spark.sql.SparkSession, d: String): (String, String) =
    graft.SessionCache.memo("bucketedJoinTables", s, d) {
      val base = graft.SessionCache.scratchDir("graft_bucketed")
      val h = graft.Fs.hashKey(base.toString)
      val liT = s"graft_li_$h"
      val ordT = s"graft_ord_$h"
      lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/$liT").saveAsTable(liT)
      orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/$ordT").saveAsTable(ordT)
      (liT, ordT)
    }

  /** Co-located fact⋈fact join over BUCKETED layout (SURVEY §2.A A4 as
    * a registered query, not just a unit test): both sides are staged
    * bucketed+sorted on the order key into matching bucket counts, so
    * the equi-join plans with NO exchange on either side — the shuffle
    * a recurring warehouse join would otherwise pay on every run
    * happens once at layout time. The MERGE hint keeps the strategy
    * question honest (a broadcast would also be exchange-free, but
    * only bucketing survives two FACT-sized sides at 100 TB); the
    * plan's exchange-freedom below the join is pinned by
    * `PlanAuditSpec`. The oracle states the join's RESULT on the raw
    * tables — layout must never change semantics.
    */
  val q122BucketedJoin: QueryDef = sql(
    "q122_bucketed_join",
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val (liT, ordT) = stageBucketedJoinTables(s, d)
    s.table(liT).hint("MERGE")
      .join(s.table(ordT).hint("MERGE"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumd2(col("l_extendedprice")).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  def all: Seq[QueryDef] = Seq(q38SaltedAgg, q39ApproxDistinct,
    q82ApproxQuantile, q87IncrAggRefresh, q92HeavyHitters, q95SkewJoin,
    q118ZorderScan, q122BucketedJoin)
}
