package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cricket ETL — reference parity for the ingestion dataflow
  * (`/root/reference/etl_cricsheet_to_mongo.py`) re-expressed as one lazy
  * Spark plan: whole-file JSON scan → coalesce-chain normalization →
  * 3-level explode → derived flags → parquet sinks. The reference's
  * per-file Python loop (single process, single thread, `:128-145`)
  * becomes a parallel `FileSourceScan` against one declared read schema
  * (`readSchema`): every Cricsheet field the ETL reads, in both the
  * v1.0.0 and the v1.1.0 spelling, so no job ever infers a schema. Its
  * hand-rolled v1.0.0/v1.1.0 polymorphism (`:79-89`) becomes coalesce
  * chains over both spellings: a field a file lacks reads as null,
  * exactly like `dict.get`.
  *
  * Known deviations (documented, tested):
  *  - `_id` is always a string (the reference can produce an int
  *    `match_number` id, a Python artifact of untyped fallbacks).
  *  - `result` is null when `winner` is null (Python would interpolate
  *    the string "None").
  *  - `innings` is int-typed via the `innings|number` chain; the
  *    reference's final `|team` fallback (a string in an int field) is
  *    dropped.
  *  - `info.officials` keeps only Cricsheet's four keys
  *    (`match_referees`, `reserve_umpires`, `tv_umpires`, `umpires`),
  *    and is null (not `{}`) when a file lacks the field.
  *  - the fields whose shape differs between versions (`runs`: number
  *    or object; `wickets`: array or object; `wicket`) are read as
  *    VARIANT and decoded with `try_variant_get` fallbacks below, so one
  *    directory may mix v1.0.0 and v1.1.0 files (fixture-tested in
  *    `CricketEtlSpec`).
  *
  * Scale posture: ingestion of N match files is embarrassingly parallel
  * (one task per file split); normalization and explode are pure
  * projections (no shuffle); the only shuffles are the graph builders'
  * dedups, each on a compact composite key.
  */
object CricketEtl {

  /** The Cricsheet fields the ETL reads. Ids are strings, counters
    * bigints; the version-dependent shapes of `runs`, `wickets` and
    * `wicket` are VARIANT, parsed once by the scan (a STRING field is
    * built by re-reading each value's raw text from the source file). */
  private val readSchema: StructType = StructType.fromDDL(
    """meta STRUCT<data_version: STRING>,
      |info STRUCT<
      |  dates: ARRAY<STRING>, team_type: STRING, match_type: STRING,
      |  gender: STRING, teams: ARRAY<STRING>, venue: STRING, city: STRING,
      |  match_id: STRING, registry: STRUCT<`match`: STRING>,
      |  event: STRUCT<match_number: STRING>,
      |  officials: STRUCT<match_referees: ARRAY<STRING>,
      |    reserve_umpires: ARRAY<STRING>, tv_umpires: ARRAY<STRING>,
      |    umpires: ARRAY<STRING>>,
      |  outcome: STRUCT<winner: STRING, result: STRING,
      |    `by`: STRUCT<runs: BIGINT, wickets: BIGINT>>>,
      |innings ARRAY<STRUCT<innings: BIGINT, number: BIGINT, team: STRING,
      |  overs: ARRAY<STRUCT<over: BIGINT, deliveries: ARRAY<STRUCT<
      |    ball: BIGINT, batter: STRING, striker: STRING,
      |    non_striker: STRING, nonStriker: STRING, bowler: STRING,
      |    runs: VARIANT, wickets: VARIANT, wicket: VARIANT>>>>>>""".stripMargin)

  /** A1 directory JSON scan: one row per match file, read against
    * `readSchema`. Only `*.json` files are read
    * (`etl_cricsheet_to_mongo.py:128` — `f.endswith(".json")`): a stray
    * README in the corpus directory is ignored, not ingested as a row. */
  def readMatches(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .schema(readSchema)
      .option("multiLine", true)
      .option("pathGlobFilter", "*.json")
      .json(dir)

  // ---- match normalization (B3/B5/C1-C8) -----------------------------

  private val noStrings = array().cast("array<string>")
  private val wicketStruct = "struct<kind:string,player_out:string>"
  private val wicketType = s"array<$wicketStruct>"
  private val dates = coalesce(col("info.dates"), noStrings)

  /** `_id` fallback chain (`etl_cricsheet_to_mongo.py:31,52`):
    * match_id | registry.match | event.match_number | city+"-"+date. */
  private val matchIdCol: Column = coalesce(
    col("info.match_id"),
    col("info.registry.match"),
    col("info.event.match_number"),
    concat(coalesce(col("info.city"), lit("")),
      lit("-"), coalesce(try_element_at(dates, lit(1)), lit(""))))

  /** One row per match: fixed shape regardless of source version
    * (`normalize_match`, `etl_cricsheet_to_mongo.py:28-68`). */
  def normalizeMatches(raw: DataFrame): DataFrame = {
    val winner = col("info.outcome.winner")
    val byRuns = col("info.outcome.by.runs")
    val byWkts = col("info.outcome.by.wickets")
    // C1 result text + B6 branch structure (`etl:42-49`)
    val result = when(byRuns.isNotNull,
        format_string("%s won by %d runs", winner, byRuns))
      .when(byWkts.isNotNull,
        format_string("%s won by %d wickets", winner, byWkts))
      .otherwise(col("info.outcome.result"))
    raw.select(
      matchIdCol.as("_id"),
      struct(
        dates.as("dates"),
        col("info.team_type").as("team_type"),
        col("info.match_type").as("match_type"),
        col("info.gender").as("gender"),
        coalesce(col("info.teams"), noStrings).as("teams"),
        col("info.venue").as("venue"),
        col("info.city").as("city"),
        // officials pass through (`etl:61` — `info.get("officials", {})`);
        // null when the file lacks them (the analog of the `{}` default)
        col("info.officials").as("officials")).as("info"),
      struct(winner.as("winner"), result.as("result")).as("outcome"),
      // C3 tolerant ISO date parse (`etl:33-37`): null on garbage
      try_to_timestamp(try_element_at(dates, lit(1))).as("date"),
      col("meta.data_version").as("source_version"))
  }

  // ---- delivery flattening (the iter_deliveries dataflow, §3.1) ------

  /** 3-level unnest + version-tolerant field selection + derived flags
    * (`iter_deliveries`, `etl_cricsheet_to_mongo.py:70-106`). One flat
    * row per ball — the analytics fact table. A match without innings,
    * overs or deliveries yields no rows, as the reference's inner loops
    * never execute (`etl:73-78`).
    */
  def deliveries(raw: DataFrame): DataFrame = {
    val d = raw
      .select(matchIdCol.as("matchId"), explode(col("innings")).as("inn"))
      .select(
        col("matchId"),
        // `innings | number` chain (`etl:74`); the reference's final
        // `| team` string fallback is dropped (typed int column).
        coalesce(col("inn.innings").cast("int"),
          col("inn.number").cast("int")).as("innings"),
        col("inn.team").as("battingTeam"),
        explode(col("inn.overs")).as("ov"))
      .select(
        col("matchId"), col("innings"), col("battingTeam"),
        col("ov.over").cast("int").as("over"),
        explode(col("ov.deliveries")).as("d"))

    // runs polymorphism (`etl:83-86`): a v1.0.0 number, a v1.1.0 object
    def runs(path: String) = try_variant_get(col("d.runs"), path, "bigint")
    val batterRuns = coalesce(runs("$"), runs("$.batter"), lit(0L))
    val extras = coalesce(runs("$.extras"), lit(0L))
    val totalRuns = coalesce(runs("$.total"), batterRuns + extras)

    // wickets polymorphism (`etl:87-89`): array | single object | absent,
    // under either field name. A variant object does not cast to an
    // array, so a lone object is read as the struct and wrapped; Python
    // `or` treats an empty list as absent — hence when(size>0).
    val wickets = Seq("wickets", "wicket")
      .map { name =>
        val v = col(s"d.$name")
        val one = try_variant_get(v, "$", wicketStruct)
        coalesce(try_variant_get(v, "$", wicketType),
          when(one.isNotNull, array(one)))
      }
      .foldRight(array().cast(wicketType)) { (cand, rest) =>
        when(cand.isNotNull && size(cand) > 0, cand).otherwise(rest)
      }

    d.select(
      col("matchId"), col("innings"), col("battingTeam"), col("over"),
      col("d.ball").cast("int").as("ball"),
      // `batter | striker`, `non_striker | nonStriker` (`etl:80-81`)
      coalesce(col("d.batter"), col("d.striker")).as("batter"),
      coalesce(col("d.non_striker"), col("d.nonStriker")).as("nonStriker"),
      col("d.bowler").as("bowler"),
      batterRuns.as("runs_batter"),
      extras.as("runs_extras"),
      totalRuns.as("runs_total"),
      wickets.as("wickets"),
      // B7 derived flags (`etl:104-105`)
      batterRuns.isin(4L, 6L).cast("int").as("is_boundary"),
      (totalRuns === 0L).cast("int").as("is_dot"))
  }

  /** One row per `_id`: the one from the last file in sorted-path order,
    * the row the reference's `replace_one` upsert over sorted files
    * keeps (`etl:128-136`) — via an `input_file_name`-ordered window,
    * not an arbitrary-row `dropDuplicates`. */
  private def latestPerId(matches: DataFrame): DataFrame = {
    val w = Window.partitionBy("_id").orderBy(col("_src").desc)
    matches
      .withColumn("_src", input_file_name())
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
  }

  /** A2/A3 sinks: idempotent whole-dataset overwrite replaces the
    * reference's per-key upsert + unordered bulk insert. Duplicate `_id`s
    * resolve deterministically last-write-wins in sorted-filename order
    * (`latestPerId`). */
  def writeTables(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val raw = readMatches(spark, srcDir)
    latestPerId(normalizeMatches(raw))
      .write.mode("overwrite").parquet(s"$outDir/matches")
    deliveries(raw)
      .write.mode("overwrite").parquet(s"$outDir/deliveries")
  }

  /** A2 incremental path: per-row upsert (`replace_one(upsert=True)`,
    * `etl_cricsheet_to_mongo.py:136`) on top of dynamic partition
    * overwrite. `writeTables` models the reference's full reload; this
    * is the nightly-ingest shape at 100 TB: partition by a coarse
    * business key, rewrite only the partitions the delta touches, never
    * the table.
    *
    * A partition is "touched" if the delta writes into it OR it holds a
    * stale copy of a delta `_id` (a match whose `match_type` changed
    * between ingests moves partitions; the old row must go). Touched
    * partitions are rewritten as delta rows ∪ their existing
    * not-superseded rows, so `_id` stays unique table-wide and
    * untouched partitions are never read or written.
    */
  def upsertMatchesByPartition(spark: SparkSession, srcDir: String,
      outDir: String): Unit = {
    val delta = latestPerId(normalizeMatches(readMatches(spark, srcDir)))
      .withColumn("p_type",
        coalesce(col("info.match_type"), lit("unknown")))
    // first load — a missing target, or one without data files — degrades
    // to a plain write. A target holding data is read below and a read
    // failure propagates: taking an unreadable table for empty would let
    // the dynamic overwrite replace each touched partition with delta
    // rows only, silently dropping the rest of it.
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasData(p: Path): Boolean = fs.listStatus(p).exists { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".") &&
        (st.isFile || hasData(st.getPath))
    }
    val tableExists = fs.exists(root) && hasData(root)
    // the partition key is a coarse business key (match_type: a handful
    // of values by design), so the touched-partition LIST is driver-sized
    // even at 100 TB; collecting it buys partition pruning on the
    // existing scan and lets us detect partitions the delta empties.
    val (toWrite, emptied) =
      if (!tableExists) (delta, Seq.empty[String])
      else {
        val existing = spark.read.parquet(outDir)
        val deltaIds = broadcast(delta.select("_id"))
        // partitions the delta lands in, plus old homes of delta _ids
        val touched = delta.select("p_type")
          .union(existing.join(deltaIds, Seq("_id"), "left_semi")
            .select("p_type"))
          .distinct().collect().map(_.getString(0)).toSeq
        val keep = existing
          .filter(col("p_type").isin(touched: _*))
          .join(deltaIds, Seq("_id"), "left_anti")
        // materialize before the write: the output partitions are also
        // inputs, and a file-source overwrite of a path it reads is
        // (rightly) rejected. Local checkpoint is fine at delta scale —
        // only touched partitions' survivors are held; on a cluster
        // use a reliable checkpoint/staging dir instead.
        val out = delta.unionByName(keep).localCheckpoint()
        // a partition whose every row was superseded writes no rows, so
        // dynamic overwrite would leave its stale files — drop it by hand
        val written = out.select("p_type").distinct()
          .collect().map(_.getString(0)).toSet
        (out, touched.filterNot(written))
      }
    toWrite.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_type").parquet(outDir)
    emptied.foreach(v => fs.delete(new Path(root, s"p_type=$v"), true))
  }

  // ---- graph builders (§2.G, `neo4j_loader.py`) ----------------------

  /** 1 when the delivery took a wicket (a non-empty `wickets`), else 0. */
  private val isOut: Column =
    (size(coalesce(col("wickets"), array().cast(wicketType))) > 0).cast("int")

  /** B2 validation filter (`neo4j_loader.py:56-57,104-110`). */
  def validDeliveries(deliv: DataFrame): DataFrame =
    deliv.filter(col("batter").isNotNull && col("bowler").isNotNull &&
      col("matchId").isNotNull && col("over").isNotNull)

  /** G2 Player MERGE: distinct endpoint names (unique by construction,
    * replacing the Neo4j constraint `neo4j_loader.py:28`). */
  def players(deliv: DataFrame): DataFrame = {
    val v = validDeliveries(deliv)
    v.select(col("batter").as("name"))
      .union(v.select(col("bowler").as("name")))
      .distinct()
  }

  /** G4+G5 FACED edges: MERGE key (matchId, innings, over,
    * coalesce(ball,-1), batter, bowler) with last-write-wins properties
    * (`neo4j_loader.py:58-68`). `ord` is the ingest order column that
    * defines "last" (the reference's sorted-file order, `etl:129`).
    */
  def facedEdges(deliv: DataFrame, ord: Column): DataFrame = {
    val keyed = validDeliveries(deliv)
      .withColumn("ball_k", coalesce(col("ball"), lit(-1)))
      .withColumn("is_wicket", isOut)
    val w = Window
      .partitionBy("matchId", "innings", "over", "ball_k", "batter", "bowler")
      .orderBy(ord.desc)
    keyed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("batter").as("src"), col("bowler").as("dst"),
        col("matchId"), col("innings"), col("over"),
        col("ball_k").as("ball"),
        coalesce(col("runs_total"), lit(0L)).as("runs"),
        col("is_wicket").as("isWicket"),
        col("battingTeam").as("team"))
  }

  /** G3 Match-node MERGE with ON CREATE / ON MATCH coalesce =
    * first-non-null-wins per property in `ord` order
    * (`neo4j_loader.py:37-43`). */
  def matchNodes(matches: DataFrame, ord: Column): DataFrame = {
    def fw(name: String, c: Column): Column =
      min_by(c, when(c.isNotNull, ord).otherwise(lit(Long.MaxValue))).as(name)
    matches.groupBy(col("_id").as("id"))
      .agg(
        fw("date", col("date")),
        fw("type", col("info.match_type")),
        fw("gender", col("info.gender")),
        fw("winner", col("outcome.winner")))
      .toDF("id", "date", "type", "gender", "winner")
  }

  /** G7 PLAYED edges: team↔match membership via explode of info.teams
    * (`neo4j_loader.py:44-46`), deduped like MERGE. */
  def playedEdges(matches: DataFrame): DataFrame =
    matches.select(col("_id").as("matchId"),
        explode(col("info.teams")).as("team"))
      .distinct()

  // ---- analytics (B-surface pipelines re-expressed) ------------------

  /** `runs_by_batter` (`mongo_analytics_examples.py:18-29`): E1 group +
    * B9 post-agg strikeRate/boundaryPct + F1 topk. */
  def runsByBatter(deliv: DataFrame, limit: Int = 10): DataFrame =
    deliv.groupBy(col("batter"))
      .agg(
        sum(col("runs_batter")).as("runs"),
        count(lit(1)).as("balls"),
        sum(col("is_boundary")).as("boundaries"))
      .withColumn("strikeRate", col("runs") / col("balls") * 100)
      .withColumn("boundaryPct", col("boundaries") / col("balls") * 100)
      .orderBy(col("runs").desc, col("batter"))
      .limit(limit)

  /** `wickets_by_bowler` (`mongo_analytics_examples.py:31-38`): B4
    * pre-agg projection + E3 conditional sum + F1 topk. */
  def wicketsByBowler(deliv: DataFrame, limit: Int = 10): DataFrame =
    deliv
      .select(col("bowler"), isOut.as("wkts"))
      .groupBy(col("bowler"))
      .agg(sum(col("wkts")).as("wickets"))
      .orderBy(col("wickets").desc, col("bowler"))
      .limit(limit)

  /** `kohli_vs_southee` head-to-head (`mongo_analytics_examples.py:40-48`
    * and Cypher (a)): B1 equality filter + E4 global agg. */
  def headToHead(deliv: DataFrame, batter: String, bowler: String): DataFrame =
    deliv.filter(col("batter") === batter && col("bowler") === bowler)
      .agg(
        count(lit(1)).as("balls"),
        sum(col("runs_total")).as("runs"),
        sum(isOut).as("outs"))

  /** Cypher (b) toughest bowlers: one-sided expansion + HAVING +
    * mixed-direction topk (`cypher_queries.cypher:10-16`). */
  def toughestBowlers(deliv: DataFrame, batter: String,
      minBalls: Int = 30, limit: Int = 10): DataFrame =
    deliv.filter(col("batter") === batter)
      .groupBy(col("bowler"))
      .agg(
        count(lit(1)).as("balls"),
        sum(col("runs_total")).as("runs"),
        sum(isOut).as("outs"))
      .filter(col("balls") >= minBalls)
      .withColumn("strikeRate",
        col("runs").cast("double") / col("balls") * 100)
      .orderBy(col("strikeRate").asc, col("outs").desc, col("bowler"))
      .limit(limit)

  /** Cypher (c) partnership proxy: D3 self equi-join on shared bowler
    * with theta filter a<>b (`cypher_queries.cypher:19-25`). Faithful to
    * the Cypher semantics: counts ordered pairs of FACED edge pairs.
    */
  def partnerships(faced: DataFrame, team: String,
      minCo: Long = 20, limit: Int = 20): DataFrame = {
    val t = faced.filter(col("team") === team)
    val a = t.select(col("src").as("a"), col("dst").as("bow"))
    val b = t.select(col("src").as("b"), col("dst").as("bow2"))
    a.join(b, col("bow") === col("bow2") && col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("co_appearances"))
      .filter(col("co_appearances") >= minCo)
      .orderBy(col("co_appearances").desc, col("a"), col("b"))
      .limit(limit)
  }

  /** Cypher (d)+(e): the GDS projection is the edge DataFrame; PageRank
    * via the shared iterative operator (`graft.operators.GraphOps`). */
  def pageRankPlayers(faced: DataFrame, limit: Int = 20): DataFrame =
    graft.operators.GraphOps.pageRank(faced.select("src", "dst"))
      .orderBy(col("rank").desc, col("node"))
      .limit(limit)
}
