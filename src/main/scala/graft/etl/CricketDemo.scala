package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef

/** End-to-end oracle verification of the cricket B/C-surface analytics
  * THROUGH the real ETL: a deterministic cricsheet-shaped corpus
  * (mixed v1.1.0 / v1.0.0 files, exercising the polymorphic decode
  * paths) is generated on demand, run through [[CricketEtl.writeTables]]
  * into a parquet warehouse, and the reference's analytics pipelines
  * (`mongo_analytics_examples.py:18-53`, `cypher_queries.cypher:10-25`)
  * are registered as driver queries whose DuckDB oracles read THE SAME
  * deliveries parquet via `read_parquet` — so the analytics over the
  * ETL's physical output are rows+schema+hash-verified, closing the loop
  * the unit suite alone could not (the driver's table views only cover
  * the star-schema corpus).
  *
  * Everything is seeded-LCG deterministic — regenerating the corpus in a
  * different JVM (Verify vs Bench vs the driver) yields identical
  * values, so the oracle side never races the Spark side.
  */
object CricketDemo {

  /** Where the corpus + warehouse live; literal-pathed into the oracle
    * SQL, so it must be absolute and stable across processes. */
  val root: String =
    sys.env.getOrElse("GRAFT_CRICKET_DEMO_DIR", "/root/repo/target/cricket_demo")

  private def jsonDir = s"$root/json"
  private def warehouseDir = s"$root/warehouse"
  private[graft] def deliveriesGlob = s"$warehouseDir/deliveries/*.parquet"

  /** Bump to invalidate previously materialized corpora when the
    * generator changes, or when the ETL's output (the warehouse
    * `CricketEtl.writeTables` writes) does: a warehouse written by an
    * older ETL would otherwise be reused, and q60–q62 would check the
    * old code's output. */
  private val Version = "v2"
  private def marker = Paths.get(s"$warehouseDir/_DEMO_$Version")

  private val teams = Seq("Alpha", "Bravo", "Charlie", "Delta")
  private def batters(team: String): Seq[String] =
    (1 to 7).map(i => s"$team p$i")
  private def bowlers(team: String): Seq[String] =
    (1 to 3).map(i => s"$team b$i")

  /** Deterministic 64-bit LCG (Knuth MMIX constants). */
  private final class Lcg(seed: Long) {
    private var x = seed
    def next(n: Int): Int = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (((x >>> 33) % n + n) % n).toInt
    }
  }

  private def delivery11(ball: Int, batter: String, nonStriker: String,
      bowler: String, runsB: Int, extras: Int, wicketOf: Option[String]): String = {
    val wk = wicketOf
      .map(p => s""", "wickets": [{"kind": "bowled", "player_out": "$p"}]""")
      .getOrElse(""", "wickets": []""")
    s"""{"batter": "$batter", "non_striker": "$nonStriker", "bowler": "$bowler", "ball": $ball, "runs": {"batter": $runsB, "extras": $extras, "total": ${runsB + extras}}$wk}"""
  }

  private def delivery10(ball: Int, batter: String, nonStriker: String,
      bowler: String, runsB: Int, wicketOf: Option[String]): String = {
    val wk = wicketOf
      .map(p => s""", "wicket": {"kind": "caught", "player_out": "$p"}""")
      .getOrElse("")
    s"""{"striker": "$batter", "nonStriker": "$nonStriker", "bowler": "$bowler", "ball": $ball, "runs": $runsB$wk}"""
  }

  /** One match file. Ball numbers are unique within an over, so the
    * FACED MERGE key (matchId, innings, over, ball, batter, bowler) is
    * unique and the last-write-wins dedup is a no-op here — partnership
    * counts are then exactly reproducible relationally in the oracle. */
  private def matchJson(id: Int, home: Int, away: Int, v10: Boolean,
      rng: Lcg): String = {
    val (th, ta) = (teams(home), teams(away))
    val overs = 20
    def innings(no: Int, batTeam: String, bowlTeam: String): String = {
      val bats = batters(batTeam)
      val bowls = bowlers(bowlTeam)
      val oversJson = (0 until overs).map { ov =>
        val bowler = bowls(rng.next(bowls.size))
        val ds = (1 to 6).map { ball =>
          val bi = rng.next(bats.size)
          val batter = bats(bi)
          val nonStriker = bats((bi + 1) % bats.size)
          val runsB = Seq(0, 0, 1, 1, 1, 2, 4, 6)(rng.next(8))
          val extras = if (rng.next(10) == 0) 1 else 0
          val wicket = if (rng.next(15) == 0) Some(batter) else None
          if (v10) delivery10(ball, batter, nonStriker, bowler, runsB, wicket)
          else delivery11(ball, batter, nonStriker, bowler, runsB, extras, wicket)
        }.mkString(", ")
        s"""{"over": $ov, "deliveries": [$ds]}"""
      }.mkString(", ")
      if (v10)
        s"""{"number": $no, "team": "$batTeam", "overs": [$oversJson]}"""
      else
        s"""{"innings": $no, "team": "$batTeam", "overs": [$oversJson]}"""
    }
    val mid = f"dm$id%03d"
    val winner = if (rng.next(2) == 0) th else ta
    val date = f"2024-${1 + id % 12}%02d-${1 + id % 28}%02d"
    val idField =
      if (v10) s""""registry": {"match": "$mid"},"""
      else s""""match_id": "$mid","""
    val meta =
      if (v10) """"meta": {"data_version": "1.0.0"},"""
      else """"meta": {"data_version": "1.1.0"},"""
    s"""{$meta
       | "info": {$idField
       |   "dates": ["$date"], "match_type": "T20", "gender": "male",
       |   "teams": ["$th", "$ta"], "city": "City$home", "venue": "Ground$home",
       |   "outcome": {"winner": "$winner", "by": {"runs": ${10 + rng.next(40)}}}},
       | "innings": [${innings(1, th, ta)}, ${innings(2, ta, th)}]}""".stripMargin
  }

  /** Generate + ETL once per materialized version; cheap existence check
    * per call after that. Synchronized: queries run sequentially, this
    * just guards accidental concurrent first-calls. */
  def ensure(spark: SparkSession): Unit = synchronized {
    if (Files.exists(marker)) return
    val dir = Paths.get(jsonDir)
    Files.createDirectories(dir)
    val rng = new Lcg(20260812L)
    val pairs = for {
      h <- teams.indices; a <- teams.indices if h != a
    } yield (h, a)
    (0 until 16).foreach { m =>
      val (h, a) = pairs(m % pairs.size)
      // two v1.0.0 files exercise the scalar-runs / striker / single-
      // wicket polymorphic decode paths in the same corpus
      val v10 = m == 5 || m == 11
      Files.writeString(dir.resolve(f"dm$m%03d.json"),
        matchJson(m, h, a, v10, rng))
    }
    CricketEtl.writeTables(spark, jsonDir, warehouseDir)
    Files.createFile(marker)
  }

  /** The ETL's physical deliveries table — the shared artifact both the
    * Spark queries and the DuckDB oracles read. */
  def deliveries(spark: SparkSession): DataFrame = {
    ensure(spark)
    graft.sources.Tables.parquet(
      spark, warehouseDir, "deliveries", s"$warehouseDir/deliveries")
  }

  // ---- registered queries ------------------------------------------

  /** `runs_by_batter` over the ETL output (E1 + B9 + F1). The sfDir
    * argument is unused by design: this family's input is the ETL
    * warehouse, not the star schema. */
  val q60CricketBatting: QueryDef = QueryDef.sql(
    "q60_cricket_batting",
    s"""WITH d AS (SELECT * FROM read_parquet('$deliveriesGlob')),
      |a AS (SELECT batter, CAST(sum(runs_batter) AS BIGINT) AS runs,
      |        count(*) AS balls,
      |        CAST(sum(is_boundary) AS BIGINT) AS boundaries
      |      FROM d GROUP BY 1)
      |SELECT batter, runs, balls, boundaries,
      |  runs / balls * 100 AS strikeRate,
      |  boundaries / balls * 100 AS boundaryPct
      |FROM a ORDER BY runs DESC, batter LIMIT 10""") { (s, _) =>
    CricketEtl.runsByBatter(deliveries(s), 10)
  }

  /** Cypher (b) toughest bowlers for the focal batter (D2 expansion +
    * E6 HAVING + F2 mixed-direction topk). */
  val q61CricketToughest: QueryDef = QueryDef.sql(
    "q61_cricket_toughest_bowlers",
    s"""WITH d AS (SELECT * FROM read_parquet('$deliveriesGlob')),
      |a AS (SELECT bowler, count(*) AS balls,
      |        CAST(sum(runs_total) AS BIGINT) AS runs,
      |        CAST(sum(CASE WHEN len(wickets) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS outs
      |      FROM d WHERE batter = 'Alpha p1' GROUP BY 1)
      |SELECT bowler, balls, runs, outs,
      |  CAST(runs AS DOUBLE) / balls * 100 AS strikeRate
      |FROM a WHERE balls >= 10
      |ORDER BY strikeRate ASC, outs DESC, bowler LIMIT 10""") { (s, _) =>
    CricketEtl.toughestBowlers(deliveries(s), "Alpha p1", minBalls = 10,
      limit = 10)
  }

  /** Cypher (c) partnership proxy through the FACED edge builder (G4
    * MERGE key + D3 self equi-join). The oracle mirrors the edge
    * semantics relationally: ball numbers are unique per over, so the
    * MERGE dedup keeps every row and FACED == filtered deliveries. */
  val q62CricketPartnerships: QueryDef = QueryDef.sql(
    "q62_cricket_partnerships",
    s"""WITH f AS (SELECT batter AS src, bowler AS dst, battingTeam AS team
      |           FROM read_parquet('$deliveriesGlob')
      |           WHERE batter IS NOT NULL AND bowler IS NOT NULL
      |             AND matchId IS NOT NULL AND over IS NOT NULL),
      |t AS (SELECT * FROM f WHERE team = 'Alpha'),
      |p AS (SELECT x.src AS a, y.src AS b, count(*) AS co_appearances
      |      FROM t x JOIN t y ON x.dst = y.dst AND x.src <> y.src
      |      GROUP BY 1, 2)
      |SELECT a, b, co_appearances FROM p WHERE co_appearances >= 50
      |ORDER BY co_appearances DESC, a, b LIMIT 20""") { (s, _) =>
    val faced = CricketEtl.facedEdges(deliveries(s), lit(0))
    CricketEtl.partnerships(faced, "Alpha", minCo = 50, limit = 20)
  }

  def all: Seq[QueryDef] =
    Seq(q60CricketBatting, q61CricketToughest, q62CricketPartnerships)
}
