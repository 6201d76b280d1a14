package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.CricketEtl

/** Unit tests for the ETL normalization — the reference's completely
  * untested v1.0.0/v1.1.0 polymorphism (`etl_cricsheet_to_mongo.py:79-89`,
  * see SURVEY.md §5) plus the graph builders and analytics pipelines.
  */
class CricketEtlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def writeDir(files: (String, String)*): String = {
    val dir = SessionCache.scratchDir("cricket")
    files.foreach { case (name, content) =>
      Files.writeString(dir.resolve(name), content)
    }
    dir.toString
  }

  private val v11Match =
    """{
      |  "meta": {"data_version": "1.1.0"},
      |  "info": {
      |    "match_id": "m001",
      |    "dates": ["2023-03-01"],
      |    "team_type": "international", "match_type": "T20",
      |    "gender": "male",
      |    "teams": ["India", "New Zealand"],
      |    "venue": "Eden Gardens", "city": "Kolkata",
      |    "officials": {"umpires": ["HDPK Dharmasena", "RK Illingworth"],
      |                  "match_referees": ["AJ Pycroft"]},
      |    "outcome": {"winner": "India", "by": {"runs": 20}}
      |  },
      |  "innings": [
      |    {"innings": 1, "team": "India", "overs": [
      |      {"over": 0, "deliveries": [
      |        {"batter": "V Kohli", "non_striker": "RG Sharma",
      |         "bowler": "TG Southee", "ball": 1,
      |         "runs": {"batter": 4, "extras": 0, "total": 4},
      |         "wickets": []},
      |        {"batter": "V Kohli", "non_striker": "RG Sharma",
      |         "bowler": "TG Southee", "ball": 2,
      |         "runs": {"batter": 0, "extras": 1},
      |         "wickets": [{"kind": "bowled", "player_out": "V Kohli"}]}
      |      ]}
      |    ]}
      |  ]
      |}""".stripMargin

  private val v10Match =
    """{
      |  "meta": {"data_version": "1.0.0"},
      |  "info": {
      |    "registry": {"match": "m002"},
      |    "dates": ["not-a-date"],
      |    "teams": ["Australia", "England"],
      |    "city": "Sydney",
      |    "outcome": {"winner": "England", "by": {"wickets": 3}}
      |  },
      |  "innings": [
      |    {"number": 1, "team": "Australia", "overs": [
      |      {"over": 0, "deliveries": [
      |        {"striker": "S Smith", "nonStriker": "D Warner",
      |         "bowler": "J Anderson",
      |         "runs": 6,
      |         "wicket": {"kind": "caught", "player_out": "S Smith"}}
      |      ]}
      |    ]}
      |  ]
      |}""".stripMargin

  private val noIdMatch =
    """{
      |  "info": {
      |    "dates": ["2020-01-05"],
      |    "city": "Perth",
      |    "teams": ["A", "B"],
      |    "outcome": {"result": "no result"}
      |  },
      |  "innings": []
      |}""".stripMargin

  test("v1.1.0: normalize + flatten with runs dict, wickets array, total default") {
    val dir = writeDir("a.json" -> v11Match)
    val raw = CricketEtl.readMatches(spark, dir)
    val m = CricketEtl.normalizeMatches(raw).collect().head
    assert(m.getAs[String]("_id") == "m001")
    assert(m.getAs[String]("source_version") == "1.1.0")
    // officials survive normalization (`etl:61`)
    val info = m.getStruct(m.fieldIndex("info"))
    val officials = info.getStruct(info.fieldIndex("officials"))
    assert(officials.getSeq[String](officials.fieldIndex("umpires")) ==
      Seq("HDPK Dharmasena", "RK Illingworth"))
    val outcome = m.getStruct(m.fieldIndex("outcome"))
    assert(outcome.getAs[String]("result") == "India won by 20 runs")
    assert(m.getAs[java.sql.Timestamp]("date") != null)

    val d = CricketEtl.deliveries(raw).orderBy("ball").collect()
    assert(d.length == 2)
    val b1 = d(0)
    assert(b1.getAs[String]("batter") == "V Kohli")
    assert(b1.getAs[Long]("runs_total") == 4)
    assert(b1.getAs[Int]("is_boundary") == 1)
    assert(b1.getAs[Int]("is_dot") == 0)
    // empty wickets array stays empty (Python `or` falls through)
    assert(b1.getSeq[Any](b1.fieldIndex("wickets")).isEmpty)
    val b2 = d(1)
    // runs.total missing → batter + extras (`etl:86`)
    assert(b2.getAs[Long]("runs_total") == 1)
    assert(b2.getAs[Int]("is_dot") == 0)
    assert(b2.getSeq[Any](b2.fieldIndex("wickets")).length == 1)
  }

  test("v1.0.0: striker/nonStriker spellings, scalar runs, dict wicket, bad date") {
    val dir = writeDir("b.json" -> v10Match)
    val raw = CricketEtl.readMatches(spark, dir)
    val m = CricketEtl.normalizeMatches(raw).collect().head
    // registry.match id fallback (`etl:31`)
    assert(m.getAs[String]("_id") == "m002")
    // unparseable date → null (`etl:34-37`)
    assert(m.getAs[java.sql.Timestamp]("date") == null)
    val outcome = m.getStruct(m.fieldIndex("outcome"))
    assert(outcome.getAs[String]("result") == "England won by 3 wickets")

    val d = CricketEtl.deliveries(raw).collect().head
    assert(d.getAs[String]("batter") == "S Smith")
    assert(d.getAs[String]("nonStriker") == "D Warner")
    assert(d.getAs[Int]("innings") == 1) // `number` fallback (`etl:74`)
    // scalar runs → batter_runs, extras 0, total = batter+extras (`etl:84-86`)
    assert(d.getAs[Long]("runs_batter") == 6)
    assert(d.getAs[Long]("runs_extras") == 0)
    assert(d.getAs[Long]("runs_total") == 6)
    assert(d.getAs[Int]("is_boundary") == 1)
    // dict wicket → singleton array (`etl:87-89`)
    val w = d.getSeq[org.apache.spark.sql.Row](d.fieldIndex("wickets"))
    assert(w.length == 1 && w.head.getAs[String]("kind") == "caught")
  }

  test("_id falls back to city-date when no match id exists (`etl:52`)") {
    val dir = writeDir("c.json" -> noIdMatch)
    val raw = CricketEtl.readMatches(spark, dir)
    val m = CricketEtl.normalizeMatches(raw).collect().head
    assert(m.getAs[String]("_id") == "Perth-2020-01-05")
    val outcome = m.getStruct(m.fieldIndex("outcome"))
    assert(outcome.getAs[String]("result") == "no result")
    // no innings → no deliveries
    assert(CricketEtl.deliveries(raw).count() == 0)
  }

  test("graph builders: players dedup, faced-edge MERGE key, last-wins props") {
    val dir = writeDir("a.json" -> v11Match, "b.json" -> v10Match)
    val raw = CricketEtl.readMatches(spark, dir)
    val deliv = CricketEtl.deliveries(raw)
    val players = CricketEtl.players(deliv).as[String].collect().sorted
    assert(players.toSeq ==
      Seq("J Anderson", "S Smith", "TG Southee", "V Kohli"))

    val faced = CricketEtl.facedEdges(deliv, lit(0))
    // 3 deliveries, distinct (match, innings, over, ball, batter, bowler)
    assert(faced.count() == 3)
    // v1.0.0 ball is missing → coalesced to -1 (`neo4j_loader.py:64`)
    assert(faced.filter(col("ball") === -1).count() == 1)
    assert(faced.filter(col("isWicket") === 1).count() == 2)

    // duplicate MERGE key keeps the last write (`SET`, `neo4j_loader.py:66-68`)
    val dup = deliv.withColumn("ord", col("runs_total"))
    val last = CricketEtl.facedEdges(
      dup.withColumn("ball", lit(9)), col("ord"))
    assert(last.count() == 2) // one per (match, batter, bowler) now
  }

  test("matchNodes first-non-null-wins per property (`neo4j_loader.py:38-42`)") {
    val m = Seq(
      ("m1", null.asInstanceOf[String], "T20", 1L),
      ("m1", "India", "ODI", 2L))
      .toDF("_id", "winner", "match_type", "ord")
      .select(col("_id"),
        struct(col("match_type"), lit(null).cast("string").as("gender")).as("info"),
        struct(col("winner")).as("outcome"),
        lit(null).cast("timestamp").as("date"), col("ord"))
    val nodes = CricketEtl.matchNodes(m, col("ord")).collect().head
    assert(nodes.getAs[String]("type") == "T20")   // first row wins
    assert(nodes.getAs[String]("winner") == "India") // first NON-NULL wins
  }

  test("playedEdges explodes and dedups team-match membership") {
    val dir = writeDir("a.json" -> v11Match)
    val raw = CricketEtl.readMatches(spark, dir)
    val played = CricketEtl.playedEdges(CricketEtl.normalizeMatches(raw))
    val rows = played.as[(String, String)].collect().toSet
    assert(rows == Set(("m001", "India"), ("m001", "New Zealand")))
  }

  test("analytics pipelines reproduce the reference pipeline semantics") {
    val dir = writeDir("a.json" -> v11Match, "b.json" -> v10Match)
    val deliv = CricketEtl.deliveries(CricketEtl.readMatches(spark, dir))

    val top = CricketEtl.runsByBatter(deliv, 10).collect()
    assert(top.head.getAs[String]("batter") == "S Smith")
    assert(top.head.getAs[Long]("runs") == 6)
    val kohli = top.find(_.getAs[String]("batter") == "V Kohli").get
    assert(kohli.getAs[Long]("runs") == 4)
    assert(kohli.getAs[Long]("balls") == 2)
    assert(kohli.getAs[Double]("strikeRate") == 200.0)

    val wkts = CricketEtl.wicketsByBowler(deliv, 10).collect()
    assert(wkts.map(r => r.getAs[String]("bowler") -> r.getAs[Long]("wickets"))
      .toMap == Map("TG Southee" -> 1L, "J Anderson" -> 1L))

    val h2h = CricketEtl.headToHead(deliv, "V Kohli", "TG Southee").collect().head
    assert(h2h.getAs[Long]("balls") == 2)
    assert(h2h.getAs[Long]("runs") == 5)
    assert(h2h.getAs[Long]("outs") == 1)

    val faced = CricketEtl.facedEdges(deliv, lit(0))
    val pr = CricketEtl.pageRankPlayers(faced, 5).collect()
    assert(pr.nonEmpty)
    // bowlers receive rank from batters in the FACED direction
    assert(pr.head.getAs[String]("node") == "TG Southee" ||
      pr.head.getAs[String]("node") == "J Anderson")
  }

  test("writeTables: idempotent parquet sinks round-trip (A2/A3)") {
    val src = writeDir("a.json" -> v11Match, "b.json" -> v10Match)
    val out = SessionCache.scratchDir("cricket_out").toString
    // run twice — the overwrite sink must be idempotent like the
    // reference's upsert re-run (`etl_cricsheet_to_mongo.py:136`)
    CricketEtl.writeTables(spark, src, out)
    CricketEtl.writeTables(spark, src, out)
    val matches = spark.read.parquet(s"$out/matches")
    val deliv = spark.read.parquet(s"$out/deliveries")
    assert(matches.count() == 2)
    assert(matches.select("_id").distinct().count() == 2)
    assert(deliv.count() == 3)
    // fact table joins back to its dimension on the latent key (D4)
    assert(deliv.join(matches,
      deliv("matchId") === matches("_id")).count() == 3)
  }

  test("non-JSON files in the corpus directory are ignored (`etl:128`)") {
    val dir = writeDir(
      "a.json" -> v11Match,
      "README.txt" -> "this is not a match file",
      "notes.md" -> "{not json either")
    val raw = CricketEtl.readMatches(spark, dir)
    assert(raw.count() == 1)
    assert(!raw.columns.contains("_corrupt_record"))
    assert(CricketEtl.normalizeMatches(raw)
      .collect().head.getAs[String]("_id") == "m001")
  }

  test("duplicate _id upsert keeps the last file in sorted order (`etl:129,136`)") {
    // two files, same match_id, different city: replace_one over
    // sorted files means z.json's version must win deterministically.
    def withCity(city: String): String =
      v11Match.replace("\"city\": \"Kolkata\"", s""""city": "$city"""")
    val src = writeDir("a.json" -> withCity("First"),
      "z.json" -> withCity("Last"))
    val out = SessionCache.scratchDir("cricket_lww").toString
    CricketEtl.writeTables(spark, src, out)
    val matches = spark.read.parquet(s"$out/matches").collect()
    assert(matches.length == 1)
    val info = matches.head.getStruct(matches.head.fieldIndex("info"))
    assert(info.getAs[String]("city") == "Last")
  }

  private val mixedWicketsMatch =
    """{
      |  "meta": {"data_version": "1.1.0"},
      |  "info": {
      |    "match_id": "m003",
      |    "dates": ["2023-04-01"],
      |    "teams": ["X", "Y"], "city": "Pune",
      |    "outcome": {"winner": "X", "by": {"runs": 5}}
      |  },
      |  "innings": [
      |    {"innings": 1, "team": "X", "overs": [
      |      {"over": 0, "deliveries": [
      |        {"batter": "P Q", "non_striker": "A B", "bowler": "R S",
      |         "ball": 1, "runs": {"batter": 1, "extras": 0, "total": 1},
      |         "wickets": {"kind": "lbw", "player_out": "P Q"}}
      |      ]}
      |    ]}
      |  ]
      |}""".stripMargin

  test("mixed v1.0.0+v1.1.0 corpus: conflicting runs/wickets shapes " +
      "normalize through the raw-JSON string fallback (`etl:79-89`)") {
    // one directory holding scalar runs (v1.0.0), dict runs (v1.1.0),
    // array wickets, AND single-dict wickets: the read schema declares
    // these fields VariantType, forcing the try_variant_get paths.
    val dir = writeDir("a.json" -> v11Match, "b.json" -> v10Match,
      "c.json" -> mixedWicketsMatch)
    val raw = CricketEtl.readMatches(spark, dir)
    // the fallback path must actually be engaged, not accidentally typed
    import org.apache.spark.sql.types._
    val innSt = raw.schema("innings").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    val dSt = innSt("overs").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("deliveries").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(dSt("runs").dataType == VariantType, "runs should read as a variant")
    assert(dSt("wickets").dataType == VariantType, "wickets should read as a variant")

    val d = CricketEtl.deliveries(raw).orderBy("matchId", "ball").collect()
    assert(d.length == 4)
    val byMatch = d.groupBy(_.getAs[String]("matchId"))
    // v1.1.0 dict runs through the object fields
    val m1 = byMatch("m001").sortBy(_.getAs[Int]("ball"))
    assert(m1(0).getAs[Long]("runs_batter") == 4 &&
      m1(0).getAs[Long]("runs_total") == 4)
    assert(m1(1).getAs[Long]("runs_total") == 1) // batter+extras default
    assert(m1(1).getSeq[Any](m1(1).fieldIndex("wickets")).length == 1)
    // v1.0.0 scalar runs read as a bigint
    val m2 = byMatch("m002").head
    assert(m2.getAs[Long]("runs_batter") == 6 &&
      m2.getAs[Long]("runs_extras") == 0 && m2.getAs[Long]("runs_total") == 6)
    val w2 = m2.getSeq[org.apache.spark.sql.Row](m2.fieldIndex("wickets"))
    assert(w2.length == 1 && w2.head.getAs[String]("kind") == "caught")
    // single-dict wickets under the v1.1 field name → singleton array
    val m3 = byMatch("m003").head
    val w3 = m3.getSeq[org.apache.spark.sql.Row](m3.fieldIndex("wickets"))
    assert(w3.length == 1 && w3.head.getAs[String]("kind") == "lbw" &&
      w3.head.getAs[String]("player_out") == "P Q")
  }

  test("incremental upsert: per-row merge within touched partitions") {
    val out = SessionCache.scratchDir("cricket_parted").toString + "/m"
    // full load: two T20 matches and a match-type-less (unknown) match
    val m004 = v11Match
      .replace("\"match_id\": \"m001\"", "\"match_id\": \"m004\"")
      .replace("\"city\": \"Kolkata\"", "\"city\": \"Mumbai\"")
    CricketEtl.upsertMatchesByPartition(spark,
      writeDir("a.json" -> v11Match, "b.json" -> v10Match, "d.json" -> m004),
      out)
    val full = spark.read.parquet(out)
    assert(full.count() == 3)
    assert(full.select("p_type").distinct().count() == 2)

    // delta: ONLY m001, with a changed city — its partition SIBLING m004
    // and the untouched partition (m002) both survive the rewrite
    val delta = v11Match.replace("\"city\": \"Kolkata\"", "\"city\": \"Chennai\"")
    CricketEtl.upsertMatchesByPartition(spark,
      writeDir("a.json" -> delta), out)
    val after = spark.read.parquet(out).collect()
    assert(after.length == 3)
    val m1 = after.find(_.getAs[String]("_id") == "m001").get
    val info1 = m1.getStruct(m1.fieldIndex("info"))
    assert(info1.getAs[String]("city") == "Chennai")
    assert(after.exists(_.getAs[String]("_id") == "m002"))
    assert(after.exists(_.getAs[String]("_id") == "m004"))

    // delta: m001's match_type changes T20→ODI — the stale T20 copy must
    // go (replace_one semantics: one row per _id, wherever it lives now)
    val moved = delta.replace("\"match_type\": \"T20\"", "\"match_type\": \"ODI\"")
    CricketEtl.upsertMatchesByPartition(spark,
      writeDir("a.json" -> moved), out)
    val afterMove = spark.read.parquet(out).collect()
    assert(afterMove.length == 3)
    val m1Rows = afterMove.filter(_.getAs[String]("_id") == "m001")
    assert(m1Rows.length == 1 && m1Rows.head.getAs[String]("p_type") == "ODI")
    assert(afterMove.count(_.getAs[String]("p_type") == "T20") == 1) // m004

    // delta: m004 moves out too — the emptied T20 partition directory is
    // dropped, not left holding a stale copy
    val moved4 = m004.replace("\"match_type\": \"T20\"", "\"match_type\": \"ODI\"")
    CricketEtl.upsertMatchesByPartition(spark,
      writeDir("d.json" -> moved4), out)
    val afterEmpty = spark.read.parquet(out).collect()
    assert(afterEmpty.length == 3)
    assert(!afterEmpty.exists(_.getAs[String]("p_type") == "T20"))
    assert(!new java.io.File(s"$out/p_type=T20").exists())
  }

  test("incremental upsert into an existing but unreadable target throws " +
      "and leaves the target's files unchanged") {
    val out = SessionCache.scratchDir("cricket_parted").toString + "/m"
    CricketEtl.upsertMatchesByPartition(spark,
      writeDir("a.json" -> v11Match, "b.json" -> v10Match), out)
    // a corrupt summary file: parquet schema inference reads it first
    Files.writeString(Path.of(out, "_common_metadata"), "not parquet")
    def files(): Map[String, Seq[Byte]] = {
      val root = Path.of(out)
      val walk = Files.walk(root)
      try walk.filter(Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[Path])
        .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq)
        .toMap
      finally walk.close()
    }
    val before = files()
    val delta = v11Match.replace("\"city\": \"Kolkata\"", "\"city\": \"Chennai\"")
    intercept[Exception] {
      CricketEtl.upsertMatchesByPartition(spark, writeDir("a.json" -> delta), out)
    }
    assert(files() == before)
  }

  test("incremental upsert: a full load without officials and a delta " +
      "with them (and the reverse) read back as one table") {
    // every ingest reads the same declared schema, so partitions written
    // by different ingests agree on `info.officials`
    for ((full, delta) <- Seq(v10Match -> v11Match, v11Match -> v10Match)) {
      val out = SessionCache.scratchDir("cricket_drift").toString + "/m"
      CricketEtl.upsertMatchesByPartition(spark, writeDir("a.json" -> full), out)
      CricketEtl.upsertMatchesByPartition(spark, writeDir("b.json" -> delta), out)
      val rows = spark.read.parquet(out).select("_id", "info").collect()
      assert(rows.map(_.getString(0)).sorted.toSeq == Seq("m001", "m002"))
      val info = rows.find(_.getString(0) == "m001").get.getStruct(1)
      val officials = info.getStruct(info.fieldIndex("officials"))
      assert(officials.getSeq[String](officials.fieldIndex("umpires")) ==
        Seq("HDPK Dharmasena", "RK Illingworth"))
    }
  }

  test("ingest job budget: readMatches resolves its schema without a job, " +
      "writeTables runs at most 3") {
    val src = writeDir("a.json" -> v11Match, "b.json" -> v10Match,
      "c.json" -> mixedWicketsMatch)
    val out = SessionCache.scratchDir("cricket_jobs").toString
    val schemaJobs = TestSpark.jobsOf(CricketEtl.readMatches(spark, src).schema)
    val writeJobs = TestSpark.jobsOf(CricketEtl.writeTables(spark, src, out))
    assert(schemaJobs == 0 && writeJobs <= 3, s"reading the schema ran " +
      s"$schemaJobs jobs (budget 0), writeTables $writeJobs (budget 3)")
  }

  test("ingest scan budget: flattening deliveries reads each match file " +
      "about once") {
    // plus one long match: the fixtures alone are too short for per-value
    // re-reads of the source file (up to 4 KB each) to show
    val ball = """{"batter": "a", "non_striker": "b", "bowler": "c",
      | "runs": {"batter": 1, "extras": 0, "total": 1},
      | "wickets": [{"kind": "bowled", "player_out": "a"}]}""".stripMargin
    val longMatch = s"""{"info": {"match_id": "m900"}, "innings": [{
      |  "innings": 1, "overs": [{"over": 0, "deliveries": [
      |  ${Seq.fill(300)(ball).mkString(",\n")}]}]}]}""".stripMargin
    val files = Seq("a.json" -> v11Match, "b.json" -> v10Match,
      "c.json" -> mixedWicketsMatch, "d.json" -> longMatch)
    val src = writeDir(files: _*)
    val onDisk = files.map { case (name, _) => Files.size(Path.of(src, name)) }.sum
    val out = SessionCache.scratchDir("cricket_scan").toString + "/d"
    val read = TestSpark.statsOf(CricketEtl.deliveries(
      CricketEtl.readMatches(spark, src)).write.parquet(out)).bytesRead
    assert(read >= onDisk && read <= 2 * onDisk, s"writing the deliveries " +
      s"of $onDisk bytes of JSON read $read bytes (budget ${2 * onDisk})")
  }

  test("a match without dates, or with an empty list, normalizes with a " +
      "null date (`etl:33-37`)") {
    val noDates = """{"info": {"match_id": "x1", "teams": ["A","B"], "city": "C"}, "innings": []}"""
    val emptyDates = noDates.replace("\"city\"", "\"dates\": [], \"city\"")
    for (file <- Seq(noDates, emptyDates)) {
      val raw = CricketEtl.readMatches(spark, writeDir("a.json" -> file))
      val m = CricketEtl.normalizeMatches(raw).collect().head
      assert(m.getAs[String]("_id") == "x1")
      assert(m.getAs[java.sql.Timestamp]("date") == null)
      assert(CricketEtl.deliveries(raw).count() == 0)
    }
    // without an id the city-date fallback reads the missing date as ""
    val delivery = """{"innings": 1, "team": "A", "overs": [{"over": 0,
      |  "deliveries": [{"batter": "a", "non_striker": "b", "bowler": "c",
      |  "runs": {"batter": 1, "extras": 0, "total": 1}}]}]}""".stripMargin
    val noId = noDates.replace("\"match_id\": \"x1\", ", "")
      .replace("\"innings\": []", s""""innings": [$delivery]""")
    val raw = CricketEtl.readMatches(spark, writeDir("a.json" -> noId))
    assert(CricketEtl.normalizeMatches(raw).collect().head
      .getAs[String]("_id") == "C-")
    assert(CricketEtl.deliveries(raw).select("matchId").as[String]
      .collect().toSeq == Seq("C-"))
  }

  test("real Cricsheet delivery shapes: extra keys are ignored, a missing " +
      "runs reads as 0 (`etl:83-89`)") {
    val v11 = """{"meta": {"data_version": "1.1.0"},
      |  "info": {"match_id": "r1", "dates": ["2023-05-01"]},
      |  "innings": [{"team": "A", "overs": [{"over": 0, "deliveries": [
      |    {"batter": "a", "non_striker": "b", "bowler": "c",
      |     "runs": {"batter": 4, "extras": 0, "total": 4, "non_boundary": true}},
      |    {"batter": "a", "non_striker": "b", "bowler": "c",
      |     "runs": {"batter": 0, "extras": 2, "total": 2},
      |     "wickets": [{"kind": "caught", "player_out": "a",
      |                  "fielders": [{"name": "f"}]}]},
      |    {"batter": "d", "non_striker": "b", "bowler": "c"}
      |  ]}]}]}""".stripMargin
    val v10 = """{"meta": {"data_version": "1.0.0"},
      |  "info": {"match_id": "r2", "dates": ["2010-05-01"]},
      |  "innings": [{"team": "B", "overs": [{"over": 0, "deliveries": [
      |    {"striker": "e", "nonStriker": "g", "bowler": "h", "runs": 0,
      |     "wicket": {"kind": "run out", "player_out": "g", "fielders": []}}
      |  ]}]}]}""".stripMargin
    val raw = CricketEtl.readMatches(spark, writeDir("a.json" -> v11, "b.json" -> v10))
    val rows = CricketEtl.deliveries(raw)
      .select(col("matchId"), col("batter"), col("runs_batter"),
        col("runs_extras"), col("runs_total"), col("is_boundary"),
        col("is_dot"), to_json(col("wickets")))
      .as[(String, String, Long, Long, Long, Int, Int, String)]
      .collect().sortBy(r => (r._1, r._5)).toSeq
    assert(rows == Seq(
      ("r1", "d", 0L, 0L, 0L, 0, 1, "[]"),
      ("r1", "a", 0L, 2L, 2L, 0, 0, """[{"kind":"caught","player_out":"a"}]"""),
      ("r1", "a", 4L, 0L, 4L, 1, 0, "[]"),
      ("r2", "e", 0L, 0L, 0L, 0, 1, """[{"kind":"run out","player_out":"g"}]""")))
  }

  test("partnership proxy counts ordered co-facing pairs (Cypher c)") {
    val faced = Seq(
      ("A", "X", "T1"), ("A", "X", "T1"), ("B", "X", "T1"), ("C", "Y", "T1"))
      .toDF("src", "dst", "team")
    val p = CricketEtl.partnerships(faced, "T1", minCo = 1, limit = 10).collect()
    // A faced X twice, B once → pairs (A,B) and (B,A) with 2 edge-pairs each
    val m = p.map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("co_appearances")).toMap
    assert(m(("A", "B")) == 2 && m(("B", "A")) == 2)
  }
}
