package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps

/** The on-disk stage ([[Fs.staged]]) as the streaming stagers use it:
  * one stage per corpus PATH, reused for free while the corpus is
  * unchanged, rebuilt when it changes, and nothing left behind in
  * `java.io.tmpdir` by a rebuild. Every corpus here is a copy, so the
  * shared test data's files and mtimes are never touched. */
class FsStageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val families = Seq("graft_events_stage_ord_us",
    "graft_events_stage_wm_us")

  /** `<root>/<sub>/sf_same` holding a copy of sf0.001's events. */
  private def corpus(root: Path, sub: String): Path = {
    val d = Files.createDirectories(root.resolve(sub).resolve("sf_same"))
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      d.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d
  }

  /** (file name → bytes) of every file in a stream directory. */
  private def contents(dir: String): Map[String, Seq[Byte]] = {
    val s = Files.list(Paths.get(dir))
    try s.toArray.map(_.asInstanceOf[Path])
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def cleanUp(root: Path, corpora: Path*): Unit = {
    for (c <- corpora; f <- families) Fs.rmTree(Fs.stageDir(f, c.toString))
    Fs.rmTree(root)
  }

  test("two corpora with the same basename get separate stages, and " +
      "staging one leaves the other's files untouched") {
    val root = SessionCache.scratchDir("fs_stage_same_name")
    val a = corpus(root, "a")
    val b = Files.createDirectories(root.resolve("b").resolve("sf_same"))
    try {
      val filtered = root.resolve("filtered")
      spark.read.parquet(a.resolve("events.parquet").toString)
        .filter(col("event_id") % 2 === 0)
        .coalesce(1).write.parquet(filtered.toString)
      val part = {
        val s = Files.list(filtered)
        try s.filter(_.toString.endsWith(".parquet")).findFirst.get
        finally s.close()
      }
      Files.copy(part, b.resolve("events.parquet"))

      val stagedA = StreamingOps.stageEventsOrdered(spark, a.toString)
      val before = contents(stagedA)
      val stagedB = StreamingOps.stageEventsOrdered(spark, b.toString)
      assert(stagedA != stagedB)
      assert(contents(stagedA).keySet == before.keySet)
      assert(contents(stagedA) == before,
        "staging b rewrote the files staged for a")
      val rows = (dir: String) => spark.read.parquet(dir).count()
      assert(rows(stagedA) == 1000L)
      assert(rows(stagedB) < rows(stagedA))
    } finally cleanUp(root, a, b)
  }

  test("a fresh stage runs no job, a changed source restages, and a " +
      "restage leaves no temp directory behind in java.io.tmpdir") {
    val root = SessionCache.scratchDir("fs_stage_fresh")
    val d = corpus(root, "c")
    val tmpdir = Paths.get(sys.props("java.io.tmpdir"))
    val legacy = Seq("graft_evord", "graft_sentinel", "graft_evcanon",
      "graft_delta_part")
    def tmpEntries(): Set[String] = {
      val s = Files.list(tmpdir)
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filter(n => legacy.exists(n.startsWith)).toSet
      finally s.close()
    }
    def mtimes(dir: String): Seq[Long] =
      Seq("a_events.parquet", "b_sentinel1.parquet", "b_sentinel2.parquet")
        .map(f => Files.getLastModifiedTime(Paths.get(dir, f)).toMillis)
    def ordered(dir: String): Unit = {
      val Seq(data, s1, s2) = mtimes(dir)
      assert(data < s1 && s1 < s2, s"mtimes out of order: $data, $s1, $s2")
    }
    def fileKey(dir: String): AnyRef = Files.readAttributes(
      Paths.get(dir, "a_events.parquet"),
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey
    try {
      val first = StreamingOps.stageEventsWithSentinels(spark, d.toString)
      ordered(first)
      val key = fileKey(first)
      var again = ""
      val warm = TestSpark.statsOf {
        again = StreamingOps.stageEventsWithSentinels(spark, d.toString)
      }
      assert(again == first)
      assert(warm.jobs == 0, s"a fresh stage ran ${warm.jobs} jobs")
      assert(fileKey(again) == key)
      ordered(again)

      StreamingOps.stageEventsOrdered(spark, d.toString)
      val entries = tmpEntries()
      val src = d.resolve("events.parquet").toFile
      assert(src.setLastModified(src.lastModified + 60000L))
      var rebuilt = ""
      val cold = TestSpark.statsOf {
        rebuilt = StreamingOps.stageEventsWithSentinels(spark, d.toString)
      }
      assert(rebuilt == first)
      assert(cold.jobs > 0, "a changed source did not restage")
      assert(fileKey(rebuilt) != key)
      ordered(rebuilt)
      StreamingOps.stageEventsOrdered(spark, d.toString)
      assert(tmpEntries() == entries,
        s"a restage left ${tmpEntries() -- entries} in $tmpdir")
      assert(contents(rebuilt).keySet == Set("a_events.parquet",
        "b_sentinel1.parquet", "b_sentinel2.parquet"))
    } finally cleanUp(root, d)
  }
}
