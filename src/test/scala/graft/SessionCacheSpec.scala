package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The per-(session, sfDir, key) checkpoint memoization that the shared
  * artifacts (shingle index, vocab counts, dedup labels, graph
  * projection) rely on for both speed and bounded executor storage, and
  * its lifetime rule on real corpus directories: entries are stamped
  * with the whole-corpus fingerprint, and session scratch lives under
  * one root. Every real corpus here is a copy, so the shared test
  * data's files and mtimes are never touched.
  */
class SessionCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  test("same key returns the SAME checkpointed frame without " +
      "re-evaluating the plan; different key or dir evaluates") {
    var builds = 0
    def plan = { builds += 1; Seq(1, 2, 3).toDF("x") }
    val a = SessionCache.checkpoint("scs-test", spark, "dirA")(plan)
    val b = SessionCache.checkpoint("scs-test", spark, "dirA")(plan)
    assert(a eq b, "second call must return the cached instance")
    assert(builds == 1, s"plan evaluated $builds times for one cache entry")
    val c = SessionCache.checkpoint("scs-test", spark, "dirB")(plan)
    assert(builds == 2 && !(c eq a), "different sfDir must build fresh")
    val d = SessionCache.checkpoint("scs-test-2", spark, "dirA")(plan)
    assert(builds == 3 && !(d eq a), "different key must build fresh")
    assert(a.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
  }

  test("cache materializes as a RELIABLE disk checkpoint — executor " +
      "memory stays flat across a many-query session") {
    val df = SessionCache.checkpoint("scs-disk", spark, "dirD")(
      Seq(1, 2, 3).toDF("x"))
    assert(df.collect().length == 3)
    val rdds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(rdds.nonEmpty, "expected the cached frame to scan a pinned RDD")
    rdds.foreach { r =>
      assert(r.getCheckpointFile.isDefined,
        "expected a reliable (disk-file) checkpoint, not a local one")
      assert(!r.getStorageLevel.useMemory,
        s"cached artifact pins executor memory: ${r.getStorageLevel}")
    }
  }

  test("chained artifacts may build one cache entry from inside " +
      "another (reentrant lookup — no Recursive update)") {
    // many nested keys so some land in the same hash bin as the outer
    // entry — the exact condition that made computeIfAbsent throw
    val outer = SessionCache.checkpoint("scs-outer", spark, "dirR") {
      val inners = (0 until 32).map(i =>
        SessionCache.checkpoint(s"scs-inner-$i", spark, "dirR")(
          Seq(i).toDF("x")))
      inners.reduce(_ union _)
    }
    assert(outer.count() == 32)
    // and the inner entries are themselves cached
    val again = SessionCache.checkpoint("scs-inner-0", spark, "dirR")(
      fail("inner entry must be cached"))
    assert(again.collect().head.getInt(0) == 0)
  }

  private val sf001 = Paths.get("/root/testdata/sf0.001")

  /** A fresh temp dir holding a copy of every file in `src`. */
  private def copyCorpus(src: Path): Path = {
    val dst = SessionCache.scratchDir("graft_corpus_copy")
    val ls = Files.list(src)
    try ls.toArray.map(_.asInstanceOf[Path]).foreach(f =>
      Files.copy(f, dst.resolve(f.getFileName)))
    finally ls.close()
    dst
  }

  test("a corpus rewritten in place rebuilds its session artifacts") {
    val d = copyCorpus(sf001)
    var fresh: Path = null
    try {
      val before = graft.operators.TextOps.pairVolume(spark, d.toString)
      // replace documents.parquet with a row-filtered single-file copy
      val out = d.resolve("filtered_out")
      spark.read.parquet(d.resolve("documents.parquet").toString)
        .filter(col("doc_id") % 3 =!= 0)
        .coalesce(1).write.parquet(out.toString)
      val part = {
        val ls = Files.list(out)
        try ls.filter(_.toString.endsWith(".parquet")).findFirst.get
        finally ls.close()
      }
      Files.move(part, d.resolve("documents.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Fs.rmTree(out)
      val after = graft.operators.TextOps.pairVolume(spark, d.toString)
      fresh = copyCorpus(d)
      val expected = graft.operators.TextOps.pairVolume(spark, fresh.toString)
      assert(expected != before, "the filter must change the pair volume")
      assert(after == expected,
        s"rewritten corpus served $after (the old snapshot's is $before)")
    } finally {
      Fs.rmTree(d)
      if (fresh != null) Fs.rmTree(fresh)
    }
  }

  test("an unchanged corpus returns the same instance with no build; a " +
      "touched file rebuilds once and the rebuilt entry replaces the old") {
    val d = copyCorpus(sf001)
    try {
      var builds = 0
      def get(): AnyRef =
        SessionCache.memo("scs-stamp", spark, d.toString) {
          builds += 1; new Object
        }
      val a = get()
      assert((get() eq a) && builds == 1)
      val f = d.resolve("region.parquet")
      val t0 = Files.getLastModifiedTime(f)
      Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(t0.toMillis + 10000))
      val b = get()
      assert(builds == 2 && !(b eq a), "a touched file must rebuild")
      assert((get() eq b) && builds == 2, "the rebuild must be cached")
      // the old entry is gone, not kept beside the new one: restoring
      // the original stamp builds again instead of serving `a`
      Files.setLastModifiedTime(f, t0)
      val c = get()
      assert(builds == 3 && !(c eq a) && !(c eq b))
    } finally Fs.rmTree(d)
  }

  test("q67's drained result reads only files under the session root") {
    val df = SparkEntry.queries("q67_stream_session")(spark, sf001.toString)
    val files = df.inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(Paths.get(new java.net.URI(f)).startsWith(SessionCache.root),
        s"$f is outside the session root ${SessionCache.root}")
    }
  }
}
