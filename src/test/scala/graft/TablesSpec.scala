package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Corpus reads resolve their parquet schema once per corpus snapshot:
  * a warm build runs no footer job, and a table rewritten in place is
  * read with its new schema. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  test("a second lineitem build runs no job; the first at most one") {
    val first = TestSpark.jobsOf(Tables.lineitem(spark, sf))
    val second = TestSpark.jobsOf(Tables.lineitem(spark, sf))
    assert(first <= 1, s"the first build ran $first jobs")
    assert(second == 0, s"the second build ran $second jobs")
  }

  test("a table rewritten in place is read with its new schema") {
    val d = SessionCache.scratchDir("graft_tables_copy")
    val ls = Files.list(Paths.get(sf))
    try ls.toArray.map(_.asInstanceOf[Path]).foreach(f =>
      Files.copy(f, d.resolve(f.getFileName)))
    finally ls.close()
    val before = Tables.customer(spark, d.toString)
    val rows = before.count()
    val out = d.resolve("narrow_out")
    before.drop("c_acctbal").coalesce(1).write.parquet(out.toString)
    val part = {
      val parts = Files.list(out)
      try parts.filter(_.toString.endsWith(".parquet")).findFirst.get
      finally parts.close()
    }
    Files.move(part, d.resolve("customer.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Fs.rmTree(out)
    val after = Tables.customer(spark, d.toString)
    assert(after.columns.toSeq ==
      before.columns.toSeq.filter(_ != "c_acctbal"))
    assert(after.count() == rows)
  }
}
