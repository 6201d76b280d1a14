package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Verify's failure report: a query that throws is named in the returned
  * list and in `failed.json`, next to `oracle_sql.json`. */
class VerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  test("a query over a missing sf directory is listed in failed.json") {
    val out = SessionCache.scratchDir("graft-verify")
    val missing = out.resolve("no-such-sf").toString
    try {
      val failed = Verify.dump(spark, missing, out.toString,
        Some(Seq("q01_pricing_summary")))
      assert(failed == Seq("q01_pricing_summary"))
      assert(Files.readString(out.resolve("failed.json")) ==
        "[\"q01_pricing_summary\"]")
      assert(Files.readString(out.resolve("oracle_sql.json"))
        .startsWith("{\"q01_pricing_summary\": "))
    } finally Fs.rmTree(out)
  }
}
