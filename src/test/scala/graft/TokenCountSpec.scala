package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity pin for the native token-count expression against the
  * builtin chain it replaced at 14 n_tok sites:
  * `token_count(text) ≡ size(split(trim(text), " "))` — corpus-wide on
  * the real fixtures and on the adversarial edge set (empty, all-space,
  * runs of spaces, leading/trailing, non-0x20 whitespace that must NOT
  * split or trim, multi-byte scripts).
  */
class TokenCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def mismatches(df: org.apache.spark.sql.DataFrame): Long =
    df.select(
        graft.functions.TokenCount.tokenCount(col("text")).as("fast"),
        size(split(trim(col("text")), " ")).as("ref"))
      .filter(col("fast") =!= col("ref") ||
        col("fast").isNull =!= col("ref").isNull)
      .count()

  test("parity with size(split(trim(text), ' ')) over the sf0.01 corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert(mismatches(docs.select(col("text"))) === 0L)
  }

  test("parity on the adversarial edge set (empty, space runs, " +
      "non-space whitespace, NBSP, multi-byte, null)") {
    import spark.implicits._
    val edge = Seq(
      "", " ", "   ", "a", " a", "a ", "  a  ",
      "a b", "a  b", "a   b  c", " a  b ",
      "\ta b", "a\tb", "a\nb", "a b", "a　b", // non-0x20 ws: no split, no trim
      "héllo wörld", "日本語 テスト 文", "🎉 emoji  test 🎉",
      "mixed and real spaces x", null.asInstanceOf[String]
    ).toDF("text")
    assert(mismatches(edge) === 0L)
    // nulls propagate identically (both forms are null-intolerant)
    val nulls = edge.select(
      graft.functions.TokenCount.tokenCount(col("text")).isNull.as("fn"),
      size(split(trim(col("text")), " ")).isNull.as("rn"))
      .filter(col("fn") =!= col("rn")).count()
    assert(nulls === 0L)
  }

  test("the expression stays inside whole-stage codegen (no udf node)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs
      .select(graft.functions.TokenCount.tokenCount(col("text")).as("n"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"token_count must be a native expression:\n$plan")
  }
}
