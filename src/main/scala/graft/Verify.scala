package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failed.json, the names of the queries that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (dev only; the driver passes two): comma-separated
    // name substrings to restrict which queries run.
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = GraftSession.builder().getOrCreate()
    val failed = dump(spark, sfDir, outDir, only)
    System.err.println(s"[verify] ${failed.size} failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ",", "")))
    spark.stop()
    // See Bench: long runs can linger on a non-daemon thread after
    // spark.stop(); all output is on disk, so exit deterministically.
    // Query failures leave the exit code at 0; failed.json lists them.
    System.exit(0)
  }

  /** Writes every selected query's result to `outDir/<name>` as parquet,
    * then `oracle_sql.json` and `failed.json` (a JSON array of the names
    * of the queries that threw). Returns those names. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Seq[String]] = None): Seq[String] = {
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.filter(q => selected(q._1)).flatMap {
      case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map(q).mkString("[", ",", "]"))
    failed
  }
}
