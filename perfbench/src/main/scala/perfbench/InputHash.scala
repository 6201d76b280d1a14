package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Content hash of every parquet table in a directory, printed as one
  * JSON object `{"<table>": "<sha256>"}`.
  *
  * Byte hashes of generated parquet files differ between generations of
  * identical data (parquet-mr writes some footer lists in hash-set
  * order), so inputs are compared by content: SHA-256 over the rows,
  * normalized as [[Fingerprint]] does, in file order.
  *
  *   perfbench.InputHash <dir>
  */
object InputHash {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tables = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted
    val hashes = tables.map { path =>
      val df = spark.read.parquet(path)
      val md = MessageDigest.getInstance("SHA-256")
      md.update(df.schema.json.getBytes("UTF-8"))
      df.toLocalIterator().forEachRemaining { r =>
        md.update(r.toSeq.map(Fingerprint.norm).mkString("(", ",", ")\n").getBytes("UTF-8"))
      }
      Paths.get(path).getFileName.toString.stripSuffix(".parquet") ->
        md.digest().map(b => f"$b%02x").mkString
    }
    spark.stop()
    println(Json.writeValueAsString(ListMap(hashes.toIndexedSeq: _*)))
    System.exit(0)
  }
}
