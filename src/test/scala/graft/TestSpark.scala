package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val session: SparkSession = GraftSession.builder()
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", java.nio.file.Files
      .createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
