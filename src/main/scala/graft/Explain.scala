package graft

/** Dev plan inspector: `tools/run.sh graft.Explain <sfDir> <substr[,substr]>`
  * prints the formatted physical plan of every matching registered query —
  * the scale-posture review loop (PushedFilters, exchanges, codegen spans)
  * without writing anything.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val pats = if (args.length > 1) args(1).split(",").toSeq else Seq("")
    val spark = GraftSession.builder().getOrCreate()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => pats.exists(name.contains) }
      .foreach { case (name, fn) =>
        println(s"=== $name ===")
        fn(spark, sfDir).explain("formatted")
      }
    spark.stop()
  }
}
