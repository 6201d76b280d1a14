package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration, shared by the mains (Bench,
  * Verify, Explain, DataGen) and the test suites:
  * `GraftSession.builder().getOrCreate()`. A caller that needs one more
  * static setting (a warehouse dir, an app name) adds it on the returned
  * builder.
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS` when set, else the host's
    * available processors. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core. */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // default page size scales with heap/cores (~tens of MB); with many
      // short tasks that means GBs of page zeroing + allocator-lock
      // contention per query (the iterative PageRank suites went from
      // 16 min to seconds). 1 MB is plenty at these partition sizes.
      .config("spark.buffer.pageSize", "1m")
      .config("spark.ui.enabled", "false")
      // the status stores retain per-execution plan graphs + per-stage
      // metric aggregates even with the UI off; across a 76-query × 2-attempt
      // session that is hundreds of MB of old-gen — observed to slow the
      // heaviest aggregation (q55) 6-10× late in the suite via GC
      // pressure. Keep only a handful of executions live.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.log.level", "WARN")
}
