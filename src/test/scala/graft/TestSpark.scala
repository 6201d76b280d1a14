package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val session: SparkSession = GraftSession.builder()
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", java.nio.file.Files
      .createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  /** Jobs started on this thread while `body` runs, seen by a listener.
    * Listener events arrive in order, so once a marker job that runs
    * after `body` has been seen, every job of `body` has been too. */
  def jobsOf(body: => Unit): Int = {
    val sc = session.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime + 60000000000L
      while (!seen.contains(marker) && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
      seen.toArray.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
