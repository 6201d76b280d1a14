package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites. */
object TestSpark {
  lazy val session: SparkSession = GraftSession.builder()
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      SessionCache.scratchDir("graft-warehouse").toString)
    .getOrCreate()

  /** What the jobs started on this thread while `body` ran did, as a
    * listener saw them: how many there were and the input bytes their
    * tasks read. */
  final case class JobStats(jobs: Int, bytesRead: Long)

  /** Jobs started on this thread while `body` runs, seen by a listener.
    * Listener events arrive in order, so once a marker job that runs
    * after `body` has been seen, every job and task of `body` has been
    * too. */
  def statsOf(body: => Unit): JobStats = {
    val sc = session.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            seen.add(g)
            if (g == group) e.stageIds.foreach(id => stages.add(id))
          }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
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
      JobStats(seen.toArray.count(_ == group), bytesRead.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The number of jobs `body` started (`statsOf`). */
  def jobsOf(body: => Unit): Int = statsOf(body).jobs
}
