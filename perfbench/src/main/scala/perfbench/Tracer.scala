package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters and spans for a traced run, gathered only through
  * Spark's public listener APIs on the session the driver built.
  *
  * Every operation execution has a key (`<op>#<round>`). The driver puts
  * it in the job group and in the local property [[KeyProp]] before each
  * call; local properties are inherited by the threads a call starts, so
  * jobs of streaming micro-batches (which run under their own job group)
  * still carry the key. Events that carry no key fall back to the key
  * current when the event is handled.
  *
  * Listener events arrive asynchronously; everything is keyed, so late
  * events still land on the right execution. [[quiesce]] waits for the
  * bus to go idle before the counters are read.
  */
final class Tracer extends SparkListener {
  import Tracer.Span
  @volatile var enabled: Boolean = true
  @volatile var currentKey: String = "idle"
  private val events = new AtomicLong(0)

  /** Additive counters of one operation execution. */
  final class Stats {
    val c = new ConcurrentHashMap[String, java.lang.Double]()
    def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b): Unit
    def max(k: String, v: Double): Unit =
      c.merge(k, v, (a, b) => math.max(a, b)): Unit
  }
  private val stats = new ConcurrentHashMap[String, Stats]()
  def statsOf(key: String): Stats = stats.computeIfAbsent(key, _ => new Stats)
  def snapshot: Map[String, Map[String, Double]] = {
    import scala.jdk.CollectionConverters._
    stats.asScala.map { case (k, s) =>
      k -> s.c.asScala.map { case (n, v) => n -> v.doubleValue }.toMap
    }.toMap
  }

  private val spanIds = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  def nextSpanId(): Long = spanIds.incrementAndGet()
  def addSpan(s: Span): Unit = if (enabled) spans.synchronized { spans += s }
  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val sqlKey = new ConcurrentHashMap[Long, String]()
  private val streamKey = new ConcurrentHashMap[java.util.UUID, String]()

  private def keyOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.KeyProp)))
      .getOrElse(currentKey)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    events.incrementAndGet()
    val key = keyOf(e.properties)
    jobKey.put(e.jobId, key)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach { s =>
      stageKey.putIfAbsent(s, key); stageJob.putIfAbsent(s, e.jobId)
    }
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => sqlKey.putIfAbsent(id.toLong, key))
    statsOf(key).add("jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
    events.incrementAndGet()
    val key = Option(jobKey.get(e.jobId)).getOrElse(currentKey)
    val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
    addSpan(Span(nextSpanId(), 0, "job", s"job ${e.jobId}", key,
      t0 * 1000, e.time * 1000))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) {
      events.incrementAndGet()
      val si = e.stageInfo
      val key = Option(stageKey.get(si.stageId)).getOrElse(currentKey)
      statsOf(key).add("stages", 1)
      for (t0 <- si.submissionTime; t1 <- si.completionTime) {
        val job = Option(stageJob.get(si.stageId)).map(_.toString).getOrElse("?")
        addSpan(Span(nextSpanId(), 0, "stage", s"stage ${si.stageId} job $job",
          key, t0 * 1000, t1 * 1000))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    events.incrementAndGet()
    val s = statsOf(Option(stageKey.get(e.stageId)).getOrElse(currentKey))
    s.add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      s.add("task_run_ms", m.executorRunTime.toDouble)
      s.add("task_cpu_ns", m.executorCpuTime.toDouble)
      s.add("task_deser_ms", m.executorDeserializeTime.toDouble)
      s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      s.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      s.add("spill_mem_b", m.memoryBytesSpilled.toDouble)
      s.add("spill_disk_b", m.diskBytesSpilled.toDouble)
      s.add("scan_b", m.inputMetrics.bytesRead.toDouble)
      s.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
      s.add("output_b", m.outputMetrics.bytesWritten.toDouble)
      s.add("output_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case s: SparkListenerSQLExecutionStart =>
      events.incrementAndGet()
      val own = s.jobGroupId.filter(_.startsWith(Tracer.GroupPrefix))
        .map(_.stripPrefix(Tracer.GroupPrefix))
      sqlKey.putIfAbsent(s.executionId, own.getOrElse(currentKey))
    case _ => ()
  }

  /** Catalyst phases of every SQL action (`QueryExecution.id` is the SQL
    * execution id the jobs carry). */
  val sql: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (enabled) {
      events.incrementAndGet()
      val st = statsOf(Option(sqlKey.get(qe.id)).getOrElse(currentKey))
      st.add("sql_executions", 1)
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(x => st.add(s"${p}_ms", x.durationMs.toDouble))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Micro-batch phases of the streaming drains an operation runs. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (enabled) {
        // delivered synchronously on the thread that starts the query
        streamKey.put(e.runId, currentKey)
        statsOf(currentKey).add("stream_drains", 1)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        events.incrementAndGet()
        val p = e.progress
        val key = Option(streamKey.get(p.runId)).getOrElse(currentKey)
        val s = statsOf(key)
        def d(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        s.add("stream_batches", 1)
        s.add("stream_trigger_ms", d("triggerExecution"))
        s.add("stream_add_batch_ms", d("addBatch"))
        s.add("stream_plan_ms", d("queryPlanning"))
        s.add("stream_log_commit_ms", d("walCommit") + d("commitOffsets"))
        val so = Option(p.stateOperators).getOrElse(Array.empty)
        s.add("stream_state_commit_ms", so.map(_.commitTimeMs.toDouble).sum)
        s.max("stream_state_rows_max", so.map(_.numRowsTotal.toDouble).sum)
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
        addSpan(Span(nextSpanId(), 0, "batch", s"batch ${p.batchId}", key,
          t0 * 1000, (t0 + d("triggerExecution").toLong) * 1000))
      }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Wait until no listener event has arrived for `idleMs`. */
  def quiesce(idleMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline && events.get != last) {
      last = events.get
      Thread.sleep(idleMs)
    }
  }
}

object Tracer {
  /** Span: kind, name, execution key, interval in epoch µs, parent id
    * (driver spans only; job/stage/batch parents are resolved from the
    * key and the interval when the trace is read). */
  final case class Span(id: Long, parent: Long, kind: String, name: String,
      key: String, startUs: Long, endUs: Long)

  val KeyProp = "perfbench.key"
  val GroupPrefix = "perfbench:"
}
