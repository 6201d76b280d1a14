package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder().getOrCreate()
    // generic warmup so JVM/classloader/codegen startup is not billed to
    // whichever query happens to run first — and run BEFORE the pre
    // sentinel so pre and post readings are like-for-like (both on a
    // warm JVM; previously pre ran on a cold JIT path mitigated only by
    // the sentinel's internal spin warmup)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // host-phase sentinel (see PhaseSentinel): a fixed pinned micro-run
    // + load/gc read BEFORE the suite, repeated after it AND every
    // `SentinelEvery` queries DURING it (a host phase that starts and
    // ends mid-sweep would evade endpoint-only stamps), all stamped
    // into the artifact so an inflated total carries its own
    // clean-vs-degraded-host attribution
    val sentinelPre = PhaseSentinel.json(cpus)
    System.err.println(s"[bench] sentinel_pre $sentinelPre")
    // JVM-health telemetry per measurement, published per PASS in the
    // bench JSON ("diag") so any >2× adjacent-pass outlier carries its
    // attribution (GC churn vs host stall vs first-execution codegen) in
    // the artifact itself, not just on stderr: GC time spent INSIDE the
    // timed region, live heap after the run, metaspace, loaded classes.
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum
    final case class Meas(secs: Double, gcMs: Long, heapMb: Long,
        batches: Int, maxState: Long)
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Meas = {
      graft.streaming.StreamingOps.pollDrainStats(): Unit // clear stale entries
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      // noop sink materializes the FULL plan (final sorts, computed output
      // columns) — .count() would let Catalyst prune them and under-report.
      val failed =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); false }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); true }
      val secs = (System.nanoTime() - t0) / 1e9
      val gcInRun = gcMillis() - gc0
      // streaming drains executed inside this measurement (sink name,
      // micro-batches, state rows): micro-batch count vs state growth
      // per STREAM query, published in the diag object
      val drains = graft.streaming.StreamingOps.pollDrainStats()
      val batches = drains.map(_._2).sum
      val maxState = if (drains.isEmpty) 0L else drains.map(_._3).max
      // isolation between measurements (outside the timed region, JMH-
      // style): settle GC and freed broadcasts so one query's cleanup
      // isn't billed to the next.
      System.gc()
      Thread.sleep(200)
      val rt = Runtime.getRuntime
      val used = (rt.totalMemory - rt.freeMemory) >> 20
      val meta = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.endsWith("Metaspace"))
        .map(_.getUsage.getUsed >> 20).sum
      val cls = ManagementFactory.getClassLoadingMXBean.getLoadedClassCount
      System.err.println(f"[bench-diag] $name%-24s gc_in_run=${gcInRun}ms " +
        s"heap=${used}M meta=${meta}M classes=$cls" +
        (if (batches > 0) s" batches=$batches max_state=$maxState" else ""))
      Meas(if (failed) -1.0 else secs, gcInRun, used, batches, maxState)
    }
    // Uniform ADJACENT best-of-2 (JMH warmup+measure): every query runs
    // twice back-to-back and the reported number is the per-query min,
    // with both attempts published ("pass1"/"pass2") so the selection is
    // auditable. Why adjacent rather than two full passes:
    //  (a) a query's FIRST execution pays one-time JIT/codegen for its
    //      generated classes (measured: q55 20 s cold vs 4.4 s warm in a
    //      fresh 4-query JVM) — the adjacent re-run measures the
    //      steady-state plan cost, which is what scales;
    //  (b) both attempts sample the same point in the suite, so the
    //      number is attributable to the QUERY, not to whatever JVM/host
    //      state the suite accumulated hours of executions later
    //      (measured: q55 3.55 s at execution #55 vs 17.96 s for the
    //      identical plan at execution #125, plus this host's documented
    //      intermittent multi-minute stalls — a second attempt 10 min
    //      away maximizes exposure to both).
    // Running every query twice unconditionally keeps the policy
    // outcome-independent (a retry conditioned on "first attempt slow"
    // would under-report tail latency).
    // optional arg (dev only; the driver passes none): comma-separated
    // name substrings restricting which queries run.
    val only: Option[Seq[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSeq) else None
    val wall0 = System.nanoTime()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
    // mid-sweep sentinel stamps: one reading every SentinelEvery queries
    // (~3 s each, outside any timed region), collected as
    // "sentinel_mid":[{"after":"qNN",...},...] so an in-suite host phase
    // is visible in-artifact even when both endpoints read clean
    val SentinelEvery = 25
    val sentinelMid = scala.collection.mutable.ArrayBuffer.empty[String]
    val attempts: Seq[(String, (Meas, Meas))] =
      ordered.zipWithIndex.map { case ((name, fn), idx) =>
        val a = once(name, fn)
        System.err.println(f"[bench] p1 $name%-24s ${a.secs}%.2f s")
        val b = once(name, fn)
        System.err.println(f"[bench] p2 $name%-24s ${b.secs}%.2f s")
        if ((idx + 1) % SentinelEvery == 0 && idx + 1 < ordered.size) {
          val s = PhaseSentinel.json(cpus)
          System.err.println(s"[bench] sentinel_mid after=$name $s")
          sentinelMid +=
            s"""{"after":"${name.split("_")(0)}","s":$s}"""
        }
        name -> (a, b)
      }
    val sentinelMidArr = sentinelMid.mkString("[", ",", "]")
    val p1 = attempts.map { case (n, (a, _)) => n -> a.secs }
    val p2 = attempts.map { case (n, (_, b)) => n -> b.secs }
    val results = attempts.map { case (name, (a, b)) =>
      // a failed attempt (-1) never masks a successful one
      val best =
        if (a.secs < 0) b.secs
        else if (b.secs < 0) a.secs
        else math.min(a.secs, b.secs)
      name -> best
    }
    // a query that failed BOTH attempts stays visible as -1 in the
    // per-query map but must not subtract from the headline total; the
    // "failed" array makes total comparability machine-checkable
    val failures = results.filter(_._2 < 0).map(_._1)
    if (failures.nonEmpty)
      System.err.println(s"[bench] FAILED both attempts: ${failures.mkString(",")}")
    def obj(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val diag = attempts.map { case (n, (a, b)) =>
      val stream =
        if (a.batches > 0 || b.batches > 0)
          s",\"batches\":${math.max(a.batches, b.batches)}," +
            s"\"max_state_rows\":${math.max(a.maxState, b.maxState)}"
        else ""
      s"\"$n\":{\"p1_gc_ms\":${a.gcMs},\"p2_gc_ms\":${b.gcMs}," +
        s"\"p1_heap_mb\":${a.heapMb},\"p2_heap_mb\":${b.heapMb}$stream}"
    }.mkString("{", ",", "}")
    val failedArr = failures.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total =
      if (results.nonEmpty) results.map(_._2).filter(_ >= 0).sum else 0.0
    val wallSecs = (System.nanoTime() - wall0) / 1e9
    val sentinelPost = PhaseSentinel.json(cpus)
    System.err.println(s"[bench] sentinel_post $sentinelPost")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","wall":$wallSecs,""" +
        s""""queries":${obj(results)},""" +
        s""""pass1":${obj(p1)},"pass2":${obj(p2)},"failed":$failedArr,""" +
        s""""diag":$diag,"sentinel_pre":$sentinelPre,""" +
        s""""sentinel_mid":$sentinelMidArr,""" +
        s""""sentinel_post":$sentinelPost,"sf":"$sfDir"}"""
    // belt + braces for the driver's parser: a file copy in target/, a
    // greppable sentinel line, and the contract's bare JSON as the
    // absolute LAST stdout line (after spark.stop(), so no shutdown
    // logging can trail it; sbt may still prefix [info]).
    try {
      val p = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("bench.json"),
        json.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    println(s"BENCH_JSON: $json")
    // The ABSOLUTE LAST stdout line must be a parseable JSON object that
    // SURVIVES the round-harness's stdout tail window: the harness keeps
    // only the last ~2000 characters (with sbt's ~90-char "[success]"
    // epilogue inside them), so the full 100-query × 2-pass × diag JSON
    // above can never parse from the tail — every r6-r8 round artifact
    // shipped "parsed": null because of exactly this. This line keeps
    // the contract fields as REAL JSON fields (no log-regex needed):
    // per-query seconds (keys compacted to the unique qNN prefix, 2
    // decimals — measurement noise is ≥ 10 ms), the suite wall clock,
    // the failed array, and the per-stream [micro-batches, max state
    // rows] diag. The full artifact (long names, both passes, gc diag)
    // is target/bench.json, pointed to by "full".
    def fmt2(v: Double): String =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val compactQ = results
      .map { case (n, v) => "\"" + n.split("_")(0) + "\":" + fmt2(v) }
      .mkString("{", ",", "}")
    val compactDiag = attempts
      .filter { case (_, (a, b)) => a.batches > 0 || b.batches > 0 }
      .map { case (n, (a, b)) =>
        "\"" + n.split("_")(0) + "\":[" + math.max(a.batches, b.batches) +
          "," + math.max(a.maxState, b.maxState) + "]" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt2(total)},"unit":"sec",""" +
      s""""wall":${fmt2(wallSecs)},"queries":$compactQ,"failed":$failedArr,""" +
      s""""diag":$compactDiag,"sentinel_pre":$sentinelPre,""" +
      s""""sentinel_mid":$sentinelMidArr,""" +
      s""""sentinel_post":$sentinelPost,"sf":"$sfDir",""" +
      s""""full":"target/bench.json"}""")
    System.out.flush()
    // Long suites have been observed to linger after spark.stop() on a
    // non-daemon thread; everything is flushed and the session stopped,
    // so force the exit rather than stall the harness's process wait.
    System.exit(0)
  }
}
