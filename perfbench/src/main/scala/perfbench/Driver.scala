package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.QueryDef
import graft.etl.CricketEtl

/** One benchmark run: one fresh JVM, one client thread, closed loop.
  *
  * Started by `run.py`, which builds the program, generates the inputs,
  * gives the run its own state directory, and turns the result file this
  * driver writes into metrics. The driver only calls the program's
  * public entry points:
  *  - `suite`: `QueryDef.fn(spark, dataDir)` (construct) and a `noop`
  *    write of the returned DataFrame (execute);
  *  - `etl`: `CricketEtl.writeTables`, two `upsertMatchesByPartition`
  *    calls (full load, then a delta) and six `CricketEtl` analytics
  *    over the written warehouse.
  *
  * Round 0 is every operation's first execution in the JVM, round 1 its
  * second (in `suite` the two run back to back per operation). Further
  * warm rounds follow until at least `--min-warm` warm rounds are done
  * and `--seconds` have passed since measurement began. Outputs are
  * captured for checking in untimed executions.
  */
object Driver {
  final case class Exec(op: String, module: String, round: Int,
      constructS: Double, executeS: Double, cpuS: Double, traced: Boolean,
      error: String)

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val uptimeAtMainMs = ManagementFactory.getRuntimeMXBean.getUptime
    val nano0 = System.nanoTime()
    val epoch0Us = System.currentTimeMillis() * 1000
    def epochUs(nano: Long): Long = epoch0Us + (nano - nano0) / 1000

    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, sys.error(s"missing --$k"))
    val kind = arg("kind")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val data = arg("data")
    val state = arg("state")
    val cpus = arg("cpus").toInt
    val minWarm = arg("min-warm").toInt

    // ---- set-up: session + generic warm-up -----------------------------
    val spark = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.buffer.pageSize", "1m")
        .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "500")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$state/local")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      // generic warm-up (graft.Bench's, with a parquet round trip in
      // place of its region read so it needs no particular input)
      s.range(1000000).selectExpr("sum(id)").collect()
      val p = s"$state/warmup.parquet"
      s.range(1000).write.mode("overwrite").parquet(p)
      s.read.parquet(p).count()
      s
    }
    // from process start: JVM start, class loading, the first session
    val setupS = uptimeAtMainMs / 1e3 + (System.nanoTime() - nano0) / 1e9
    val sc = spark.sparkContext

    val sentinelPre = graft.PhaseSentinel.json(cpus)

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
      spark.listenerManager.register(t.sql)
    }

    // ---- timing -----------------------------------------------------------
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def processCpuNs(): Long = os.getProcessCpuTime
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean
    val classes = ManagementFactory.getClassLoadingMXBean
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (gc0, jit0, cls0, cg0) =
      (gcMs(), jit.getTotalCompilationTime, classes.getTotalLoadedClassCount, compiles())
    var storageMaxMb = 0.0
    def storageMb(): Double =
      sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum / 1048576.0

    val execs = mutable.ArrayBuffer.empty[Exec]
    val checks = mutable.LinkedHashMap.empty[String, Any]
    val measureStart = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - measureStart) / 1e9
    val workloadSpan = tracer.map(_.nextSpanId()).getOrElse(0L)

    /** Time one call: `construct` builds (and may run eager jobs),
      * `execute` runs the result. Returns what `construct` built. */
    def timed[T](op: String, module: String, round: Int)(construct: => T)(
        execute: T => Unit): Option[T] = {
      val key = s"$op#$round"
      val on = tracer.exists(_.enabled)
      tracer.foreach(_.currentKey = key)
      sc.setJobGroup(Tracer.GroupPrefix + key, key, interruptOnCancel = false)
      sc.setLocalProperty(Tracer.KeyProp, key)
      val opSpan = tracer.map(_.nextSpanId()).getOrElse(0L)
      def span(kind: String, t0: Long, t1: Long, parent: Long): Unit =
        tracer.foreach(t => t.addSpan(Tracer.Span(
          if (kind == "op") opSpan else t.nextSpanId(), parent, kind,
          s"$kind $key", key, epochUs(t0), epochUs(t1))))
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      var t1 = t0
      var built: Option[T] = None
      val error =
        try {
          val x = construct
          t1 = System.nanoTime()
          span("construct", t0, t1, opSpan)
          execute(x)
          built = Some(x)
          ""
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $key FAILED: $e")
            e.toString
        }
      val t2 = System.nanoTime()
      val cpu = (processCpuNs() - cpu0) / 1e9
      if (built.isEmpty && t1 == t0) t1 = t2
      span("execute", t1, t2, opSpan)
      span("op", t0, t2, workloadSpan)
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.KeyProp, null)
      tracer.foreach(_.currentKey = "idle")
      // drain log of the streaming queries, cleared as graft.Bench does
      graft.streaming.StreamingOps.pollDrainStats(): Unit
      if (on) storageMaxMb = math.max(storageMaxMb, storageMb())
      execs += Exec(op, module, round, (t1 - t0) / 1e9, (t2 - t1) / 1e9, cpu, on, error)
      built
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def guarded(name: String)(v: => Any): Unit =
      checks(name) = try v catch { case e: Throwable => Map("error" -> e.toString) }

    // ---- workloads --------------------------------------------------------
    /** Rounds after the first warm one: while fewer than `minWarm` warm
      * rounds are done or the measuring time is not used up; in a traced
      * run, one more round with the listeners off. */
    def moreRounds(from: Int)(round: Int => Unit): Unit = {
      var r = from
      while (r <= minWarm || elapsedS < seconds) { round(r); r += 1 }
      tracer.foreach { t =>
        t.quiesce()
        t.enabled = false
        round(r)
      }
    }

    kind match {
      case "suite" =>
        val registry: Seq[(String, Seq[QueryDef])] = Seq(
          "Relational" -> graft.operators.Relational.all,
          "EventOps" -> graft.operators.EventOps.all,
          "GraphOps" -> graft.operators.GraphOps.all,
          "TextOps" -> graft.operators.TextOps.all,
          "SimilarityOps" -> graft.operators.SimilarityOps.all,
          "MultimodalOps" -> graft.operators.MultimodalOps.all,
          "ScaleOps" -> graft.operators.ScaleOps.all,
          "CurationOps" -> graft.operators.CurationOps.all,
          "CricketDemo" -> graft.etl.CricketDemo.all,
          "StreamingOps" -> graft.streaming.StreamingOps.queries)
        val byId = registry.flatMap { case (m, qs) =>
          qs.map(q => q.name.takeWhile(_ != '_') -> (m, q))
        }.toMap
        val ops = arg("ops").split(",").toSeq.map(id =>
          byId.getOrElse(id, sys.error(s"unknown query id $id")))
        val order = new scala.util.Random(seed).shuffle(ops)
        def once(m: String, q: QueryDef, round: Int): Option[DataFrame] =
          timed(q.name, m, round)(q.fn(spark, data))(noop)
        order.foreach { case (m, q) =>
          once(m, q, 0)
          once(m, q, 1).foreach(df => guarded(q.name)(Fingerprint(df)))
        }
        moreRounds(2)(r => order.foreach { case (m, q) => once(m, q, r) })

      case "etl" =>
        val (batter, bowler, team) = (arg("batter"), arg("bowler"), arg("team"))
        val analytics: Seq[(String, DataFrame => DataFrame)] = Seq(
          "runs_by_batter" -> (d => CricketEtl.runsByBatter(d, 10)),
          "wickets_by_bowler" -> (d => CricketEtl.wicketsByBowler(d, 10)),
          "head_to_head" -> (d => CricketEtl.headToHead(d, batter, bowler)),
          "toughest_bowlers" -> (d => CricketEtl.toughestBowlers(d, batter, 30, 10)),
          "partnerships" -> (d => CricketEtl.partnerships(
            CricketEtl.facedEdges(d, lit(0)), team, 20, 20)),
          "pagerank_players" -> (d => CricketEtl.pageRankPlayers(
            CricketEtl.facedEdges(d, lit(0)), 20)))
        def matchesByType(dir: String): Map[String, Any] = {
          val t = spark.read.parquet(dir)
          Map("rows" -> t.count(), "ids" -> t.select("_id").distinct().count(),
            "by_type" -> t.groupBy("p_type").count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap)
        }
        // each round writes to fresh paths, so every round does the same work
        def pipeline(round: Int): Unit = {
          val check = round == 1
          val out = s"$state/etl/r$round"
          val (wh, byType) = (s"$out/warehouse", s"$out/matches_by_type")
          timed("write_tables", "CricketEtl", round)(())(_ =>
            CricketEtl.writeTables(spark, s"$data/base", wh))
          if (check) guarded("write_tables")(Map(
            "matches" -> spark.read.parquet(s"$wh/matches").count(),
            "deliveries" -> spark.read.parquet(s"$wh/deliveries").count()))
          timed("upsert_full", "CricketEtl", round)(())(_ =>
            CricketEtl.upsertMatchesByPartition(spark, s"$data/base", byType))
          if (check) guarded("upsert_full")(matchesByType(byType))
          timed("upsert_delta", "CricketEtl", round)(())(_ =>
            CricketEtl.upsertMatchesByPartition(spark, s"$data/delta", byType))
          if (check) guarded("upsert_delta")(matchesByType(byType))
          analytics.foreach { case (name, f) =>
            val df = timed(name, "CricketEtl", round)(
              f(spark.read.parquet(s"$wh/deliveries")))(noop)
            if (check) df.foreach(d => guarded(name)(Map(
              "cols" -> d.columns.toSeq,
              "rows" -> d.collect().map(_.toSeq).toSeq)))
          }
        }
        pipeline(0)
        pipeline(1)
        moreRounds(2)(pipeline)

      case other => sys.error(s"unknown workload kind $other")
    }
    val measureS = elapsedS

    // ---- end of run -------------------------------------------------------
    val jvm = ListMap(
      "gc_s" -> (gcMs() - gc0) / 1e3,
      "jit_ms" -> (jit.getTotalCompilationTime - jit0).toDouble,
      "classes" -> (classes.getTotalLoadedClassCount - cls0),
      "codegen_compiles" -> (compiles() - cg0))
    val traceOut = tracer.map { t =>
      t.quiesce()
      val spansFile = arg("spans")
      val root = Tracer.Span(workloadSpan, 0, "workload", kind, "workload",
        epochUs(measureStart), epochUs(measureStart) + (measureS * 1e6).toLong)
      val lines = (root +: t.allSpans).map(s => Json.writeValueAsString(ListMap(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "key" -> s.key, "start_us" -> s.startUs, "end_us" -> s.endUs)))
      Files.write(Paths.get(spansFile), lines.asJava)
      ListMap(
        "stats" -> t.snapshot,
        "storage_mb_max" -> storageMaxMb,
        "storage_mb_end" -> storageMb(),
        "persisted_rdds_end" -> sc.getPersistentRDDs.size,
        "spans" -> spansFile)
    }
    System.gc(); System.gc(); Thread.sleep(200)
    val rt = Runtime.getRuntime
    val liveHeapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    val sentinelPost = graft.PhaseSentinel.json(cpus)

    val result = ListMap(
      "kind" -> kind, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setupS,
      "measure_s" -> measureS,
      "execs" -> execs.map(e => ListMap(
        "op" -> e.op, "module" -> e.module, "round" -> e.round,
        "construct_s" -> e.constructS, "execute_s" -> e.executeS, "cpu_s" -> e.cpuS,
        "traced" -> e.traced, "error" -> e.error)).toSeq,
      "checks" -> checks,
      "live_heap_mb" -> liveHeapMb,
      "jvm" -> jvm,
      "trace" -> traceOut,
      "sentinel_pre" -> Json.readTree(sentinelPre),
      "sentinel_post" -> Json.readTree(sentinelPost))
    Json.writeValue(new java.io.File(arg("out")), result)
    spark.stop()
    // graft.Bench exits explicitly too: a stopped session has been seen
    // to linger on a non-daemon thread
    System.exit(0)
  }
}
