package graft

/** Host-phase sentinel for bench artifacts.
  *
  * This host has documented multi-minute degraded phases (suite totals
  * 105–120 s clean vs 138–155 s degraded for the SAME binary at sf0.1;
  * rounds 14 and 15 both needed post-hoc attribution of an inflated
  * headline number). The sentinel makes every sweep self-annotating: a
  * fixed, deterministic, allocation-free CPU micro-run measured before
  * and after the sweep, stamped into the artifact JSON, so a reader can
  * separate "the tree regressed" from "the host was in a bad phase"
  * without re-running anything.
  *
  * What it measures and why each field separates the bands:
  *  - `st_ms`: wall for a fixed single-thread xorshift loop (~0.5 s
  *    clean). Pure integer ALU work, no allocation, no syscalls — its
  *    wall moves ONLY with per-core slowdown (CPU steal, thermal/freq
  *    phase, hypervisor contention), never with JVM state.
  *  - `mt_ms`: wall for the same per-thread loop (SAME iteration count
  *    as the ST loop, so on an uncontended host mt_ms ≈ st_ms and the
  *    two are directly comparable; before round 17 the MT loop ran 2/3
  *    the iterations, so r16-era artifacts read mt ≈ 0.67·st when
  *    clean — do not compare mt across that boundary). Under host
  *    contention mt inflates ahead of st because the sentinel threads
  *    compete with whatever else holds the cores.
  *  - `load1`: /proc/loadavg first field — external pressure visible
  *    directly (this JVM contributes ~0 at sentinel time: Spark is idle
  *    between suites).
  *  - `gc_total_ms`: cumulative collector time for THIS JVM, so the
  *    pre/post delta separates "host phase" from "this process's own
  *    GC churn" (the r15 in-phase analysis needed exactly this split).
  *
  * The loop is deterministic (fixed seed, fixed iteration count) so the
  * number is comparable across rounds and trees; calibration constant
  * chosen so st ≈ 0.4–0.6 s on this host's clean phase — long enough to
  * average over scheduler jitter, short enough to run twice per sweep.
  */
object PhaseSentinel {
  private val StIters = 600000000L
  private val MtItersPerThread = StIters

  private def spin(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  private def gcTotalMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  private def load1(): Double =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }

  /** One sentinel reading as a JSON object string. `threads` should be
    * the sweep's core count so mt contention matches the workload's. */
  def json(threads: Int): String = {
    // JIT warmup outside the timed region (the loop is one hot method)
    spin(StIters / 10)
    val t0 = System.nanoTime()
    val sink0 = spin(StIters)
    val stMs = (System.nanoTime() - t0) / 1000000L
    val t1 = System.nanoTime()
    // per-thread results XORed into a shared sink (published below) so
    // the MT loops can't be dead-code-eliminated either — the guard is
    // symmetric with the ST path's sink0
    val mtSink = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        val r = spin(MtItersPerThread + i)
        mtSink.getAndAccumulate(r, (a, b) => a ^ b): Unit
      })
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    val mtMs = (System.nanoTime() - t1) / 1000000L
    // sink0/mtSink published so neither spin loop can be dead-code-eliminated
    s"""{"st_ms":$stMs,"mt_ms":$mtMs,"mt_threads":$threads,""" +
      s""""load1":${load1()},"gc_total_ms":${gcTotalMs()},""" +
      s""""sink":${(sink0 ^ mtSink.get()) & 0xff}}"""
  }

  /** Standalone: one reading on [[GraftSession.cpus]] threads, printed
    * as the last stdout line — for stamping hand-assembled artifacts
    * (isolated-query A/Bs, decade points) with the same fields the
    * full-suite sweep carries. */
  def main(args: Array[String]): Unit =
    println(s"""{"sentinel":${json(GraftSession.cpus)}}""")
}
