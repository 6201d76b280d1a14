package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped checkpoint cache for shared plan artifacts (the capped
  * shingle index, vocab counts, dedup labels, the graph projection):
  * every shared artifact is materialized at most once per
  * (session, sfDir, key) and reused across queries and bench passes
  * instead of being rebuilt (or re-pinned) per consumer.
  *
  * Materialization is a RELIABLE disk checkpoint, not `localCheckpoint`:
  * local-checkpoint blocks live in executor storage memory and have no
  * public release API, so a 76-query × 2-attempt bench session would pin
  * them for its whole life — executor memory must stay FLAT across the
  * suite. Disk checkpoints cost a re-read per consumer (these artifacts
  * are MBs; noise next to the queries they feed) and executor memory
  * holds nothing between queries. At 100 TB the same artifacts persist
  * to durable storage per corpus snapshot — same shape, same medium
  * class; on a cluster `setCheckpointDir` points at shared storage
  * (HDFS/object store) instead of the driver-local tmp dir used here.
  *
  * Artifacts CHAIN (the pairs thunk builds the shingle index, which has
  * its own cache entry), so lookup must be REENTRANT:
  * `computeIfAbsent` is not — a nested call that hashes into the bin
  * under computation throws `IllegalStateException: Recursive update`
  * (bin collisions made this a full-suite-only flake). get/putIfAbsent
  * tolerates reentrancy; the benign race (two concurrent first-builds
  * of one key) cannot happen in the sequential query drivers and would
  * only cost a duplicate checkpoint if it did.
  */
private[graft] object SessionCache {
  private val m = new ConcurrentHashMap[(SparkSession, String, String), DataFrame]

  /** Ensure the session has a checkpoint dir without clobbering one a
    * caller (or a cluster deployment) already configured. A dir WE
    * create is a driver-local temp dir, removed by a best-effort JVM
    * shutdown hook (a failed delete is dropped, never thrown at exit) —
    * repeated sessions must not accumulate checkpoint trees in /tmp. A
    * caller-configured dir is never touched (on a cluster it is shared
    * storage whose lifecycle the deployment owns). */
  private def ensureCheckpointDir(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
      sc.setCheckpointDir(dir.toString)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try Fs.rmTree(dir)
        catch { case scala.util.control.NonFatal(_) => () }))
    }
  }

  def checkpoint(key: String, s: SparkSession, d: String)(
      plan: => DataFrame): DataFrame = {
    val k = (s, d, key)
    val existing = m.get(k)
    if (existing != null) existing
    else {
      ensureCheckpointDir(s)
      val built = plan.checkpoint() // may reentrantly call checkpoint
      val prev = m.putIfAbsent(k, built)
      if (prev != null) prev else built
    }
  }
}
