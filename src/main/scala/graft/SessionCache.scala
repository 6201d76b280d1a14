package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of session-lifetime artifacts: the shared plan
  * artifacts (the capped shingle index, vocab counts, dedup labels, the
  * graph projection), the driver-collected ones (centroid arrays, the
  * pair-volume statistic, the bucketed tables' names) and the scratch
  * directories that session work writes.
  *
  * Lifetime rule, stated once:
  *   - An entry is keyed by (session, corpus dir, key) and STAMPED with
  *     the whole-corpus [[stamp]]: the [[Fs.fingerprint]] of every
  *     regular file directly in the dir (a missing dir stamps as
  *     empty). A lookup whose stamp no longer matches rebuilds the
  *     artifact and the rebuilt entry replaces the old one, so a corpus
  *     rewritten in place is never served from its old snapshot.
  *   - Every session-lifetime directory lives under one [[root]] in
  *     `java.io.tmpdir`: [[scratchDir]]s and, when no checkpoint dir is
  *     configured, the checkpoint dir `<root>/ckpt`. One best-effort
  *     JVM shutdown hook deletes the root (a failed delete is dropped,
  *     never thrown at exit), so repeated sessions do not accumulate
  *     trees in the tmpdir; a superseded artifact's files stay under
  *     the root until then. A checkpoint dir that a caller (or a cluster
  *     deployment) configured is never touched: on a cluster it is
  *     shared storage whose lifecycle the deployment owns.
  *
  * Why materialize at all, on the shingle index (the flagship): every
  * dedup-family consumer (q26/q27/q49/q54/q55) reads it 3-6 times
  * (signatures, sizes, both join sides, probes), and exchange reuse
  * alone cannot carry it — AQE's empty-relation rewrite of the (locally
  * inactive) cap anti-join re-canonicalizes the consumers differently,
  * and the generator + dedup were observed running once PER consumer.
  * The doc_id partitioning survives the checkpoint.
  *
  * Materialization is a RELIABLE disk checkpoint, not `localCheckpoint`:
  * local-checkpoint blocks live in executor storage memory and have no
  * public release API, so a 76-query × 2-attempt bench session would pin
  * them for its whole life — executor memory must stay FLAT across the
  * suite. Disk checkpoints cost a re-read per consumer (these artifacts
  * are MBs; noise next to the queries they feed) and executor memory
  * holds nothing between queries. At 100 TB the same artifacts persist
  * to durable storage per corpus snapshot — same shape, same medium
  * class; on a cluster the checkpoint dir points at shared storage
  * (HDFS/object store) instead of the driver-local root used here.
  *
  * Artifacts CHAIN (the pairs thunk builds the shingle index, which has
  * its own cache entry), so lookup must be REENTRANT:
  * `computeIfAbsent` is not — a nested call that hashes into the bin
  * under computation throws `IllegalStateException: Recursive update`
  * (bin collisions made this a full-suite-only flake). get, then a
  * build outside any map lock, then putIfAbsent/replace tolerates
  * reentrancy; the benign race (two concurrent first-builds of one key)
  * cannot happen in the sequential query drivers and would only cost a
  * duplicate build if it did.
  */
private[graft] object SessionCache {
  private final case class Entry(stamp: String, value: AnyRef)
  private val m = new ConcurrentHashMap[(SparkSession, String, String), Entry]

  /** The session root, created on first use with its deleting hook. */
  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory("graft_session")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try Fs.rmTree(r)
      catch { case scala.util.control.NonFatal(_) => () }))
    r
  }

  /** A new, unique directory under the session root. */
  def scratchDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** [[Fs.fingerprint]] over every regular file directly in `d`; empty
    * when `d` is not a directory. */
  private def stamp(d: String): String = {
    val dir = Paths.get(d)
    if (!Files.isDirectory(dir)) ""
    else {
      val ls = Files.list(dir)
      val names =
        try ls.toArray.map(_.asInstanceOf[Path])
          .filter(Files.isRegularFile(_)).map(_.getFileName.toString).sorted
        finally ls.close()
      Fs.fingerprint(d, names.toIndexedSeq: _*)
    }
  }

  /** The artifact `build` makes for `key` over corpus `d`, built at most
    * once per (session, d, key) and corpus stamp. */
  def memo[T <: AnyRef](key: String, s: SparkSession, d: String)(
      build: => T): T = {
    val k = (s, d, key)
    val fp = stamp(d)
    val hit = m.get(k)
    if (hit != null && hit.stamp == fp) hit.value.asInstanceOf[T]
    else {
      val fresh = Entry(fp, build) // may reentrantly call memo
      val won =
        if (hit == null) m.putIfAbsent(k, fresh) == null
        else m.replace(k, hit, fresh)
      (if (won) fresh else m.get(k)).value.asInstanceOf[T]
    }
  }

  /** [[memo]] over a reliable disk checkpoint of `plan`. */
  def checkpoint(key: String, s: SparkSession, d: String)(
      plan: => DataFrame): DataFrame =
    memo(key, s, d) {
      val sc = s.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(root.resolve("ckpt").toString)
      plan.checkpoint()
    }
}
