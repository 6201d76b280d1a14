package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Filesystem helpers shared by the staging paths.
  *
  * A STAGE is an on-disk copy of something derived from a corpus
  * directory `d` (a replayable stream directory, a re-clustered layout,
  * a streamed assignment), built once and read by later queries and
  * later JVMs until the corpus changes. Every stage lives at
  * [[stageDir]] = `<java.io.tmpdir>/<family>/<path key of d>`:
  *   - `data` is the directory the consumer reads;
  *   - `_staged` beside it holds the [[fingerprint]] `data` was built
  *     from.
  * [[staged]] reuses `data` while `_staged` holds the caller's
  * fingerprint and otherwise rebuilds it into a unique temp sibling and
  * publishes it by directory rename, writing `_staged` last, so a
  * reader never lists a half-written `data` and a crash mid-build
  * leaves the stage stale, never wrong. Publishing relies on a
  * directory rename being atomic: true on local filesystems and HDFS,
  * not on object stores (where a rename is a copy), which would need a
  * manifest-style commit instead.
  *
  * Keying on the ABSOLUTE path keeps two corpora named alike
  * (`a/sf1`, `b/sf1`) in separate stages; the fingerprint keeps an
  * in-place regeneration of one corpus from being served stale. A cold
  * restage of a family is deleting `<java.io.tmpdir>/<family>`. */
private[graft] object Fs {

  /** Recursive delete. Uses `Files.walk` with an explicit close so
    * repeated staging runs don't leak a directory handle per level
    * (`Files.list` returns a stream backed by an open DirectoryStream
    * that must be closed). Deepest-first via reverse path order. */
  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try
      s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach((f: Path) => Files.delete(f))
    finally s.close()
  }

  /** The (size, mtime) of each named source file under `d`: the one
    * staleness fingerprint of every stage and every in-memory cache
    * keyed on a corpus snapshot. */
  def fingerprint(d: String, files: String*): String =
    files.map { f =>
      val p = Paths.get(d, f)
      s"$f:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    }.mkString("|")

  /** First 8 bytes of the MD5 of `s`, as hex: the path key of
    * [[stageDir]], and a name-safe key for anything else that must be
    * unique per corpus snapshot (session table names). */
  def hashKey(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** `<java.io.tmpdir>/<family>/<hashKey(absolute d)>`. */
  def stageDir(family: String, d: String): Path =
    Paths.get(sys.props("java.io.tmpdir"), family,
      hashKey(Paths.get(d).toAbsolutePath.toString))

  private def marker(stage: Path): Path = stage.resolve("_staged")

  /** True when `stage`'s `data` exists and its marker holds `fp`. */
  def isStaged(stage: Path, fp: String): Boolean =
    Files.isDirectory(stage.resolve("data")) && Files.exists(marker(stage)) &&
      new String(Files.readAllBytes(marker(stage)), "UTF-8") == fp

  def markStaged(stage: Path, fp: String): Unit =
    Files.write(marker(stage), fp.getBytes("UTF-8")): Unit

  def unmarkStaged(stage: Path): Unit =
    Files.deleteIfExists(marker(stage)): Unit

  /** `<stageDir(family, d)>/data`, (re)built by `build` unless the
    * stage already holds `fp`. `build` fills the empty directory it is
    * given; whatever it leaves there (file names, pinned mtimes)
    * survives the publishing rename unchanged. A fresh stage costs two
    * small file reads and no Spark job. */
  def staged(family: String, d: String, fp: String)(
      build: Path => Unit): Path = {
    val stage = stageDir(family, d)
    val data = stage.resolve("data")
    if (!isStaged(stage, fp)) {
      Files.createDirectories(stage)
      val tmp = stage.resolve(s"data.tmp${System.nanoTime}")
      Files.createDirectory(tmp)
      try build(tmp)
      catch { case e: Throwable => rmTree(tmp); throw e }
      // the superseded tree steps aside by rename before the new one
      // moves in, so `data` is missing only between two renames
      val old = stage.resolve(s"data.old${System.nanoTime}")
      if (Files.exists(data))
        Files.move(data, old, StandardCopyOption.ATOMIC_MOVE)
      Files.move(tmp, data, StandardCopyOption.ATOMIC_MOVE)
      markStaged(stage, fp)
      rmTree(old)
    }
    data
  }
}
