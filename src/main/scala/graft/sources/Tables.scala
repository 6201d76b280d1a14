package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver's star-schema testdata
  * (`TESTDATA.md`). Mirrors the reference's source scans
  * (`/root/reference/neo4j_loader.py:82,96-99` — server-side projected
  * `find()`): here projection/pruning is left to Catalyst's
  * `ColumnPruning`, which pushes the needed columns into the parquet
  * vectorized reader automatically.
  *
  * Scale posture: each loader is a plain file-source scan — at 100 TB the
  * same call reads a partitioned directory tree and Catalyst prunes both
  * columns (ReadSchema) and files (partition/row-group stats). A read
  * without a schema runs a footer job every time, so all go through
  * [[parquet]].
  */
object Tables {

  /** `path`, parquet derived from corpus dir `d`, read with its footer
    * schema inferred once per (session, `d`, `key`) and corpus snapshot
    * ([[graft.SessionCache.memo]]): a corpus rewritten in place is inferred
    * again. Schema-less on purpose: `upsertMatchesByPartition`'s read of
    * a table rewritten under `p_type=` dirs the stamp does not see,
    * `DataGen`, Bench's warm-up and `Layout`'s probes of caller-named
    * dirs. Dirs written in the same call (the drains' outputs: q78's
    * admissions, q126's log, the streamed assignment artifact) are read
    * with their writer's schema instead. */
  def parquet(s: SparkSession, d: String, key: String,
      path: String): DataFrame =
    s.read.schema(graft.SessionCache.memo(s"schema:$key", s, d)(
      s.read.parquet(path).schema)).parquet(path)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, sfDir, name, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** events as stored; the key carries the switch `ts`'s type follows. */
  private[graft] def rawEvents(s: SparkSession, d: String): DataFrame = {
    s.conf.set(NanosAsLong, "true")
    parquet(s, d, s"events|${s.conf.get(NanosAsLong)}", s"$d/events.parquet")
  }

  /** The events table's `ts` has carried two physical encodings across
    * driver testdata generations: INT64 nanosecond epochs and native
    * microsecond TIMESTAMP. Probe the footer schema and surface a
    * microsecond TIMESTAMP_NTZ `ts` either way — timezone-naive end to
    * end, so results compare exactly with engines that read the same
    * file natively (DuckDB truncates ns→us the same way integer
    * division does; the session timezone is pinned UTC so LTZ↔NTZ
    * casts are µs-exact).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = rawEvents(s, d)
    val ts =
      if (raw.schema("ts").dataType == LongType)
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      else col("ts").cast("timestamp_ntz")
    raw.withColumn("ts", ts)
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
