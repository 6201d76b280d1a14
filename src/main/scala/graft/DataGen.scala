package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic decade scale-up of a driver testdata directory:
  * `tools/run.sh graft.DataGen <srcSf> <outDir> [replicas]` writes a
  * `replicas`× larger corpus with the SAME single-file-per-table layout,
  * used to measure the bench one decade up (sf0.1 → sf1) and check that
  * no query scales superlinearly in rows.
  *
  * Construction = key-offset replication, with two twists that keep the
  * WORKLOAD CHARACTER linear rather than artificially quadratic:
  *  - documents: replica r > 0 suffixes every token with `~r`, so
  *    near-duplicate density per replica matches the source corpus while
  *    cross-replica Jaccard is 0 — plain text replication would hand the
  *    dedup family Θ(replicas²) guaranteed-identical pairs, a different
  *    (and unrealistically hostile) workload, not a scale-up. Vocabulary
  *    grows with replicas, as a larger real corpus's would.
  *  - embeddings: replica r applies a fixed per-replica ±1 diagonal
  *    (sign-flip mask from an LCG on r) — an orthogonal transform, so
  *    within-replica cosine structure (and thus ANN difficulty) is
  *    EXACTLY preserved, while replicas are not bit-copies of each other
  *    (bit-copies would make every vector a 10-way exact duplicate and
  *    blow up the near-pair queries quadratically).
  * All foreign keys offset consistently (replica r's events join replica
  * r's customers, etc.); nation/region are fixed dimensions and copy
  * as-is; event timestamps are unchanged, so time windows grow in ROWS
  * (×replicas) not in span — the same shape a busier feed has.
  */
object DataGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-separated table subset (e.g. "embeddings")
    // for single-family probes — a 250x embeddings corpus for the ANN
    // escape-tier run shouldn't pay a 250x lineitem replication.
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    def wanted(name: String): Boolean = only.isEmpty || only(name)
    val spark = GraftSession.builder().getOrCreate()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    /** single parquet FILE per table (driver layout; 32 MB row groups so
      * the one file still splits into parallel scan tasks). */
    def writeSingle(df: DataFrame, name: String): Unit = {
      if (!wanted(name)) return
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val tmp = Files.createTempDirectory("graft_gen")
      try {
        df.repartition(1).write.mode("overwrite")
          .option("parquet.block.size", 32 * 1024 * 1024).parquet(tmp.toString)
        val part = Files.list(tmp).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        Files.move(Paths.get(part), Paths.get(out, s"$name.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      } finally Fs.rmTree(tmp)
      println(s"[datagen] wrote $name")
    }
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1
    /** union of `reps` transformed replicas. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until reps).map(r => f(df, r)).reduce(_ union _)

    // fixed dimensions copy as-is
    writeSingle(read("region"), "region")
    writeSingle(read("nation"), "nation")

    val cust = read("customer"); val custS = stride(cust, "c_custkey")
    val supp = read("supplier"); val suppS = stride(supp, "s_suppkey")
    val prt = read("part"); val prtS = stride(prt, "p_partkey")
    val ord = read("orders"); val ordS = stride(ord, "o_orderkey")
    val evt = read("events"); val evtS = stride(evt, "event_id")
    val doc = read("documents"); val docS = stride(doc, "doc_id")
    val emb = read("embeddings"); val embS = stride(emb, "vec_id")

    // c_name feeds the fuzzy entity-match (edit-distance blocking):
    // verbatim replication would give every name `reps` exact copies —
    // an artificially quadratic hot-key workload, not a scale-up. The
    // two-character-pair replica tag keeps replicas ≥ 2 edits apart, so
    // neither deletion-variant blocking keys nor dist ≤ 1 pairs span
    // replicas and per-replica match structure is exactly preserved.
    writeSingle(replicate(cust)((d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + r * custS)
        .withColumn("c_name",
          if (r == 0) col("c_name")
          else concat(col("c_name"), lit(s"#$r#$r")))), "customer")
    writeSingle(replicate(supp)((d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + r * suppS)), "supplier")
    writeSingle(replicate(prt)((d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + r * prtS)), "part")
    writeSingle(replicate(ord)((d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + r * ordS)
        .withColumn("o_custkey", col("o_custkey") + r * custS)), "orders")
    writeSingle(replicate(read("lineitem"))((d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + r * ordS)
        .withColumn("l_partkey", col("l_partkey") + r * prtS)
        .withColumn("l_suppkey", col("l_suppkey") + r * suppS)), "lineitem")
    // events: user_id keys the customer dim (q75 enrichment join)
    writeSingle(replicate(evt)((d, r) =>
      d.withColumn("event_id", col("event_id") + r * evtS)
        .withColumn("user_id", col("user_id") + r * custS)), "events")
    writeSingle(replicate(doc)((d, r) =>
      d.withColumn("doc_id", col("doc_id") + r * docS)
        .withColumn("text",
          if (r == 0) col("text")
          else expr(s"array_join(transform(split(trim(text), ' '), " +
            s"x -> concat(x, '~$r')), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long"))), "documents")
    writeSingle(replicate(emb)((d, r) => {
      // per-replica ±1 diagonal from an LCG on (r, dim) — orthogonal, so
      // within-replica cosines are exactly preserved
      var seed = 0x9E3779B97F4A7C15L * (r + 1)
      val signs = Array.fill(64) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        if (r == 0 || (seed >>> 40) % 2 == 0) 1.0f else -1.0f
      }
      d.withColumn("vec_id", col("vec_id") + r * embS)
        .withColumn("embedding",
          zip_with(col("embedding"), typedlit(signs),
            (x, s2) => (x * s2).cast("float")))
    }), "embeddings")

    spark.stop()
    println(s"[datagen] done: $out (${reps}x $src)")
  }
}
