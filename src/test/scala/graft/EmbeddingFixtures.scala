package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Above-knee embeddings fixtures for the ANN/recall specs: replicate a
  * driver sf's embeddings `reps`× with a per-replica ±1 diagonal
  * (sign-flip mask from an LCG on the replica index — the same
  * construction `graft.DataGen` uses for the decade corpus). The
  * diagonal is orthogonal, so within-replica cosine structure (and thus
  * index difficulty) is EXACTLY preserved, while replicas are not
  * bit-copies (bit-copies would hand every vector `reps` cosine-1.0
  * twins and make any recall measurement vacuous).
  */
object TestEmbeddingFixtures {
  private val cache = TrieMap.empty[(String, Int), String]

  def scaled(spark: SparkSession, srcSf: String, reps: Int): String =
    cache.getOrElseUpdate((srcSf, reps), {
      val dir = SessionCache.scratchDir("graft_emb_fix")
      val base = spark.read.parquet(s"$srcSf/embeddings.parquet")
      val stride = base.agg(max(col("vec_id"))).head().getLong(0) + 1
      val parts = (0 until reps).map { r =>
        var seed = 0x9E3779B97F4A7C15L * (r + 1)
        val signs = Array.fill(64) {
          seed = seed * 6364136223846793005L + 1442695040888963407L
          if (r == 0 || (seed >>> 40) % 2 == 0) 1.0f else -1.0f
        }
        base
          .withColumn("vec_id", col("vec_id") + lit(r * stride))
          .withColumn("embedding",
            zip_with(col("embedding"), typedlit(signs),
              (x, s2) => (x * s2).cast("float")))
      }
      parts.reduce(_ union _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir.toString
    })
}
