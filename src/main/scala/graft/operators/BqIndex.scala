package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/**
 * Staged binary-quantization fingerprint table (vec_id, bq): every
 * embedding's 64 sign bits packed into ONE long at build time — 8
 * bytes per vector, a 256× smaller coarse index than the float32
 * corpus. Queries read the staged longs; the float corpus is touched
 * only behind a shortlist join. Build is O(corpus) work that must
 * never repeat per query at 100 TB — the index/cache split of the
 * reference's sstable layer (reference index.rs, cache.rs): probe
 * work ∝ shortlist, build work amortised across every query until the
 * corpus changes. Staleness safety and build atomicity come from
 * [[Staging]] (embeddings.parquet fingerprint keys the artifact).
 */
object BqIndex {
  /** Ensure the fingerprint table exists for `dir`; builds at most
    * once per source fingerprint. Returns the bq/ path. */
  def ensure(s: SparkSession, dir: String): String = {
    val base = Staging.ensure("bq",
      s"${Staging.fingerprint(dir, "embeddings.parquet")}-v1") { tmp =>
      graft.core.Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.signPack.as("bq"))
        .write.parquet(tmp.resolve("bq").toString)
    }
    base.resolve("bq").toString
  }
}
