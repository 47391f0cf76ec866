package graft.operators

import org.apache.spark.sql.SparkSession

import graft.core.Tables

/**
 * Staged approximate k-NN graph over the embeddings table — the
 * bootstrap artifact NN-descent / graph-ANN refinement iterates on
 * (reference: the same build-once-probe-many split db.rs's layered
 * store applies to blocks; Dong et al. WWW'11 for the algorithm).
 * Built at most once per corpus fingerprint ([[Staging]]: atomic
 * rename, staleness by source fingerprint), holding the
 * (src, rnk, dst, rcos) top-k edge list [[Similarity.knnGraph]]
 * computes.
 */
object KnnIndex {
  private val LayoutVersion = "v1"

  /** Ensure the staged graph exists for `dir`; returns the g/ path.
    * [[Similarity.KnnK]] governs the artifact's CONTENT (the per-node
    * degree of the staged edge list), so it is part of the staging
    * key — the KcSeedIndex discipline: bumping k can never silently
    * serve a stale lower-degree graph to the probe/recall queries
    * while the oracle re-derives at the new k. */
  def ensure(s: SparkSession, dir: String): String = {
    val key = s"${Staging.fingerprint(dir, "embeddings.parquet")}" +
      s"-k${Similarity.KnnK}-$LayoutVersion"
    val base = Staging.ensure("knng", key) { tmp =>
      Similarity.knnGraphBuild(s, dir).write.parquet(tmp.resolve("g").toString)
    }
    base.resolve("g").toString
  }
}

/** Staged farthest-first (kcenter) SEEDS of the embeddings corpus: the
  * KcK chosen vectors in pick order, one tiny parquet — deterministic
  * per corpus fingerprint, so seed selection (K sequential corpus
  * passes) is index-build work like every other ensure(); the
  * registered #160 query still runs the live algorithm, and
  * #emb_kmeans_train's timed run starts from the staged seeds. */
object KcSeedIndex {
  import org.apache.spark.sql.SparkSession

  private val LayoutVersion = "v1"

  /** Ensure the seed table exists for `dir`; returns the seeds/ path.
    * [[Similarity.KcK]] governs the artifact's CONTENT (how many seeds
    * are picked), so it is part of the staging key: bumping K can
    * never silently serve a stale seed set with the wrong count. */
  def ensure(s: SparkSession, dir: String): String = {
    val key = s"${Staging.fingerprint(dir, "embeddings.parquet")}" +
      s"-k${Similarity.KcK}-$LayoutVersion"
    val base = Staging.ensure("kcseed", key) { tmp =>
      import s.implicits._
      Similarity.kcenterChosen(s, dir).zipWithIndex
        .map { case ((vid, v, _), r) => (r.toLong, vid, v) }
        .toDF("rnd", "vec_id", "cv")
        .coalesce(1).write.parquet(tmp.resolve("seeds").toString)
    }
    base.resolve("seeds").toString
  }

  /** The staged seed vectors in pick order — a KcK-row bounded read. */
  def seeds(s: SparkSession, dir: String): Seq[Seq[Double]] =
    Tables.parquet(s, ensure(s, dir))
      .orderBy("rnd").collect().map(_.getSeq[Double](2)).toSeq
}
