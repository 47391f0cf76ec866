package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Offline IVF index build, staged to parquet once per source dataset —
 * the inverted-file layout every real ANN system materializes ahead of
 * query time. The registered `ann_ivf_topk` query is the PROBE path
 * only: it reads the tiny centroid table, picks the nprobe nearest
 * cells, and scans just those cells' partitions of the assignment
 * table (cell = parquet partition column → partition pruning).
 *
 * Reference analogue: the coarse-quantizer + inverted lists an IVF
 * index persists; at 100 TB the assignment table is the stored,
 * cell-partitioned corpus and a probe touches nprobe/ncells of it.
 *
 * Staleness safety and build atomicity come from [[Staging]]
 * (fingerprint of the embeddings.parquet file metadata).
 */
object IvfIndex {

  /** Layout version, part of the staging key: v2 added the metadata
    * `label` column to the inverted lists (filtered ANN reads it as a
    * pushed parquet filter); v3 added the per-(cell, label) count
    * table (`cellstats`) the selectivity-adaptive filtered probe sizes
    * its cell set from — the source fingerprint alone would keep
    * serving the narrower earlier artifacts. */
  private val LayoutVersion = "v3"

  private def ensureBase(s: SparkSession, dir: String): java.nio.file.Path =
    Staging.ensure("ivf",
      s"${Staging.fingerprint(dir, "embeddings.parquet")}-$LayoutVersion") { tmp =>
      val e = graft.core.Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), Similarity.toDoubleVec(col("embedding")).as("v"))
      val cents = Similarity.centroidsOf(e)
      cents.coalesce(1).write.parquet(tmp.resolve("centroids").toString)
      // Assignment is the fold-argmax projection — one pass over the
      // corpus, no row expansion, no per-vector window — written with
      // the cell as the partition column (the inverted lists). The
      // metadata label rides along as a DATA column: filtered vector
      // search needs the filter column stored beside the vectors, so
      // the predicate reaches the cell-pruned scan as a parquet filter
      // instead of a post-scan join.
      Similarity.assignByFold(e, s.read.parquet(tmp.resolve("centroids").toString))
        .select(col("vec_id"), col("label"), col("v"), col("assigned_label"))
        .repartition(col("assigned_label"))
        .write.partitionBy("assigned_label")
        .parquet(tmp.resolve("assigned").toString)
      // Per-(cell, label) row counts — ncells × nlabels rows, the
      // statistic a production index keeps beside its lists so a
      // FILTERED probe can size its cell set without scanning anything
      // (a build-time column-pruned pass over the lists, tiny on disk).
      s.read.parquet(tmp.resolve("assigned").toString)
        .groupBy(col("assigned_label"), col("label"))
        .agg(count(lit(1)).as("n"))
        .coalesce(1).write.parquet(tmp.resolve("cellstats").toString)
    }

  /** Ensure the index exists for `dir`; returns (centroidsPath,
    * assignedPath). Builds at most once per source fingerprint. */
  def ensure(s: SparkSession, dir: String): (String, String) = {
    val base = ensureBase(s, dir)
    (base.resolve("centroids").toString, base.resolve("assigned").toString)
  }

  /** The staged per-(cell, label) count table (see [[ensure]]). */
  def statsPath(s: SparkSession, dir: String): String =
    ensureBase(s, dir).resolve("cellstats").toString

  /** Carves the NOT-YET-INDEXED batch for the incremental probe:
    * vec_id % [[IncrMod]] == [[IncrRem]] is fresh (unindexed). */
  val IncrMod = 20L
  val IncrRem = 7L

  /** IVF index staged over the INDEXED slice only (vec_id %
    * IncrMod != IncrRem) — the state of a production index between
    * reindex cycles, probed together with a brute scan of the fresh
    * tail by ann_ivf_incremental. Returns (centroidsPath, assignedPath). */
  def ensureIndexed(s: SparkSession, dir: String): (String, String) = {
    val base = Staging.ensure("ivfold",
      s"${Staging.fingerprint(dir, "embeddings.parquet")}-v1") { tmp =>
      val e = graft.core.Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(IncrMod)) =!= IncrRem)
        .select(col("vec_id"), col("label"), Similarity.toDoubleVec(col("embedding")).as("v"))
      Similarity.centroidsOf(e)
        .coalesce(1).write.parquet(tmp.resolve("centroids").toString)
      Similarity.assignByFold(e, s.read.parquet(tmp.resolve("centroids").toString))
        .select(col("vec_id"), col("label"), col("v"), col("assigned_label"))
        .repartition(col("assigned_label"))
        .write.partitionBy("assigned_label")
        .parquet(tmp.resolve("assigned").toString)
    }
    (base.resolve("centroids").toString, base.resolve("assigned").toString)
  }
}
