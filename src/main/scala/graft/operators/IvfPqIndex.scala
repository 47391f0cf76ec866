package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Offline IVF-PQ (IVFADC) index — the composition of the two staged
 * ANN halves into the layout every production-scale vector store uses
 * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
 * TPAMI 2011, §IV: coarse quantizer + PQ over RESIDUALS + asymmetric
 * distance computation over inverted lists):
 *
 *   codebook/  the residual sub-codebook: each of the [[PqIndex.K]]
 *              seed vectors' residuals r = v − centroid(cell(v))
 *   codes/     (vec_id, code0..code7) PARTITIONED BY cell — every
 *              vector's residual encoded per subspace, laid out as the
 *              inverted lists so a probe's cell pruning is parquet
 *              partition pruning
 *
 * The coarse quantizer itself is [[IvfIndex]]'s staged centroid table
 * (per-label cells), reused as-is. Residuals quantize tighter than raw
 * vectors (they live near the origin of their cell), which is why the
 * composed layout beats flat PQ at equal code budget — and the probe
 * touches only nprobe cells' code partitions, never the corpus.
 *
 * Determinism (the oracle replicates bit-for-bit): residuals are
 * elementwise double subtractions against the same centroid values
 * both engines derive, encode argmins compare subspace distances
 * ROUNDED to 6 dp with ties to the lowest code, LUT distances fold
 * left-to-right unrounded, and the 8 ADC terms sum in a fixed
 * parenthesized order — the exact discipline ann_pq_topk established.
 */
object IvfPqIndex {
  import PqIndex.{Subs, K}

  /** Cells scanned per probe (IVFADC nprobe). */
  val NProbe = 2

  final case class StagedPaths(centroids: String, rcodebook: String, codes: String)

  /** Residual sub-codebook as ONE broadcastable row holding the K seed
    * residuals in id order. */
  private def rcbRow(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .agg(sort_array(collect_list(struct(col("vec_id"), col("r")))).as("cbs"))

  /** Fold-argmin PQ code of subspace `su` for the bound residual column
    * `r` against the broadcast codebook array `cbs` — strict < keeps
    * the LOWEST code on ties, matching the oracle's row_number
    * (ORDER BY d, k). */
  private def codeOf(su: Column): Column = {
    def distTo(k: Column): Column =
      round(PqIndex.subDist(col("r"),
        element_at(col("cbs"), (k + 1).cast("int")).getField("r"), su), 6)
    aggregate(sequence(lit(1), lit(K - 1)),
      struct(distTo(lit(0)).as("d"), lit(0L).as("k")),
      (acc, k) => when(distTo(k) < acc.getField("d"),
        struct(distTo(k).as("d"), k.cast("long").as("k")))
        .otherwise(acc)).getField("k")
  }

  /** Ensure the IVF-PQ index exists for `dir`; builds at most once per
    * source fingerprint. The IVF half ([[IvfIndex]]) stages itself. */
  def ensure(s: SparkSession, dir: String): StagedPaths = {
    val (centPath, assignedPath) = IvfIndex.ensure(s, dir)
    val base = Staging.ensure("ivfpq",
        Staging.fingerprint(dir, "embeddings.parquet")) { tmp =>
      // residual = v − its cell's centroid: the tiny centroid table
      // broadcasts into a map-side zip_with over the staged assignment
      val cents = s.read.parquet(centPath)
        .select(col("clabel").as("assigned_label"), col("cv"))
      val resid = s.read.parquet(assignedPath)
        .join(broadcast(cents), "assigned_label")
        .select(col("vec_id"), col("assigned_label"),
          zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
      resid.filter(col("vec_id") < K)
        .select(col("vec_id"), col("r"))
        .coalesce(1).write.parquet(tmp.resolve("rcodebook").toString)
      resid.crossJoin(broadcast(rcbRow(s, tmp.resolve("rcodebook").toString)))
        .select(col("vec_id") +: col("assigned_label") +:
          (0 until Subs).map(su => codeOf(lit(su)).as(s"code$su")): _*)
        .repartition(col("assigned_label"))
        .write.partitionBy("assigned_label")
        .parquet(tmp.resolve("codes").toString)
    }
    StagedPaths(centPath, base.resolve("rcodebook").toString,
      base.resolve("codes").toString)
  }

  /** #105 — IVFADC probe: pick the [[NProbe]] nearest cells from the
    * tiny centroid table, build ONE broadcast LUT row PER PROBED CELL
    * from that cell's query residual (q − centroid), scan ONLY those
    * cells' code partitions with the map-side 8-lookup ADC sum into a
    * TakeOrdered shortlist, and exact-re-rank just the shortlist's raw
    * vectors. At 100 TB the corpus is stored once as cell-partitioned
    * byte codes; a probe reads nprobe/ncells of the code table, the
    * LUT join IS the cell pruning (inner join against the NProbe-row
    * broadcast), and raw vectors are fetched for [[PqIndex.Shortlist]]
    * rows only. */
  def annIvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val st = ensure(s, dir)
    val q = graft.core.Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(Similarity.toDoubleVec(col("embedding")).as("qv"))
    val probeCells = s.read.parquet(st.centroids).crossJoin(broadcast(q))
      .withColumn("rcos", round(Similarity.cosine(col("cv"), col("qv")), 6))
      .orderBy(col("rcos").desc, col("clabel")).limit(NProbe)
      .select(col("clabel").as("assigned_label"), col("cv"))
    // NProbe LUT rows: per probed cell, 8 arrays of K sub-distances
    // between the cell's query residual and the residual codebook
    val lut = probeCells
      .crossJoin(broadcast(rcbRow(s, st.rcodebook)))
      .crossJoin(broadcast(q))
      .withColumn("r", zip_with(col("qv"), col("cv"), (a, b) => a - b))
      .select(col("assigned_label") +: (0 until Subs).map(su =>
        transform(sequence(lit(0), lit(K - 1)), k =>
          PqIndex.subDist(col("r"),
            element_at(col("cbs"), (k + 1).cast("int")).getField("r"), lit(su)))
          .as(s"l$su")): _*)
    val adc = (0 until Subs)
      .map(su => element_at(col(s"l$su"), (col(s"code$su") + 1).cast("int")))
      .reduce(_ + _)
    val cand = s.read.parquet(st.codes)
      .join(broadcast(lut), "assigned_label") // inner join = cell pruning
      .filter(col("vec_id") =!= 0)
      .withColumn("adc", adc)
      .orderBy(col("adc"), col("vec_id"))
      .limit(PqIndex.Shortlist)
      .select("vec_id")
    val e = graft.core.Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    e.join(broadcast(cand), "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("d", aggregate(
        zip_with(col("v"), col("qv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
      .orderBy(col("d"), col("vec_id"))
      .limit(10)
      .repartition(1)
      .sortWithinPartitions(col("d"), col("vec_id"))
      .select(col("vec_id"),
        (monotonically_increasing_id() + 1).cast("int").as("rnk"))
  }
}
