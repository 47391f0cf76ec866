package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/**
 * Offline PRODUCT-QUANTIZATION index (Jégou et al., "Product
 * Quantization for Nearest Neighbor Search", TPAMI 2011 — public),
 * staged to parquet once per source dataset. PQ is the memory-bound
 * ANN scale path: vectors are stored as [[Subs]] small codes (one
 * column each here) instead of 64 doubles — an 8× compression at this
 * layout, 64× with byte packing — and a query scans CODES with a
 * per-subspace lookup table instead of touching raw vectors.
 *
 *   codebook/  the [[K]] seed vectors (vec_id < K) — each seed's
 *              sub-slice s is sub-centroid (s, k)
 *   codes/     (vec_id, code0..code7) — every vector encoded as its
 *              nearest sub-centroid per subspace, WIDE so the probe
 *              needs no per-vector regrouping
 *
 * The registered `ann_pq_topk` query is the standard two-stage probe:
 * ONE row of 8×16 lookup arrays is built from the query vector and
 * broadcast; the approximate distance is a pure map-side projection
 * over the code table (8 array lookups + a fixed-order sum) feeding a
 * TakeOrderedAndProject shortlist — ZERO shuffles over the corpus —
 * and only the [[Shortlist]] candidates' raw vectors are fetched for
 * the exact re-rank.
 *
 * Determinism: every distance is a fixed left-to-right squared-diff
 * fold (no pow), encode argmins compare distances ROUNDED to 6 dp with
 * ties to the lowest sub-centroid id, and the 8 ADC terms sum in a
 * fixed parenthesized order — all mirrored verbatim in the DuckDB
 * oracle, so ranks hash-match.
 */
object PqIndex {
  /** 64 dims → 8 subspaces × 8 dims; 16 sub-centroids (the seeds). */
  val Subs = 8
  val SubDim = 8
  val K = 16

  /** Squared L2 distance between dims [su*8+1, su*8+8] of `v` and the
    * same dims of `c`: strict left-to-right fold of (a−b)·(a−b).
    * Shared with [[IvfPqIndex]] (residual encode + LUT). */
  private[operators] def subDist(v: Column, c: Column, su: Column): Column =
    aggregate(sequence(lit(1), lit(SubDim)), lit(0.0), (acc, i) => {
      val a = element_at(v, (su * SubDim + i).cast("int"))
      val b = element_at(c, (su * SubDim + i).cast("int"))
      acc + (a - b) * (a - b)
    })

  final case class StagedPaths(codebook: String, codes: String)

  /** Ensure the PQ index exists for `dir`; builds at most once per
    * source fingerprint. */
  def ensure(s: SparkSession, dir: String): StagedPaths = {
    val base = Staging.ensure("pq", Staging.fingerprint(dir, "embeddings.parquet")) { tmp =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      e.filter(col("vec_id") < K)
        .coalesce(1).write.parquet(tmp.resolve("codebook").toString)
      // ONE broadcast row holding the 16 seed vectors in id order; each
      // corpus vector encodes all 8 subspaces by a fold-argmin over that
      // array — a pure map-side projection (no join fanout, no window).
      val cbArr = Tables.parquet(s, tmp.resolve("codebook").toString)
        .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("cbs"))
      def distTo(su: Column, k: Column): Column =
        round(subDist(col("v"),
          element_at(col("cbs"), (k + 1).cast("int")).getField("v"), su), 6)
      // argmin over k = 0..K-1: strict < keeps the LOWEST k on ties,
      // matching the oracle's row_number (ORDER BY d, k)
      def codeOf(su: Column): Column =
        aggregate(sequence(lit(1), lit(K - 1)),
          struct(distTo(su, lit(0)).as("d"), lit(0L).as("k")),
          (acc, k) => when(distTo(su, k) < acc.getField("d"),
            struct(distTo(su, k).as("d"), k.cast("long").as("k")))
            .otherwise(acc)).getField("k")
      e.crossJoin(broadcast(cbArr))
        .select(col("vec_id") +:
          (0 until Subs).map(su => codeOf(lit(su)).as(s"code$su")): _*)
        .write.parquet(tmp.resolve("codes").toString)
    }
    StagedPaths(base.resolve("codebook").toString, base.resolve("codes").toString)
  }

  /** ADC shortlist size: the exact re-rank touches only this many raw
    * vectors. Production tunes C/k; 128-of-corpus keeps the spec's
    * recall measurable at every test scale. */
  val Shortlist = 128

  /** The ADC stage alone: approximate distance for every coded vector
    * (8 array lookups into the broadcast LUT row, fixed-order sum),
    * TakeOrderedAndProject to the [[Shortlist]] best. Exposed for the
    * recall spec. */
  private[operators] def adcShortlist(s: SparkSession, dir: String,
      c: Int = Shortlist): DataFrame = {
    val st = ensure(s, dir)
    val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(Similarity.toDoubleVec(col("embedding")).as("qv"))
    val cbArr = Tables.parquet(s, st.codebook)
      .agg(sort_array(collect_list(struct(col("vec_id"), col("v")))).as("cbs"))
    val lutRow = cbArr.crossJoin(broadcast(q))
      .select((0 until Subs).map(su =>
        transform(sequence(lit(0), lit(K - 1)), k =>
          subDist(col("qv"),
            element_at(col("cbs"), (k + 1).cast("int")).getField("v"), lit(su)))
          .as(s"l$su")): _*)
    val adc = (0 until Subs)
      .map(su => element_at(col(s"l$su"), (col(s"code$su") + 1).cast("int")))
      .reduce(_ + _)
    Tables.parquet(s, st.codes)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(lutRow))
      .withColumn("adc", adc)
      .orderBy(col("adc"), col("vec_id"))
      .limit(c)
  }

  /** #101 — PQ probe, the standard two-stage shape: the ADC scan ranks
    * CODES (zero shuffles over the corpus — broadcast LUT row + map-side
    * lookup sum + TakeOrderedAndProject) into a [[Shortlist]]-row
    * candidate set, and only those candidates' RAW vectors are fetched
    * (broadcast semi-join against the embeddings scan) for an exact
    * squared-L2 re-rank to the final top-10. At 100 TB the raw-vector
    * table is touched for C rows, the code table for everything — the
    * memory/IO trade PQ exists to make. */
  def annPqTopk(s: SparkSession, dir: String): DataFrame = {
    val cand = adcShortlist(s, dir).select("vec_id")
    val q = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(Similarity.toDoubleVec(col("embedding")).as("qv"))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .join(broadcast(cand), "vec_id")
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
