package graft.operators

import org.apache.spark.sql.SparkSession

/**
 * Staged per-document TEXT FEATURE PROFILES — the text-side companion
 * to [[DedupIndex]]'s signature store (same philosophy: a per-doc
 * feature extraction that is corpus-invariant and parameter-free is
 * index build, paid once per corpus fingerprint; every scoring query
 * probes the staged parquet and never re-tokenizes):
 *
 *   bgc/   (doc_id, bg, c)  overlapping char-bigram counts
 *          (lowercased) — `text_char_lm` derives its add-1 model and
 *          scores from this profile
 *   dsir/  (doc_id, h, c)   hashed word-bigram feature counts
 *          (md5 → [[TextOps.DsirBuckets]] buckets) — `text_dsir`
 *          derives target/raw ratios and scores from this profile
 *
 * Both artifacts preserve exact integer occurrence counts, so every
 * derived sum equals the from-scratch computation bit-for-bit and the
 * DuckDB oracles (which recompute from raw text) still hash-match.
 */
object TextIndex {

  /** Bumped whenever the staged layout changes. */
  private val LayoutVersion = "v1"

  final case class StagedPaths(bgc: String, dsir: String)

  /** Ensure the profile store exists for `dir`; builds at most once
    * per source fingerprint. */
  def ensure(s: SparkSession, dir: String): StagedPaths = {
    val fp = s"${Staging.fingerprint(dir, "documents.parquet")}-$LayoutVersion"
    val base = Staging.ensure("textidx", fp) { tmp =>
      TextOps.charBigramProfile(s, dir).write.parquet(tmp.resolve("bgc").toString)
      TextOps.dsirFeatureProfile(s, dir).write.parquet(tmp.resolve("dsir").toString)
    }
    StagedPaths(base.resolve("bgc").toString, base.resolve("dsir").toString)
  }
}
