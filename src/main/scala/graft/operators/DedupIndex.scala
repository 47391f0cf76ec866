package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Offline dedup SIGNATURE STORE, staged to parquet once per corpus
 * fingerprint — the artifact every production training-data pipeline
 * keeps between runs so dedup work is never repeated:
 *
 *   hset/   (doc_id, hs: array<long>, n)  per-doc minhash hash-sets
 *   bands/  (doc_id, band, bkey)          LSH band keys
 *   pairs/  (doc_id1, doc_id2)            jaccard-verified dup pairs
 *   rset/   (doc_id, n, set: array<long>)   52-bit-hashed shingle sets
 *           sorted by GLOBAL RARITY (document frequency asc, hash asc)
 *           — the prefix-filter ordering both exact similarity joins
 *           need, with no string in the artifact or any later shuffle
 *   fpos/   (doc_id, pos, fp)               mod-p-sampled rolling-window
 *           fingerprints (LBFS/MOSS family) WITH their 1-based window
 *           start positions — `dedup_spans` probes these
 *   fps/    (doc_id, fp)                    the same fingerprints
 *           collapsed to DISTINCT doc-level sets (derived from fpos/ in
 *           one column-pruned pass) — `dedup_substring` probes these
 *   wfp/    (doc_id, pos, fp)               WINNOWING selections
 *           (Schleimer et al. SIGMOD'03): per-doc windowed argmin over
 *           the same rolling-window hashes — `dedup_winnow` reads it
 *           verbatim, `dedup_winnow_pairs` mines it
 *   sim/    (doc_id, simhash)               32-bit SimHash fingerprints
 *           — `dedup_simhash` reads it, `dedup_simhash_pairs` mines it
 *           via byte blocking
 *
 * Consumers: `dedup_cluster` reads `pairs` (cluster resolution is the
 * query; pair mining is index build — the same split as IvfIndex's
 * build vs probe), `dedup_incremental` joins a new batch's band
 * keys against `bands`/`hset` so the existing corpus is never
 * re-shingled, and `dedup_ngram_jaccard`/`dedup_containment` slice
 * their threshold-specific prefixes off `rset` (the rarity sort is
 * threshold-independent, so one artifact serves every exact join).
 * Staleness safety and build atomicity come from [[Staging]]
 * (fingerprint of the documents.parquet file metadata).
 */
object DedupIndex {

  /** Bumped whenever the staged layout changes: a dir staged by older
    * code must not be served to code expecting new artifacts. */
  private val LayoutVersion = "v8"

  /** Build-leg wall-clock logging (stderr, build time only) — the cold
    * staging cost is a reported bench phase, so each leg's share must
    * stay measurable without re-instrumenting. */
  private def leg[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[dedup-index] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  final case class StagedPaths(hset: String, bands: String, pairs: String,
      rset: String, fps: String, fpos: String, wfp: String, sim: String)

  /** Ensure the signature store exists for `dir`; builds at most once
    * per source fingerprint. */
  def ensure(s: SparkSession, dir: String): StagedPaths = {
    val fp = s"${Staging.fingerprint(dir, "documents.parquet")}-$LayoutVersion"
    val base = Staging.ensure("dedup", fp) { tmp =>
      // One corpus pass: the cached hash-set frame feeds the hset dump,
      // the band projection, and both sides of the pair verification.
      val hset = Dedup.minhashHset(s, dir).cache()
      try {
        leg("hset")(hset.write.parquet(tmp.resolve("hset").toString))
        leg("bands")(Dedup.bandsOf(hset).write.parquet(tmp.resolve("bands").toString))
        // candidate self-join reads the just-written band table so the
        // signature computation doesn't run once per join side
        val sb = s.read.parquet(tmp.resolve("bands").toString)
        val cand = sb.alias("x")
          .join(sb.alias("y"), Seq("band", "bkey"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_id1"), col("y.doc_id").as("doc_id2"))
          .distinct()
        leg("pairs")(Dedup.verifyJaccard(cand, hset, hset, "doc_id1", "doc_id2")
          .write.parquet(tmp.resolve("pairs").toString))
      } finally hset.unpersist(): Unit
      leg("rset")(Dedup.raritySortedSets(s, dir).write.parquet(tmp.resolve("rset").toString))
      // ONE tokenization + Rabin-Karp pass feeds both fingerprint
      // selections: the full window-hash frame lands in a build-local
      // parquet dir (disk-backed — at corpus scale this is the scratch
      // dataset an offline index build would stage anyway), fpos/ is
      // its mod-p filter and wfp/ its winnowing argmin, then the
      // scratch dir is dropped before the atomic rename.
      val whDir = tmp.resolve("_wh_scratch")
      leg("wh_scratch")(Dedup.windowHashes(s, dir).write.parquet(whDir.toString))
      val wh = s.read.parquet(whDir.toString)
      leg("fpos")(wh.filter(col("fp") % Dedup.WinSelMod === 0)
        .write.parquet(tmp.resolve("fpos").toString))
      leg("wfp")(Dedup.winnowSelection(wh).write.parquet(tmp.resolve("wfp").toString))
      Staging.deleteRecursively(whDir)
      // fps/ is the doc-level distinct projection of fpos/ — derived
      // from the just-written artifact (a column-pruned parquet scan),
      // never a second corpus tokenization pass
      leg("fps")(s.read.parquet(tmp.resolve("fpos").toString)
        .select("doc_id", "fp").distinct()
        .write.parquet(tmp.resolve("fps").toString))
      leg("sim")(Dedup.simhashBuild(s, dir).write.parquet(tmp.resolve("sim").toString))
    }
    StagedPaths(base.resolve("hset").toString,
      base.resolve("bands").toString, base.resolve("pairs").toString,
      base.resolve("rset").toString, base.resolve("fps").toString,
      base.resolve("fpos").toString, base.resolve("wfp").toString,
      base.resolve("sim").toString)
  }
}

/** Staged DISTINCT-set grouping of the corpus (doc_id, n, set, rn,
  * rep): every doc tagged with its shingle-set group's representative
  * (minimum doc id) and within-group rank — the frame both capped
  * exact PPJoin miners (#225/#226) reconstruct from. The two
  * array-shuffling windows that compute it are index BUILD (once per
  * corpus fingerprint); queries read column-pruned slices (the
  * shortlist and member joins never touch the set arrays). */
object SetGroupIndex {
  private val LayoutVersion = "v1"

  /** Ensure the group table exists for `dir`; returns the gset/ path. */
  def ensure(s: SparkSession, dir: String): String = {
    val key = s"${Staging.fingerprint(dir, "documents.parquet")}-$LayoutVersion"
    val base = Staging.ensure("gset", key) { tmp =>
      Dedup.setGroups(s.read.parquet(DedupIndex.ensure(s, dir).rset))
        .write.parquet(tmp.resolve("gset").toString)
    }
    base.resolve("gset").toString
  }
}

/** Staged DISTINCT-vector grouping of the embeddings corpus (vec_id,
  * embedding, rn, rep) — the [[SetGroupIndex]] discipline for #200's
  * copy-count-invariant mining: bit-identical embeddings group once at
  * build time; the capped miner's member/shortlist joins read pruned
  * (vec_id, rn, rep) slices without the vectors. */
object VecGroupIndex {
  private val LayoutVersion = "v1"

  /** Ensure the group table exists for `dir`; returns the vgrp/ path. */
  def ensure(s: SparkSession, dir: String): String = {
    val key = s"${Staging.fingerprint(dir, "embeddings.parquet")}-$LayoutVersion"
    val base = Staging.ensure("vgrp", key) { tmp =>
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy("embedding").orderBy("vec_id")
      graft.core.Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("rep", min("vec_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("embedding")))
        .write.parquet(tmp.resolve("vgrp").toString)
    }
    base.resolve("vgrp").toString
  }
}

/** Staged cluster assignment of the HISTORICAL corpus: (doc_id,
  * cluster_id) over the old-only dup pairs — the state a production
  * dedup pipeline carries between ingest cycles, so arriving documents
  * can be ASSIGNED to existing cluster ids without re-running
  * connected components over history. The old slice's pairs are the
  * staged pair artifact restricted to old×old endpoints (band keys and
  * the verify depend only on a doc's own shingles, so the restriction
  * IS the old-only mining output). Reference analogue: the
  * rick→SSTable merge discipline (reference level.rs) — absorb the
  * fresh tail without rewriting history. */
object OldClusterIndex {
  private val LayoutVersion = "v1"

  /** Ensure the old-corpus cluster table exists for `dir`; returns the
    * clus/ path. The old/new split ([[Dedup.IncrMod]]/[[Dedup.IncrRem]])
    * governs the artifact's content, so it is part of the staging key —
    * changing the arrival regime can never serve a stale cluster state. */
  def ensure(s: SparkSession, dir: String): String = {
    val key = s"${Staging.fingerprint(dir, "documents.parquet")}" +
      s"-m${Dedup.IncrMod}r${Dedup.IncrRem}-$LayoutVersion"
    val base = Staging.ensure("clusold", key) { tmp =>
      val notNew = (c: org.apache.spark.sql.Column) =>
        c % Dedup.IncrMod =!= Dedup.IncrRem
      Dedup.clusterDups(s, dir, (ss, d) =>
          Dedup.stagedPairs(ss, d)
            .filter(notNew(col("doc_id1")) && notNew(col("doc_id2"))))
        .select("doc_id", "cluster_id")
        .write.parquet(tmp.resolve("clus").toString)
    }
    base.resolve("clus").toString
  }
}

/** Staged Bloom filter of the HISTORICAL corpus' boilerplate
  * signatures (xxhash64 of [[Dedup.bloomKey]]) — the membership gate in
  * front of #209's incremental dedup. Built ONCE per corpus fingerprint by
  * Catalyst's distributed BloomFilterAggregate (partial blooms OR
  * together map-side — no driver-side pass over the corpus); the
  * artifact is one binary row whose size is the n/fpp tradeoff
  * (~1.44·n·log₂(1/fpp) bits), never the corpus. */
object BloomIndex {
  /** Bumped whenever the membership key or layout changes: a bloom
    * staged by older code must not gate new probes. */
  private val LayoutVersion = "v2"

  /** Ensure the bloom exists for `dir`; returns the bf/ path. The
    * old/new split governs which docs enter the bloom, so
    * [[Dedup.IncrMod]]/[[Dedup.IncrRem]] are part of the staging key. */
  def ensure(s: SparkSession, dir: String): String = {
    val key = s"${Staging.fingerprint(dir, "documents.parquet")}" +
      s"-m${Dedup.IncrMod}r${Dedup.IncrRem}-$LayoutVersion"
    val base = Staging.ensure("bloom", key) { tmp =>
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val old = graft.core.Tables.documents(s, dir)
        .filter(!(col("doc_id") % Dedup.IncrMod === Dedup.IncrRem))
        .select(xxhash64(Dedup.bloomKey).as("h64"))
      // size the bloom to the corpus-side cardinality — a count over a
      // column-pruned scan, index-build cost paid once per corpus
      val n = math.max(old.count(), 1L)
      val agg = new BloomFilterAggregate(
        ColumnBridge.expression(col("h64")), n).toAggregateExpression()
      old.agg(ColumnBridge.column(agg).as("bloom"))
        .write.parquet(tmp.resolve("bf").toString)
    }
    base.resolve("bf").toString
  }
}
