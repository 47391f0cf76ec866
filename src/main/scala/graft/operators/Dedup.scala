package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/**
 * Document deduplication operators for training-data pipelines.
 *
 * Shared canonical tokenization: lowercase, split on whitespace, drop
 * empties. Shingles are distinct word-3-grams.
 *
 * Scale notes:
 *  - exact dedup: one hash-groupBy shuffle — the cheapest possible.
 *  - jaccard: explode-join on shingle; at 100 TB the shingle join is the
 *    skew risk (common shingles fan out), which is exactly why MinHash+LSH
 *    exists: candidates come from tiny band buckets (16 hashes → 4 bands),
 *    so the join is on band keys with bounded fanout, and the exact
 *    jaccard check runs only on candidates.
 *  - all hashing is md5 (the one hash both the engine and the DuckDB
 *    oracle compute identically); jaccard thresholds compare as pure
 *    integers (c*10 >= 8*union) so no float crosses an engine boundary.
 */
object Dedup {
  val NumHashes = 16
  val NumBands = 4 // 4 rows per band
  /** Jaccard threshold 0.8 as a ratio (numerator, denominator). */
  val ThreshNum = 8
  val ThreshDen = 10
  /** Containment threshold 0.9 as a ratio (numerator, denominator). */
  val ContainNum = 9
  val ContainDen = 10

  /** Canonical token array column. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= "")

  /** Distinct word-3-gram shingles of an ALREADY-MATERIALIZED token
    * array column. The column must be a bound attribute, not the
    * tokenize expression itself: lambdas aren't codegen'd, so an inlined
    * tokens(text) subtree would re-split the whole document once per
    * shingle position (O(len²) — measured 10× slowdown).
    * (Guarded: Spark's sequence(1, n) with n < 1 counts DOWN, so short
    * docs need an explicit empty array.) */
  def shinglesOf(t: Column): Column =
    when(size(t) >= 3,
      array_distinct(transform(
        sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** Convenience form over a raw text column (tests only — operator
    * paths materialize the token column first). */
  def shingles(c: Column): Column = shinglesOf(tokens(c))

  /** (doc_id, shingle) exploded-distinct frame; `docFilter` restricts
    * the source docs (pushed into the parquet scan). */

  /** 52-bit md5-prefix hash of a shingle (13 hex chars — positive in a
    * signed i64, and the DuckDB oracle computes the identical value via
    * ('0x' || substr(md5(s), 1, 13))::BIGINT). Staging hashes shingles
    * ONCE so no string ever enters a shuffle or a staged artifact: the
    * candidate joins and the exact-intersection verify all run over
    * longs. Jaccard/containment are then over DISTINCT HASHED shingles —
    * a collision (~|S|²/2^53 expected corpus-wide, ≪1 at any tested SF)
    * is mirrored exactly by the oracle, the same documented deviation
    * the minhash verify already carries. */
  private[graft] def shingleHash(c: Column): Column =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  /** Index-build producer for [[DedupIndex]] rset/: per doc, the
    * distinct HASHED shingle set sorted by GLOBAL rarity — (document
    * frequency, hash) ascending — plus its size. Prefix filtering's
    * correctness needs only a corpus-wide total order that favors rare
    * shingles; that order is threshold-independent, so one staged sort
    * serves both the jaccard and the containment joins, each slicing
    * its own prefix length at probe time. The post-hash distinct
    * mirrors the oracle's DISTINCT(doc_id, hash) so a within-doc
    * collision (were one ever to occur) collapses identically. */
  private[operators] def raritySortedSets(s: SparkSession, dir: String): DataFrame = {
    // Per-doc distinct is MAP-SIDE (doc_id keys every exploded pair, so
    // corpus-wide DISTINCT(doc_id, g) IS array_distinct over the row's
    // own hashed shingles — r21, guide §2.4): the old explode+distinct
    // exchange is gone, and the exploded rows are 8-byte longs, never
    // strings. Document frequency then comes from a g-partitioned
    // window over those per-doc-distinct rows — the same by-g exchange
    // the old rarity join already paid (a boilerplate shingle funnels
    // one key's rows either way), minus the separate df aggregate and
    // the join's second shuffle of sh: 4 exchanges -> 2.
    val sh = Tables.documents(s, dir).select(col("doc_id"),
      explode(Multimodal.bind(tokens(col("text")))(t =>
        array_distinct(transform(shinglesOf(t), shingleHash(_))))).as("g"))
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(struct(col("df"), col("g")))).as("byRarity"))
      .select(col("doc_id"), col("n"), col("byRarity.g").as("set"))
  }

  /** #16 — exact dedup: group identical texts by md5, keep the lowest id. */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))

  /** #88 — prefix dedup: group docs whose first 64 characters match —
    * catches shared boilerplate headers/templates that full-content
    * hashing misses (the bodies differ). Same one-shuffle hash-group
    * shape as [[exact]]; only groups with an actual collision emit. */
  def prefixDups(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(substring(col("text"), 1, 64)).as("prefix_md5"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))
      .filter(col("n_docs") >= 2)

  /** #54 — survivorship for exact-dup groups: every doc keeps its group
    * id (the text md5) and a keep flag — the survivor is the longest doc
    * in the group, ties to the lowest doc_id. One window over the same
    * md5 shuffle exact() uses; at 100 TB group sizes are bounded by the
    * dup rate, so no partition ever holds more than one group's docs. */
  def survivor(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("text_md5")
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("text_md5", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("text_md5"),
        (col("rn") === 1).cast("int").as("keep"))
  }

  /** #17 — n-gram Jaccard dedup, EXACT via prefix filtering (the
    * PPJoin family, Chaudhuri et al. / Xiao et al.): a pair with
    * jaccard >= t MUST share a shingle within each side's "prefix" —
    * its n - ceil(t*n) + 1 globally-RAREST shingles — so candidates
    * come from a join on prefix shingles only. A shingle shared by
    * thousands of docs is (by its own frequency) never in a prefix,
    * which kills the hot-shingle fanout the naive self-join suffers at
    * scale, with ZERO recall loss: candidates are then verified by an
    * exact set intersection over the full shingle sets. Jaccard is over
    * distinct 52-bit [[shingleHash]]ed shingles; the oracle hashes
    * identically, so the two engines agree bit-for-bit. */
  /** #185 — LSH RECALL report: |LSH ∩ exact| / |exact| over the
    * jaccard-duplicate pairs — the text-dedup leg of the index-health
    * matrix (emb_ivf_recall / ann_pq_recall / mm_phash_precision for
    * their indexes): before an exact verify pass is dropped at 100 TB,
    * measure how much the banded probe actually recovers at the scale
    * where exact truth is still computable. Both sides are the
    * registered staged-probe pipelines; the intersection is one
    * pair-keyed join; 1-row output, two mirrored divisions. */
  def lshRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = ngramJaccard(s, dir).localCheckpoint()
    // the LSH side is the STAGED pair table (DedupIndex pairs/ —
    // byte-identical to running the banded probe: pairs/ IS the
    // verified minhashLsh output, the same artifact dedup_cluster
    // resolves over); the exact side must run — it is the ground truth
    // being measured against
    val lsh = stagedPairs(s, dir)
    val hit = exact.join(lsh, Seq("doc_id1", "doc_id2"))
      .agg(count(lit(1)).as("n_hit"))
    // empty-denominator guard: a corpus with no duplicate pairs reports
    // NULL recall/precision (mirrored by NULLIF in the oracle) instead
    // of relying on both engines' IEEE x/0 conventions agreeing
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(broadcast(hit))
      .select(col("n_exact"), col("n_lsh"), col("n_hit"),
        when(col("n_exact") === 0, lit(null).cast("double"))
          .otherwise(col("n_hit").cast("double") / col("n_exact")).as("recall"),
        when(col("n_lsh") === 0, lit(null).cast("double"))
          .otherwise(col("n_hit").cast("double") / col("n_lsh")).as("precision"))
  }

  /** Staged rset/ path accessor for cross-file consumers (TextOps #155). */
  def tokensIndexRset(s: SparkSession, dir: String): String =
    DedupIndex.ensure(s, dir).rset

  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    // The rarity-sorted HASHED shingle sets come from the STAGED
    // signature store ([[DedupIndex]] rset/): the shingle explode, the
    // hashing, the global document-frequency shuffle, and the per-doc
    // rarity sort are index build, paid once per corpus — the query
    // pays only the threshold-specific prefix slice, the candidate
    // join, and the exact verification, all over longs (no string ever
    // shuffles). Each consumer re-reads the (column-pruned) staged
    // parquet, so no cached frame outlives the query.
    //   prefixLen = n - ceil(t*n) + 1, ceil(8n/10) = (8n + 9) div 10
    val docs = Tables.parquet(s, DedupIndex.ensure(s, dir).rset)
      .withColumn("prefixLen",
        expr(s"n - ((n * $ThreshNum + $ThreshDen - 1) div $ThreshDen) + 1"))
      .select(col("doc_id"), col("n"), col("set"),
        slice(col("set"), lit(1), col("prefixLen").cast("int")).as("prefix"))
    val pre = docs.select(col("doc_id"), explode(col("prefix")).as("s"))
    val cand = pre.select(col("doc_id").as("doc_id1"), col("s"))
      .join(pre.select(col("doc_id").as("doc_id2"), col("s")), "s")
      .filter(col("doc_id1") < col("doc_id2"))
      .select("doc_id1", "doc_id2")
      .distinct()
    // exact verification over the full sets — candidate count is
    // bounded by prefix-shingle rarity, so the set scan stays cheap
    cand
      .join(docs.select(col("doc_id").as("doc_id1"),
        col("set").as("s1"), col("n").as("n1")), "doc_id1")
      .join(docs.select(col("doc_id").as("doc_id2"),
        col("set").as("s2"), col("n").as("n2")), "doc_id2")
      .withColumn("c", size(array_intersect(col("s1"), col("s2"))))
      .filter(col("c") * ThreshDen >= lit(ThreshNum) * (col("n1") + col("n2") - col("c")))
      .select("doc_id1", "doc_id2")
  }

  /** Scored PPJoin core over any (doc_id, n, set) rarity-sorted frame
    * — [[ngramJaccard]]'s candidate + verify pipeline keeping the
    * jaccard, parameterized so the capped miner can run it over the
    * DISTINCT-set representative frame instead of the corpus. */
  private def ppJaccardScored(rset: DataFrame): DataFrame = {
    val docs = rset
      .withColumn("prefixLen",
        expr(s"n - ((n * $ThreshNum + $ThreshDen - 1) div $ThreshDen) + 1"))
      .select(col("doc_id"), col("n"), col("set"),
        slice(col("set"), lit(1), col("prefixLen").cast("int")).as("prefix"))
    val pre = docs.select(col("doc_id"), explode(col("prefix")).as("s"))
    val cand = pre.select(col("doc_id").as("doc_id1"), col("s"))
      .join(pre.select(col("doc_id").as("doc_id2"), col("s")), "s")
      .filter(col("doc_id1") < col("doc_id2"))
      .select("doc_id1", "doc_id2").distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_id1"),
        col("set").as("s1"), col("n").as("n1")), "doc_id1")
      .join(docs.select(col("doc_id").as("doc_id2"),
        col("set").as("s2"), col("n").as("n2")), "doc_id2")
      .withColumn("c", size(array_intersect(col("s1"), col("s2"))))
      .filter(col("c") * ThreshDen >= lit(ThreshNum) * (col("n1") + col("n2") - col("c")))
      .select(col("doc_id1"), col("doc_id2"),
        (col("c").cast("double") /
          (col("n1") + col("n2") - col("c")).cast("double")).as("jaccard"))
  }

  /** Distinct shingle-SET grouping of the staged rset: each doc tagged
    * with its group's representative (minimum doc id) and within-group
    * rank — the [[cappedHamPairs]] signature discipline lifted from
    * 32-bit fingerprints to whole hashed shingle sets (the rset arrays
    * are deterministically rarity-sorted, so set equality IS array
    * equality). Both windows share one (set) exchange. Under
    * planted-copy mass this is what turns the quadratic identical-set
    * blowup into per-group bounded work: the exact-threshold miner
    * runs over DISTINCT sets only, and per-doc pairs reconstruct from
    * each group's m+1 smallest ids. */
  private[operators] def setGroups(rset: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("set").orderBy("doc_id")
    rset
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("rep", min("doc_id").over(Window.partitionBy("set")))
      .select("doc_id", "n", "set", "rn", "rep")
  }

  /** #225 — dedup_ngram_jaccard with the per-doc cap: each doc keeps
    * its [[PairCapM]] most-similar verified neighbours (exact jaccard
    * desc, nbr id asc), completing the capped family for the EXACT
    * PPJoin miner. Candidates and verify run over DISTINCT shingle-set
    * representatives only ([[setGroups]]); identical-set siblings are
    * jaccard-1.0 pairs reconstructed from each group's m+1 smallest
    * ids (cross-group jaccard of distinct sets is strictly < 1, and a
    * group's pairwise score is every member's score, so the per-doc
    * top-m over {siblings} ∪ {paired groups' m+1 smallest ids} equals
    * the top-m over ALL pairs exactly — the [[cappedHamPairs]] lemma,
    * spec-proved against the full-frame recompute). */
  def ngramJaccardCapped(s: SparkSession, dir: String): DataFrame = {
    val m = PairCapM
    // the STAGED group table ([[SetGroupIndex]]): the array-shuffling
    // grouping windows are index build; each consumer re-reads the
    // column-pruned staged parquet (shortlist and member joins never
    // touch the set arrays)
    val dr = Tables.parquet(s, SetGroupIndex.ensure(s, dir))
    val g = dr.filter(col("rn") === 1)
      .select(col("rep").as("doc_id"), col("n"), col("set"))
    val gpSym = symmetrize(ppJaccardScored(g),
      "doc_id1", "doc_id2", "jaccard", "r", "o")
    val gTop = dr.filter(col("rn") <= m + 1)
      .select(col("rep").as("orep"), col("doc_id").as("nbr_id"))
    val sib = dr.select(col("doc_id"), col("rep"))
      .join(gTop, col("rep") === col("orep"))
      .filter(col("nbr_id") =!= col("doc_id"))
      .select(col("doc_id"), col("nbr_id"), lit(1.0).as("jaccard"))
    val near = dr.select(col("doc_id"), col("rep"))
      .join(gpSym, col("rep") === col("r"))
      .join(gTop, col("o") === col("orep"))
      .select(col("doc_id"), col("nbr_id"), col("jaccard"))
    val w = Window.partitionBy("doc_id").orderBy(col("jaccard").desc, col("nbr_id"))
    sib.unionAll(near)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= m)
      .select("doc_id", "rnk", "nbr_id", "jaccard")
  }

  /** #78 — asymmetric containment dedup: ORDERED pairs (a, b) with
    * |Sa ∩ Sb| >= 0.9·|Sa| — "a is 90% inside b". Catches
    * boilerplate-wrapped and quote-inclusion duplicates whose symmetric
    * jaccard dives below threshold because b is much larger than a.
    * EXACT via the containment form of prefix filtering: at most
    * n_a − ⌈0.9·n_a⌉ of a's shingles fall outside the intersection, so
    * a's rarest n_a − ⌈0.9·n_a⌉ + 1 shingles (its prefix) must hit Sb —
    * candidates come from joining a's PREFIX against b's full set, and
    * b-side hot shingles can pair only with the few docs rare-prefixed
    * on them. Verification is an exact intersection on candidates only
    * (over [[shingleHash]]ed shingles, mirrored by the oracle). */
  def containment(s: SparkSession, dir: String): DataFrame = {
    // staged rset, per-query prefix slice: see ngramJaccard
    val docs = Tables.parquet(s, DedupIndex.ensure(s, dir).rset)
      .withColumn("prefixLen",
        expr(s"n - ((n * $ContainNum + $ContainDen - 1) div $ContainDen) + 1"))
      .select(col("doc_id"), col("n"), col("set"),
        slice(col("set"), lit(1), col("prefixLen").cast("int")).as("prefix"))
    val pre = docs.select(col("doc_id").as("doc_id1"), explode(col("prefix")).as("s"))
    val full = docs.select(col("doc_id").as("doc_id2"), explode(col("set")).as("s"))
    val cand = pre.join(full, "s")
      .filter(col("doc_id1") =!= col("doc_id2"))
      .select("doc_id1", "doc_id2").distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_id1"),
        col("set").as("s1"), col("n").as("n1")), "doc_id1")
      .join(docs.select(col("doc_id").as("doc_id2"), col("set").as("s2")), "doc_id2")
      .withColumn("c", size(array_intersect(col("s1"), col("s2"))))
      .filter(col("c") * ContainDen >= lit(ContainNum) * col("n1"))
      .select("doc_id1", "doc_id2")
  }

  /** Scored containment core over any (doc_id, n, set) frame —
    * [[containment]]'s prefix-filtered candidates + exact verify
    * keeping the score c/|Sa|, parameterized for the capped miner. */
  private def ppContainScored(docs0: DataFrame): DataFrame = {
    val docs = docs0
      .withColumn("prefixLen",
        expr(s"n - ((n * $ContainNum + $ContainDen - 1) div $ContainDen) + 1"))
      .select(col("doc_id"), col("n"), col("set"),
        slice(col("set"), lit(1), col("prefixLen").cast("int")).as("prefix"))
    val pre = docs.select(col("doc_id").as("doc_id1"), explode(col("prefix")).as("s"))
    val full = docs.select(col("doc_id").as("doc_id2"), explode(col("set")).as("s"))
    val cand = pre.join(full, "s")
      .filter(col("doc_id1") =!= col("doc_id2"))
      .select("doc_id1", "doc_id2").distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_id1"),
        col("set").as("s1"), col("n").as("n1")), "doc_id1")
      .join(docs.select(col("doc_id").as("doc_id2"), col("set").as("s2")), "doc_id2")
      .withColumn("c", size(array_intersect(col("s1"), col("s2"))))
      .filter(col("c") * ContainDen >= lit(ContainNum) * col("n1"))
      .select(col("doc_id1"), col("doc_id2"),
        (col("c").cast("double") / col("n1").cast("double")).as("containment"))
  }

  /** #226 — dedup_containment with the per-doc cap: each doc keeps the
    * [[PairCapM]] neighbours it is MOST contained in (containment
    * desc, nbr id asc). Directional pairs mine over DISTINCT-set
    * representatives only (no symmetrization — the miner emits both
    * orientations itself); identical-set siblings are containment-1.0
    * rows from each group's m+1 smallest ids. A strict-subset pair can
    * also score exactly 1.0 — the id tiebreak totalizes the order, and
    * both families are in the candidate pool, so the reconstruction is
    * exact (spec-proved against the full-frame recompute). */
  def containmentCapped(s: SparkSession, dir: String): DataFrame = {
    val m = PairCapM
    // staged group table: see ngramJaccardCapped
    val dr = Tables.parquet(s, SetGroupIndex.ensure(s, dir))
    val g = dr.filter(col("rn") === 1)
      .select(col("rep").as("doc_id"), col("n"), col("set"))
    val gdir = ppContainScored(g)
      .select(col("doc_id1").as("r"), col("doc_id2").as("o"), col("containment"))
    val gTop = dr.filter(col("rn") <= m + 1)
      .select(col("rep").as("orep"), col("doc_id").as("nbr_id"))
    val sib = dr.select(col("doc_id"), col("rep"))
      .join(gTop, col("rep") === col("orep"))
      .filter(col("nbr_id") =!= col("doc_id"))
      .select(col("doc_id"), col("nbr_id"), lit(1.0).as("containment"))
    val near = dr.select(col("doc_id"), col("rep"))
      .join(gdir, col("rep") === col("r"))
      .join(gTop, col("o") === col("orep"))
      .select(col("doc_id"), col("nbr_id"), col("containment"))
    val w = Window.partitionBy("doc_id").orderBy(col("containment").desc, col("nbr_id"))
    sib.unionAll(near)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= m)
      .select("doc_id", "rnk", "nbr_id", "containment")
  }

  /** #103 dedup_substring constants: window length in tokens, mod-p
    * sampling rate (≈1/4 of windows become fingerprints; an expected
    * shared run of WinK + 2·WinSelMod tokens yields ≥2 sampled
    * fingerprints), boilerplate document-frequency cap, and the
    * minimum shared-fingerprint count for a pair to emit. */
  val WinK = 8
  val WinSelMod = 4L
  val WinDfCap = 64
  val WinMinShared = 2

  /** Every [[WinK]]-token rolling-window hash with its 1-based start
    * position — the shared upstream of BOTH fingerprint selections in
    * [[DedupIndex]] (mod-p sampling for fpos/fps/, winnowing for
    * wfp/): one tokenization, one Rabin-Karp pass (the same fold as
    * text_rolling_hash: TextOps.RollB/RollP over 32-bit md5 token
    * prefixes), map-side only, O(n·WinK).
    *
    * The mod-p selection (fp ≡ 0 mod [[WinSelMod]], applied at stage
    * time) is the LBFS/MOSS content-defined fingerprint family
    * (Manber '94; Schleimer et al. SIGMOD'03) — the signal public
    * training-data pipelines use for EXACT SUBSTRING duplication:
    * ~1/WinSelMod of windows are stored, yet any sufficiently long
    * shared span lands ≥1 sampled fingerprint on both sides. The pos
    * column is what lets [[substringSpans]] lift pair mining to span
    * granularity; the pair probe collapses to DISTINCT (doc_id, fp)
    * at stage time (fps/ vs fpos/). */
  private[graft] def windowHashes(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= WinK)
      .select(col("doc_id"),
        transform(col("t"),
          w => conv(substring(md5(w), 1, 8), 16, 10).cast("long")).as("h"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("h")) - (WinK - 1)),
          i => aggregate(slice(col("h"), i, lit(WinK)), lit(0L),
            (acc, x) => (acc * TextOps.RollB + x) % TextOps.RollP))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("fp"))

  /** #103 — substring-level dup pair mining: docs sharing >= WinMinShared
    * sampled window fingerprints (i.e. exact WinK-token runs), the
    * duplication class jaccard/minhash miss when a long copied span
    * hides inside two otherwise-different documents. Probes the staged
    * fingerprint table ([[DedupIndex]] fps/); fingerprints seen in more
    * than WinDfCap docs are dropped BEFORE pairing (boilerplate guard —
    * at corpus scale a viral snippet would otherwise fan out df²
    * pairs; the cap is mirrored by the oracle so the engines agree).
    * The guard is a map-side-combinable count whose OVER-CAP survivors
    * form a tiny list anti-joined back (AQE broadcasts it) — NOT a
    * per-fp window, which would funnel every row of a hot fingerprint
    * through one task, the exact failure the cap guards against. After
    * the cap, self-join fanout is bounded by WinDfCap² per fp. */
  def substringPairs(s: SparkSession, dir: String): DataFrame = {
    val fps = Tables.parquet(s, DedupIndex.ensure(s, dir).fps)
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > WinDfCap).select("fp")
    val sel = fps.join(hot, Seq("fp"), "left_anti")
    sel.select(col("doc_id").as("doc_id1"), col("fp"))
      .join(sel.select(col("doc_id").as("doc_id2"), col("fp")), "fp")
      .filter(col("doc_id1") < col("doc_id2"))
      .groupBy("doc_id1", "doc_id2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinMinShared)
  }

  /** #106 — dedup SPAN extraction: per-doc maximal token intervals in
    * which every token lies inside a sampled [[WinK]]-token window
    * shared verbatim with at least one other document — the "remove
    * the duplicated span, keep the rest of the doc" granularity real
    * pipelines apply after pair mining (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — public; their
    * ExactSubstr removal). Probes the POSITIONED fingerprint artifact
    * ([[DedupIndex]] fpos/): a fingerprint is "shared" when 2..WinDfCap
    * distinct docs carry it (the same boilerplate df cap as
    * [[substringPairs]], mirrored in the oracle); a doc's shared window
    * starts merge into islands wherever the next start is within WinK
    * of the previous (their WinK-token coverages overlap or exactly
    * adjoin, so island coverage is contiguous). Output one row per
    * island: (doc_id, span_start, span_len), 1-based tokens.
    *
    * Scale shape: one fp-keyed groupBy for the df filter (map-side
    * combinable), the shared-fp semi-join, then ONE doc_id shuffle
    * carrying only shared window POSITIONS (≤ n_tokens/WinSelMod longs
    * per doc) for the lag + running-sum island windows — partitions
    * bounded by per-doc window counts, never corpus-wide. */
  def substringSpans(s: SparkSession, dir: String): DataFrame = {
    val fpos = Tables.parquet(s, DedupIndex.ensure(s, dir).fpos)
    val docFps = fpos.select("doc_id", "fp").distinct()
    val shared = docFps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= WinDfCap)
      .select("fp")
    val pos = fpos.join(shared, "fp").select("doc_id", "pos").distinct()
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    pos
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byPos) <= WinK, 0L).otherwise(1L))
      .withColumn("isl", sum("brk").over(byPos))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(WinK.toLong) - min("pos")).as("span_len"))
      .select("doc_id", "span_start", "span_len")
  }

  /** #169 — duplicated-SPAN REMOVAL (the second half of Lee et al.
    * 2022's ExactSubstr pipeline — #106 finds the duplicated regions,
    * this EXCISES them): every token whose 1-based position falls
    * inside any of the doc's mined spans is dropped, and the cleaned
    * doc is emitted as (token counts + content hash). Spans collapse
    * to one per-doc array (one doc-keyed shuffle off the staged-probe
    * span miner); removal is a pure in-array indexed filter — per-row
    * cost bounded by tokens × spans of ONE doc, nothing corpus-shaped
    * beyond the doc-keyed join. The cleaned-text md5 crossing the
    * oracle makes the whole reconstruction bit-checked. */
  def spanRemoval(s: SparkSession, dir: String): DataFrame = {
    val spans = substringSpans(s, dir)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("sp"))
    graft.core.Tables.documents(s, dir)
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"), col("t"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("kt", when(col("sp").isNull, col("t"))
        .otherwise(filter(col("t"), (_, i) =>
          size(filter(col("sp"), q =>
            (i + 1) >= q.getField("span_start") &&
              (i + 1) < q.getField("span_start") + q.getField("span_len"))) === 0)))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        (size(col("t")) - size(col("kt"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("kt"))).as("clean_md5"))
  }

  /** MinHash permutation family h_i(x) = (a_i*x + b_i) mod P over the
    * 32-bit md5 prefix of a shingle — one md5 per shingle, 16 integer
    * perms (P prime > 2^32; a_i odd and small so a_i*x stays in i64). */
  val MinhashP = 4294967311L
  def mhA(i: Int): Long = 2L * i + 1
  def mhB(i: Int): Long = 97L + 31L * i

  /** The per-doc minhash hash-set frame (doc_id, hs: array<long>, n):
    * shingles hash to 32-bit longs map-side, ONE groupBy collects each
    * doc's distinct hash-set — strings never leave the first projection
    * and no per-shingle join exists at all. This is the corpus
    * "signature store" [[DedupIndex]] persists. */
  private[operators] def minhashHset(s: SparkSession, dir: String,
      docFilter: Option[Column] = None): DataFrame = {
    // MAP-SIDE per-doc distinct (the incrementalPairsOf pattern, r21):
    // doc_id keys every shingle of a row, so the corpus-wide
    // collect_set exchange reduced to array_distinct over the row's own
    // shingle hashes — zero shuffles (guide §2.4). Consumers are
    // element-order-insensitive (minhashSig min-fold, array_intersect
    // size, array_sort keys). Docs too short to shingle drop on the
    // size filter exactly as the old explode dropped them.
    val base = docFilter.foldLeft(Tables.documents(s, dir))(_.filter(_))
    base.select(col("doc_id"),
        Multimodal.bind(tokens(col("text")))(t =>
          array_distinct(transform(shinglesOf(t),
            sh => conv(substring(md5(sh), 1, 8), 16, 10).cast("long")))).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("n", size(col("hs")))
  }

  /** (doc_id, band, bkey) LSH band keys of a minhash hash-set frame —
    * the native single-pass signature (permutation family must stay in
    * sync with mhA/mhB/MinhashP and the generated oracle SQL). */
  private[operators] def bandsOf(hset: DataFrame): DataFrame = {
    val sigArr = graft.functions.VectorFunctions
      .minhashSig(col("hs"), NumHashes, MinhashP)
    val mhCols = (0 until NumHashes).map(i =>
      element_at(col("sigarr"), i + 1).as(s"mh$i"))
    val sig = hset.withColumn("sigarr", sigArr)
      .select(col("doc_id") +: mhCols: _*)
    val bandArr = array((0 until NumBands).map { bnd =>
      val cols = (bnd * 4 until bnd * 4 + 4).map(i => col(s"mh$i"))
      struct(lit(bnd).as("band"), concat_ws("|", cols: _*).as("bkey"))
    }: _*)
    sig.select(col("doc_id"), explode(bandArr).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
  }

  /** Exact-jaccard verification of candidate pairs against hash-set
    * frames (left/right may differ — incremental dedup verifies new
    * docs against the staged corpus store). No broadcast hint: AQE
    * broadcasts the set table while it fits and falls back to a
    * shuffled hash join at billion-doc scale. */
  /** Band-bucket candidate pairs (doc_id1 < doc_id2, distinct) from a
    * staged band frame — THE candidate-generation block shared by the
    * LSH miner, its capped form and the estimate report. */
  private[operators] def bandCandidates(bands: DataFrame): DataFrame =
    bands.alias("x")
      .join(bands.alias("y"), Seq("band", "bkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id1"), col("y.doc_id").as("doc_id2"))
      .distinct()

  /** Exact-jaccard verification keeping the score: one definition of
    * the threshold and the jaccard division, so the miner, its capped
    * form and the incremental probe can never apply different
    * similarity semantics. */
  private[operators] def verifyJaccardScored(cand: DataFrame, hsetL: DataFrame,
      hsetR: DataFrame, lc: String, rc: String): DataFrame =
    verifyJaccardScoredAt(cand, hsetL, hsetR, lc, rc, ThreshNum, ThreshDen)

  /** [[verifyJaccardScored]] at an explicit num/den threshold — the
    * fuzzy decontamination probe verifies at a looser cut than the
    * dedup miners, with the SAME integer comparison and division. */
  private[operators] def verifyJaccardScoredAt(cand: DataFrame, hsetL: DataFrame,
      hsetR: DataFrame, lc: String, rc: String, num: Int, den: Int): DataFrame =
    cand
      .join(hsetL.select(col("doc_id").as(lc),
        col("hs").as("h1"), col("n").as("n1")), lc)
      .join(hsetR.select(col("doc_id").as(rc),
        col("hs").as("h2"), col("n").as("n2")), rc)
      .withColumn("c", size(array_intersect(col("h1"), col("h2"))))
      .filter(col("c") * den >= lit(num) * (col("n1") + col("n2") - col("c")))
      .select(col(lc), col(rc),
        (col("c").cast("double") /
          (col("n1") + col("n2") - col("c")).cast("double")).as("jaccard"))

  private[operators] def verifyJaccard(cand: DataFrame, hsetL: DataFrame,
      hsetR: DataFrame, lc: String, rc: String): DataFrame =
    verifyJaccardScored(cand, hsetL, hsetR, lc, rc).select(lc, rc)

  /** #18 — MinHash + LSH: 16 integer min-hashes, 4 bands of 4; docs
    * sharing a band key become candidates; exact jaccard verifies only
    * the candidates (this is the 100 TB-safe path: candidate fanout is
    * bounded by band-bucket size, never all-pairs).
    * (Jaccard is over distinct hashes; the oracle uses the identical
    * hash, so collisions — ~1e-5/pair — are mirrored exactly.)
    * Both the band keys and the verify hash-sets come from the STAGED
    * signature store ([[DedupIndex]] bands/ + hset/) — the shingle
    * explode and minhashing are index build, paid once per corpus
    * fingerprint, and the query is [[incremental]]'s probe shape with
    * old = new: a columnar signature scan, the band self-join, and the
    * exact verify over candidates. No cached frame: each consumer
    * re-reads the column-pruned staged parquet. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val st = DedupIndex.ensure(s, dir)
    val bands = Tables.parquet(s, st.bands)
    val hset = Tables.parquet(s, st.hset)
    verifyJaccard(bandCandidates(bands), hset, hset, "doc_id1", "doc_id2")
  }

  /** #202 — dedup_minhash_lsh with the per-doc cap: each doc keeps its
    * [[PairCapM]] MOST-SIMILAR verified neighbours (exact jaccard desc
    * — one mirrored IEEE division of the intersection/union integers,
    * so the rank order is engine-exact — then nbr id asc), completing
    * the capped family across all three pair miners. The candidate and
    * verify path is [[minhashLsh]]'s staged-probe shape unchanged
    * (banded blocking already bounds candidate volume — sweep 2.8 on
    * the ×4-copy corpus); the cap bounds the OUTPUT at m rows per doc,
    * which is what grows quadratically under planted-duplicate mass. */
  def minhashLshCapped(s: SparkSession, dir: String): DataFrame = {
    // DISTINCT-set mining, like the capped PPJoin miners: band keys and
    // hash sets are functions of a doc's shingle set alone, so the
    // band self-join + exact verify runs over each distinct set's
    // representative only (the staged [[SetGroupIndex]] thin
    // (doc_id, rn, rep) slice — the arrays never load here) and
    // identical-set siblings reconstruct as jaccard-1.0 rows
    // (n/(n+n−n) is EXACTLY 1.0 in IEEE, matching the oracle's
    // division for identical hash sets). The reconstruction equals the
    // all-band-candidate top-m by the [[cappedHamPairs]] lemma —
    // member pairs band-collide iff their reps do. hset and the group
    // table cover the same docs (both derive from the shingle
    // explode), so no member is dropped.
    val m = PairCapM
    val st = DedupIndex.ensure(s, dir)
    val dr = Tables.parquet(s, SetGroupIndex.ensure(s, dir))
      .select("doc_id", "rn", "rep")
    val reps = dr.filter(col("rn") === 1).select(col("rep").as("doc_id"))
    val repHset = Tables.parquet(s, st.hset).join(reps, "doc_id")
    val repBands = Tables.parquet(s, st.bands).join(reps, "doc_id")
    val gpSym = symmetrize(
      verifyJaccardScored(bandCandidates(repBands), repHset, repHset,
        "doc_id1", "doc_id2"),
      "doc_id1", "doc_id2", "jaccard", "r", "o")
    val gTop = dr.filter(col("rn") <= m + 1)
      .select(col("rep").as("orep"), col("doc_id").as("nbr_id"))
    val sib = dr.select(col("doc_id"), col("rep"))
      .join(gTop, col("rep") === col("orep"))
      .filter(col("nbr_id") =!= col("doc_id"))
      .select(col("doc_id"), col("nbr_id"), lit(1.0).as("jaccard"))
    val near = dr.select(col("doc_id"), col("rep"))
      .join(gpSym, col("rep") === col("r"))
      .join(gTop, col("o") === col("orep"))
      .select(col("doc_id"), col("nbr_id"), col("jaccard"))
    val w = Window.partitionBy("doc_id").orderBy(col("jaccard").desc, col("nbr_id"))
    sib.unionAll(near)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= m)
      .select("doc_id", "rnk", "nbr_id", "jaccard")
  }

  /** #125 — MINHASH ESTIMATE vs EXACT jaccard for every band-candidate
    * pair: the sketch-accuracy report run before trusting an
    * estimate-only dedup at scale (where the exact verify becomes the
    * cost ceiling, the operator answers "how wrong would dropping it
    * be"). Same staged probe as [[minhashLsh]] — bands for candidates,
    * hset for both the 16-permutation signature (recomputed from the
    * staged hash sets, a pure array fold — no text) and the exact
    * intersection; NO threshold: all candidate pairs report
    * (matching-components, exact-overlap) integers plus the two
    * mirrored divisions. */
  def minhashEstimate(s: SparkSession, dir: String): DataFrame = {
    val st = DedupIndex.ensure(s, dir)
    val bands = Tables.parquet(s, st.bands)
    val hset = Tables.parquet(s, st.hset)
    val cand = bandCandidates(bands)
    val sig = hset.select(col("doc_id"),
      graft.functions.VectorFunctions.minhashSig(col("hs"), NumHashes, MinhashP)
        .as("sig"), col("hs"), col("n"))
    cand
      .join(sig.select(col("doc_id").as("doc_id1"), col("sig").as("s1"),
        col("hs").as("h1"), col("n").as("n1")), "doc_id1")
      .join(sig.select(col("doc_id").as("doc_id2"), col("sig").as("s2"),
        col("hs").as("h2"), col("n").as("n2")), "doc_id2")
      .select(col("doc_id1"), col("doc_id2"),
        size(filter(zip_with(col("s1"), col("s2"), (a, b) => a === b),
          x => x)).cast("long").as("est_num"),
        size(array_intersect(col("h1"), col("h2"))).cast("long").as("c"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"))
      .withColumn("est_jaccard", col("est_num") / lit(16.0))
      .withColumn("jaccard",
        col("c").cast("double") / (col("n1") + col("n2") - col("c")))
  }

  /** #dedup_jaccard_histogram — the THRESHOLD-TUNING report: the exact
    * jaccard DISTRIBUTION of every band-candidate pair, bucketed to
    * 0.1 (floor(j·10), so bucket 8 = [0.8, 0.9)) with the cumulative
    * pair count at-or-above each bucket — how a dedup owner reads off
    * "what would a 0.7 (or 0.9) threshold have matched" BEFORE
    * rerunning the miner per candidate threshold. Candidates and hash
    * sets come from the STAGED store (no re-shingle); NO similarity
    * threshold is applied — the jaccard is the same mirrored IEEE
    * division, the bucket one floor, and the descending cumulative sum
    * is a partitionless window over ≤ 11 bucket rows (the
    * q_session_concurrency calendar-bounded precedent). Recall caveat
    * documented: the curve sees what the 4×4 banding surfaces —
    * below-band-recall pairs (j ≪ 0.8) appear only when they collide,
    * which is exactly the population a threshold change would serve. */
  def jaccardHistogram(s: SparkSession, dir: String): DataFrame = {
    val st = DedupIndex.ensure(s, dir)
    val bands = Tables.parquet(s, st.bands)
    val hset = Tables.parquet(s, st.hset)
    val j = bandCandidates(bands)
      .join(hset.select(col("doc_id").as("doc_id1"),
        col("hs").as("h1"), col("n").as("n1")), "doc_id1")
      .join(hset.select(col("doc_id").as("doc_id2"),
        col("hs").as("h2"), col("n").as("n2")), "doc_id2")
      .withColumn("c", size(array_intersect(col("h1"), col("h2"))))
      .select((col("c").cast("double") /
        (col("n1") + col("n2") - col("c")).cast("double")).as("jaccard"))
    val g = j.withColumn("bucket", floor(col("jaccard") * 10).cast("long"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cum_pairs_ge", sum("n_pairs").over(w))
  }

  /** #127 — LSH BAND-BUCKET health report from the staged bands/: per
    * band, the bucket count, the largest bucket, and the candidate-pair
    * mass Σ sz·(sz−1)/2 — the fanout bound the band self-join actually
    * pays. This is the diagnostic a 100 TB dedup run checks BEFORE
    * launching the pair join: one hot bucket (a boilerplate-heavy
    * shingle profile) turns the "bounded candidates" promise into a
    * quadratic blowup, and this report is how it's caught. Two
    * combinable integer aggs over the staged parquet — no text, no
    * pairs materialized. */
  def bandStats(s: SparkSession, dir: String): DataFrame = {
    val st = DedupIndex.ensure(s, dir)
    Tables.parquet(s, st.bands)
      .groupBy("band", "bkey").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        max(col("sz")).as("max_bucket"),
        sum(expr("sz * (sz - 1) div 2")).as("pairs_bound"))
      .select(col("band").cast("long").as("band"), col("n_buckets"),
        col("max_bucket"), col("pairs_bound"))
  }

  /** "New batch" slice for incremental dedup: doc_id ≡ IncrRem (mod
    * IncrMod) — a deterministic synthetic stand-in for "today's
    * documents" (~10% of the corpus) that both engines can reproduce. */
  val IncrMod = 10
  val IncrRem = 3

  /** #96 — INCREMENTAL dedup: match only the NEW batch's documents
    * against the EXISTING corpus via the staged signature store
    * ([[DedupIndex]]) — the shape a production training-data pipeline
    * runs daily. The old side never re-shingles: its band keys and
    * hash-sets come from the staged parquet (reading signatures ≪
    * recomputing them from text), so per-day cost scales with the new
    * batch plus a columnar signature scan, not with corpus text size.
    * New docs' signatures are the staged store's isNew slice — the
    * corpus-wide hset/bands artifacts already cover every document, so
    * the daily probe reads columnar parquet on BOTH sides with no
    * second arrival-slice artifact to stage or invalidate. Output:
    * (new_doc_id, old_doc_id) with exact jaccard
    * >= 0.8 — by construction identical to what a full-corpus
    * recompute yields restricted to new×old pairs, which is exactly
    * the oracle. */
  def incremental(s: SparkSession, dir: String): DataFrame = {
    val st = DedupIndex.ensure(s, dir)
    val isNew = col("doc_id") % IncrMod === IncrRem
    val oldBands = Tables.parquet(s, st.bands).filter(!isNew)
    val oldHset = Tables.parquet(s, st.hset).filter(!isNew)
    val newHset = Tables.parquet(s, st.hset).filter(isNew)
    val cand = Tables.parquet(s, st.bands).filter(isNew)
      .select(col("doc_id").as("new_doc_id"), col("band"), col("bkey"))
      .join(oldBands.select(col("doc_id").as("old_doc_id"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .select("new_doc_id", "old_doc_id")
      .distinct()
    verifyJaccard(cand, newHset, oldHset, "new_doc_id", "old_doc_id")
  }

  /** #207 shared logic — the [[incremental]] probe in a STREAMING-safe
    * shape: identical on a static batch or an unbounded stream of
    * arriving documents. hs is computed ROW-WISE (array_distinct over
    * the hashed shingle array — no explode+groupBy, so the stream side
    * stays stateless map work; equal to the collect_set AS A SET, and
    * every consumer — minhash, intersection, size — is
    * order-independent), bands explode statelessly, candidates come
    * from the stream-static equi-join with the STAGED band store, pair
    * dedup is dropDuplicates (batch plans it as distinct; streaming
    * TTLs its pair-key state with an arrival-time watermark — see the
    * inline note), and the exact-jaccard verify stream-
    * static-joins the staged hash-sets. The stream never re-shingles
    * the corpus: per-batch cost is the arriving docs × a columnar
    * signature scan — [[incremental]]'s scale contract, continuous. */
  def incrementalPairsOf(docs: DataFrame, oldBands: DataFrame,
      oldHset: DataFrame): DataFrame = {
    // spread the arriving batch across the cluster BEFORE the heavy
    // row-wise hashing: a small batch often lands as one file / one
    // rowgroup (unsplittable), which would pin all shingling onto one
    // task. The exchange carries only the batch's raw text — bounded
    // by arrival volume, never corpus-sized.
    // the token array is LET-BOUND (Multimodal.bind) before shingling:
    // an inlined tokens(text) subtree re-splits the whole document once
    // per shingle position — the O(len²) pattern shinglesOf's contract
    // forbids (measured 10×; same bug class as the CDC chunker fix)
    val hs0 = docs.repartition(col("doc_id")).select(col("doc_id"),
      Multimodal.bind(tokens(col("text")))(t =>
        array_distinct(transform(shinglesOf(t),
          sh => conv(substring(md5(sh), 1, 8), 16, 10).cast("long")))).as("hs"))
      .withColumn("n", size(col("hs")))
    // consumed twice (band explode + verify): cache the static twin so
    // the shingling runs once (released by the harness clearCache —
    // the minhashLsh lifetime note); a streaming frame cannot cache and
    // recomputes per micro-batch, bounded by that batch's arrivals.
    val hs = if (hs0.isStreaming) hs0 else hs0.cache()
    val cand0 = bandsOf(hs)
      .select(col("doc_id").as("new_doc_id"), col("band"), col("bkey"))
      .join(oldBands.select(col("doc_id").as("old_doc_id"),
        col("band"), col("bkey")), Seq("band", "bkey"))
      .select("new_doc_id", "old_doc_id")
    // pair dedup: batch plans a plain distinct; a CONTINUOUS stream
    // must TTL its pair-key state or the store grows with every pair
    // ever seen — an arrival-time watermark bounds it to one hour of
    // arrivals (a pair band-matching across a longer horizon re-emits
    // and re-verifies: harmless duplicates downstream, bounded state
    // here — the production trade)
    val cand =
      if (cand0.isStreaming)
        cand0.withColumn("arrival_ts", current_timestamp())
          .withWatermark("arrival_ts", "1 hour")
          .dropDuplicatesWithinWatermark("new_doc_id", "old_doc_id")
          .drop("arrival_ts")
      else cand0.dropDuplicates("new_doc_id", "old_doc_id")
    verifyJaccard(cand, hs, oldHset, "new_doc_id", "old_doc_id")
  }

  /** #207 — batch twin of the STREAMING incremental dedup (the oracled
    * registration; StreamOps.incrementalDedupStreaming wires the same
    * call onto an unbounded source): the shared pipeline over the
    * new-batch slice as a static frame. Output identical to
    * [[incremental]] by construction — spec-checked — so the streaming
    * shape provably loses nothing vs the batch daily run. */
  def incrementalStreamTwin(s: SparkSession, dir: String): DataFrame = {
    val st = DedupIndex.ensure(s, dir)
    val isNew = col("doc_id") % IncrMod === IncrRem
    incrementalPairsOf(Tables.documents(s, dir).filter(isNew),
      Tables.parquet(s, st.bands).filter(!isNew),
      Tables.parquet(s, st.hset).filter(!isNew))
  }

  /** The shared membership key of #209: the [[prefixDups]] boilerplate
    * signature (md5 of the first 64 chars — the corpus' exact-dup axis;
    * whole-text hashes never collide in it). */
  private[operators] def bloomKey: Column = md5(substring(col("text"), 1, 64))

  /** #209 — BLOOM-PREFILTERED incremental dedup: the arriving batch
    * tests a STAGED Bloom filter of the corpus' boilerplate signatures
    * ([[bloomKey]]) map-side (Catalyst's BloomFilterMightContain —
    * codegen, no UDF) and only bloom-positive docs (true matches + ~3%
    * false positives) enter the exact verify join, whose surviving
    * side is broadcast — the historical corpus never shuffles.
    *
    * Why this exists beside [[incremental]]: at 100 TB the daily
    * dedup's batch×corpus hash join is dominated by moving the corpus
    * hash table; a bloom of n corpus hashes is ~1.44·n·log2(1/fpp)
    * bits (≈ 1.2 GB per 10⁹ docs at 1%) — built ONCE at index time by
    * a distributed map-side-combinable aggregate (partial blooms OR
    * together), then shipped to every executor as a literal. Output is
    * EXACT regardless of the bloom's false-positive rate: the verify
    * join eliminates false positives, and a bloom has no false
    * negatives, so the result equals the plain exact join (the spec
    * proves both). Reference: the store's exterior dedup-on-ingest
    * contract (db.rs put + LWW get); the bloom is the standard
    * LSM-style membership gate in front of it. */
  def bloomIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val isNew = col("doc_id") % IncrMod === IncrRem
    val cand = docs.filter(isNew).filter(bloomMightContain(s, dir))
      .select(col("doc_id").as("new_doc_id"), bloomKey.as("h"))
    val old = docs.filter(!isNew)
      .select(col("doc_id").as("old_doc_id"), bloomKey.as("h"))
    // the bloom-surviving batch side is the small side by construction:
    // broadcast it so the corpus streams map-side through the join
    old.join(broadcast(cand), "h")
      .groupBy("new_doc_id").agg(min("old_doc_id").as("keep_doc_id"))
  }

  /** The staged bloom as a codegen membership predicate over a doc's
    * [[bloomKey]]. The 1-row artifact read is bounded by construction —
    * the bloom IS the broadcast payload. */
  private def bloomMightContain(s: SparkSession, dir: String): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bloom = Tables.parquet(s, BloomIndex.ensure(s, dir))
      .head().getAs[Array[Byte]]("bloom")
    ColumnBridge.column(BloomFilterMightContain(
      Literal.create(bloom, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(xxhash64(bloomKey))))
  }

  /** The bloom-positive slice of the new batch — exposed for the spec's
    * selectivity check (positives ≈ true dups + fpp·non-dups). */
  private[graft] def bloomCandidates(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % IncrMod === IncrRem)
      .filter(bloomMightContain(s, dir))
      .select("doc_id")

  /** Index-build producer for [[DedupIndex]] sim/: the per-doc 32-bit
    * SimHash fingerprint (one token explode, 32 conditional bit sums —
    * the corpus-sized pass under #19 and #66). */
  private[operators] def simhashBuild(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .withColumn("h", conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long"))
    val bitSums = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 32).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** The (doc_id, simhash) fingerprint frame shared by #19 and #66 —
    * served from the STAGED artifact (fingerprints are corpus-invariant
    * and parameter-free; the tokenization and bit aggregation are index
    * build, the same split as wfp/ and the phash store). */
  private def simhashFrame(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, DedupIndex.ensure(s, dir).sim)
      .select("doc_id", "simhash")

  /** #19 — 32-bit SimHash fingerprint from per-token md5 bits, plus
    * hamming distance to doc 0 (bit_count(xor)); #66 mines pairs. */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    val withSim = simhashFrame(s, dir)
    val ref = withSim.filter(col("doc_id") === 0)
      .select(col("simhash").as("sim0"))
    withSim.crossJoin(broadcast(ref))
      .select(col("doc_id"), col("simhash"),
        bit_count(col("simhash").bitwiseXOR(col("sim0"))).cast("long").as("ham0"))
  }

  /** Hamming radius for simhash pair mining: <= 3 differing bits. */
  val SimhashMaxHam = 3

  /** #66 — SimHash near-dup pair mining, EXACT via byte blocking: a
    * pair within hamming radius 3 differs in at most 3 of 4 bytes, so
    * (pigeonhole) at least one byte position matches exactly —
    * candidates come from a join on (byte position, byte value), never
    * all pairs, with zero recall loss; bit_count verifies. The byte
    * buckets are the fingerprint's own bytes, so blocking cost is one
    * 4-way explode of (doc_id, byte) pairs. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sim = simhashFrame(s, dir)
    val bands = sim.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), 8 * b).bitwiseAND(0xFF)): _*)))
      .select(col("doc_id"), col("simhash"),
        col("pos").as("band"), col("col").as("byte"))
    val x = bands.select(col("band"), col("byte"),
      col("doc_id").as("doc_id1"), col("simhash").as("s1"))
    val y = bands.select(col("band"), col("byte"),
      col("doc_id").as("doc_id2"), col("simhash").as("s2"))
    x.join(y, Seq("band", "byte"))
      .filter(col("doc_id1") < col("doc_id2"))
      .withColumn("ham", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
      .filter(col("ham") <= SimhashMaxHam)
      .select("doc_id1", "doc_id2", "ham")
      .distinct()
  }

  /** Per-doc neighbour cap for the CAPPED pair miners (#200, #201): the
    * output dial a 100 TB pair miner ships with — a document duplicated
    * c times otherwise emits O(c²) pairs, so boilerplate-heavy corpora
    * blow up the output (the scale sweep's >3× tail) even when the
    * candidate generation itself is bounded. */
  val PairCapM = 5

  /** #201 — dedup_simhash_pairs with the per-doc cap: each doc keeps
    * only its [[PairCapM]] NEAREST neighbours (hamming asc, nbr id asc
    * — deterministic total order), so output is ≤ m rows per doc
    * regardless of how many copies of it exist.
    *
    * The compute is bounded too, not just the output: the quadratic
    * byte-pigeonhole join runs over DISTINCT fingerprints (the
    * exact-dedup-first discipline every production near-dup pipeline
    * applies — c exact copies share one fingerprint, so the ×c-copy
    * corpus that costs the uncapped miner O(c²) join rows collapses to
    * its unique fingerprint set here), and per-doc neighbours
    * reconstruct from per-fingerprint id rankings: a doc's m nearest
    * ham-0 siblings are among the m+1 smallest ids of its own
    * fingerprint group, and any other fingerprint can contribute at
    * most its m smallest ids — so the final per-doc rank window sees a
    * provably sufficient bounded candidate set and its top-m equals
    * the top-m over all pairs exactly (the spec checks this against
    * the uncapped miner; the oracle mines all pairs and ranks). */
  def simhashPairsCapped(s: SparkSession, dir: String): DataFrame =
    cappedHamPairs(
      simhashFrame(s, dir).select(col("doc_id"), col("simhash").as("fp")),
      SimhashMaxHam)

  /** Both orientations of an undirected scored pair frame in ONE pass:
    * each pair explodes into its two directed rows, so the (expensive)
    * mining/verify plan executes once — the unionAll of two
    * projections over the same frame it replaces planned that frame
    * TWICE, doubling the dominant stage of every capped miner. */
  private[operators] def symmetrize(p: DataFrame, id1: String, id2: String,
      score: String, outId: String, outNbr: String): DataFrame =
    p.select(explode(array(
        struct(col(id1).as(outId), col(id2).as(outNbr), col(score)),
        struct(col(id2).as(outId), col(id1).as(outNbr), col(score)))).as("e"))
      .select(col(s"e.$outId"), col(s"e.$outNbr"), col(s"e.$score"))

  /** The capped nearest-by-hamming miner over any (doc_id, fp) 32-bit
    * fingerprint frame — the engine behind #201 (token simhash) and
    * #208 (payload phash): identical banding, identical cap semantics,
    * one definition. */
  private[graft] def cappedHamPairs(sim: DataFrame, maxHam: Int): DataFrame = {
    val m = PairCapM
    // docs ranked within their fingerprint group, smallest ids first
    val wFp = Window.partitionBy("fp").orderBy("doc_id")
    val fpTop = sim
      .withColumn("rn", row_number().over(wFp)).filter(col("rn") <= m + 1)
      .select(col("fp").as("ofp"), col("doc_id").as("nbr_id"))
    // byte-pigeonhole mining over DISTINCT fingerprints only (two
    // distinct fingerprints have ham >= 1; ham-0 never enters the join)
    val fps = sim.select("fp").distinct()
    val bands = fps.select(col("fp"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("fp"), 8 * b).bitwiseAND(0xFF)): _*)))
      .select(col("fp"), col("pos").as("band"), col("col").as("byte"))
    val fpPairs = bands.alias("x").join(bands.alias("y"), Seq("band", "byte"))
      .filter(col("x.fp") < col("y.fp"))
      .select(col("x.fp").as("s1"), col("y.fp").as("s2"))
      .distinct()
      .withColumn("ham", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
      .filter(col("ham") <= maxHam)
    val fpSym = symmetrize(fpPairs, "s1", "s2", "ham", "s", "o")
    // ham-0 candidates: a doc's same-fingerprint siblings
    val zero = sim.join(fpTop, col("fp") === col("ofp"))
      .filter(col("nbr_id") =!= col("doc_id"))
      .select(col("doc_id"), col("nbr_id"), lit(0L).as("ham"))
    // ham >= 1 candidates: the smallest ids of each neighbouring group
    val near = sim.join(fpSym, col("fp") === col("s"))
      .join(fpTop, col("o") === col("ofp"))
      .select(col("doc_id"), col("nbr_id"), col("ham"))
    val w = Window.partitionBy("doc_id").orderBy(col("ham"), col("nbr_id"))
    zero.unionAll(near)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= m)
      .select("doc_id", "rnk", "nbr_id", "ham")
  }

  /** One large-star contraction (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", 2014 — public): every node links its
    * STRICTLY LARGER neighbours to the minimum of its closed
    * neighbourhood. Input/output edges are canonical (u > v); the step
    * never grows the edge set (each undirected edge re-emits from its
    * smaller endpoint only). */
  private def largeStar(e: DataFrame): DataFrame = {
    // symmetrize via explode — ONE reference of the input (a union of
    // two subtrees would re-derive it twice) — then the closed-
    // neighbourhood min via a full-frame window: ONE exchange of the
    // edge set per contraction where the former groupBy + equi-join
    // shuffled it twice (the join's broadcast fallback only exists
    // while the min frame fits; at corpus scale it was a second full
    // sort-merge of the edges). No distinct here: the following
    // smallStar dedups, and an extra shuffle per round costs more than
    // the few duplicate edges.
    val sym = e.select(explode(array(
        struct(col("u").as("u"), col("v").as("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("s"))
      .select(col("s.u").as("u"), col("s.v").as("v"))
    sym.withColumn("m",
        least(col("u"), min("v").over(Window.partitionBy("u"))))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** One small-star contraction: every node links its smaller
    * neighbours AND ITSELF to the minimum of its closed neighbourhood.
    * Operates directly on the canonical (u > v) edge list — the group
    * key IS the larger endpoint, no symmetrization needed. */
  private def smallStar(e: DataFrame): DataFrame = {
    // same one-exchange window form as largeStar (the group key IS the
    // larger endpoint — no symmetrization needed); each row emits its
    // relink (v, m) plus the self edge (u, m), and the trailing
    // distinct collapses the per-row self-edge duplicates exactly as
    // it collapsed the former relinked ∪ per-u-self union (equal SETS,
    // and only the set survives the distinct). m < u on every row by
    // canonical form, so emitted edges stay canonical.
    e.withColumn("m", min("v").over(Window.partitionBy("u")))
      .select(explode(when(col("v") =!= col("m"),
          array(struct(col("v").as("u"), col("m").as("v")),
            struct(col("u").as("u"), col("m").as("v"))))
        .otherwise(array(struct(col("u").as("u"), col("m").as("v"))))).as("s"))
      .select(col("s.u").as("u"), col("s.v").as("v"))
      .distinct()
  }

  /** Staged dup-pair source: the [[minhashLsh]] output persisted once
    * per corpus fingerprint by [[DedupIndex]] (the IvfIndex pattern —
    * pair mining is index BUILD, cluster resolution is the query). */
  def stagedPairs(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, DedupIndex.ensure(s, dir).pairs)

  /** Convergence-round count of the last [[clusterDups]] run on this
    * JVM — profiling visibility for the O(log n) claim (a grown pair
    * set that suddenly needs more rounds shows up here, not as a
    * silent per-round cost increase). */
  @volatile private[graft] var lastClusterRounds = 0

  /** #45 — duplicate-cluster resolution: connected components over the
    * dup pairs via alternating large-star/small-star contractions
    * (Kiveris et al. 2014) — converges in O(log n) rounds regardless of
    * component DIAMETER (min-label propagation needs O(diameter)), and
    * every intermediate join is over an edge set that never exceeds the
    * input pair count. The default pair source is [[stagedPairs]] — the
    * SAME minhash band-bucketed pair set (never the skew-prone shingle
    * self-join), staged to parquet once per corpus fingerprint, so the
    * registered query pays the contraction, not the pair mining, on
    * every run after the first. The fixpoint (every doc linked
    * to its component's minimum id) is iteration-order independent, so
    * the DuckDB recursive-CTE oracle lands on the identical assignment.
    * Output: every clustered doc with its canonical (minimum) id,
    * keep = 1 on the survivor. */
  def clusterDups(s: SparkSession, dir: String,
      pairSource: (SparkSession, String) => DataFrame = stagedPairs): DataFrame = {
    val pairs = pairSource(s, dir)
    // canonical directed edge list (larger -> smaller), deduped;
    // localCheckpoint materializes it so the pair pipeline runs ONCE —
    // largeStar references its input 3× (symmetrize + neighborhood min
    // + relink join), and AQE does not reliably reuse the exchange
    // across those subtrees (measured: 6× slower uncheckpointed)
    var edges = pairs.select(
        greatest(col("doc_id1"), col("doc_id2")).as("u"),
        least(col("doc_id1"), col("doc_id2")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    var converged = false
    var iter = 0
    // The hard cap only guards against a logic bug and FAILS LOUDLY
    // rather than returning an unconverged (oracle-divergent) labelling.
    val MaxIters = 64
    while (!converged) {
      if (iter >= MaxIters)
        throw new IllegalStateException(
          s"clusterDups failed to converge after $MaxIters star-contraction rounds")
      // TWO contraction rounds per convergence probe: contraction is
      // idempotent past the fixpoint (a disjoint min-rooted star set
      // maps to itself under both stars), so an overshoot round cannot
      // change labels — and the blocking driver probe (the dominant
      // per-round latency beside the checkpoint job) runs half as
      // often. The explode+window star forms reference their input
      // ONCE each, so the 2-round chain is fully linear and needs only
      // the single end-of-round checkpoint (the former groupBy+join
      // forms referenced their input 3×, forcing a mid-round
      // checkpoint as well — measured 6× slower uncheckpointed).
      val next = smallStar(largeStar(smallStar(largeStar(edges))))
        .localCheckpoint()
      // converged iff the edges form DISJOINT depth-1 stars: no parent
      // (v side) is itself a child (u side), AND no child has two
      // parents. Depth-1 alone is NOT sufficient — a chain like
      // 3–4–6, 2–5–7–4 contracts to {(4,3),(4,2),(5,2),(6,3),(7,2)}
      // whose parents {2,3} are disjoint from children {4,5,6,7} yet
      // node 4 still bridges two would-be clusters; one more round is
      // required. Disjoint min-rooted stars ARE the fixpoint (edges
      // always point child > parent, so a star's root is its
      // component minimum). Both probes fold into ONE aggregate over
      // the tiny checkpointed edge set: per node, nu = #edges where it
      // is the child (u) side and hv = whether it ever appears as a
      // parent (v) — multi-parent ⟺ some nu > 1, chained ⟺ some node
      // has nu > 0 AND hv > 0 — one exchange where the former
      // semi-join + groupBy + union probe paid three.
      val bad = next
        .select(col("u").as("node"), lit(1L).as("uc"), lit(0L).as("vc"))
        .unionAll(next
          .select(col("v").as("node"), lit(0L).as("uc"), lit(1L).as("vc")))
        .groupBy("node").agg(sum("uc").as("nu"), max("vc").as("hv"))
        .filter(col("nu") > 1 || (col("nu") > 0 && col("hv") > 0))
      converged = bad.isEmpty
      edges = next
      iter += 2
    }
    lastClusterRounds = iter
    // stars: (child, componentMin) edges, plus each root labelling itself
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionAll(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")).distinct())
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("keep"))
  }

  /** #222 — INCREMENTAL dup-cluster maintenance: arriving documents
    * are assigned to EXISTING cluster ids without re-running connected
    * components over history — the cluster twin of [[incremental]] /
    * [[bloomIncremental]]. The staged [[OldClusterIndex]] holds
    * yesterday's (doc_id, cluster_id) state; the arriving slice mines
    * its new×old pairs through the staged band/hset probe (the
    * [[incremental]] shape — BOTH sides are slices of the staged
    * corpus store, so the timed run never
    * re-shingles text) and its new×new pairs among the arrivals
    * only, then CONTRACTS every old endpoint to its existing cluster
    * id (an old doc absent from the state is its own singleton). The
    * star-contraction fixpoint then runs over the REDUCED graph —
    * bounded by arrival volume, never corpus-sized — and its labels
    * restricted to the new docs equal a full-corpus recompute exactly
    * (spec-proved): a component's min over {old cluster mins, new doc
    * ids} is the full component's min, including the bridge case where
    * one arrival connects two old clusters. Reference analogue: the
    * rick→SSTable merge discipline (reference level.rs — absorb the
    * fresh tail without rewriting history). Output: every PAIRED new
    * doc with its component's canonical (minimum) id, keep = 1 iff the
    * new doc IS the canonical id. */
  def clusterIncremental(s: SparkSession, dir: String): DataFrame =
    clusterDups(s, dir, clusterIncrementalReduced)
      .filter(col("doc_id") % IncrMod === IncrRem)

  /** The REDUCED edge graph #222 contracts: new—cluster(old) anchors +
    * new—new arrival pairs, every leg a staged-parquet probe (exposed
    * so PlanSpec can assert the no-re-shingle invariant — the
    * contraction loop's localCheckpoints erase the lineage above). */
  private[graft] def clusterIncrementalReduced(
      s: SparkSession, dir: String): DataFrame = {
    val st = DedupIndex.ensure(s, dir)
    val oldClus = Tables.parquet(s, OldClusterIndex.ensure(s, dir))
    val isNew = col("doc_id") % IncrMod === IncrRem
    val oldBands = Tables.parquet(s, st.bands).filter(!isNew)
    val oldHset = Tables.parquet(s, st.hset).filter(!isNew)
    // the arrival slice's signatures are the staged store's isNew
    // slice (the corpus artifacts cover every doc — the same
    // filter-don't-restage move phashIncremental uses), so the timed
    // run probes columnar parquet on every leg instead of re-shingling
    // the arrival text per run
    val newHset = Tables.parquet(s, st.hset).filter(isNew)
    val newBands = Tables.parquet(s, st.bands).filter(isNew)
    val newOld = verifyJaccard(
      newBands.select(col("doc_id").as("new_doc_id"), col("band"), col("bkey"))
        .join(oldBands.select(col("doc_id").as("old_doc_id"),
          col("band"), col("bkey")), Seq("band", "bkey"))
        .select("new_doc_id", "old_doc_id").distinct(),
      newHset, oldHset, "new_doc_id", "old_doc_id")
    val newNew = verifyJaccard(bandCandidates(newBands),
      newHset, newHset, "doc_id1", "doc_id2")
    // reduced edges: new—cluster(old) anchors + new—new arrivals
    val anchored = newOld
      .join(oldClus.withColumnRenamed("doc_id", "old_doc_id"),
        Seq("old_doc_id"), "left")
      .select(col("new_doc_id").as("doc_id1"),
        coalesce(col("cluster_id"), col("old_doc_id")).as("doc_id2"))
    anchored.unionAll(newNew.select("doc_id1", "doc_id2"))
  }

  /** #229 — CROSS-SOURCE near-dup FLOW matrix: which ingest sources
    * duplicate EACH OTHER — the diagnostic behind "feed X is a mirror
    * of feed Y, drop one" decisions that per-source dup rates
    * (#173) cannot answer (they say a source has dups, not WITH WHOM).
    * Pairs come from the STAGED verified pair table ([[stagedPairs]] —
    * mining is index build); each endpoint joins its source (a 2-column
    * corpus projection, pair side broadcast by AQE while it fits), the
    * pair canonicalizes to (min source, max source) so the matrix is
    * one triangle, and the share divides against the broadcast 1-row
    * total — output is bounded by n_sources², never pair volume. */
  def crossSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    // checkpointed: seeds both the total and the share projection
    val g = crossSourceGrouped(s, dir).localCheckpoint()
    g.crossJoin(broadcast(g.agg(sum("n_pairs").as("tot"))))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (col("n_pairs").cast("double") / col("tot").cast("double")).as("share"))
  }

  /** #229's grouped matrix before the checkpoint (exposed so PlanSpec
    * can assert the staged-probe shape — the checkpoint erases it). */
  private[graft] def crossSourceGrouped(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    stagedPairs(s, dir)
      .join(src.select(col("doc_id").as("doc_id1"), col("source").as("sa")), "doc_id1")
      .join(src.select(col("doc_id").as("doc_id2"), col("source").as("sb")), "doc_id2")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** #104 — CLUSTER-LEVEL survivorship: [[clusterDups]] picks each
    * cluster's minimum doc_id as its canonical label, but a real
    * pipeline keeps the BEST document of a dup cluster, not the
    * lowest-numbered one — here the longest (n_chars), ties to the
    * lowest doc_id (the same rule [[survivor]] applies to exact-dup
    * groups, lifted from md5 groups to connected components). One
    * doc_id equi-join tags clustered docs with their length (the
    * cluster frame is a vanishing fraction of the corpus, so AQE
    * broadcasts it against documents), then one window per cluster —
    * partition sizes are bounded by dup-cluster size, never corpus
    * size. cluster_id stays the min-id label so the two cluster views
    * agree on cluster identity. */
  def clusterSurvivor(s: SparkSession, dir: String): DataFrame = {
    val clusters = clusterDups(s, dir).select("doc_id", "cluster_id")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id"))
    clusters
      .join(Tables.documents(s, dir).select("doc_id", "n_chars"), "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"),
        (col("rn") === 1).cast("int").as("keep"))
  }

  /** Hyperplane-band layout for embedding LSH blocking: EmbBands bands
    * of EmbRows sign bits each, over the shared deterministic integer
    * hyperplanes (Similarity.planeWeight). Banding trades the single
    * 8-bit bucket's low recall for OR-amplification: a pair is a
    * candidate if ANY band's 4-bit sign code matches. */
  val EmbBands = 4
  val EmbRows = 4

  /** (vec_id, band, bkey, v, nrm) banded hyperplane signature of a
    * double-vec frame `e(vec_id, v, nrm)` — the vector rides along so
    * the candidate self-join needs no second pass over the table. Codes
    * come from the native [[graft.functions.BandCodes]] expression (one
    * fused loop; the equivalent Catalyst sum trees overflow the JVM
    * method limit and de-codegen the whole stage). Per-plane dots
    * accumulate strictly left-to-right so the sign decision is
    * bit-identical in DuckDB. */
  private[operators] def embeddingBands(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(graft.functions.VectorFunctions.bandCodes(col("v"), EmbBands, EmbRows)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bkey"),
        col("v"), col("nrm"))

  /** #20 — embedding near-dup pairs, LSH-BLOCKED end-to-end: candidates
    * come from banded random-hyperplane buckets (16 planes, 4 bands of 4
    * sign bits — a pair is a candidate iff some band code matches), and
    * only candidates pay the exact cosine >= 0.45 check. One self-join
    * on (band, bkey) with the vectors riding the shuffle, cosine checked
    * inline, and distinct() only on the tiny surviving pair set — never
    * the all-pairs crossJoin, so the operator runs at 100 TB as
    * registered. (At that scale EmbRows grows with log(n) to keep bucket
    * sizes bounded; the band count trades recall against candidate
    * volume.) Recall is governed by the band layout (spec asserts the
    * blocked pairs are a subset of [[embeddingCosineExact]] with >= 0.5
    * recall). */
  def embeddingCosine(s: SparkSession, dir: String): DataFrame =
    embeddingCosineVerified(s, dir).select("vec_id1", "vec_id2")

  /** The LSH-blocked verified pair frame (vec_id1, vec_id2, cos) shared
    * by #20 and the capped #200 — cos is functionally dependent on the
    * pair, so the distinct collapses multi-band duplicates exactly as
    * the id-only form did. */
  private def embeddingCosineVerified(s: SparkSession, dir: String): DataFrame =
    embeddingCosineVerifiedOver(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))

  /** The banded + salted cosine miner over any (vec_id, embedding)
    * frame — [[embeddingCosineVerified]] parameterized so the capped
    * miner can run it over the DISTINCT-vector representative frame. */
  private def embeddingCosineVerifiedOver(e0: DataFrame): DataFrame = {
    val e = e0
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    val bands = embeddingBands(e)
    // the band key space is small (EmbBands * 2^EmbRows values), so an
    // unsalted join would funnel each bucket's pair generation through
    // one task; salting the left side (and replicating the right S ways)
    // spreads the cosine verification across S partitions per bucket
    val S = 16
    val x = bands.select(col("band"), col("bkey"),
      pmod(col("vec_id"), lit(S)).cast("int").as("salt"),
      col("vec_id").as("vec_id1"), col("v").as("va"), col("nrm").as("na"))
    val y = bands.select(col("band"), col("bkey"),
      explode(sequence(lit(0), lit(S - 1))).as("salt"),
      col("vec_id").as("vec_id2"), col("v").as("vb"), col("nrm").as("nb"))
    x.join(y, Seq("band", "bkey", "salt"))
      .filter(col("vec_id1") < col("vec_id2"))
      .withColumn("cos",
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.45)
      .select("vec_id1", "vec_id2", "cos")
      .distinct()
  }

  /** #200 — dedup_embedding with the per-doc cap: each vector keeps
    * only its [[PairCapM]] MOST-SIMILAR verified neighbours (cosine
    * desc, nbr id asc — the cosine is the shared deterministic fold, so
    * the order is engine-exact), bounding output at m rows per vector
    * no matter how many near-copies the corpus plants.
    *
    * Mining runs over DISTINCT embedding vectors only (the [[setGroups]]
    * discipline on bit-identical embeddings — planted copies share the
    * vector verbatim, so the banded salted verify is copy-count-
    * invariant: sweep ratio dropped 2.7 → ~1 on the ×4-copy corpus);
    * identical-vector siblings reconstruct from each group's m+1
    * smallest ids scored by the group's SELF-cosine through the same
    * dot/norm expression tree the pair verify uses (for identical
    * inputs the two trees produce the same IEEE value — ≈1.0 ± ulp,
    * never the literal 1.0 — so ordering parity with the all-pairs
    * oracle is exact; a zero vector's NaN self-cos fails the 0.45 gate
    * exactly as its NaN pair-cos does). Cross-group cosine of a group
    * pair is every member pair's cosine, so the per-vector top-m over
    * {siblings} ∪ {paired groups' shortlists} equals the top-m over
    * ALL pairs — the [[cappedHamPairs]] lemma again. */
  def embeddingCosineCapped(s: SparkSession, dir: String): DataFrame = {
    val m = PairCapM
    // the STAGED vector-group table ([[VecGroupIndex]]): grouping
    // windows are index build; member/shortlist joins read pruned
    // (vec_id, rn, rep) slices without the vectors
    val dr = Tables.parquet(s, VecGroupIndex.ensure(s, dir))
    val g = dr.filter(col("rn") === 1)
      .select(col("rep").as("vec_id"), col("embedding"))
    val gpSym = symmetrize(embeddingCosineVerifiedOver(g),
      "vec_id1", "vec_id2", "cos", "r", "o")
    val gTop = dr.filter(col("rn") <= m + 1)
      .select(col("rep").as("orep"), col("vec_id").as("nbr_id"))
    val selfC = dr.filter(col("rn") === 1)
      .select(col("rep"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
      .select(col("rep"),
        (Similarity.dot(col("v"), col("v")) / (col("nrm") * col("nrm"))).as("cos"))
      .filter(col("cos") >= 0.45)
    val sib = dr.select(col("vec_id"), col("rep"))
      .join(selfC, "rep")
      .join(gTop, col("rep") === col("orep"))
      .filter(col("nbr_id") =!= col("vec_id"))
      .select(col("vec_id"), col("nbr_id"), col("cos"))
    val near = dr.select(col("vec_id"), col("rep"))
      .join(gpSym, col("rep") === col("r"))
      .join(gTop, col("o") === col("orep"))
      .select(col("vec_id"), col("nbr_id"), col("cos"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    sib.unionAll(near)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= m)
      .select("vec_id", "rnk", "nbr_id")
  }

  /** Exact all-pairs baseline for #20 — O(n²), test-scale only: the
    * spec measures the blocked operator's recall against it. NOT
    * registered as a query (it cannot run at 100 TB). */
  private[graft] def embeddingCosineExact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    val a = e.select(col("vec_id").as("vec_id1"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_id2"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("vec_id1") < col("vec_id2"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.45)
      .select("vec_id1", "vec_id2")
  }

  /** Winnowing window width (in consecutive k-gram hashes) and the
    * position-packing base: (fp, pos) packs into fp·2^21 + (2^21−1−pos)
    * so the windowed "min fp, RIGHTMOST position on ties" argmin is a
    * plain integer min (fp < RollP ≈ 2^32 ⇒ the code < 2^53; docs are
    * bounded at 2^21 window positions ≈ 2M tokens — a corpus chunks
    * longer inputs upstream). */
  val WinnowW = 4
  val WinnowPosPack = 1L << 21

  /** #147 — WINNOWING fingerprint selection (Schleimer et al. SIGMOD'03
    * — the MOSS algorithm): from every [[WinnowW]]-window of
    * consecutive [[WinK]]-token Rabin-Karp hashes, select the minimum
    * (rightmost on ties), then dedup — the selection rule with the
    * GUARANTEE mod-p sampling (dedup_substring) lacks: any shared run
    * of ≥ WinK + WinnowW − 1 tokens is certain to surface a common
    * fingerprint, with density ≈ 2/(WinnowW+1). The windowed argmin
    * runs as an integer min over a ROWS frame on the per-doc position
    * order — one doc_id shuffle, partitions bounded by per-doc window
    * counts, and the (fp, rightmost-pos) preference rides the packed
    * code so no struct comparison crosses an engine boundary.
    *
    * The selection is corpus-invariant and threshold-free, so it is
    * STAGED ([[DedupIndex]] wfp/, built by [[winnowSelection]] from the
    * shared [[windowHashes]] pass): the registered query reads the
    * staged parquet and never re-tokenizes — the same index/query split
    * as fpos/ and the phash store. */
  def winnow(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, DedupIndex.ensure(s, dir).wfp)
      .select("doc_id", "pos", "fp")

  /** Index-build producer for [[DedupIndex]] wfp/: the winnowing
    * argmin over an already-materialized window-hash frame. */
  private[graft] def winnowSelection(wh: DataFrame): DataFrame = {
    val wSel = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(WinnowW - 1), 0)
    wh.withColumn("code",
        col("fp") * WinnowPosPack + (lit(WinnowPosPack - 1) - col("pos")))
      .withColumn("sel", min(col("code")).over(wSel))
      .withColumn("wn",
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("wn") >= WinnowW) // full windows only
      .select(col("doc_id"),
        (lit(WinnowPosPack - 1) - pmod(col("sel"), lit(WinnowPosPack))).as("pos"),
        expr(s"sel div $WinnowPosPack").as("fp"))
      .distinct()
  }

  /** #187 — winnowed-fingerprint PAIR MINING (the matching half of the
    * MOSS algorithm — Schleimer et al. SIGMOD'03 §2: selection alone
    * finds nothing; the point is doc pairs sharing selected
    * fingerprints, with the guarantee that any shared run of
    * ≥ WinK + WinnowW − 1 tokens surfaces at least one shared
    * fingerprint in both docs): doc pairs sharing ≥ [[WinMinShared]]
    * distinct winnowed fingerprints off the staged wfp/ artifact. The
    * same df-cap discipline as [[substringPairs]] — a fingerprint
    * carried by more than WinDfCap docs is boilerplate and dropped
    * BEFORE pairing (anti-join against the tiny over-cap list, never a
    * per-fp window), so self-join fanout stays ≤ WinDfCap² per fp. */
  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    val wfp = Tables.parquet(s, DedupIndex.ensure(s, dir).wfp)
      .select("doc_id", "fp").distinct()
    val hot = wfp.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > WinDfCap).select("fp")
    val sel = wfp.join(hot, Seq("fp"), "left_anti")
    sel.select(col("doc_id").as("doc_id1"), col("fp"))
      .join(sel.select(col("doc_id").as("doc_id2"), col("fp")), "fp")
      .filter(col("doc_id1") < col("doc_id2"))
      .groupBy("doc_id1", "doc_id2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinMinShared)
  }

  /** Cosine threshold for SemDeDup within-cluster near-dup removal. */
  val SemTau = 0.4

  /** #135 — SEMANTIC dedup (SemDeDup, Abbas et al. 2023 — public): the
    * embedding-space dedup recipe production corpora actually run —
    * k-means-cluster the embedding space, then mine near-dup pairs ONLY
    * within each cluster (never across), and keep one representative
    * per near-dup neighborhood. Clustering is the [[Similarity]] seed
    * assignment (vec_id < KmK seed centroids, the kmeansStep/IVF
    * coarse step — at 100 TB, K grows with n so cluster populations
    * stay bounded and the within-cluster pair join is OVER CLUSTER
    * KEYS, the SemDeDup point: all-pairs cost collapses to
    * Σ_c |c|² ≪ n²). The pair join salts [[SemSalt]] ways because the
    * cluster-key space is small (the embeddingCosine treatment); exact
    * rounded cosine ≥ [[SemTau]] verifies candidates; survivorship =
    * lowest vec_id in each in-cluster neighborhood wins (a vector is
    * dropped iff a smaller-id cluster-mate sits within τ — the
    * deterministic form of the paper's keep-one rule). Output: every
    * vector with its cluster and keep bit. */
  val SemSalt = 16
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val seeds = e.filter(col("vec_id") < Similarity.KmK)
      .select(col("vec_id").as("clabel"), col("v").as("cv"))
      .withColumn("cn", Similarity.l2norm(col("cv")))
    val assigned = Similarity.assignByFold(e, seeds)
      .select(col("vec_id"), col("v"), col("assigned_label").as("cluster"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    val x = assigned.select(col("cluster"),
      pmod(col("vec_id"), lit(SemSalt)).cast("int").as("salt"),
      col("vec_id").as("vec_id1"), col("v").as("va"), col("nrm").as("na"))
    val y = assigned.select(col("cluster"),
      explode(sequence(lit(0), lit(SemSalt - 1))).as("salt"),
      col("vec_id").as("vec_id2"), col("v").as("vb"), col("nrm").as("nb"))
    val dropped = x.join(y, Seq("cluster", "salt"))
      .filter(col("vec_id1") < col("vec_id2"))
      .filter(round(Similarity.dot(col("va"), col("vb")) /
        (col("na") * col("nb")), 6) >= SemTau)
      .select(col("vec_id2").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cluster"))
      .join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("hit").isNull, 1).otherwise(0).as("keep"))
  }
}
