package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/**
 * Text analysis over the documents table: language ID, quality scoring,
 * token counting, document fingerprinting.
 *
 * Everything is a codegen-friendly expression over one pass of the text
 * column — no UDFs, no shuffle except the final per-doc projection
 * (langid/quality/tokens are pure map-side; fingerprint needs only the
 * per-document token sort, done inside the array, not across rows).
 */
object TextOps {
  import Dedup.tokens

  /** Tiny stopword lists per language for the n-gram scoring heuristic. */
  val StopWords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une"),
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo"))

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** #46 — deterministic stratified sampling: a stable md5-bucket of the
    * content keeps ~1/10 of docs per source — reproducible across runs
    * and engines, unlike Bernoulli rand(), which matters when a 100 TB
    * sample must be re-derivable. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket",
        pmod(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"), lit(10)))
      .filter(col("bucket") === 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("first_doc"))

  /** #47 — content scrubbing: mask long digit runs (id/phone-shaped
    * spans) and report how much was touched — the redaction pass of a
    * training-data pipeline, as a pure codegen'd projection. */
  def scrubDigits(s: SparkSession, dir: String): DataFrame = {
    val scrubbed = regexp_replace(col("text"), "[0-9]{3,}", "<NUM>")
    Tables.documents(s, dir).select(
      col("doc_id"),
      md5(scrubbed).as("scrubbed_md5"),
      (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
        .cast("long").as("n_digits"),
      (col("text") =!= scrubbed).cast("int").as("was_scrubbed"))
  }

  /** #24 — language ID: most stopword hits wins; ties break by language
    * code; zero hits → "und". */
  def langId(s: SparkSession, dir: String): DataFrame =
    langPredicted(s, dir).select(col("doc_id"), col("pred_lang"))

  /** The langid projection with every document column still attached —
    * one corpus scan feeds both #24's (doc_id, pred) shape and #131's
    * confusion matrix (which needs the labeled `lang` alongside the
    * prediction; re-joining the corpus for a column the scan already
    * read would double the 100 TB pass). */
  private def langPredicted(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.documents(s, dir).withColumn("toks", tokens(col("text")))
    val scored = StopWords.toSeq.sortBy(_._1).foldLeft(df) {
      case (acc, (lang, words)) =>
        acc.withColumn(s"sc_$lang", countIn(col("toks"), words))
    }
    val langs = StopWords.keys.toSeq.sorted
    val best = langs.map(l => struct(col(s"sc_$l").as("sc"), lit(l).as("lang")))
    // argmax by (score, then lexicographically-last language to keep the
    // tiebreak deterministic); array_max over structs orders by fields.
    scored
      .withColumn("bestst", array_max(array(best: _*)))
      .withColumn("pred_lang",
        when(col("bestst.sc") === 0, "und").otherwise(col("bestst.lang")))
  }

  /** #25 — quality scoring: length, punctuation ratio, stopword ratio,
    * mean token length, folded into one deterministic score. */
  def quality(s: SparkSession, dir: String): DataFrame = {
    val en = StopWords("en")
    Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_punct",
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long"))
      .withColumn("n_stop", countIn(col("toks"), en).cast("long"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_punct"), col("n_stop"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("n_punct").cast("double") / length(col("text"))).as("punct_ratio"),
        (length(regexp_replace(col("text"), "\\s", "")).cast("double") / col("n_tokens"))
          .as("mean_tok_len"))
  }

  /** #26 — token counting: whitespace tokens + a BPE-ish regex count of
    * sub-word pieces (letter runs and single non-letters). */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        size(filter(col("toks"), t => length(t) > 5)).cast("long").as("n_long"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_nonspace_chars"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
          .cast("long").as("n_bpe_pieces"))

  /** #27 — document fingerprint: md5 over the sorted distinct token set
    * (order-canonical, whitespace-insensitive content hash). */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))).as("fp"))

  /** #55 — corpus bigram frequency: top-20 word bigrams by raw
    * occurrence count, deterministic ties. The explode rides one shuffle
    * into map-side partial counts (bigram cardinality ≪ occurrence
    * count, so the combine does the heavy lifting at 100 TB); the final
    * top-k is TakeOrderedAndProject, never a global sort. Token array is
    * materialized first — an inlined tokens(text) inside the lambda
    * would re-split the doc per bigram position (see shinglesOf). */
  def bigrams(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("t", tokens(col("text")))
      .select(explode(
        when(size(col("t")) >= 2,
          transform(sequence(lit(1), size(col("t")) - 1),
            i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)

  /** Minimum bigram support for #text_bigram_lift. */
  val LiftMinSupport = 5L

  /** #text_bigram_lift — COLLOCATION extraction by lift (the log-free
    * PMI: lift = P(ab) / (P(a)·P(b)), where PMI = log lift — log is
    * not correctly rounded cross-engine, the raw ratio is): the top-20
    * token pairs that co-occur far above chance, with a minimum
    * support of [[LiftMinSupport]] so single-digit flukes cannot
    * dominate — the phrase/collocation mining step (Dunning '93 /
    * word2vec phrase pass) raw frequency (#55) cannot do (frequent
    * pairs of frequent words score LOW here). One explode pass feeds
    * BOTH count frames (unigrams; bigrams derive from the same token
    * arrays); totals broadcast as 1-row frames; the lift is a fixed
    * three-division chain of exact integer counts mirrored verbatim;
    * top-20 via TakeOrderedAndProject with (lift desc, bigram) total
    * order. */
  def bigramLift(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir).withColumn("t", tokens(col("text")))
    val uni = tok.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val biAll = tok
      .select(explode(
        when(size(col("t")) >= 2,
          transform(sequence(lit(1), size(col("t")) - 1),
            i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("bigram"))
    val bi = biAll.groupBy("bigram").agg(count(lit(1)).as("cab"))
    val nUni = uni.agg(sum("c").as("n_uni"))
    val nBi = bi.agg(sum("cab").as("n_bi"))
    bi.filter(col("cab") >= LiftMinSupport)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("c").as("ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("cb")), "w2")
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("bigram"), col("cab"), col("ca"), col("cb"),
        (((col("cab").cast("double") / col("n_bi")) /
          (col("ca").cast("double") / col("n_uni"))) /
          (col("cb").cast("double") / col("n_uni"))).as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(20)
  }

  /** #59 — TF-IDF-style keyword extraction: each doc's most
    * discriminative term = argmax tf/df (term frequency over document
    * frequency), ties by term. tf and df are exact integers and tf/df
    * is ONE IEEE division, so the ordering is bit-identical in DuckDB.
    * Two shuffles (tf groupBy rides into the df join); the rank window
    * partitions per doc, bounded by a doc's distinct-term count. */
  def topTerm(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"), explode(col("t")).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    // df derives from tf (one row per (doc, term) already), so the
    // explode + its shuffle run once, not twice
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val rank = Window.partitionBy("doc_id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("w"))
    tf.join(df, "w")
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("w").as("top_term"), col("tf"), col("df"))
  }

  /** #63 — END-TO-END CURATION: the flagship training-data filter that
    * composes the pipeline — a doc is kept iff it survives exact dedup
    * (longest-copy survivor), language-IDs as English, and clears
    * length/stopword quality floors. Three doc-keyed single-shuffle
    * frames joined on doc_id (co-partitioned after the first shuffle);
    * the whole decision is one pass over the corpus at any scale. */
  def curate(s: SparkSession, dir: String): DataFrame = {
    val lang = langId(s, dir)
    val q = quality(s, dir).select(col("doc_id"), col("n_tokens"), col("stop_ratio"))
    val surv = Dedup.survivor(s, dir).select(col("doc_id"), col("keep"))
    lang.join(q, "doc_id").join(surv, "doc_id")
      .select(col("doc_id"),
        (col("keep") === 1 && col("pred_lang") === "en" &&
          col("n_tokens") >= 10 && col("stop_ratio") >= 0.1).cast("int").as("kept"))
  }

  /** #111 — curation FUNNEL report: how many docs clear each stage of
    * the [[curate]] filter (dedup survivorship, language ID, quality
    * floors) and the final keep count — the observability row every
    * production pipeline logs per corpus build to catch a filter
    * suddenly eating the dataset. Same three doc-keyed frames as
    * curate, collapsed to ONE row of conditional counts (map-side
    * combinable; the output is 5 integers at any corpus scale). */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val lang = langId(s, dir)
    val q = quality(s, dir).select(col("doc_id"), col("n_tokens"), col("stop_ratio"))
    val surv = Dedup.survivor(s, dir).select(col("doc_id"), col("keep"))
    val isQual = col("n_tokens") >= 10 && col("stop_ratio") >= 0.1
    lang.join(q, "doc_id").join(surv, "doc_id")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep") === 1, 1L).otherwise(0L)).as("n_survivor"),
        sum(when(col("pred_lang") === "en", 1L).otherwise(0L)).as("n_lang_en"),
        sum(when(isQual, 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("keep") === 1 && col("pred_lang") === "en" && isQual,
          1L).otherwise(0L)).as("n_kept"))
  }

  /** #86 — PII scrubbing: mask email addresses then long digit runs
    * (id/phone-shaped), report per-doc counts and the cleaned content
    * hash — the redaction pass before corpus release, one codegen'd
    * projection, zero shuffles before the write. The email pattern is
    * deliberately RE2-compatible so the oracle's regex engine agrees. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  def scrubPii(s: SparkSession, dir: String): DataFrame = {
    val noEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val clean = regexp_replace(noEmail, "[0-9]{7,}", "<ID>")
    Tables.documents(s, dir).select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(noEmail, lit("[0-9]{7,}")).cast("long").as("n_ids"),
      md5(clean).as("clean_md5"))
  }

  /** #87 — repetition ratio: share of a doc's word trigrams that are
    * repeats (1 − distinct/total) — the standard template/spam quality
    * signal (high ratio = boilerplate or looping generations). Pure
    * per-doc array arithmetic, map-side only. */
  def repetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("t", tokens(col("text")))
      .withColumn("tri",
        when(size(col("t")) >= 3,
          transform(sequence(lit(1), size(col("t")) - 2),
            i => concat_ws(" ", element_at(col("t"), i),
              element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
          .otherwise(array().cast("array<string>")))
      .select(col("doc_id"),
        size(col("tri")).cast("long").as("n_trigrams"),
        size(array_distinct(col("tri"))).cast("long").as("n_distinct"),
        when(size(col("tri")) > 0,
          (size(col("tri")) - size(array_distinct(col("tri")))).cast("double") /
            size(col("tri")))
          .otherwise(lit(0.0)).as("rep_ratio"))

  /** #85 — sequence packing (concat-and-chunk): lay the corpus out in
    * doc_id order, run a token-count prefix sum, and cut fixed
    * [[PackBudget]]-token training bins; each doc reports its bin and
    * offset. The prefix-sum depth is GATED on corpus size: per-chunk
    * subtotals (bounded groups of [[PackChunk]] docs) always bound the
    * doc-grain window, and the chunk-grain cumulative runs partitionless
    * only while it sees at most [[PackMaxFlatChunks]] rows (one per
    * 1024 docs — ≲2^20 rows up to a billion-doc corpus, the two-level
    * path). Past the gate a third (superchunk) level rolls 1024 chunks
    * into each superchunk subtotal so the only partitionless window
    * sees one row per 2^20 docs even at trillion-doc scale — the extra
    * aggregation + carry join is the price, which is why it is not paid
    * below the gate (measured 2.2× at sf0.1). The gate itself is one
    * metadata-weight count. The bounded-state technique of ts_ema
    * applied to a global prefix sum. */
  val PackBudget = 2048L
  val PackChunk = 1024L
  /** Two-level path ceiling, in CHUNKS (= docs/1024): below this the
    * partitionless chunk-grain window is bounded and the superchunk
    * level would cost more than it saves. */
  val PackMaxFlatChunks = 1L << 20
  def docPackBins(s: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.documents(s, dir).count()
    if (nDocs <= PackChunk * PackMaxFlatChunks) docPackBinsTwoLevel(s, dir)
    else docPackBinsThreeLevel(s, dir)
  }

  /** Chunk-bounded doc frame shared by both prefix-sum depths. */
  private def packChunks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("chunk", expr(s"doc_id div $PackChunk"))

  /** Within-chunk running-sum window (the doc-grain level, always
    * partition-bounded by [[PackChunk]]). */
  private def packWithin(d: DataFrame, carry: DataFrame): DataFrame = {
    val wIn = Window.partitionBy("chunk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // no broadcast hint: carry grows with corpus size / PackChunk —
    // AQE broadcasts while it fits, co-partitioned join past that
    d.join(carry, "chunk")
      .withColumn("before",
        col("carry") + coalesce(sum("n_tokens").over(wIn), lit(0L)))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"before div $PackBudget").as("bin_id"),
        (col("before") % PackBudget).as("bin_offset"))
  }

  /** Sub-gate path: chunk subtotals + ONE partitionless cumulative over
    * ≤ [[PackMaxFlatChunks]] chunk rows + the within-chunk window. */
  private[graft] def docPackBinsTwoLevel(s: SparkSession, dir: String): DataFrame = {
    val d = packChunks(s, dir)
    val wC = Window.orderBy("chunk").rowsBetween(Window.unboundedPreceding, -1)
    val carry = d.groupBy("chunk").agg(sum("n_tokens").as("ctot"))
      .withColumn("carry", coalesce(sum("ctot").over(wC), lit(0L)))
      .select("chunk", "carry")
    packWithin(d, carry)
  }

  /** Past-gate path: chunk subtotals roll up through superchunk
    * subtotals; the partitionless window sees one row per 2^20 docs. */
  private[graft] def docPackBinsThreeLevel(s: SparkSession, dir: String): DataFrame = {
    val d = packChunks(s, dir)
    val chunkTot = d.groupBy("chunk").agg(sum("n_tokens").as("ctot"))
      .withColumn("sup", expr(s"chunk div $PackChunk"))
    val supTot = chunkTot.groupBy("sup").agg(sum("ctot").as("stot"))
    val wS = Window.orderBy("sup").rowsBetween(Window.unboundedPreceding, -1)
    val supCarry = supTot
      .withColumn("scarry", coalesce(sum("stot").over(wS), lit(0L)))
      .select("sup", "scarry")
    val wC = Window.partitionBy("sup").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = chunkTot.join(supCarry, "sup")
      .withColumn("carry",
        col("scarry") + coalesce(sum("ctot").over(wC), lit(0L)))
      .select("chunk", "carry")
    packWithin(d, carry)
  }

  /** Eval-set slice for decontamination: doc_id ≡ 0 (mod [[EvalMod]]) —
    * a deterministic synthetic stand-in for a benchmark/eval corpus
    * (~3% of docs) both engines reproduce. */
  val EvalMod = 37

  /** #97 — benchmark DECONTAMINATION: flag training documents that share
    * any word n-gram with the eval set (the GPT-3-appendix overlap
    * check; 13-grams there, the corpus-wide 3-gram shingles here so the
    * synthetic short docs produce signal). The scale shape is the whole
    * point: the eval side is SMALL at any corpus size (benchmarks are
    * thousands of docs, not billions), so its distinct n-grams
    * BROADCAST and the training corpus is scanned ONCE with a map-side
    * hash probe — the only shuffle is the per-doc hit count over
    * surviving (matched) rows, a vanishing fraction of the corpus.
    * Output: contaminated docs with their distinct-overlapping-n-gram
    * count (the drop/keep decision input). */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).withColumn("t", tokens(col("text")))
    val isEval = col("doc_id") % EvalMod === 0
    val evalG = docs.filter(isEval)
      .select(explode(Dedup.shinglesOf(col("t"))).as("s")).distinct()
    val trainG = docs.filter(!isEval)
      .select(col("doc_id"), explode(Dedup.shinglesOf(col("t"))).as("s"))
    // per-doc shingles are already distinct (shinglesOf), so the count
    // after the semi-match is "distinct n-grams of this doc seen in eval"
    trainG.join(broadcast(evalG), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Fuzzy-decontamination threshold (#text_decontaminate_fuzzy):
    * jaccard ≥ 1/2 over hashed shingle sets — looser than the dedup
    * miners' 8/10, the cut that catches paraphrased/partial eval
    * leakage exact n-gram matching (#97) misses. */
  val FuzzyNum = 1
  val FuzzyDen = 2

  /** #text_decontaminate_fuzzy — FUZZY eval-set decontamination: #97
    * catches verbatim n-gram overlap; real leakage is PARAPHRASED, so
    * this leg composes the MinHash/LSH machinery instead — the eval
    * slice's staged band keys (tiny: eval sets are thousands of docs,
    * not billions — broadcast) equi-join the training slice's staged
    * bands for candidates, and the exact jaccard verifies at the
    * looser [[FuzzyNum]]/[[FuzzyDen]] cut. BOTH sides are filters of
    * the ONE staged signature store ([[DedupIndex]]) — the corpus
    * never re-shingles at query time, the same staged-probe shape as
    * dedup_incremental. Output: (train doc, eval doc, jaccard) —
    * the drop list with its evidence score (one mirrored integer
    * division, engine-exact rank order if a consumer caps it). */
  def decontaminateFuzzy(s: SparkSession, dir: String): DataFrame = {
    val st = DedupIndex.ensure(s, dir)
    val isEval = col("doc_id") % EvalMod === 0
    val evalBands = Tables.parquet(s, st.bands).filter(isEval)
      .select(col("doc_id").as("eval_doc_id"), col("band"), col("bkey"))
    val cand = Tables.parquet(s, st.bands).filter(!isEval)
      .select(col("doc_id"), col("band"), col("bkey"))
      .join(broadcast(evalBands), Seq("band", "bkey"))
      .select("doc_id", "eval_doc_id").distinct()
    Dedup.verifyJaccardScoredAt(cand,
      Tables.parquet(s, st.hset).filter(!isEval),
      Tables.parquet(s, st.hset).filter(isEval),
      "doc_id", "eval_doc_id", FuzzyNum, FuzzyDen)
  }

  /** Global token budget for the mixture-weights operator. */
  val MixBudget = 200000L

  /** #100 — data-MIXTURE weights: given a global token budget split
    * equally across sources (domains), compute each source's sampling
    * rate and expected token yield — the "data mixing" step that sits
    * between curation and packing in a training pipeline (sources are
    * upsampled/downsampled to a target composition). One combinable
    * aggregation over the corpus (per-source doc/token totals), a
    * 1-row source-count frame broadcast back, and pure scalar
    * arithmetic — every division is a single double op mirrored
    * verbatim in the oracle, over exact integer sums. */
  def mixWeights(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("src_tokens"))
    val k = per.agg(count(lit(1)).as("n_sources"))
    val rate = least(lit(1.0),
      (lit(MixBudget.toDouble) / col("n_sources")) / col("src_tokens"))
    per.crossJoin(broadcast(k))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        rate.as("rate"), (rate * col("src_tokens")).as("exp_tokens"))
  }

  /** #37 — ORDER-SENSITIVE rolling-hash fingerprint (Rabin-Karp): fold
    * H = (H*257 + h(tok)) mod P over the token sequence, h = 32-bit md5
    * prefix. Pure integer fold — parity with the oracle is exact, and
    * reordered/edited docs hash differently (unlike #27's set hash). */
  val RollB = 257L
  val RollP = 4294967311L
  def rollingHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"),
        aggregate(
          transform(col("toks"),
            w => conv(substring(md5(w), 1, 8), 16, 10).cast("long")),
          lit(0L),
          (acc, h) => (acc * RollB + h) % RollP).as("rhash"))

  /** Gopher-rule thresholds (Rae et al. 2021 "Scaling Language Models:
    * …Gopher", table A1 — public; floors adapted to the short synthetic
    * docs). All compares are integer cross-multiplications so no
    * float ratio can disagree across engines. */
  val GopherMinWords = 10
  val GopherMaxWords = 100000
  val GopherMinMeanLen = 3   // 3 <= totalChars/nWords <= 10
  val GopherMaxMeanLen = 10
  val GopherMaxSymbolPct = 10 // symbols/words < 10%
  val GopherMinStops = 2

  /** #117 — Gopher-style quality rule filter: the standard pre-training
    * repetition/format gate as per-rule boolean flags + the composed
    * keep bit. One pure map-side projection over the corpus scan (zero
    * shuffles, fully codegen'd): word bounds, mean-word-length band,
    * symbol-to-word ratio, and minimum stopword evidence — every ratio
    * is compared as an integer cross-product (n_chars vs k·n_words
    * etc.), never a float division, so borderline docs can't flip
    * between engines. */
  def gopherRules(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.documents(s, dir).withColumn("toks", tokens(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      // token chars only (whitespace excluded) so mean word length is
      // over the words themselves
      .withColumn("n_tok_chars",
        aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x))
      .withColumn("n_sym",
        (length(col("text")) -
          length(regexp_replace(col("text"), "[#*>|=_~]", ""))).cast("long"))
      .withColumn("n_stop",
        size(filter(col("toks"),
          t => t.isin(StopWords("en").map(lit): _*))).cast("long"))
    df.select(
      col("doc_id"), col("n_words"),
      (col("n_words") >= GopherMinWords &&
        col("n_words") <= GopherMaxWords).cast("int").as("ok_words"),
      (col("n_tok_chars") >= lit(GopherMinMeanLen) * col("n_words") &&
        col("n_tok_chars") <= lit(GopherMaxMeanLen) * col("n_words"))
        .cast("int").as("ok_mean_len"),
      (col("n_sym") * 100 < lit(GopherMaxSymbolPct) * col("n_words"))
        .cast("int").as("ok_symbols"),
      (col("n_stop") >= GopherMinStops).cast("int").as("ok_stops"))
      .withColumn("keep",
        (col("ok_words") === 1 && col("ok_mean_len") === 1 &&
          col("ok_symbols") === 1 && col("ok_stops") === 1).cast("int"))
  }

  /** #131 — language-ID CONFUSION MATRIX: the heuristic classifier
    * (#24) scored against the corpus's labeled `lang` column — the
    * accuracy check run before trusting a language filter to gate a
    * 100 TB corpus (a classifier that eats one language's documents
    * shows up here as an off-diagonal mass, not in any aggregate
    * rate). Composes langId's projection with ONE combinable count on
    * the ≤|langs|² key space. */
  def langConfusion(s: SparkSession, dir: String): DataFrame =
    langPredicted(s, dir)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))

  /** #132 — per-source token-count percentiles (exact): p50 as the
    * doubled-integer median (odd n → 2·middle, even → lower+upper, no
    * division until the final report) and p95 as the exact
    * order-statistic at rank ⌈0.95·n⌉ (selection, integer compare
    * 20·rank ≥ 19·n) — the corpus length profile consulted when
    * choosing packing bin sizes and truncation limits. r17: selection
    * runs over the per-source COUNT-VALUE HISTOGRAM (the q_skew_stats
    * discipline — the value at rank r is min{v : cum_count(v) ≥ r}):
    * the corpus folds into one combinable (source, n_toks) aggregate,
    * and every window rides the histogram frame — bounded by DISTINCT
    * token counts per source, never document count (the previous
    * per-source rank window sorted a whole source's docs in one
    * task). */
  def lenPercentiles(s: SparkSession, dir: String): DataFrame = {
    val bySrc = Window.partitionBy("source")
    val wC = bySrc.orderBy("n_toks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("source", "n_toks").agg(count(lit(1)).as("c"))
      .withColumn("ck", sum("c").over(wC))
      .withColumn("n", sum("c").over(bySrc))
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"),
        ((min(when(col("ck") >= expr("(n + 1) div 2"), col("n_toks")))
          + min(when(col("ck") >= expr("(n + 2) div 2"), col("n_toks"))))
          .cast("double") / 2.0).as("p50_tokens"),
        min(when(col("ck") * 20 >= col("n") * 19, col("n_toks")))
          .as("p95_tokens"))
  }

  /** Fixed-point grid for cross-source weight sums (√tokens ≈ 2.5e3 at
    * sf0.1 × 2^40 ≈ 2.7e15 — comfortably inside long). */
  val TempFixScale = 1L << 40

  /** #121 — TEMPERATURE-scaled mixture weights (T = 2, i.e. weights ∝
    * tokens^(1/2)): the standard multilingual/multi-source upsampling
    * rule (mBERT/XLM-R exponent-smoothed sampling — public) that lifts
    * small sources relative to proportional sampling. Same plan shape
    * as [[mixWeights]]: one combinable per-source agg, a 1-row
    * normalizer broadcast back. α = 1/2 specifically because sqrt is
    * correctly rounded in IEEE754 — bit-identical across engines where
    * a libm pow(x, 0.7) need not be; the normalizer sums the √-weights
    * on the [[TempFixScale]] fixed-point grid so the cross-source sum
    * is an exact integer at any source count. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .withColumn("t", tokens(col("text")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("t")).cast("long")).as("src_tokens"))
      .withColumn("w_fix",
        floor(sqrt(col("src_tokens").cast("double")) * TempFixScale))
    val z = per.agg(
      sum(col("w_fix").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("zf"))
    per.crossJoin(broadcast(z))
      .withColumn("rate", least(lit(1.0),
        (lit(MixBudget.toDouble) *
          (col("w_fix").cast("double") / col("zf").cast("double"))) /
          col("src_tokens")))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        (col("w_fix").cast("double") / TempFixScale.toDouble).as("weight"),
        col("rate"), (col("rate") * col("src_tokens")).as("exp_tokens"))
  }

  /** Holdout modulus: doc-hash ≡ 0 (mod 20) → the 5% validation slice. */
  val HoldoutMod = 20

  /** #122 — leakage-safe TRAIN/VALIDATION split: assignment is a
    * stable md5 bucket of the document id (salted so it is independent
    * of [[shardAssign]]'s bucketing), so the same doc lands in the same
    * split across runs, engines, and corpus versions — the property
    * random splits lose and per-position splits (first N%) lose under
    * re-ordering. Report: per (source, split) doc/token counts, the
    * table a pipeline checks to confirm the validation slice tracks
    * the corpus mix. One map-side hash + one combinable shuffle. */
  def splitHoldout(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("split",
        when(pmod(conv(substring(md5(concat(lit("split:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
          lit(HoldoutMod)) === 0, "val").otherwise("train"))
      .withColumn("n_toks", size(tokens(col("text"))).cast("long"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))

  /** Output-shard count for the corpus writer step. */
  val NumShards = 16

  /** #118 — deterministic output sharding (the writer step after
    * packing): every doc hashes to one of [[NumShards]] shards by a
    * stable md5 bucket of its id — re-derivable across runs and
    * engines, unlike round-robin, and key-balanced unlike ranges — and
    * the report is the per-shard balance sheet (doc/token/char counts)
    * a 100 TB writer logs to detect skewed output files before they
    * hit the object store. One map-side hash + ONE combinable shuffle
    * on the 16 shard keys. */
  def shardAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("shard",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(NumShards)))
      .withColumn("n_toks", size(tokens(col("text"))).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))

  /** Vocabulary-growth bucket width (docs per curve point) and the
    * super-bucket width for the two-level cumulative sum. */
  val VocabBucket = 10L
  val VocabSuper = 1024L

  /** #146 — HEAPS-LAW VOCABULARY GROWTH curve over word-BIGRAM types:
    * per [[VocabBucket]]-doc bucket, the count of bigram types seen
    * for the FIRST time and the cumulative vocabulary — the
    * corpus-health curve (sublinear growth is normal text; a kink
    * flags an ingest of gibberish, a new language, or mass
    * duplication, and the curve sizes tokenizer vocabularies). Bigram
    * types rather than unigrams because the combinatorial type space
    * is what keeps growing on real corpora — unigram vocabularies
    * saturate almost immediately (on this testdata: within the first
    * bucket). First occurrences are min(doc_id) per type (per-doc
    * distinct BEFORE the explode, one type-keyed shuffle where the min
    * combiner absorbs hot types); the cumulative runs over the bucket
    * frame with the doc_pack_bins TWO-LEVEL carry (per-super running
    * sums partition on the super key; the partitionless window sees
    * one row per [[VocabSuper]] buckets ≈ 10^4 docs), so no window
    * ever spans the corpus. */
  def heapsVocab(s: SparkSession, dir: String): DataFrame = {
    val perBucket = Tables.documents(s, dir)
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1))))).as("w"))
      .groupBy("w").agg(min("doc_id").as("first_doc"))
      .groupBy(expr(s"first_doc div $VocabBucket").as("bucket"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("sup", expr(s"bucket div $VocabSuper"))
    val supTot = perBucket.groupBy("sup").agg(sum("n_new").as("stot"))
    val wS = Window.orderBy("sup").rowsBetween(Window.unboundedPreceding, -1)
    val supCarry = supTot
      .withColumn("scarry", coalesce(sum("stot").over(wS), lit(0L)))
      .select("sup", "scarry")
    val wB = Window.partitionBy("sup").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket.join(supCarry, "sup")
      .withColumn("cum_vocab", col("scarry") + sum("n_new").over(wB))
      .select(col("bucket"), col("n_new"), col("cum_vocab"))
  }

  /** Fixed-point grid for char-LM probabilities: every P is in (0,1],
    * so floor(P·2^40) is an exact long and per-doc sums stay far below
    * 2^63 at any real document length. */
  val LmFixScale = 1L << 40

  /** #140 — CHAR-BIGRAM LANGUAGE-MODEL fluency score (the CCNet-style
    * model-based quality filter, adapted to closed-form arithmetic):
    * train an add-1-smoothed char-bigram model ON the corpus (pass 1 —
    * counts only), then score every doc by its MEAN bigram conditional
    * probability under that model (pass 2). Gibberish / boilerplate /
    * wrong-charset docs score low; this is the model-based signal the
    * heuristic text_quality rules can't give. The mean is ARITHMETIC,
    * not the geometric mean a perplexity reports, by design: geometric
    * needs ln(), which is NOT correctly rounded cross-engine (the same
    * reason doc_mix_temperature chose √ over pow) — whereas every
    * operation here (integer-to-double casts, one division per model
    * entry, the [[LmFixScale]] floor) is exact IEEE arithmetic, so the
    * score is bit-identical in the oracle. Model size is bounded by
    * charset² at ANY corpus scale → broadcast; pass 1 is one
    * combinable shuffle on bigram keys; pass 2 is map-side probe +
    * one doc_id shuffle. P(b|a) = (c(ab)+1) / (c(a·)+V) with V =
    * distinct second chars. */
  /** Index-build producer for [[TextIndex]] bgc/: the per-doc
    * overlapping char-bigram count profile (doc_id, bg, c) — the one
    * corpus-sized pass under text_char_lm. Occurrence-level sums are
    * recovered exactly as Σ c·x. The overlapping bigram multiset comes
    * from TWO codegen'd \G chunk splits (even- and odd-aligned 2-char
    * chunks; length-1 tails and trailing "" drop in the filter) — a
    * per-position transform lambda is interpreted per ELEMENT and was
    * the dominant cost of the first formulation (3.9 s → ~1.3 s at
    * sf0.1). */
  private[operators] def charBigramProfile(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), lower(col("text")).as("nm"))
      .filter(length(col("nm")) >= 2)
      .select(col("doc_id"), explode(concat(
        split(col("nm"), "(?<=\\G..)"),
        split(col("nm").substr(lit(2), length(col("nm"))), "(?<=\\G..)")))
        .as("bg"))
      .filter(length(col("bg")) === 2)
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))

  def charLm(s: SparkSession, dir: String): DataFrame = {
    // The per-doc profile is STAGED (TextIndex bgc/ — tokenization and
    // the corpus-sized (doc, bg) aggregate are index build); the query
    // derives the tiny add-1 model and scores, both over the profile.
    val bgc = Tables.parquet(s, TextIndex.ensure(s, dir).bgc)
    val m = bgc.groupBy("bg").agg(sum("c").as("cab"))
    val fc = m.groupBy(substring(col("bg"), 1, 1).as("a")).agg(sum("cab").as("ca"))
    val vz = m.agg(countDistinct(substring(col("bg"), 2, 1)).as("vsz"))
    val model = m.withColumn("a", substring(col("bg"), 1, 1))
      .join(fc, "a").crossJoin(broadcast(vz))
      .select(col("bg"),
        floor(((col("cab") + 1).cast("double") /
          (col("ca") + col("vsz")).cast("double")) * LmFixScale)
          .cast("long").as("pfix"))
    bgc.join(broadcast(model), "bg")
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), sum(col("c") * col("pfix")).as("sfix"))
      .select(col("doc_id"), col("n_bigrams"),
        ((col("sfix").cast("double") / LmFixScale) / col("n_bigrams"))
          .as("mean_p"))
  }

  /** Deterministic threshold-sample rate for #212 (doc_id parity —
    * CCNet's "estimate quantiles on a sample" dial). */
  val CcnetSampleMod = 2

  /** #212 — CCNet-style QUALITY BUCKETING (Wenzek et al., LREC 2020 —
    * public): every doc lands in its language's head/middle/tail
    * tercile by char-LM score — the filtering signal CCNet uses to
    * keep the most-fluent third of a crawl. Scores come from the
    * REGISTERED staged char-LM (#140); thresholds are estimated on a
    * deterministic SAMPLE (doc_id parity), exactly CCNet's move: the
    * per-lang rank runs only over the bounded sample frame, the
    * thresholds broadcast, and the corpus assigns map-side by value
    * comparison — the full corpus never enters a rank window, so the
    * shape survives any per-language skew at 100 TB. Null-threshold
    * fall-through (a lang too small to seat a tercile in the sample)
    * buckets to tail in both engines. */
  def ccnetBucket(s: SparkSession, dir: String): DataFrame = {
    val scored = charLm(s, dir)
      .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
    val samp = scored.filter(col("doc_id") % CcnetSampleMod === 0)
    val wS = Window.partitionBy("lang").orderBy(col("mean_p").desc, col("doc_id"))
    val rk = samp.withColumn("rn", row_number().over(wS).cast("long"))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy("lang")))
    val th = rk.groupBy("lang").agg(
      min(when(col("rn") * 3 <= col("ns"), col("mean_p"))).as("t1"),
      min(when(col("rn") * 3 <= col("ns") * 2, col("mean_p"))).as("t2"))
    scored.join(broadcast(th), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("mean_p"),
        when(col("mean_p") >= col("t1"), "head")
          .when(col("mean_p") >= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** DSIR hashed-feature space and its fixed-point grid (ratios can
    * reach corpus scale, so sums go through DECIMAL(38), not long). */
  val DsirBuckets = 128
  val DsirFixScale = 1L << 20

  /** #141 — DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling" —
    * public): score every raw-corpus doc by how target-like its hashed
    * n-gram features are, where the target is the eval slice (doc_id ≡
    * 0 mod [[EvalMod]], the decontaminate slice standing in for a
    * curated target corpus). Features = word bigrams hashed into
    * [[DsirBuckets]] buckets (the paper's hashed n-gram reduction —
    * the model is B integers per distribution at ANY corpus scale);
    * per-feature importance ρ_h = ((t_h+1)/(T_t+B)) / ((r_h+1)/(T_r+B))
    * (add-1-smoothed target over raw probability). The registered
    * score is the MEAN of ρ over the doc's feature occurrences — the
    * paper's log-sum form needs ln() (not correctly rounded
    * cross-engine); the mean-ratio form keeps every step exact IEEE
    * (integer casts + three divisions per bucket, [[DsirFixScale]]
    * floor, DECIMAL(38) sums) so the oracle is bit-identical. Pass 1:
    * one combinable shuffle onto ≤B keys + a 1-row totals frame;
    * pass 2: map-side broadcast probe + one doc_id shuffle. */
  /** Index-build producer for [[TextIndex]] dsir/: the per-doc hashed
    * word-bigram feature-count profile (doc_id, h, c) — ≤ DsirBuckets
    * rows per doc, exact occurrence counts. */
  private[operators] def dsirFeatureProfile(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => concat_ws(" ", element_at(col("t"), i), element_at(col("t"), i + 1))))
        .as("bgr"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("bgr")), 1, 8), 16, 10).cast("long"),
          lit(DsirBuckets)).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))

  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val isEval = col("doc_id") % EvalMod === 0
    // STAGED profile probe (TextIndex dsir/): tokenization, hashing and
    // the corpus-sized (doc, h) aggregate are index build; occurrence
    // sums recover exactly as Σ c (and Σ c·rfix for the score), so
    // every derived integer matches the from-scratch oracle.
    val bgf = Tables.parquet(s, TextIndex.ensure(s, dir).dsir)
    val counts = bgf.groupBy("h").agg(
      sum(when(isEval, col("c")).otherwise(0L)).as("t_h"),
      sum(when(isEval, 0L).otherwise(col("c"))).as("r_h"))
    val totals = counts.agg(sum("t_h").as("tt"), sum("r_h").as("tr"))
    val model = counts.crossJoin(broadcast(totals))
      .select(col("h"),
        floor((((col("t_h") + 1).cast("double") /
            (col("tt") + DsirBuckets).cast("double")) /
          ((col("r_h") + 1).cast("double") /
            (col("tr") + DsirBuckets).cast("double"))) * DsirFixScale)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("rfix"))
    bgf.filter(!isEval)
      .join(broadcast(model), "h")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_feats"), sum(col("c") * col("rfix")).as("sfix"))
      .select(col("doc_id"), col("n_feats"),
        ((col("sfix").cast("double") / DsirFixScale) / col("n_feats"))
          .as("dsir_score"))
  }

  /** #152 — one BPE merge-count iteration (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units" — the
    * tokenizer-training primitive): corpus → word-frequency vocabulary,
    * then adjacent symbol-pair counts weighted by word frequency, top-20
    * merge candidates. The corpus-sized stage is ONE combinable
    * word-count aggregate (explode rides the shuffle into map-side
    * partials); the pair explosion runs over the DISTINCT vocabulary —
    * orders of magnitude smaller than the corpus at any scale (Heaps'
    * law), which is exactly why real BPE trainers count over the word
    * dict, not the raw text. Counts are exact integers; the final
    * top-k is TakeOrderedAndProject with total-order ties. */
  /** #155 — per-doc duplicate-n-gram fraction: what share of a doc's
    * distinct 3-gram shingles also appear in at least one OTHER doc —
    * the per-document "how much of me is boilerplate" memorization-risk
    * score (doc-level twin of the pair miners: a doc can be 40%
    * duplicated against the whole corpus without any single pair
    * clearing a jaccard threshold). Probes the STAGED hashed shingle
    * sets (DedupIndex rset/ — no tokenization, no string anywhere):
    * explode → one document-frequency shuffle over the hash key → one
    * doc_id-keyed count back. All-integer counts; the fraction is one
    * mirrored division. */
  def dupNgramFrac(s: SparkSession, dir: String): DataFrame = {
    val sets = Tables.parquet(s, Dedup.tokensIndexRset(s, dir))
      .select(col("doc_id"), col("n"), explode(col("set")).as("h"))
    val df = sets.groupBy("h").agg(count(lit(1)).as("df"))
    sets.join(df, "h")
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        // n=0 cannot occur today (rset rows come from exploded shingles)
        // but the guard keeps an empty set NULL, never engine-NaN
        when(col("n_shingles") === 0, lit(null).cast("double"))
          .otherwise(col("n_dup").cast("double") / col("n_shingles"))
          .as("dup_frac"))
  }

  /** #184 — SHARD MIX DIVERSITY: per output shard (the #123
    * doc_shard_assign buckets), the Simpson diversity index of its
    * source mix — 1 − Σ(nₛ/n)² — the shard-health check before
    * training reads the shards sequentially (a shard dominated by one
    * source makes that training window distribution-skewed; hash
    * sharding should score near the corpus-wide mix). Simpson over
    * Shannon BY DESIGN: it is a ratio of integers with one IEEE
    * division chain (ln() is not correctly rounded cross-engine — the
    * mm_byte_ioc argument). One combinable (shard, source) count, one
    * shard rollup. */
  def shardDiversity(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .withColumn("shard",
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(NumShards)))
      .groupBy("shard", "source").agg(count(lit(1)).as("c"))
    per.groupBy("shard")
      .agg(sum("c").as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("c") * col("c")).as("ss"))
      .select(col("shard"), col("n_docs"), col("n_sources"),
        (lit(1.0) - col("ss").cast("double") /
          (col("n_docs").cast("double") * col("n_docs").cast("double")))
          .as("simpson"))
  }

  /** #175 — SOURCE VOCABULARY OVERLAP: pairwise Jaccard between the
    * distinct word vocabularies of every source pair — the corpus-
    * comparison matrix consulted when designing mixtures (two feeds
    * with 0.9 vocabulary overlap are near-redundant; a 0.1 pair adds
    * coverage). The corpus-sized stage is ONE distinct to (source,
    * word) — vocabulary-bounded by Heaps' law from there on; the
    * word-keyed self-join fans out at most n_sources² per word, and
    * sizes broadcast back. Integer intersections, one mirrored
    * division per pair. */
  def vocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val sv = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .distinct()
      .localCheckpoint() // seeds sizes + both sides of the pair join
    val sizes = sv.groupBy("source").agg(count(lit(1)).as("n"))
    val pairs = sv.select(col("source").as("source_a"), col("w"))
      .join(sv.select(col("source").as("source_b"), col("w")), "w")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("c"))
    pairs
      .join(sizes.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .select(col("source_a"), col("source_b"), col("c"), col("na"), col("nb"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c")))
          .as("jaccard"))
  }

  /** #173 — per-source DUPLICATION RATE: how much of each source is
    * exact-duplicate content (non-survivors under the #54 longest-copy
    * rule) — the data-quality dashboard row that decides which feeds
    * get renegotiated or down-weighted before the expensive near-dup
    * passes even run. One content-hash window shares the md5 shuffle,
    * one source rollup; integer counts, one mirrored division. */
  def dupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("h").orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("h", md5(col("text")))
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_rate"))
  }

  /** Query terms for the keyword-search operator (fixed, like every
    * other parameterized query in the suite). */
  val SearchTerms: Seq[String] = Seq("join", "vector", "filter")

  /** #163 — KEYWORD SEARCH with idf weighting: top-10 documents for a
    * fixed 3-term query, scored Σ_t tf_t · (N / df_t) — the inverted-
    * index retrieval primitive (BM25's k1→∞, b=0 degenerate kept
    * log-free on purpose: ln() is not correctly rounded cross-engine,
    * N/df is one exact IEEE division). The corpus-sized stage is ONE
    * combinable aggregate of 3 conditional term counts per doc (the
    * explode filters to query terms map-side — shuffle carries ≤3
    * counters per doc, the posting-list cost model); df and N derive
    * from that frame and broadcast back as one row; the final top-10 is
    * TakeOrderedAndProject on (score desc, doc_id). */
  def searchTfidf(s: SparkSession, dir: String): DataFrame = {
    val terms = SearchTerms
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf$i")
    }
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w").isin(terms.map(lit): _*))
      .groupBy("doc_id")
      .agg(tfAggs.head, tfAggs.tail: _*)
      .localCheckpoint() // seeds both the df row and the scoring pass
    val dfAggs = terms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = tf.agg(dfAggs.head, dfAggs.tail: _*)
    val nTotal = Tables.documents(s, dir).agg(count(lit(1)).as("nn"))
    // df=0 guard: a term absent from the corpus contributes 0, not the
    // NaN that 0 · (n/0) would produce (CASE mirrored by the oracle)
    val score = terms.indices.map(i =>
        when(col(s"df$i") === 0, lit(0.0))
          .otherwise(col(s"tf$i") * (col("nn").cast("double") / col(s"df$i"))))
      .reduce(_ + _)
    tf.crossJoin(broadcast(stats)).crossJoin(broadcast(nTotal))
      .select(col("doc_id") +:
        terms.indices.map(i => col(s"tf$i")) :+ score.as("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(10)
  }

  /** Merge-table size for #224 (the #152 top-20). */
  val BpeMerges = 20

  /** #224 — BPE APPLY: tokenize the corpus with the learned merge
    * table (#152's top-[[BpeMerges]] char pairs in (cnt desc, pair)
    * priority order) and report BPE tokens/doc against the whitespace
    * baseline — the apply side a pipeline runs once merges are learned.
    *
    * The apply itself exploits a closed form: every learned merge is a
    * (1-char, 1-char) pair and a merged symbol is 2 chars, so a merged
    * symbol can never re-merge — applying the table in priority order
    * is therefore EXACTLY a chain of left-to-right non-overlapping
    * string replaces, each rewriting a merged pair to a unique
    * private-use sentinel char (so later merges cannot consume a
    * consumed char). Final symbol count = length of the rewritten
    * string. The spec proves this encoding equals the real
    * symbol-list BPE apply (driver recompute over the whole vocab plus
    * adversarial overlap words) and that detokenization round-trips.
    *
    * Scale shape: the replace chain runs over the DISTINCT-word vocab
    * (vocab-bounded, never corpus-bounded), which joins back to the
    * per-doc word explode — the merge table itself is 20 rows pulled
    * to the driver and baked in as literals (the bloom-literal
    * discipline). Reference: fn_registry.rs's UDCF dispatch is the
    * contract for registering such derived text functions. */
  /** The DISTINCT vocabulary with each word's encoded symbol count
    * under the learned merge table — shared by #153's per-source
    * compression report and #253's per-language fertility eval, ONE
    * definition so the sentinel guard and the replace chain can never
    * diverge between them. A word already containing a private-use
    * sentinel would be MISCOUNTED by the replace chain (its chars
    * collide with the encoding), so such words count as unmergeable
    * raw length — the CASE is mirrored verbatim in both oracles (zero
    * such words in practice; the guard exists so one can never corrupt
    * the count). */
  private def bpeEncodedVocab(s: SparkSession, dir: String,
      words: DataFrame): DataFrame = {
    val merges: Seq[String] =
      bpeMergeStep(s, dir).collect().map(_.getString(0)).toSeq
    val applied = merges.zipWithIndex.foldLeft(col("w")) { case (c, (p, i)) =>
      replace(c, lit(p), lit(new String(Character.toChars(0xE000 + i))))
    }
    words.select("w").distinct()
      .withColumn("nb", when(col("w").rlike(BpeSentinelClass),
        length(col("w"))).otherwise(length(applied)).cast("long"))
  }

  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("w"))
    val vocab = bpeEncodedVocab(s, dir, words)
    words.join(vocab, "w")
      .groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("ws_tokens"),
        sum(col("nb")).as("bpe_tokens"))
      .select(col("source"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        (col("ws_tokens").cast("double") / col("n_docs")).as("ws_per_doc"),
        (col("bpe_tokens").cast("double") / col("n_docs")).as("bpe_per_doc"))
  }

  /** #253 — TOKENIZER FERTILITY BY LANGUAGE: symbols-per-word under
    * the learned merge table, per language — THE tokenizer-equity
    * metric (a tokenizer trained on one language's statistics encodes
    * the others at higher fertility: more compute and context per
    * word; Ács'19 / Rust et al. ACL'21 measure exactly this). Same
    * staged machinery as #153 (shared [[bpeEncodedVocab]] — the
    * replace chain and sentinel guard are literally the same
    * expression), regrouped by lang with the eval's two ratios:
    * fertility = encoded symbols / words, unmerged_share = the share
    * of word occurrences no merge touched (encoded length = raw
    * length — coverage's complement). Corpus cost: one explode + a
    * broadcastable vocab join; ratios are single divisions of exact
    * longs. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
    val vocab = bpeEncodedVocab(s, dir, words)
    words.join(vocab, "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("ws_tokens"),
        sum(col("nb")).as("bpe_tokens"),
        sum(when(col("nb") === length(col("w")).cast("long"), 1L)
          .otherwise(0L)).as("n_unmerged"))
      .select(col("lang"), col("ws_tokens"), col("bpe_tokens"),
        col("n_unmerged"),
        (col("bpe_tokens").cast("double") / col("ws_tokens")).as("fertility"),
        (col("n_unmerged").cast("double") / col("ws_tokens"))
          .as("unmerged_share"))
  }

  /** Training rounds for #text_bpe_train. */
  val BpeTrainRounds = 10

  /** Sentinel-range regex shared by the BPE ops: words already
    * containing private-use sentinels are excluded from training and
    * application (they would collide with the encoding — the exact
    * failure the r14 advisor flagged), mirrored verbatim in the oracle
    * so both engines drop the same (in practice zero) words. */
  private[operators] val BpeSentinelClass = "[\uE000-\uE01F]"

  /** #text_bpe_train — TRUE iterated BPE training: N rounds, each
    * counting adjacent SYMBOL pairs over the current vocab encoding and
    * merging THE most frequent pair (cnt desc, pair asc — the classic
    * algorithm, one merge per round). Merged symbols are single
    * private-use sentinel chars, so the 1 char = 1 symbol invariant
    * holds every round and a sentinel pair re-enters the statistics —
    * round 2 can merge (sentinel, char): the restriction #152/#224's
    * single-round table lived under is lifted. Per round the output
    * reports the raw chosen pair, its expanded (readable) merged
    * symbol, the weighted pair count, and corpus_symbols = Σ wc·len
    * AFTER the merge — the apply side of the learned table at every
    * prefix, i.e. the compression curve a tokenizer team reads before
    * freezing a vocab.
    *
    * Scale shape: the driver loop runs 2 tiny actions per round (top-1
    * pair + symbol count) over the DISTINCT-word vocab — vocab-bounded,
    * never corpus-bounded; the corpus is tokenized ONCE into the
    * weighted vocab and each round's rewrite is one string replace,
    * localCheckpointed so lineage stays flat. The oracle unrolls the
    * identical fold as N SQL stages (replace semantics — left-to-right,
    * non-overlapping — agree between engines; the spec additionally
    * proves the sentinel encoding equals a reference symbol-list BPE
    * incl. multi-char merges and round-trip detokenization).
    * Reference: fn_registry.rs's registered-function dispatch (the
    * UDCF precedent for derived text functions). */
  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val vocab0 = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .filter(!col("w").rlike(BpeSentinelClass))
    bpeTrainOf(s, vocab0)
  }

  /** [[bpeTrain]]'s core over an explicit weighted vocab (w, wc) — the
    * spec drives crafted vocabularies through it to prove the sentinel
    * encoding against a reference symbol-list BPE. */
  private[graft] def bpeTrainOf(s: SparkSession, vocab0: DataFrame): DataFrame = {
    // The base vocab is checkpointed ONCE; each round applies the
    // driver-held merge list INSIDE one planning-free RDD pass instead
    // of materializing a rewrite checkpoint + a 2-exchange Catalyst
    // aggregate per round (49 jobs → ~12: the r20 JobProfile put
    // text_bpe_train at 49 jobs / 0.39 task-s / 1.8 s wall — nearly all
    // per-job scheduler floor + per-round planning). Bit-equivalence
    // with the replaced plan, piece by piece:
    //  - the rewrite: String.replace == UTF8String.replace (literal,
    //    all occurrences, left-to-right non-overlapping) for
    //    whole-code-point needles — a pair is always a sequence of
    //    complete code points, so byte-wise and char-wise matching see
    //    identical boundaries; merges apply in round order exactly as
    //    the stacked per-round selects did;
    //  - pair extraction: substr(i, 2)/length count CODE POINTS
    //    (UTF8String semantics), mirrored via codePoints; the len >= 2
    //    guard stays (a fully-merged 1-char word emits no pairs);
    //  - the top pair: min(struct(-cnt, pair)) compared pairs in
    //    UTF8String BINARY order — mirrored by an unsigned UTF-8 byte
    //    comparison on ties;
    //  - sums: wc and pair counts are exact longs; Math.addExact
    //    throws on overflow exactly where ANSI sum() did, and the
    //    per-pair map is bounded by |symbols|² (symbols = corpus chars
    //    + 10 sentinels), so the folded maps stay driver-safe at any
    //    corpus scale — the same bound that let the old plan's
    //    single-row collect exist.
    val vocab = vocab0.select(col("w"), col("wc")).localCheckpoint()
    val vRdd = vocab.queryExecution.toRdd
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long, Long)]()
    val raw = scala.collection.mutable.ArrayBuffer[String]()
    // expand a sentinel-encoded string back to readable chars: replace
    // sentinels in DESCENDING round order — round j's raw pair only
    // contains sentinels < j, so one descending pass is a full expansion
    def expand(p: String): String =
      (raw.size to 1 by -1).foldLeft(p)((acc, j) =>
        acc.replace(new String(Character.toChars(0xE000 + j - 1)), raw(j - 1)))
    // unsigned UTF-8 byte order — UTF8String.binaryCompare's tie rule
    def utf8Less(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    // (top pair by cnt desc / pair asc, total pair mass, Σ wc) of the
    // current vocab (base ∘ merges so far), in ONE job
    def pairStats(): (Option[(String, Long)], Long, Long) = {
      val merges = raw.toArray
      val sents = Array.tabulate(merges.length)(k =>
        new String(Character.toChars(0xE000 + k)))
      val zero = (scala.collection.mutable.HashMap.empty[String, Long], 0L)
      val (m, wcSum) = vRdd.mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        var wcs = 0L
        while (it.hasNext) {
          val row = it.next()
          if (!row.isNullAt(0)) {
            var w = row.getUTF8String(0).toString
            val wc = row.getLong(1)
            wcs = Math.addExact(wcs, wc)
            var k = 0
            while (k < merges.length) { w = w.replace(merges(k), sents(k)); k += 1 }
            val cps = w.codePoints.toArray
            var p = 0
            while (p < cps.length - 1) {
              val pair = new String(cps, p, 2)
              m.update(pair, Math.addExact(m.getOrElse(pair, 0L), wc))
              p += 1
            }
          }
        }
        Iterator.single((m, wcs))
      }.fold(zero) { (a, b) =>
        b._1.foreach { case (k, v) =>
          a._1.update(k, Math.addExact(a._1.getOrElse(k, 0L), v))
        }
        (a._1, Math.addExact(a._2, b._2))
      }
      if (m.isEmpty) (None, 0L, wcSum)
      else {
        var mass = 0L
        var bestPair: String = null
        var bestCnt = 0L
        m.foreach { case (p, c) =>
          mass = Math.addExact(mass, c)
          if (bestPair == null || c > bestCnt ||
            (c == bestCnt && utf8Less(p, bestPair))) { bestPair = p; bestCnt = c }
        }
        (Some((bestPair, bestCnt)), mass, wcSum)
      }
    }
    // Σ wc — read off round 1's pass (wc never changes across rounds),
    // so symbols-after-merge needs NO extra vocab scan: len(w) =
    // pairs(w) + 1 per word, so Σ wc·len = Σ pair counts + Σ wc, and
    // round r+1's pair pass already computes round r's pair mass.
    var totalWc = 0L
    var haveTotal = false
    var r = 0
    var exhausted = false
    var pending: Option[Int] = None // row index awaiting its symbols
    while (r < BpeTrainRounds && !exhausted) {
      val (top, mass, wcSum) = pairStats()
      if (!haveTotal) { totalWc = wcSum; haveTotal = true }
      // this round's pair mass IS the previous round's symbol count
      pending.foreach { i => rows(i) = rows(i).copy(_5 = totalWc + mass) }
      pending = None
      top match {
        case None => exhausted = true // every word fully merged
        case Some((pair, cnt)) =>
          val merged = expand(pair)
          raw += pair
          rows += ((r + 1L, pair, merged, cnt, -1L))
          pending = Some(rows.length - 1)
      }
      r += 1
    }
    // the final round's symbols: one last pair-mass pass over the
    // rewritten vocab (the only vocab scan not amortized into a round)
    pending.foreach { i =>
      val (_, mass, _) = pairStats()
      rows(i) = rows(i).copy(_5 = totalWc + mass)
    }
    s.createDataFrame(rows.toSeq)
      .toDF("merge_round", "pair", "merged", "cnt", "corpus_symbols")
  }

  def bpeMergeStep(s: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .filter(length(col("w")) >= 2)
    wc.select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)
  }

  /** Order-aligned bucket width of #250's two-level rank: the first
    * two hex chars of the md5 order key — 256 buckets that partition
    * the (hk, doc_id) sort order, so within-bucket ranks + a per-source
    * 256-row carry compose the exact per-source dense rank. */
  val InterleaveBuckets = 2

  /** #250 — DETERMINISTIC TRAINING-ORDER INTERLEAVE: the execution
    * step after #53 decides mixture proportions — lay every source's
    * docs in a reproducible shuffled order (md5-of-id rank, the
    * ts_sample_reservoir discipline: no RNG state crosses machines,
    * re-runs and re-partitions reproduce bit-identically) and
    * round-robin the sources into one global training stream:
    * slot = (rank_in_source − 1) · n_sources + source_idx, so
    * consecutive slots cycle sources and each source's own docs appear
    * in hash order — the "shuffle and interleave" every epoch assembly
    * performs. The per-source rank is NEVER one window partition: ranks
    * compute within (source, 2-hex-char bucket of the order key) — the
    * bucket prefix partitions the sort order — and a per-source
    * 256-row cumulative carry (the docPackBins two-level discipline)
    * lifts them to exact source-global ranks. Source ids are a
    * broadcast sources-bounded frame. */
  def docInterleave(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("hk"))
      .withColumn("b", substring(col("hk"), 1, InterleaveBuckets))
    val wIn = Window.partitionBy("source", "b").orderBy("hk", "doc_id")
    val wCarry = Window.partitionBy("source").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = h.groupBy("source", "b").agg(count(lit(1)).as("bc"))
      .withColumn("carry", coalesce(sum("bc").over(wCarry), lit(0L)))
      .select("source", "b", "carry")
    val sidx = Tables.documents(s, dir).select("source").distinct()
      .withColumn("sidx",
        (row_number().over(Window.orderBy("source")) - 1).cast("long"))
    val ns = sidx.agg(count(lit(1)).as("ns"))
    h.join(carry, Seq("source", "b"))
      .withColumn("grank",
        (col("carry") + row_number().over(wIn)).cast("long"))
      .join(broadcast(sidx), "source")
      .crossJoin(broadcast(ns))
      .select(col("doc_id"), col("source"), col("grank"),
        ((col("grank") - 1L) * col("ns") + col("sidx")).as("slot"))
  }

  /** #259 — SOURCE DISTRIBUTION DRIFT: the pairwise TOTAL-VARIATION
    * distance matrix between per-source unigram distributions — the
    * curation monitor for "which sources are distributionally
    * near-duplicates / which new crawl drifted" (the doc-level
    * companion is #229's shared-duplicate matrix; this one sees
    * distribution shift with NO shared documents at all). TV needs
    * Σ|p−q| — a float sum over the vocabulary, which the determinism
    * contract forbids — so the identity
    * Σ_w |c₁n₂ − c₂n₁| = Σ_co-present |c₁n₂ − c₂n₁| + (n₁n₂ − Σ_co c₁n₂)
    * + (n₁n₂ − Σ_co c₂n₁) turns it EXACT: only co-present words join
    * (one vocab-keyed self-join of the CHECKPOINTED count frame —
    * absent-word mass recovers from the totals algebraically),
    * integer products FORM in DECIMAL(38,0) (one operand casts before
    * the multiply — no 64-bit intermediate to wrap) and sum there, and
    * the single division by 2n₁n₂ is the one double. Pair work is vocab × sources² — the
    * sources axis is bounded, the vocab axis Heaps-law small. */
  def sourceDrift(s: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = wc.groupBy("source").agg(sum(col("c")).as("n"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val co = wc.select(col("source").as("s1"), col("w"), col("c").as("c1"))
      .join(wc.select(col("source").as("s2"), col("w"), col("c").as("c2")), "w")
      .filter(col("s1") < col("s2"))
      .join(broadcast(tot.select(col("source").as("s1"), col("n").as("n1"))), "s1")
      .join(broadcast(tot.select(col("source").as("s2"), col("n").as("n2"))), "s2")
      .groupBy("s1", "s2")
      // one operand casts to DECIMAL(38,0) BEFORE the multiply (the
      // oracle mirrors with the same cast): at 100 TB the per-source
      // token totals push c·n past 64 bits, where a long intermediate
      // wraps silently in Spark but errors in DuckDB — the product
      // must never exist in 64-bit form
      .agg(
        sum(abs(col("c1").cast(dec) * col("n2") - col("c2").cast(dec) * col("n1")))
          .as("co_abs"),
        sum(col("c1").cast(dec) * col("n2")).as("co_12"),
        sum(col("c2").cast(dec) * col("n1")).as("co_21"))
    // the matrix is TOTAL: a pair sharing zero words still appears
    // (its co-sums are 0 and tv = 1 by the identity) — the pair frame
    // comes from the sources-bounded totals cross
    val pairs = tot.select(col("source").as("s1"), col("n").as("n1"))
      .crossJoin(tot.select(col("source").as("s2"), col("n").as("n2")))
      .filter(col("s1") < col("s2"))
    pairs.join(co, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"), col("n1"), col("n2"),
        (coalesce(col("co_abs"), lit(0).cast(dec))
          + (col("n1").cast(dec) * col("n2")
            - coalesce(col("co_12"), lit(0).cast(dec)))
          + (col("n1").cast(dec) * col("n2")
            - coalesce(col("co_21"), lit(0).cast(dec)))).as("tv_num"))
      .select(col("s1"), col("s2"), col("n1"), col("n2"),
        (col("tv_num").cast("double") /
          (lit(2.0d) * col("n1") * col("n2"))).as("tv"))
  }

  /** Rank depth of the Zipf constancy check (#244). */
  val ZipfTopR = 100
  /** Head depth whose coverage share the check also reports. */
  val ZipfHead = 10

  /** #244 — ZIPF CONSTANCY CHECK, transcendental-free: Zipf's law says
    * freq ∝ 1/rank, i.e. k = rank·freq is CONSTANT down the rank table
    * — so instead of an OLS slope in log-log space (ln() is the one
    * function whose last ulp the two engines don't share — the same
    * reason text_bigram_lift is log-free and text_dsir uses mean
    * ratios), the check reports the EXACT integer spread of k over the
    * top-[[ZipfTopR]] terms per language plus the head coverage
    * shares. A Zipfian corpus shows max_k/min_k near 1-3; gibberish or
    * mass duplication blows the spread out. The per-lang rank window
    * runs over the DISTINCT-word count frame (vocab-bounded, the
    * text_top_term argument — never corpus rows); totals re-enter from
    * the same frame, so the corpus tokenizes exactly once. Every
    * emitted double is one division of exact longs. */
  def zipfCheck(s: SparkSession, dir: String): DataFrame = {
    // checkpointed (the BPE vocab discipline): the totals and rank
    // branches would otherwise each re-tokenize the corpus — the
    // count frame is vocab-bounded (Heaps law), the corpus is not
    val counts = Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val totals = counts.groupBy("lang")
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("n_types"))
    val wR = Window.partitionBy("lang").orderBy(col("cnt").desc, col("w"))
    val top = counts
      .withColumn("rnk", row_number().over(wR).cast("long"))
      .filter(col("rnk") <= ZipfTopR)
      .withColumn("k", col("rnk") * col("cnt"))
    top.groupBy("lang")
      .agg(min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(when(col("rnk") <= ZipfHead, col("cnt")).otherwise(0L))
          .as("head_tokens"),
        sum(col("cnt")).as("top_tokens"))
      .join(broadcast(totals), "lang")
      .select(col("lang"), col("n_tokens"), col("n_types"),
        col("min_k"), col("max_k"),
        (col("max_k").cast("double") / col("min_k")).as("k_spread"),
        (col("head_tokens").cast("double") / col("n_tokens")).as("head_share"),
        (col("top_tokens").cast("double") / col("n_tokens")).as("top_share"))
  }

  /** Repetitiveness flag threshold of #245 as an exact ratio: flagged
    * when the collision probability is ≥ 1/20 (0.05). */
  val SimpsonNum = 1
  val SimpsonDen = 20

  /** #245 — SIMPSON DIVERSITY (repeat-rate) quality filter: the
    * probability two tokens drawn without replacement from the doc are
    * the SAME type — Σ c·(c−1) / (n·(n−1)), an exact rational (the
    * transcendental-free stand-in for token entropy; Herdan's vm /
    * Simpson's D, the repetition signal Gopher's dup-fraction rules
    * approximate). Per-doc (doc, word) counts ride one doc_id-prefixed
    * shuffle; numerator and denominator are exact BIGINTs, the score
    * is ONE mirrored division, and the keep/flag bit compares integer
    * cross-products ([[SimpsonNum]]/[[SimpsonDen]]) — no epsilon
    * anywhere. Docs with < 2 tokens have score 0 by definition. */
  def simpsonDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * (col("c") - 1L)).as("rep_num"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("rep_num"),
        when(col("n_tokens") < 2L, lit(0.0d))
          .otherwise(col("rep_num").cast("double") /
            (col("n_tokens") * (col("n_tokens") - 1L))).as("simpson"),
        (when(col("n_tokens") >= 2L,
          col("rep_num") * SimpsonDen >=
            col("n_tokens") * (col("n_tokens") - 1L) * SimpsonNum)
          .otherwise(lit(false))).cast("long").as("repetitive"))
}
