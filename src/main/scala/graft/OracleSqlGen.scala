package graft

import graft.operators.{Dedup, Similarity, TextOps, TimeSeriesOps}

/** Programmatically-generated DuckDB oracle SQL for the pipeline
  * operators, built from the SAME constants (salt counts, band layout,
  * hyperplane weights, stopword lists) as the Scala implementations so
  * the two can't drift apart. */
object OracleSqlGen {

  /** Shared CTE fragments. */
  private val toksCte =
    """toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t FROM documents)"""
  private val shCte =
    """idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i FROM toks WHERE len(t) >= 3),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM idx),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** 52-bit-hashed shingle set, mirroring Dedup.shingleHash exactly —
    * the jaccard/containment oracles compare over hashes because the
    * Spark side's staged rset never carries strings (see Dedup). */
  private val shgCte =
    """shg AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 13))::BIGINT AS g FROM sh),
      |szg AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY doc_id)""".stripMargin

  private def jaccardSelect(candJoin: String) =
    s"""SELECT i.doc_id1, i.doc_id2 FROM ($candJoin) i
       |JOIN szg s1 ON i.doc_id1 = s1.doc_id JOIN szg s2 ON i.doc_id2 = s2.doc_id
       |WHERE i.c * ${Dedup.ThreshDen} >= ${Dedup.ThreshNum} * (s1.n + s2.n - i.c)""".stripMargin

  val dedupExact: String =
    """SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keep_doc_id
      |FROM documents GROUP BY 1""".stripMargin

  private val ngramCtes = s"$toksCte, $shCte, $shgCte"
  private val ngramSelect = jaccardSelect(
    """SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS c
      |  FROM shg a JOIN shg b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2""".stripMargin)

  val dedupNgramJaccard: String = s"WITH $ngramCtes\n$ngramSelect"

  /** #225 — capped exact-jaccard pairs: the oracle mines ALL scored
    * pairs directly (the engine's distinct-set reconstruction equals
    * it by the capped-family lemma, spec-proved), symmetrizes, and
    * ranks per doc (jaccard desc, nbr) to the cap. */
  val dedupNgramJaccardCapped: String =
    s"""WITH $ngramCtes,
       |pairs AS (SELECT i.doc_id1, i.doc_id2,
       |    CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE) AS jaccard
       |  FROM (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS c
       |      FROM shg a JOIN shg b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) i
       |  JOIN szg s1 ON i.doc_id1 = s1.doc_id JOIN szg s2 ON i.doc_id2 = s2.doc_id
       |  WHERE i.c * ${Dedup.ThreshDen} >= ${Dedup.ThreshNum} * (s1.n + s2.n - i.c)),
       |sym AS (SELECT doc_id1 AS doc_id, doc_id2 AS nbr_id, jaccard FROM pairs
       |  UNION ALL SELECT doc_id2, doc_id1, jaccard FROM pairs)
       |SELECT doc_id, rnk, nbr_id, jaccard FROM (
       |  SELECT doc_id, nbr_id, jaccard, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY jaccard DESC, nbr_id) AS rnk FROM sym)
       |WHERE rnk <= ${Dedup.PairCapM}""".stripMargin

  /** #226 — capped containment: all scored ORDERED pairs (directional
    * miner — no symmetrization), ranked per contained doc to the cap. */
  val dedupContainmentCapped: String =
    s"""WITH $ngramCtes,
       |pairs AS (SELECT i.doc_id1 AS doc_id, i.doc_id2 AS nbr_id,
       |    CAST(i.c AS DOUBLE) / CAST(s1.n AS DOUBLE) AS containment
       |  FROM (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS c
       |      FROM shg a JOIN shg b ON a.g = b.g AND a.doc_id <> b.doc_id GROUP BY 1, 2) i
       |  JOIN szg s1 ON i.doc_id1 = s1.doc_id
       |  WHERE i.c * ${Dedup.ContainDen} >= ${Dedup.ContainNum} * s1.n)
       |SELECT doc_id, rnk, nbr_id, containment FROM (
       |  SELECT doc_id, nbr_id, containment, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY containment DESC, nbr_id) AS rnk FROM pairs)
       |WHERE rnk <= ${Dedup.PairCapM}""".stripMargin

  /** Asymmetric containment: ordered pairs with |Sa∩Sb| >= 0.9·|Sa|
    * (the oracle verifies all co-shingled pairs; the Spark side reaches
    * the same set through prefix-filtered candidates). */
  val dedupContainment: String =
    s"""WITH $ngramCtes,
       |i AS (SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS c
       |  FROM shg a JOIN shg b ON a.g = b.g AND a.doc_id <> b.doc_id GROUP BY 1, 2)
       |SELECT i.doc_id1, i.doc_id2 FROM i JOIN szg s1 ON i.doc_id1 = s1.doc_id
       |WHERE i.c * ${Dedup.ContainDen} >= ${Dedup.ContainNum} * s1.n""".stripMargin

  /** Substring-level dup mining: WinK-token rolling-window hashes
    * (identical Rabin-Karp fold to text_rolling_hash), mod-p sampled,
    * df-capped, paired on >= WinMinShared shared fingerprints — every
    * constant and the fold itself come from Dedup/TextOps so the two
    * engines cannot drift. (DuckDB list slices are 1-based and
    * end-inclusive: h[i:i+K-1] is exactly K elements.) */
  val dedupSubstring: String =
    s"""WITH $toksCte,
       |hs AS (SELECT doc_id, list_transform(t, w -> ('0x' || substr(md5(w), 1, 8))::BIGINT) AS h
       |  FROM toks WHERE len(t) >= ${Dedup.WinK}),
       |win AS (SELECT doc_id, unnest(generate_series(1, len(h) - ${Dedup.WinK - 1})) AS i, h FROM hs),
       |fps AS (SELECT DISTINCT doc_id,
       |    list_reduce(list_prepend(0, h[i:i+${Dedup.WinK - 1}]),
       |      (acc, x) -> (acc * ${TextOps.RollB} + x) % ${TextOps.RollP}) AS fp
       |  FROM win),
       |sel AS (SELECT doc_id, fp FROM fps WHERE fp % ${Dedup.WinSelMod} = 0),
       |keep AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= ${Dedup.WinDfCap})
       |SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS n_shared
       |FROM sel a JOIN keep k ON a.fp = k.fp JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= ${Dedup.WinMinShared}""".stripMargin

  /** #106 — dedup spans: identical positioned window fingerprints
    * (1-based i ↔ the Spark side's staged pos), the same 2..WinDfCap
    * shared-df filter, then classic gaps-and-islands — a window start
    * within WinK of the previous start keeps the island open (their
    * token coverages overlap or adjoin), and each island reports
    * (min start, max start + WinK − min start). All constants come
    * from Dedup so the engines cannot drift. */
  val dedupSpans: String =
    s"""WITH $toksCte,
       |hs AS (SELECT doc_id, list_transform(t, w -> ('0x' || substr(md5(w), 1, 8))::BIGINT) AS h
       |  FROM toks WHERE len(t) >= ${Dedup.WinK}),
       |win AS (SELECT doc_id, unnest(generate_series(1, len(h) - ${Dedup.WinK - 1})) AS i, h FROM hs),
       |fpos AS (SELECT doc_id, i,
       |    list_reduce(list_prepend(0, h[i:i+${Dedup.WinK - 1}]),
       |      (acc, x) -> (acc * ${TextOps.RollB} + x) % ${TextOps.RollP}) AS fp
       |  FROM win),
       |sel AS (SELECT doc_id, i, fp FROM fpos WHERE fp % ${Dedup.WinSelMod} = 0),
       |shared AS (SELECT fp FROM (SELECT DISTINCT doc_id, fp FROM sel)
       |  GROUP BY fp HAVING count(*) BETWEEN 2 AND ${Dedup.WinDfCap}),
       |pos AS (SELECT DISTINCT s.doc_id, s.i FROM sel s JOIN shared USING (fp)),
       |brk AS (SELECT doc_id, i,
       |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= ${Dedup.WinK}
       |      THEN 0 ELSE 1 END AS b
       |  FROM pos),
       |grp AS (SELECT doc_id, i,
       |    sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS g FROM brk)
       |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
       |  CAST(max(i) + ${Dedup.WinK} - min(i) AS BIGINT) AS span_len
       |FROM grp GROUP BY doc_id, g""".stripMargin

  /** #173 — per-source dup rate: the survivor rule's window shared
    * with dedup_survivor, integer counts, one mirrored division. */
  val textDupRateBySource: String =
    """WITH r AS (SELECT source,
      |    row_number() OVER (PARTITION BY md5(text)
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |    AS dup_rate
      |FROM r GROUP BY source""".stripMargin

  /** #171 — ABC analysis: the same 10^-4 integer revenue quanta,
    * HUGEINT cumulative window with the identical (rq DESC, part)
    * order, integer threshold cross-products, mirrored divisions. */
  val qAbcAnalysis: String =
    """WITH rev AS (SELECT l_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) * 10000
      |      AS HUGEINT) AS rq
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT sum(rq) AS t FROM rev),
      |c AS (SELECT l_partkey, rq,
      |    sum(rq) OVER (ORDER BY rq DESC, l_partkey ROWS UNBOUNDED PRECEDING)
      |      AS cum
      |  FROM rev)
      |SELECT CASE WHEN cum * 5 <= t.t * 4 THEN 'A'
      |    WHEN cum * 20 <= t.t * 19 THEN 'B' ELSE 'C' END AS cls,
      |  CAST(count(*) AS BIGINT) AS n_parts,
      |  CAST(sum(rq) AS DOUBLE) / 10000.0 AS revenue,
      |  CAST(sum(rq) AS DOUBLE) / CAST(max(t.t) AS DOUBLE) AS share
      |FROM c, t GROUP BY 1""".stripMargin

  /** #170 — store-served scan: the equivalent predicate on the raw
    * parquet; any drop/mangle in the store's routing, compaction,
    * codec or scan pipeline diverges the hash. */
  val helixScanRange: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |FROM events
      |WHERE user_id BETWEEN 10 AND 50
      |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-12'""".stripMargin

  /** #188 — store-served point gets (decompress on → BOTH layers serve):
    * the probe predicate on the raw parquet; every probed entry must
    * come back through routing, block decode and caches. */
  val helixGetPoint: String = {
    import graft.operators.HelixScan
    s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |FROM events
       |WHERE event_id % ${HelixScan.PointMod} = 0
       |  AND event_id < ${HelixScan.PointIdBound}""".stripMargin
  }

  /** #189 — batched multiget with decompress OFF: the block layer is
    * skipped, so only rick-resident (post-cut) entries are served. */
  val helixMultiget: String = {
    import graft.operators.HelixScan
    s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |FROM events
       |WHERE event_id % ${HelixScan.MultigetMod} = 0
       |  AND event_id < ${HelixScan.PointIdBound}
       |  AND epoch_us(ts) >= ${HelixScan.PointCutUs}""".stripMargin
  }

  /** #192 — streaming-ingested store scan: the rectangle predicate on
    * the raw parquet; any entry the micro-batched put/compact pipeline
    * dropped, duplicated or mangled diverges the hash. */
  val helixStreamScan: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |FROM events
      |WHERE user_id BETWEEN 60 AND 120
      |  AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-20'""".stripMargin

  /** #193 — custom-comparator scan: row_number over the comparator's
    * total order — (event-id suffix, lexical key, ts) ≡ (event_id,
    * user_id, ts) — checks the EMITTED ORDER itself, not just the
    * row set. */
  val helixScanCustomOrder: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |  row_number() OVER (ORDER BY event_id, user_id, epoch_us(ts)) AS ord
      |FROM events
      |WHERE user_id BETWEEN 10 AND 50
      |  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-12'""".stripMargin

  /** #194 — bounded gap fill: ts_gap_fill's oracle with the rectangle
    * predicate applied before the hourly aggregate, mirroring the
    * pushed-down window. */
  val tsGapFillRange: String = {
    import graft.operators.TimeSeriesOps.{GapFillHourHi, GapFillHourLo, GapFillUserHi, GapFillUserLo}
    s"""WITH hourly AS (
       |  SELECT user_id, epoch_us(date_trunc('hour', ts)) // 3600000000 AS hour,
       |    count(*) AS cnt
       |  FROM events
       |  WHERE user_id BETWEEN $GapFillUserLo AND $GapFillUserHi
       |    AND epoch_us(ts) BETWEEN ${GapFillHourLo * 3600000000L}
       |      AND ${GapFillHourHi * 3600000000L - 1}
       |  GROUP BY 1, 2),
       |spine AS (
       |  SELECT user_id, unnest(generate_series(h0, h1)) AS hour FROM (
       |    SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1))
       |SELECT s.user_id, s.hour * 3600000000 AS hour_us,
       |  last_value(h.cnt IGNORE NULLS) OVER (
       |    PARTITION BY s.user_id ORDER BY s.hour
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cnt,
       |  CASE WHEN h.cnt IS NULL THEN 1 ELSE 0 END AS is_gap
       |FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour""".stripMargin
  }

  /** #169 — span removal: the dedupSpans query nested as a CTE, spans
    * packed as parallel start/len lists (no struct lists — see the
    * lifecycle-tiers accumulator note), removal as the same indexed
    * list filter (DuckDB lambda i is 1-based ↔ Spark's 0-based i+1),
    * cleaned text re-hashed. */
  val dedupSpanRemoval: String =
    s"""WITH spx AS ($dedupSpans),
       |spl AS (SELECT doc_id, list(span_start ORDER BY span_start) AS ss,
       |    list(span_len ORDER BY span_start) AS ll FROM spx GROUP BY 1),
       |$toksCte,
       |kept AS (SELECT t2.doc_id, t2.t,
       |    CASE WHEN spl.ss IS NULL THEN t2.t
       |      ELSE list_filter(t2.t, (x, i) -> len(list_filter(
       |        generate_series(1, len(spl.ss)),
       |        k -> i >= spl.ss[CAST(k AS INT)]
       |          AND i < spl.ss[CAST(k AS INT)] + spl.ll[CAST(k AS INT)])) = 0)
       |    END AS kt
       |  FROM toks t2 LEFT JOIN spl ON spl.doc_id = t2.doc_id)
       |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(len(t) - len(kt) AS BIGINT) AS n_removed,
       |  md5(coalesce(array_to_string(kt, ' '), '')) AS clean_md5
       |FROM kept""".stripMargin

  /** MinHash+LSH candidate-pair machinery as embeddable CTE fragments,
    * shared by dedup_minhash_lsh and dedup_cluster (whose pair source
    * IS the minhash pipeline — band buckets, never the shingle join). */
  /** Tokens → shingle hashes → signatures → band keys (everything up to
    * candidate generation, which each consumer defines itself). */
  private val minhashSigCtes: String = {
    val minExprs = (0 until Dedup.NumHashes)
      .map(i => s"min((${Dedup.mhA(i)} * h + ${Dedup.mhB(i)}) % ${Dedup.MinhashP}) AS mh$i")
      .mkString(", ")
    val bandSelects = (0 until Dedup.NumBands).map { bnd =>
      val concat = (bnd * 4 until bnd * 4 + 4).map(i => s"mh$i").mkString(" || '|' || ")
      s"SELECT doc_id, $bnd AS band, $concat AS bkey FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""$toksCte, $shCte,
       |shh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM sh),
       |szh AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
       |mh AS (SELECT doc_id, $minExprs FROM shh GROUP BY doc_id),
       |bands AS ($bandSelects)""".stripMargin
  }

  private val minhashCtes: String =
    s"""$minhashSigCtes,
       |cand AS (SELECT DISTINCT x.doc_id AS doc_id1, y.doc_id AS doc_id2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin

  /** Incremental dedup: the full-corpus recompute restricted to
    * new-batch × existing-corpus pairs — what the Spark side reaches via
    * the staged signature store, proving staging loses nothing. */
  val dedupIncremental: String =
    s"""WITH $minhashSigCtes,
       |cand AS (SELECT DISTINCT x.doc_id AS doc_id1, y.doc_id AS doc_id2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
       |  WHERE x.doc_id % ${Dedup.IncrMod} = ${Dedup.IncrRem}
       |    AND y.doc_id % ${Dedup.IncrMod} <> ${Dedup.IncrRem})
       |SELECT i.doc_id1 AS new_doc_id, i.doc_id2 AS old_doc_id FROM (
       |  SELECT c1.doc_id1, c1.doc_id2, count(*) AS c FROM cand c1
       |  JOIN shh a ON a.doc_id = c1.doc_id1
       |  JOIN shh b ON b.doc_id = c1.doc_id2 AND b.h = a.h
       |  GROUP BY 1, 2) i
       |JOIN szh s1 ON i.doc_id1 = s1.doc_id JOIN szh s2 ON i.doc_id2 = s2.doc_id
       |WHERE i.c * ${Dedup.ThreshDen} >= ${Dedup.ThreshNum} * (s1.n + s2.n - i.c)""".stripMargin

  /** #text_decontaminate_fuzzy — the incremental-probe shape with the
    * train/eval split and the looser jaccard cut; the scored division
    * mirrors the engine's int/int → double exactly. */
  val textDecontaminateFuzzy: String = {
    import graft.operators.TextOps.{EvalMod, FuzzyNum, FuzzyDen}
    s"""WITH $minhashSigCtes,
       |cand AS (SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS eval_doc_id
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
       |  WHERE x.doc_id % $EvalMod <> 0 AND y.doc_id % $EvalMod = 0)
       |SELECT i.doc_id, i.eval_doc_id,
       |  CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE) AS jaccard
       |FROM (
       |  SELECT c1.doc_id, c1.eval_doc_id, count(*) AS c FROM cand c1
       |  JOIN shh a ON a.doc_id = c1.doc_id
       |  JOIN shh b ON b.doc_id = c1.eval_doc_id AND b.h = a.h
       |  GROUP BY 1, 2) i
       |JOIN szh s1 ON i.doc_id = s1.doc_id
       |JOIN szh s2 ON i.eval_doc_id = s2.doc_id
       |WHERE i.c * $FuzzyDen >= $FuzzyNum * (s1.n + s2.n - i.c)""".stripMargin
  }

  private val minhashSelect: String =
    s"""SELECT i.doc_id1, i.doc_id2 FROM (
       |  SELECT c1.doc_id1, c1.doc_id2, count(*) AS c FROM cand c1
       |  JOIN shh a ON a.doc_id = c1.doc_id1 JOIN shh b ON b.doc_id = c1.doc_id2 AND b.h = a.h
       |  GROUP BY 1, 2) i
       |JOIN szh s1 ON i.doc_id1 = s1.doc_id JOIN szh s2 ON i.doc_id2 = s2.doc_id
       |WHERE i.c * ${Dedup.ThreshDen} >= ${Dedup.ThreshNum} * (s1.n + s2.n - i.c)""".stripMargin

  val dedupMinhashLsh: String = s"WITH $minhashCtes\n$minhashSelect"

  /** #dedup_jaccard_histogram — the unthresholded candidate jaccard
    * distribution: the same band candidates + exact intersection, no
    * similarity cut; floor(j·10) buckets and a descending cumulative
    * window over ≤ 11 rows. */
  val dedupJaccardHistogram: String =
    s"""WITH $minhashCtes,
       |ic AS (SELECT c1.doc_id1, c1.doc_id2, count(*) AS c FROM cand c1
       |  JOIN shh a ON a.doc_id = c1.doc_id1
       |  JOIN shh b ON b.doc_id = c1.doc_id2 AND b.h = a.h
       |  GROUP BY 1, 2),
       |jp AS (SELECT CAST(coalesce(ic.c, 0) AS DOUBLE)
       |    / CAST(s1.n + s2.n - coalesce(ic.c, 0) AS DOUBLE) AS j
       |  FROM cand c0
       |  LEFT JOIN ic ON ic.doc_id1 = c0.doc_id1 AND ic.doc_id2 = c0.doc_id2
       |  JOIN szh s1 ON c0.doc_id1 = s1.doc_id
       |  JOIN szh s2 ON c0.doc_id2 = s2.doc_id),
       |g AS (SELECT CAST(floor(j * 10) AS BIGINT) AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_pairs FROM jp GROUP BY 1)
       |SELECT bucket, n_pairs,
       |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_pairs_ge
       |FROM g""".stripMargin

  /** #229 — cross-source dup-flow matrix: the dedupMinhashLsh pairs
    * (same mining the staged pair table holds), each endpoint joined to
    * its source, canonicalized to one triangle by least/greatest
    * (binary string order in both engines), share as one mirrored
    * double division against the summed total. */
  val dedupCrossSourceMatrix: String =
    s"""WITH $minhashCtes,
       |p AS ($minhashSelect),
       |g AS (SELECT least(d1.source, d2.source) AS source_a,
       |    greatest(d1.source, d2.source) AS source_b,
       |    CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM p JOIN documents d1 ON p.doc_id1 = d1.doc_id
       |    JOIN documents d2 ON p.doc_id2 = d2.doc_id
       |  GROUP BY 1, 2),
       |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tot FROM g)
       |SELECT source_a, source_b, n_pairs,
       |  CAST(n_pairs AS DOUBLE) / CAST(tot AS DOUBLE) AS share
       |FROM g, t""".stripMargin

  /** #202 — capped minhash pairs: the dedupMinhashLsh candidates +
    * exact-jaccard verify, then the per-doc (jaccard desc, nbr asc)
    * rank cap over the symmetrized pairs; the jaccard is the same
    * IEEE division of intersection/union integers the engine does. */
  val dedupMinhashLshCapped: String =
    s"""WITH $minhashCtes,
       |pairs AS (SELECT i.doc_id1, i.doc_id2,
       |    CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE) AS jaccard
       |  FROM (
       |    SELECT c1.doc_id1, c1.doc_id2, count(*) AS c FROM cand c1
       |    JOIN shh a ON a.doc_id = c1.doc_id1
       |    JOIN shh b ON b.doc_id = c1.doc_id2 AND b.h = a.h
       |    GROUP BY 1, 2) i
       |  JOIN szh s1 ON i.doc_id1 = s1.doc_id
       |  JOIN szh s2 ON i.doc_id2 = s2.doc_id
       |  WHERE i.c * ${Dedup.ThreshDen} >= ${Dedup.ThreshNum} * (s1.n + s2.n - i.c)),
       |sym AS (SELECT doc_id1 AS doc_id, doc_id2 AS nbr_id, jaccard FROM pairs
       |  UNION ALL SELECT doc_id2, doc_id1, jaccard FROM pairs)
       |SELECT doc_id, rnk, nbr_id, jaccard FROM (
       |  SELECT doc_id, nbr_id, jaccard, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY jaccard DESC, nbr_id) AS rnk FROM sym)
       |WHERE rnk <= ${Dedup.PairCapM}""".stripMargin

  /** #dedup_index_commit_report — the committed generation's per-leg
    * state, re-derived from raw documents: base = the historical
    * slice's docs / identical-hash-set groups / band-verified pairs
    * among group reps; delta = the arrival slice's docs, the groups
    * the commit MINTED (arrival sets matching no historical set), and
    * the verified rep pairs with ≥ 1 minted-rep endpoint (new × old
    * normalized by least/greatest + new × new) — mirroring the
    * engine's commit mining exactly (same band keys, same threshold
    * comparison; group identity = the sorted distinct-hash set,
    * keyed here as md5 of its comma string). */
  val dedupIndexCommitReport: String = {
    val (mod, rem) = (Dedup.IncrMod, Dedup.IncrRem)
    val verify = (cand: String, d1: String, d2: String) =>
      s"""SELECT count(*) FROM (
         |    SELECT c1.$d1, c1.$d2, count(*) AS c FROM $cand c1
         |    JOIN shh a ON a.doc_id = c1.$d1
         |    JOIN shh b ON b.doc_id = c1.$d2 AND b.h = a.h
         |    GROUP BY 1, 2) i
         |  JOIN szh s1 ON i.$d1 = s1.doc_id JOIN szh s2 ON i.$d2 = s2.doc_id
         |  WHERE i.c * ${Dedup.ThreshDen} >= ${Dedup.ThreshNum} * (s1.n + s2.n - i.c)"""
        .stripMargin
    s"""WITH $minhashSigCtes,
       |k AS (SELECT doc_id,
       |    md5(array_to_string(list(h ORDER BY h), ',')) AS kk
       |  FROM shh GROUP BY doc_id),
       |oldk AS (SELECT * FROM k WHERE doc_id % $mod <> $rem),
       |newk AS (SELECT * FROM k WHERE doc_id % $mod = $rem),
       |oldg AS (SELECT kk, min(doc_id) AS rep FROM oldk GROUP BY kk),
       |minted AS (SELECT n.kk, min(n.doc_id) AS rep FROM newk n
       |  LEFT JOIN oldg o ON n.kk = o.kk WHERE o.kk IS NULL GROUP BY n.kk),
       |orb AS (SELECT b.* FROM bands b JOIN oldg g ON b.doc_id = g.rep),
       |nrb AS (SELECT b.* FROM bands b JOIN minted g ON b.doc_id = g.rep),
       |bcand AS (SELECT DISTINCT x.doc_id AS doc_id1, y.doc_id AS doc_id2
       |  FROM orb x JOIN orb y ON x.band = y.band AND x.bkey = y.bkey
       |  AND x.doc_id < y.doc_id),
       |dcand AS (SELECT DISTINCT doc_id1, doc_id2 FROM (
       |  SELECT x.doc_id AS doc_id1, y.doc_id AS doc_id2
       |  FROM nrb x JOIN nrb y ON x.band = y.band AND x.bkey = y.bkey
       |    AND x.doc_id < y.doc_id
       |  UNION ALL
       |  SELECT least(x.doc_id, y.doc_id), greatest(x.doc_id, y.doc_id)
       |  FROM nrb x JOIN orb y ON x.band = y.band AND x.bkey = y.bkey))
       |SELECT 'base' AS leg,
       |  CAST((SELECT count(*) FROM oldk) AS BIGINT) AS n_docs,
       |  CAST((SELECT count(*) FROM oldg) AS BIGINT) AS n_groups,
       |  CAST((${verify("bcand", "doc_id1", "doc_id2")}) AS BIGINT) AS n_reppairs
       |UNION ALL
       |SELECT 'delta',
       |  CAST((SELECT count(*) FROM newk) AS BIGINT),
       |  CAST((SELECT count(*) FROM minted) AS BIGINT),
       |  CAST((${verify("dcand", "doc_id1", "doc_id2")}) AS BIGINT)""".stripMargin
  }

  /** Connected components over the MINHASH dup pairs (same pair source
    * as the Spark operator): transitive closure by recursive CTE, then
    * min reachable id per node — the same fixpoint the Spark min-label
    * propagation reaches. */
  val dedupCluster: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS ($minhashSelect),
       |edges AS (SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
       |  UNION ALL SELECT doc_id2, doc_id1 FROM pairs),
       |reach(a, r) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.a = e.b)
       |SELECT a AS doc_id, min(r) AS cluster_id,
       |  CAST(a = min(r) AS INTEGER) AS keep
       |FROM reach GROUP BY a""".stripMargin

  /** #222 — incremental cluster maintenance: by construction the
    * incremental assignment equals the FULL-corpus components
    * restricted to the arriving slice (the operator's contract, also
    * spec-proved against the Spark full recompute), so the oracle is
    * the dedup_cluster closure with the new-slice restriction. */
  val dedupClusterIncremental: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS ($minhashSelect),
       |edges AS (SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
       |  UNION ALL SELECT doc_id2, doc_id1 FROM pairs),
       |reach(a, r) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.a = e.b)
       |SELECT a AS doc_id, min(r) AS cluster_id,
       |  CAST(a = min(r) AS INTEGER) AS keep
       |FROM reach WHERE a % ${Dedup.IncrMod} = ${Dedup.IncrRem}
       |GROUP BY a""".stripMargin

  /** Cluster-level survivorship: the dedup_cluster recursive CTE plus
    * a per-cluster (n_chars DESC, doc_id) row_number — keep the
    * longest doc of each dup cluster, ties to the lowest id. */
  val dedupClusterSurvivor: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS ($minhashSelect),
       |edges AS (SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
       |  UNION ALL SELECT doc_id2, doc_id1 FROM pairs),
       |reach(a, r) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.a = e.b),
       |clus AS (SELECT a AS doc_id, min(r) AS cluster_id FROM reach GROUP BY a),
       |ranked AS (SELECT c.doc_id, c.cluster_id,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY d.n_chars DESC, c.doc_id) AS rn
       |  FROM clus c JOIN documents d ON c.doc_id = d.doc_id)
       |SELECT doc_id, cluster_id, CAST(rn = 1 AS INTEGER) AS keep FROM ranked""".stripMargin

  /** SimHash fingerprint CTEs shared by dedup_simhash (distance to doc
    * 0) and dedup_simhash_pairs (byte-blocked pair mining). */
  private val simhashCtes: String = {
    val bitSums = (0 until 32)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val simExpr = (0 until 32)
      .map(b => s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""$toksCte,
       |tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
       |th AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM tok),
       |bits AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  val dedupSimhash: String =
    s"""WITH $simhashCtes
       |SELECT s.doc_id, s.simhash,
       |  CAST(bit_count(xor(s.simhash, r.simhash)) AS BIGINT) AS ham0
       |FROM sim s, (SELECT simhash FROM sim WHERE doc_id = 0) r""".stripMargin

  /** Byte-pigeonhole banding + candidate CTEs over `sim` — ONE
    * definition shared by the pair miner and its capped form, so a
    * banding change can never reach one oracle and not the other. */
  private val simhashBandCandCtes: String = {
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${8 * b}) & 255 AS byte FROM sim")
      .mkString("\n  UNION ALL ")
    s"""bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_id1, y.doc_id AS doc_id2,
       |    x.simhash AS s1, y.simhash AS s2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.byte = y.byte AND x.doc_id < y.doc_id)""".stripMargin
  }

  val dedupSimhashPairs: String =
    s"""WITH $simhashCtes,
       |$simhashBandCandCtes
       |SELECT doc_id1, doc_id2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS ham
       |FROM cand WHERE bit_count(xor(s1, s2)) <= ${Dedup.SimhashMaxHam}""".stripMargin

  /** #201 — capped simhash pairs: the dedupSimhashPairs mining with the
    * per-doc (hamming asc, nbr asc) rank cap over the symmetrized
    * verified pairs. */
  val dedupSimhashPairsCapped: String =
    s"""WITH $simhashCtes,
       |$simhashBandCandCtes,
       |pairs AS (SELECT doc_id1, doc_id2,
       |    CAST(bit_count(xor(s1, s2)) AS BIGINT) AS ham
       |  FROM cand WHERE bit_count(xor(s1, s2)) <= ${Dedup.SimhashMaxHam}),
       |sym AS (SELECT doc_id1 AS doc_id, doc_id2 AS nbr_id, ham FROM pairs
       |  UNION ALL SELECT doc_id2, doc_id1, ham FROM pairs)
       |SELECT doc_id, rnk, nbr_id, ham FROM (
       |  SELECT doc_id, nbr_id, ham, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY ham, nbr_id) AS rnk FROM sym)
       |WHERE rnk <= ${Dedup.PairCapM}""".stripMargin

  /** dot(x,y) with the exact same fold order as the Spark zip_with+aggregate. */
  private def dot(x: String, y: String): String =
    s"list_reduce(list_transform(generate_series(1, 64), i -> $x[i] * $y[i]), (p, q) -> p + q)"
  private def cos(a: String, b: String): String =
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"

  /** round(cos, 6) with the zero-norm sentinel the Spark fold uses: a
    * 0/0 cosine is NaN, which DuckDB orders greatest but a strict >
    * fold never selects — both engines pin it below the cosine range. */
  private def rcosSafe(a: String, b: String): String =
    s"CASE WHEN sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}) = 0 THEN -2 " +
      s"ELSE round(${cos(a, b)}, 6) END"
  private val eCte =
    "e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"

  /** LSH-blocked near-dup pairs: the identical banded hyperplane sign
    * codes (same integer planes, same left-to-right dot order) generate
    * candidates; exact cosine verifies. Mirrors Dedup.embeddingCosine. */
  val annBatchTopk: String =
    s"""WITH $eCte,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (SELECT q.qid, e2.vec_id, ${cos("e2.v", "q.qv")} AS c
       |  FROM e e2, q WHERE e2.vec_id >= 10)
       |SELECT qid, rnk, vec_id FROM (
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= 3""".stripMargin

  /** #214 — matryoshka truncation eval: the 16-dim-prefix cosine fold
    * (same left-to-right list_reduce as the 64-dim dot), per-qid rank,
    * hits flagged against the full-dim exact leg nested verbatim. */
  val embMatryoshkaRecall: String = {
    val d = graft.operators.Similarity.MrlDims
    def dotN(x: String, y: String) =
      s"list_reduce(list_transform(generate_series(1, $d), i -> $x[i] * $y[i]), (p, q) -> p + q)"
    def cosN(a: String, b: String) =
      s"${dotN(a, b)} / (sqrt(${dotN(a, a)}) * sqrt(${dotN(b, b)}))"
    s"""WITH full_leg AS ($annBatchTopk),
       |$eCte,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |scored AS (SELECT q.qid, e2.vec_id, ${cosN("e2.v", "q.qv")} AS c
       |  FROM e e2, q WHERE e2.vec_id >= 10),
       |ptop AS (SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rnk
       |  FROM scored)
       |SELECT p.qid, p.rnk, p.vec_id,
       |  CAST(CASE WHEN f.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS hit
       |FROM ptop p LEFT JOIN full_leg f ON f.qid = p.qid AND f.vec_id = p.vec_id
       |WHERE p.rnk <= 3""".stripMargin
  }

  /** #217 — binary-quantization eval: per-dim sign bits packed into
    * one BIGINT (bit values as Scala-emitted literals — DuckDB's `<<`
    * overflows at bit 63; summed low-bit-first so every partial sum
    * stays in BIGINT range), all-integer hamming rank, hits flagged
    * against the full-precision leg nested verbatim. */
  /** Sign-bit packing of e.v into one BIGINT — bit values as Scala-
    * emitted literals (DuckDB's `<<` overflows at bit 63), summed
    * low-bit-first so every partial sum stays in BIGINT range. Shared
    * by #217 and #218. */
  private val bqPackExpr: String = (0 until 64).map(i =>
    s"(CASE WHEN v[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")

  /** #218 — BQ serve path: integer-hamming shortlist of 32 per query,
    * exact cosine re-rank over the shortlist only. */
  val embBqRerank: String =
    s"""WITH $eCte,
       |b AS (SELECT vec_id, CAST($bqPackExpr AS BIGINT) AS bq FROM e),
       |qb AS (SELECT vec_id AS qid, bq AS qbq FROM b WHERE vec_id < 10),
       |sl AS (SELECT qid, vec_id FROM (
       |  SELECT qb.qid, b2.vec_id, row_number() OVER (PARTITION BY qb.qid
       |    ORDER BY bit_count(xor(b2.bq, qb.qbq)), b2.vec_id) AS hrnk
       |  FROM b b2, qb WHERE b2.vec_id >= 10)
       |  WHERE hrnk <= ${graft.operators.Similarity.BqShortlist}),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10)
       |SELECT qid, rnk, vec_id FROM (
       |  SELECT sl.qid, sl.vec_id, row_number() OVER (PARTITION BY sl.qid
       |    ORDER BY ${cos("e2.v", "q.qv")} DESC, sl.vec_id) AS rnk
       |  FROM sl JOIN e e2 ON e2.vec_id = sl.vec_id JOIN q ON q.qid = sl.qid)
       |WHERE rnk <= 3""".stripMargin

  val embBqRecall: String = {
    s"""WITH full_leg AS ($annBatchTopk),
       |$eCte,
       |b AS (SELECT vec_id, CAST($bqPackExpr AS BIGINT) AS bq FROM e),
       |q AS (SELECT vec_id AS qid, bq AS qbq FROM b WHERE vec_id < 10),
       |scored AS (SELECT q.qid, b2.vec_id,
       |    CAST(bit_count(xor(b2.bq, q.qbq)) AS BIGINT) AS ham
       |  FROM b b2, q WHERE b2.vec_id >= 10),
       |btop AS (SELECT qid, vec_id, ham,
       |    row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS rnk
       |  FROM scored)
       |SELECT p.qid, p.rnk, p.vec_id, p.ham,
       |  CAST(CASE WHEN f.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS hit
       |FROM btop p LEFT JOIN full_leg f ON f.qid = p.qid AND f.vec_id = p.vec_id
       |WHERE p.rnk <= 3""".stripMargin
  }

  /** Banded hyperplane sign codes as a UNION ALL over `e` — the
    * identical integer planes and left-to-right dot order as the native
    * BandCodes expression; shared by the embedding-dedup, k-NN-graph,
    * and NN-descent oracles. */
  private val embBandSelects: String =
    (0 until Dedup.EmbBands).map { bnd =>
      val code = (0 until Dedup.EmbRows).map { k =>
        val p = bnd * Dedup.EmbRows + k
        val terms = (0 until 64).map(j => s"v[${j + 1}] * (${Similarity.planeWeight(p, j)})")
        val dotExpr = terms.reduce((acc, t) => s"($acc + $t)")
        s"(CASE WHEN $dotExpr > 0 THEN ${1 << k} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $bnd AS band, $code AS bkey FROM e"
    }.mkString("\n  UNION ALL ")

  val dedupEmbedding: String = {
    val bandSelects = embBandSelects
    s"""WITH $eCte,
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.vec_id AS vec_id1, y.vec_id AS vec_id2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
       |SELECT c.vec_id1, c.vec_id2 FROM cand c
       |JOIN e a ON a.vec_id = c.vec_id1 JOIN e b ON b.vec_id = c.vec_id2
       |WHERE ${cos("a.v", "b.v")} >= 0.45""".stripMargin
  }

  /** #200 — capped embedding pairs: the dedupEmbedding mining with the
    * per-vector (cosine desc, nbr asc) rank cap over the symmetrized
    * verified pairs — the cosine is the shared fold, so the rank order
    * is engine-exact. */
  val dedupEmbeddingCapped: String = {
    val bandSelects = embBandSelects
    s"""WITH $eCte,
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.vec_id AS vec_id1, y.vec_id AS vec_id2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
       |pairs AS (SELECT c.vec_id1, c.vec_id2, ${cos("a.v", "b.v")} AS c
       |  FROM cand c
       |  JOIN e a ON a.vec_id = c.vec_id1 JOIN e b ON b.vec_id = c.vec_id2
       |  WHERE ${cos("a.v", "b.v")} >= 0.45),
       |sym AS (SELECT vec_id1 AS vec_id, vec_id2 AS nbr_id, c FROM pairs
       |  UNION ALL SELECT vec_id2, vec_id1, c FROM pairs)
       |SELECT vec_id, rnk, nbr_id FROM (
       |  SELECT vec_id, nbr_id, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY c DESC, nbr_id) AS rnk FROM sym)
       |WHERE rnk <= ${Dedup.PairCapM}""".stripMargin
  }

  /** #135 — SemDeDup: seed assignment (the kmeansStep fixpoint), pairs
    * mined within clusters only, keep = no smaller-id cluster-mate
    * within τ. Same rounded cosine, same tie ordering. */
  val embSemDedup: String =
    s"""WITH $eCte,
       |cvt AS (SELECT vec_id AS clabel, v AS cv FROM e WHERE vec_id < ${Similarity.KmK}),
       |assigned AS (SELECT vec_id, v, clabel AS cluster FROM (
       |  SELECT e.vec_id, e.v, cvt.clabel,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${rcosSafe("e.v", "cvt.cv")} DESC, cvt.clabel) AS rn
       |  FROM e, cvt) WHERE rn = 1),
       |dropped AS (SELECT DISTINCT b.vec_id FROM assigned a
       |  JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE round(${cos("a.v", "b.v")}, 6) >= ${Dedup.SemTau})
       |SELECT a.vec_id, a.cluster,
       |  CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
       |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id""".stripMargin

  /** Shared CTE tail for the k-NN graph: banded candidates (directed),
    * exact rounded cosine, per-src top-k window. */
  private val knnGraphCtes: String =
    s"""bands AS ($embBandSelects),
       |cand0 AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
       |    AND x.vec_id <> y.vec_id),
       |scored0 AS (SELECT c.src, c.dst, round(${cos("a.v", "b.v")}, 6) AS rcos
       |  FROM cand0 c JOIN e a ON a.vec_id = c.src JOIN e b ON b.vec_id = c.dst),
       |knn AS (SELECT src, rnk, dst, rcos FROM (
       |  SELECT src, dst, rcos, row_number() OVER (PARTITION BY src
       |    ORDER BY rcos DESC, dst) AS rnk FROM scored0)
       |  WHERE rnk <= ${Similarity.KnnK})""".stripMargin

  /** #136 — approximate k-NN graph: banded candidates → exact rounded
    * cosine → per-src top-k. */
  val embKnnGraph: String =
    s"""WITH $eCte,
       |$knnGraphCtes
       |SELECT src, rnk, dst, rcos FROM knn""".stripMargin

  /** #emb_knn_outliers — kNN-dist outliers: the graph CTEs re-derive
    * the staged edges, floor(rcos·10⁶) longs make the per-src sum
    * exact, one mirrored division chain, bottom-20 by (mean, src). */
  val embKnnOutliers: String =
    s"""WITH $eCte,
       |$knnGraphCtes,
       |p AS (SELECT src, CAST(count(*) AS BIGINT) AS n_edges,
       |    CAST(sum(CAST(floor(rcos * 1000000) AS BIGINT)) AS BIGINT) AS sl
       |  FROM knn GROUP BY 1)
       |SELECT src, n_edges,
       |  (CAST(sl AS DOUBLE) / 1000000.0) / n_edges AS mean_rcos
       |FROM p ORDER BY mean_rcos, src LIMIT 20""".stripMargin

  /** #ann_graph_probe — the beam-search trajectory replayed exactly:
    * kcenter seed ids (the embKcenterInit rounds), the staged graph
    * re-derived by the shared knn CTEs (materialized — it is probed
    * once per hop), then [[graft.operators.Similarity.GraphHops]]
    * unrolled expansions with the same (rcos desc, vec_id) beam order,
    * final top-3 over ALL visited nodes. */
  val annGraphProbe: String = {
    import graft.operators.Similarity.{GraphBeam, GraphHops, KcK}
    def l2r(a: String, b: String) =
      s"""round(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
         |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (p, q) -> p + q), 6)""".stripMargin
    val kcRounds = (1 until KcK).map { r =>
      s"""gm$r AS (SELECT e.vec_id, min(${l2r("e.v", "c.cv")}) AS md
         |  FROM e, gc${r - 1} c GROUP BY e.vec_id),
         |gn$r AS (SELECT vec_id FROM gm$r ORDER BY md DESC, vec_id LIMIT 1),
         |gc$r AS (SELECT cid, cv FROM gc${r - 1}
         |  UNION ALL SELECT e.vec_id, e.v FROM e JOIN gn$r n USING (vec_id))""".stripMargin
    }.mkString(",\n")
    val hops = (2 to GraphHops).map { h =>
      s"""f${h - 1} AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY rcos DESC, vec_id) AS rn FROM s${h - 1}) WHERE rn <= $GraphBeam),
         |v$h AS MATERIALIZED (SELECT DISTINCT qid, vec_id FROM (
         |    SELECT qid, vec_id FROM v${h - 1}
         |    UNION ALL SELECT f.qid, k.dst AS vec_id
         |      FROM f${h - 1} f JOIN knng k ON k.src = f.vec_id)
         |  WHERE vec_id >= 10),
         |s$h AS MATERIALIZED (SELECT w.qid, w.vec_id,
         |    round(${cos("e2.v", "q.qv")}, 6) AS rcos
         |  FROM v$h w JOIN e e2 ON e2.vec_id = w.vec_id JOIN q ON q.qid = w.qid)""".stripMargin
    }.mkString(",\n")
    s"""WITH $eCte,
       |$knnGraphCtes,
       |knng AS MATERIALIZED (SELECT src, dst FROM knn),
       |gc0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id = 0),
       |$kcRounds,
       |seeds AS (SELECT cid AS vec_id FROM gc${KcK - 1}),
       |q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |f0 AS (SELECT q.qid, s.vec_id FROM q, seeds s),
       |v1 AS MATERIALIZED (SELECT DISTINCT qid, vec_id FROM (
       |    SELECT qid, vec_id FROM f0
       |    UNION ALL SELECT f.qid, k.dst AS vec_id
       |      FROM f0 f JOIN knng k ON k.src = f.vec_id)
       |  WHERE vec_id >= 10),
       |s1 AS MATERIALIZED (SELECT w.qid, w.vec_id,
       |    round(${cos("e2.v", "q.qv")}, 6) AS rcos
       |  FROM v1 w JOIN e e2 ON e2.vec_id = w.vec_id JOIN q ON q.qid = w.qid),
       |$hops
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, rcos FROM (
       |  SELECT qid, vec_id, rcos, row_number() OVER (PARTITION BY qid
       |    ORDER BY rcos DESC, vec_id) AS rnk FROM s$GraphHops)
       |WHERE rnk <= 3""".stripMargin
  }

  /** #137 — one NN-descent step over the k-NN graph: symmetrize,
    * add 2-hop candidates through a shared mid node, re-score, re-rank. */
  val embNnDescentStep: String =
    s"""WITH $eCte,
       |$knnGraphCtes,
       |u AS (SELECT src, dst FROM knn UNION SELECT dst, src FROM knn),
       |twohop AS (SELECT a.src, b.dst FROM u a JOIN u b ON a.dst = b.src
       |  WHERE a.src <> b.dst),
       |cand AS (SELECT src, dst FROM u UNION SELECT src, dst FROM twohop),
       |scored AS (SELECT c.src, c.dst, round(${cos("a.v", "b.v")}, 6) AS rcos
       |  FROM cand c JOIN e a ON a.vec_id = c.src JOIN e b ON b.vec_id = c.dst)
       |SELECT src, rnk, dst, rcos FROM (
       |  SELECT src, dst, rcos, row_number() OVER (PARTITION BY src
       |    ORDER BY rcos DESC, dst) AS rnk FROM scored)
       |WHERE rnk <= ${Similarity.KnnK}""".stripMargin

  /** #93 — radius search: same fold-order cosine, raw threshold
    * compare (bit-identical doubles make it safe, as dedup_embedding's
    * verify step already relies on). */
  val annRange: String =
    s"""WITH $eCte, q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.vec_id FROM e, q
       |WHERE e.vec_id <> 0 AND ${cos("e.v", "q.qv")} >= ${Similarity.RangeTau}""".stripMargin

  val annTopkBrute: String =
    s"""WITH $eCte, q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT vec_id, row_number() OVER (ORDER BY c DESC, vec_id) AS rnk
       |FROM (SELECT e.vec_id, ${cos("e.v", "q.qv")} AS c FROM e, q WHERE e.vec_id <> 0)
       |ORDER BY rnk LIMIT 10""".stripMargin

  val annLshBucket: String = {
    val planeDots = (0 until 8).map { p =>
      val terms = (0 until 64)
        .map(j => s"v[${j + 1}] * (${Similarity.planeWeight(p, j)})")
      // parenthesize to force the same left-to-right addition order
      val dotExpr = terms.reduce((acc, t) => s"($acc + $t)")
      s"(CASE WHEN $dotExpr > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH $eCte
       |SELECT vec_id, CAST($planeDots AS BIGINT) AS bucket FROM e""".stripMargin
  }

  val knnLabelCentroid: String =
    s"""WITH $eCte,
       |byd AS (SELECT clabel, j, sum(x) / count(*) AS m FROM (
       |    SELECT label AS clabel, unnest(generate_series(1, 64)) AS j, unnest(v) AS x FROM e)
       |  GROUP BY 1, 2),
       |cv AS (SELECT clabel, list(m ORDER BY j) AS cv FROM byd GROUP BY clabel)
       |SELECT vec_id, label, assigned_label FROM (
       |  SELECT e.vec_id, e.label, cv.clabel AS assigned_label,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${rcosSafe("e.v", "cv.cv")} DESC, cv.clabel) AS rn
       |  FROM e, cv) WHERE rn = 1""".stripMargin

  /** Per-label centroids + fold-argmax cell assignment — the IVF build
    * replicated as CTEs, shared by the probe oracle and the balance
    * report. */
  /** The centroid + fold-argmax assignment CTEs over an arbitrary
    * source CTE `src` — parameterized so the INCREMENTAL probe can
    * build its index over the indexed slice only. */
  private def ivfAssignedCtesOver(src: String): String =
    s"""byd AS (SELECT clabel, j, sum(x) / count(*) AS m FROM (
       |    SELECT label AS clabel, unnest(generate_series(1, 64)) AS j, unnest(v) AS x FROM $src)
       |  GROUP BY 1, 2),
       |cvt AS (SELECT clabel, list(m ORDER BY j) AS cv FROM byd GROUP BY clabel),
       |assigned AS (SELECT vec_id, v, clabel AS assigned_label FROM (
       |  SELECT $src.vec_id, $src.v, cvt.clabel,
       |    row_number() OVER (PARTITION BY $src.vec_id
       |      ORDER BY ${rcosSafe(s"$src.v", "cvt.cv")} DESC, cvt.clabel) AS rn
       |  FROM $src, cvt) WHERE rn = 1)""".stripMargin

  private val ivfAssignedCtes: String = ivfAssignedCtesOver("e")

  /** #128 — IVF cell balance: same assignment fixpoint, per-cell
    * counts, skew division mirrored. */
  val embIvfBalance: String =
    s"""WITH $eCte,
       |$ivfAssignedCtes,
       |per AS (SELECT CAST(assigned_label AS BIGINT) AS cell,
       |    count(*) AS n_vecs FROM assigned GROUP BY 1),
       |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total, count(*) AS ncells
       |  FROM per)
       |SELECT cell, n_vecs,
       |  CAST(n_vecs AS DOUBLE) / (CAST(total AS DOUBLE) / ncells) AS skew
       |FROM per, t""".stripMargin

  /** #150 — hard-triplet mining: the struct-extrema picks expressed as
    * rank-1 windows with the identical (rcos, id) tie orders. */
  val embTripletMine: String =
    s"""WITH $eCte,
       |a AS (SELECT vec_id AS aid, label AS albl, v AS av FROM e
       |  WHERE vec_id < ${Similarity.TripletAnchors}),
       |sc AS (SELECT a.aid, a.albl, e.vec_id, e.label,
       |    round(${cos("e.v", "a.av")}, 6) AS rcos
       |  FROM e, a WHERE e.vec_id <> a.aid),
       |pos AS (SELECT aid, vec_id AS pos_id, rcos AS pos_cos FROM (
       |  SELECT aid, vec_id, rcos, row_number() OVER (PARTITION BY aid
       |    ORDER BY rcos, vec_id) AS rn FROM sc WHERE label = albl)
       |  WHERE rn = 1),
       |neg AS (SELECT aid, vec_id AS neg_id, rcos AS neg_cos FROM (
       |  SELECT aid, vec_id, rcos, row_number() OVER (PARTITION BY aid
       |    ORDER BY rcos DESC, vec_id) AS rn FROM sc WHERE label <> albl)
       |  WHERE rn = 1)
       |SELECT p.aid, pos_id, pos_cos, neg_id, neg_cos
       |FROM pos p JOIN neg n ON p.aid = n.aid""".stripMargin

  /** #144 — IVF recall report: the annIvfTopk probe batched over the
    * query set, intersected with exact brute-force top-10 per query;
    * same rounded-centroid probe, same raw-cosine rank order. */
  val embIvfRecall: String =
    s"""WITH $eCte,
       |$ivfAssignedCtes,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e
       |  WHERE vec_id < ${Similarity.IvfRecallQueries}),
       |probe AS (SELECT qid, clabel AS assigned_label FROM (
       |  SELECT q.qid, cvt.clabel, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY round(${cos("cvt.cv", "q.qv")}, 6) DESC, cvt.clabel) AS rn
       |  FROM cvt, q) WHERE rn <= 2),
       |ivf10 AS (SELECT qid, vec_id FROM (
       |  SELECT p.qid, a.vec_id, row_number() OVER (PARTITION BY p.qid
       |    ORDER BY ${cos("a.v", "q.qv")} DESC, a.vec_id) AS rn
       |  FROM assigned a JOIN probe p ON a.assigned_label = p.assigned_label
       |  JOIN q ON q.qid = p.qid WHERE a.vec_id <> p.qid) WHERE rn <= 10),
       |ex10 AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY ${cos("e.v", "q.qv")} DESC, e.vec_id) AS rn
       |  FROM e, q WHERE e.vec_id <> q.qid) WHERE rn <= 10),
       |h AS (SELECT i.qid, count(*) AS h FROM ivf10 i
       |  JOIN ex10 x ON i.qid = x.qid AND i.vec_id = x.vec_id GROUP BY 1)
       |SELECT q.qid, CAST(COALESCE(h, 0) AS BIGINT) AS n_hits,
       |  CAST(COALESCE(h, 0) AS DOUBLE) / 10.0 AS recall
       |FROM q LEFT JOIN h ON q.qid = h.qid""".stripMargin

  /** #ann_recall_vs_nprobe — the tuning curve: probe ranks carried to
    * [[graft.operators.Similarity.NprobeCurveMax]], one candidate CTE,
    * per-depth top-10 + pooled hit counts vs the exact leg. */
  val annRecallVsNprobe: String = {
    import graft.operators.Similarity.{NprobeCurveMax, NprobeCurveQueries}
    val depths = (1 to NprobeCurveMax).map { p =>
      s"""SELECT CAST($p AS BIGINT) AS nprobe,
         |  CAST((SELECT count(*) FROM (
         |    SELECT qid, vec_id FROM (
         |      SELECT c.qid, c.vec_id, row_number() OVER (PARTITION BY c.qid
         |        ORDER BY c.cs DESC, c.vec_id) AS rn
         |      FROM cand c WHERE c.pr <= $p) WHERE rn <= 10) i
         |    JOIN ex10 x ON i.qid = x.qid AND i.vec_id = x.vec_id) AS BIGINT)
         |    AS n_hits,
         |  CAST((SELECT count(*) FROM (
         |    SELECT qid, vec_id FROM (
         |      SELECT c.qid, c.vec_id, row_number() OVER (PARTITION BY c.qid
         |        ORDER BY c.cs DESC, c.vec_id) AS rn
         |      FROM cand c WHERE c.pr <= $p) WHERE rn <= 10) i
         |    JOIN ex10 x ON i.qid = x.qid AND i.vec_id = x.vec_id) AS DOUBLE)
         |    / ${10.0 * NprobeCurveQueries} AS recall"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $eCte,
       |$ivfAssignedCtes,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e
       |  WHERE vec_id < $NprobeCurveQueries),
       |probe AS MATERIALIZED (SELECT qid, clabel AS assigned_label, pr FROM (
       |  SELECT q.qid, cvt.clabel, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY round(${cos("cvt.cv", "q.qv")}, 6) DESC, cvt.clabel) AS pr
       |  FROM cvt, q) WHERE pr <= $NprobeCurveMax),
       |cand AS MATERIALIZED (SELECT p.qid, a.vec_id, p.pr,
       |    ${cos("a.v", "q.qv")} AS cs
       |  FROM assigned a JOIN probe p ON a.assigned_label = p.assigned_label
       |  JOIN q ON q.qid = p.qid WHERE a.vec_id <> p.qid),
       |ex10 AS MATERIALIZED (SELECT qid, vec_id FROM (
       |  SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
       |    ORDER BY ${cos("e.v", "q.qv")} DESC, e.vec_id) AS rn
       |  FROM e, q WHERE e.vec_id <> q.qid) WHERE rn <= 10)
       |$depths""".stripMargin
  }

  /** The single-query IVF probe + ranked-candidates SQL shared by
    * annIvfTopk and annFilteredTopk — ONE builder (mirroring the
    * engine's shared `ivfProbe` helper) so a change to the probe
    * tie-break or rank precision can never reach one oracle and not
    * the other. `extraPredicate` ANDs into the candidate WHERE. */
  private def ivfTopkSql(extraPredicate: String): String =
    s"""WITH $eCte,
       |$ivfAssignedCtes,
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (SELECT clabel AS assigned_label FROM cvt, q
       |  ORDER BY round(${cos("cvt.cv", "q.qv")}, 6) DESC, cvt.clabel LIMIT 2)
       |SELECT vec_id, row_number() OVER (ORDER BY c DESC, vec_id) AS rnk FROM (
       |  SELECT a.vec_id, ${cos("a.v", "q.qv")} AS c
       |  FROM assigned a JOIN probe p ON a.assigned_label = p.assigned_label
       |  JOIN e el ON el.vec_id = a.vec_id, q
       |  WHERE a.vec_id <> 0$extraPredicate)
       |ORDER BY rnk LIMIT 10""".stripMargin

  val annIvfTopk: String = ivfTopkSql("")

  /** #195 — filtered ANN: the shared IVF probe SQL with the metadata
    * predicate ANDed into the candidate set (the engine stores the
    * label in the inverted lists; the oracle joins it back from e). */
  /** #220 — tombstone-aware probe: the shared IVF probe SQL with the
    * deletion slice anti-filtered before the rank. */
  val annIvfDelete: String = ivfTopkSql(
    s"\n|    AND a.vec_id % ${graft.operators.Similarity.TombMod} <> ${graft.operators.Similarity.TombRem}"
      .stripMargin)

  val annFilteredTopk: String = ivfTopkSql(
    s"\n|    AND el.label IN (${graft.operators.Similarity.FilteredAnnLabels.mkString(", ")})"
      .stripMargin)

  /** #198 — batched IVF probe: per-qid nprobe=2 cell ranks with the
    * single-query probe's (rounded cos desc, clabel) tie order, then
    * ann_batch_topk's (cos desc, vec_id) rank over the probed cells'
    * rows only. */
  val annBatchIvfTopk: String =
    s"""WITH $eCte,
       |$ivfAssignedCtes,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |probe AS (SELECT qid, assigned_label FROM (
       |  SELECT q.qid, cvt.clabel AS assigned_label,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY round(${cos("cvt.cv", "q.qv")}, 6) DESC, cvt.clabel) AS rn
       |  FROM cvt, q) WHERE rn <= 2)
       |SELECT qid, rnk, vec_id FROM (
       |  SELECT p.qid, a.vec_id, row_number() OVER (PARTITION BY p.qid
       |    ORDER BY ${cos("a.v", "q.qv")} DESC, a.vec_id) AS rnk
       |  FROM assigned a JOIN probe p ON a.assigned_label = p.assigned_label
       |  JOIN q ON q.qid = p.qid WHERE a.vec_id >= 10)
       |WHERE rnk <= 3""".stripMargin

  /** #ann_bq_ivf — IVF-pruned BQ serve: the batched-probe cell CTEs
    * restrict the candidate set, hamming ranks within it ((ham,
    * vec_id) ties — the engine's packed-long heap order), exact cosine
    * re-ranks the ≤32-row shortlist. */
  val annBqIvf: String =
    s"""WITH $eCte,
       |$ivfAssignedCtes,
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |probe AS (SELECT qid, assigned_label FROM (
       |  SELECT q.qid, cvt.clabel AS assigned_label,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY round(${cos("cvt.cv", "q.qv")}, 6) DESC, cvt.clabel) AS rn
       |  FROM cvt, q) WHERE rn <= 2),
       |cand AS (SELECT p.qid, a.vec_id
       |  FROM assigned a JOIN probe p ON a.assigned_label = p.assigned_label
       |  WHERE a.vec_id >= 10),
       |b AS (SELECT vec_id, CAST($bqPackExpr AS BIGINT) AS bq FROM e),
       |qb AS (SELECT vec_id AS qid, bq AS qbq FROM b WHERE vec_id < 10),
       |sl AS (SELECT qid, vec_id FROM (
       |  SELECT c.qid, c.vec_id, row_number() OVER (PARTITION BY c.qid
       |    ORDER BY bit_count(xor(b2.bq, qb.qbq)), c.vec_id) AS hrnk
       |  FROM cand c JOIN b b2 ON b2.vec_id = c.vec_id JOIN qb ON qb.qid = c.qid)
       |  WHERE hrnk <= ${graft.operators.Similarity.BqShortlist})
       |SELECT qid, rnk, vec_id FROM (
       |  SELECT sl.qid, sl.vec_id, row_number() OVER (PARTITION BY sl.qid
       |    ORDER BY ${cos("e2.v", "q.qv")} DESC, sl.vec_id) AS rnk
       |  FROM sl JOIN e e2 ON e2.vec_id = sl.vec_id JOIN q ON q.qid = sl.qid)
       |WHERE rnk <= 3""".stripMargin

  /** #199 — selectivity-adaptive filtered ANN: cells in probe-rank
    * order, the prefix whose PRECEDING filtered mass is below the
    * target (per-cell filtered counts recomputed from the assignment —
    * the engine reads them from the staged stats table), then the
    * filtered candidate rank of the fixed probe. */
  val annFilteredAdaptive: String = {
    val labels = graft.operators.Similarity.FilteredAnnLabels.mkString(", ")
    val target = graft.operators.Similarity.FilteredAdaptiveTarget
    s"""WITH $eCte,
       |$ivfAssignedCtes,
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |fcnt AS (SELECT a.assigned_label, count(*) AS fc
       |  FROM assigned a JOIN e el ON el.vec_id = a.vec_id
       |  WHERE el.label IN ($labels) GROUP BY 1),
       |rc AS (SELECT cvt.clabel AS assigned_label, row_number() OVER (
       |    ORDER BY round(${cos("cvt.cv", "q.qv")}, 6) DESC, cvt.clabel) AS rn
       |  FROM cvt, q),
       |sel AS (SELECT assigned_label FROM (
       |  SELECT rc.assigned_label, rn,
       |    COALESCE(sum(fc) OVER (ORDER BY rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
       |  FROM rc LEFT JOIN fcnt USING (assigned_label))
       |  WHERE rn <= 2 OR cum_prev < $target)
       |SELECT vec_id, row_number() OVER (ORDER BY c DESC, vec_id) AS rnk FROM (
       |  SELECT a.vec_id, ${cos("a.v", "q.qv")} AS c
       |  FROM assigned a JOIN sel p ON a.assigned_label = p.assigned_label
       |  JOIN e el ON el.vec_id = a.vec_id, q
       |  WHERE a.vec_id <> 0 AND el.label IN ($labels))
       |ORDER BY rnk LIMIT 10""".stripMargin
  }

  /** #203 — incremental IVF probe: centroids + assignment rebuilt over
    * the INDEXED slice only, the fresh tail brute-scanned, the merged
    * candidates ranked by the shared (cos desc, vec_id) order. */
  val annIvfIncremental: String = {
    val (mod, rem) = (graft.operators.IvfIndex.IncrMod, graft.operators.IvfIndex.IncrRem)
    s"""WITH $eCte,
       |eo AS (SELECT * FROM e WHERE vec_id % $mod <> $rem),
       |${ivfAssignedCtesOver("eo")},
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (SELECT clabel AS assigned_label FROM cvt, q
       |  ORDER BY round(${cos("cvt.cv", "q.qv")}, 6) DESC, cvt.clabel LIMIT 2),
       |cand AS (
       |  SELECT a.vec_id, ${cos("a.v", "q.qv")} AS c
       |  FROM assigned a JOIN probe p ON a.assigned_label = p.assigned_label, q
       |  WHERE a.vec_id <> 0
       |  UNION ALL
       |  SELECT e.vec_id, ${cos("e.v", "q.qv")} FROM e, q WHERE e.vec_id % $mod = $rem)
       |SELECT vec_id, row_number() OVER (ORDER BY c DESC, vec_id) AS rnk FROM cand
       |ORDER BY rnk LIMIT 10""".stripMargin
  }

  /** #ann_ivf_rebalance — drift-scoped rebalance: centroids +
    * assignment rebuilt over the indexed slice, arrivals folded in
    * against them, centroids refreshed incrementally ((mean·n_old +
    * arrival sums)/(n_old+n_arr) — the same double-op order as the
    * engine), the RebDriftCells most round-6-cosine-shifted cells
    * selected, and ONLY their members re-assigned against the
    * refreshed set with the shared fold tie order. */
  val annIvfRebalance: String = {
    val (mod, rem) = (graft.operators.IvfIndex.IncrMod, graft.operators.IvfIndex.IncrRem)
    val k = graft.operators.Similarity.RebDriftCells
    s"""WITH $eCte,
       |eo AS (SELECT * FROM e WHERE vec_id % $mod <> $rem),
       |${ivfAssignedCtesOver("eo")},
       |arr AS (SELECT vec_id, v FROM e WHERE vec_id % $mod = $rem),
       |arras AS (SELECT vec_id, v, clabel AS assigned_label FROM (
       |  SELECT arr.vec_id, arr.v, cvt.clabel, row_number() OVER (
       |    PARTITION BY arr.vec_id
       |    ORDER BY ${rcosSafe("arr.v", "cvt.cv")} DESC, cvt.clabel) AS rn
       |  FROM arr, cvt) WHERE rn = 1),
       |nold AS (SELECT assigned_label AS clabel, count(*) AS n_old
       |  FROM assigned GROUP BY 1),
       |sad AS (SELECT clabel, j, sum(x) AS sx FROM (
       |  SELECT assigned_label AS clabel, unnest(generate_series(1, 64)) AS j,
       |    unnest(v) AS x FROM arras) GROUP BY 1, 2),
       |sal AS (SELECT clabel, list(sx ORDER BY j) AS sa FROM sad GROUP BY 1),
       |narr AS (SELECT assigned_label AS clabel, count(*) AS n_arr
       |  FROM arras GROUP BY 1),
       |ncx AS (SELECT c.clabel, c.cv, n_old, coalesce(n_arr, 0) AS n_arr,
       |    list_transform(generate_series(1, 64), j ->
       |      (c.cv[j] * n_old + coalesce(sa[j], 0))
       |        / (n_old + coalesce(n_arr, 0))) AS ncv
       |  FROM cvt c JOIN nold USING (clabel)
       |  LEFT JOIN sal USING (clabel) LEFT JOIN narr USING (clabel)),
       |ncs AS (SELECT clabel, n_old, n_arr, ncv,
       |    round(1 - ${cos("cv", "ncv")}, 6) AS shift FROM ncx),
       |drift AS (SELECT clabel FROM ncs ORDER BY shift DESC, clabel LIMIT $k),
       |mem AS (
       |  SELECT a.vec_id, a.v, a.assigned_label FROM assigned a
       |    JOIN drift d ON a.assigned_label = d.clabel
       |  UNION ALL
       |  SELECT r.vec_id, r.v, r.assigned_label FROM arras r
       |    JOIN drift d ON r.assigned_label = d.clabel),
       |re AS (SELECT old_cell, new_cell FROM (
       |  SELECT m.assigned_label AS old_cell, n.clabel AS new_cell,
       |    row_number() OVER (PARTITION BY m.vec_id
       |      ORDER BY ${rcosSafe("m.v", "n.ncv")} DESC, n.clabel) AS rn
       |  FROM mem m, ncs n) WHERE rn = 1),
       |mv AS (SELECT old_cell AS clabel,
       |    sum(CASE WHEN new_cell <> old_cell THEN 1 ELSE 0 END) AS moved
       |  FROM re GROUP BY 1)
       |SELECT CAST(n.clabel AS BIGINT) AS cell, CAST(n_old AS BIGINT) AS n_old,
       |  CAST(n_arr AS BIGINT) AS n_arr, shift,
       |  (d.clabel IS NOT NULL) AS drifted,
       |  CAST(coalesce(mv.moved, 0) AS BIGINT) AS moved,
       |  CAST(n_old + n_arr - coalesce(mv.moved, 0) AS BIGINT) AS kept
       |FROM ncs n LEFT JOIN drift d USING (clabel) LEFT JOIN mv USING (clabel)""".stripMargin
  }

  /** The shared CTE chain of the commit family (#ann_ivf_commit /
    * #ann_ivf_commit_report): the rebalance CTEs verbatim (sliced
    * index, arrival fold, incremental refresh, drift rank), then the
    * re-homed delta (`re`) beside the kept legs. */
  private val ivfCommitCtes: String = {
    val (mod, rem) = (graft.operators.IvfIndex.IncrMod, graft.operators.IvfIndex.IncrRem)
    val k = graft.operators.Similarity.RebDriftCells
    s"""$eCte,
       |eo AS (SELECT * FROM e WHERE vec_id % $mod <> $rem),
       |${ivfAssignedCtesOver("eo")},
       |arr AS (SELECT vec_id, v FROM e WHERE vec_id % $mod = $rem),
       |arras AS (SELECT vec_id, v, clabel AS assigned_label FROM (
       |  SELECT arr.vec_id, arr.v, cvt.clabel, row_number() OVER (
       |    PARTITION BY arr.vec_id
       |    ORDER BY ${rcosSafe("arr.v", "cvt.cv")} DESC, cvt.clabel) AS rn
       |  FROM arr, cvt) WHERE rn = 1),
       |nold AS (SELECT assigned_label AS clabel, count(*) AS n_old
       |  FROM assigned GROUP BY 1),
       |sad AS (SELECT clabel, j, sum(x) AS sx FROM (
       |  SELECT assigned_label AS clabel, unnest(generate_series(1, 64)) AS j,
       |    unnest(v) AS x FROM arras) GROUP BY 1, 2),
       |sal AS (SELECT clabel, list(sx ORDER BY j) AS sa FROM sad GROUP BY 1),
       |narr AS (SELECT assigned_label AS clabel, count(*) AS n_arr
       |  FROM arras GROUP BY 1),
       |ncx AS (SELECT c.clabel, c.cv,
       |    list_transform(generate_series(1, 64), j ->
       |      (c.cv[j] * n_old + coalesce(sa[j], 0))
       |        / (n_old + coalesce(n_arr, 0))) AS ncv
       |  FROM cvt c JOIN nold USING (clabel)
       |  LEFT JOIN sal USING (clabel) LEFT JOIN narr USING (clabel)),
       |ncs AS (SELECT clabel, ncv,
       |    round(1 - ${cos("cv", "ncv")}, 6) AS shift FROM ncx),
       |drift AS (SELECT clabel FROM ncs ORDER BY shift DESC, clabel LIMIT $k),
       |mem AS (
       |  SELECT a.vec_id, a.v FROM assigned a
       |    JOIN drift d ON a.assigned_label = d.clabel
       |  UNION ALL
       |  SELECT r.vec_id, r.v FROM arras r
       |    JOIN drift d ON r.assigned_label = d.clabel),
       |re AS (SELECT vec_id, v, new_cell FROM (
       |  SELECT m.vec_id, m.v, n.clabel AS new_cell,
       |    row_number() OVER (PARTITION BY m.vec_id
       |      ORDER BY ${rcosSafe("m.v", "n.ncv")} DESC, n.clabel) AS rn
       |  FROM mem m, ncs n) WHERE rn = 1)""".stripMargin
  }

  /** The post-swap probe SQL of the commit family — ONE builder (the
    * engine's shared `commitProbe`) so the plain commit probe and the
    * tombstoned one can never diverge in probe tie-break or rank
    * precision. `extraPredicate` ANDs into the candidate WHERE. */
  private def ivfCommitProbeSql(extraPredicate: String): String =
    s"""WITH $ivfCommitCtes,
       |lists AS (
       |  SELECT a.vec_id, a.v, a.assigned_label FROM assigned a
       |    LEFT JOIN drift d ON a.assigned_label = d.clabel
       |    WHERE d.clabel IS NULL
       |  UNION ALL
       |  SELECT r.vec_id, r.v, r.assigned_label FROM arras r
       |    LEFT JOIN drift d ON r.assigned_label = d.clabel
       |    WHERE d.clabel IS NULL
       |  UNION ALL
       |  SELECT vec_id, v, new_cell AS assigned_label FROM re),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (SELECT clabel AS assigned_label FROM ncs, q
       |  ORDER BY round(${cos("ncs.ncv", "q.qv")}, 6) DESC, clabel LIMIT 2)
       |SELECT vec_id, row_number() OVER (ORDER BY c DESC, vec_id) AS rnk FROM (
       |  SELECT l.vec_id, ${cos("l.v", "q.qv")} AS c
       |  FROM lists l JOIN probe p ON l.assigned_label = p.assigned_label, q
       |  WHERE l.vec_id <> 0$extraPredicate)
       |ORDER BY rnk LIMIT 10""".stripMargin

  /** #ann_ivf_commit — post-swap probe of the COMMITTED rebalanced
    * generation (see [[ivfCommitCtes]]): the committed list set —
    * kept base cells + kept arrivals + the re-homed drift mass —
    * probed at nprobe 2 against the refreshed centroid table with the
    * engine's exact (cos desc, vec_id) rank order. */
  val annIvfCommit: String = ivfCommitProbeSql("")

  /** #ann_ivf_gen_delete — the commit probe with the committed
    * tombstone slice anti-filtered (the engine's probe anti-joins the
    * generation's tombstone list; the slice is arithmetic here, so the
    * oracle mirrors it as a predicate). */
  val annIvfGenDelete: String = ivfCommitProbeSql(
    s" AND l.vec_id % ${graft.operators.IvfGen.GenTombMod}" +
      s" <> ${graft.operators.IvfGen.GenTombRem}")

  /** #ann_ivf_commit_report — the post-swap per-cell state report:
    * base-leg counts (kept cells of the old lists), delta-leg counts
    * (kept arrivals + the re-homed drift mass), and the total each
    * committed cell serves. */
  val annIvfCommitReport: String =
    s"""WITH $ivfCommitCtes,
       |bt AS (SELECT a.assigned_label AS cell, count(*) AS n_base
       |  FROM assigned a LEFT JOIN drift d ON a.assigned_label = d.clabel
       |  WHERE d.clabel IS NULL GROUP BY 1),
       |dl AS (SELECT cell, count(*) AS n_delta FROM (
       |  SELECT r.assigned_label AS cell FROM arras r
       |    LEFT JOIN drift d ON r.assigned_label = d.clabel
       |    WHERE d.clabel IS NULL
       |  UNION ALL SELECT new_cell FROM re) GROUP BY 1)
       |SELECT CAST(coalesce(bt.cell, dl.cell) AS BIGINT) AS cell,
       |  CAST(coalesce(n_base, 0) AS BIGINT) AS n_base,
       |  CAST(coalesce(n_delta, 0) AS BIGINT) AS n_delta,
       |  CAST(coalesce(n_base, 0) + coalesce(n_delta, 0) AS BIGINT) AS n_total
       |FROM bt FULL JOIN dl ON bt.cell = dl.cell""".stripMargin

  /** #mm_decode_image_robust — driver-side recompute of the varied +
    * poisoned PNG corpus: kind/dims from the container cycle
    * (doc_id % 4), poison slice (doc_id % 17 ∈ {magic, empty}) flagged
    * ok=false with zeroed fields, and the exact whole-image sums per
    * shape from the pixel formulas (gray/indexed share the 8-bit
    * formula; rgb sums the three derived channels; gray16 the widened
    * 16-bit formula). */
  val mmDecodeImageRobust: String = {
    import graft.operators.Multimodal.{CorruptMod, CorruptMagicRem, CorruptEmptyRem, ImgSide}
    val side = ImgSide - 1
    s"""WITH d AS (SELECT doc_id FROM documents),
       |px AS (SELECT d.doc_id,
       |    (d.doc_id * 31 + gx.x * 7 + gy.y * 13) % 256 AS p,
       |    (d.doc_id * 31 + gx.x * 7 + gy.y * 13) % 65536 AS p16
       |  FROM d, generate_series(0, $side) gx(x), generate_series(0, $side) gy(y)),
       |sums AS (SELECT doc_id,
       |    CAST(sum(p) AS BIGINT) AS s8,
       |    CAST(sum(p + (p + 85) % 256 + (p + 170) % 256) AS BIGINT) AS srgb,
       |    CAST(sum(p16) AS BIGINT) AS s16
       |  FROM px GROUP BY 1)
       |SELECT doc_id,
       |  CASE WHEN doc_id % $CorruptMod IN ($CorruptMagicRem, $CorruptEmptyRem) THEN 'corrupt'
       |       WHEN doc_id % 4 = 0 THEN 'gray8'
       |       WHEN doc_id % 4 = 1 THEN 'rgb8'
       |       WHEN doc_id % 4 = 2 THEN 'indexed8'
       |       ELSE 'gray16' END AS kind,
       |  doc_id % $CorruptMod NOT IN ($CorruptMagicRem, $CorruptEmptyRem) AS ok,
       |  CAST(CASE WHEN doc_id % $CorruptMod IN ($CorruptMagicRem, $CorruptEmptyRem)
       |    THEN 0 ELSE $ImgSide END AS BIGINT) AS width,
       |  CAST(CASE WHEN doc_id % $CorruptMod IN ($CorruptMagicRem, $CorruptEmptyRem)
       |    THEN 0 ELSE $ImgSide END AS BIGINT) AS height,
       |  CASE WHEN doc_id % $CorruptMod IN ($CorruptMagicRem, $CorruptEmptyRem) THEN 0
       |       WHEN doc_id % 4 = 0 THEN s8
       |       WHEN doc_id % 4 IN (1, 2) THEN srgb
       |       ELSE s16 END AS luma_sum
       |FROM sums""".stripMargin
  }

  /** #mm_decode_audio_robust — same recompute for the varied + poisoned
    * WAV corpus: format cycle doc_id % 3 (8-bit mono / 16-bit signed
    * mono / 8-bit stereo with R = L + 128 mod 256), poison slice
    * flagged, exact all-channel PCM sums from the sample formulas. */
  val mmDecodeAudioRobust: String = {
    import graft.operators.Multimodal.{CorruptMod, CorruptMagicRem, CorruptEmptyRem, AudFrames, AudRate}
    s"""WITH d AS (SELECT doc_id FROM documents),
       |t AS (SELECT d.doc_id,
       |    (d.doc_id * 17 + g.i * 11) % 256 AS p,
       |    ((d.doc_id * 17 + g.i * 11) % 65536) - 32768 AS p16
       |  FROM d, generate_series(0, ${AudFrames - 1}) g(i)),
       |sums AS (SELECT doc_id,
       |    CAST(sum(p) AS BIGINT) AS s8,
       |    CAST(sum(p16) AS BIGINT) AS s16,
       |    CAST(sum(p + (p + 128) % 256) AS BIGINT) AS sst
       |  FROM t GROUP BY 1)
       |SELECT doc_id,
       |  CASE WHEN doc_id % $CorruptMod IN ($CorruptMagicRem, $CorruptEmptyRem) THEN 'corrupt'
       |       WHEN doc_id % 3 = 0 THEN 'pcm8'
       |       WHEN doc_id % 3 = 1 THEN 'pcm16'
       |       ELSE 'pcm8stereo' END AS kind,
       |  doc_id % $CorruptMod NOT IN ($CorruptMagicRem, $CorruptEmptyRem) AS ok,
       |  CAST(CASE WHEN doc_id % $CorruptMod IN ($CorruptMagicRem, $CorruptEmptyRem)
       |    THEN 0 ELSE $AudRate END AS BIGINT) AS sample_rate,
       |  CAST(CASE WHEN doc_id % $CorruptMod IN ($CorruptMagicRem, $CorruptEmptyRem) THEN 0
       |       WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS BIGINT) AS channels,
       |  CAST(CASE WHEN doc_id % $CorruptMod IN ($CorruptMagicRem, $CorruptEmptyRem)
       |    THEN 0 ELSE $AudFrames END AS BIGINT) AS n_frames,
       |  CASE WHEN doc_id % $CorruptMod IN ($CorruptMagicRem, $CorruptEmptyRem) THEN 0
       |       WHEN doc_id % 3 = 0 THEN s8
       |       WHEN doc_id % 3 = 1 THEN s16
       |       ELSE sst END AS pcm_sum
       |FROM sums""".stripMargin
  }

  /** #97 — decontamination: distinct-3-gram overlap of train docs
    * against the eval slice (doc_id ≡ 0 mod EvalMod). Shares the
    * shingle CTEs with the dedup family. */
  val textDecontaminate: String =
    s"""WITH $ngramCtes,
       |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % ${TextOps.EvalMod} = 0),
       |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % ${TextOps.EvalMod} <> 0)
       |SELECT tr.doc_id, count(*) AS n_hits
       |FROM tr JOIN ev USING (s) GROUP BY 1""".stripMargin

  /** #147 — winnowing: same window-hash CTEs as dedup_substring, the
    * (fp, rightmost-pos) argmin as an integer min over the packed
    * code, full windows only, distinct selections. */
  val dedupWinnow: String =
    s"""WITH $toksCte,
       |hs AS (SELECT doc_id, list_transform(t, w -> ('0x' || substr(md5(w), 1, 8))::BIGINT) AS h
       |  FROM toks WHERE len(t) >= ${Dedup.WinK}),
       |wh AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    list_reduce(list_prepend(0, h[i:i+${Dedup.WinK - 1}]),
       |      (acc, x) -> (acc * ${TextOps.RollB} + x) % ${TextOps.RollP}) AS fp
       |  FROM (SELECT doc_id, unnest(generate_series(1, len(h) - ${Dedup.WinK - 1})) AS i, h
       |        FROM hs)),
       |coded AS (SELECT doc_id, pos,
       |    fp * ${Dedup.WinnowPosPack} + (${Dedup.WinnowPosPack - 1} - pos) AS code
       |  FROM wh),
       |sel AS (SELECT doc_id,
       |    min(code) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${Dedup.WinnowW - 1} PRECEDING AND CURRENT ROW) AS sel,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS wn
       |  FROM coded)
       |SELECT DISTINCT doc_id,
       |  ${Dedup.WinnowPosPack - 1} - (sel % ${Dedup.WinnowPosPack}) AS pos,
       |  sel // ${Dedup.WinnowPosPack} AS fp
       |FROM sel WHERE wn >= ${Dedup.WinnowW}""".stripMargin

  /** #187 — winnowed-fingerprint pair mining: the dedupWinnow query
    * nested as a CTE, collapsed to distinct doc-level fp sets, the same
    * WinDfCap boilerplate cap as dedup_substring, pairs on
    * >= WinMinShared shared selections. */
  val dedupWinnowPairs: String =
    s"""WITH wsel AS ($dedupWinnow),
       |wfp AS (SELECT DISTINCT doc_id, fp FROM wsel),
       |keep AS (SELECT fp FROM wfp GROUP BY fp HAVING count(*) <= ${Dedup.WinDfCap})
       |SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS n_shared
       |FROM wfp a JOIN keep k ON a.fp = k.fp
       |JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= ${Dedup.WinMinShared}""".stripMargin

  /** #190 — store-served latest-per-key: the same newest-wins selection
    * on the raw parquet ((user_id, ts) is unique, so no tiebreak is
    * needed beyond ts). */
  val helixLatest: String = {
    import graft.operators.HelixScan
    s"""WITH r AS (SELECT user_id, epoch_us(ts) AS ts_us,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
       |  FROM events WHERE epoch_us(ts) <= ${HelixScan.LatestAsOfUs})
       |SELECT user_id, ts_us, cents FROM r WHERE rn = 1""".stripMargin
  }

  /** #191 — retention scan: rows at or past the bucket-aligned cutoff;
    * too-eager or too-lazy retention diverges the hash. */
  val helixOutdateScan: String = {
    import graft.operators.HelixScan
    s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
       |FROM events WHERE epoch_us(ts) >= ${HelixScan.OutdateCutUs}""".stripMargin
  }

  /** #146 — vocabulary growth: first-occurrence doc per type, 100-doc
    * buckets, running total (the two-level Spark carry sums to the
    * identical integers). */
  val textHeapsVocab: String =
    s"""WITH $toksCte,
       |bg AS (SELECT doc_id, t[CAST(i AS INTEGER)] || ' ' ||
       |    t[CAST(i AS INTEGER) + 1] AS w
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
       |    FROM toks WHERE len(t) >= 2)),
       |fw AS (SELECT w, min(doc_id) AS first_doc FROM bg GROUP BY w),
       |pb AS (SELECT first_doc // ${TextOps.VocabBucket} AS bucket,
       |    count(*) AS n_new FROM fw GROUP BY 1)
       |SELECT bucket, n_new,
       |  CAST(sum(n_new) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
       |FROM pb""".stripMargin

  /** #145 — RFM segmentation: the same integer quintile formula
    * (5·rank−1) // n + 1 per nation, ties to the lowest custkey. */
  val qRfmSegments: String =
    s"""WITH pc AS (SELECT o_custkey,
       |    max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS last_us,
       |    count(*) AS freq,
       |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS spend_c
       |  FROM orders GROUP BY 1),
       |j AS (SELECT pc.*, c.c_custkey, c.c_nationkey FROM pc
       |  JOIN customer c ON pc.o_custkey = c.c_custkey),
       |r AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
       |    count(*) OVER (PARTITION BY c_nationkey) AS cnt_n,
       |    CAST(row_number() OVER (PARTITION BY c_nationkey
       |      ORDER BY last_us, c_custkey) AS BIGINT) AS rn_r,
       |    CAST(row_number() OVER (PARTITION BY c_nationkey
       |      ORDER BY freq, c_custkey) AS BIGINT) AS rn_f,
       |    CAST(row_number() OVER (PARTITION BY c_nationkey
       |      ORDER BY spend_c, c_custkey) AS BIGINT) AS rn_m
       |  FROM j)
       |SELECT c_custkey, nation,
       |  (rn_r * 5 - 1) // cnt_n + 1 AS r_score,
       |  (rn_f * 5 - 1) // cnt_n + 1 AS f_score,
       |  (rn_m * 5 - 1) // cnt_n + 1 AS m_score,
       |  ((rn_r * 5 - 1) // cnt_n + 1) * 100 + ((rn_f * 5 - 1) // cnt_n + 1) * 10
       |    + ((rn_m * 5 - 1) // cnt_n + 1) AS rfm
       |FROM r""".stripMargin

  /** #140 — char-bigram LM fluency: add-1 model from pass-1 counts,
    * per-entry probability through the LmFixScale floor (every step
    * exact IEEE — casts, ONE division, floor), per-doc exact integer
    * sums, mirrored (sum / S) / n division chain. */
  val textCharLm: String =
    s"""WITH nm AS (SELECT doc_id, lower(text) AS nm FROM documents
       |  WHERE length(lower(text)) >= 2),
       |bg AS (SELECT doc_id, substr(nm, CAST(i AS INTEGER), 2) AS bg FROM (
       |  SELECT doc_id, nm, unnest(generate_series(1, length(nm) - 1)) AS i
       |  FROM nm)),
       |m AS (SELECT bg, count(*) AS cab FROM bg GROUP BY 1),
       |fc AS (SELECT substr(bg, 1, 1) AS a, sum(cab) AS ca FROM m GROUP BY 1),
       |vz AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS vsz FROM m),
       |model AS (SELECT m.bg,
       |    CAST(floor((CAST(cab + 1 AS DOUBLE) / CAST(ca + vsz AS DOUBLE))
       |      * ${TextOps.LmFixScale}) AS BIGINT) AS pfix
       |  FROM m JOIN fc ON substr(m.bg, 1, 1) = fc.a, vz)
       |SELECT b.doc_id, count(*) AS n_bigrams,
       |  (CAST(sum(pfix) AS DOUBLE) / ${TextOps.LmFixScale}) / count(*) AS mean_p
       |FROM bg b JOIN model USING (bg)
       |GROUP BY b.doc_id""".stripMargin

  /** #212 — CCNet quality buckets: the char-LM oracle nested verbatim,
    * per-lang tercile thresholds from the doc_id-parity sample's rank
    * frame, value-comparison assignment with null fall-through to
    * tail — the identical CASE chain as the engine's `when` chain. */
  val textCcnetBucket: String =
    s"""WITH lm AS ($textCharLm),
       |sc AS (SELECT lm.doc_id, d.lang, lm.mean_p
       |  FROM lm JOIN documents d USING (doc_id)),
       |rk AS (SELECT lang, doc_id, mean_p,
       |    row_number() OVER (PARTITION BY lang ORDER BY mean_p DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS ns
       |  FROM sc WHERE doc_id % ${TextOps.CcnetSampleMod} = 0),
       |th AS (SELECT lang, min(CASE WHEN rn * 3 <= ns THEN mean_p END) AS t1,
       |    min(CASE WHEN rn * 3 <= 2 * ns THEN mean_p END) AS t2
       |  FROM rk GROUP BY lang)
       |SELECT sc.doc_id, sc.lang, sc.mean_p,
       |  CASE WHEN sc.mean_p >= th.t1 THEN 'head'
       |       WHEN sc.mean_p >= th.t2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM sc LEFT JOIN th USING (lang)""".stripMargin

  /** #141 — DSIR importance weights: hashed word-bigram buckets, add-1
    * target/raw ratio per bucket through the DsirFixScale floor (casts
    * + three divisions — exact IEEE), per-doc HUGEINT sums ↔ Spark's
    * DECIMAL(38), mirrored final division chain. */
  val textDsir: String =
    s"""WITH $toksCte,
       |bgf AS (SELECT doc_id,
       |    ('0x' || substr(md5(t[CAST(i AS INTEGER)] || ' ' ||
       |      t[CAST(i AS INTEGER) + 1]), 1, 8))::BIGINT
       |      % ${TextOps.DsirBuckets} AS h
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
       |    FROM toks WHERE len(t) >= 2)),
       |c AS (SELECT h,
       |    sum(CASE WHEN doc_id % ${TextOps.EvalMod} = 0 THEN 1 ELSE 0 END) AS t_h,
       |    sum(CASE WHEN doc_id % ${TextOps.EvalMod} = 0 THEN 0 ELSE 1 END) AS r_h
       |  FROM bgf GROUP BY 1),
       |tot AS (SELECT sum(t_h) AS tt, sum(r_h) AS tr FROM c),
       |model AS (SELECT h,
       |    CAST(floor(((CAST(t_h + 1 AS DOUBLE) /
       |        CAST(tt + ${TextOps.DsirBuckets} AS DOUBLE)) /
       |      (CAST(r_h + 1 AS DOUBLE) /
       |        CAST(tr + ${TextOps.DsirBuckets} AS DOUBLE)))
       |      * ${TextOps.DsirFixScale}) AS HUGEINT) AS rfix
       |  FROM c, tot)
       |SELECT b.doc_id, count(*) AS n_feats,
       |  (CAST(sum(rfix) AS DOUBLE) / ${TextOps.DsirFixScale}) / count(*)
       |    AS dsir_score
       |FROM bgf b JOIN model USING (h)
       |WHERE b.doc_id % ${TextOps.EvalMod} <> 0
       |GROUP BY b.doc_id""".stripMargin

  /** #98 — one Lloyd iteration: seeds = vec_id < KmK, assignment by the
    * same rounded-cosine/lowest-seed ordering as knn_label_centroid,
    * update = per-dim mean over [[Similarity.KmFixScale]] fixed-point
    * integers (exact HUGEINT sums ↔ Spark's DECIMAL(38) sums — order-
    * independent at any cluster size), divided in the same fixed
    * (sum / S) / n order. */
  val embKmeansStep: String =
    s"""WITH $eCte,
       |cvt AS (SELECT vec_id AS clabel, v AS cv FROM e WHERE vec_id < ${Similarity.KmK}),
       |assigned AS (SELECT vec_id, v, clabel FROM (
       |  SELECT e.vec_id, e.v, cvt.clabel,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${rcosSafe("e.v", "cvt.cv")} DESC, cvt.clabel) AS rn
       |  FROM e, cvt) WHERE rn = 1),
       |byd AS (SELECT clabel AS cid, j AS dim,
       |    sum(CAST(floor(x * ${Similarity.KmFixScale}.0) AS HUGEINT)) AS sx,
       |    count(*) AS cnt FROM (
       |    SELECT clabel, unnest(generate_series(1, 64)) AS j, unnest(v) AS x
       |    FROM assigned)
       |  GROUP BY 1, 2)
       |SELECT cid, CAST(cnt AS BIGINT) AS n_members, CAST(dim AS BIGINT) AS dim,
       |  (CAST(sx AS DOUBLE) / ${Similarity.KmFixScale}.0) / cnt AS m FROM byd""".stripMargin

  /** #109 — per-label norm stats: the same left-to-right dot fold for
    * each row's norm, min/max as exact double SELECTION, and the mean
    * through the KmFixScale fixed-point floor (exact HUGEINT sums ↔
    * Spark's DECIMAL(38) — order-independent at any group size),
    * divided in the same fixed (sum / S) / n order. */
  val embNormStats: String =
    s"""WITH $eCte,
       |n AS (SELECT label, sqrt(${dot("v", "v")}) AS nrm FROM e)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  min(nrm) AS min_norm, max(nrm) AS max_norm,
       |  (CAST(sum(CAST(floor(nrm * ${Similarity.KmFixScale}.0) AS HUGEINT)) AS DOUBLE)
       |     / ${Similarity.KmFixScale}.0) / count(*) AS mean_norm
       |FROM n GROUP BY label""".stripMargin

  /** #112 — power-iteration matvec y = (VᵀV)x: the same shared-fold
    * dot per row, each (s·v_j) contribution floored onto the KmFixScale
    * grid (exact HUGEINT sums ↔ Spark's DECIMAL(38) — order-independent
    * at any corpus size), divided back in the same fixed order. The
    * unnest pair zips positionally, exactly like the kmeans oracle. */
  val embPowerIter: String =
    s"""WITH $eCte,
       |x AS (SELECT v AS xv FROM e WHERE vec_id = 0),
       |sc AS (SELECT e.vec_id, e.v, ${dot("e.v", "x.xv")} AS s FROM e, x),
       |byd AS (SELECT j,
       |    sum(CAST(floor((s * c) * ${Similarity.KmFixScale}.0) AS HUGEINT)) AS sx,
       |    count(*) AS n
       |  FROM (SELECT s, unnest(generate_series(1, 64)) AS j, unnest(v) AS c FROM sc)
       |  GROUP BY j)
       |SELECT CAST(j AS BIGINT) AS dim,
       |  CAST(sx AS DOUBLE) / ${Similarity.KmFixScale}.0 AS y,
       |  CAST(n AS BIGINT) AS n_vecs
       |FROM byd""".stripMargin

  /** #emb_remove_top_pc — all-but-the-top eval: the embPowerIter
    * matvec (sums cast BIGINT before DOUBLE — the HUGEINT→DOUBLE
    * rounding hazard), normalized by the left-to-right y² fold exactly
    * as the driver's foldLeft; per-vector cos/residual folds and the
    * fixed-point label means mirror the engine's division order. */
  val embRemoveTopPc: String = {
    val S = s"${Similarity.KmFixScale}.0"
    def meanOf(c: String) =
      s"(CAST(CAST(sum(CAST(floor($c * $S) AS HUGEINT)) AS BIGINT) AS DOUBLE) / $S) / count(*)"
    s"""WITH $eCte,
       |x AS (SELECT v AS xv FROM e WHERE vec_id = 0),
       |sc AS (SELECT e.vec_id, e.v, ${dot("e.v", "x.xv")} AS s FROM e, x),
       |byd AS (SELECT j,
       |    CAST(CAST(sum(CAST(floor((s * c) * $S) AS HUGEINT)) AS BIGINT) AS DOUBLE) / $S AS y
       |  FROM (SELECT s, unnest(generate_series(1, 64)) AS j, unnest(v) AS c FROM sc)
       |  GROUP BY j),
       |ul AS (SELECT list_transform(ys, c -> c / sqrt(list_reduce(
       |    list_prepend(0.0, list_transform(ys, t -> t * t)), (p, q) -> p + q))) AS us
       |  FROM (SELECT list(y ORDER BY j) AS ys FROM byd)),
       |s2 AS (SELECT e.label, e.v, u.us,
       |    sqrt(${dot("e.v", "e.v")}) AS nrm, ${dot("e.v", "u.us")} AS cc
       |  FROM e, ul u WHERE sqrt(${dot("e.v", "e.v")}) > 0),
       |st AS (SELECT label, nrm, abs(cc) / nrm AS acs,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(
       |      generate_series(1, 64),
       |      i -> (v[i] - cc * us[i]) * (v[i] - cc * us[i]))),
       |      (p, q) -> p + q)) AS resid
       |  FROM s2)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  ${meanOf("nrm")} AS mean_norm,
       |  ${meanOf("acs")} AS mean_abs_cos,
       |  ${meanOf("resid")} AS mean_resid_norm
       |FROM st GROUP BY label""".stripMargin
  }

  /** #100 — mixture weights: equal token-budget split across sources;
    * the division chain is written in the identical order as the Spark
    * expression so the doubles agree bit-for-bit. */
  val docMixWeights: String = {
    val rate = s"least(1.0, (${TextOps.MixBudget}.0 / n_sources) / src_tokens)"
    s"""WITH $toksCte,
       |per AS (SELECT d.source, count(*) AS n_docs,
       |    CAST(sum(len(t)) AS BIGINT) AS src_tokens
       |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id GROUP BY 1),
       |k AS (SELECT count(*) AS n_sources FROM per)
       |SELECT source, n_docs, src_tokens, $rate AS rate,
       |  $rate * src_tokens AS exp_tokens
       |FROM per, k""".stripMargin
  }

  /** #125 — minhash estimate vs exact: the same band-candidate pairs,
    * the signature match count as 16 mirrored component equalities, the
    * exact overlap as the shared-hash count, both divisions ordered
    * identically. */
  val dedupMinhashEst: String = {
    val matches = (0 until Dedup.NumHashes)
      .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $minhashCtes,
       |est AS (SELECT c.doc_id1, c.doc_id2, $matches AS est_num
       |  FROM cand c JOIN mh a ON a.doc_id = c.doc_id1
       |  JOIN mh b ON b.doc_id = c.doc_id2),
       |ex AS (SELECT c1.doc_id1, c1.doc_id2, count(*) AS c FROM cand c1
       |  JOIN shh a ON a.doc_id = c1.doc_id1
       |  JOIN shh b ON b.doc_id = c1.doc_id2 AND b.h = a.h
       |  GROUP BY 1, 2)
       |SELECT e.doc_id1, e.doc_id2, CAST(e.est_num AS BIGINT) AS est_num,
       |  CAST(coalesce(x.c, 0) AS BIGINT) AS c,
       |  CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
       |  e.est_num / 16.0 AS est_jaccard,
       |  CAST(coalesce(x.c, 0) AS DOUBLE) / (s1.n + s2.n - coalesce(x.c, 0))
       |    AS jaccard
       |FROM est e LEFT JOIN ex x
       |  ON e.doc_id1 = x.doc_id1 AND e.doc_id2 = x.doc_id2
       |JOIN szh s1 ON e.doc_id1 = s1.doc_id
       |JOIN szh s2 ON e.doc_id2 = s2.doc_id""".stripMargin
  }

  /** #126 — centroid shift: the kmeansStep oracle nested as a CTE, the
    * seed components joined per (cluster, dim), and the squared-delta
    * sum folded in ascending-dim order exactly as the Spark side's
    * sorted-array fold. */
  val embCentroidShift: String =
    s"""WITH km AS ($embKmeansStep),
       |$eCte,
       |sv AS (SELECT vec_id AS cid, j AS dim, v[j] AS sv FROM (
       |  SELECT vec_id, v, unnest(generate_series(1, 64)) AS j FROM e
       |  WHERE vec_id < ${Similarity.KmK})),
       |d AS (SELECT km.cid, km.n_members, km.dim,
       |    (km.m - sv.sv) * (km.m - sv.sv) AS d2
       |  FROM km JOIN sv ON km.cid = sv.cid AND km.dim = sv.dim)
       |SELECT cid, max(n_members) AS n_members,
       |  sqrt(list_reduce(list_prepend(0.0::DOUBLE, list(d2 ORDER BY dim)),
       |    (a, x) -> a + x)) AS shift
       |FROM d GROUP BY cid""".stripMargin

  /** #127 — band-bucket stats: the same 16-permutation band keys, two
    * integer aggregations. */
  val dedupBandStats: String =
    s"""WITH $minhashSigCtes,
       |b AS (SELECT band, bkey, count(*) AS sz FROM bands GROUP BY 1, 2)
       |SELECT CAST(band AS BIGINT) AS band, count(*) AS n_buckets,
       |  CAST(max(sz) AS BIGINT) AS max_bucket,
       |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS pairs_bound
       |FROM b GROUP BY band""".stripMargin

  /** #121 — temperature mixture weights: identical √-weight fixed-point
    * floor, identical normalizer sum, division chains mirrored
    * verbatim (sqrt is correctly rounded in IEEE754, so the doubles
    * agree bit-for-bit). */
  val docMixTemperature: String = {
    val w = "CAST(w_fix AS DOUBLE)"
    val rate = s"least(1.0, (${TextOps.MixBudget}.0 * ($w / CAST(zf AS DOUBLE))) / src_tokens)"
    s"""WITH $toksCte,
       |per AS (SELECT d.source, count(*) AS n_docs,
       |    CAST(sum(len(t)) AS BIGINT) AS src_tokens
       |  FROM documents d JOIN toks ON d.doc_id = toks.doc_id GROUP BY 1),
       |wf AS (SELECT *, CAST(floor(sqrt(CAST(src_tokens AS DOUBLE)) *
       |    ${TextOps.TempFixScale}) AS BIGINT) AS w_fix FROM per),
       |z AS (SELECT CAST(sum(w_fix) AS HUGEINT) AS zf FROM wf)
       |SELECT source, n_docs, src_tokens,
       |  $w / ${TextOps.TempFixScale} AS weight,
       |  $rate AS rate,
       |  $rate * src_tokens AS exp_tokens
       |FROM wf, z""".stripMargin
  }

  /** #123 — MMR re-rank: the greedy rounds unrolled as CTEs, each
    * mirroring the Spark round exactly — same rounded cosines, same
    * (0.7·simq) − (0.3·maxsel) parenthesization, same
    * (score DESC, vec_id) argmax. */
  val annMmrRerank: String = {
    val n = Similarity.MmrPicks
    val head =
      s"""WITH $eCte, q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |cand AS (SELECT e.vec_id, round(${cos("e.v", "q.qv")}, 6) AS simq, e.v
         |  FROM e, q WHERE e.vec_id <> 0
         |  ORDER BY simq DESC, e.vec_id LIMIT ${Similarity.MmrShortlist}),
         |pair AS (SELECT x.vec_id AS a, y.vec_id AS b,
         |    round(${cos("x.v", "y.v")}, 6) AS sim
         |  FROM cand x JOIN cand y ON x.vec_id <> y.vec_id),
         |s1 AS (SELECT vec_id, simq, 1 AS rnk, simq AS score FROM cand
         |  ORDER BY simq DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT vec_id FROM s1)""".stripMargin
    val rounds = (2 to n).map { r =>
      s"""s$r AS (SELECT c.vec_id, c.simq, $r AS rnk,
         |    round((0.7 * c.simq) - (0.3 * m.ms), 6) AS score
         |  FROM cand c JOIN (SELECT a, max(sim) AS ms FROM pair
         |    WHERE b IN (SELECT vec_id FROM sel${r - 1}) GROUP BY a) m
         |    ON c.vec_id = m.a
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
         |  ORDER BY score DESC, c.vec_id LIMIT 1),
         |sel$r AS (SELECT vec_id FROM sel${r - 1} UNION SELECT vec_id FROM s$r)""".stripMargin
    }
    val unions = (1 to n)
      .map(r => s"SELECT rnk, vec_id, simq, score FROM s$r")
      .mkString("\n UNION ALL ")
    (head +: rounds).mkString(",\n") + "\n" + unions
  }

  /** #101 — PQ/ADC top-10: same subspace layout, the same rounded
    * squared-diff folds for the encode argmin (row_number ORDER BY d, k
    * ↔ the Spark strict-< fold), unrounded folds for the LUT, and the
    * 8 ADC terms summed in the same parenthesized order. The 0.0
    * prepend mirrors Spark's aggregate() init exactly. */
  val annPqTopk: String = {
    import graft.operators.PqIndex.{Subs, SubDim, K}
    def fold(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, $SubDim),
         |    i -> ($a[s.sub * $SubDim + i] - $b[s.sub * $SubDim + i])
         |       * ($a[s.sub * $SubDim + i] - $b[s.sub * $SubDim + i]))),
         |  (p, q) -> p + q)""".stripMargin
    val pivots = (0 until Subs)
      .map(su => s"max(CASE WHEN c.sub = $su THEN l.d END) AS d$su").mkString(", ")
    val total = (0 until Subs).map(su => s"d$su").reduce((a, b) => s"($a + $b)")
    s"""WITH $eCte,
       |cb AS (SELECT vec_id AS k, v FROM e WHERE vec_id < $K),
       |subs AS (SELECT unnest(generate_series(0, ${Subs - 1})) AS sub),
       |enc AS (SELECT e.vec_id, s.sub, cb.k, round(${fold("e.v", "cb.v")}, 6) AS d
       |  FROM e, subs s, cb),
       |codes AS (SELECT vec_id, sub, k AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, k) AS rn
       |    FROM enc) WHERE rn = 1),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |lut AS (SELECT s.sub, cb.k AS code, ${fold("qv", "cb.v")} AS d
       |  FROM cb, subs s, q),
       |adc AS (SELECT c.vec_id, $pivots
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> 0 GROUP BY 1),
       |short AS (SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY $total, vec_id) AS rn
       |    FROM adc) WHERE rn <= ${graft.operators.PqIndex.Shortlist}),
       |rr AS (SELECT e.vec_id,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
       |      i -> (e.v[i] - qv[i]) * (e.v[i] - qv[i]))), (p, q) -> p + q) AS d
       |  FROM e JOIN short USING (vec_id), q)
       |SELECT vec_id, row_number() OVER (ORDER BY d, vec_id) AS rnk
       |FROM rr ORDER BY rnk LIMIT 10""".stripMargin
  }

  /** #159 — PQ recall: the annPqTopk pipeline generalized to a query
    * SET — per-query LUT, per-query ADC shortlist window, exact L2
    * re-rank, intersected with per-query brute-force L2 top-10. */
  val annPqRecall: String = {
    import graft.operators.PqIndex.{Subs, SubDim, K, Shortlist}
    def fold(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, $SubDim),
         |    i -> ($a[s.sub * $SubDim + i] - $b[s.sub * $SubDim + i])
         |       * ($a[s.sub * $SubDim + i] - $b[s.sub * $SubDim + i]))),
         |  (p, q) -> p + q)""".stripMargin
    def fold64(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
         |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (p, q) -> p + q)""".stripMargin
    val pivots = (0 until Subs)
      .map(su => s"max(CASE WHEN c.sub = $su THEN l.d END) AS d$su").mkString(", ")
    val total = (0 until Subs).map(su => s"d$su").reduce((a, b) => s"($a + $b)")
    s"""WITH $eCte,
       |cb AS (SELECT vec_id AS k, v FROM e WHERE vec_id < $K),
       |subs AS (SELECT unnest(generate_series(0, ${Subs - 1})) AS sub),
       |enc AS (SELECT e.vec_id, s.sub, cb.k, round(${fold("e.v", "cb.v")}, 6) AS d
       |  FROM e, subs s, cb),
       |codes AS (SELECT vec_id, sub, k AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, k) AS rn
       |    FROM enc) WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv
       |  FROM e WHERE vec_id < ${Similarity.PqRecallQueries}),
       |lut AS (SELECT q.qid, s.sub, cb.k AS code, ${fold("q.qv", "cb.v")} AS d
       |  FROM cb, subs s, q),
       |adc AS (SELECT l.qid, c.vec_id, $pivots
       |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> l.qid GROUP BY 1, 2),
       |short AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY $total, vec_id) AS rn
       |    FROM adc) WHERE rn <= $Shortlist),
       |rr AS (SELECT sh.qid, e.vec_id, ${fold64("e.v", "q.qv")} AS d
       |  FROM e JOIN short sh USING (vec_id) JOIN q ON q.qid = sh.qid),
       |pq10 AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
       |    FROM rr) WHERE rn <= 10),
       |ex AS (SELECT q.qid, e.vec_id, ${fold64("e.v", "q.qv")} AS d
       |  FROM e, q WHERE e.vec_id <> q.qid),
       |exact10 AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
       |    FROM ex) WHERE rn <= 10),
       |hits AS (SELECT e1.qid, count(*) AS h FROM exact10 e1
       |  JOIN pq10 p1 ON p1.qid = e1.qid AND p1.vec_id = e1.vec_id GROUP BY 1)
       |SELECT q.qid, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
       |  CAST(coalesce(h.h, 0) AS DOUBLE) / 10.0 AS recall
       |FROM q LEFT JOIN hits h ON h.qid = q.qid""".stripMargin
  }

  /** #160 — farthest-first seeding: each round's min-distance frame
    * over the previous chosen set, argmax via the same (md DESC,
    * vec_id) total order as the Spark negated-id struct-max. */
  val embKcenterInit: String = {
    def l2r(a: String, b: String) =
      s"""round(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
         |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (p, q) -> p + q), 6)""".stripMargin
    val rounds = (1 until Similarity.KcK).map { r =>
      s"""m$r AS (SELECT e.vec_id, min(${l2r("e.v", "c.cv")}) AS md
         |  FROM e, c${r - 1} c GROUP BY e.vec_id),
         |n$r AS (SELECT vec_id, md FROM m$r ORDER BY md DESC, vec_id LIMIT 1),
         |c$r AS (SELECT cid, cv, rnd, sel_d FROM c${r - 1}
         |  UNION ALL SELECT e.vec_id, e.v, $r, n.md
         |  FROM e JOIN n$r n USING (vec_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $eCte,
       |c0 AS (SELECT vec_id AS cid, v AS cv, 0 AS rnd,
       |    CAST(NULL AS DOUBLE) AS sel_d
       |  FROM e WHERE vec_id = 0),
       |$rounds
       |SELECT CAST(rnd AS BIGINT) AS rnd, CAST(cid AS BIGINT) AS cid, sel_d
       |FROM c${Similarity.KcK - 1}""".stripMargin
  }

  /** #emb_kmeans_train — the full training trajectory unrolled: the
    * embKcenterInit rounds build the K seeds (cid = pick order), then
    * KmTrainIters MATERIALIZED Lloyd stages — per-vector argmin via the
    * rounded-L2 row_number (ties by cid, the engine's struct-min), mean
    * update through the fixed-point grid with the sum cast BIGINT
    * before DOUBLE (HUGEINT→DOUBLE is not correctly rounded; BIGINT is,
    * and Σ floor(x·2^40) over any realistic slice fits), division
    * parenthesized exactly as the engine ((sf / S) / n), empty clusters
    * keep their centroid via the LEFT JOIN fallback. shift folds the
    * squared centroid movement left-to-right over dims, round 6 —
    * DuckDB round = half away from zero = the driver's HALF_UP on the
    * non-negative shifts. */
  val embKmeansTrain: String = {
    import graft.operators.Similarity.{KcK, KmTrainIters, KmTrainEps, KmFixScale}
    def l2(a: String, b: String) =
      s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
         |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (p, q) -> p + q)""".stripMargin
    val kcRounds = (1 until KcK).map { r =>
      s"""km$r AS (SELECT e.vec_id, min(round(${l2("e.v", "c.cv")}, 6)) AS md
         |  FROM e, kc${r - 1} c GROUP BY e.vec_id),
         |kn$r AS (SELECT vec_id FROM km$r ORDER BY md DESC, vec_id LIMIT 1),
         |kc$r AS (SELECT cid, cv FROM kc${r - 1}
         |  UNION ALL SELECT $r, e.v FROM e JOIN kn$r n USING (vec_id))""".stripMargin
    }.mkString(",\n")
    val iters = (1 to KmTrainIters).map { t =>
      s"""a$t AS MATERIALIZED (SELECT vec_id, v, cid, du FROM (
         |    SELECT e.vec_id, e.v, c.cid, ${l2("e.v", "c.cv")} AS du,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${l2("e.v", "c.cv")}, 6), c.cid) AS rn
         |    FROM e, ci${t - 1} c) WHERE rn = 1),
         |st$t AS MATERIALIZED (SELECT cid, CAST(count(*) AS BIGINT) AS n,
         |    CAST(CAST(sum(CAST(floor(du * $KmFixScale) AS BIGINT)) AS BIGINT)
         |      AS DOUBLE) / $KmFixScale AS sse
         |  FROM a$t GROUP BY cid),
         |dm$t AS (SELECT cid, dim,
         |    (CAST(CAST(sum(CAST(floor(v[dim] * $KmFixScale) AS BIGINT)) AS BIGINT)
         |      AS DOUBLE) / $KmFixScale) / CAST(count(*) AS DOUBLE) AS mc
         |  FROM a$t, (SELECT unnest(generate_series(1, 64)) AS dim)
         |  GROUP BY cid, dim),
         |nc$t AS (SELECT cid, list(mc ORDER BY dim) AS cv FROM dm$t GROUP BY cid),
         |ci$t AS MATERIALIZED (SELECT p.cid, coalesce(n.cv, p.cv) AS cv
         |  FROM ci${t - 1} p LEFT JOIN nc$t n USING (cid)),
         |sh$t AS (SELECT p.cid, round(${l2("n.cv", "p.cv")}, 6) AS shift
         |  FROM ci${t - 1} p JOIN ci$t n USING (cid))""".stripMargin
    }.mkString(",\n")
    val selects = (1 to KmTrainIters).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS iter, CAST(k.cid AS BIGINT) AS cid,
         |  coalesce(st.n, 0) AS n_members, coalesce(st.sse, 0.0) AS sse,
         |  sh.shift
         |FROM ci0 k LEFT JOIN st$t st USING (cid) JOIN sh$t sh ON sh.cid = k.cid""".stripMargin
    }.mkString("\nUNION ALL\n")
    // the ε-stop mirrored: the stopping iteration is the first whose
    // MAX rounded shift is ≤ KmTrainEps (else the cap); stages past it
    // compute but filter out — Lloyd is deterministic, so the kept
    // prefix is identical to an engine that never ran them
    val maxShifts = (1 to KmTrainIters).map(t =>
      s"SELECT $t AS t, max(shift) AS m FROM sh$t").mkString("\n  UNION ALL ")
    s"""WITH $eCte,
       |kc0 AS (SELECT 0 AS cid, v AS cv FROM e WHERE vec_id = 0),
       |$kcRounds,
       |ci0 AS MATERIALIZED (SELECT cid, cv FROM kc${KcK - 1}),
       |$iters,
       |stopi AS (SELECT coalesce(min(CASE WHEN m <= $KmTrainEps THEN t END),
       |    $KmTrainIters) AS si
       |  FROM ($maxShifts))
       |SELECT * FROM (
       |$selects
       |) WHERE iter <= (SELECT si FROM stopi)""".stripMargin
  }

  /** #134 — PQ distortion: the same encode CTEs (rounded argmin picks
    * the code), the UNROUNDED squared-error fold at the chosen code
    * floored onto the fixed-point grid, per-subspace exact sums +
    * double-selection max, divisions mirrored. */
  val embPqDistortion: String = {
    import graft.operators.PqIndex.{Subs, SubDim, K}
    def fold(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, $SubDim),
         |    i -> ($a[s.sub * $SubDim + i] - $b[s.sub * $SubDim + i])
         |       * ($a[s.sub * $SubDim + i] - $b[s.sub * $SubDim + i]))),
         |  (p, q) -> p + q)""".stripMargin
    s"""WITH $eCte,
       |cb AS (SELECT vec_id AS k, v FROM e WHERE vec_id < $K),
       |subs AS (SELECT unnest(generate_series(0, ${Subs - 1})) AS sub),
       |enc AS (SELECT e.vec_id, s.sub, cb.k, round(${fold("e.v", "cb.v")}, 6) AS d,
       |    ${fold("e.v", "cb.v")} AS du
       |  FROM e, subs s, cb),
       |codes AS (SELECT vec_id, sub, du FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, k) AS rn
       |    FROM enc) WHERE rn = 1),
       |f AS (SELECT sub, count(*) AS n,
       |    CAST(sum(CAST(floor(du * ${graft.operators.Similarity.KmFixScale}) AS BIGINT)) AS HUGEINT)
       |      AS sf,
       |    max(du) AS mx
       |  FROM codes GROUP BY 1)
       |SELECT CAST(sub AS BIGINT) AS sub, n AS n_vecs,
       |  (CAST(sf AS DOUBLE) / ${graft.operators.Similarity.KmFixScale}) / n AS mse,
       |  mx AS max_sse
       |FROM f""".stripMargin
  }

  /** #105 — IVF-PQ (IVFADC) top-10: the annIvfTopk coarse machinery
    * (per-label centroids, rounded-cosine assignment and probe) feeding
    * the annPqTopk machinery over RESIDUALS (v − cell centroid): encode
    * argmin by rounded subspace distance (row_number ORDER BY d, k ↔
    * the Spark strict-< fold), per-probed-cell LUT from the query
    * residual, ADC terms summed in the same parenthesized order, exact
    * re-rank of the shortlist. Cell pruning is the inner join against
    * the NProbe-row probe CTE, exactly as the Spark broadcast join. */
  val annIvfPqTopk: String = {
    import graft.operators.PqIndex.{Subs, SubDim, K}
    import graft.operators.IvfPqIndex.NProbe
    def fold(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, $SubDim),
         |    i -> ($a[s.sub * $SubDim + i] - $b[s.sub * $SubDim + i])
         |       * ($a[s.sub * $SubDim + i] - $b[s.sub * $SubDim + i]))),
         |  (p, q) -> p + q)""".stripMargin
    val pivots = (0 until Subs)
      .map(su => s"max(CASE WHEN c.sub = $su THEN l.d END) AS d$su").mkString(", ")
    val total = (0 until Subs).map(su => s"d$su").reduce((a, b) => s"($a + $b)")
    s"""WITH $eCte,
       |byd AS (SELECT clabel, j, sum(x) / count(*) AS m FROM (
       |    SELECT label AS clabel, unnest(generate_series(1, 64)) AS j, unnest(v) AS x FROM e)
       |  GROUP BY 1, 2),
       |cvt AS (SELECT clabel, list(m ORDER BY j) AS cv FROM byd GROUP BY clabel),
       |assigned AS (SELECT vec_id, v, clabel FROM (
       |  SELECT e.vec_id, e.v, cvt.clabel,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${rcosSafe("e.v", "cvt.cv")} DESC, cvt.clabel) AS rn
       |  FROM e, cvt) WHERE rn = 1),
       |resid AS (SELECT a.vec_id, a.clabel,
       |    list_transform(generate_series(1, 64), i -> a.v[i] - cvt.cv[i]) AS r
       |  FROM assigned a JOIN cvt ON a.clabel = cvt.clabel),
       |rcb AS (SELECT vec_id AS k, r FROM resid WHERE vec_id < $K),
       |subs AS (SELECT unnest(generate_series(0, ${Subs - 1})) AS sub),
       |enc AS (SELECT resid.vec_id, s.sub, rcb.k, round(${fold("resid.r", "rcb.r")}, 6) AS d
       |  FROM resid, subs s, rcb),
       |codes AS (SELECT enc.vec_id, enc.sub, enc.k AS code, resid.clabel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, k) AS rn
       |    FROM enc) enc JOIN resid ON enc.vec_id = resid.vec_id WHERE enc.rn = 1),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |probe AS (SELECT clabel, cv FROM cvt, q
       |  ORDER BY round(${cos("cvt.cv", "q.qv")}, 6) DESC, cvt.clabel LIMIT $NProbe),
       |qr AS (SELECT probe.clabel,
       |    list_transform(generate_series(1, 64), i -> qv[i] - cv[i]) AS r
       |  FROM probe, q),
       |lut AS (SELECT qr.clabel, s.sub, rcb.k AS code, ${fold("qr.r", "rcb.r")} AS d
       |  FROM qr, subs s, rcb),
       |adc AS (SELECT c.vec_id, $pivots
       |  FROM codes c JOIN lut l ON l.clabel = c.clabel AND l.sub = c.sub AND l.code = c.code
       |  WHERE c.vec_id <> 0 GROUP BY 1),
       |short AS (SELECT vec_id FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY $total, vec_id) AS rn
       |    FROM adc) WHERE rn <= ${graft.operators.PqIndex.Shortlist}),
       |rr AS (SELECT e.vec_id,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
       |      i -> (e.v[i] - qv[i]) * (e.v[i] - qv[i]))), (p, q) -> p + q) AS d
       |  FROM e JOIN short USING (vec_id), q)
       |SELECT vec_id, row_number() OVER (ORDER BY d, vec_id) AS rnk
       |FROM rr ORDER BY rnk LIMIT 10""".stripMargin
  }

  val textRollingHash: String =
    s"""WITH $toksCte
       |SELECT doc_id,
       |  list_reduce(list_prepend(0, list_transform(t,
       |    w -> ('0x' || substr(md5(w), 1, 8))::BIGINT)),
       |    (acc, h) -> (acc * ${TextOps.RollB} + h) % ${TextOps.RollP}) AS rhash
       |FROM toks""".stripMargin

  val textBigrams: String =
    s"""WITH $toksCte,
       |big AS (SELECT t[i] || ' ' || t[i+1] AS bigram
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
       |        FROM toks WHERE len(t) >= 2))
       |SELECT bigram, count(*) AS cnt FROM big
       |GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin

  /** #text_bigram_lift — collocations by lift (log-free PMI): unigram
    * + bigram counts off the shared token CTE, totals as scalar
    * subqueries, the identical three-division chain, min-support cut,
    * top-20 by (lift DESC, bigram). */
  val textBigramLift: String =
    s"""WITH $toksCte,
       |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
       |big AS (SELECT t[i] || ' ' || t[i+1] AS bigram,
       |    t[i] AS w1, t[i+1] AS w2
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
       |        FROM toks WHERE len(t) >= 2)),
       |bc AS (SELECT bigram, min(w1) AS w1, min(w2) AS w2,
       |    CAST(count(*) AS BIGINT) AS cab FROM big GROUP BY 1),
       |nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
       |nb AS (SELECT CAST(sum(cab) AS BIGINT) AS n_bi FROM bc)
       |SELECT b.bigram, b.cab, a.c AS ca, d.c AS cb,
       |  (((CAST(b.cab AS DOUBLE) / n_bi) / (CAST(a.c AS DOUBLE) / n_uni))
       |    / (CAST(d.c AS DOUBLE) / n_uni)) AS lift
       |FROM bc b JOIN uni a ON b.w1 = a.w
       |JOIN uni d ON b.w2 = d.w, nu, nb
       |WHERE b.cab >= ${TextOps.LiftMinSupport}
       |ORDER BY lift DESC, b.bigram LIMIT 20""".stripMargin

  val textTopTerm: String =
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
       |df AS (SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY 1)
       |SELECT doc_id, w AS top_term, tf, df FROM (
       |  SELECT tf.doc_id, tf.w, tf.tf, df.df,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.w) AS rn
       |  FROM tf JOIN df ON tf.w = df.w)
       |WHERE rn = 1""".stripMargin

  val textLangid: String = {
    val scores = TextOps.StopWords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      s"SELECT doc_id, '$lang' AS lang, len(list_filter(t, w -> w IN ($list))) AS sc FROM toks"
    }.mkString("\n  UNION ALL ")
    s"""WITH $toksCte,
       |sc AS ($scores)
       |SELECT doc_id, CASE WHEN sc = 0 THEN 'und' ELSE lang END AS pred_lang FROM (
       |  SELECT doc_id, lang, sc,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, lang DESC) AS rn
       |  FROM sc) WHERE rn = 1""".stripMargin
  }

  /** #131 — langid confusion matrix: the langid oracle nested as a CTE,
    * joined to the labeled column, one count. */
  val textLangConfusion: String =
    s"""WITH L AS ($textLangid)
       |SELECT d.lang, l.pred_lang, count(*) AS n_docs
       |FROM L l JOIN documents d ON l.doc_id = d.doc_id
       |GROUP BY 1, 2""".stripMargin

  val textQuality: String = {
    val en = TextOps.StopWords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH $toksCte
       |SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
       |  CAST(len(list_filter(t, w -> w IN ($en))) AS BIGINT) AS n_stop,
       |  CAST(len(list_filter(t, w -> w IN ($en))) AS DOUBLE) / len(t) AS stop_ratio,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
       |    / length(text) AS punct_ratio,
       |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(t) AS mean_tok_len
       |FROM documents d JOIN toks ON d.doc_id = toks.doc_id""".stripMargin
  }

  val textTokens: String =
    s"""WITH $toksCte
       |SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
       |  CAST(len(list_filter(t, x -> length(x) > 5)) AS BIGINT) AS n_long,
       |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace_chars,
       |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)
       |    AS n_bpe_pieces
       |FROM documents d JOIN toks ON d.doc_id = toks.doc_id""".stripMargin

  val textFingerprint: String =
    s"""WITH $toksCte
       |SELECT doc_id, md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp
       |FROM toks""".stripMargin

  /** #87 — trigram repetition ratio; short docs (< 3 tokens) have zero
    * trigrams and ratio 0.0 by definition. */
  val textRepetition: String =
    s"""WITH $toksCte,
       |idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
       |  FROM toks WHERE len(t) >= 3),
       |tri AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g FROM idx),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct FROM tri GROUP BY doc_id)
       |SELECT doc_id, n_trigrams, n_distinct,
       |  CAST(n_trigrams - n_distinct AS DOUBLE) / n_trigrams AS rep_ratio FROM agg
       |UNION ALL
       |SELECT doc_id, CAST(0 AS BIGINT) AS n_trigrams,
       |  CAST(0 AS BIGINT) AS n_distinct, CAST(0.0 AS DOUBLE) AS rep_ratio
       |FROM toks WHERE len(t) < 3""".stripMargin

  /** #85 — sequence packing: prefix sum of token counts in doc_id
    * order, cut into fixed token-budget bins (same constants as
    * TextOps.docPackBins). SUM OVER returns HUGEINT → cast. */
  val docPackBins: String = {
    val b = TextOps.PackBudget
    s"""WITH $toksCte,
       |tok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
       |pre AS (SELECT doc_id, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum0
       |  FROM tok)
       |SELECT doc_id, n_tokens, cum0 // $b AS bin_id, cum0 % $b AS bin_offset
       |FROM pre""".stripMargin
  }

  /** #86 — PII scrub: email mask then long-digit-run mask, counts via
    * regexp_extract_all (same non-overlapping match semantics as
    * Spark's regexp_count). Shares TextOps.EmailRe so the pattern
    * can't drift. */
  val textScrubPii: String = {
    val re = TextOps.EmailRe
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(
       |    regexp_replace(text, '$re', '<EMAIL>', 'g'), '[0-9]{7,}')) AS BIGINT)
       |    AS n_ids,
       |  md5(regexp_replace(regexp_replace(text, '$re', '<EMAIL>', 'g'),
       |    '[0-9]{7,}', '<ID>', 'g')) AS clean_md5
       |FROM documents""".stripMargin
  }

  // Byte-based on BOTH sides: DuckDB hex(text) is the hex of the UTF-8
  // bytes, so first-byte arithmetic matches Spark's binary payload even
  // for non-ASCII content (strlen is already byte length in DuckDB).
  val mmBinaryMeta: String =
    """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  substr(md5(text), 1, 8) AS content_id,
      |  CAST(strlen(text) % 640 AS BIGINT) AS width,
      |  CAST((fb * 3) % 480 AS BIGINT) AS height,
      |  CAST(224 AS BIGINT) AS resize_w,
      |  CAST(((fb * 3) % 480 * 224) // (strlen(text) % 640 + 1) AS BIGINT) AS resize_h
      |FROM (SELECT *, CASE WHEN strlen(text) = 0 THEN 0
      |    ELSE ('0x' || substr(hex(text), 1, 2))::BIGINT END AS fb
      |  FROM documents)""".stripMargin

  val mmFrameSample: String =
    """SELECT doc_id, frame_no FROM (
      |  SELECT doc_id, unnest(generate_series(0, n_chars // 200)) AS frame_no
      |  FROM documents) WHERE frame_no % 3 = 0""".stripMargin

  // Byte-based: sums the first 16 UTF-8 BYTES (via hex pairs), matching
  // Spark's bytes.take(16) checksum for any content, not just ASCII.
  val mmDecodeStub: String =
    """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
      |  CAST(CASE WHEN strlen(text) = 0 THEN 0
      |    ELSE ('0x' || substr(hex(text), 1, 2))::BIGINT END AS BIGINT) AS first_byte,
      |  CAST(coalesce(list_sum(list_transform(
      |    generate_series(1, least(16, strlen(text))),
      |    i -> ('0x' || substr(hex(text), 2*i-1, 2))::BIGINT)), 0) AS BIGINT) AS checksum16
      |FROM documents""".stripMargin

  /** #102 — payload phash pairs: the identical byte-4-gram SimHash
    * (hex windows, md5-prefix bits) and byte-block pair mining. DuckDB
    * hex(text) is the hex of the UTF-8 bytes, matching Spark's binary
    * payload hex. */
  /** #216 — CDC chunk dedup: identical stride-1 window hash, mod-grid
    * cuts, sentinel bounds, lead spans and hex-substring chunk md5. */
  /** The CDC span/chunk CTE chain (hx → bytes → cuts → bounds → spans
    * → chunks) — ONE definition shared by #216 and #219 so a boundary
    * or hash change can never reach one oracle and not the other. */
  private val mmCdcSpanCtes: String = {
    val m = graft.operators.Multimodal.CdcMod
    s"""hx AS (SELECT doc_id, hex(text) AS hx,
       |    CAST(strlen(text) AS BIGINT) AS nb
       |  FROM documents WHERE strlen(text) >= 8),
       |by AS (SELECT doc_id, nb,
       |    list_transform(generate_series(1, CAST(nb AS INTEGER)),
       |      i -> ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT) AS bytes
       |  FROM hx WHERE nb >= 9),
       |cuts AS (SELECT doc_id, p FROM (
       |    SELECT doc_id, unnest(generate_series(2, nb - 7)) AS p, bytes FROM by)
       |  WHERE list_reduce(list_prepend(0, bytes[CAST(p AS INTEGER):CAST(p + 7 AS INTEGER)]),
       |    (acc, x) -> (acc * ${TextOps.RollB} + x) % ${TextOps.RollP}) % $m = 0),
       |bounds AS (SELECT doc_id, p FROM cuts
       |  UNION SELECT doc_id, 1 FROM hx
       |  UNION SELECT doc_id, nb + 1 FROM hx),
       |spans AS (SELECT doc_id, p,
       |    lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS q FROM bounds),
       |chunks AS (SELECT s.doc_id, s.q - s.p AS len,
       |    md5(substr(h.hx, CAST(2 * s.p - 1 AS INTEGER),
       |      CAST(2 * (s.q - s.p) AS INTEGER))) AS chunk_md5
       |  FROM spans s JOIN hx h USING (doc_id) WHERE s.q IS NOT NULL)""".stripMargin
  }

  val mmCdcChunks: String =
    s"""WITH $mmCdcSpanCtes
       |SELECT chunk_md5, count(*) AS n_copies,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_blobs,
       |  min(len) AS chunk_bytes, min(doc_id) AS keep_doc_id
       |FROM chunks GROUP BY 1 HAVING count(*) >= 2""".stripMargin

  /** #219 — incremental CDC: the new batch's chunks probed against the
    * DISTINCT chunk hashes of the old side, per-blob dedupable-byte
    * report. */
  val mmCdcIncremental: String =
    s"""WITH $mmCdcSpanCtes,
       |old AS (SELECT DISTINCT chunk_md5 FROM chunks
       |  WHERE doc_id % ${Dedup.IncrMod} <> ${Dedup.IncrRem}),
       |nw AS (SELECT * FROM chunks
       |  WHERE doc_id % ${Dedup.IncrMod} = ${Dedup.IncrRem})
       |SELECT nw.doc_id AS new_doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN o.chunk_md5 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_dup_chunks,
       |  CAST(sum(CASE WHEN o.chunk_md5 IS NULL THEN 0 ELSE nw.len END) AS BIGINT)
       |    AS dup_bytes
       |FROM nw LEFT JOIN old o ON o.chunk_md5 = nw.chunk_md5
       |GROUP BY 1""".stripMargin

  /** Window-SimHash fingerprinting (win/th/bits/ph) + byte-pigeonhole
    * banding and candidates over `documents` — ONE definition shared by
    * the mm pair miner and its capped form, so a fingerprint or banding
    * change can never reach one oracle and not the other. */
  /** The phash fingerprint chain alone (window hashes → bit sums →
    * 32-bit SimHash) — shared by the pair miners and the #257 distance
    * histogram; mirrors Multimodal.phashesOf. */
  private val mmPhashFpCtes: String = {
    val bitSums = (0 until 32)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val simExpr = (0 until 32)
      .map(b => s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""win AS (SELECT doc_id,
       |    substr(hex(text), 2 * i - 1, 16) AS w
       |  FROM (SELECT doc_id, text, unnest(generate_series(1, strlen(text) - 7, 4)) AS i
       |        FROM documents WHERE strlen(text) >= 8)),
       |th AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM win),
       |bits AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
       |ph AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS phash FROM bits)""".stripMargin
  }

  private val mmPhashCandCtes: String = {
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, phash, $b AS band, (phash >> ${8 * b}) & 255 AS byte FROM ph")
      .mkString("\n  UNION ALL ")
    s"""$mmPhashFpCtes,
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_id1, y.doc_id AS doc_id2,
       |    x.phash AS p1, y.phash AS p2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.byte = y.byte AND x.doc_id < y.doc_id)""".stripMargin
  }

  val mmPhashPairs: String =
    s"""WITH $mmPhashCandCtes
       |SELECT doc_id1, doc_id2, CAST(bit_count(xor(p1, p2)) AS BIGINT) AS ham
       |FROM cand WHERE bit_count(xor(p1, p2)) <= ${graft.operators.Multimodal.PhashMaxHam}""".stripMargin

  /** #257 — phash hamming histogram: the shared fingerprint chain +
    * the three stride self-joins (semantics identical to the engine's
    * one-scan role explode) + the (stride, ham) rollup. */
  val mmPhashHist: String = {
    val pairSelects = graft.operators.Multimodal.PhashHistStrides.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS stride, a.phash AS pa, b.phash AS pb
         |  FROM ph a JOIN ph b ON b.doc_id = a.doc_id + $d""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH $mmPhashFpCtes,
       |p AS ($pairSelects)
       |SELECT stride, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS ham,
       |  CAST(count(*) AS BIGINT) AS cnt
       |FROM p GROUP BY 1, 2""".stripMargin
  }

  /** #256 — IVF cell purity: the assignment fixpoint re-derived from
    * raw embeddings, per-(cell, label) counts, majority by
    * (cnt desc, label asc). */
  val embIvfPurity: String =
    s"""WITH $eCte,
       |$ivfAssignedCtes,
       |al AS (SELECT CAST(a.assigned_label AS BIGINT) AS cell,
       |    CAST(e2.label AS BIGINT) AS lbl
       |  FROM assigned a JOIN e e2 USING (vec_id)),
       |pc AS (SELECT cell, lbl, CAST(count(*) AS BIGINT) AS cnt
       |  FROM al GROUP BY 1, 2),
       |tot AS (SELECT cell, CAST(sum(cnt) AS BIGINT) AS n_vecs
       |  FROM pc GROUP BY 1),
       |maj AS (SELECT cell, lbl AS majority_label, cnt AS majority_n FROM (
       |    SELECT cell, lbl, cnt, row_number() OVER (PARTITION BY cell
       |      ORDER BY cnt DESC, lbl) AS rn FROM pc) WHERE rn = 1)
       |SELECT t.cell, n_vecs, majority_label, majority_n,
       |  CAST(majority_n AS DOUBLE) / n_vecs AS purity
       |FROM tot t JOIN maj USING (cell)""".stripMargin

  /** #209 — bloom-prefiltered incremental exact dedup: the bloom is a
    * PREFILTER with no false negatives and verify-eliminated false
    * positives, so the engine's output equals the plain new×old exact
    * content-hash join — which is exactly what the oracle runs. */
  val dedupBloomIncremental: String =
    s"""SELECT n.doc_id AS new_doc_id, min(o.doc_id) AS keep_doc_id
       |FROM documents n JOIN documents o
       |  ON md5(substr(n.text, 1, 64)) = md5(substr(o.text, 1, 64))
       |WHERE n.doc_id % ${Dedup.IncrMod} = ${Dedup.IncrRem}
       |  AND o.doc_id % ${Dedup.IncrMod} <> ${Dedup.IncrRem}
       |GROUP BY n.doc_id""".stripMargin

  /** #208 — capped phash pairs: the mmPhashPairs mining with the
    * per-doc (hamming asc, nbr asc) rank cap over the symmetrized
    * verified pairs — the dedupSimhashPairsCapped shape on the media
    * fingerprints. */
  val mmPhashPairsCapped: String =
    s"""WITH $mmPhashCandCtes,
       |pairs AS (SELECT doc_id1, doc_id2,
       |    CAST(bit_count(xor(p1, p2)) AS BIGINT) AS ham
       |  FROM cand WHERE bit_count(xor(p1, p2)) <= ${graft.operators.Multimodal.PhashMaxHam}),
       |sym AS (SELECT doc_id1 AS doc_id, doc_id2 AS nbr_id, ham FROM pairs
       |  UNION ALL SELECT doc_id2, doc_id1, ham FROM pairs)
       |SELECT doc_id, rnk, nbr_id, ham FROM (
       |  SELECT doc_id, nbr_id, ham, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY ham, nbr_id) AS rnk FROM sym)
       |WHERE rnk <= ${Dedup.PairCapM}""".stripMargin

  /** #110 — incremental payload near-dup: the mm_phash machinery with
    * the pigeonhole join restricted to new×old (doc_id mod IncrMod —
    * the dedup_incremental batch slice), which is exactly what the
    * Spark side reaches by fingerprinting only the new batch and
    * probing the staged store for the old side. */
  /** #133 — media dup clusters: the phash pair query nested as a CTE,
    * then the same recursive min-reachable-id closure as dedupCluster. */
  val mmPhashClusters: String =
    s"""WITH RECURSIVE pairs AS ($mmPhashPairs),
       |edges AS (SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
       |  UNION ALL SELECT doc_id2, doc_id1 FROM pairs),
       |reach(a, r) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.a = e.b)
       |SELECT a AS doc_id, min(r) AS cluster_id,
       |  CAST(a = min(r) AS INTEGER) AS keep
       |FROM reach GROUP BY a""".stripMargin

  val mmPhashIncremental: String = {
    val bitSums = (0 until 32)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(", ")
    val simExpr = (0 until 32)
      .map(b => s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, phash, $b AS band, (phash >> ${8 * b}) & 255 AS byte FROM ph")
      .mkString("\n  UNION ALL ")
    s"""WITH win AS (SELECT doc_id,
       |    substr(hex(text), 2 * i - 1, 16) AS w
       |  FROM (SELECT doc_id, text, unnest(generate_series(1, strlen(text) - 7, 4)) AS i
       |        FROM documents WHERE strlen(text) >= 8)),
       |th AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM win),
       |bits AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
       |ph AS (SELECT doc_id, CAST($simExpr AS BIGINT) AS phash FROM bits),
       |bands AS ($bandSelects)
       |SELECT DISTINCT x.doc_id AS new_doc_id, y.doc_id AS old_doc_id,
       |  CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS ham
       |FROM bands x JOIN bands y ON x.band = y.band AND x.byte = y.byte
       |WHERE x.doc_id % ${Dedup.IncrMod} = ${Dedup.IncrRem}
       |  AND y.doc_id % ${Dedup.IncrMod} <> ${Dedup.IncrRem}
       |  AND bit_count(xor(x.phash, y.phash)) <= ${graft.operators.Multimodal.PhashMaxHam}""".stripMargin
  }

  /** #181 — phash precision: the pair-mining query nested as a CTE,
    * exact truth via one md5 join, mirrored division. */
  val mmPhashPrecision: String =
    s"""WITH pp AS ($mmPhashPairs),
       |h AS (SELECT doc_id, md5(text) AS h FROM documents)
       |SELECT pp.ham, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |  CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
       |    AS precision
       |FROM pp JOIN h a ON a.doc_id = pp.doc_id1
       |JOIN h b ON b.doc_id = pp.doc_id2
       |GROUP BY pp.ham""".stripMargin

  /** #211 — windowed top-k heavy hitters: per-hour per-user counts,
    * then the closed-window (cnt desc, user_id) rank capped at k. */
  val streamTopk: String =
    s"""WITH c AS (SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       |    user_id, count(*) AS cnt FROM events GROUP BY 1, 2)
       |SELECT window_start_us, rnk, user_id, cnt FROM (
       |  SELECT *, row_number() OVER (PARTITION BY window_start_us
       |    ORDER BY cnt DESC, user_id) AS rnk FROM c)
       |WHERE rnk <= ${graft.streaming.StreamOps.TopK}""".stripMargin

  /** #215 — streaming anomaly flags: the ts_zscore stats restricted to
    * the historical slice, the flag pass restricted to arrivals, same
    * exact decimal grid and division chain. */
  val streamAnomaly: String = {
    val cut = graft.streaming.StreamOps.AnomalyCutoverUs
    s"""WITH st AS (
       |  SELECT user_id, count(*) AS n,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
       |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
       |      AS DOUBLE) / count(*) AS msq
       |  FROM events WHERE epoch_us(ts) < $cut GROUP BY 1)
       |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, e.value,
       |  (e.value - st.mean) / sqrt(st.msq - st.mean * st.mean) AS z_score
       |FROM events e JOIN st USING (user_id)
       |WHERE epoch_us(e.ts) >= $cut
       |  AND st.n >= 2 AND st.msq - st.mean * st.mean > 0
       |  AND abs((e.value - st.mean) / sqrt(st.msq - st.mean * st.mean)) > 2.5""".stripMargin
  }

  /** #213 — deterministic reservoir: the md5-of-id rank windowed per
    * (key, day), event_id trailing for a total order. */
  val tsSampleReservoir: String =
    s"""SELECT user_id, day_us, rnk, event_id, value FROM (
       |  SELECT user_id, epoch_us(date_trunc('day', ts)) AS day_us,
       |    event_id, value,
       |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
       |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rnk
       |  FROM events)
       |WHERE rnk <= ${TimeSeriesOps.ReservoirK}""".stripMargin

  val streamTumbling: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
      |  count(*) AS cnt,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** #151 — cross-metric correlation: the hourly count frame completed
    * over the spine (missing hours = 0), the lag shift as the same
    * shifted-hour equi-join, and the ts_autocorr closed form over exact
    * HUGEINT sums, division chain mirrored verbatim. */
  val tsCrossCorr: String =
    """WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
      |    count(*) AS cnt FROM events GROUP BY 1, 2),
      |sp AS (SELECT unnest(generate_series((SELECT min(hour_us) FROM h),
      |    (SELECT max(hour_us) FROM h), 3600000000)) AS hour_us),
      |t AS (SELECT DISTINCT event_type FROM h),
      |f AS (SELECT t.event_type, sp.hour_us,
      |    CAST(coalesce(hh.cnt, 0) AS HUGEINT) AS c
      |  FROM sp CROSS JOIN t
      |  LEFT JOIN h hh ON hh.event_type = t.event_type AND hh.hour_us = sp.hour_us),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, l.lg,
      |    a.c AS x, b.c AS y
      |  FROM f a CROSS JOIN (SELECT unnest([0, 1]) AS lg) l
      |  JOIN f b ON b.hour_us = a.hour_us - l.lg * 3600000000
      |  WHERE a.event_type < b.event_type)
      |SELECT type_a, type_b, CAST(lg AS BIGINT) AS lag_h,
      |  CAST(count(*) AS BIGINT) AS n_hours,
      |  CASE WHEN count(*) * sum(x*x) - sum(x) * sum(x) = 0
      |         OR count(*) * sum(y*y) - sum(y) * sum(y) = 0 THEN NULL
      |    ELSE CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS DOUBLE) /
      |      (sqrt(CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS DOUBLE)) *
      |       sqrt(CAST(count(*) * sum(y*y) - sum(y) * sum(y) AS DOUBLE)))
      |  END AS xcorr
      |FROM p GROUP BY 1, 2, 3""".stripMargin

  /** #152 — BPE merge-count step: word counts over the shared token
    * CTE, adjacent char pairs via generate_series + substr (both
    * engines are 1-based character semantics), integer sums, the same
    * (cnt DESC, pair) total order at the top-20 cut. */
  val textBpeMerge: String =
    s"""WITH $toksCte,
       |w AS (SELECT unnest(t) AS w FROM toks),
       |wc AS (SELECT w, count(*) AS wc FROM w GROUP BY 1),
       |p AS (SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wc
       |  FROM (SELECT w, wc, unnest(generate_series(1, len(w) - 1)) AS i
       |        FROM wc WHERE len(w) >= 2))
       |SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt FROM p GROUP BY 1
       |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin

  /** #224 — BPE apply: the #152 learning CTEs feed a 20-row priority
    * merge table; the apply iterates it via a recursive CTE whose step
    * is the SAME sentinel string replace the engine runs (left-to-right
    * non-overlapping; chr(57344 + i) = the engine's 0xE000 + i
    * private-use sentinels), over the distinct-word vocab; the final
    * report re-joins per-doc word occurrences and sources. */
  /** Shared CTE chain of the two BPE-encoding consumers (#153 apply,
    * #253 fertility): word frame, merge-table learning, recursive
    * replace fold, per-word encoded symbol count with the sentinel
    * guard — mirrors TextOps.bpeEncodedVocab, ONE definition. */
  private val bpeNsymCtes: String = {
    val m = graft.operators.TextOps.BpeMerges
    s"""$toksCte,
       |w AS (SELECT doc_id, unnest(t) AS w FROM toks),
       |wc AS (SELECT w AS wd, count(*) AS wc FROM w GROUP BY 1),
       |p AS (SELECT substr(wd, CAST(i AS INTEGER), 2) AS pair, wc
       |  FROM (SELECT wd, wc, unnest(generate_series(1, len(wd) - 1)) AS i
       |        FROM wc WHERE len(wd) >= 2)),
       |top AS (SELECT pair, sum(wc) AS cnt FROM p GROUP BY 1
       |  ORDER BY cnt DESC, pair LIMIT $m),
       |mt AS (SELECT pair, row_number() OVER (ORDER BY cnt DESC, pair) AS mi FROM top),
       |vocab AS (SELECT DISTINCT w AS wd FROM w),
       |ap(w0, wd, mi) AS (
       |  SELECT wd, wd, 0 FROM vocab
       |  UNION ALL
       |  SELECT a.w0, replace(a.wd, m.pair,
       |    chr(CAST(57344 + m.mi - 1 AS INTEGER))), m.mi
       |  FROM ap a JOIN mt m ON m.mi = a.mi + 1),
       |nsym AS (SELECT w0, CAST(CASE WHEN regexp_matches(w0, '[\\x{E000}-\\x{E01F}]')
       |    THEN length(w0) ELSE length(wd) END AS BIGINT) AS nb
       |  FROM ap WHERE mi = $m)""".stripMargin
  }

  val textBpeApply: String =
    s"""WITH RECURSIVE $bpeNsymCtes
       |SELECT d.source, CAST(count(DISTINCT w.doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS ws_tokens,
       |  CAST(sum(nb) AS BIGINT) AS bpe_tokens,
       |  CAST(count(*) AS DOUBLE) / count(DISTINCT w.doc_id) AS ws_per_doc,
       |  CAST(sum(nb) AS DOUBLE) / count(DISTINCT w.doc_id) AS bpe_per_doc
       |FROM w JOIN nsym ON w.w = nsym.w0
       |JOIN documents d ON w.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin

  /** #253 — fertility by language: the same encoded vocab regrouped
    * by lang; unmerged = encoded length equals raw length. */
  val textBpeFertility: String =
    s"""WITH RECURSIVE $bpeNsymCtes
       |SELECT d.lang,
       |  CAST(count(*) AS BIGINT) AS ws_tokens,
       |  CAST(sum(nb) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(CASE WHEN nb = length(w.w) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unmerged,
       |  CAST(sum(nb) AS DOUBLE) / count(*) AS fertility,
       |  CAST(sum(CASE WHEN nb = length(w.w) THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS unmerged_share
       |FROM w JOIN nsym ON w.w = nsym.w0
       |JOIN documents d ON w.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin

  /** #text_bpe_train — iterated BPE training unrolled as N static SQL
    * stages (DuckDB recursive CTEs cannot aggregate over the recursive
    * table, so the fold is generated): stage r counts adjacent 2-char
    * pairs over vocab v(r-1), picks top-1 (cnt DESC, pair — the
    * engine's exact order), rewrites vr with the chr(57344+r-1)
    * sentinel (replace semantics agree: left-to-right non-overlapping)
    * and reports the weighted symbol count after the merge. `merged`
    * expands sentinels back in DESCENDING round order — round j's raw
    * pair only references sentinels < j, so one pass is complete. The
    * coalesce guard keeps a pair-exhausted stage a no-op (a NULL search
    * string would null the whole vocab) — the 3-char plane-15 filler
    * can never equal a 2-char pair. */
  val textBpeTrain: String = {
    val n = graft.operators.TextOps.BpeTrainRounds
    val stages = (1 to n).map { r =>
      val pv = s"v${r - 1}"
      s"""p$r AS (SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, wc
         |  FROM (SELECT w, wc, unnest(generate_series(1, len(w) - 1)) AS i FROM $pv)),
         |t$r AS MATERIALIZED (SELECT $r AS r, pair, CAST(sum(wc) AS BIGINT) AS cnt FROM p$r
         |  GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
         |v$r AS MATERIALIZED (SELECT replace(w, coalesce((SELECT pair FROM t$r),
         |    chr(983041) || chr(983041) || chr(983041)), chr(${57344 + r - 1})) AS w, wc FROM $pv),
         |s$r AS (SELECT CAST(sum(wc * len(w)) AS BIGINT) AS symbols FROM v$r)"""
    }.mkString(",\n")
    def mergedExpr(r: Int): String =
      (r - 1 to 1 by -1).foldLeft(s"(SELECT pair FROM t$r)")((acc, j) =>
        s"replace($acc, chr(${57344 + j - 1}), (SELECT pair FROM t$j))")
    val selects = (1 to n).map { r =>
      s"""SELECT CAST(r AS BIGINT) AS merge_round, pair,
         |  ${mergedExpr(r)} AS merged, cnt,
         |  (SELECT symbols FROM s$r) AS corpus_symbols FROM t$r"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $toksCte,
       |wx AS (SELECT unnest(t) AS w FROM toks),
       |v0 AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM wx
       |  WHERE NOT regexp_matches(w, '[\\x{E000}-\\x{E01F}]') GROUP BY 1),
       |$stages
       |$selects""".stripMargin
  }

  /** #172 — PQ code balance: the annPqTopk encode CTEs re-grouped by
    * (sub, code), the uniform-baseline division mirrored. */
  val embPqCodeBalance: String = {
    import graft.operators.PqIndex.{Subs, SubDim, K}
    def fold(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0, list_transform(generate_series(1, $SubDim),
         |    i -> ($a[s.sub * $SubDim + i] - $b[s.sub * $SubDim + i])
         |       * ($a[s.sub * $SubDim + i] - $b[s.sub * $SubDim + i]))),
         |  (p, q) -> p + q)""".stripMargin
    s"""WITH $eCte,
       |cb AS (SELECT vec_id AS k, v FROM e WHERE vec_id < $K),
       |subs AS (SELECT unnest(generate_series(0, ${Subs - 1})) AS sub),
       |enc AS (SELECT e.vec_id, s.sub, cb.k, round(${fold("e.v", "cb.v")}, 6) AS d
       |  FROM e, subs s, cb),
       |codes AS (SELECT vec_id, sub, k AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, k) AS rn
       |    FROM enc) WHERE rn = 1),
       |per AS (SELECT sub, code, count(*) AS n FROM codes GROUP BY 1, 2),
       |nn AS (SELECT count(*) AS n FROM e)
       |SELECT CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code,
       |  CAST(per.n AS BIGINT) AS n_vecs,
       |  CAST(per.n AS DOUBLE) / (CAST(nn.n AS DOUBLE) / $K) AS skew
       |FROM per, nn""".stripMargin
  }

  /** #174 — exact embedding dedup: the same fixed-point component
    * fingerprint (BIGINT string forms are identical cross-engine). */
  val embDupExact: String =
    s"""WITH $eCte
       |SELECT md5(array_to_string(list_transform(v,
       |    x -> CAST(CAST(floor(x * ${Similarity.KmFixScale}.0) AS BIGINT) AS VARCHAR)),
       |  ',')) AS sig,
       |  CAST(count(*) AS BIGINT) AS n_vecs, min(vec_id) AS keep_vec_id
       |FROM e GROUP BY 1""".stripMargin

  /** #175 — vocabulary overlap: distinct (source, word), word-keyed
    * pair counts, mirrored jaccard division. */
  val textVocabOverlap: String =
    s"""WITH $toksCte,
       |sv AS (SELECT DISTINCT d.source, w FROM toks
       |  JOIN documents d ON d.doc_id = toks.doc_id, unnest(t) AS u(w)),
       |sz AS (SELECT source, count(*) AS n FROM sv GROUP BY 1),
       |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS c
       |  FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, CAST(c AS BIGINT) AS c,
       |  CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb,
       |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
       |FROM p JOIN sz sa ON sa.source = p.source_a
       |JOIN sz sb ON sb.source = p.source_b""".stripMargin

  /** #176 — purchase-gap median: the doubled-integer order-statistic
    * selection at the two middle ranks, integer µs gaps, one final
    * /2.0 mirrored. */
  val qPurchaseGapMedian: String =
    """WITH g AS (SELECT user_id, ts_us, event_id,
      |    ts_us - lag(ts_us) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS g
      |  FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
      |        WHERE event_type = 'purchase')),
      |r AS (SELECT user_id, g,
      |    count(*) OVER (PARTITION BY user_id) AS n,
      |    row_number() OVER (PARTITION BY user_id ORDER BY g, ts_us) AS rn
      |  FROM g WHERE g IS NOT NULL)
      |SELECT user_id, CAST(max(n) AS BIGINT) AS n_gaps,
      |  CAST(sum(CASE WHEN n % 2 = 1 AND rn = (n + 1) // 2 THEN g * 2
      |    WHEN n % 2 = 0 AND (rn = n // 2 OR rn = n // 2 + 1) THEN g
      |    ELSE 0 END) AS BIGINT) AS med2_us,
      |  CAST(sum(CASE WHEN n % 2 = 1 AND rn = (n + 1) // 2 THEN g * 2
      |    WHEN n % 2 = 0 AND (rn = n // 2 OR rn = n // 2 + 1) THEN g
      |    ELSE 0 END) AS DOUBLE) / 2.0 AS med_us
      |FROM r GROUP BY user_id""".stripMargin

  /** #177 — weekday profile: pure integer (day + 3) mod 7 weekday,
    * decimal-exact mean chain mirrored. */
  val tsWeekdayProfile: String =
    """SELECT event_type,
      |  (epoch_us(ts) // 86400000000 + 3) % 7 AS dow,
      |  CAST(hour(ts) AS BIGINT) AS hod, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** #166 — lifecycle tiering: the SimpleTimestampReviewer state
    * machine as a list_reduce over rebased days (struct acc with
    * interval lists), classification via the same prefix-count
    * interval lookup. */
  val tsLifecycleTiers: String = {
    val r = graft.operators.TimeSeriesOps.TierRickDays
    val o = graft.operators.TimeSeriesOps.TierOutdateDays
    // Flat BIGINT[] accumulator [lc, lo, ob(-1 = none), s1, e1, s2, e2, …]:
    // DuckDB 1.0's list_reduce mis-threads STRUCT accumulators (each
    // field folds against the final value of the others), while flat
    // list accs fold correctly — so the state machine packs into one
    // list and the lambda is a single top-level CASE over the four
    // (compact? × outdate?) combinations.
    val comp = s"x[1] - acc[1] + 1 >= $r"
    val outd = s"x[1] - acc[2] + 1 >= $o"
    s"""WITH days AS (SELECT epoch_us(ts) // 86400000000 AS d, count(*) AS cnt
       |  FROM events GROUP BY 1),
       |d0t AS (SELECT min(d) AS d0 FROM days),
       |arr AS (SELECT d0, list(d - d0 ORDER BY d) AS ds FROM days, d0t GROUP BY d0),
       |stt AS (SELECT d0, list_reduce(
       |    list_prepend(CAST([0, 0, -1] AS BIGINT[]),
       |      list_transform(ds, d -> CAST([d] AS BIGINT[]))),
       |    (acc, x) -> CASE
       |      WHEN ($comp) AND ($outd) THEN list_concat(
       |        [x[1] + 1, acc[2] + $r, acc[2] + ${r - 1}],
       |        list_concat(acc[4:], [acc[1], x[1]]))
       |      WHEN $comp THEN list_concat(
       |        [x[1] + 1, acc[2], acc[3]],
       |        list_concat(acc[4:], [acc[1], x[1]]))
       |      WHEN $outd THEN list_concat(
       |        [acc[1], acc[2] + $r, acc[2] + ${r - 1}], acc[4:])
       |      ELSE acc END) AS f
       |  FROM arr),
       |ivs AS (SELECT d0, f[3] AS ob,
       |    list_transform(generate_series(1, (len(f) - 3) // 2),
       |      i -> f[CAST(2 + 2*i AS INT)]) AS cs,
       |    list_transform(generate_series(1, (len(f) - 3) // 2),
       |      i -> f[CAST(3 + 2*i AS INT)]) AS ce
       |  FROM stt),
       |cls AS (SELECT days.d, days.cnt, days.d - ivs.d0 AS dr, ivs.ob,
       |    ivs.cs, ivs.ce FROM days, ivs),
       |lv AS (SELECT d, cnt, dr, ob,
       |    CASE WHEN nst >= 1 AND dr <= ce[CAST(nst AS INT)] THEN nst END AS lvl
       |  FROM (SELECT *, len(list_filter(cs, s1 -> s1 <= dr)) AS nst FROM cls))
       |SELECT d * 86400000000 AS day_us, CAST(cnt AS BIGINT) AS cnt,
       |  CASE WHEN ob >= 0 AND dr <= ob THEN 'outdated'
       |       WHEN lvl IS NOT NULL THEN 'level' ELSE 'rick' END AS tier,
       |  CAST(lvl AS BIGINT) AS level_id
       |FROM lv""".stripMargin
  }

  /** #167 — kNN classifier accuracy: majority vote over the rebuilt
    * knn CTE with the same (count DESC, label) tie order, integer
    * counts, one mirrored division. */
  val embKnnAccuracy: String =
    s"""WITH $eCte,
       |$knnGraphCtes,
       |votes AS (SELECT k.src, e2.label AS nlabel, count(*) AS c
       |  FROM knn k JOIN e e2 ON e2.vec_id = k.dst GROUP BY 1, 2),
       |pred AS (SELECT src, nlabel AS pred FROM (
       |    SELECT src, nlabel,
       |      row_number() OVER (PARTITION BY src ORDER BY c DESC, nlabel) AS rn
       |    FROM votes) WHERE rn = 1)
       |SELECT e.label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  CAST(sum(CASE WHEN p.pred = e.label THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*) AS accuracy
       |FROM pred p JOIN e ON e.vec_id = p.src GROUP BY e.label""".stripMargin

  /** #168 — scene cuts: the same hex-substring byte frames, exact
    * integer sums and floor-div means, one lag window, identical
    * threshold compare. */
  val mmSceneCuts: String = {
    val fb = graft.operators.Multimodal.FrameBytes
    val th = graft.operators.Multimodal.CutThresh
    s"""WITH fr AS (
       |  SELECT doc_id, i,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(0, ${fb - 1}),
       |        j -> ('0x' || substr(hx, CAST(${2 * fb} * i + 2 * j + 1 AS INT), 2))::BIGINT)),
       |      (a, b) -> a + b) AS sm
       |  FROM (SELECT doc_id, hex(text) AS hx,
       |      unnest(generate_series(0, strlen(text) // $fb - 1)) AS i
       |    FROM documents WHERE strlen(text) >= $fb)),
       |m AS (SELECT doc_id, i AS frame_no, sm // $fb AS m FROM fr),
       |lg AS (SELECT doc_id, m,
       |    lag(m) OVER (PARTITION BY doc_id ORDER BY frame_no) AS prev FROM m)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
       |  CAST(sum(CASE WHEN abs(m - prev) >= $th THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_cuts,
       |  CAST(max(abs(m - prev)) AS BIGINT) AS max_delta
       |FROM lg GROUP BY doc_id""".stripMargin
  }

  /** #163 — keyword search: the same 3 conditional term counts per
    * doc, df as tf>0 counts, the score chain ((s0+s1)+s2) with each
    * term's N/df division mirrored, (score DESC, doc_id) at the cut. */
  val textSearchTfidf: String = {
    val terms = graft.operators.TextOps.SearchTerms
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN w = '$t' THEN 1 ELSE 0 END) AS tf$i" }.mkString(", ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val score = terms.indices.map(i =>
      s"CASE WHEN df$i = 0 THEN 0.0 ELSE tf$i * (CAST(n AS DOUBLE) / df$i) END")
      .reduce((a, b) => s"($a + $b)")
    val tfCols = terms.indices.map(i => s"CAST(tf$i AS BIGINT) AS tf$i").mkString(", ")
    s"""WITH $toksCte,
       |w AS (SELECT doc_id, unnest(t) AS w FROM toks),
       |tf AS (SELECT doc_id, $tfs FROM w WHERE w IN ($inList) GROUP BY doc_id),
       |st AS (SELECT $dfs FROM tf),
       |nn AS (SELECT count(*) AS n FROM documents)
       |SELECT doc_id, $tfCols, $score AS score
       |FROM tf, st, nn ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
  }

  /** #210 — hybrid RRF: both registered legs nested verbatim as CTEs
    * (the keyword tf-idf top-10 and the IVF-probe top-10), integer
    * ranks, the two exact IEEE divisions summed text-then-vector in
    * both engines. */
  val annHybridRrf: String =
    s"""WITH t AS ($textSearchTfidf),
       |vleg AS ($annIvfTopk),
       |tr AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS rt FROM t),
       |vr AS (SELECT vec_id AS doc_id, rnk AS rv FROM vleg)
       |SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id, rt, rv,
       |  coalesce(CAST(1 AS DOUBLE) / (${graft.operators.Similarity.RrfK} + rt), CAST(0 AS DOUBLE))
       |    + coalesce(CAST(1 AS DOUBLE) / (${graft.operators.Similarity.RrfK} + rv), CAST(0 AS DOUBLE)) AS rrf
       |FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** #164 — multiwindow burn rate: spine-completed 5-minute buckets,
    * trailing ROWS-12 window sums, integer cross-product thresholds,
    * burn divisions mirrored. */
  val tsSlaMultiwindow: String =
    """WITH bucket AS (SELECT epoch_us(ts) // 300000000 AS b, count(*) AS total,
      |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err
      |  FROM events GROUP BY 1),
      |sp AS (SELECT unnest(generate_series((SELECT min(b) FROM bucket),
      |    (SELECT max(b) FROM bucket))) AS b),
      |f AS (SELECT sp.b, coalesce(k.total, 0) AS total, coalesce(k.err, 0) AS err
      |  FROM sp LEFT JOIN bucket k ON k.b = sp.b),
      |r AS (SELECT b, total, err,
      |    sum(err) OVER (ORDER BY b ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
      |      AS err1h,
      |    sum(total) OVER (ORDER BY b ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
      |      AS tot1h
      |  FROM f)
      |SELECT b * 300000000 AS bucket_us, CAST(err AS BIGINT) AS err,
      |  CAST(total AS BIGINT) AS total, CAST(err1h AS BIGINT) AS err1h,
      |  CAST(tot1h AS BIGINT) AS tot1h,
      |  (CAST(err AS DOUBLE) * 100) / total AS burn_5m,
      |  (CAST(err1h AS DOUBLE) * 100) / tot1h AS burn_1h
      |FROM r WHERE total > 0 AND tot1h > 0
      |  AND err * 1000 > total * 144 AND err1h * 1000 > tot1h * 144""".stripMargin

  /** #165 — JSONL roundtrip identity oracle: the raw table IS the
    * expected output; any serialize/parse mangling breaks the hash. */
  val sourceJsonlRoundtrip: String =
    """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
      |FROM documents""".stripMargin

  /** #161 — linear trend fit: the same five exact integer (HUGEINT)
    * sums, x re-based to each key's first day, slope/intercept division
    * chains mirrored, zero-variance keys NULL. */
  val tsTrendFit: String =
    """WITH daily AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    count(*) AS y FROM events GROUP BY 1, 2),
      |xy AS (SELECT user_id,
      |    CAST(day - min(day) OVER (PARTITION BY user_id) AS HUGEINT) AS x,
      |    CAST(y AS HUGEINT) AS y FROM daily)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |  CASE WHEN count(*) * sum(x*x) - sum(x) * sum(x) = 0 THEN NULL
      |    ELSE CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS DOUBLE) /
      |      CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS DOUBLE) END AS slope,
      |  CASE WHEN count(*) * sum(x*x) - sum(x) * sum(x) = 0 THEN NULL
      |    ELSE CAST(sum(y) * sum(x*x) - sum(x) * sum(x*y) AS DOUBLE) /
      |      CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS DOUBLE) END AS intercept
      |FROM xy GROUP BY user_id""".stripMargin

  /** #162 — growth accounting: the same lag/lead classification over
    * distinct (user, week), churn emitted at week+1 and clipped to the
    * observed max week, all-integer conditional counts. */
  val qGrowthAccounting: String =
    """WITH weekly AS (SELECT DISTINCT user_id,
      |    epoch_us(ts) // 604800000000 AS wk FROM events),
      |fl AS (SELECT user_id, wk,
      |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
      |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS nxt
      |  FROM weekly),
      |st AS (SELECT wk, CASE WHEN prev IS NULL THEN 'new'
      |    WHEN prev = wk - 1 THEN 'retained' ELSE 'resurrected' END AS status
      |  FROM fl
      |  UNION ALL
      |  SELECT wk + 1, 'churned' FROM fl WHERE nxt IS NULL OR nxt > wk + 1),
      |mx AS (SELECT max(wk) AS m FROM weekly)
      |SELECT wk * 604800000000 AS wk_us,
      |  CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_retained,
      |  CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_resurrected,
      |  CAST(sum(CASE WHEN status = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_churned
      |FROM st, mx WHERE wk <= m GROUP BY 1""".stripMargin

  /** #157 — last-touch attribution: the latest prior touch per purchase
    * picked by the same (tus, event_id) total order as the Spark
    * struct-max (row_number DESC ≡ argmax), 7-day cutoff applied after
    * the pick exactly as the operator does, decimal-exact revenue. */
  val qAttribution: String =
    """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tus,
      |    value FROM events),
      |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
      |cand AS (SELECT p.event_id AS pid, t.event_type AS ttype, t.tus AS ttus,
      |    row_number() OVER (PARTITION BY p.event_id
      |      ORDER BY t.tus DESC, t.event_id DESC) AS rn
      |  FROM p JOIN ev t ON t.user_id = p.user_id
      |  WHERE t.event_type IN ('click', 'view')
      |    AND (t.tus < p.tus OR (t.tus = p.tus AND t.event_id < p.event_id))),
      |best AS (SELECT pid, ttype, ttus FROM cand WHERE rn = 1),
      |att AS (SELECT p.tus, p.value,
      |    CASE WHEN b.ttus IS NOT NULL AND b.ttus >= p.tus - 604800000000
      |      THEN b.ttype ELSE 'none' END AS attr_type
      |  FROM p LEFT JOIN best b ON b.pid = p.event_id)
      |SELECT attr_type, (tus // 86400000000) * 86400000000 AS day_us,
      |  CAST(count(*) AS BIGINT) AS n_purchases,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS credited_value
      |FROM att GROUP BY 1, 2""".stripMargin

  /** #158 — Holt walk-forward backtest: the ts_holt fold extended with
    * a third state component accumulating |(l + t) − day mean| BEFORE
    * each day's affine update — the same sequential list_reduce, so
    * plain double accumulation is bit-identical to the Spark fold. */
  val tsHoltBacktest: String =
    """WITH m AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean_v,
      |    list_reduce(
      |      list_prepend([1.0::DOUBLE, 0.0, 0.0, 1.0, 0.0, 0.0],
      |        list([value, 0.0, 0.0, 0.0, 0.0, 0.0] ORDER BY epoch_us(ts), value)),
      |      (acc, x) -> [0.8 * acc[1] + 0.8 * acc[3],
      |                   0.8 * acc[2] + 0.8 * acc[4],
      |                   -0.02 * acc[1] + 0.98 * acc[3],
      |                   -0.02 * acc[2] + 0.98 * acc[4],
      |                   0.8 * acc[5] + 0.8 * acc[6] + 0.2 * x[1],
      |                   -0.02 * acc[5] + 0.98 * acc[6] + 0.02 * x[1]]) AS f
      |  FROM events GROUP BY 1, 2),
      |chains AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |    list_reduce(list_prepend([0.0::DOUBLE, 0.0, 0.0],
      |        list(list_append(f, mean_v) ORDER BY day)),
      |      (acc, x) -> [x[1] * acc[1] + x[2] * acc[2] + x[5],
      |                   x[3] * acc[1] + x[4] * acc[2] + x[6],
      |                   acc[3] + abs((acc[1] + acc[2]) - x[7])]) AS st
      |  FROM m GROUP BY 1)
      |SELECT user_id, n_days, st[3] / n_days AS mae FROM chains""".stripMargin

  /** #155 — duplicate-n-gram fraction: document frequency over the
    * same 52-bit hashed distinct shingles, integer counts, one
    * mirrored division. */
  val textDupNgramFrac: String =
    s"""WITH $toksCte, $shCte, $shgCte,
       |dfq AS (SELECT g, count(*) AS df FROM shg GROUP BY 1)
       |SELECT s.doc_id, CAST(z.n AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(z.n, 0)
       |    AS dup_frac
       |FROM shg s JOIN dfq d ON d.g = s.g JOIN szg z ON z.doc_id = s.doc_id
       |GROUP BY s.doc_id, z.n""".stripMargin

  /** #154 — integer PageRank over the k-NN graph: the knn CTE rebuilt
    * from scratch, then PrIters chained iterations of exact floor-div
    * arithmetic (`//` ≡ Spark `div` for non-negative integers) — no
    * float appears until the final display division. */
  val embPagerankKnn: String = {
    val S = Similarity.PrScale
    def iter(i: Int): String = {
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT g.dst AS vec_id,
         |    sum((85 * p.r) // (100 * od.odeg)) AS ins
         |  FROM g JOIN $prev p ON p.vec_id = g.src
         |  JOIN od ON od.vec_id = g.src GROUP BY 1),
         |d$i AS (SELECT coalesce(sum((85 * p.r) // 100), 0) AS dmass
         |  FROM $prev p LEFT JOIN od ON od.vec_id = p.vec_id
         |  WHERE od.odeg IS NULL),
         |r$i AS (SELECT n.vec_id,
         |    (${15L * S} // (100 * nn.n)) + (d$i.dmass // nn.n)
         |      + coalesce(c$i.ins, 0) AS r
         |  FROM nodes n CROSS JOIN nn CROSS JOIN d$i
         |  LEFT JOIN c$i ON c$i.vec_id = n.vec_id)""".stripMargin
    }
    s"""WITH $eCte,
       |$knnGraphCtes,
       |g AS (SELECT src, dst FROM knn),
       |nodes AS (SELECT vec_id FROM e),
       |od AS (SELECT src AS vec_id, count(*) AS odeg FROM g GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT n.vec_id, $S // nn.n AS r FROM nodes n CROSS JOIN nn),
       |${(1 to Similarity.PrIters).map(iter).mkString(",\n")}
       |SELECT vec_id, CAST(r AS BIGINT) AS pr_fix,
       |  CAST(r AS DOUBLE) / $S.0 AS pr FROM r${Similarity.PrIters}""".stripMargin
  }

  /** #156 — per-dimension stats: the kmeans-style fixed-point HUGEINT
    * sums for mean and E[x²], min/max as exact double selection, the
    * variance chain q − m·m written with m expanded twice exactly as
    * the Spark projection. */
  val embDimStats: String =
    s"""WITH $eCte,
       |byd AS (SELECT j AS dim,
       |    sum(CAST(floor(x * ${Similarity.KmFixScale}.0) AS HUGEINT)) AS sx,
       |    sum(CAST(floor((x * x) * ${Similarity.KmFixScale}.0) AS HUGEINT)) AS qx,
       |    min(x) AS mn, max(x) AS mx, count(*) AS n
       |  FROM (SELECT unnest(generate_series(1, 64)) AS j, unnest(v) AS x FROM e)
       |  GROUP BY 1)
       |SELECT CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n_vecs,
       |  (CAST(sx AS DOUBLE) / ${Similarity.KmFixScale}.0) / n AS mean,
       |  ((CAST(qx AS DOUBLE) / ${Similarity.KmFixScale}.0) / n)
       |    - ((CAST(sx AS DOUBLE) / ${Similarity.KmFixScale}.0) / n)
       |      * ((CAST(sx AS DOUBLE) / ${Similarity.KmFixScale}.0) / n) AS variance,
       |  mn AS min_x, mx AS max_x
       |FROM byd""".stripMargin

  /** #180 — part growth movers: integer month index year·12+month,
    * the same 10^-4 revenue quanta, one mirrored ratio division,
    * (growth DESC, part, month) at the cut. */
  val qPartGrowth: String =
    """WITH rev AS (SELECT l_partkey,
      |    year(l_shipdate) * 12 + month(l_shipdate) AS mi,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) * 10000
      |      AS HUGEINT) AS rq
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT c.l_partkey, CAST(c.mi AS BIGINT) AS mi,
      |  CAST(c.rq AS DOUBLE) / 10000.0 AS revenue,
      |  CAST(p.rq AS DOUBLE) / 10000.0 AS revenue_prev,
      |  CAST(c.rq - p.rq AS DOUBLE) / CAST(p.rq AS DOUBLE) AS growth
      |FROM rev c JOIN rev p ON p.l_partkey = c.l_partkey AND p.mi = c.mi - 1
      |ORDER BY growth DESC, c.l_partkey, c.mi LIMIT 10""".stripMargin

  /** #185 — LSH recall: both registered pipelines nested as CTEs, one
    * pair intersection, two mirrored divisions. */
  val dedupLshRecall: String =
    s"""WITH ex AS ($dedupNgramJaccard),
       |ls AS ($dedupMinhashLsh),
       |hit AS (SELECT count(*) AS n_hit FROM ex
       |  JOIN ls ON ls.doc_id1 = ex.doc_id1 AND ls.doc_id2 = ex.doc_id2),
       |ne AS (SELECT count(*) AS n_exact FROM ex),
       |nl AS (SELECT count(*) AS n_lsh FROM ls)
       |SELECT CAST(n_exact AS BIGINT) AS n_exact, CAST(n_lsh AS BIGINT) AS n_lsh,
       |  CAST(n_hit AS BIGINT) AS n_hit,
       |  CAST(n_hit AS DOUBLE) / NULLIF(n_exact, 0) AS recall,
       |  CAST(n_hit AS DOUBLE) / NULLIF(n_lsh, 0) AS precision
       |FROM ne, nl, hit""".stripMargin

  /** #184 — shard diversity: the same md5 shard buckets as
    * doc_shard_assign, integer Σc², mirrored 1 − ss/n² chain. */
  val docShardDiversity: String = {
    val ns = graft.operators.TextOps.NumShards
    s"""WITH per AS (SELECT
       |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % $ns
       |      AS shard,
       |    source, count(*) AS c
       |  FROM documents GROUP BY 1, 2)
       |SELECT shard, CAST(sum(c) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_sources,
       |  1.0 - CAST(sum(c * c) AS DOUBLE) /
       |    (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS simpson
       |FROM per GROUP BY shard""".stripMargin
  }

  /** #186 — mix shift: same fixed type basis, day-value self-join,
    * the L1 chain of share divisions mirrored term by term, residual
    * "other" mass (n − Σcᵢ) appended last exactly as the Scala fold. */
  val tsMixShift: String = {
    val ts0 = graft.operators.TimeSeriesOps.MixTypes
    val counts = ts0.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS c$i" }.mkString(", ")
    def other(a: String, n: String) =
      ts0.indices.map(i => s"$a.c$i").mkString(s"$a.$n - ", " - ", "")
    val l1 = (ts0.indices.map(i =>
      s"abs(CAST(c.c$i AS DOUBLE) / c.n - CAST(p.c$i AS DOUBLE) / p.n)") :+
      s"abs(CAST(${other("c", "n")} AS DOUBLE) / c.n - CAST(${other("p", "n")} AS DOUBLE) / p.n)")
      .reduce((a, b) => s"($a + $b)")
    s"""WITH per AS (SELECT epoch_us(ts) // 86400000000 AS d, count(*) AS n,
       |    $counts
       |  FROM events GROUP BY 1)
       |SELECT c.d * 86400000000 AS day_us, CAST(c.n AS BIGINT) AS n_events,
       |  CAST(p.n AS BIGINT) AS n_prev, $l1 AS mix_shift
       |FROM per c JOIN per p ON p.d = c.d - 1""".stripMargin
  }

  /** #182 — value bands: the same integer-cent order-statistic
    * selection at the ⌈0.1n⌉ / ⌈0.9n⌉ ranks, mirrored /100.0. */
  val tsValueBands: String =
    """WITH cc AS (SELECT user_id, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events),
      |r AS (SELECT user_id, c,
      |    row_number() OVER (PARTITION BY user_id ORDER BY c, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM cc)
      |SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
      |  CAST(min(CASE WHEN rn * 10 >= n THEN c END) AS DOUBLE) / 100.0
      |    AS p10_value,
      |  CAST(min(CASE WHEN rn * 10 >= n * 9 THEN c END) AS DOUBLE) / 100.0
      |    AS p90_value
      |FROM r GROUP BY user_id""".stripMargin

  /** #183 — Rayleigh quotient: the powerIter query nested as a CTE,
    * both quadratic forms as the same left-to-right folds, one final
    * division. */
  val embRayleigh: String =
    s"""WITH pw AS ($embPowerIter),
       |ya AS (SELECT list(y ORDER BY dim) AS ys, max(n_vecs) AS n_vecs FROM pw),
       |x AS (SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xv
       |  FROM embeddings WHERE vec_id = 0)
       |SELECT n_vecs, num, den, num / den AS lambda_hat FROM (
       |  SELECT ya.n_vecs,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
       |      j -> ys[j] * xv[j])), (p, q) -> p + q) AS num,
       |    ${dot("xv", "xv")} AS den
       |  FROM ya, x)""".stripMargin

  /** #179 — gap/liveness report: one lag window, integer thresholds,
    * broadcast global max horizon. */
  val tsGapStats: String =
    s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events),
       |g AS (SELECT user_id, ts_us,
       |    ts_us - lag(ts_us) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) AS g
       |  FROM ev),
       |agg AS (SELECT user_id, count(*) AS n_events, max(g) AS max_gap_us,
       |    sum(CASE WHEN g > ${graft.operators.TimeSeriesOps.GapThreshUs}
       |      THEN 1 ELSE 0 END) AS n_long_gaps,
       |    max(ts_us) AS last_ts_us FROM g GROUP BY 1),
       |m AS (SELECT max(ts_us) AS gmax FROM ev)
       |SELECT user_id, CAST(n_events AS BIGINT) AS n_events, max_gap_us,
       |  CAST(n_long_gaps AS BIGINT) AS n_long_gaps, last_ts_us,
       |  last_ts_us < gmax - ${graft.operators.TimeSeriesOps.StaleHorizonUs}
       |    AS stale
       |FROM agg, m""".stripMargin

  /** #153 — centroid silhouette: per-label centroids through the same
    * fixed-point HUGEINT sums as the kmeans oracle, both cosine factors
    * precomputed once (vn, cn) so the multiply order matches the Spark
    * fold, rc rounded to 6 dp before any arithmetic, own/nearest-other
    * as order-independent MAX selections, and the per-label mean back
    * through the fixed-point floor. */
  /** Per-label fixed-point centroid CTEs (shared by the silhouette and
    * the separation matrix). */
  private val labelCentCtes: String =
    s"""byd AS (SELECT label AS clabel, j AS dim,
       |    sum(CAST(floor(x * ${Similarity.KmFixScale}.0) AS HUGEINT)) AS sx,
       |    count(*) AS cnt FROM (
       |    SELECT label, unnest(generate_series(1, 64)) AS j, unnest(v) AS x
       |    FROM e)
       |  GROUP BY 1, 2),
       |cent AS (SELECT clabel,
       |    list((CAST(sx AS DOUBLE) / ${Similarity.KmFixScale}.0) / cnt
       |      ORDER BY dim) AS cv
       |  FROM byd GROUP BY clabel),
       |centn AS (SELECT clabel, cv, sqrt(${dot("cv", "cv")}) AS cn FROM cent)""".stripMargin

  /** #178 — centroid separation: the shared centroid CTEs, pairwise
    * rounded cosine with precomputed norms (na · nb order mirrored). */
  val embCentroidSeparation: String =
    s"""WITH $eCte,
       |$labelCentCtes
       |SELECT a.clabel AS label_a, b.clabel AS label_b,
       |  CASE WHEN a.cn * b.cn = 0 THEN -2
       |    ELSE round(${dot("a.cv", "b.cv")} / (a.cn * b.cn), 6) END AS rcos
       |FROM centn a, centn b WHERE a.clabel < b.clabel""".stripMargin

  val embSilhouette: String =
    s"""WITH $eCte,
       |$labelCentCtes,
       |r AS (SELECT e.vec_id, e.label, c.clabel,
       |    CASE WHEN sqrt(${dot("e.v", "e.v")}) * c.cn = 0 THEN -2
       |      ELSE round(${dot("e.v", "c.cv")} /
       |        (sqrt(${dot("e.v", "e.v")}) * c.cn), 6) END AS rc
       |  FROM e, centn c),
       |ob AS (SELECT vec_id, label,
       |    max(CASE WHEN clabel = label THEN rc END) AS own,
       |    max(CASE WHEN clabel <> label THEN rc END) AS mx
       |  FROM r GROUP BY 1, 2),
       |sl AS (SELECT label,
       |    CASE WHEN greatest(1.0 - own, 1.0 - mx) = 0 THEN 0.0
       |      ELSE ((1.0 - mx) - (1.0 - own)) / greatest(1.0 - own, 1.0 - mx)
       |    END AS sil FROM ob)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       |  (CAST(sum(CAST(floor(sil * ${Similarity.KmFixScale}.0) AS HUGEINT)) AS DOUBLE)
       |     / ${Similarity.KmFixScale}.0) / count(*) AS mean_sil
       |FROM sl GROUP BY label""".stripMargin

  /** #246 — stride-paired cosine histogram: the same three id-lag
    * equi-joins, the shared fold-order cosine rounded to 6, and the
    * clamped floor(rcos·10) bin. */
  val embCosHist: String = {
    val pairSelects = graft.operators.Similarity.CosHistStrides.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS stride, a.v AS va, b.v AS vb
         |  FROM e a JOIN e b ON b.vec_id = a.vec_id + $d""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH $eCte,
       |p AS ($pairSelects),
       |r AS (SELECT stride, round(${cos("va", "vb")}, 6) AS rcos FROM p)
       |SELECT stride,
       |  CAST(greatest(-10, least(9, floor(rcos * 10.0))) AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS cnt
       |FROM r GROUP BY 1, 2""".stripMargin
  }

  /** #249 — SQ coarse + exact re-rank: the #119 quantization grid
    * verbatim, all-integer dot products, (dot desc, vec_id) shortlist
    * of 32, exact-cosine top-3 — rank order ≡ the engine's packed-long
    * heap order by construction. */
  val annSqRerank: String = {
    import graft.operators.Similarity.{SqShortlist, SqLevels}
    val m = SqLevels - 1
    s"""WITH $eCte,
       |mm AS (SELECT min(list_min(v)) AS lo, max(list_max(v)) AS hi FROM e),
       |c AS (SELECT vec_id, list_transform(v, x ->
       |    CAST(least($m.0, greatest(0.0,
       |      floor(((x - lo) * $m) / (hi - lo)))) AS BIGINT)) AS c
       |  FROM e CROSS JOIN mm),
       |q AS (SELECT vec_id AS qid, c AS qc FROM c WHERE vec_id < 10),
       |scored AS (SELECT q.qid, c2.vec_id,
       |    list_reduce(list_transform(generate_series(1, 64),
       |      i -> c2.c[i] * q.qc[i]), (a, b) -> a + b) AS dot
       |  FROM c c2, q WHERE c2.vec_id >= 10),
       |short AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |      ORDER BY dot DESC, vec_id) AS rn FROM scored)
       |  WHERE rn <= $SqShortlist),
       |qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id FROM (
       |  SELECT s.qid, s.vec_id, row_number() OVER (PARTITION BY s.qid
       |    ORDER BY round(${cos("e2.v", "q.qv")}, 6) DESC, s.vec_id) AS rnk
       |  FROM short s JOIN e e2 ON e2.vec_id = s.vec_id
       |  JOIN qv q ON q.qid = s.qid)
       |WHERE rnk <= 3""".stripMargin
  }

  /** #247 — graph-ANN recall: the probe trajectory (#ann_graph_probe,
    * nested verbatim) hit-flagged against the exact batch leg (#58,
    * also nested verbatim) — same composition as embBqRecall. */
  val annGraphRecall: String =
    s"""WITH probe AS ($annGraphProbe),
       |full_leg AS ($annBatchTopk)
       |SELECT p.qid, p.rnk, p.vec_id,
       |  CAST(CASE WHEN f.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS hit
       |FROM probe p LEFT JOIN full_leg f
       |  ON f.qid = p.qid AND f.vec_id = p.vec_id""".stripMargin
}
