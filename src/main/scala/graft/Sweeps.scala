package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Staging

/** The scale sweeps behind the 100× design claims (`Probe scale`,
  * `scale2`, `staging-scale`): each times queries or staged builds on
  * grown copies of one sf dir, min over passes, writes one JSON record
  * and returns status 1 on a gate violation or a failed run. */
object Sweeps {

  /** A grown copy of an sf dir: events ×`events` with disjoint user
    * ids, documents/embeddings/lineitem/orders ×`rest`, dims copied. */
  final case class Grown(dir: String, events: Int, rest: Int) {
    def of(eventsDriven: Boolean): Double = (if (eventsDriven) events else rest).toDouble
  }
  val G1 = Grown("/tmp/scale", 10, 4)
  val G2 = Grown("/tmp/scale2", 30, 8)

  /** Build grown copy `g` of `base` AT MOST ONCE (the _GRAFT_READY
    * marker): the data is deterministic, and a rewrite per run would
    * change file mtimes, re-key every staged artifact fingerprint, and
    * grow target/graft-stage without bound (three full store copies of
    * the 10x corpus per sweep). Delete `g.dir` to force a rebuild. */
  def grow(spark: SparkSession, base: String, g: Grown): Unit = {
    val readyMarker = Paths.get(g.dir, "_GRAFT_READY")
    if (Files.exists(readyMarker)) return
    def write(table: String, n: Int)(copy: Int => DataFrame): Unit =
      (0 until n).map(copy).reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(s"${g.dir}/$table.parquet")
    // uid range is 0..1499 → offset 10000 keeps copies disjoint
    val ev = Tables.events(spark, base)
    write("events", g.events)(i =>
      ev.withColumn("user_id", col("user_id") + lit(i * 10000L))
        .withColumn("event_id", col("event_id") + lit(i * 10000000L)))
    val docs = Tables.documents(spark, base)
    write("documents", g.rest)(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * 100000L)))
    // vec_id 0 stays unique so the ANN query set is unchanged while the
    // corpus grows
    val emb = Tables.embeddings(spark, base)
    write("embeddings", g.rest)(i => emb
      .withColumn("vec_id", when(lit(i) === 0, col("vec_id"))
        .otherwise(col("vec_id") + lit(i * 100000L))))
    // lineitem + orders with the SAME disjoint order-key offsets so
    // fact/fact joins stay consistent; part/supp keys unchanged (same
    // catalogue, more order volume — the realistic growth shape)
    val li = Tables.lineitem(spark, base)
    write("lineitem", g.rest)(i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L)))
    val ord = spark.read.parquet(s"$base/orders.parquet")
    write("orders", g.rest)(i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L)))
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"${g.dir}/$t.parquet")
    Files.writeString(readyMarker, "ok"): Unit
  }

  /** Min-over-passes wall seconds per (name, dir), and the sweep's
    * record. A name whose run fails lands in `failed` and is skipped by
    * every later pass. */
  private final class MinTimes(spark: SparkSession, tag: String) {
    private val times = scala.collection.mutable.Map[(String, String), Double]()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    def apply(name: String, dir: String): Double = times.getOrElse((name, dir), 0.0)

    /** `n` passes of `run` over `dirs` × `names`, each run with a cold
      * data cache. An offender retry passes `drop = false`: its failure
      * is reported, not kept. */
    def passes(label: String, n: Int, dirs: Seq[String], names: Seq[String],
        drop: Boolean = true)(run: (String, String) => Any): Unit =
      for (pass <- 1 to n; dir <- dirs) {
        println(s"--- $label pass $pass $dir")
        for (name <- names if !failed.contains(name)) {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          try {
            run(name, dir)
            val sec = (System.nanoTime() - t0) / 1e9
            times((name, dir)) = math.min(times.getOrElse((name, dir), Double.MaxValue), sec)
            println(f"$label $name%-28s $sec%8.2f s  ($dir)")
          } catch { case e: Throwable =>
            if (drop) failed(name) = e.toString.take(150)
            System.err.println(s"[$tag] $label $name FAILED on $dir: ${e.toString.take(200)}")
          }
        }
      }

    /** Write `file`: the JSON object of `fields`, the gate violations
      * (`metric` per offender, also on stderr) and the failed map;
      * status 1 when either is non-empty. */
    def report(file: String, fields: Seq[(String, String)], metric: String,
        violations: Seq[(String, Double)], what: String): Int = {
      for ((n, v) <- violations)
        System.err.println(f"[$tag] GATE VIOLATION $n $metric=$v%.2f — unflagged, over the gate")
      // Bench.escJson maps ALL control chars (Spark exception messages
      // routinely contain newlines, which would invalidate the JSON)
      Files.writeString(Paths.get(file), obj(fields ++ Seq(
        "gate_violations" -> obj(violations.map { case (n, v) => n -> f2(v) }),
        "failed" -> obj(failed.toSeq.map { case (k, v) => k -> str(Bench.escJson(v)) }))))
      println(s"wrote $file ($what, ${failed.size} failed)")
      if (violations.nonEmpty || failed.nonEmpty) 1 else 0
    }
  }

  private def runQuery(spark: SparkSession, name: String, dir: String): Long =
    SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()

  private def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
  private def str(v: String): String = "\"" + v + "\""
  /** A JSON object of already-encoded values. */
  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  private val GrownFields = Seq("grown1" -> str("events x10, docs/emb/facts x4"),
    "grown2" -> str("events x30, docs/emb/facts x8"))

  /** Iterates `SparkEntry.queries` directly so the sweep can never fall
    * out of lockstep with the registry. Two passes per dir, min taken
    * (same discipline as Bench). */
  def scale(spark: SparkSession, base: String): Int = {
    grow(spark, base, G1)
    // stage untimed (the Bench discipline): the sweep times queries,
    // not index builds
    for (dir <- Seq(base, G1.dir)) Staging.stageAll(spark, dir, "scale")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val t = new MinTimes(spark, "scale")
    t.passes("SCALE", 2, Seq(base, G1.dir), names)(runQuery(spark, _, _))
    val rows = names.filterNot(t.failed.contains).map { n =>
      val (b, s) = (t(n, base), t(n, G1.dir))
      (n, b, s, if (b > 0.005) s / b else 0.0)
    }
    println("==== SCALE SWEEP (min of 2) ====")
    rows.sortBy(-_._4).foreach { case (n, b, s, r) =>
      println(f"$n%-26s base=$b%6.2f scaled=$s%6.2f ratio=$r%5.2f")
    }
    // ---- the sweep GATE (verdict r17 #7): a >3x growth ratio is
    // allowed ONLY for the registry-flagged unbounded baselines and
    // the linear-in-docs codec set (docs grow G1.rest x, so their
    // contract ceiling is that growth x a noise margin); sub-second
    // bases are noise-exempt. Everything else crossing 3x FAILS the
    // sweep here, machine-checked, instead of hiding in prose.
    val violations = rows.filter { case (n, b, _, r) =>
      b >= 0.10 && r > 3.0 &&
        !SparkEntry.unboundedBaselineOf.contains(n) &&
        !(SparkEntry.linearInDocs(n) && r <= G1.rest * 1.5)
    }
    t.report("scale_sweep.json", Seq(
      "grown" -> str("events x10, docs/emb/lineitem/orders x4"),
      "queries" -> obj(rows.map { case (n, b, s, r) =>
        n -> obj(Seq("base" -> f2(b), "scaled" -> f2(s), "ratio" -> f2(r))) })),
      "ratio", violations.map(v => v._1 -> v._4), s"${rows.size} queries")
  }

  /** One two-point row: wall seconds at the two grown copies, their
    * growth factors, and the exponent ln(t2/t1) / ln(g2/g1). Exponent
    * ≤ ~1 = linear; t1 below noise gives 0. */
  private final case class Point(name: String, t1: Double, t2: Double,
      g1: Double, g2: Double) {
    val exp: Double =
      if (t1 > 0.005 && t2 > 0.0) math.log(t2 / t1) / math.log(g2 / g1) else 0.0
  }

  /** Two-point exponents above this fail the run unless flagged. */
  val ExpGateBar = 1.15

  /** The exponent GATE (r17 #3/#7): exponents above the bar fail the
    * run unless `flagged` names a contract; t1 below noise is exempt
    * from the gate but still recorded. */
  private def offenders(flagged: String => Boolean)(rows: Seq[Point]): Seq[Point] =
    rows.filter(p => p.t1 >= 0.10 && p.exp > ExpGateBar && !flagged(p.name))

  /** Targeted re-adjudication (the Bench guard-retry discipline): gate
    * offenders are re-timed up to twice, min over passes — a co-tenant
    * load spike spanning one grown-dir pass was measured inflating an
    * exponent from 0.3 (quiet best-of) to 1.3 — without re-running the
    * whole sweep. A true super-linear shape survives every retry. */
  private def adjudicate(rowsOf: () => Seq[Point], gate: Seq[Point] => Seq[Point])(
      retime: (Int, Seq[Point]) => Unit): Seq[Point] = {
    var rows = rowsOf()
    var retries = 0
    while (gate(rows).nonEmpty && retries < 2) {
      retries += 1
      retime(retries, gate(rows))
      rows = rowsOf()
    }
    rows
  }

  /** Top-25 by bench_full.json best time at the r16 HEAD. */
  private val ExpensivePicks: Seq[String] = Seq(
    "dedup_ngram_jaccard_capped", "emb_kmeans_train", "dedup_lsh_recall",
    "dedup_ngram_jaccard", "dedup_containment_capped",
    "dedup_cluster_incremental", "ann_graph_recall", "q8_market_share",
    "text_bpe_train", "q_join_salted", "ann_graph_probe", "emb_dim_stats",
    "q_basket_rules", "mm_scene_cuts", "text_bpe_apply", "ts_above_p95",
    "dedup_containment", "text_ccnet_bucket", "q21_late_supplier",
    "q_market_basket", "dedup_cluster_survivor", "stream_cdc_incremental",
    "mm_cdc_incremental", "q_approx_distinct", "text_bpe_fertility")

  /** A ×10/×4 ratio above this adds the query to the exponent set. */
  val RatioPickBar = 1.5

  /** ExpensivePicks ∪ {ratio > RatioPickBar in scale_sweep.json} —
    * derived from the artifact so the set can never silently shrink. */
  private def picksOf(): Seq[String] = {
    val p = Paths.get("scale_sweep.json")
    val fromSweep: Seq[String] =
      if (!Files.exists(p)) {
        System.err.println("[scale2] no scale_sweep.json — run `graft.Probe scale` first; " +
          "falling back to the expensive-25 set")
        Seq.empty
      } else {
        import scala.jdk.CollectionConverters._
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(p))
          .get("queries").properties().asScala.toSeq
          .collect { case e if e.getValue.get("ratio").asDouble() > RatioPickBar => e.getKey }
      }
    (ExpensivePicks ++ fromSweep).distinct.sorted
      .filter(SparkEntry.queries.contains)
  }

  /** Hand overrides for queries whose events provenance a plan scan
    * cannot see (the helix store stages rick/block dirs FROM events,
    * so its scans carry generation dir names, not events.parquet). */
  private val EventsDrivenOverride = Set(
    "helix_scan_range", "helix_get_point", "helix_multiget", "helix_latest",
    "helix_outdate_scan", "helix_stream_scan", "helix_scan_custom_order")

  /** Dominant growth pair from the query's own plan: any events.parquet
    * scan (or a helix-store override) rides the events pair, everything
    * else the docs/emb/facts pair. */
  private def isEventsDriven(spark: SparkSession, name: String, dir: String): Boolean =
    EventsDrivenOverride.contains(name) || {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      // inspect the ANALYZED plan: cache substitution (a query that
      // .cache()s a fragment DURING construction — q_percentiles'
      // stats frame — swaps the events scan for an InMemoryRelation in
      // the optimized plan the moment it registers) happens in
      // withCachedData, which the analyzed plan precedes
      spark.catalog.clearCache()
      try {
        SparkEntry.queries(name)(spark, dir).queryExecution.analyzed.collect {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.exists(_.toString.contains("events.parquet"))
            case _ => false
          }
        }.exists(identity)
      } catch { case _: Throwable => false }
    }

  /** Second-growth-point sweep (verdict r16 #7, coverage widened per
    * r17 #3): the ×10/×4 sweep cannot distinguish n·log n from n^1.3 —
    * one more point can. The pick set is [[ExpensivePicks]] UNION every
    * query whose [[scale]] ratio exceeds [[RatioPickBar]] — a cheap
    * query with a super-linear shape is exactly what cost-only picking
    * missed (q_decile_lift hid that way pre-r16). Each runs at [[G1]]
    * and [[G2]], three passes each, min taken; the growth pair is that
    * of the query's dominant table, detected from its own plan rather
    * than hand-classified. An exponent > [[ExpGateBar]] FAILS the run
    * unless the query carries a named contract flag
    * ([[SparkEntry.unboundedBaselineOf]] / [[SparkEntry.linearInDocs]]). */
  def scale2(spark: SparkSession, base: String): Int = {
    Seq(G1, G2).foreach(grow(spark, base, _))
    for (dir <- Seq(G1.dir, G2.dir)) Staging.stageAll(spark, dir, "scale2")
    val picks = picksOf()
    println(s"[scale2] exponent set: ${picks.size} queries " +
      s"(expensive-25 ∪ sweep ratio > $RatioPickBar)")
    val t = new MinTimes(spark, "scale2")
    // min of 3 passes per dir: the box is co-tenant-contended and a
    // load spike spanning one grown-dir pass was measured inflating
    // two-point exponents past the gate (ts_heavy_hitters 0.69 → 1.84
    // min-of-2 under load); a third pass makes the min robust to a
    // single contended window
    t.passes("SCALE2", 3, Seq(G1.dir, G2.dir), picks)(runQuery(spark, _, _))
    // retries never drop a query, so the row set is fixed here; the
    // growth pair is a pure plan property — classified once
    val ev = picks.filterNot(t.failed.contains).map(n => n -> isEventsDriven(spark, n, G1.dir))
    def rowsOf(): Seq[Point] = ev.map { case (n, e) =>
      Point(n, t(n, G1.dir), t(n, G2.dir), G1.of(e), G2.of(e)) }
    val gate = offenders(n => SparkEntry.unboundedBaselineOf.contains(n) ||
      SparkEntry.linearInDocs.contains(n)) _
    val rows = adjudicate(rowsOf _, gate) { (retry, offs) =>
      for (p <- offs) {
        println(f"[scale2] retry $retry for ${p.name} (exp=${p.exp}%.2f over gate)")
        t.passes("SCALE2-RETRY", 2, Seq(G1.dir, G2.dir), Seq(p.name), drop = false)(
          runQuery(spark, _, _))
      }
    }
    println("==== SCALE2: two-point growth exponents (min of 3) ====")
    rows.sortBy(-_.exp).foreach { p =>
      println(f"${p.name}%-28s t1=${p.t1}%6.2f t2=${p.t2}%6.2f g=${p.g1}%.0f->${p.g2}%.0f exp=${p.exp}%5.2f")
    }
    t.report("scale_sweep2.json", GrownFields :+ "queries" -> obj(rows.map { p =>
        p.name -> obj(Seq("t_g1" -> f2(p.t1), "t_g2" -> f2(p.t2), "g1" -> f2(p.g1),
          "g2" -> f2(p.g2), "exp" -> f2(p.exp))) }),
      "exp", gate(rows).map(p => p.name -> p.exp), s"${rows.size} queries")
  }

  /** Named super-linear build contracts: an artifact listed here may
    * exceed the gate, with the reason recorded in the artifact (mirrors
    * SparkEntry.unboundedBaselineOf / linearInDocs). Empty today —
    * every staged build is expected ~linear in its source. */
  val Contracts: Map[String, String] = Map.empty

  /** Staging-BUILD scale gate (verdict r18 #2): Bench reports staging
    * once, untimed per query, and the query sweeps inherit pre-staged
    * indexes — so a super-linear index BUILD (a shingle explode that
    * quadruples with planted-dup density, a graph construction with a
    * hidden all-pairs leg) is invisible to every query-side gate. This
    * COLD-builds every [[Staging.artifacts]] entry, in its dependency
    * order so each timed ensure measures its own increment, at the sf
    * dir and both grown copies into the THROWAWAY stage root `Probe`
    * installs, and gates the two-point exponent of the artifact's source
    * table growth at [[ExpGateBar]] unless [[Contracts]] names it. */
  def stagingScale(spark: SparkSession, base: String): Int = {
    Seq(G1, G2).foreach(grow(spark, base, _))
    val t = new MinTimes(spark, "staging-scale")
    val byName = Staging.artifacts.map(a => a.name -> a).toMap
    def timePass(dirs: Seq[String]): Unit =
      t.passes("STAGE", 1, dirs, Staging.artifacts.map(_.name))(byName(_).ensure(spark, _))
    timePass(Seq(base, G1.dir, G2.dir))
    def table(n: String) = byName(n).table
    def rowsOf(): Seq[Point] =
      Staging.artifacts.map(_.name).filterNot(t.failed.contains).map { n =>
        val ev = table(n) == "events"
        Point(n, t(n, G1.dir), t(n, G2.dir), G1.of(ev), G2.of(ev))
      }
    val gate = offenders(Contracts.contains) _
    // a retry wipes the whole throwaway stage root, so dependencies
    // rebuild in order and each ensure is still timed for ITSELF
    val rows = adjudicate(rowsOf _, gate) { (retry, offs) =>
      println(s"[staging-scale] retry $retry for ${offs.map(_.name).mkString(", ")}")
      Staging.clear()
      timePass(Seq(G1.dir, G2.dir))
    }
    println("==== STAGING-SCALE: cold-build two-point exponents ====")
    rows.sortBy(-_.exp).foreach { p =>
      println(f"${p.name}%-24s base=${t(p.name, base)}%7.2f t1=${p.t1}%7.2f t2=${p.t2}%7.2f (${table(p.name)}) exp=${p.exp}%5.2f")
    }
    // drop the throwaway stage root — the real target/graft-stage was
    // never touched
    Staging.clear()
    t.report("staging_scale.json", GrownFields ++ Seq("gate" -> f2(ExpGateBar),
      "builds" -> obj(rows.map { p =>
        p.name -> obj(Seq("table" -> str(table(p.name)), "t_base" -> f2(t(p.name, base)),
          "t_g1" -> f2(p.t1), "t_g2" -> f2(p.t2), "exp" -> f2(p.exp))) })),
      "exp", gate(rows).map(p => p.name -> p.exp), s"${rows.size} builds")
  }
}
