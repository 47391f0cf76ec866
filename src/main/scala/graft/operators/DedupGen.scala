package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Tables, WriteLock}

/**
 * Committed GENERATIONS of the dedup signature index (verdict r18 #4):
 * [[DedupIndex]]/[[SetGroupIndex]] are rebuild-only — at 100 TB the
 * arrival slice must APPEND, through the same pointer protocol
 * [[IvfGen]] commits with (files → pointer tmp → atomic rename → bury
 * superseded dirs → retention-gated vacuum, crash hooks at each named
 * step), and the capped miners must read base ∪ delta.
 *
 * Reference contract: level.rs:356 — arrivals land as a new level the
 * reader merges with referenced history; history is never rewritten.
 *
 * One generation = the minhash signature state of the corpus:
 *
 *   base/   (external, staged once over the HISTORICAL slice)
 *     hset/      (doc_id, hs, n)        per-doc minhash hash-sets
 *     bands/     (doc_id, band, bkey)   LSH band keys
 *     gset/      (doc_id, rn, rep)      identical-set groups (rep =
 *                min old doc id; rn by doc id — the m+1-smallest
 *                shortlist the capped reconstruction reads)
 *     reppairs/  (doc_id1, doc_id2, jaccard)  verified scored pairs
 *                among group REPRESENTATIVES (the only pairs the
 *                capped miner needs — the [[Dedup.minhashLshCapped]]
 *                reconstruction lemma)
 *   g-N/    (owned, one per commit — sized by ACCUMULATED arrivals)
 *     hset/ bands/                      the arrival slices' signatures
 *     gset/      (doc_id, rn, rep, cgen) arrivals mapped to groups:
 *                matched sets join the existing group's rep; unmatched
 *                sets form new groups keyed by their min arrival id
 *     reppairs/  pairs with ≥1 NEW-rep endpoint (new × old reps and
 *                new × new; old × old is base state, never re-mined)
 *
 * Commit I/O: re-shingles ONLY the arrival batch and writes
 * arrival-∝ rows (plus the re-carried prior delta — the bound is
 * "∝ accumulated arrivals", the pre-fold [[IvfGen]] bound; base
 * files are referenced by the pointer, never rewritten). Reads of
 * base are the rep-key join and the candidate-matched hset rows — the
 * probe-side cost every incremental dedup pays ([[Dedup.incremental]]).
 *
 * Output equality: the committed capped miner reproduces
 * [[Dedup.minhashLshCapped]] BIT-EQUAL (DedupGenSpec) because every
 * building block is set-level — band keys and hash-sets are functions
 * of a doc's shingle set alone, group identity is hash-set equality,
 * and rep choice only names the group (the reconstruction never
 * emits it).
 */
final class DedupGen(rootDir: String) {
  import DedupGen._

  private val root = Paths.get(rootDir)
  private val pointerFile = root.resolve("_current")
  private val graveyardFile = root.resolve("_graveyard")

  /** Test hook: called between commit-protocol steps with the step
    * name; a throwing hook simulates a crash there (DedupGenSpec). */
  private[graft] var crashHook: String => Unit = _ => ()

  // ---- pointer (the IvfGen protocol verbatim) ---------------------------

  private[graft] def resolve(p: String): String =
    if (p.startsWith("/")) p else root.resolve(p).toString

  private def ownedDirs(p: Pointer): Set[String] =
    (Seq(p.base) ++ p.delta.toSeq)
      .filterNot(_.startsWith("/"))
      .map(_.split("/", 2).head).toSet

  private def readPointer(): Pointer = {
    val kv = new String(Files.readAllBytes(pointerFile)).split('\n')
      .map(_.trim).filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
    Pointer(kv("gen").toLong, kv("base"), kv.get("delta").filter(_.nonEmpty))
  }

  private def writePointer(p: Pointer): Unit = {
    val body = (Seq(s"gen=${p.gen}", s"base=${p.base}") ++
      p.delta.map(d => s"delta=$d")).mkString("", "\n", "\n")
    val tmp = root.resolve("_current.tmp")
    Files.write(tmp, body.getBytes)
    crashHook("pointer:tmp-written")
    Files.move(tmp, pointerFile,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private[graft] def pointer(): Pointer = readPointer()

  // ---- graveyard + vacuum ------------------------------------------------

  private def readGraveyard(): Seq[(String, Long)] =
    if (!Files.exists(graveyardFile)) Seq.empty
    else new String(Files.readAllBytes(graveyardFile)).split('\n').toSeq
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(n, s) = l.split(" ", 2); (n, s.toLong) }

  private def writeGraveyard(entries: Seq[(String, Long)]): Unit = {
    val tmp = root.resolve("_graveyard.tmp")
    Files.write(tmp,
      entries.map { case (n, s) => s"$n $s" }.mkString("", "\n", "\n").getBytes)
    Files.move(tmp, graveyardFile,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Physically delete graveyarded generation dirs older than
    * `olderThanMs` (the snapshot-retention contract). */
  def vacuum(olderThanMs: Long = 0L): Unit = synchronized {
    val now = System.currentTimeMillis()
    val (dead, live) = readGraveyard()
      .partition { case (_, since) => now - since >= olderThanMs }
    dead.foreach { case (n, _) => deleteRecursively(root.resolve(n)) }
    if (dead.nonEmpty || Files.exists(graveyardFile)) writeGraveyard(live)
  }

  // ---- open / recovery ---------------------------------------------------

  /** Open the root: gen-1 pointer (referencing the external base) if
    * none exists, else roll back a crashed swap — orphan `g-N` dirs
    * NEWER than the committed generation are crashed attempts and are
    * deleted; dirs at or below it were referenced by an earlier
    * committed pointer and are GRAVEYARDED (the IvfGen recovery
    * discipline: stale readers keep their retention window). */
  def open(basePath: String): Pointer = synchronized {
    Files.createDirectories(root)
    if (!Files.exists(pointerFile)) {
      val p = Pointer(1L, basePath, None)
      writePointer(p)
      p
    } else {
      Files.deleteIfExists(root.resolve("_current.tmp"))
      val p = readPointer()
      val live = ownedDirs(p)
      val buried = readGraveyard().map(_._1).toSet
      val orphans = listDir(root).filter { d =>
        val n = d.getFileName.toString
        n.matches("^g-[0-9]+$") && !live.contains(n) && !buried.contains(n)
      }
      val (crashedAttempts, supersededUnburied) = orphans.partition(
        _.getFileName.toString.stripPrefix("g-").toLong > p.gen)
      crashedAttempts.foreach(deleteRecursively)
      if (supersededUnburied.nonEmpty) {
        val now = System.currentTimeMillis()
        writeGraveyard(readGraveyard() ++
          supersededUnburied.map(_.getFileName.toString).sorted.map(_ -> now))
      }
      p
    }
  }

  // ---- readers: base ∪ delta ---------------------------------------------

  private def baseRead(s: SparkSession, sub: String): DataFrame =
    Tables.parquet(s, Paths.get(resolve(readPointer().base), sub).toString)

  private def deltaRead(s: SparkSession, sub: String): Option[DataFrame] =
    readPointer().delta.map(d =>
      Tables.parquet(s, Paths.get(resolve(d), sub).toString))

  private def unioned(s: SparkSession, sub: String, cols: Seq[String]): DataFrame = {
    val b = baseRead(s, sub).select(cols.map(col): _*)
    deltaRead(s, sub).map(d => b.unionAll(d.select(cols.map(col): _*)))
      .getOrElse(b)
  }

  /** The committed generation's per-doc hash-sets (base ∪ delta). */
  def hsetAll(s: SparkSession): DataFrame =
    unioned(s, "hset", Seq("doc_id", "hs", "n"))

  /** The committed generation's band keys (base ∪ delta). */
  def bandsAll(s: SparkSession): DataFrame =
    unioned(s, "bands", Seq("doc_id", "band", "bkey"))

  /** The committed group map (doc_id, rep) over base ∪ delta. */
  def groupsAll(s: SparkSession): DataFrame =
    unioned(s, "gset", Seq("doc_id", "rep"))

  /** The committed rep-level verified pairs (base ∪ delta). */
  def repPairsAll(s: SparkSession): DataFrame =
    unioned(s, "reppairs", Seq("doc_id1", "doc_id2", "jaccard"))

  /** The capped per-doc top-m dup pairs served FROM the committed
    * generation — [[Dedup.minhashLshCapped]]'s reconstruction over
    * base ∪ delta: the group-shortlist table merges the base's
    * m+1-smallest slice with ALL delta members (the merged top-m+1 is
    * always inside that union — no base rewrite), siblings reconstruct
    * at jaccard 1.0, rep-level pairs fan out through the group map. */
  def cappedPairs(s: SparkSession): DataFrame = {
    val m = Dedup.PairCapM
    val dr = groupsAll(s)
    val gTopIn = baseRead(s, "gset").filter(col("rn") <= m + 1)
      .select(col("rep"), col("doc_id"))
      .unionAll(deltaRead(s, "gset")
        .map(_.select(col("rep"), col("doc_id")))
        .getOrElse(s.emptyDataFrame
          .select(lit(0L).as("rep"), lit(0L).as("doc_id")).limit(0)))
    val wTop = Window.partitionBy("rep").orderBy("doc_id")
    val gTop = gTopIn.withColumn("rn2", row_number().over(wTop))
      .filter(col("rn2") <= m + 1)
      .select(col("rep").as("orep"), col("doc_id").as("nbr_id"))
    val gpSym = Dedup.symmetrize(repPairsAll(s),
      "doc_id1", "doc_id2", "jaccard", "r", "o")
    val sib = dr.join(gTop, col("rep") === col("orep"))
      .filter(col("nbr_id") =!= col("doc_id"))
      .select(col("doc_id"), col("nbr_id"), lit(1.0).as("jaccard"))
    val near = dr.join(gpSym, col("rep") === col("r"))
      .join(gTop, col("o") === col("orep"))
      .select(col("doc_id"), col("nbr_id"), col("jaccard"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("jaccard").desc, col("nbr_id"))
    sib.unionAll(near)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= m)
      .select("doc_id", "rnk", "nbr_id", "jaccard")
  }

  /** The post-commit state report — [[IvfGen]]'s commit-report
    * discipline for the dedup generation: per leg (base / delta), how
    * many docs' signatures it serves, how many groups it REPRESENTS
    * (base = the historical set groups; delta = the groups this
    * commit MINTED — matched arrivals join base groups and mint
    * nothing), and how many rep-level verified pairs it stores. This
    * is what an operator reads after a commit to confirm the delta is
    * arrival-sized and the mined pair volume is sane before pointing
    * consumers at the new generation. Scale: three column-pruned
    * counts per leg over the staged artifacts — the corpus never
    * re-shingles, no verify re-runs. */
  def commitReport(s: SparkSession): DataFrame = {
    def legOf(leg: String, hset: DataFrame, gset: DataFrame,
        reppairs: DataFrame): DataFrame = {
      val nd = hset.select(count(lit(1)).as("n_docs"))
      val ng = gset.filter(col("doc_id") === col("rep"))
        .select(count(lit(1)).as("n_groups"))
      val np = reppairs.select(count(lit(1)).as("n_reppairs"))
      nd.crossJoin(ng).crossJoin(np).select(lit(leg).as("leg"),
        col("n_docs"), col("n_groups"), col("n_reppairs"))
    }
    val base = legOf("base", baseRead(s, "hset"), baseRead(s, "gset"),
      baseRead(s, "reppairs"))
    deltaRead(s, "hset") match {
      case Some(dh) => base.unionAll(legOf("delta", dh,
        deltaRead(s, "gset").get, deltaRead(s, "reppairs").get))
      case None => base
    }
  }

  // ---- the commit ----------------------------------------------------------

  /** Commit an arrival batch (`isNew` selects it from `dir`'s
    * documents) as generation gen+1: re-shingle ONLY the batch, map
    * its sets onto existing groups (hash-set-key join against the
    * committed reps) or mint new groups, mine rep-level pairs for the
    * NEW reps only (new × existing + new × new band candidates,
    * verified at the shared threshold), and swap the pointer. Base
    * dirs are referenced, never rewritten; the delta re-carries prior
    * delta rows, so commit I/O is ∝ accumulated arrivals. */
  def commitArrivals(s: SparkSession, dir: String, isNew: Column): Pointer =
    WriteLock(root) {
      val cur = readPointer()
      val newGen = cur.gen + 1
      val gname = s"g-$newGen"
      val gdir = root.resolve(gname)
      deleteRecursively(gdir)
      Files.createDirectories(gdir)

      // current committed state (read side of the commit)
      val curHset = hsetAll(s)
      val curGset = unioned(s, "gset", Seq("doc_id", "rn", "rep"))
      val curRepIds = curGset.filter(col("doc_id") === col("rep"))
        .select("doc_id")

      // 1. arrival signatures — the ONLY shingling this commit does
      val carryH = deltaRead(s, "hset")
        .map(_.select("doc_id", "hs", "n"))
      val aFresh = Dedup.minhashHset(s, dir, Some(isNew))
      carryH.map(_.unionAll(aFresh)).getOrElse(aFresh)
        .write.parquet(gdir.resolve("hset").toString)
      // the fresh slice read back from the written artifact: bands,
      // group-mapping and mining never recompute the shingle pass (the
      // id set comes from a column-pruned documents scan, not aFresh)
      val freshIds = Tables.documents(s, dir)
        .filter(isNew).select("doc_id")
      val aH = Tables.parquet(s, gdir.resolve("hset").toString)
        .join(freshIds, "doc_id")
      val carryB = deltaRead(s, "bands")
        .map(_.select("doc_id", "band", "bkey"))
      val aBandsFresh = Dedup.bandsOf(aH)
      carryB.map(_.unionAll(aBandsFresh)).getOrElse(aBandsFresh)
        .write.parquet(gdir.resolve("bands").toString)
      val aB = Tables.parquet(s, gdir.resolve("bands").toString)
        .join(freshIds, "doc_id")

      // 2. group mapping: identical hash-sets join the existing group,
      // the rest mint groups keyed by their min arrival id
      val repKeyed = curHset.join(curRepIds, "doc_id")
        .select(col("doc_id").as("rep0"), array_sort(col("hs")).as("key"))
      val arrKeyed = aH.select(col("doc_id"), array_sort(col("hs")).as("key"))
      val matched = arrKeyed.join(repKeyed, "key")
        .select(col("doc_id"), col("rep0").as("rep"))
      val minted = arrKeyed.join(repKeyed, Seq("key"), "left_anti")
        .withColumn("rep", min("doc_id").over(Window.partitionBy("key")))
        .select(col("doc_id"), col("rep"))
      val carryG = deltaRead(s, "gset")
        .map(_.select("doc_id", "rn", "rep", "cgen"))
      val freshG = matched.unionAll(minted)
        .withColumn("rn", lit(0)).withColumn("cgen", lit(newGen))
        .select("doc_id", "rn", "rep", "cgen")
      carryG.map(_.unionAll(freshG)).getOrElse(freshG)
        .write.parquet(gdir.resolve("gset").toString)

      // 3. rep-pair mining for the NEW reps only: old × old is base
      // state; a matched arrival introduces no new rep, so no new pair
      val newReps = Tables.parquet(s, gdir.resolve("gset").toString)
        .filter(col("cgen") === newGen && col("doc_id") === col("rep"))
        .select("doc_id")
      val nrBands = aB.join(newReps, "doc_id")
      val existingRepBands = bandsAll(s).join(curRepIds, "doc_id")
      val candNN = Dedup.bandCandidates(nrBands)
      val candNO = nrBands.alias("x")
        .join(existingRepBands.alias("y"), Seq("band", "bkey"))
        .select(
          least(col("x.doc_id"), col("y.doc_id")).as("doc_id1"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_id2"))
        .distinct()
      val hAll = curHset.unionAll(aH.select("doc_id", "hs", "n"))
      val freshPairs = Dedup.verifyJaccardScored(
        candNN.unionAll(candNO), hAll, hAll, "doc_id1", "doc_id2")
      val carryP = deltaRead(s, "reppairs")
        .map(_.select("doc_id1", "doc_id2", "jaccard"))
      carryP.map(_.unionAll(freshPairs)).getOrElse(freshPairs)
        .write.parquet(gdir.resolve("reppairs").toString)
      crashHook("commit:staged")

      val next = Pointer(newGen, cur.base, Some(gname))
      writePointer(next)
      crashHook("commit:pointer-durable")
      val superseded = ownedDirs(cur) -- ownedDirs(next)
      if (superseded.nonEmpty) {
        val now = System.currentTimeMillis()
        writeGraveyard(readGraveyard() ++ superseded.toSeq.sorted.map(_ -> now))
      }
      crashHook("commit:buried")
      next
    }

  private def listDir(p: Path): Seq[Path] = {
    if (!Files.exists(p)) return Seq.empty
    val s = Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
    } finally s.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p): Unit
  }
}

object DedupGen {
  /** One committed generation: `base` is the historical signature
    * store (external until a future fold), `delta` the owned dir of
    * accumulated arrival state. */
  final case class Pointer(gen: Long, base: String, delta: Option[String])

  /** Build the HISTORICAL (non-arrival) slice's signature store into
    * `out`: hset/bands (the [[DedupIndex]] layout over old docs),
    * gset (identical-hash-set groups) and the rep-level verified
    * pairs. */
  private def buildBase(s: SparkSession, dir: String, out: Path): Unit = {
    val isOld = col("doc_id") % Dedup.IncrMod =!= Dedup.IncrRem
    Dedup.minhashHset(s, dir, Some(isOld))
      .write.parquet(out.resolve("hset").toString)
    val h = Tables.parquet(s, out.resolve("hset").toString)
    Dedup.bandsOf(h).write.parquet(out.resolve("bands").toString)
    val wOrd = Window.partitionBy("key").orderBy("doc_id")
    h.withColumn("key", array_sort(col("hs")))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("rep", min("doc_id").over(Window.partitionBy("key")))
      .withColumn("cgen", lit(1L))
      .select("doc_id", "rn", "rep", "cgen")
      .write.parquet(out.resolve("gset").toString)
    val reps = Tables.parquet(s, out.resolve("gset").toString)
      .filter(col("doc_id") === col("rep")).select("doc_id")
    val repBands = Tables.parquet(s, out.resolve("bands").toString)
      .join(reps, "doc_id")
    Dedup.verifyJaccardScored(Dedup.bandCandidates(repBands), h, h,
      "doc_id1", "doc_id2")
      .write.parquet(out.resolve("reppairs").toString)
  }

  /** Staged committed generation for `dir`: gen-1 = the historical
    * slice's store, then ONE commit absorbs the arrival slice
    * ([[Dedup.IncrMod]]/[[Dedup.IncrRem]] — the same batch
    * `dedup_incremental` probes). Built at most once per source
    * fingerprint, atomic via [[Staging.ensure]]. */
  def ensureCommitted(s: SparkSession, dir: String): DedupGen = {
    val key = s"${Staging.fingerprint(dir, "documents.parquet")}" +
      s"-m${Dedup.IncrMod}r${Dedup.IncrRem}-v1"
    val base = Staging.ensure("dedupgen", key) { tmp =>
      buildBase(s, dir, tmp.resolve("base"))
      val g = new DedupGen(tmp.toString)
      g.open("base")
      g.commitArrivals(s, dir,
        col("doc_id") % Dedup.IncrMod === Dedup.IncrRem): Unit
    }
    val g = new DedupGen(base.toString)
    g.open("base")
    g
  }

  /** #dedup_index_commit — the registered post-commit capped miner:
    * [[Dedup.minhashLshCapped]]'s exact output served from the
    * COMMITTED base ∪ delta generation (DedupGenSpec proves
    * bit-equality to the from-scratch rebuild; the driver oracle
    * checks the full round trip against the same SQL as #241). */
  def dedupIndexCommit(s: SparkSession, dir: String): DataFrame =
    ensureCommitted(s, dir).cappedPairs(s)

  /** #dedup_index_commit_report — the post-commit per-leg state report
    * of the staged committed generation (see [[DedupGen.commitReport]]). */
  def dedupIndexCommitReport(s: SparkSession, dir: String): DataFrame =
    ensureCommitted(s, dir).commitReport(s)
}
