package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Tables, WriteLock}

/**
 * Committed GENERATIONS of the IVF index — the swap that makes the
 * `ann_ivf_rebalance` report actionable. The rebalance query computes
 * the drift set and the re-homed assignment; THIS class commits that
 * exact post-state as a new index generation through the same
 * pointer-file protocol the row store uses (write new files → write
 * pointer tmp → atomic rename → bury superseded dirs → deferred
 * vacuum), so a reader always resolves ONE complete generation.
 *
 * Reference contract: level.rs:356 — compaction does not just plan the
 * rick → level move, it commits it atomically, and readers opened
 * before the swap keep a consistent view (db.rs:67 scan stability).
 * Here the analogue is the inverted-list generation: the committed
 * pointer names (centroids, base lists, dropped cells, delta lists)
 * and a probe reads base-minus-dropped ∪ delta.
 *
 * Scale shape: a commit writes (a) the K-row refreshed centroid table
 * and (b) delta lists sized by drifted-cell mass + the arrival slice —
 * the non-drifted base partitions are REFERENCED, never rewritten, so
 * commit I/O is ∝ drift, not corpus (at 100 TB the base lists are the
 * corpus; rewriting them per rebalance would be a full compaction).
 * Crash recovery (open-time orphan rollback) and deferred deletion
 * (graveyard + vacuum) follow [[graft.core.HelixStore]]'s crash-tested
 * discipline; IvfGenSpec injects a crash at every named step.
 *
 * Single-writer: commits run under [[Staging.ensure]]'s build lock (or
 * a test's single thread); readers on other JVMs only ever read the
 * committed pointer.
 */
final class IvfGen(rootDir: String,
    /** Delta mass (rows) ≥ this fraction of the generation's total
      * rows triggers a FOLD: the commit rewrites base := kept-base ∪
      * delta and resets dropped/delta — one corpus-proportional
      * compaction that re-arms the "commit I/O ∝ accumulated delta"
      * bound (without it, repeated rebalances re-carry every kept
      * delta row and delta mass approaches the corpus — the classic
      * LSM L0 pile-up). */
    val foldFrac: Double = IvfGen.DefaultFoldFrac) {
  import IvfGen._

  private val root = Paths.get(rootDir)
  private val pointerFile = root.resolve("_current")
  private val graveyardFile = root.resolve("_graveyard")

  /** Test hook: called between commit-protocol steps with the step
    * name; a throwing hook simulates a crash there (IvfGenSpec). */
  private[graft] var crashHook: String => Unit = _ => ()

  // ---- pointer ---------------------------------------------------------

  /** Resolve a pointer path: absolute = an external staged artifact,
    * relative = a dir this root owns. */
  private[graft] def resolve(p: String): String =
    if (p.startsWith("/")) p else root.resolve(p).toString

  /** Top-level `g-N` dir names a pointer's root-relative paths live in. */
  private def ownedDirs(p: Pointer): Set[String] =
    (Seq(p.centroids, p.base) ++ p.delta.toSeq ++ p.tombs.toSeq)
      .filterNot(_.startsWith("/"))
      .map(_.split("/", 2).head).toSet

  private def readPointer(): Pointer = {
    val kv = new String(Files.readAllBytes(pointerFile)).split('\n')
      .map(_.trim).filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
    Pointer(kv("gen").toLong, kv("centroids"), kv("base"),
      kv.get("dropped").filter(_.nonEmpty)
        .map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq.empty),
      kv.get("delta").filter(_.nonEmpty),
      kv.get("tombs").filter(_.nonEmpty))
  }

  /** Atomic commit: temp file, then rename over `_current`. */
  private def writePointer(p: Pointer): Unit = {
    val body = (Seq(s"gen=${p.gen}", s"centroids=${p.centroids}",
      s"base=${p.base}") ++
      (if (p.dropped.nonEmpty) Seq(s"dropped=${p.dropped.mkString(",")}") else Nil) ++
      p.delta.map(d => s"delta=$d") ++
      p.tombs.map(t => s"tombs=$t"))
      .mkString("", "\n", "\n")
    val tmp = root.resolve("_current.tmp")
    Files.write(tmp, body.getBytes)
    crashHook("pointer:tmp-written")
    Files.move(tmp, pointerFile,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Current committed pointer (test/report visibility). */
  private[graft] def pointer(): Pointer = readPointer()

  // ---- graveyard + vacuum (deferred deletion, HelixStore discipline) ---

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
    * `olderThanMs` — safe once no reader plan can still reference them
    * (the snapshot-retention contract of log-structured formats). */
  def vacuum(olderThanMs: Long = 0L): Unit = synchronized {
    val now = System.currentTimeMillis()
    val (dead, live) = readGraveyard()
      .partition { case (_, since) => now - since >= olderThanMs }
    dead.foreach { case (n, _) => deleteRecursively(root.resolve(n)) }
    if (dead.nonEmpty || Files.exists(graveyardFile)) writeGraveyard(live)
  }

  // ---- open / recovery -------------------------------------------------

  /** Open the root: write the gen-1 pointer (referencing the external
    * staged base index) if none exists, else roll back any crashed
    * swap — a stale pointer tmp is discarded, and un-referenced,
    * un-graveyarded `g-N` dirs are handled by WHEN they could have
    * been live: a dir NEWER than the committed generation can only be
    * a crashed commit's half-written output (its pointer never
    * landed) and is deleted at once; a dir AT OR BELOW the committed
    * generation was referenced by an earlier committed pointer — a
    * crash between pointer swap and bury left it unburied — so it is
    * GRAVEYARDED, not deleted, preserving the retention-gated vacuum
    * window that stale readers in other JVMs were promised
    * (StoreSnapshotSpec contract). After open, the committed pointer
    * names one complete generation. */
  def open(centroidsPath: String, basePath: String): Pointer = synchronized {
    Files.createDirectories(root)
    if (!Files.exists(pointerFile)) {
      val p = Pointer(1L, centroidsPath, basePath, Seq.empty, None)
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

  // ---- readers -----------------------------------------------------------

  /** The committed generation's centroid table (clabel, cv, cn). */
  def centroids(s: SparkSession): DataFrame =
    Tables.parquet(s, resolve(readPointer().centroids))

  /** The committed generation's inverted lists: base partitions minus
    * the dropped (re-homed) cells, union the delta lists, minus the
    * committed tombstones. The dropped set enters as a STATIC
    * partition filter (plan literals) and the delta is drift+arrival
    * sized, so a probe's cell pruning works identically on both legs;
    * the tombstone set (bounded by deletes-since-rebuild) anti-joins
    * as a BROADCAST side, never a corpus shuffle. */
  def lists(s: SparkSession): DataFrame = {
    val p = readPointer()
    val cols = Seq(col("vec_id"), col("label"), col("v"), col("assigned_label"))
    val base = Tables.parquet(s, resolve(p.base)).select(cols: _*)
    val kept =
      if (p.dropped.isEmpty) base
      else base.filter(!col("assigned_label").isin(p.dropped: _*))
    val merged = p.delta match {
      case Some(d) => kept.unionAll(Tables.parquet(s, resolve(d)).select(cols: _*))
      case None => kept
    }
    p.tombs match {
      case Some(t) => merged.join(
        broadcast(Tables.parquet(s, resolve(t)).select(col("vec_id"))),
        Seq("vec_id"), "left_anti")
      case None => merged
    }
  }

  // ---- the commit --------------------------------------------------------

  /** Commit the rebalanced post-state as generation gen+1. The math is
    * the `ann_ivf_rebalance` contract verbatim (same incremental
    * refresh, same round-6 shift rank, same fold tie order — the
    * committed index IS the frame that report describes): arrivals
    * fold against the CURRENT centroids; the [[Similarity.RebDriftCells]]
    * most-shifted cells re-home (their current members + their
    * arrivals re-assign against the refreshed centroids); non-drifted
    * arrivals keep their fold cell. Writes: K-row centroids + delta
    * lists (drift+arrival mass). Protocol: files → pointer tmp →
    * atomic rename → bury superseded dirs (crash-hook named at each
    * step). Returns the committed pointer. */
  def commitRebalance(s: SparkSession, arrivals: DataFrame): Pointer =
    WriteLock(root) {
      import graft.operators.Similarity.{RebDriftCells, assignByFold, cosine, l2norm}
      val cur = readPointer()
      val newGen = cur.gen + 1
      val gname = s"g-$newGen"
      val gdir = root.resolve(gname)
      // a dir with this name can only be a crashed attempt's orphan
      // (committed generations are always pointer-referenced)
      deleteRecursively(gdir)
      Files.createDirectories(gdir)

      val curCents = centroids(s)
      val curLists = lists(s)
      val arrAssigned = assignByFold(arrivals, curCents)
        .select(col("vec_id"), col("label"), col("v"), col("assigned_label"))
        .localCheckpoint()
      // incremental centroid refresh — identical op order to the
      // rebalance report: (mean·n_old + arrival sums) / (n_old + n_arr)
      val dimSums = (0 until 64).map(j =>
        sum(element_at(col("v"), j + 1)).as(s"s$j"))
      val arrStats = arrAssigned.groupBy(col("assigned_label").as("clabel"))
        .agg(count(lit(1)).as("n_arr"), dimSums: _*)
        .select(col("clabel"), col("n_arr"),
          array((0 until 64).map(j => col(s"s$j")): _*).as("sa"))
      val oldCounts = curLists
        .groupBy(col("assigned_label").as("clabel"))
        .agg(count(lit(1)).as("n_old"))
        .localCheckpoint() // K rows; the fold decision re-reads it
      val nc = curCents.join(oldCounts, "clabel")
        .join(arrStats, Seq("clabel"), "left")
        .withColumn("n_arr", coalesce(col("n_arr"), lit(0L)))
        .withColumn("ncv", array((0 until 64).map(j =>
          (element_at(col("cv"), j + 1) * col("n_old")
            + coalesce(element_at(col("sa"), j + 1), lit(0.0)))
            / (col("n_old") + col("n_arr"))): _*))
        .withColumn("shift",
          round(lit(1.0) - cosine(col("cv"), col("ncv")), 6))
        .select("clabel", "ncv", "shift")
        .localCheckpoint()
      val driftedIds: Seq[Int] = nc.select(col("clabel"), col("shift"))
        .collect()
        .map(r => (r.getInt(0), r.getDouble(1)))
        .sortBy { case (l, sh) => (-sh, l) }
        .take(RebDriftCells).map(_._1).toSeq
      val inDrift = col("assigned_label").isin(driftedIds: _*)

      val newCents = nc.select(col("clabel"), col("ncv").as("cv"))
        .withColumn("cn", l2norm(col("cv")))
      newCents.coalesce(1).write.parquet(gdir.resolve("centroids").toString)
      val vcols = Seq(col("vec_id"), col("label"), col("v"))
      val rehomed = assignByFold(
        curLists.filter(inDrift).select(vcols: _*)
          .unionAll(arrAssigned.filter(inDrift).select(vcols: _*)),
        Tables.parquet(s, gdir.resolve("centroids").toString))
        .select(col("vec_id"), col("label"), col("v"), col("assigned_label"))
      // new delta = prior delta rows in kept cells + non-drifted
      // arrivals + the re-homed drift mass (drift+arrival sized — the
      // base partitions of kept cells are never rewritten)
      val keptOldDelta = cur.delta match {
        case Some(d) => Tables.parquet(s, resolve(d))
          .select(col("vec_id"), col("label"), col("v"), col("assigned_label"))
          .filter(!inDrift)
        case None => s.emptyDataFrame // never unioned (see below)
      }
      val deltaRows = {
        val fresh = arrAssigned.filter(!inDrift).unionAll(rehomed)
        if (cur.delta.isDefined) keptOldDelta.unionAll(fresh) else fresh
      }
      deltaRows
        .repartition(col("assigned_label"))
        .write.partitionBy("assigned_label")
        .parquet(gdir.resolve("delta").toString)
      crashHook("commit:staged")

      // ---- fold decision (advice r18 #3): every commit re-carries the
      // kept prior-delta rows, so delta mass grows with ACCUMULATED
      // arrivals — the I/O bound is "∝ accumulated delta", not "∝ this
      // commit's drift". Once the just-written delta crosses
      // [[foldFrac]] of the generation's rows, compact: rewrite base
      // := kept-base ∪ delta (tombstones applied physically) and reset
      // dropped/delta/tombs — one corpus-proportional write that
      // re-arms the bound, the LSM delta→base compaction.
      val vcolsAll = Seq(col("vec_id"), col("label"), col("v"),
        col("assigned_label"))
      val deltaCnt = Tables.parquet(s, gdir.resolve("delta").toString).count()
      val totalCnt =
        oldCounts.agg(sum(col("n_old"))).collect().head.getLong(0) +
          arrAssigned.count()
      val dropped2 = (cur.dropped ++ driftedIds).distinct.sorted
      val next = if (deltaCnt >= foldFrac * totalCnt) {
        val keptBase0 = Tables.parquet(s, resolve(cur.base)).select(vcolsAll: _*)
        val keptBase =
          if (dropped2.isEmpty) keptBase0
          else keptBase0.filter(!col("assigned_label").isin(dropped2: _*))
        val folded0 = keptBase.unionAll(
          Tables.parquet(s, gdir.resolve("delta").toString).select(vcolsAll: _*))
        val folded = cur.tombs match {
          case Some(t) => folded0.join(
            broadcast(Tables.parquet(s, resolve(t)).select(col("vec_id"))),
            Seq("vec_id"), "left_anti")
          case None => folded0
        }
        folded.repartition(col("assigned_label"))
          .write.partitionBy("assigned_label")
          .parquet(gdir.resolve("base").toString)
        crashHook("commit:folded")
        Pointer(newGen, s"$gname/centroids", s"$gname/base",
          Seq.empty, None, None)
      } else
        Pointer(newGen, s"$gname/centroids", cur.base, dropped2,
          Some(s"$gname/delta"), cur.tombs)
      writePointer(next)
      crashHook("commit:pointer-durable")
      // bury the superseded generation's OWNED dirs (never the shared
      // external base); physical deletion is vacuum's, after retention
      val superseded = ownedDirs(cur) -- ownedDirs(next)
      if (superseded.nonEmpty) {
        val now = System.currentTimeMillis()
        writeGraveyard(readGraveyard() ++ superseded.toSeq.sorted.map(_ -> now))
      }
      crashHook("commit:buried")
      next
    }

  /** Commit corpus-row DELETES as generation gen+1 (verdict r18 #5 —
    * the survivor pipeline's dup kills must reach the served index
    * without a rebuild): writes the merged tombstone list (prior
    * tombs ∪ the new delete ids, distinct) as the new generation's
    * ONLY artifact and swaps the pointer — centroids, base, dropped
    * and delta are all REFERENCED unchanged, so commit I/O is ∝
    * accumulated deletes, never corpus or drift. [[lists]] anti-joins
    * the committed tombstones as a broadcast side (bounded by
    * deletes-since-rebuild); the next FOLD applies them physically and
    * resets the list. Same protocol + crash hooks as
    * [[commitRebalance]]. */
  def commitDeletes(s: SparkSession, deletes: DataFrame): Pointer =
    WriteLock(root) {
      val cur = readPointer()
      val newGen = cur.gen + 1
      val gname = s"g-$newGen"
      val gdir = root.resolve(gname)
      deleteRecursively(gdir)
      Files.createDirectories(gdir)
      val fresh = deletes.select(col("vec_id"))
      val merged = cur.tombs match {
        case Some(t) => Tables.parquet(s, resolve(t)).select(col("vec_id"))
          .unionAll(fresh).distinct()
        case None => fresh.distinct()
      }
      merged.coalesce(1).write.parquet(gdir.resolve("tombs").toString)
      crashHook("commit:staged")
      val next = Pointer(newGen, cur.centroids, cur.base, cur.dropped,
        cur.delta, Some(s"$gname/tombs"))
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

object IvfGen {
  /** One committed generation: `centroids`, `delta` and `tombs` are
    * dirs the root owns (root-relative) or external staged artifacts
    * (absolute); `base` is the full inverted-list layout (external
    * until the first fold rewrites it as an owned dir), `dropped` the
    * cells whose base lists are superseded by re-homed delta rows,
    * `tombs` the committed delete ids probes anti-join. */
  final case class Pointer(gen: Long, centroids: String, base: String,
      dropped: Seq[Int], delta: Option[String],
      tombs: Option[String] = None)

  /** Default [[IvfGen.foldFrac]]: fold once delta mass reaches half
    * the generation's rows — late enough that the registered staged
    * path (one arrival commit ≈ 5% arrivals + drift mass) never folds,
    * early enough that delta can never exceed base. */
  val DefaultFoldFrac = 0.5

  /** Deterministic committed-delete slice for #ann_ivf_gen_delete:
    * vec_id ≡ GenTombRem (mod GenTombMod) — disjoint from the arrival
    * slice ([[IvfIndex.IncrRem]] = 7) and the static tombstone demo
    * ([[Similarity.TombRem]] = 5), and never the probe vector (0). */
  val GenTombMod = 20
  val GenTombRem = 9

  /** The arrival slice of the commit's registered query — the same
    * not-yet-indexed 5% tail `ann_ivf_incremental` serves by brute
    * merge and `ann_ivf_rebalance` folds into its report. */
  def arrivalSlice(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(pmod(col("vec_id"), lit(IvfIndex.IncrMod)) === IvfIndex.IncrRem)
      .select(col("vec_id"), col("label"),
        Similarity.toDoubleVec(col("embedding")).as("v"))

  /** Staged committed generation for `dir`: gen-1 = the sliced index
    * (ann_ivf_incremental's state), then ONE rebalance commit absorbs
    * the arrival slice — built at most once per source fingerprint,
    * atomic via [[Staging.ensure]]. */
  def ensureCommitted(s: SparkSession, dir: String): IvfGen = {
    val (centPath, assignedPath) = IvfIndex.ensureIndexed(s, dir)
    val base = Staging.ensure("ivfgen",
      s"${Staging.fingerprint(dir, "embeddings.parquet")}-v1") { tmp =>
      val g = new IvfGen(tmp.toString)
      g.open(centPath, assignedPath)
      g.commitRebalance(s, arrivalSlice(s, dir)): Unit
    }
    val g = new IvfGen(base.toString)
    g.open(centPath, assignedPath)
    g
  }

  /** Staged committed generation WITH a delete commit on top of
    * [[ensureCommitted]]'s state: gen-1 = the sliced index, gen-2 =
    * the rebalance commit, gen-3 = the tombstone commit over the
    * [[GenTombMod]]/[[GenTombRem]] slice — the `ann_ivf_gen_delete`
    * serving state. Built at most once per source fingerprint. */
  def ensureCommittedDeleted(s: SparkSession, dir: String): IvfGen = {
    val (centPath, assignedPath) = IvfIndex.ensureIndexed(s, dir)
    val base = Staging.ensure("ivfgendel",
      s"${Staging.fingerprint(dir, "embeddings.parquet")}-v1") { tmp =>
      val g = new IvfGen(tmp.toString)
      g.open(centPath, assignedPath)
      g.commitRebalance(s, arrivalSlice(s, dir)): Unit
      g.commitDeletes(s, Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(GenTombMod)) === GenTombRem)
        .select(col("vec_id"))): Unit
    }
    val g = new IvfGen(base.toString)
    g.open(centPath, assignedPath)
    g
  }
}
