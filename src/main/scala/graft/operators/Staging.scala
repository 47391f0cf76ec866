package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/**
 * Shared machinery for OFFLINE staged artifacts (the IVF index, the
 * dedup signature store): a content fingerprint of the source parquet
 * keys the staged directory, builds are atomic (write to a temp dir,
 * rename into place) so concurrent JVMs race benignly, and a
 * regenerated source can never be served by a stale artifact.
 */
object Staging {

  /** Overridable (-Dgraft.stage.dir=...) and derived from the working
    * directory by default, so artifacts stage inside whatever checkout
    * or container runs the suite. */
  private val stageRoot = sys.props.getOrElse("graft.stage.dir",
    Paths.get(sys.props("user.dir"), "target", "graft-stage").toString)

  /** Fingerprint of a source table's files (name, length, mtime): any
    * rewrite of the source changes it, forcing a rebuild. */
  def fingerprint(dir: String, table: String): String = {
    val src = Paths.get(dir, table)
    val entries: Seq[String] =
      if (Files.isDirectory(src)) {
        val s = Files.list(src)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map { p =>
            s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
          }.toSeq.sorted
        } finally s.close()
      } else Seq(s"f:${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(entries.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Staged dirs this process has ensured (hit or built) — the basis
    * for [[coldBuildSecs]]. */
  private val touched = scala.collection.mutable.LinkedHashSet.empty[Path]
  /** The staged dir each prefix's latest [[ensure]] resolved. */
  private val lastBase = scala.collection.mutable.Map.empty[String, Path]

  /** Ensure the `<prefix>-<key>` staged dir exists, running `build`
    * into a temp dir at most once per key; returns the ready base.
    * The build's wall seconds are persisted INSIDE the artifact
    * (`_GRAFT_BUILD_SECS`), so a later fingerprint-cache HIT can still
    * report what the artifact cost to build cold. */
  def ensure(prefix: String, key: String)(build: Path => Unit): Path =
    synchronized {
      val base = Paths.get(stageRoot, s"$prefix-$key")
      val ready = base.resolve("_GRAFT_READY")
      if (!Files.exists(ready)) {
        val tmp = base.getParent.resolve(
          s"${base.getFileName}.tmp-${java.util.UUID.randomUUID()}")
        Files.createDirectories(tmp)
        try {
          val t0 = System.nanoTime()
          build(tmp)
          Files.writeString(tmp.resolve("_GRAFT_BUILD_SECS"),
            "%.3f".formatLocal(java.util.Locale.ROOT,
              (System.nanoTime() - t0) / 1e9))
          Files.writeString(tmp.resolve("_GRAFT_READY"), "ok")
          try Files.move(tmp, base, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException |
                       _: java.nio.file.DirectoryNotEmptyException =>
            // another builder won the race; its artifact is equivalent
            deleteRecursively(tmp)
          }
        } catch { case e: Throwable => deleteRecursively(tmp); throw e }
      }
      touched += base
      lastBase(prefix) = base
      base
    }

  /** Sum of recorded cold-build seconds across every staged artifact
    * this process has ensured — the honest "staging from nothing" cost
    * even when each ensure() was a cache hit (whose measured cost is
    * just a readiness probe). Artifacts staged before the build-secs
    * record existed contribute 0 — the sum is a floor, never a lie. */
  def coldBuildSecs: Double = synchronized {
    touched.toSeq.map { base =>
      val f = base.resolve("_GRAFT_BUILD_SECS")
      if (Files.exists(f))
        scala.util.Try(Files.readString(f).trim.toDouble).getOrElse(0.0)
      else 0.0
    }.sum
  }

  /** Every staged dir this process has ensured, in first-ensure order. */
  private[graft] def stagedDirs: Seq[Path] = synchronized(touched.toSeq)

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      } finally s.close()
    }
  }

  // Modules holding live handles into staged dirs (HelixScan's cached
  // open stores) register a hook so clear() and restage() release the
  // handles before the dirs vanish under them.
  private val clearHooks = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
  def registerClearHook(f: () => Unit): Unit = synchronized { clearHooks += f }

  private def releaseHandles(): Unit =
    clearHooks.foreach(f => try f() catch { case _: Throwable => () })

  /** Drop every staged artifact, so the next ensure of each builds
    * cold (staging-scale's throwaway root). */
  def clear(): Unit = synchronized {
    releaseHandles()
    deleteRecursively(Paths.get(stageRoot))
  }

  /** One staged artifact: `ensure(spark, sfDir)` stages it as a
    * `<prefix>-<key>` dir built from the sf dir's `table`. */
  final case class Artifact(name: String, prefix: String, table: String,
      ensure: (SparkSession, String) => Any)

  /** Every staged artifact, in dependency order (SetGroupIndex reads
    * DedupIndex, the IVF generations read the sliced index), so each
    * ensure run in this order builds only its own increment. Bench
    * stages exactly this list; a spec checks it against every
    * `Staging.ensure` prefix in the sources. */
  lazy val artifacts: Seq[Artifact] = Seq(
    Artifact("DedupIndex", "dedup", "documents", DedupIndex.ensure),
    Artifact("SetGroupIndex", "gset", "documents", SetGroupIndex.ensure),
    Artifact("OldClusterIndex", "clusold", "documents", OldClusterIndex.ensure),
    Artifact("BloomIndex", "bloom", "documents", BloomIndex.ensure),
    Artifact("DedupGen.committed", "dedupgen", "documents", DedupGen.ensureCommitted),
    Artifact("TextIndex", "textidx", "documents", TextIndex.ensure),
    Artifact("PhashIndex", "phash", "documents", PhashIndex.ensure),
    Artifact("CdcIndex", "cdc", "documents", CdcIndex.ensure),
    Artifact("IvfIndex", "ivf", "embeddings", IvfIndex.ensure),
    Artifact("IvfIndex.indexed", "ivfold", "embeddings", IvfIndex.ensureIndexed),
    Artifact("IvfGen.committed", "ivfgen", "embeddings", IvfGen.ensureCommitted),
    Artifact("IvfGen.committedDeleted", "ivfgendel", "embeddings",
      IvfGen.ensureCommittedDeleted),
    Artifact("PqIndex", "pq", "embeddings", PqIndex.ensure),
    Artifact("IvfPqIndex", "ivfpq", "embeddings", IvfPqIndex.ensure),
    Artifact("KnnIndex", "knng", "embeddings", KnnIndex.ensure),
    Artifact("KcSeedIndex", "kcseed", "embeddings", KcSeedIndex.ensure),
    Artifact("BqIndex", "bq", "embeddings", BqIndex.ensure),
    Artifact("VecGroupIndex", "vgrp", "embeddings", VecGroupIndex.ensure),
    Artifact("BasketIndex", "basket", "lineitem", BasketIndex.ensure),
    Artifact("HelixScan.scan", "helixq2", "events", HelixScan.ensure),
    Artifact("HelixScan.point", "helixg2", "events", HelixScan.ensurePoint),
    Artifact("HelixScan.latest", "helixl2", "events", HelixScan.ensureLatest),
    Artifact("HelixScan.outdated", "helixo2", "events", HelixScan.ensureOutdated),
    Artifact("HelixScan.stream", "helixst2", "events", HelixScan.ensureStream))

  /** Ensure every artifact for `dir`, one stderr line per artifact,
    * success XOR failure — a success line after a failure would let a
    * 'staged' grep conclude all artifacts built. A failed build MUST
    * complain loudly: its queries would then pay the build inside the
    * timed runs, silently re-polluting spreads. */
  def stageAll(spark: SparkSession, dir: String, tag: String): Unit =
    for (a <- artifacts) {
      val t0 = System.nanoTime()
      try {
        a.ensure(spark, dir)
        System.err.println(
          f"[$tag] staged ${a.name} in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[$tag] STAGING ${a.name} FAILED " +
          s"(its queries will pay the build inside timed runs): $e")
      }
    }

  /** Cold-rebuild `a` for `dir` and return the build's wall seconds.
    * Drops only the dir `a.ensure` resolves for this source dir (staged
    * first, untimed, with its dependencies), so the same prefix staged
    * from any other source dir stays in place. */
  def restage(a: Artifact, spark: SparkSession, dir: String): Double = {
    synchronized(lastBase -= a.prefix)
    a.ensure(spark, dir)
    synchronized {
      val base = lastBase.getOrElse(a.prefix, throw new IllegalStateException(
        s"${a.name} never stages a '${a.prefix}' dir"))
      releaseHandles() // live store handles would dangle across the delete
      deleteRecursively(base)
    }
    val t0 = System.nanoTime()
    a.ensure(spark, dir)
    (System.nanoTime() - t0) / 1e9
  }
}
