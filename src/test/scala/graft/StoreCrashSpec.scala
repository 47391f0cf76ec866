package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.{HelixStore, StoreOptions}

/** Crash-point property test for the store's commit protocol (verdict
  * r16 #5): a ScalaCheck-generated workload runs up to each named point
  * inside blockCompact / outdate, a crash is injected THERE
  * (the hook throws, simulating process death between two protocol
  * steps), and a FRESH instance reopens the same path. Reference
  * contract: level.rs compaction must never tear — reopen must see
  * either the complete old or the complete new pointer state, never a
  * mix, acknowledged puts must survive every crash window, and vacuum
  * must never reclaim a generation the live pointer references. */
class StoreCrashSpec extends SparkTestBase {

  private val entrySchema = StructType(Seq(
    StructField("key", BinaryType), StructField("ts", LongType),
    StructField("value", BinaryType)))

  private def entriesDF(rows: Seq[(String, Long, String)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (k, t, v) => Row(k.getBytes, t, v.getBytes) }, 2),
      entrySchema)

  private def stateOf(st: HelixStore): Set[(String, Long, String)] =
    st.toDF.collect().map { r =>
      (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value")))
    }.toSet

  /** ScalaCheck-generated put batches, deterministic per seed. Within
    * a batch, duplicate (key, ts) rows are deduped driver-side (the
    * StoreModelSpec convention — within-batch ties are the store's
    * subseq hash order, which the model does not replicate). */
  private def genBatches(seed: Long): List[List[(String, Long, String)]] = {
    val entry = for {
      k <- Gen.choose(0, 5).map(i => s"k$i")
      t <- Gen.choose(0L, 99L)
      v <- Gen.choose(0, 999).map(n => s"v$n")
    } yield (k, t, v)
    val g = Gen.listOfN(3, Gen.listOfN(6, entry))
    g.apply(Gen.Parameters.default, Seed(seed)).get
      .map(_.groupBy(e => (e._1, e._2)).map(_._2.last).toList)
  }

  private case class Boom(point: String)
    extends RuntimeException(s"injected crash at $point")

  /** All `[rbm]-N` generation dirs present on disk under `dir`. */
  private def genDirs(dir: String): Set[String] = {
    val root = Paths.get(dir)
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("^[rbm]-[0-9]+$")).toSet
    } finally s.close()
  }

  /** Generations the committed pointer references (spec-side parse of
    * `_current` — the store's own reader stays private). */
  private def referenced(dir: String): Set[String] = {
    val kv = new String(Files.readAllBytes(Paths.get(dir, "_current")))
      .split('\n').map(_.trim).filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
    Set(kv.get("rows"), kv.get("blocks")).flatten
  }

  private def buriedNames(dir: String): Set[String] = {
    val f = Paths.get(dir, "_graveyard")
    if (!Files.exists(f)) Set.empty
    else new String(Files.readAllBytes(f)).split('\n').toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ", 2)(0))
      // bucket-grain burials (outdate) name paths inside a generation
      .map(_.split("/", 2)(0)).toSet
  }

  private val OutdateTs = 50L
  private val BucketSize = 10L

  /** Crash points × the operation that reaches each. */
  private val scenarios: Seq[(String, String)] = Seq(
    "blockCompact" -> "blockCompact:staged",
    "blockCompact" -> "blockCompact:leftovers-copied",
    "blockCompact" -> "commit:begin",
    "blockCompact" -> "pointer:tmp-written",
    "blockCompact" -> "commit:pointer-durable",
    "blockCompact" -> "blockCompact:committed",
    "outdate" -> "pointer:tmp-written",
    "outdate" -> "commit:pointer-durable",
    "outdate" -> "outdate:committed")

  test("reopen after a crash at ANY commit step sees old or new state, never a mix") {
    scenarios.zipWithIndex.foreach { case ((op, point), i) =>
      val dir = tmpDir(s"hs-crash-$i")
      val opts = StoreOptions(numShards = 2, bucketSize = BucketSize)
      val st = HelixStore.open(spark, dir, opts)
      genBatches(seed = 0xC0FFEE + i).foreach(b => st.put(entriesDF(b)))
      val pre = stateOf(st)
      val post = op match {
        case "outdate" =>
          pre.filter { case (_, ts, _) => ts / BucketSize >= OutdateTs / BucketSize }
        case _ => pre // compaction must be invisible to readers
      }
      st.crashHook = { p => if (p == point) throw Boom(point) }
      val died =
        try {
          op match {
            case "blockCompact" => st.blockCompact()
            case "outdate" => st.outdate(OutdateTs)
          }
          false
        } catch { case Boom(_) => true }
      assert(died, s"[$op/$point] crash point never reached — scenario is dead")
      // fresh instance = process restart: recovery runs in initPointer
      val re = HelixStore.open(spark, dir, opts)
      val got = stateOf(re)
      assert(got == pre || got == post,
        s"[$op/$point] reopen state is a MIX: " +
          s"missing=${(pre ++ post) -- got}, extra=${got -- (pre ++ post)}")
      // no orphan generations survive recovery: every dir on disk is
      // referenced by the pointer or awaiting vacuum in the graveyard
      val stray = genDirs(dir) -- referenced(dir) -- buriedNames(dir)
      assert(stray.isEmpty, s"[$op/$point] orphan generation dirs: $stray")
      // vacuum must never reclaim the live generation: reclaim ALL
      // graveyard entries immediately, then the same state must serve
      re.vacuum(0L)
      val reRe = HelixStore.open(spark, dir, opts)
      assert(stateOf(reRe) == got, s"[$op/$point] vacuum buried a live generation")
      assert(referenced(dir).forall(n => Files.exists(Paths.get(dir, n))),
        s"[$op/$point] a pointer-referenced dir vanished under vacuum")
    }
  }

  test("acknowledged puts during a compaction build survive a crash before the commit") {
    // the copyLeftovers contract: entries put while the new generation
    // was building live in the OLD generation until the commit; a crash
    // between the leftover copy and the pointer swap must lose nothing
    // (a move instead of a copy fails exactly this test)
    Seq("blockCompact:leftovers-copied", "pointer:tmp-written").zipWithIndex.foreach {
      case (point, i) =>
        val dir = tmpDir(s"hs-crash-leftover-$i")
        val opts = StoreOptions(numShards = 2, bucketSize = BucketSize)
        val st = HelixStore.open(spark, dir, opts)
        genBatches(seed = 0xBEEF + i).foreach(b => st.put(entriesDF(b)))
        val concurrent = List(("k9", 42L, "mid-compaction-put"))
        var injected = false
        st.crashHook = {
          case "blockCompact:staged" if !injected =>
            injected = true // the put below re-enters blockCompact's mutex
            st.put(entriesDF(concurrent))
          case p if p == point => throw Boom(point)
          case _ => ()
        }
        val pre = stateOf(st) // collected BEFORE the hook-driven put
        val died = try { st.blockCompact(); false } catch { case Boom(_) => true }
        assert(died && injected, s"[$point] scenario did not run as staged")
        val re = HelixStore.open(spark, dir, opts)
        val got = stateOf(re)
        val withConcurrent = pre + (("k9", 42L, "mid-compaction-put"))
        assert(got == withConcurrent,
          s"[$point] acknowledged put lost in the crash window: " +
            s"missing=${withConcurrent -- got}")
    }
  }

  test("a put's leftover staging file never breaks compaction or becomes visible") {
    // the ghost entry's rick file, as a put of another store wrote it
    val ghostDir = tmpDir("hs-ghost-src")
    val ghostStore = HelixStore.open(spark, ghostDir, StoreOptions(numShards = 2, bucketSize = BucketSize))
    ghostStore.put(entriesDF(Seq(("ghost", 5L, "boo"))))
    ghostStore.close()
    val ghostRows = Paths.get(ghostDir, "r-0")
    val ghostFile = {
      val s = Files.walk(ghostRows)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList.head
      } finally s.close()
    }
    val ghostPart = ghostRows.relativize(ghostFile.getParent) // shard=s/bucket=0
    def rowsDir(dir: String): Path = Paths.get(dir,
      new String(Files.readAllBytes(Paths.get(dir, "_current"))).split('\n')
        .collectFirst { case l if l.startsWith("rows=") => l.stripPrefix("rows=").trim }.get)
    // what a put in flight, or one whose driver died, leaves behind: its
    // staging file under _temporary/, and a hidden file in the partition
    def plant(dir: String): Unit = {
      val rows = rowsDir(dir)
      val staging = rows.resolve("_temporary/0/_temporary/attempt_0_0000_m_000000_0")
        .resolve(ghostPart).resolve("part-00000-ghost.snappy.parquet")
      val hidden = rows.resolve(ghostPart).resolve("_ghost.parquet")
      for (f <- Seq(staging, hidden)) {
        Files.createDirectories(f.getParent)
        Files.copy(ghostFile, f)
      }
    }

    val dir = tmpDir("hs-ghost")
    val st = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = BucketSize))
    genBatches(seed = 0xD00D).foreach(b => st.put(entriesDF(b)))
    val pre = stateOf(st)
    def assertInvisible(when: String): Unit = {
      assert(stateOf(st) == pre, s"$when: visible state changed")
      assert(st.get("ghost".getBytes, 5L).isEmpty, s"$when: get sees the ghost")
      assert(st.get("ghost".getBytes, 5L, decompress = false).isEmpty)
      assert(st.multiGet(Seq(("ghost".getBytes, 5L))) == Seq(None),
        s"$when: multiGet sees the ghost")
      assert(st.scan((0L, 100L), ("ghost".getBytes, "ghosu".getBytes)).count() == 0,
        s"$when: scan sees the ghost")
    }
    plant(dir)
    assertInvisible("before compaction")
    st.blockCompact()
    assertInvisible("after blockCompact")
    st.put(entriesDF(Seq(("k0", 1L, "fresh"))))
    plant(dir)
    st.blockCompact()
    val withFresh = pre.filterNot(e => e._1 == "k0" && e._2 == 1L) + (("k0", 1L, "fresh"))
    assert(stateOf(st) == withFresh, "the second blockCompact lost or invented entries")
    assert(st.get("ghost".getBytes, 5L).isEmpty && st.multiGet(Seq(("ghost".getBytes, 5L))) == Seq(None))
    // a reopened instance (fresh caches) agrees
    val re = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = BucketSize))
    assert(stateOf(re) == withFresh)
    assert(re.get("ghost".getBytes, 5L).isEmpty)
    st.close(); re.close()
  }

  test("a store with an older layout's block manifest opens, reads the same, and drops it") {
    // older stores kept a per-(shard, bucket) min/max-key manifest in an
    // `m-<g>` dir named by a `manifest=` pointer line; this store is built
    // by the current code, then given both by hand as such a store had them
    val dir = tmpDir("hs-old-manifest")
    val opts = StoreOptions(numShards = 2, bucketSize = BucketSize)
    val st = HelixStore.open(spark, dir, opts)
    genBatches(seed = 0xFACE).foreach(b => st.put(entriesDF(b)))
    st.blockCompact()
    st.put(entriesDF(Seq(("k0", 7L, "after"), ("k9", 120L, "fresh"))))
    val probes = stateOf(st).toSeq.map { case (k, t, _) => (k.getBytes, t) } ++
      (0 to 9).flatMap(k => Seq(7L, 42L, 99L, 120L).map(t => (s"k$k".getBytes, t)))
    def reads(s: HelixStore) = (
      stateOf(s),
      probes.map { case (k, t) => s.get(k, t).map(new String(_)) },
      s.multiGet(probes).map(_.map(new String(_))),
      s.scan((0L, 200L), ("k".getBytes, "l".getBytes)).collect().toSeq.map { r =>
        (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
          new String(r.getAs[Array[Byte]]("value")))
      })
    val before = reads(st)
    assert(before._2.flatten.nonEmpty && before._4.nonEmpty, "the probes found nothing")
    st.close()

    val pointer = Paths.get(dir, "_current")
    val lines = new String(Files.readAllBytes(pointer)).split('\n').toSeq
    def field(k: String): String =
      lines.collectFirst { case l if l.startsWith(s"$k=") => l.stripPrefix(s"$k=") }.get
    val manifest = s"m-${field("gen")}"
    import org.apache.spark.sql.{functions => F}
    spark.read.parquet(Paths.get(dir, field("blocks")).toString)
      .groupBy("shard", "bucket")
      .agg(F.min("key").as("min_key"), F.max("key").as("max_key"), F.count("*").as("n_blocks"))
      .coalesce(1).write.mode("overwrite").parquet(Paths.get(dir, manifest).toString)
    Files.write(pointer, (lines :+ s"manifest=$manifest").mkString("", "\n", "\n").getBytes)
    assert(genDirs(dir).contains(manifest))

    val re = HelixStore.open(spark, dir, opts)
    assert(!Files.exists(Paths.get(dir, manifest)), "open left the old manifest dir")
    assert(reads(re) == before, "the older layout reads differently")
    // the next commit writes a pointer without the manifest line
    re.blockCompact()
    assert(!new String(Files.readAllBytes(pointer)).contains("manifest="))
    assert(genDirs(dir).filter(_.startsWith("m-")).isEmpty)
    assert(reads(re)._1 == before._1)
    re.close()
  }
}
