package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core.{HelixStore, ScanOptions, StoreOptions}

/** Model-based randomized store test: a seeded random sequence of
  * put / blockCompact / outdate / reopen operations runs
  * against the store AND an in-memory last-write-wins model; after
  * every mutation the full visible state must match. This is the
  * reference's scan scaffold (src/db.rs) generalized to arbitrary
  * interleavings — compaction and retention must be invisible to
  * readers except through the outdate cutoff. */
class StoreModelSpec extends SparkTestBase {

  private val entrySchema = StructType(Seq(
    StructField("key", BinaryType), StructField("ts", LongType),
    StructField("value", BinaryType)))

  private def entriesDF(rows: Seq[(String, Long, String)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (k, t, v) => Row(k.getBytes, t, v.getBytes) }, 2),
      entrySchema)

  /** Full visible store state as (key, ts, value) triples. */
  private def stateOf(st: HelixStore): Set[(String, Long, String)] =
    st.toDF.collect().map { r =>
      (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value")))
    }.toSet

  /** Put a random batch through `st` and mirror it into `model`,
    * de-duped driver-side: the model has no within-batch order, the
    * store resolves (key, ts) ties by subseq — ONE place defines the
    * convention for every scenario. */
  private def putRandomBatch(st: HelixStore, rnd: scala.util.Random,
      keys: IndexedSeq[String], tsRange: Int, step: Int,
      model: mutable.Map[(String, Long), String]): Unit = {
    val batch = (0 until 1 + rnd.nextInt(3)).map { _ =>
      (keys(rnd.nextInt(keys.length)), rnd.nextInt(tsRange).toLong,
        s"v$step-${rnd.nextInt(1000)}")
    }
    val lastPer = batch.groupBy(e => (e._1, e._2)).map(_._2.last).toSeq
    st.put(entriesDF(lastPer))
    lastPer.foreach { case (k, t, v) => model((k, t)) = v }
  }

  /** Reads `probes` through both multiGet and get; each result must be
    * `expect` of its probe. */
  private def assertReads(st: HelixStore, probes: Seq[(String, Long)], where: String)(
      expect: ((String, Long)) => Option[String]): Unit = {
    val batched = st.multiGet(probes.map { case (k, ts) => (k.getBytes, ts) })
    probes.zip(batched).foreach { case (p @ (k, ts), got) =>
      assert(got.map(new String(_)) == expect(p), s"$where: multiGet diverged at $p")
      assert(st.get(k.getBytes, ts).map(new String(_)) == expect(p),
        s"$where: get diverged at $p")
    }
  }

  private def runScenario(seed: Int, bucketSize: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = tmpDir(s"hs-model-$seed")
    val opts = StoreOptions(numShards = 2, bucketSize = bucketSize)
    var store = HelixStore.open(spark, dir, opts)
    // model: (key, ts) -> value, plus the outdate bucket cutoff.
    // outdate on a store with no data yet is a no-op (db.rs outdate
    // drops EXISTING levels; it is not a watermark on future writes),
    // so the model only honors cutoffs once something was written.
    val model = mutable.Map[(String, Long), String]()
    var minBucket = Long.MinValue
    var everPut = false
    val keys = (0 until 6).map(i => s"k$i")

    def visible: Set[(String, Long, String)] =
      model.iterator
        .filter { case ((_, ts), _) => ts / bucketSize >= minBucket }
        .map { case ((k, ts), v) => (k, ts, v) }.toSet

    def storeState: Set[(String, Long, String)] = stateOf(store)

    for (step <- 0 until 12) {
      rnd.nextInt(10) match {
        case n if n <= 4 => // put a small batch (dup (key,ts) overwrites)
          putRandomBatch(store, rnd, keys, tsRange = 100, step, model)
          everPut = true
        case 5 | 6 | 7 => store.blockCompact()
        case 8 =>
          val cut = rnd.nextInt(100).toLong
          store.outdate(cut)
          if (everPut) minBucket = math.max(minBucket, cut / bucketSize)
        case 9 => // reopen: a fresh instance must see identical state
          store.close()
          store = HelixStore.open(spark, dir, opts)
      }
      assert(storeState == visible,
        s"seed=$seed step=$step: store diverged from model " +
          s"(${storeState.size} vs ${visible.size} entries)")
      // point-read parity through every store state (rick/blocks mix,
      // retention cutoffs, reopens): a random probe batch of present
      // and absent (key, ts) pairs must match the model exactly
      val probes = keys.take(3).map(k => (k, rnd.nextInt(100).toLong)) :+ (("zz", 0L))
      assertReads(store, probes, s"seed=$seed step=$step") { case (k, ts) =>
        model.get((k, ts)).filter(_ => ts / bucketSize >= minBucket)
      }
    }
    store.close()
  }

  /** Two live instances on one path, mutating in random alternation —
    * the multi-writer scenario the seq ledger, pointer stamps, and
    * cross-process lock exist for. Both instances must agree with the
    * one model at every step: a duplicated seq (e.g. re-minting after
    * another instance's commit pruned the ledger) or a stale pointer
    * read shows up as an LWW inversion here. */
  private def runTwoInstanceScenario(seed: Int, bucketSize: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = tmpDir(s"hs-model2-$seed")
    val opts = StoreOptions(numShards = 2, bucketSize = bucketSize)
    val a = HelixStore.open(spark, dir, opts)
    val b = HelixStore.open(spark, dir, opts)
    val model = mutable.Map[(String, Long), String]()
    val keys = (0 until 5).map(i => s"m$i")
    // probes draw from their own generator so the op sequence stays
    // the same for the seed
    val probeRnd = new scala.util.Random(seed + 1)

    for (step <- 0 until 12) {
      val actor = if (rnd.nextBoolean()) a else b
      rnd.nextInt(8) match {
        case n if n <= 4 => // put through a random instance
          putRandomBatch(actor, rnd, keys, tsRange = 60, step, model)
        case 5 | 6 | 7 => actor.blockCompact()
      }
      val expected = model.iterator
        .map { case ((k, ts), v) => (k, ts, v) }.toSet
      assert(stateOf(a) == expected,
        s"seed=$seed step=$step: instance A diverged from model")
      assert(stateOf(b) == expected,
        s"seed=$seed step=$step: instance B diverged from model")
      // point reads through both instances: each must see the other's
      // puts and commits (cache epochs, pointer refresh)
      val present = model.keys.toIndexedSeq.sorted
      val probes =
        (if (present.isEmpty) Nil else Seq.fill(3)(present(probeRnd.nextInt(present.size)))) ++
        Seq((keys(probeRnd.nextInt(keys.size)), probeRnd.nextInt(60).toLong), ("zz", 0L))
      for ((st, name) <- Seq(a -> "A", b -> "B"))
        assertReads(st, probes, s"seed=$seed step=$step instance $name")(model.get)
    }
    a.close(); b.close()
  }

  /** multiGet on a batch whose pairs all lack a rick partition reads
    * blocks only. One shard makes a pair's rick presence visible through
    * rickFileCount, so each step probes a mixed batch and its block-only
    * part; both must equal toDF, which must equal the model. */
  private def runMultiGetBatchScenario(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val bucketSize = 10L
    val store = HelixStore.open(spark, tmpDir(s"hs-mgwin-$seed"),
      StoreOptions(numShards = 1, bucketSize = bucketSize))
    val model = mutable.Map[(String, Long), String]()
    val keys = (0 until 5).map(i => s"w$i")
    var blockOnlyBesideRick = 0
    for (step <- 0 until 10) {
      if (step % 3 == 2) store.blockCompact()
      else putRandomBatch(store, rnd, keys, tsRange = 80, step, model)
      val viaToDF = stateOf(store).map { case (k, t, v) => (k, t) -> v }.toMap
      val probes = (0 until 8).map(_ =>
        (keys(rnd.nextInt(keys.length)), rnd.nextInt(80).toLong))
      val blockOnly = probes.filter { case (_, t) =>
        store.rickFileCount(0, t / bucketSize) == 0 }
      if (blockOnly.nonEmpty && store.hasRickRows) blockOnlyBesideRick += 1
      for (batch <- Seq(probes, blockOnly) if batch.nonEmpty) {
        val got = store.multiGet(batch.map { case (k, t) => (k.getBytes, t) })
        assert(got.map(_.map(new String(_))) == batch.map(viaToDF.get),
          s"seed=$seed step=$step: multiGet diverged from toDF on $batch")
      }
      assert(viaToDF == model.toMap, s"seed=$seed step=$step: toDF diverged from model")
    }
    assert(blockOnlyBesideRick > 0, s"seed=$seed never probed a block-only batch beside rick rows")
    store.close()
  }

  /** Put `rows` through `st` and mirror them into `model`, the last row
    * of a repeated (key, ts) winning (see [[putRandomBatch]]). */
  private def putBatch(st: HelixStore, rows: Seq[(String, Long, String)],
      model: mutable.Map[(String, Long), String]): Unit = {
    val lastPer = rows.groupBy(e => (e._1, e._2)).map(_._2.last).toSeq
    st.put(entriesDF(lastPer))
    lastPer.foreach { case (k, t, v) => model((k, t)) = v }
  }

  /** `n` random entries with ts in [lo, hi). */
  private def randomRows(rnd: scala.util.Random, keys: IndexedSeq[String], lo: Long,
      hi: Long, n: Int, tag: String): Seq[(String, Long, String)] =
    Seq.fill(n)((keys(rnd.nextInt(keys.length)), lo + rnd.nextInt((hi - lo).toInt),
      s"$tag-${rnd.nextInt(1000)}"))

  /** Checks `st.scan` over [t0, t1) × [k0, k1) against `model`'s live
    * entries in (key, ts) order. A scan on the task path (`sparkPath`)
    * reads from an RDD of the range's pairs; one read on the driver is a
    * local relation, whose rows were read at the call. */
  private def assertScan(st: HelixStore, model: collection.Map[(String, Long), String],
      minBucket: Long, bucketSize: Long, t0: Long, t1: Long,
      where: String, k0: String = "", k1: String = "~", sparkPath: Boolean = false): Unit = {
    val df = st.scan((t0, t1), (k0.getBytes, k1.getBytes),
      scanOpts = if (sparkPath) sparkScanPath else ScanOptions())
    val got = df.collect().map(r => (new String(r.getAs[Array[Byte]]("key")),
      r.getAs[Long]("ts"), new String(r.getAs[Array[Byte]]("value")))).toSeq
    val expected = model.iterator
      .collect { case ((k, ts), v) if ts >= t0 && ts < t1 && ts / bucketSize >= minBucket &&
        k >= k0 && k < k1 => (k, ts, v) }
      .toSeq.sortBy(e => (e._1, e._2))
    assert(got == expected, s"$where: scan [$t0, $t1) × [$k0, $k1) diverged from the model")
    assert(df.schema.map(f => (f.name, f.dataType)) == entrySchema.map(f => (f.name, f.dataType)),
      s"$where: scan schema ${df.schema}")
    assert(sourceOf(df) == (if (sparkPath) "LogicalRDD" else "LocalRelation"),
      s"$where: scan [$t0, $t1) read ${if (sparkPath) "on the driver" else "in tasks"}")
  }

  /** The data files of `gen`'s (shard, bucket) dirs whose bucket
    * `pick` accepts, under the store at `dir`. */
  private def bucketFiles(dir: String, gen: String)(pick: Long => Boolean): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, gen))
    try w.iterator().asScala.filter { f =>
      f.getFileName.toString.endsWith(".parquet") &&
        pick(f.getParent.getFileName.toString.stripPrefix("bucket=").toLong)
    }.toList finally w.close()
  }

  /** The generation dir the committed pointer of the store at `dir`
    * names for `layer` (`rows` or `blocks`). */
  private def liveGen(dir: String, layer: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "_current")))
      .linesIterator.collectFirst { case l if l.startsWith(layer + "=") =>
        l.stripPrefix(layer + "=") }.get

  /** A scan reads only the listed pairs of its bucket range, and the
    * same rows on both read paths: blocks in buckets 0-3, rick files in
    * buckets 4-5 (three puts, two of them of one (key, ts), so LWW
    * across them), bucket 0 outdated. Each range must equal the model;
    * then non-parquet bytes in a sub-cutoff and an out-of-range bucket
    * must leave the scans that list neither unchanged. */
  private def runScanRangeScenario(seed: Int, sparkPath: Boolean): Unit = {
    val rnd = new scala.util.Random(seed)
    val bucketSize = 10L
    val dir = tmpDir(s"hs-scanrange-$seed")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = bucketSize))
    val model = mutable.Map[(String, Long), String]()
    val keys = (0 until 6).map(i => s"r$i")
    for (b <- 0 until 3) putBatch(store, randomRows(rnd, keys, 0, 40, 12, s"b$b"), model)
    store.blockCompact()
    for (b <- 0 until 2) putBatch(store, randomRows(rnd, keys, 40, 60, 8, s"r$b"), model)
    // two puts of one (key, ts) in the rick: the later one wins
    for (v <- Seq("twice-1", "twice-2")) putBatch(store, Seq(("r2", 47L, v)), model)
    store.outdate(10L)
    var minBucket = 1L
    def check(t0: Long, t1: Long, what: String, k0: String = "", k1: String = "~"): Unit =
      assertScan(store, model, minBucket, bucketSize, t0, t1,
        s"seed=$seed sparkPath=$sparkPath $what", k0, k1, sparkPath)
    check(10, 40, "entirely in blocks")
    check(12, 37, "entirely in blocks, key range", "r1", "r4")
    check(30, 50, "touching the rick")
    check(5, 55, "across the cutoff and both layers")
    check(0, 10, "wholly below the outdate cutoff")
    check(100, 200, "holding no pair")
    // a put into the block range: its entries win over the blocks they
    // overwrite
    putBatch(store, randomRows(rnd, keys, 10, 40, 6, "o"), model)
    check(10, 40, "blocks under fresh rick entries")
    store.blockCompact()
    check(10, 40, "re-compacted blocks")
    check(5, 55, "all blocks after the second compaction")
    // bucket 1 drops below the cutoff but keeps its files until a
    // compaction; garbage there and in bucket 5 must go unread by scans
    // that list neither
    store.outdate(20L)
    minBucket = 2L
    val blocks = liveGen(dir, "blocks")
    val garbage = bucketFiles(dir, blocks)(b => b == 1L || b == 5L)
    assert(garbage.map(_.getParent.getFileName.toString).toSet == Set("bucket=1", "bucket=5"))
    garbage.foreach(f => java.nio.file.Files.write(f, "not parquet".getBytes))
    check(20, 50, "beside a garbage out-of-range bucket")
    check(0, 50, "across a garbage sub-cutoff bucket", "r1", "r5")
    check(10, 20, "wholly in a garbage sub-cutoff bucket")
    store.close()
  }

  test("scan equals the model on block-only, rick, outdated and empty ranges (seeds 808, 909)") {
    runScanRangeScenario(808, sparkPath = false)
    runScanRangeScenario(909, sparkPath = false)
  }

  test("scan equals the model on the Spark read path (seeds 808, 909, maxPartitionBytes set)") {
    runScanRangeScenario(808, sparkPath = true)
    runScanRangeScenario(909, sparkPath = true)
  }

  test("scan equals the model on both read paths (seed 1010)") {
    runScanRangeScenario(1010, sparkPath = false)
    runScanRangeScenario(1010, sparkPath = true)
  }

  test("a many-pair range whose kept bytes pass InProcessScanMaxBytes reads in tasks and equals the model") {
    val bucketSize = 10L
    val dir = tmpDir("hs-scan-bound")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 4, bucketSize = bucketSize))
    val model = mutable.Map[(String, Long), String]()
    // 4 KB values that compress to almost nothing: the files stay far
    // under the bound while the kept entries pass it, spread over
    // 4 shards x 8 buckets of blocks with rick entries over them
    val pad = "x" * 4096
    val n = (HelixStore.InProcessScanMaxBytes / pad.length + 40).toInt
    val rows = (0 until n).map(i => (f"w${i % 37}%02d", (i % 80).toLong, s"$i-$pad"))
    putBatch(store, rows.take(n / 2), model)
    store.blockCompact()
    putBatch(store, rows.drop(n / 2), model)
    putBatch(store, rows.take(20).map { case (k, t, _) => (k, t, s"over-$k-$t") }, model)
    val fileBytes = bucketFiles(dir, liveGen(dir, "rows"))(_ => true).map(java.nio.file.Files.size).sum +
      bucketFiles(dir, liveGen(dir, "blocks"))(_ => true).map(java.nio.file.Files.size).sum
    assert(fileBytes <= HelixStore.InProcessScanMaxBytes, s"listing of $fileBytes bytes")
    def got(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String)] =
      df.collect().map(r => (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value")))).toSeq
    val all = store.scan((0L, 80L), ("w".getBytes, "x".getBytes))
    assert(sourceOf(all) == "LogicalRDD", "past the kept-bytes bound the range reads in tasks")
    assert(got(all) == model.toSeq.map { case ((k, t), v) => (k, t, v) }.sortBy(e => (e._1, e._2)))
    // under the bound the same pairs stay on the driver
    assertScan(store, model, Long.MinValue, bucketSize, 0, 80, "a few keys of every pair", "w00", "w03")
    store.close()
  }

  test("a multi-pair unordered driver scan returns its pairs' rows in the order a one-pair read does") {
    val bucketSize = 10L
    val store = HelixStore.open(spark, tmpDir("hs-scan-order"),
      StoreOptions(numShards = 4, bucketSize = bucketSize))
    val model = mutable.Map[(String, Long), String]()
    val rnd = new scala.util.Random(1111)
    val keys = (0 until 9).map(i => s"o$i")
    // every entry in shard 0: a bucket is one pair, so a one-bucket scan
    // reads its pair on the calling thread, and the whole range's eight
    // pairs go to the pair-read pool
    def directBatch(rows: Seq[(String, Long, String)]): Unit = {
      val lastPer = rows.groupBy(e => (e._1, e._2)).map(_._2.last).toSeq
      store.directPut(0, entriesDF(lastPer))
      lastPer.foreach { case (k, t, v) => model((k, t)) = v }
    }
    directBatch(randomRows(rnd, keys, 0, 80, 60, "b"))
    store.blockCompact()
    directBatch(randomRows(rnd, keys, 0, 80, 30, "r"))
    directBatch(randomRows(rnd, keys, 40, 80, 10, "s"))
    def unordered(t0: Long, t1: Long): (String, Seq[(String, Long, String)]) = {
      val df = store.scan((t0, t1), ("".getBytes, "~".getBytes), ordered = false)
      (sourceOf(df), df.collect().map(r => (new String(r.getAs[Array[Byte]]("key")),
        r.getAs[Long]("ts"), new String(r.getAs[Array[Byte]]("value")))).toSeq)
    }
    val (source, whole) = unordered(0L, 80L)
    assert(source == "LocalRelation")
    val pairByPair = (0L until 8L).flatMap(b => unordered(b * bucketSize, (b + 1) * bucketSize)._2)
    assert(whole == pairByPair)
    assert(whole.sortBy(e => (e._1, e._2)) ==
      model.toSeq.map { case ((k, t), v) => (k, t, v) }.sortBy(e => (e._1, e._2)))
    store.close()
  }

  test("a scan sees another instance's puts into its range after its own pointer load") {
    for (sparkPath <- Seq(false, true)) scanSeesOtherInstance(sparkPath)
  }

  private def scanSeesOtherInstance(sparkPath: Boolean): Unit = {
    val dir = tmpDir("hs-scan-fresh")
    val bucketSize = 10L
    val opts = StoreOptions(numShards = 2, bucketSize = bucketSize)
    val a = HelixStore.open(spark, dir, opts)
    val b = HelixStore.open(spark, dir, opts)
    val model = mutable.Map[(String, Long), String]()
    val rnd = new scala.util.Random(42)
    val keys = (0 until 5).map(i => s"f$i")
    putBatch(a, randomRows(rnd, keys, 0, 20, 10, "a"), model)
    a.blockCompact()
    // A loads the pointer and lists a block-only range
    assertScan(a, model, Long.MinValue, bucketSize, 0, 20, "A before B's put",
      sparkPath = sparkPath)
    // B's put lands in the rick of that range, overwriting one entry
    val (k, t) = model.keys.head
    putBatch(b, Seq((k, t, "from-b"), ("f9", 5L, "new-from-b")), model)
    assertScan(a, model, Long.MinValue, bucketSize, 0, 20, "A after B's put",
      sparkPath = sparkPath)
    b.blockCompact()
    assertScan(a, model, Long.MinValue, bucketSize, 0, 20, "A after B's compaction",
      sparkPath = sparkPath)
    a.close(); b.close()
  }

  test("multiGet on block-only and mixed batches equals toDF and the model (seeds 606, 707)") {
    runMultiGetBatchScenario(606)
    runMultiGetBatchScenario(707)
  }

  test("random op sequences keep the store equal to the LWW model (seed 101)") {
    runScenario(101, bucketSize = 10)
  }

  test("random op sequences keep the store equal to the LWW model (seed 202)") {
    runScenario(202, bucketSize = 25)
  }

  test("random op sequences keep the store equal to the LWW model (seed 303, tiny buckets)") {
    runScenario(303, bucketSize = 3)
  }

  test("two instances in random alternation agree with one LWW model (seed 404)") {
    runTwoInstanceScenario(404, bucketSize = 10)
  }

  test("two instances in random alternation agree with one LWW model (seed 505, tiny buckets)") {
    runTwoInstanceScenario(505, bucketSize = 4)
  }
}
