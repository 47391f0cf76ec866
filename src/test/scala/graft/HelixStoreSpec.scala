package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core.{HelixStore, StoreOptions}

/** Mirrors the reference's own db.rs test scaffold (example,
  * scan_test_scaffold, recover_from_restart — reference src/db.rs:262+)
  * against the Spark-native store. */
class HelixStoreSpec extends SparkTestBase {

  private val entrySchema = StructType(Seq(
    StructField("key", BinaryType), StructField("ts", LongType),
    StructField("value", BinaryType)))

  private def entriesDF(rows: Seq[(String, Long, String)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (k, t, v) => Row(k.getBytes, t, v.getBytes) }, 2),
      entrySchema)

  test("example: put then get (db.rs example test)") {
    val store = HelixStore.open(spark, tmpDir("hs-ex"))
    store.put(entriesDF(Seq(("key", 0L, "value"))))
    assert(store.get("key".getBytes, 0L).map(new String(_)).contains("value"))
    assert(store.get("key".getBytes, 1L).isEmpty)
    assert(store.get("nope".getBytes, 0L).isEmpty)
  }

  test("multiGet: one batched job matches per-key gets across both layers; decompress=false skips blocks") {
    val store = HelixStore.open(spark, tmpDir("hs-mget"),
      StoreOptions(numShards = 4, bucketSize = 10))
    // old half → compacted into blocks; new half stays in the rick
    store.put(entriesDF((0 until 16).map(k => (f"k$k%02d", k.toLong, s"old$k"))))
    store.blockCompact()
    store.put(entriesDF((16 until 32).map(k => (f"k$k%02d", k.toLong, s"new$k"))))
    // LWW overwrite landing in the rick on top of a blocked entry
    store.put(entriesDF(Seq(("k03", 3L, "patched"))))
    val probes: Seq[(Array[Byte], Long)] =
      (0 until 32).map(k => (f"k$k%02d".getBytes: Array[Byte], k.toLong)) ++
        Seq(("k00".getBytes: Array[Byte], 99L), // present key, absent ts
          ("zz".getBytes: Array[Byte], 0L))     // absent key
    val batched = store.multiGet(probes)
    val looped = probes.map { case (k, ts) => store.get(k, ts) }
    assert(batched.map(_.map(new String(_))) == looped.map(_.map(new String(_))))
    assert(batched(3).map(new String(_)).contains("patched"), "rick must LWW-win over the block")
    assert(batched.takeRight(2).forall(_.isEmpty))
    // decompress=false: block-resident entries invisible, rick served
    val noBlocks = store.multiGet(probes, decompress = false)
    assert((0 until 16).filter(_ != 3).forall(noBlocks(_).isEmpty),
      "compacted entries must be invisible without decompression")
    assert(noBlocks(3).map(new String(_)).contains("patched"))
    assert((16 until 32).forall(k =>
      noBlocks(k).map(new String(_)).contains(s"new$k")))
  }

  test("multiGet honors routing: a foreign-shard directPut entry stays invisible whatever shares its batch") {
    val store = HelixStore.open(spark, tmpDir("hs-mget-route"),
      StoreOptions(numShards = 4, bucketSize = 10))
    val key = "kA".getBytes
    // find kA's routed home shard empirically, then plant a same-(key,ts)
    // entry in a DIFFERENT shard via directPut
    store.put(entriesDF(Seq(("kA", 1L, "routed"))))
    val home = (0 until 4).find(sh => store.directGet(sh, key, 1L).isDefined).get
    val foreign = (home + 1) % 4
    store.directPut(foreign, entriesDF(Seq(("kA", 5L, "alien"))))
    // a routed key living in the FOREIGN shard + same bucket, so a batch
    // containing it drags (foreign, bucket) into the pruned scan
    val mate = (0 until 50).map(i => s"kC$i").find { k =>
      store.put(entriesDF(Seq((k, 5L, s"v-$k"))))
      store.directGet(foreign, k.getBytes, 5L).isDefined
    }.get
    // get() misses the alien entry (documented directPut/directGet
    // contract); multiGet must agree — alone AND batched with the mate
    assert(store.get(key, 5L).isEmpty)
    assert(store.multiGet(Seq((key, 5L))).head.isEmpty)
    val batched = store.multiGet(Seq((key, 5L), (mate.getBytes, 5L)))
    assert(batched(0).isEmpty,
      "a probe's result must not depend on which other probes share its batch")
    assert(batched(1).map(new String(_)).contains(s"v-$mate"))
    assert(store.directGet(foreign, key, 5L).map(new String(_)).contains("alien"))
  }

  test("scan scaffold: full rectangle returns numTs * numKeys ordered rows") {
    val store = HelixStore.open(spark, tmpDir("hs-scan"), StoreOptions(numShards = 4, bucketSize = 4))
    val numTs = 10
    val numKeys = 32
    for (t <- 0 until numTs)
      store.put(entriesDF((0 until numKeys).map(k => (f"key$k%03d", t.toLong, "value"))))
    val out = store.scan((0L, numTs.toLong), ("key000".getBytes, "key999".getBytes))
      .collect()
    assert(out.length == numTs * numKeys)
    val keys = out.map(r => new String(r.getAs[Array[Byte]]("key")))
    assert(keys.sameElements(keys.sorted), "scan must be key-ordered")
    val tsWithinKey = out.groupBy(r => new String(r.getAs[Array[Byte]]("key")))
      .values.forall(rs => rs.map(_.getAs[Long]("ts")).sameElements(rs.map(_.getAs[Long]("ts")).sorted))
    assert(tsWithinKey, "ts must ascend within key")
  }

  test("recover from restart: reopen sees previous puts (db.rs recover test)") {
    val dir = tmpDir("hs-rec")
    val s1 = HelixStore.open(spark, dir, StoreOptions(numShards = 1, bucketSize = 5))
    for (t <- 0 until 20) s1.put(entriesDF(Seq(("key", t.toLong, s"v$t"))))
    s1.close()
    val s2 = HelixStore.open(spark, dir, StoreOptions(numShards = 1, bucketSize = 5))
    for (t <- 0 until 20)
      assert(s2.get("key".getBytes, t.toLong).map(new String(_)).contains(s"v$t"))
  }

  test("last-write-wins on duplicate (key, ts)") {
    val store = HelixStore.open(spark, tmpDir("hs-lww"))
    store.put(entriesDF(Seq(("k", 7L, "old"))))
    store.put(entriesDF(Seq(("k", 7L, "new"))))
    assert(store.get("k".getBytes, 7L).map(new String(_)).contains("new"))
    store.blockCompact()
    assert(store.get("k".getBytes, 7L).map(new String(_)).contains("new"),
      "LWW must survive compaction")
    assert(store.toDF.count() == 1)
  }

  test("duplicate (key, ts) within ONE batch resolves deterministically") {
    val winners = (1 to 3).map { _ =>
      val store = HelixStore.open(spark, tmpDir("hs-batchdup"))
      store.put(entriesDF(Seq(("dup", 1L, "first"), ("dup", 1L, "second"))))
      val v = store.get("dup".getBytes, 1L).map(new String(_)).get
      store.blockCompact() // winner must also survive compaction unchanged
      assert(store.get("dup".getBytes, 1L).map(new String(_)).contains(v))
      v
    }
    assert(winners.distinct.size == 1, s"nondeterministic LWW: $winners")
  }

  /** The committed pointer of the store at `dir`: its `name=value` lines
    * (`rows`, `blocks`, `seqhw`, ...). */
  private def pointerOf(dir: String): Map[String, String] =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "_current")))
      .linesIterator.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap

  test("blockCompact writes each partition into one file of ts-ordered blocks") {
    val dir = tmpDir("hs-cmp")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 100))
    for (batch <- 0 until 5)
      store.put(entriesDF((0 until 10).map(k => (s"key$k", (batch * 10).toLong, "v"))))
    store.blockCompact()
    import scala.jdk.CollectionConverters._
    // inspect only the LIVE generations: superseded generations stay
    // on disk (graveyard retention for in-flight readers) until vacuum
    val live = pointerOf(dir)
    val blocksDir = java.nio.file.Paths.get(dir, live("blocks"))
    val counts = java.nio.file.Files.walk(blocksDir)
      .iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toList
      .groupBy(_.getParent.toString).values.map(_.size)
    assert(counts.nonEmpty && counts.forall(_ == 1), "one file per partition after blockCompact")
    // one block per key (all ts fall in bucket 0), its five entries in
    // ascending ts: a zero first delta, then steps of 10
    val deltas = spark.read.parquet(blocksDir.toString).collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) -> r.getAs[Seq[Long]]("deltas"))
    assert(deltas.map(_._1).sorted.sameElements((0 until 10).map(k => s"key$k").sorted))
    assert(deltas.forall(_._2 == Seq(0L, 10L, 10L, 10L, 10L)), deltas.mkString(", "))
    assert(store.toDF.count() == 50)
    // vacuum(0) may now physically delete the superseded generation
    store.vacuum(0L)
    val gens = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.matches("^[rbm]-[0-9]+$")).toSet
    // a compaction writes two layers and nothing beside them
    assert(gens == Set(live("rows"), live("blocks")),
      s"only the live rick and block generations survive vacuum(0): $gens")
    assert(store.toDF.count() == 50, "vacuum must not touch live data")
  }

  /** The cause chain of `t`, outermost first. */
  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  /** A put of one good entry and one entry whose `column` is NULL fails
    * naming the column, writes nothing, and leaves the store usable. */
  private def assertPutRejectsNull(column: String): Unit = {
    val store = HelixStore.open(spark, tmpDir(s"hs-null-$column"),
      StoreOptions(numShards = 2, bucketSize = 10))
    val entry = Seq[Any]("nk".getBytes, 3L, "v".getBytes)
    val bad = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row("ok".getBytes, 1L, "v".getBytes),
        Row.fromSeq(entry.updated(HelixStore.EntryColumns.indexOf(column), null))), 2),
      entrySchema)
    val err = intercept[Exception](store.put(bad))
    assert(causes(err).exists(c => Option(c.getMessage).exists(_.contains(s"NULL $column"))),
      s"put must name the NULL $column: $err")
    assert(store.toDF.count() == 0, s"a put rejected for a NULL $column wrote rows")
    store.put(entriesDF(Seq(("ok", 1L, "v"))))
    assert(store.toDF.count() == 1)
    assert(store.get("ok".getBytes, 1L).map(new String(_)).contains("v"))
    store.close()
  }

  test("put rejects an entry with a NULL key") { assertPutRejectsNull("key") }
  test("put rejects an entry with a NULL ts") { assertPutRejectsNull("ts") }
  test("put rejects an entry with a NULL value") { assertPutRejectsNull("value") }

  test("unordered scan returns the same rows as ordered scan") {
    val store = HelixStore.open(spark, tmpDir("hs-noord"), StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF((0 until 20).map(k => (s"k$k", k.toLong, s"v$k"))))
    val ord = store.scan((0L, 20L), ("k".getBytes, "l".getBytes))
      .collect().map(r => new String(r.getAs[Array[Byte]]("key"))).toSet
    val unord = store.scan((0L, 20L), ("k".getBytes, "l".getBytes), ordered = false)
      .collect().map(r => new String(r.getAs[Array[Byte]]("key"))).toSet
    assert(ord == unord && ord.size == 20)
  }

  test("user comparator governs scan order (Comparator trait parity, util.rs:21)") {
    import org.apache.spark.sql.functions.{col, substring}
    val store = HelixStore.open(spark, tmpDir("hs-cmp"),
      StoreOptions(numShards = 4, bucketSize = 10))
    // keys whose lexical and numeric-suffix orders DIFFER: lexically
    // k10 < k2, numerically 2 < 10 — the comparator's effect is visible
    try {
    store.put(entriesDF(Seq(("k10", 1L, "a"), ("k2", 1L, "b"),
      ("k30", 1L, "c"), ("k4", 1L, "d"))))
    val suffixCmp: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      k => substring(k.cast("string"), 2, 10).cast("long")
    def keysOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => new String(r.getAs[Array[Byte]]("key"))).toSeq
    // custom order: numeric suffix
    assert(keysOf(store.scan((0L, 5L), ("k".getBytes, "l".getBytes),
      scanOpts = graft.core.ScanOptions(comparator = Some(suffixCmp))))
      == Seq("k2", "k4", "k10", "k30"))
    // default stays LexicalComparator
    assert(keysOf(store.scan((0L, 5L), ("k".getBytes, "l".getBytes)))
      == Seq("k10", "k2", "k30", "k4"))
    // comparator survives pinned parallelism (range partition + sort)
    val pinned = store.scan((0L, 5L), ("k".getBytes, "l".getBytes),
      scanOpts = graft.core.ScanOptions(targetPartitions = 2,
        comparator = Some(suffixCmp)))
    assert(pinned.rdd.getNumPartitions == 2)
    assert(keysOf(pinned) == Seq("k2", "k4", "k10", "k30"))
    // ordered=false IS NoOrderComparator: a comparator there is a
    // contradiction and must fail loudly, not be silently ignored
    intercept[IllegalArgumentException] {
      store.scan((0L, 5L), ("k".getBytes, "l".getBytes), ordered = false,
        scanOpts = graft.core.ScanOptions(comparator = Some(suffixCmp)))
    }
    } finally store.close() // open handle = leaked pair-read pool threads
  }

  test("comparator property: scan order equals the driver-side sort for random keys and transforms") {
    import org.apache.spark.sql.functions.{col, length => strlen, reverse, substring}
    val store = HelixStore.open(spark, tmpDir("hs-cmp-prop"),
      StoreOptions(numShards = 4, bucketSize = 100))
    val rnd = new scala.util.Random(42) // fixed seed: deterministic spec
    val rows = (0 until 120).map { i =>
      val k = rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString
      (s"$k#$i", rnd.nextInt(50).toLong, s"v$i") // #i suffix: unique keys
    }
    try {
    store.put(entriesDF(rows))
    // each comparator paired with the Scala ordering it must reproduce;
    // ties fall to (key, ts) in BOTH (scan appends them; Seq sort is
    // given them explicitly)
    val cases: Seq[(org.apache.spark.sql.Column => org.apache.spark.sql.Column,
        ((String, Long)) => (String, String, Long))] = Seq(
      // by reversed key string
      (k => reverse(k.cast("string")), { case (k, ts) => (k.reverse, k, ts) }),
      // by key length (low-cardinality sort key: heavy ties)
      (k => strlen(k.cast("string")).cast("string"),
        { case (k, ts) => (k.length.toString, k, ts) }),
      // by the 2nd..4th chars
      (k => substring(k.cast("string"), 2, 3),
        { case (k, ts) => (k.slice(1, 4), k, ts) }))
    for (((cmp, expectedKey), i) <- cases.zipWithIndex) {
      // explicit 0xFF upper bound: a non-ASCII literal's getBytes
      // depends on the fork JVM's default charset
      val got = store.scan((0L, 50L), ("".getBytes, Array(0xff.toByte)),
        scanOpts = graft.core.ScanOptions(comparator = Some(cmp),
          // alternate pinned parallelism through the cases
          targetPartitions = if (i % 2 == 0) 0 else 3))
        .collect().map(r => (new String(r.getAs[Array[Byte]]("key")), r.getLong(1)))
      val expected = rows.map(r => (r._1, r._2))
        .sortBy { case (k, ts) => expectedKey((k, ts)) }
      assert(got.toSeq == expected,
        s"comparator case $i diverged from the driver-side sort")
    }
    } finally store.close() // open handle = leaked pair-read pool threads
  }

  test("streamingPut ingests a stream of entries into the store") {
    val srcDir = tmpDir("hs-stream-src")
    val entries = entriesDF((0 until 30).map(k => (s"sk$k", k.toLong, s"sv$k")))
    entries.write.mode("overwrite").parquet(srcDir)
    val store = HelixStore.open(spark, tmpDir("hs-stream"), StoreOptions(numShards = 2, bucketSize = 10))
    val stream = spark.readStream
      .schema(entries.schema).parquet(srcDir)
    val q = store.streamingPut(stream, tmpDir("hs-stream-ckpt"))
    try q.processAllAvailable() finally q.stop()
    assert(store.toDF.count() == 30)
    assert(store.get("sk7".getBytes, 7L).map(new String(_)).contains("sv7"))
  }

  test("negative logical timestamps route consistently between put and get/scan") {
    val store = HelixStore.open(spark, tmpDir("hs-neg"), StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF(Seq(("nk", -15L, "a"), ("nk", -5L, "b"), ("nk", 5L, "c"))))
    assert(store.get("nk".getBytes, -15L).map(new String(_)).contains("a"))
    assert(store.get("nk".getBytes, -5L).map(new String(_)).contains("b"))
    val scanned = store.scan((-20L, 10L), ("n".getBytes, "o".getBytes))
      .collect().map(_.getAs[Long]("ts")).sorted
    assert(scanned.sameElements(Array(-15L, -5L, 5L)))
  }

  test("blockCompact compresses the rick layer into blocks transparently") {
    val dir = tmpDir("hs-blocks")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF(Seq(("bk", 1L, "v1"), ("bk", 3L, "v3"), ("ck", 4L, "w4"))))
    store.put(entriesDF(Seq(("bk", 3L, "v3b")))) // LWW candidate
    store.blockCompact()
    // row layer gone, block layer serves reads
    assert(!store.hasRickRows && store.hasBlockLayer)
    assert(store.get("bk".getBytes, 1L).map(new String(_)).contains("v1"))
    assert(store.get("bk".getBytes, 3L).map(new String(_)).contains("v3b"),
      "LWW must survive block compaction")
    assert(store.toDF.count() == 3)
    // no_decompress analogue: block-only data is not consulted
    assert(store.get("bk".getBytes, 1L, decompress = false).isEmpty)
    // rick resumes after compaction; both layers merge on read
    store.put(entriesDF(Seq(("bk", 5L, "v5"), ("bk", 3L, "v3c"))))
    assert(store.get("bk".getBytes, 5L).map(new String(_)).contains("v5"))
    assert(store.get("bk".getBytes, 3L).map(new String(_)).contains("v3c"),
      "newer rick write must win over the block")
    // scan sees both layers ordered
    val ts = store.scan((0L, 10L), ("a".getBytes, "z".getBytes))
      .filter(org.apache.spark.sql.functions.col("key") === "bk".getBytes)
      .collect().map(_.getAs[Long]("ts"))
    assert(ts.sameElements(Array(1L, 3L, 5L)))
    // second blockCompact merges blocks + rick into fresh blocks
    store.blockCompact()
    assert(store.get("bk".getBytes, 3L).map(new String(_)).contains("v3c"))
    assert(store.toDF.count() == 4)
    // outdate drops old BLOCK buckets too
    store.outdate(10L)
    assert(store.toDF.count() == 0)
  }

  test("point reads after blockCompact: present keys hit, absent keys and pairs miss") {
    val dir = tmpDir("hs-absent")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF(Seq(("mmm", 1L, "v1"), ("nnn", 2L, "v2"))))
    store.blockCompact()
    assert(store.get("mmm".getBytes, 1L).map(new String(_)).contains("v1"))
    assert(store.get("nnn".getBytes, 2L).map(new String(_)).contains("v2"))
    // keys outside the blocks' key range, and a pair with no block dir
    assert(store.get("aaa".getBytes, 1L).isEmpty)
    assert(store.get("zzz".getBytes, 1L).isEmpty)
    assert(store.get("mmm".getBytes, 999L).isEmpty)
    // rick writes after compaction are found even if outside block range
    store.put(entriesDF(Seq(("aaa", 3L, "fresh"))))
    assert(store.get("aaa".getBytes, 3L).map(new String(_)).contains("fresh"))
  }

  test("get and multiGet over blocks and later rick puts stay correct and run no job") {
    val dir = tmpDir("hs-point-jobless")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF(Seq(("mmm", 1L, "v1"), ("nnn", 2L, "v2"))))
    store.blockCompact()
    // the first reads after the commit: hits read, absences miss, and
    // none runs a job
    val (_, getJobs) = withJobs {
      assert(store.get("mmm".getBytes, 1L).map(new String(_)).contains("v1"))
      assert(store.get("nnn".getBytes, 2L).map(new String(_)).contains("v2"))
      assert(store.get("aaa".getBytes, 1L).isEmpty)
      assert(store.get("zzz".getBytes, 1L).isEmpty)
      assert(store.get("mmm".getBytes, 999L).isEmpty)
    }
    assert(getJobs.isEmpty, s"gets ran Spark jobs: $getJobs")
    store.put(entriesDF(Seq(("aaa", 3L, "fresh"))))
    // the batch path on the same store: block hits, rick hits and
    // absences in one batch
    val (batch, readJobs) = withJobs {
      assert(store.get("aaa".getBytes, 3L).map(new String(_)).contains("fresh"))
      store.multiGet(Seq[(Array[Byte], Long)](
        ("mmm".getBytes, 1L), ("nnn".getBytes, 2L),
        ("aaa".getBytes, 3L), ("zzz".getBytes, 1L), ("mmm".getBytes, 999L)))
    }
    assert(batch.map(_.map(new String(_))) ==
      Seq(Some("v1"), Some("v2"), Some("fresh"), None, None))
    assert(readJobs.isEmpty, s"get and multiGet ran Spark jobs: $readJobs")
    store.close()
  }

  test("UDCF registry dispatches codecs per key prefix (fn_registry.rs:75-99)") {
    val dir = tmpDir("hs-udcf")
    val store = HelixStore.open(spark, dir, StoreOptions(
      numShards = 2, bucketSize = 10,
      codecs = Map(
        graft.core.NoopCodec.name -> graft.core.NoopCodec,
        XorCodec.name -> XorCodec),
      // keys beginning "x:" compress through XOR, everything else noop —
      // the per-key-family dispatch the reference's README headlines
      codecDispatch = Some((k: Array[Byte]) =>
        if (k.length >= 2 && k(0) == 'x' && k(1) == ':') XorCodec.name
        else graft.core.NoopCodec.name)))
    store.put(entriesDF(Seq(
      ("x:a", 1L, "secret"), ("x:a", 2L, "secret2"), ("plain", 1L, "open"))))
    store.blockCompact()
    // roundtrip through both codecs (mirror of fn_registry's noop_udcf test)
    assert(store.get("x:a".getBytes, 1L).map(new String(_)).contains("secret"))
    assert(store.get("x:a".getBytes, 2L).map(new String(_)).contains("secret2"))
    assert(store.get("plain".getBytes, 1L).map(new String(_)).contains("open"))
    // the on-disk payloads really went through the dispatched codecs
    val blockDir = new java.io.File(dir).listFiles()
      .find(_.getName.startsWith("b-")).get
    val blocks = spark.read.parquet(blockDir.toString)
      .collect()
      .map(r => (new String(r.getAs[Array[Byte]]("key")), r.getAs[String]("codec"),
        r.getAs[Array[Byte]]("payload")))
    assert(blocks.collect { case (k, c, _) if k == "x:a" => c }.toSeq == Seq(XorCodec.name))
    assert(blocks.collect { case (k, c, _) if k == "plain" => c }.toSeq == Seq(graft.core.NoopCodec.name))
    val xorPayload = blocks.collectFirst { case ("x:a", _, p) => p }.get
    assert(!new String(xorPayload).contains("secret"),
      "xor-dispatched payload must not contain plaintext")
    // dispatch to an unregistered codec fails loudly
    val bad = HelixStore.open(spark, tmpDir("hs-udcf-bad"), StoreOptions(
      numShards = 2, bucketSize = 10,
      codecDispatch = Some((_: Array[Byte]) => "no-such-codec")))
    bad.put(entriesDF(Seq(("k", 1L, "v"))))
    val e = intercept[org.apache.spark.SparkException] { bad.blockCompact() }
    assert(e.getMessage.contains("no-such-codec") ||
      Option(e.getCause).exists(_.getMessage.contains("no-such-codec")))
  }

  test("Gorilla codec compresses float-valued keys through store dispatch") {
    val dir = tmpDir("hs-gorilla")
    val store = HelixStore.open(spark, dir, StoreOptions(
      numShards = 2, bucketSize = 100,
      codecs = Map(
        graft.core.NoopCodec.name -> graft.core.NoopCodec,
        graft.core.GorillaCodec.name -> graft.core.GorillaCodec),
      // metric keys carry 8-byte IEEE754 doubles → gorilla; rest noop
      codecDispatch = Some((k: Array[Byte]) =>
        if (k.length >= 2 && k(0) == 'm' && k(1) == ':') graft.core.GorillaCodec.name
        else graft.core.NoopCodec.name)))
    def bits(v: Double): Array[Byte] =
      java.nio.ByteBuffer.allocate(8)
        .putLong(java.lang.Double.doubleToRawLongBits(v)).array()
    val series = (0L until 50L).map(i => ("m:cpu", i, bits(100.0 + i * 0.25)))
    import spark.implicits._
    val df = series.toDF("k", "ts", "v")
      .select(org.apache.spark.sql.functions.encode($"k", "UTF-8").as("key"),
        $"ts", $"v".as("value"))
    store.put(df)
    store.put(entriesDF(Seq(("plain", 1L, "open"))))
    store.blockCompact()
    // bit-exact roundtrip through the gorilla-dispatched block layer
    for ((_, ts, v) <- series) {
      val got = store.get("m:cpu".getBytes, ts)
      assert(got.exists(_.sameElements(v)), s"ts=$ts must roundtrip bit-exactly")
    }
    assert(store.get("plain".getBytes, 1L).map(new String(_)).contains("open"))
    // the stored payload really is the packed gorilla stream: far
    // smaller than the 50 x (8+4)-byte noop layout
    val blockDir = new java.io.File(dir).listFiles()
      .find(_.getName.startsWith("b-")).get
    val blocks = spark.read.parquet(blockDir.toString).collect()
      .map(r => (new String(r.getAs[Array[Byte]]("key")), r.getAs[String]("codec"),
        r.getAs[Array[Byte]]("payload")))
    val (_, codec, payload) = blocks.find(_._1 == "m:cpu").get
    assert(codec == graft.core.GorillaCodec.name)
    assert(payload.length < 50 * 8 / 2,
      s"gorilla payload must pack below half raw size, got ${payload.length}")
  }

  test("direct_put / direct_get bypass routing to an explicit shard (db.rs:49,57)") {
    val store = HelixStore.open(spark, tmpDir("hs-direct"),
      StoreOptions(numShards = 4, bucketSize = 10))
    // mirror of the reference example: write to a chosen shard, read it back
    store.directPut(3, entriesDF(Seq(("dk", 0L, "dv"))))
    assert(store.directGet(3, "dk".getBytes, 0L).map(new String(_)).contains("dv"))
    // other shards don't see it; absent ts doesn't resolve
    assert(store.directGet(0, "dk".getBytes, 0L).isEmpty)
    assert(store.directGet(3, "dk".getBytes, 1L).isEmpty)
    // direct writes survive compaction and LWW like routed ones
    store.directPut(3, entriesDF(Seq(("dk", 0L, "dv2"))))
    store.blockCompact()
    assert(store.directGet(3, "dk".getBytes, 0L).map(new String(_)).contains("dv2"))
    // out-of-range shard is rejected
    intercept[IllegalArgumentException] { store.directPut(4, entriesDF(Seq(("k", 0L, "v")))) }
    intercept[IllegalArgumentException] { store.directGet(-1, "k".getBytes, 0L) }
  }

  test("kv point-read cache serves repeat gets jobless; any mutation invalidates (cache.rs)") {
    val store = HelixStore.open(spark, tmpDir("hs-kvcache"),
      StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF(Seq(("ck", 1L, "v1"))))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    // the listener bus delivers asynchronously; poll until quiescent
    def settled(): Int = {
      var prev = -1; var cur = jobs.get(); var spins = 0
      while (cur != prev && spins < 60) { Thread.sleep(50); prev = cur; cur = jobs.get(); spins += 1 }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // populate: one positive and one negative entry (both cacheable)
      assert(store.get("ck".getBytes, 1L).map(new String(_)).contains("v1"))
      assert(store.get("ck".getBytes, 99L).isEmpty)
      val afterMisses = settled()
      // repeats are pure cache hits: not a single Spark job may start
      assert(store.get("ck".getBytes, 1L).map(new String(_)).contains("v1"))
      assert(store.get("ck".getBytes, 99L).isEmpty)
      val afterHits = settled()
      assert(afterHits == afterMisses,
        s"repeat gets must be jobless cache hits ($afterMisses -> $afterHits)")
      // a put moves the (pointer, seq) epoch: the superseded value must go
      store.put(entriesDF(Seq(("ck", 1L, "v2"))))
      assert(store.get("ck".getBytes, 1L).map(new String(_)).contains("v2"))
      // outdate moves the pointer: retention-dropped values must go
      store.outdate(100L)
      assert(store.get("ck".getBytes, 1L).isEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("kc block cache: new-ts repeats on a key hit cached blocks; puts don't invalidate, commits do (cache.rs kc)") {
    val store = HelixStore.open(spark, tmpDir("hs-kccache"),
      StoreOptions(numShards = 2, bucketSize = 100))
    store.put(entriesDF(Seq(("kc", 1L, "b1"), ("kc", 2L, "b2"), ("kc", 3L, "b3"))))
    store.blockCompact() // move the key's run into the block layer
    assert(store.kcHits.get() == 0)
    // first get populates; later gets at OTHER timestamps (kv-cache
    // misses — different KvKey) reuse the cached compressed blocks
    assert(store.get("kc".getBytes, 1L).map(new String(_)).contains("b1"))
    assert(store.get("kc".getBytes, 2L).map(new String(_)).contains("b2"))
    assert(store.get("kc".getBytes, 3L).map(new String(_)).contains("b3"))
    assert(store.kcHits.get() == 2, "same-key new-ts gets must hit the block cache")
    // a put only adds rick rows: cached blocks stay VALID and the newer
    // rick value still wins the LWW merge over the cached block entry
    store.put(entriesDF(Seq(("kc", 2L, "b2x"))))
    assert(store.get("kc".getBytes, 2L).map(new String(_)).contains("b2x"))
    assert(store.kcHits.get() == 3, "a rick-only put must not invalidate the kc cache")
    // absent-ts probe through the cached blocks (rick and blocks both miss)
    assert(store.get("kc".getBytes, 55L).isEmpty)
    assert(store.kcHits.get() == 4)
    // a pointer commit (compaction) folds b2x into a NEW block generation:
    // the cache must invalidate, and the fresh blocks serve the new value
    store.blockCompact()
    assert(store.get("kc".getBytes, 2L).map(new String(_)).contains("b2x"))
    assert(store.kcHits.get() == 4, "a pointer commit must invalidate the kc cache")
    assert(store.get("kc".getBytes, 1L).map(new String(_)).contains("b1"))
    assert(store.kcHits.get() == 5, "the repopulated cache serves the new generation")
    store.close()
  }

  test("cache byte thresholds: oversized entries are served but never cached (cache.rs kv/kc_cache_threshold)") {
    // kv threshold 1 byte: every non-empty value is "oversized", so the
    // kv cache never holds anything and each repeat same-ts get falls
    // through to the kc layer (observable as one kc hit per repeat).
    // kc threshold 64 bytes: the big key's blocks exceed it and must be
    // served without ever populating the kc cache.
    val store = HelixStore.open(spark, tmpDir("hs-cachethresh"),
      StoreOptions(numShards = 2, bucketSize = 100,
        kvCacheThresholdBytes = 1, kcCacheThresholdBytes = 64))
    val big = "x" * 100
    store.put(entriesDF(Seq(("big", 1L, big), ("big", 2L, big),
      ("sm", 1L, "v"), ("sm", 2L, "w"))))
    store.blockCompact()
    assert(store.get("big".getBytes, 1L).map(new String(_)).contains(big))
    assert(store.get("big".getBytes, 2L).map(new String(_)).contains(big))
    assert(store.kcHits.get() == 0,
      "an entry over kcCacheThresholdBytes must be served without being cached")
    assert(store.get("sm".getBytes, 1L).map(new String(_)).contains("v"))
    assert(store.get("sm".getBytes, 1L).map(new String(_)).contains("v"))
    assert(store.kcHits.get() == 1,
      "a value over kvCacheThresholdBytes must not enter the kv cache " +
        "(the repeat same-ts get should fall through to a kc hit)")
    assert(store.get("sm".getBytes, 2L).map(new String(_)).contains("w"))
    assert(store.kcHits.get() == 2, "small entries still cache normally")
    store.close()
  }

  test("puts proceed during a background compaction; none are lost (compact_sched analogue)") {
    val store = HelixStore.open(spark, tmpDir("hs-async"),
      StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF((0 until 20).map(k => (s"a$k", (k % 10).toLong, s"v$k"))))
    store.scheduleBlockCompact()
    // these puts race the running compaction: the file-snapshot + commit-
    // window move must carry every one of them into the new generation
    for (b <- 0 until 3)
      store.put(entriesDF((0 until 5).map(k => (s"late$b$k", k.toLong, s"w$b$k"))))
    store.awaitCompactions()
    assert(store.toDF.count() == 35, "no put may be lost across the async swap")
    assert(store.get("late21".getBytes, 1L).map(new String(_)).contains("w21"))
    // a second compaction folds the late rick entries into blocks too
    store.blockCompact()
    assert(store.toDF.count() == 35)
    store.close()
  }

  test("rapid compaction requests coalesce through the pending flag (compact_sched dedup)") {
    val store = HelixStore.open(spark, tmpDir("hs-coalesce"),
      StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF((0 until 10).map(k => (s"c$k", k.toLong, s"v$k"))))
    val before = store.compactionsRun.get()
    (0 until 10).foreach(_ => store.scheduleBlockCompact())
    store.awaitCompactions()
    val ran = store.compactionsRun.get() - before
    assert(ran >= 1 && ran <= 3, s"10 rapid requests must coalesce, ran $ran times")
    assert(store.toDF.count() == 10)
    store.close()
  }

  test("a reader plan built before a compaction swap still materializes (graveyard retention)") {
    val store = HelixStore.open(spark, tmpDir("hs-reader"),
      StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF((0 until 12).map(k => (s"r$k", k.toLong % 10, s"v$k"))))
    // plan pins the CURRENT generation's file listing (Spark laziness)
    val df = store.scan((0L, 10L), ("r".getBytes, "s".getBytes))
    store.blockCompact() // swaps generations; old dirs go to the graveyard
    assert(df.collect().length == 12,
      "a pre-swap plan must still resolve against the superseded generation")
    // after retention expires the superseded generation may be vacuumed
    store.vacuum(0L)
    assert(store.scan((0L, 10L), ("r".getBytes, "s".getBytes)).collect().length == 12)
    store.close()
  }

  test("a fully-compacted store reads without the LWW rank shuffle") {
    val store = HelixStore.open(spark, tmpDir("hs-fastread"),
      StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF(Seq(("fa", 1L, "v1"), ("fa", 1L, "v1b"), ("fb", 2L, "v2"))))
    // within-batch ties resolve by content hash — capture the winner
    // rather than assuming input order decides
    val winner = store.get("fa".getBytes, 1L).map(new String(_)).get
    // a read merges LWW inside each pair's task: rick rows need no rank
    // window and no shuffle either
    for (plan <- Seq(store.toDF.queryExecution.executedPlan.toString, {
        store.blockCompact(); store.toDF.queryExecution.executedPlan.toString }))
      assert(!plan.contains("Window") && !plan.contains("Exchange"), plan)
    // semantics unchanged: LWW winner survives, count is deduped
    assert(store.get("fa".getBytes, 1L).map(new String(_)).contains(winner))
    assert(store.toDF.count() == 2)
  }

  test("two instances interleave puts and compactions without losing writes") {
    val dir = tmpDir("hs-twoinst")
    val a = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    val b = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    a.put(entriesDF(Seq(("ia", 1L, "va"))))
    b.blockCompact() // b swaps generations under the cross-process lock
    a.put(entriesDF(Seq(("ib", 2L, "vb")))) // a must land in the NEW generation
    b.blockCompact()
    assert(a.toDF.count() == 2 && b.toDF.count() == 2)
    assert(b.get("ia".getBytes, 1L).map(new String(_)).contains("va"))
    assert(a.get("ib".getBytes, 2L).map(new String(_)).contains("vb"))
  }

  test("kc cache across instances: another instance's compaction invalidates cached blocks") {
    val dir = tmpDir("hs-kctwoinst")
    val a = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 100))
    val b = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 100))
    a.put(entriesDF(Seq(("kx", 1L, "old1"), ("kx", 2L, "old2"))))
    a.blockCompact()
    // a populates its kc cache from the current block generation
    assert(a.get("kx".getBytes, 1L).map(new String(_)).contains("old1"))
    assert(a.get("kx".getBytes, 2L).map(new String(_)).contains("old2"))
    assert(a.kcHits.get() == 1)
    // b supersedes ts=2 and COMMITS a new block generation
    b.put(entriesDF(Seq(("kx", 2L, "new2"))))
    b.blockCompact()
    // a's next get re-reads the pointer, drops the stale cached blocks,
    // and serves b's value — a cache hit here would be a stale read
    assert(a.get("kx".getBytes, 2L).map(new String(_)).contains("new2"),
      "instance a must never serve a block superseded by b's compaction")
    assert(a.kcHits.get() == 1, "the stale generation's blocks must not hit")
    assert(a.get("kx".getBytes, 1L).map(new String(_)).contains("old1"))
    assert(a.kcHits.get() == 2, "the repopulated cache serves the new generation")
    a.close(); b.close()
  }

  test("custom ShardingKeyFn routes puts and gets consistently (fn_registry analogue)") {
    import org.apache.spark.sql.functions.{length => sqlLength, pmod}
    val store = HelixStore.open(spark, tmpDir("hs-shardfn"),
      StoreOptions(numShards = 4, bucketSize = 10,
        shardingFn = Some(k => pmod(sqlLength(k), org.apache.spark.sql.functions.lit(4)))))
    store.put(entriesDF(Seq(("a", 1L, "v1"), ("bb", 1L, "v2"), ("ccc", 1L, "v3"))))
    assert(store.get("a".getBytes, 1L).map(new String(_)).contains("v1"))
    assert(store.get("bb".getBytes, 1L).map(new String(_)).contains("v2"))
    assert(store.get("ccc".getBytes, 1L).map(new String(_)).contains("v3"))
    assert(store.get("dddd".getBytes, 1L).isEmpty)
  }

  test("SimpleTimestampReviewer policy fires compaction and retention like the reference") {
    val r = new graft.core.SimpleTimestampReviewer(5, 10)
    // mirror of the reference's expectations: nothing until 5 ts of
    // progress, compact each 5, outdate each 10 aging one rick-range
    assert(r.observe(3).isEmpty)
    assert(r.observe(4) == Seq(graft.core.CompactAction(0, 4)))
    assert(r.observe(8).isEmpty)
    assert(r.observe(9) == Seq(graft.core.CompactAction(5, 9),
      graft.core.OutdateAction(4)))
    assert(r.observe(14) == Seq(graft.core.CompactAction(10, 14),
      graft.core.OutdateAction(9)))
    assert(r.observe(19) == Seq(graft.core.CompactAction(15, 19),
      graft.core.OutdateAction(14)))
  }

  test("reviewer catch-up emits ONE outdate action for a huge ts jump") {
    // first observe with real epoch-microsecond timestamps: the catch-up
    // must jump to the latest due boundary in one step, not emit tens of
    // thousands of per-rick-range actions (each a full retention pass)
    val rick = 3600L * 1000000L // 1h in µs
    val r = new graft.core.SimpleTimestampReviewer(rick, 24 * rick)
    val maxTs = 1704067200L * 1000000L // 2024-01-01 in epoch-µs
    val actions = r.observe(maxTs)
    val outdates = actions.collect { case o: graft.core.OutdateAction => o }
    assert(outdates.size == 1, s"expected one catch-up outdate, got ${outdates.size}")
    // the single action must cover the whole span: boundary within one
    // outdate-range of maxTs, aligned to a rick-range boundary
    assert(outdates.head.before >= maxTs - 25 * rick && outdates.head.before < maxTs)
    assert((outdates.head.before + 1) % rick == 0)
    // and the policy must keep firing normally afterwards
    assert(r.observe(maxTs + 24 * rick)
      .collect { case o: graft.core.OutdateAction => o }.size == 1)
  }

  test("putReviewed runs the lifecycle automatically") {
    import graft.core.{Lifecycle, SimpleTimestampReviewer}
    val dir = tmpDir("hs-lifecycle")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 5))
    val reviewer = new SimpleTimestampReviewer(5, 10)
    // ts 0..4 → compaction fires OFF the write path; the barrier makes
    // the assertion deterministic
    Lifecycle.putReviewed(store, entriesDF((0 until 5).map(t => ("k", t.toLong, s"v$t"))), reviewer)
    store.awaitCompactions()
    assert(store.hasBlockLayer)
    assert(store.toDF.count() == 5)
    // ts 5..9 → compaction + outdate(<=4): first bucket gone
    Lifecycle.putReviewed(store, entriesDF((5 until 10).map(t => ("k", t.toLong, s"v$t"))), reviewer)
    store.awaitCompactions()
    val left = store.toDF.collect().map(_.getAs[Long]("ts")).sorted
    assert(left.sameElements(Array(5L, 6L, 7L, 8L, 9L)), left.mkString(","))
  }

  test("streamingPutReviewed runs the lifecycle per micro-batch with async compaction") {
    import graft.core.{Lifecycle, SimpleTimestampReviewer}
    val srcDir = tmpDir("hs-srev-src")
    // two files → (at least) two micro-batches; ts 0..9 crosses the
    // rick_range=5 boundary so the reviewer fires compaction mid-stream
    entriesDF((0 until 5).map(t => ("sk", t.toLong, s"v$t")))
      .write.mode("overwrite").parquet(srcDir)
    entriesDF((5 until 10).map(t => ("sk", t.toLong, s"v$t")))
      .write.mode("append").parquet(srcDir)
    val store = HelixStore.open(spark, tmpDir("hs-srev"),
      StoreOptions(numShards = 2, bucketSize = 5))
    val reviewer = new SimpleTimestampReviewer(5, 100)
    val stream = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val q = Lifecycle.streamingPutReviewed(store, stream, tmpDir("hs-srev-ckpt"), reviewer)
    try q.processAllAvailable() finally q.stop()
    store.awaitCompactions()
    assert(store.hasBlockLayer, "reviewer must have fired a compaction")
    assert(store.toDF.count() == 10)
    for (t <- 0 until 10)
      assert(store.get("sk".getBytes, t.toLong).map(new String(_)).contains(s"v$t"))
    store.close()
  }

  test("end-to-end: the events table ingested as a store reconciles with table queries") {
    import org.apache.spark.sql.functions._
    val ev = graft.core.Tables.events(spark, Sf)
    val entries = ev.select(
      col("user_id").cast("string").cast("binary").as("key"),
      unix_micros(col("ts")).as("ts"),
      col("value").cast("string").cast("binary").as("value"))
    val store = HelixStore.open(spark, tmpDir("hs-e2e"),
      StoreOptions(numShards = 8, bucketSize = 86400L * 1000000L))
    store.put(entries)
    assert(store.toDF.count() == ev.count())
    store.blockCompact()
    assert(store.toDF.count() == ev.count(), "compaction must not lose entries")
    // latest-per-key through the store == latest-per-key over the table
    val viaStore = store.latest(Long.MaxValue).collect()
      .map(r => new String(r.getAs[Array[Byte]]("key")) ->
        new String(r.getAs[Array[Byte]]("value"))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc)
    val viaTable = ev.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => r.getAs[Long]("user_id").toString ->
        r.getAs[Double]("value").toString).toMap
    assert(viaStore == viaTable)
  }

  test("temp view serves SQL over the store; re-register refreshes the snapshot") {
    val store = HelixStore.open(spark, tmpDir("hs-view"),
      StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF(Seq(("va", 1L, "x"), ("vb", 2L, "y"))))
    store.createOrReplaceTempView("hs_view")
    assert(spark.sql("SELECT count(*) FROM hs_view").head().getLong(0) == 2)
    // snapshot semantics: re-register after writes (REFRESH discipline)
    store.put(entriesDF(Seq(("vc", 3L, "z"))))
    store.createOrReplaceTempView("hs_view")
    assert(spark.sql("SELECT count(*) FROM hs_view").head().getLong(0) == 3)
    assert(spark.sql(
      "SELECT cast(value AS STRING) FROM hs_view WHERE ts = 3").head().getString(0) == "z")
    // invalid options fail fast
    intercept[IllegalArgumentException] {
      HelixStore.open(spark, tmpDir("hs-bad"), StoreOptions(numShards = 0))
    }
  }

  test("EntryIO roundtrips entries through parquet, orc, csv, and json") {
    import graft.sources.EntryIO
    val df = entriesDF(Seq(("a", 1L, "x"), ("b", 2L, "y")))
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value")))).toSet
    val expected = Set(("a", 1L, "x"), ("b", 2L, "y"))
    val pq = tmpDir("eio-pq"); EntryIO.writeParquet(df, s"$pq/d")
    assert(asSet(EntryIO.readParquet(spark, s"$pq/d")) == expected)
    val oc = tmpDir("eio-orc"); EntryIO.writeOrc(df, s"$oc/d")
    assert(asSet(EntryIO.readOrc(spark, s"$oc/d")) == expected)
    val cv = tmpDir("eio-csv"); EntryIO.writeCsv(df, s"$cv/d")
    assert(asSet(EntryIO.readCsv(spark, s"$cv/d")) == expected)
    val js = tmpDir("eio-json"); EntryIO.writeJson(df, s"$js/d")
    assert(asSet(EntryIO.readJson(spark, s"$js/d")) == expected)
  }

  test("interrupted compaction swap rolls back on reopen (crash recovery)") {
    val dir = tmpDir("hs-crash")
    val s1 = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    s1.put(entriesDF(Seq(("ka", 1L, "va"), ("kb", 2L, "vb"))))
    s1.blockCompact()
    s1.put(entriesDF(Seq(("kc", 3L, "vc"))))
    // simulate a compaction that crashed AFTER writing its new
    // generation dirs but BEFORE the pointer commit: orphan r-/b-/m-
    // dirs with garbage content sit beside the committed generations
    val root = java.nio.file.Paths.get(dir)
    for (orphan <- Seq("r-99", "b-99", "m-99")) {
      val d = root.resolve(orphan).resolve("shard=0").resolve("bucket=0")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("junk.parquet"), "not parquet".getBytes)
    }
    val s2 = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    // orphans rolled back, committed data fully intact
    for (orphan <- Seq("r-99", "b-99", "m-99"))
      assert(!java.nio.file.Files.exists(root.resolve(orphan)), s"$orphan must be rolled back")
    assert(s2.get("ka".getBytes, 1L).map(new String(_)).contains("va"))
    assert(s2.get("kb".getBytes, 2L).map(new String(_)).contains("vb"))
    assert(s2.get("kc".getBytes, 3L).map(new String(_)).contains("vc"))
    assert(s2.toDF.count() == 3)
  }

  test("two store instances on one path mint distinct seqs: cross-instance LWW holds") {
    val dir = tmpDir("hs-twoinst")
    val s1 = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    val s2 = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    s1.put(entriesDF(Seq(("k", 1L, "from-s1-old"))))
    s2.put(entriesDF(Seq(("k", 1L, "from-s2-mid")))) // must claim a seq ABOVE s1's
    s1.put(entriesDF(Seq(("k", 1L, "from-s1-new")))) // and s1 must then go above s2's
    assert(s1.get("k".getBytes, 1L).map(new String(_)).contains("from-s1-new"))
    assert(s2.get("k".getBytes, 1L).map(new String(_)).contains("from-s1-new"))
    s1.blockCompact()
    assert(s2.toDF.count() == 1)
  }

  test("seq high-water recovers from data when _seqs is lost (corruption tolerance)") {
    val dir = tmpDir("hs-seqloss")
    val s1 = HelixStore.open(spark, dir, StoreOptions(numShards = 1, bucketSize = 10))
    s1.put(entriesDF(Seq(("k", 1L, "old"))))
    s1.put(entriesDF(Seq(("k", 1L, "older-write-wins-without-recovery"))))
    // wipe the seq ledger — a fresh instance must rebuild the high-water
    // mark from max(seq) in the data, or new writes would LOSE LWW ties
    val seqs = java.nio.file.Paths.get(dir).resolve("_seqs")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(seqs).iterator().asScala.toList
      .foreach(java.nio.file.Files.delete)
    val s2 = HelixStore.open(spark, dir, StoreOptions(numShards = 1, bucketSize = 10))
    s2.put(entriesDF(Seq(("k", 1L, "newest"))))
    assert(s2.get("k".getBytes, 1L).map(new String(_)).contains("newest"))
  }

  test("outdate is logical: in-flight readers survive; compaction + vacuum reclaim") {
    val dir = tmpDir("hs-logout")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF(Seq(("oa", 5L, "old"), ("oa", 15L, "mid"), ("oa", 25L, "new"))))
    val preOutdate = store.scan((0L, 30L), ("o".getBytes, "p".getBytes))
    store.outdate(20L)
    // a plan built BEFORE the cutoff still materializes (files intact)
    assert(preOutdate.collect().length == 3,
      "retention must not break a reader plan already in flight")
    // new reads see the cutoff immediately
    assert(store.toDF.collect().map(_.getAs[Long]("ts")).toSeq == Seq(25L))
    // compaction physically reclaims: the rewritten generation holds
    // only live buckets, and vacuum removes the graveyarded old dirs
    store.blockCompact()
    store.vacuum(0L)
    val bucketDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator()
    val liveBuckets = scala.jdk.CollectionConverters.IteratorHasAsScala(bucketDirs)
      .asScala.map(_.getFileName.toString).filter(_.startsWith("bucket=")).toSet
    assert(liveBuckets == Set("bucket=2"),
      s"only the surviving bucket dir remains after blockCompact+vacuum: $liveBuckets")
    assert(store.toDF.count() == 1)
    // fully-outdated store block-compacts to a clean empty state
    store.outdate(1000L)
    store.blockCompact()
    assert(store.toDF.count() == 0)
    store.put(entriesDF(Seq(("ob", 2000L, "fresh"))))
    assert(store.get("ob".getBytes, 2000L).map(new String(_)).contains("fresh"))
  }

  test("putWritersPerPartition sizes the files one put writes (WriteBatchConfig analogue)") {
    // 100 rows, 8 input tasks, all routed to the single (shard=0, bucket=0)
    val rows = entriesDF((0 until 100).map(k => (s"wk$k", 1L, s"v$k"))).repartition(8)
    def opts(n: Int) = StoreOptions(numShards = 1, bucketSize = 1000,
      putWritersPerPartition = n)

    val one = HelixStore.open(spark, tmpDir("hs-writers1"), opts(1))
    one.put(rows)
    assert(one.rickFileCount(0, 0L) == 1,
      "writers=1 must coalesce each touched partition into one file per put")

    val four = HelixStore.open(spark, tmpDir("hs-writers4"), opts(4))
    four.put(rows)
    val c4 = four.rickFileCount(0, 0L)
    assert(c4 > 1 && c4 <= 4, s"writers=4 must fan out to 2..4 files, got $c4")

    val zero = HelixStore.open(spark, tmpDir("hs-writers0"), opts(0))
    zero.put(rows)
    assert(zero.rickFileCount(0, 0L) == 8,
      "writers=0 skips the pre-write shuffle: one file per input task")

    // write fan-out is physical only — read semantics are identical
    Seq(one, four, zero).foreach { s =>
      assert(s.toDF.count() == 100)
      assert(s.get("wk7".getBytes, 1L).map(new String(_)).contains("v7"))
      s.close()
    }
    intercept[IllegalArgumentException] {
      HelixStore.open(spark, tmpDir("hs-writersneg"), opts(-1))
    }
  }

  test("a repeated outdate commits nothing and buries no dir twice; the kv cache survives it") {
    val dir = tmpDir("hs-outdate-again")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 1, bucketSize = 10))
    // rick buckets 0-4
    store.put(entriesDF((0 until 5).map(b => ("k", b * 10L + 1, s"v$b"))))
    def gen = pointerOf(dir)("gen").toLong
    def graveyard: Seq[String] =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "_graveyard")))
        .linesIterator.map(_.trim).filter(_.nonEmpty).map(_.split(" ")(0)).toSeq
    val gen0 = gen
    store.outdate(20L)
    store.outdate(30L)
    val before = pointerOf(dir)
    store.outdate(30L)
    // the kv cache's epoch is (pointer, max write seq): a pointer left
    // as it was keeps the cache
    assert(pointerOf(dir) == before, "an outdate that raises no cutoff commits nothing")
    val rick = pointerOf(dir)("rows")
    assert(graveyard.sorted == (0 until 3).map(b => s"$rick/shard=0/bucket=$b"),
      s"graveyard: $graveyard")
    assert(gen - gen0 == 2, "only the two outdates that raise the cutoff commit")
    assert(store.get("k".getBytes, 41L).map(new String(_)).contains("v4"))
    assert(store.toDF.collect().map(_.getAs[Long]("ts")).sorted.toSeq == Seq(31L, 41L))
    store.close()
  }

  test("an in-process scan taken before blockCompact + outdate returns the pre-mutation rows") {
    val store = HelixStore.open(spark, tmpDir("hs-scan-inproc-snap"),
      StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF((0 until 12).map(k => (f"p$k%02d", 3L * k, s"v$k"))))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String)] =
      df.collect().toSeq.map(r => (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value"))))
    val pre = (0 until 12).map(k => (f"p$k%02d", 3L * k, s"v$k"))
    val df = store.scan((0L, 40L), ("p".getBytes, "q".getBytes))
    assert(sourceOf(df) == "LocalRelation", "a small range reads its rows at scan()")
    store.put(entriesDF(Seq(("p11", 33L, "new"))))
    store.blockCompact()
    store.outdate(20L)
    // the superseded generations are deleted too: the rows are in the frame
    store.vacuum(0L)
    assert(rows(df) == pre)
    assert(rows(store.scan((0L, 40L), ("p".getBytes, "q".getBytes))) ==
      pre.filter(_._2 >= 20L).map { case (k, t, v) => (k, t, if (k == "p11") "new" else v) })
    store.close()
  }

  test("a small listing whose decoded entries pass InProcessScanMaxBytes is read through Spark") {
    val dir = tmpDir("hs-scan-held")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 1000))
    // equal 8 KB values: the parquet files stay small, the decoded
    // entries do not
    val n = (HelixStore.InProcessScanMaxBytes / 8192 + 10).toInt
    val value = "x" * 8192
    store.put(entriesDF((0 until n).map(k => (f"z$k%04d", k.toLong, value))))
    val fileBytes = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
      finally w.close()
    }
    assert(fileBytes <= HelixStore.InProcessScanMaxBytes, s"listing of $fileBytes bytes")
    val all = store.scan((0L, n.toLong), ("z".getBytes, "{".getBytes))
    assert(sourceOf(all) == "LogicalRDD", "past the decoded-bytes bound the scan reads in tasks")
    assert(all.count() == n)
    assert(all.collect().forall(r => new String(r.getAs[Array[Byte]]("value")) == value))
    // a key range holding fewer entries stays in process
    val few = store.scan((0L, n.toLong), ("z".getBytes, "z0010".getBytes))
    assert(sourceOf(few) == "LocalRelation" && few.count() == 10)
    store.close()
  }

  test("outdate drops old buckets without touching recent ones") {
    val store = HelixStore.open(spark, tmpDir("hs-out"), StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF(Seq(("a", 5L, "old"), ("a", 15L, "mid"), ("a", 25L, "new"))))
    store.outdate(20L)
    val left = store.toDF.collect().map(_.getAs[Long]("ts")).sorted
    assert(left.sameElements(Array(25L)),
      s"bucket of ts=25 must survive a cutoff at 20 (bucket floor), got ${left.mkString(",")}")
    assert(store.get("a".getBytes, 5L).isEmpty)
  }

  test("outdate buries exactly the sub-cutoff bucket dirs of both layers") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("hs-outbury")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    val keys = (0 until 4).map(k => s"ob$k")
    // buckets 0..3 in the block layer, then buckets 0..3 again in the rick
    store.put(entriesDF(for (k <- keys; b <- 0 until 4) yield (k, b * 10L + 1, s"old$b")))
    store.blockCompact()
    store.put(entriesDF(for (k <- keys; b <- 0 until 4) yield (k, b * 10L + 2, s"new$b")))
    val live = pointerOf(dir)
    /** `gen`'s bucket dirs, as (shard dir, bucket). */
    def bucketDirs(gen: String): Set[(String, Long)] = {
      val layer = java.nio.file.Paths.get(dir, gen)
      java.nio.file.Files.walk(layer).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("bucket="))
        .map(d => (d.getParent.getFileName.toString,
          d.getFileName.toString.stripPrefix("bucket=").toLong))
        .toSet
    }
    val layers = Seq(live("rows"), live("blocks"))
    val before = layers.map(g => g -> bucketDirs(g)).toMap
    for (g <- layers)
      assert(before(g).map(_._2) == Set(0L, 1L, 2L, 3L), s"$g before outdate: ${before(g)}")
    store.outdate(20L) // cutoff: bucket 2
    store.vacuum(0L)
    for (g <- layers)
      assert(bucketDirs(g) == before(g).filter(_._2 >= 2L),
        s"$g after outdate + vacuum: ${bucketDirs(g)}, before: ${before(g)}")
    val left = store.toDF.collect().map(r => (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts")))
    assert(left.toSet == (for (k <- keys; b <- 2 until 4; t <- Seq(1L, 2L)) yield (k, b * 10L + t)).toSet)
  }

  test("commit-time ledger pruning cannot let a second instance re-mint seqs") {
    // Instance B caches a low seq counter; instance A then mints higher
    // seqs and COMMITS (a compaction), which prunes the `_seqs` ledger
    // below the pointer stamp. B's next mint must consult the refreshed
    // stamp — without it, B re-creates a pruned ledger file and its new
    // write loses LWW to A's older data.
    val dir = tmpDir("hs-seqprune")
    val o = StoreOptions(numShards = 1, bucketSize = 10)
    val sA = HelixStore.open(spark, dir, o)
    val sB = HelixStore.open(spark, dir, o)
    sB.put(entriesDF(Seq(("k", 1L, "b-seed")))) // B's counter now low
    sA.put(entriesDF(Seq(("k", 1L, "a-mid1"))))
    sA.put(entriesDF(Seq(("k", 1L, "a-mid2"))))
    sA.blockCompact() // stamps seqhw into the pointer and prunes the ledger
    sB.put(entriesDF(Seq(("k", 1L, "b-new")))) // must mint ABOVE the stamp
    assert(sA.get("k".getBytes, 1L).map(new String(_)).contains("b-new"),
      "B's newer write must win LWW from A's view")
    assert(sB.get("k".getBytes, 1L).map(new String(_)).contains("b-new"),
      "B's newer write must win LWW from B's own view")
  }

  test("within-batch LWW winner is independent of input row order (retry determinism)") {
    // The subseq tiebreak hashes row CONTENT: the same duplicate rows in
    // a different input order (as a retried task of a nondeterministic
    // source could produce) must elect the same winner.
    val s1 = HelixStore.open(spark, tmpDir("hs-dup-ord1"))
    val s2 = HelixStore.open(spark, tmpDir("hs-dup-ord2"))
    s1.put(entriesDF(Seq(("dup", 1L, "x"), ("dup", 1L, "y"))))
    s2.put(entriesDF(Seq(("dup", 1L, "y"), ("dup", 1L, "x"))))
    val w1 = s1.get("dup".getBytes, 1L).map(new String(_))
    val w2 = s2.get("dup".getBytes, 1L).map(new String(_))
    assert(w1.isDefined && w1 == w2,
      s"winner depends on input order: $w1 vs $w2")
  }

  test("ScanOptions pins scan parallelism and split size (ScanOption analogue)") {
    val store = HelixStore.open(spark, tmpDir("hs-scanopt"),
      StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF((0 until 40).map(i => (f"k$i%02d", i.toLong, s"v$i"))))
    val full = (0L, 40L) -> (Array[Byte](0), "z".getBytes)
    // targetPartitions pins the output partition count, ordered or not
    val ord = store.scan(full._1, full._2, ordered = true,
      scanOpts = graft.core.ScanOptions(targetPartitions = 3))
    assert(ord.rdd.getNumPartitions == 3)
    // global (key, ts) order must survive the pinned range partitioning
    val keys = ord.collect().map(r => new String(r.getAs[Array[Byte]]("key")))
    assert(keys.sameElements(keys.sorted), "ordered scan lost its order")
    val unord = store.scan(full._1, full._2, ordered = false,
      scanOpts = graft.core.ScanOptions(targetPartitions = 2))
    assert(unord.rdd.getNumPartitions == 2)
    // maxPartitionBytes: a tiny per-scan split size must pack the pairs
    // into more tasks than the session default (an unordered read has
    // no shuffle, so output partitions = tasks). Setting it takes the
    // task path; the session's default split size is set explicitly for
    // that reason, as the range would otherwise read on the driver.
    store.blockCompact()
    val p0 = store.scan(full._1, full._2, ordered = false, scanOpts = sparkScanPath)
      .rdd.getNumPartitions
    val split = store.scan(full._1, full._2, ordered = false,
      scanOpts = graft.core.ScanOptions(maxPartitionBytes = Some(64L)))
    assert(sourceOf(split) == "LogicalRDD", "maxPartitionBytes must take the task path")
    val p1 = split.rdd.getNumPartitions
    assert(p1 > p0, s"tiny maxPartitionBytes must add splits: $p1 <= $p0")
    // and rows are identical either way, also read in process
    assert(split.count() == 40)
    val inProcess = store.scan(full._1, full._2, ordered = false)
    assert(sourceOf(inProcess) == "LocalRelation", "a small range reads on the driver")
    assert(inProcess.count() == 40)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
      (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value")))).sorted
    assert(rows(inProcess) == rows(split))
  }

  test("the store lock is one OS lock on _mutex: one channel, never read, written, moved or deleted") {
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src", "main", "scala", "graft", "core", "HelixStore.scala"))
    def hits(token: String): Seq[Int] =
      java.util.regex.Pattern.quote(token).r.findAllMatchIn(src).map(_.start).toSeq
    def span(head: String): (Int, Int) = {
      val at = src.indexOf(head)
      assert(at >= 0, s"$head not found")
      (at, src.indexOf("\n  }", at))
    }
    // closing ANY other channel to the file may drop the JVM's lock, so
    // the path is named once and used once: as the file of the one
    // FileChannel, which acquireMutex opens
    assert(hits("\"_mutex\"").size == 1, "a second name for the lock file")
    val decl = src.indexOf("private val mutexFile: Path = root.resolve(\"_mutex\")")
    val open = src.indexOf("FileChannel.open(mutexFile,")
    assert(decl >= 0 && open >= 0)
    assert(hits("mutexFile") == Seq(decl + "private val ".length, open + "FileChannel.open(".length),
      s"mutexFile used beyond its one channel, at ${hits("mutexFile")}")
    assert(hits("FileChannel.open(") == Seq(open), "a second FileChannel")
    val (a, b) = span("private def acquireMutex(")
    assert(open > a && open < b, "the lock file is opened outside acquireMutex")
    assert(hits(".lock()").size == 1 && hits(".lock()").forall(i => i > a && i < b))
    val (ra, rb) = span("private def releaseMutex(")
    assert(hits("lockChannel.close()").nonEmpty &&
      hits("lockChannel.close()").forall(i => (i > a && i < b) || (i > ra && i < rb)))
    for (gone <- Seq("lockStaleMs", "instanceId", "lockHeartbeat", "_mutex.stale", "CREATE_NEW"))
      assert(!src.contains(gone), s"HelixStore still has $gone")
  }

  test("a put waits while another process holds _mutex and proceeds once that process is killed") {
    val dir = tmpDir("hs-xproc-lock")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    store.put(entriesDF(Seq(("a", 1L, "v1"))))
    val batch = entriesDF(Seq(("b", 2L, "v2")))
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(javaBin, "-Xmx32m", "-cp", System.getProperty("java.class.path"),
      "graft.MutexHolder", dir)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val done = new java.util.concurrent.CountDownLatch(1)
    val result = new java.util.concurrent.atomic.AtomicReference[scala.util.Try[Unit]]()
    val writer = new Thread(() => { result.set(scala.util.Try(store.put(batch))); done.countDown() })
    try {
      val line = new java.io.BufferedReader(
        new java.io.InputStreamReader(child.getInputStream)).readLine()
      assert(line == "locked", s"the child did not take the lock: $line")
      writer.start()
      assert(!done.await(3, java.util.concurrent.TimeUnit.SECONDS),
        "a put returned while another process held _mutex")
      // SIGKILL: the holder never releases; the kernel frees its lock
      child.destroyForcibly().waitFor()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the put still waits after the lock holder was killed")
    } finally child.destroyForcibly()
    assert(result.get == scala.util.Success(()))
    assert(store.get("a".getBytes, 1L).map(new String(_)).contains("v1"))
    assert(store.get("b".getBytes, 2L).map(new String(_)).contains("v2"))
    store.close()
  }

  test("two instances on one path in one JVM: a put waits for the other instance's compaction") {
    val dir = tmpDir("hs-jvm-gate")
    val opts = StoreOptions(numShards = 1, bucketSize = 10,
      codecs = Map(PausingCodec.name -> PausingCodec),
      codecDispatch = Some((_: Array[Byte]) => PausingCodec.name))
    val a = HelixStore.open(spark, dir, opts)
    a.put(entriesDF(Seq(("k", 1L, "a1"))))
    a.blockCompact() // blocks to decode, so A's next compaction passes PausingCodec
    val b = HelixStore.open(spark, dir, opts)
    a.put(entriesDF(Seq(("k", 2L, "a2"))))
    val batch = entriesDF(Seq(("j", 3L, "b3")))
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val compacted = new java.util.concurrent.atomic.AtomicReference[scala.util.Try[Unit]]()
    val put = new java.util.concurrent.atomic.AtomicReference[scala.util.Try[Unit]]()
    val putDone = new java.util.concurrent.CountDownLatch(1)
    val compactor = new Thread(() => compacted.set(scala.util.Try(a.blockCompact())))
    val writer = new Thread(() => { put.set(scala.util.Try(b.put(batch))); putDone.countDown() })
    PausingCodec.pauseOn = (null, entered, release) // the compaction task's thread
    try {
      compactor.start()
      assert(entered.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "A's compaction never decoded a block")
      writer.start()
      assert(!putDone.await(3, java.util.concurrent.TimeUnit.SECONDS),
        s"B's put returned (${put.get}) while A's compaction held the store lock")
    } finally { PausingCodec.pauseOn = null; release.countDown() }
    assert(putDone.await(120, java.util.concurrent.TimeUnit.SECONDS), "B's put never ran")
    compactor.join(120000)
    assert(compacted.get == scala.util.Success(()))
    assert(put.get == scala.util.Success(()))
    val want = Seq(("k", 1L, "a1"), ("k", 2L, "a2"), ("j", 3L, "b3"))
    for (st <- Seq(a, b); (k, ts, v) <- want)
      assert(st.get(k.getBytes, ts).map(new String(_)).contains(v), s"($k, $ts) lost")
    a.close(); b.close()
  }

  test("compact prompt interval compacts the rick automatically (compact_prompt_interval)") {
    val store = HelixStore.open(spark, tmpDir("hs-prompt"),
      StoreOptions(numShards = 2, bucketSize = 10,
        compactPromptIntervalMs = Some(300L)))
    store.put(entriesDF(Seq(("k", 1L, "v1"), ("j", 2L, "v2"))))
    // the daemon prompt must push the rick into the block layer without
    // any explicit compaction call
    val deadline = System.currentTimeMillis() + 30000
    while (!store.hasBlockLayer && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    store.awaitCompactions()
    assert(store.hasBlockLayer, "prompt timer never compacted")
    assert(store.get("k".getBytes, 1L).map(new String(_)).contains("v1"))
    assert(store.toDF.count() == 2)
    store.close()
  }

  test("StoreOptions rejects a non-positive task buffer / prompt interval") {
    intercept[IllegalArgumentException] {
      HelixStore.open(spark, tmpDir("hs-tbuf"), StoreOptions(taskBufferSize = 0))
    }
    intercept[IllegalArgumentException] {
      HelixStore.open(spark, tmpDir("hs-iv"),
        StoreOptions(compactPromptIntervalMs = Some(0L)))
    }
  }

  test("taskBufferSize bounds queued background compactions; excess coalesces") {
    val store = HelixStore.open(spark, tmpDir("hs-tbuf2"),
      StoreOptions(numShards = 2, bucketSize = 10, taskBufferSize = 2))
    store.put(entriesDF((0 until 10).map(k => (s"b$k", k.toLong, s"v$k"))))
    val before = store.compactionsRun.get()
    (0 until 20).foreach(_ => store.scheduleBlockCompact())
    store.awaitCompactions()
    val ran = store.compactionsRun.get() - before
    // at most: one started immediately + 2 buffered per drain cycle —
    // far fewer than the 20 requests, and never zero
    assert(ran >= 1 && ran <= 6, s"20 rapid requests with buffer=2 ran $ran times")
    assert(store.toDF.count() == 10)
    store.close()
  }

  test("put casts to the documented entry types: an INT ts reads back through get, multiGet and scan") {
    val store = HelixStore.open(spark, tmpDir("hs-intts"),
      StoreOptions(numShards = 2, bucketSize = 10))
    val intTs = StructType(Seq(StructField("key", BinaryType),
      StructField("ts", IntegerType), StructField("value", BinaryType),
      StructField("extra", StringType)))
    def intEntries(rows: Seq[(String, Int, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (k, t, v) => Row(k.getBytes, t, v.getBytes, "x") }, 2),
      intTs)
    store.put(intEntries((0 until 6).map(k => (s"i$k", k, s"b$k"))))
    store.blockCompact()
    store.put(intEntries((0 until 6).map(k => (s"i$k", 10 + k, s"r$k"))))
    for (k <- 0 until 6) {
      assert(store.get(s"i$k".getBytes, k.toLong).map(new String(_)).contains(s"b$k"))
      assert(store.get(s"i$k".getBytes, 10L + k).map(new String(_)).contains(s"r$k"))
    }
    val probes: Seq[(Array[Byte], Long)] =
      (0 until 6).flatMap(k => Seq((s"i$k".getBytes: Array[Byte], k.toLong),
        (s"i$k".getBytes: Array[Byte], 10L + k)))
    assert(store.multiGet(probes).map(_.map(new String(_))) ==
      (0 until 6).flatMap(k => Seq(Some(s"b$k"), Some(s"r$k"))))
    val scanned = store.scan((0L, 20L), ("i".getBytes, "j".getBytes)).collect()
      .map(r => (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts")))
    assert(scanned.toSeq == (0 until 6).flatMap(k => Seq((s"i$k", k.toLong), (s"i$k", 10L + k))))
    val noValue = intEntries(Seq(("i0", 0, "v"))).drop("value")
    val err = intercept[IllegalArgumentException] { store.put(noValue) }
    assert(err.getMessage.contains("value"), err.getMessage)
    store.close()
  }

  /** `f`'s result and the first-stage name of every Spark job `f`
    * started on this thread (the listener bus drained before and after). */
  private def withJobs[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null)
          jobs.add(j.stageInfos.minBy(_.stageId).name): Unit
    }
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc, 10000)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "1")
      val out = try f finally sc.setLocalProperty(tag, null)
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc, 10000)
      (out, jobs.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The rick generation dir the committed pointer names. */
  private def rickDir(root: String): java.nio.file.Path = {
    val rows = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_current"))).split('\n')
      .collectFirst { case l if l.startsWith("rows=") => l.stripPrefix("rows=").trim }.get
    java.nio.file.Paths.get(root, rows)
  }

  test("store reads infer no schema: an uncached get runs no job, multiGet and scan run no parquet-at job") {
    // the blocks hold bucket 0, the rick bucket 1 only
    def filled(name: String, opts: StoreOptions): HelixStore = {
      val store = HelixStore.open(spark, tmpDir(name), opts)
      store.put(entriesDF((0 until 20).map(k => (f"j$k%02d", k.toLong % 10, s"b$k"))))
      store.blockCompact()
      store.put(entriesDF((0 until 20).map(k => (f"j$k%02d", 10L + k % 10, s"r$k"))))
      store
    }
    val opts = StoreOptions(numShards = 2, bucketSize = 10)
    val store = filled("hs-jobs", opts)
    val noKc = filled("hs-jobs-nokc", opts.copy(kcCacheSize = 0))
    def schemaJobs(names: Seq[String]) = names.filter(_.startsWith("parquet at"))
    def jobless(what: String, get: => Option[Array[Byte]], expect: Option[String]): Unit = {
      val (v, jobs) = withJobs(get)
      assert(v.map(new String(_)) == expect, what)
      assert(jobs.isEmpty, s"$what must run no Spark job: $jobs")
    }
    // the first get after each compaction reads its pair's dirs and
    // nothing else; every get below is a kv-cache miss: each (key, ts) is new
    jobless("the first get after a compaction", store.get("j00".getBytes, 0L), Some("b0"))
    jobless("the first get after a compaction with kcCacheSize = 0",
      noKc.get("j00".getBytes, 0L), Some("b0"))
    jobless("a block-only pair", store.get("j05".getBytes, 5L), Some("b5"))
    jobless("a rick-only pair", store.get("j02".getBytes, 12L), Some("r2"))
    jobless("kcCacheSize = 0", noKc.get("j06".getBytes, 6L), Some("b6"))
    jobless("decompress = false", store.get("j07".getBytes, 7L, decompress = false), None)
    jobless("decompress = false on the rick", store.get("j04".getBytes, 14L, decompress = false),
      Some("r4"))
    def joblessBatch(what: String, batch: => Seq[Option[Array[Byte]]],
        expect: Seq[Option[String]]): Unit = {
      val (v, jobs) = withJobs(batch)
      assert(v.map(_.map(new String(_))) == expect, what)
      assert(jobs.isEmpty, s"multiGet on $what must run no Spark job: $jobs")
    }
    def probes(ps: (String, Long)*): Seq[(Array[Byte], Long)] =
      ps.map { case (k, t) => (k.getBytes, t) }
    joblessBatch("block-only pairs", store.multiGet(probes(("j01", 1L), ("j09", 9L), ("j11", 1L))),
      Seq(Some("b1"), Some("b9"), Some("b11")))
    joblessBatch("rick-only pairs", store.multiGet(probes(("j02", 12L), ("j11", 11L))),
      Seq(Some("r2"), Some("r11")))
    val mixed = probes(("j01", 1L), ("j02", 12L), ("j09", 9L), ("j11", 1L), ("zz", 5L))
    val mixedHits = Seq(Some("b1"), Some("r2"), Some("b9"), Some("b11"), None)
    joblessBatch("mixed pairs", store.multiGet(mixed), mixedHits)
    joblessBatch("kcCacheSize = 0", noKc.multiGet(mixed), mixedHits)
    joblessBatch("decompress = false", store.multiGet(mixed, decompress = false),
      Seq(None, Some("r2"), None, None, None))
    val (n, scanJobs) = withJobs(store.scan((0L, 20L), ("j".getBytes, "k".getBytes)).count())
    assert(n == 40)
    assert(scanJobs.nonEmpty && schemaJobs(scanJobs).isEmpty, s"scan jobs: $scanJobs")
    // a pair whose rick partition exists beside its blocks: the rick
    // entry still LWW-wins over the block value, with no job
    for (st <- Seq(store, noKc)) {
      st.put(entriesDF(Seq(("j03", 3L, "patched"))))
      jobless("a rick entry over a block entry", st.get("j03".getBytes, 3L), Some("patched"))
      jobless("its block neighbour", st.get("j13".getBytes, 3L), Some("b13"))
      joblessBatch("a rick entry over a block entry",
        st.multiGet(probes(("j03", 3L), ("j13", 3L))), Seq(Some("patched"), Some("b13")))
    }
    jobless("decompress = false beside blocks",
      store.get("j03".getBytes, 3L, decompress = false), Some("patched"))
    store.close(); noKc.close()
  }

  test("a scan of compacted buckets beside a rick in another bucket reads only its buckets") {
    val dir = tmpDir("hs-scan-listing")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    // blocks in buckets 0-4, then a rick holding bucket 3 only, one of
    // its entries over a block entry; bucket 0 outdated
    val blockRows = (0 until 21).map(k => (f"s$k%02d", 2L * k + 2, s"b$k"))
    val rickRows = (0 until 4).map(k => (f"s$k%02d", 30L + k, s"r$k")) :+ (("s14", 30L, "r-over"))
    store.put(entriesDF(blockRows))
    store.blockCompact()
    store.put(entriesDF(rickRows))
    store.outdate(10L)
    // non-parquet bytes in the sub-cutoff block bucket (0) and in a block
    // bucket past the ranges read (4): a scan that read either would fail
    val blocks = java.nio.file.Paths.get(dir, pointerOf(dir)("blocks"))
    val garbage = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(blocks)
      try w.iterator().asScala.filter(f => f.toString.endsWith(".parquet") &&
        Set("bucket=0", "bucket=4")(f.getParent.getFileName.toString)).toList
      finally w.close()
    }
    assert(garbage.nonEmpty)
    garbage.foreach(f => java.nio.file.Files.write(f, "not parquet".getBytes))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String)] =
      df.collect().toSeq.map(r => (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value"))))
    val live = (blockRows ++ rickRows).map { case (k, t, v) => (k, t) -> v }.toMap
    // a block-only range and one across both layers, each on both paths
    for ((t0, t1) <- Seq((0L, 30L), (20L, 40L)); (opts, source) <- Seq(
        graft.core.ScanOptions() -> "LocalRelation", sparkScanPath -> "LogicalRDD")) {
      val df = store.scan((t0, t1), ("s".getBytes, "t".getBytes), scanOpts = opts)
      assert(sourceOf(df) == source, s"[$t0, $t1)")
      assert(rows(df) == live.toSeq.collect { case ((k, t), v) if t >= math.max(t0, 10L) && t < t1 =>
        (k, t, v) }.sorted, s"[$t0, $t1) read from $source")
    }
    store.close()
  }

  test("a rick file with an INT32 ts reads through get and orders against blocks by LWW") {
    val root = tmpDir("hs-int32")
    val store = HelixStore.open(spark, root, StoreOptions(numShards = 1, bucketSize = 10))
    store.put(entriesDF(Seq(("w", 1L, "blk1"), ("w", 2L, "blk2"))))
    store.blockCompact()
    // a rick file as an older writer could leave it: ts stored as INT32
    val int32 = StructType(Seq(StructField("key", BinaryType),
      StructField("ts", IntegerType), StructField("value", BinaryType),
      StructField("seq", LongType), StructField("subseq", LongType)))
    val staged = tmpDir("hs-int32-file")
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row("w".getBytes, 1, "rick-newer".getBytes, 1000L, 0L),
        Row("w".getBytes, 2, "rick-older".getBytes, 0L, 0L),
        Row("w".getBytes, 3, "rick-only".getBytes, 5L, 0L)), 1), int32)
      .write.mode("overwrite").parquet(staged)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(staged))
    val file = try {
      import scala.jdk.CollectionConverters._
      part.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList.head
    } finally part.close()
    val dest = rickDir(root).resolve("shard=0").resolve("bucket=0")
    java.nio.file.Files.createDirectories(dest)
    java.nio.file.Files.copy(file, dest.resolve("part-int32.parquet"))
    val expected = Seq(Some("rick-newer"), Some("blk2"), Some("rick-only"), None)
    val tss = Seq(1L, 2L, 3L, 4L)
    assert(tss.map(t => store.get("w".getBytes, t).map(new String(_))) == expected)
    assert(store.multiGet(tss.map(t => ("w".getBytes, t))).map(_.map(new String(_))) == expected)
    store.close()
  }

  test("uncached gets leave no file descriptor open and run no Spark job") {
    val fdDir = java.nio.file.Paths.get("/proc/self/fd")
    assume(java.nio.file.Files.isDirectory(fdDir), "needs a per-process fd directory")
    def openFds(): Long = {
      val s = java.nio.file.Files.list(fdDir)
      try s.count() finally s.close()
    }
    val store = HelixStore.open(spark, tmpDir("hs-fds"),
      StoreOptions(numShards = 2, bucketSize = 10, kvCacheSize = 0, kcCacheSize = 0))
    store.put(entriesDF((0 until 20).map(k => (f"f$k%02d", k.toLong, s"b$k"))))
    store.blockCompact()
    // every pair then has a block file and a rick file to open
    store.put(entriesDF((0 until 20 by 2).map(k => (f"f$k%02d", k.toLong, s"r$k"))))
    def expect(k: Int) = if (k % 2 == 0) s"r$k" else s"b$k"
    assert(store.get("f00".getBytes, 0L).map(new String(_)).contains(expect(0)))
    val before = openFds()
    val (_, jobs) = withJobs((0 until 200).foreach { i =>
      val k = i % 20
      assert(store.get(f"f$k%02d".getBytes, k.toLong).map(new String(_)).contains(expect(k)))
    })
    val grown = openFds() - before
    assert(grown < 20, s"200 gets left $grown more descriptors open")
    assert(jobs.isEmpty, s"uncached gets ran ${jobs.size} Spark jobs: ${jobs.distinct}")
    store.close()
  }

  test("a 50-probe multiGet leaves the kv and kc caches untouched") {
    // caches of two entries: a batch going through them would evict the
    // hot key from both
    val store = HelixStore.open(spark, tmpDir("hs-mget-caches"),
      StoreOptions(numShards = 2, bucketSize = 100, kvCacheSize = 2, kcCacheSize = 2))
    store.put(entriesDF(Seq(("hot", 1L, "h1"), ("hot", 2L, "h2"), ("hot", 3L, "h3")) ++
      (0 until 50).map(k => (f"m$k%02d", k.toLong, s"m$k"))))
    store.blockCompact()
    assert(store.get("hot".getBytes, 1L).map(new String(_)).contains("h1"))
    assert(store.get("hot".getBytes, 2L).map(new String(_)).contains("h2"))
    assert(store.kcHits.get() == 1, "the second hot get reuses the key's cached blocks")
    val got = store.multiGet((0 until 50).map(k => (f"m$k%02d".getBytes: Array[Byte], k.toLong)))
    assert(got.map(_.map(new String(_))) == (0 until 50).map(k => Some(s"m$k")))
    assert(store.kcHits.get() == 1, "multiGet must not read through the kc cache")
    // a kv hit never reaches the kc cache, so kcHits stays put ...
    assert(store.get("hot".getBytes, 1L).map(new String(_)).contains("h1"))
    assert(store.kcHits.get() == 1, "the hot (key, ts) must still be a kv hit")
    // ... and a new timestamp of the hot key still finds its blocks cached
    assert(store.get("hot".getBytes, 3L).map(new String(_)).contains("h3"))
    assert(store.kcHits.get() == 2, "the hot key's blocks must still be a kc hit")
    store.close()
  }

  test("a get reads both layers from one pointer snapshot while a compaction commits") {
    val store = HelixStore.open(spark, tmpDir("hs-ptr-snapshot"),
      StoreOptions(numShards = 1, bucketSize = 10,
        codecs = Map(PausingCodec.name -> PausingCodec),
        codecDispatch = Some((_: Array[Byte]) => PausingCodec.name)))
    store.put(entriesDF(Seq(("k", 1L, "old"))))
    store.blockCompact()
    store.put(entriesDF(Seq(("k", 1L, "new"))))
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val result = new java.util.concurrent.atomic.AtomicReference[scala.util.Try[Option[String]]]()
    val reader = new Thread(() =>
      result.set(scala.util.Try(store.get("k".getBytes, 1L).map(new String(_)))))
    PausingCodec.pauseOn = (reader, entered, release)
    reader.start()
    try {
      // the get has read the block generation holding "old" and stops in
      // its decode; the compaction then absorbs "new" into fresh blocks
      // and empties the rick
      assert(entered.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "the get never decoded a block")
      store.blockCompact()
    } finally release.countDown()
    reader.join(120000)
    assert(result.get == scala.util.Success(Some("new")),
      "the get must read the rick of the generation whose blocks it read")
    assert(store.get("k".getBytes, 1L).map(new String(_)).contains("new"))
    store.close()
  }

  test("warm multi-pair scans and multiGets start no thread; close() stops the pair-read pool") {
    val dir = tmpDir("hs-pair-pool")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 4, bucketSize = 10))
    // 16 keys over buckets 0-3 in blocks, then a rick entry per key: each
    // call below touches many (shard, bucket) pairs of both layers
    val blocks = for (k <- 0 until 16; t <- 0L until 40L by 3) yield (f"t$k%02d", t, s"b$k-$t")
    val rick = (0 until 16).map(k => (f"t$k%02d", 1L + 2 * k, s"r$k"))
    store.put(entriesDF(blocks))
    store.blockCompact()
    store.put(entriesDF(rick))
    val live = (blocks ++ rick).map { case (k, t, v) => (k, t) -> v }.toMap
    val probes = live.keys.toSeq.sorted.grouped(3).map(_.head).toSeq
    def scan() = store.scan((0L, 40L), ("t".getBytes, "u".getBytes), ordered = false)
    def multiGet() = store.multiGet(probes.map { case (k, t) => (k.getBytes: Array[Byte], t) })
      .map(_.map(new String(_)))
    // the first call of each starts the pool's threads
    val warm = scan()
    assert(sourceOf(warm) == "LocalRelation" && warm.count() == live.size)
    assert(multiGet() == probes.map(p => Some(live(p))))
    // JVM-wide count: Spark's own background threads (its block
    // manager's asks when the cleaner drops an old broadcast) may start
    // in any window, a read that starts threads does so in every one
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val started = (0 until 5).map { _ =>
      val before = threads.getTotalStartedThreadCount
      for (_ <- 0 until 3) {
        scan()
        assert(multiGet() == probes.map(p => Some(live(p))))
      }
      threads.getTotalStartedThreadCount - before
    }
    assert(started.min == 0, s"windows of 3 warm scans and multiGets started $started threads")
    def poolThreads = {
      import scala.jdk.CollectionConverters._
      val prefix = s"graft-pair-read-${java.nio.file.Paths.get(dir).getFileName}-"
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && t.getName.startsWith(prefix))
    }
    assert(poolThreads.nonEmpty, "the multi-pair reads ran on no pair-read thread")
    store.close()
    assert(poolThreads.isEmpty, s"alive after close(): ${poolThreads.map(_.getName)}")
  }

  test("a codec failing in one pair fails scan and multiGet with its own exception; the next calls succeed") {
    val store = HelixStore.open(spark, tmpDir("hs-pair-fail"),
      StoreOptions(numShards = 4, bucketSize = 10, codecs = Map(FailingCodec.name -> FailingCodec),
        codecDispatch = Some((_: Array[Byte]) => FailingCodec.name)))
    val rows = for (k <- 0 until 12; t <- 0L until 40L by 5) yield (f"c$k%02d", t, s"v$k-$t")
    // the one block holding the trigger value fails to decode
    store.put(entriesDF(rows :+ (("c99", 17L, FailingCodec.Trigger))))
    store.blockCompact()
    def probes(rs: Seq[(String, Long, String)]) = rs.map { case (k, t, _) => (k.getBytes: Array[Byte], t) }
    intercept[FailingCodec.Failure] { store.scan((0L, 40L), ("c".getBytes, "d".getBytes)) }
    intercept[FailingCodec.Failure] { store.multiGet(probes(rows :+ (("c99", 17L, "")))) }
    // the same pairs without the failing key's block read as before
    val df = store.scan((0L, 40L), ("c".getBytes, "c99".getBytes))
    assert(df.collect().map(r => (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
      new String(r.getAs[Array[Byte]]("value")))).toSeq == rows.sortBy(r => (r._1, r._2)))
    assert(store.multiGet(probes(rows)).map(_.map(new String(_))) == rows.map(r => Some(r._3)))
    store.close()
  }

  test("a task-path scan counts the bytes of its listed files as its tasks' input") {
    val dir = tmpDir("hs-task-input")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    val blocks = for (k <- 0 until 10; t <- 0L until 30L by 4) yield (f"i$k%02d", t, s"b$k-$t")
    store.put(entriesDF(blocks))
    store.blockCompact()
    store.put(entriesDF((0 until 10).map(k => (f"i$k%02d", 3L * k, s"r$k"))))
    // the range covers every bucket: each data file of both live layers is listed
    val listed = {
      import scala.jdk.CollectionConverters._
      Seq("rows", "blocks").map { layer =>
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, pointerOf(dir)(layer)))
        try w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size).sum
        finally w.close()
      }.sum
    }
    val (n, _, tasks) = withTasks(store.scan((0L, 30L), ("i".getBytes, "j".getBytes),
      ordered = false, scanOpts = sparkScanPath).count())
    assert(n == (blocks.map(r => (r._1, r._2)) ++ (0 until 10).map(k => (f"i$k%02d", 3L * k))).distinct.size)
    assert(tasks.map(_.inputMetrics.bytesRead).sum == listed)
    store.close()
  }

  test("every parquet read in HelixStore goes through PartitionReader (fixed schema, scoped listing)") {
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src", "main", "scala", "graft", "core", "HelixStore.scala"))
    /** The body of the first definition `head` opens: up to its closing
      * brace at the member indent. */
    def body(head: String): (Int, Int) = {
      val at = src.indexOf(head)
      val end = src.indexOf("\n  }", at)
      assert(at >= 0 && end > at, s"$head not found")
      (at, end)
    }
    def hits(token: String): Seq[Int] =
      java.util.regex.Pattern.quote(token).r.findAllMatchIn(src).map(_.start).toSeq
    def within(token: String, n: Int, spans: (Int, Int)*): Unit = {
      val at = hits(token)
      assert(at.size == n && at.forall(i => spans.exists { case (a, b) => i > a && i < b }),
        s"$token expected $n times inside ${spans.mkString(", ")}, found at $at")
    }
    // no DataFrameReader at all: it would resolve a data source and list
    // or infer what the store already knows
    assert("""\.read\s*\.""".r.findAllMatchIn(src).isEmpty, "a DataFrameReader read")
    assert(!src.contains("spark.implicits"), "an encoder derived per call")
    // the one reader: every parquet read of a layer, on the driver or in
    // a task, goes through the one parquet reader HelixStore builds, in
    // PartitionReader; no relation, file index or rank window beside it
    val inProc = body("private[core] final class PartitionReader(")
    assert("class PartitionReader".r.findAllMatchIn(src).size == 1)
    for (token <- Seq("new ParquetFileFormat", "buildReaderWithPartitionValues", "PartitionedFile("))
      within(token, 1, inProc)
    for (gone <- Seq("HadoopFsRelation", "baseRelationToDataFrame", "FileIndex", "Window.",
        "groupByKey", "newSession", "pruneKey", "pruneTsLt", "pruneTsGe", "readLayer", "rawEntries"))
      assert(!src.contains(gone), s"HelixStore still has $gone")
    for (other <- Seq("ParquetFileReader", "HadoopInputFile", "ParquetReadSupport",
        "OrcFileFormat", "InMemoryFileIndex", "DataSource("))
      assert(!src.contains(other), s"a second read path: $other")
    // one compaction path and one listing of the layout: no row-level
    // rewrite, and no walk of whole layers beside listLayer
    for (gone <- Seq("def compact(", "hasDataDirs", "hasData", "hasRows", "hasBlocks"))
      assert(!src.contains(gone), s"HelixStore still has $gone")
    // a `shard=`/`bucket=` dir name is parsed only inside listLayer;
    // outside it, code only builds such a name (an interpolated string)
    val listing = body("private def listLayer(")
    def inListing(i: Int): Boolean = i > listing._1 && i < listing._2
    for (parse <- Seq("stripPrefix(", "toIntOption", "toLongOption"))
      assert(hits(parse).nonEmpty && hits(parse).forall(inListing), s"$parse outside listLayer")
    def inCode(i: Int): Boolean = {
      val before = src.substring(src.lastIndexOf('\n', i) + 1, i).trim
      !(before.startsWith("*") || before.startsWith("/*") || before.contains("//"))
    }
    for (name <- Seq("shard=", "bucket="); i <- hits(name) if inCode(i) && !inListing(i))
      assert(src.startsWith("s\"", i - 2), s"$name parsed outside listLayer at $i")
    // the layer listing, not a walk of the layout, decides what a scan,
    // a task and outdate read or bury
    for (reader <- Seq("def scan(", "private def scanInProcess(", "private def listRange(",
        "private def pairTasks(", "private def entryRdd(", "private[core] def pairEntries(",
        "def outdate(")) {
      val (a, b) = body(reader)
      for (walk <- Seq("listDir(", "dataFiles(", "Files.list", "Files.walk"))
        assert(!src.substring(a, b).contains(walk), s"$reader lists the layout through $walk")
    }
    assert(src.substring(body("def outdate(")._1, body("def outdate(")._2).contains("listLayer("))
    assert(src.substring(body("def scan(")._1, body("def scan(")._2).contains("listRange("))
    // frames built from rows: the routing frame of a custom sharding
    // function, the scan read on the driver (a local relation) and the
    // read in tasks (an RDD)
    val taskFrame = src.indexOf("private def entryFrame(")
    within("createDataFrame(", 3, body("private def routeShards("),
      body("private def scanInProcess("), (taskFrame, src.indexOf("\n\n", taskFrame)))
    // no second index beside the block layer: a point read finds a key's
    // blocks by its (shard, bucket) dir, and a compaction writes no
    // `m-<g>` generation. The two readers are the rick's and the blocks'.
    for (gone <- Seq("ManifestSchema", "manifestPruneMaxEntries", "blockMayContain", "\"m-$"))
      assert(!src.contains(gone), s"HelixStore still has $gone")
    assert(hits("new PartitionReader(").size == 2,
      s"new PartitionReader( at ${hits("new PartitionReader(")}")
    // one reader conf: the session's Hadoop conf is taken once, by
    // PartitionReader, as a JobConf that Spark's per-file task context
    // then shares instead of copying
    within("newHadoopConf", 1, inProc)
    assert(src.contains("new JobConf(spark.sessionState.newHadoopConf())"),
      "PartitionReader's conf is not wrapped in a JobConf")
    // three thread pools, each a named member: the compact prompt, the
    // compaction executor and the pair-read pool
    val pools = hits("Executors.new").map { i =>
      val at = src.lastIndexOf("\n  private ", i) + 1
      val member = src.substring(at, src.indexOf('\n', at))
      "val (\\w+)".r.findFirstMatchIn(member).fold(member)(_.group(1))
    }
    assert(pools.sorted == Seq("compactExec", "compactPrompt", "pairReadPool"),
      s"Executors.new* in $pools")
  }

  /** `f`'s result, the stages its jobs ran and the metrics of their
    * tasks. */
  private def withTasks[T](f: => T): (T, Int, Seq[org.apache.spark.executor.TaskMetrics]) = {
    val sc = spark.sparkContext
    val tag = "graft.spec.tasks"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.executor.TaskMetrics]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null)
          j.stageIds.foreach(stages.add)
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null) tasks.add(t.taskMetrics): Unit
    }
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc, 10000)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "1")
      val out = try f finally sc.setLocalProperty(tag, null)
      org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc, 10000)
      (out, stages.size, tasks.toArray(Array.empty[org.apache.spark.executor.TaskMetrics]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("blockCompact reads and writes whole pairs in one pass with no shuffle") {
    val dir = tmpDir("hs-compact-noshuffle")
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 2, bucketSize = 10))
    val keys = (0 until 8).map(k => f"n$k%02d")
    // blocks in buckets 0-3, then rick rows over them: new entries, and
    // two puts of one (key, ts) already in the blocks
    store.put(entriesDF(for (k <- keys; t <- 0L until 40L by 7) yield (k, t, s"b$k$t")))
    store.blockCompact()
    store.put(entriesDF(for (k <- keys) yield (k, 3L, s"r$k")))
    store.put(entriesDF(Seq(("n01", 7L, "once"))))
    store.put(entriesDF(Seq(("n01", 7L, "twice"))))
    val expected = (for (k <- keys; t <- 0L until 40L by 7) yield (k, t) -> s"b$k$t").toMap ++
      keys.map(k => (k, 3L) -> s"r$k") + (("n01", 7L) -> "twice")
    def state = store.toDF.collect().map(r => (new String(r.getAs[Array[Byte]]("key")),
      r.getAs[Long]("ts")) -> new String(r.getAs[Array[Byte]]("value"))).toMap
    assert(state == expected)
    val (_, stages, tasks) = withTasks(store.blockCompact())
    val shuffled = tasks.map(_.shuffleWriteMetrics.bytesWritten).sum
    assert(stages > 0, "the compaction ran no job")
    assert(shuffled == 0L, s"the compaction wrote $shuffled shuffle bytes")
    assert(state == expected)
    // one file per (shard, bucket) pair of the new block layer
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, pointerOf(dir)("blocks")))
    val files = try w.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally w.close()
    val perPair = files.groupBy(_.getParent).values.map(_.size)
    assert(perPair.size == 8 && perPair.forall(_ == 1), s"files per pair: $perPair")
    store.close()
  }
}

/** Test codec: XOR every payload byte with 0x5A — visibly scrambles
  * plaintext and is its own inverse. Top-level object so compaction
  * tasks serialize it without an enclosing spec instance. */
object XorCodec extends graft.core.BlockCodec {
  val name = "xor"
  private def x(b: Array[Byte]): Array[Byte] = b.map(v => (v ^ 0x5A).toByte)
  def encode(vals: Array[Array[Byte]]): Array[Byte] =
    x(graft.core.NoopCodec.encode(vals))
  def decode(blob: Array[Byte]): Array[Array[Byte]] =
    graft.core.NoopCodec.decode(x(blob))
}

/** Test codec: [[graft.core.NoopCodec]] whose decode, on the one thread
  * `pauseOn` names (any thread when it names none), counts down its
  * first latch and waits on its second, once — a hook that holds a point
  * read between its block decode and its rick read, or a compaction
  * inside its task. */
object PausingCodec extends graft.core.BlockCodec {
  val name = "pausing"
  @transient @volatile var pauseOn: (Thread, java.util.concurrent.CountDownLatch,
    java.util.concurrent.CountDownLatch) = null
  def encode(vals: Array[Array[Byte]]): Array[Byte] = graft.core.NoopCodec.encode(vals)
  def decode(blob: Array[Byte]): Array[Array[Byte]] = {
    val gate = pauseOn
    if (gate != null && (gate._1 == null || (gate._1 eq Thread.currentThread()))) {
      pauseOn = null
      gate._2.countDown()
      gate._3.await()
    }
    graft.core.NoopCodec.decode(blob)
  }
}

/** Test codec: [[graft.core.NoopCodec]] whose decode throws
  * [[FailingCodec.Failure]] for a block holding the value [[FailingCodec.Trigger]]. */
object FailingCodec extends graft.core.BlockCodec {
  final class Failure extends RuntimeException("a block holds the trigger value")
  val name = "failing"
  val Trigger = "fail-on-decode"
  def encode(vals: Array[Array[Byte]]): Array[Byte] = graft.core.NoopCodec.encode(vals)
  def decode(blob: Array[Byte]): Array[Array[Byte]] = {
    val vals = graft.core.NoopCodec.decode(blob)
    if (vals.exists(v => new String(v) == Trigger)) throw new Failure
    vals
  }
}

/** Holds the OS lock on `<store dir>/_mutex` (args(0)) for a spec: takes
  * it, prints `locked`, and keeps it until its stdin closes or it is
  * killed. Run as a child JVM on the test classpath. */
object MutexHolder {
  def main(args: Array[String]): Unit = {
    val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(args(0), "_mutex"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    ch.lock()
    println("locked")
    System.out.flush()
    while (System.in.read() >= 0) ()
  }
}
