package graft

import org.apache.spark.sql.streaming.Trigger

import graft.core.Tables
import graft.streaming.StreamOps

/** The streaming tumbling-window agg must agree with its batch twin —
  * same transformation, unbounded source. */
class StreamingSpec extends SparkTestBase {

  test("streamingPutReviewed drains micro-batches through put + scheduled compactions (helix_stream_scan path)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    import graft.core.{HelixStore, Lifecycle, SimpleTimestampReviewer, StoreOptions}
    val srcDir = tmpDir("stream-rev-src")
    val entrySchema = StructType(Seq(
      StructField("key", BinaryType), StructField("ts", LongType),
      StructField("value", BinaryType)))
    // 40 entries spanning 4 rick-ranges (rickRange = 10)
    val entries = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 40).map(i =>
        Row(f"rk$i%02d".getBytes, i.toLong, s"rv$i".getBytes)), 2),
      entrySchema)
    entries.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(srcDir)
    val store = HelixStore.open(spark, tmpDir("stream-rev-store"),
      StoreOptions(numShards = 2, bucketSize = 10))
    try {
      val stream = spark.readStream.schema(entrySchema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      val reviewer = new SimpleTimestampReviewer(rickRange = 10,
        outdateRange = Long.MaxValue / 4)
      val q = Lifecycle.streamingPutReviewed(store, stream,
        tmpDir("stream-rev-ckpt"), reviewer, trigger = Trigger.AvailableNow())
      val drained = q.awaitTermination(180000L)
      if (!drained) q.stop() // don't close the store under an in-flight batch
      assert(drained, "AvailableNow drain exceeded 180s — timeout, not data loss")
      store.awaitCompactions()
      // the reviewer actually scheduled compactions: block layer exists
      assert(store.hasBlockLayer,
        "event time crossed rick-range boundaries — compaction must have run")
      // batching + async compaction dropped/duplicated/mangled nothing
      val out = store.toDF.collect().map(r =>
        (new String(r.getAs[Array[Byte]]("key")), r.getLong(1),
          new String(r.getAs[Array[Byte]]("value")))).toSet
      assert(out == (0 until 40).map(i => (f"rk$i%02d", i.toLong, s"rv$i")).toSet)
    } finally store.close() // an open store leaks its compaction and pair-read threads
  }

  test("streaming windowed top-k: ranked drained counts equal the batch twin") {
    val staged = tmpDir("stream-topk-events")
    Tables.events(spark, Sf).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.topkStreaming(spark, staged, schema)
      .writeStream.format("memory").queryName("topk_counts")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    // rank the stream's emitted per-window counts, as production does
    // once the watermark closes a window
    val ranked = StreamOps.windowTopk(spark.table("topk_counts")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = StreamOps.topkBatch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(ranked == batch, "stream-drained top-k must equal the batch twin")
    assert(ranked.nonEmpty)
    val byWin = ranked.groupBy(_._1)
    assert(byWin.values.forall(_.size <= StreamOps.TopK), "per-window cap")
    assert(byWin.values.forall(rows =>
      rows.map(_._2).toList.sorted == (1L to rows.size).toList),
      "each window must carry dense ranks 1..min(k, users)")
  }

  test("streaming anomaly flags equal the batch twin (stream-static baseline join)") {
    val staged = tmpDir("stream-anom-events")
    Tables.events(spark, Sf).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.anomalyStreaming(spark, staged, schema, Sf)
      .writeStream.format("memory").queryName("anom_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val streamed = spark.table("anom_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    val batch = StreamOps.anomalyBatch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(streamed == batch, "stream-static anomaly flags must equal the batch twin")
    assert(streamed.nonEmpty, "the fixture must produce at least one |z| > 2.5 arrival")
    // every flag is an arrival — the baseline slice never re-emits
    assert(streamed.forall(_._3 >= StreamOps.AnomalyCutoverUs))
  }

  test("streaming incremental CDC: row-wise in-batch chunking equals the batch twin and #219") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    val staged = tmpDir("stream-cdc-docs")
    // stage ONLY the arriving slice — what the stream would see
    Tables.documents(spark, Sf)
      .filter(col("doc_id") % graft.operators.Dedup.IncrMod ===
        graft.operators.Dedup.IncrRem)
      .write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.cdcIncrementalStreaming(spark, staged, schema, Sf)
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    def asMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val streamed = asMap(spark.table("cdc_out").collect())
    val twin = asMap(Multimodal.cdcIncrementalStreamTwin(spark, Sf).collect())
    val daily = asMap(Multimodal.cdcIncremental(spark, Sf).collect())
    assert(streamed == twin, "streamed report must equal the batch twin")
    assert(streamed == daily,
      "row-wise in-array chunking must agree with the window-based daily batch")
    assert(streamed.nonEmpty)
  }

  test("streaming tumbling counts equal the batch twin") {
    // Stage a directory holding only event-schema parquet (µs timestamps).
    val staged = tmpDir("stream-events")
    Tables.events(spark, Sf).write.mode("overwrite").parquet(staged)

    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.streamingTumbling(spark, staged, schema)
      .writeStream.format("memory").queryName("stream_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)

    val streamed = spark.table("stream_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = StreamOps.tumblingBatch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming sliding-window counts equal the oracled batch ts_sliding") {
    val staged = tmpDir("stream-sliding")
    Tables.events(spark, Sf).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.slidingStreaming(spark, staged, schema)
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val streamed = spark.table("sliding_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.TimeSeriesOps.slidingCounts(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming session windows equal the oracled batch twin") {
    val staged = tmpDir("stream-sess")
    Tables.events(spark, Sf).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.sessionWindowStreaming(spark, staged, schema)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val streamed = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = StreamOps.sessionWindowBatch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming dedup with watermark matches the oracled batch stream_dedup") {
    val staged = tmpDir("stream-dedup")
    // duplicate the stream on purpose (at-least-once redelivery)
    val ev = Tables.events(spark, Sf)
    ev.unionAll(ev).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.dedupStreaming(spark, staged, schema)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val streamed = spark.table("dedup_out").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = StreamOps.dedupBatch(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamed == batch)
    // the dedup provably dropped the duplicated half
    assert(streamed.map(_._2).sum == ev.count(),
      "per-type unique counts must equal the single-copy event count")
  }

  test("stream-stream interval join matches the oracled batch twin") {
    val staged = tmpDir("stream-ij")
    Tables.events(spark, Sf).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.intervalJoinStreaming(spark, staged, schema)
      .writeStream.format("memory").queryName("ij_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val streamed = spark.table("ij_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = StreamOps.intervalJoinBatch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stateful mapGroupsWithState sessionization matches batch sessionize") {
    val staged = tmpDir("stream-sess")
    Tables.events(spark, Sf).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema

    val q = StreamOps.sessionizeStreaming(spark, staged, schema)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)

    // per (user, epoch) the final count is the max update row; total
    // sessions per user = sum across state incarnations (epochs)
    import org.apache.spark.sql.functions.{max, sum}
    val streamed = spark.table("sess_out").groupBy("user_id", "epoch")
      .agg(max("n_sessions").as("n"))
      .groupBy("user_id").agg(sum("n").as("n_sessions"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = graft.operators.Analytics.qSessionize(spark, Sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_sessions"))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("sessionization state EXPIRES: a batch past the timeout horizon evicts idle users, counts still exact") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, max, sum}
    import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
    val dir = tmpDir("stream-sess-expiry")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType)))
    val t0 = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli * 1000L
    def rows(ts: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(ts.map { case (u, us) =>
        Row(u, new java.sql.Timestamp(us / 1000)) }, 1), schema)
    val h = 3600L * 1000000
    // file 1: user 1 two sessions (gap 31 min), user 2 one event
    rows(Seq((1L, t0), (1L, t0 + 31 * 60 * 1000000L), (2L, t0)))
      .write.parquet(s"$dir/b1")
    Thread.sleep(50)
    // file 2: 5 hours later — after this batch the watermark (max - 1h)
    // sits past user 1's gap horizon
    rows(Seq((3L, t0 + 5 * h))).write.parquet(s"$dir/b2")
    Thread.sleep(50) // distinct mtimes: the file source orders triggers by them
    // file 3: a batch WITHOUT user 1 — timeouts only fire for keys with
    // no data in the trigger, so this is where the idle users evict
    rows(Seq((4L, t0 + 5 * h + 60 * 1000000L))).write.parquet(s"$dir/b3")
    Thread.sleep(50)
    // file 4: user 1 RETURNS after expiry — a fresh state incarnation
    // (new epoch) must start a new session, not resurrect the old count
    rows(Seq((1L, t0 + 6 * h))).write.parquet(s"$dir/b4")
    val src = spark.read.parquet(s"$dir/b1").schema
    val q = StreamOps.sessionizeStreaming(spark, s"$dir/{b1,b2,b3,b4}", src,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("sess_expiry")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val out = spark.table("sess_expiry")
    // user 1 lived two state incarnations: expiry actually removed the
    // first state (a surviving state would have kept its epoch)
    val epochs1 = out.filter(col("user_id") === 1L)
      .select("epoch").distinct().count()
    assert(epochs1 == 2, s"expected 2 state incarnations for user 1, got $epochs1")
    // counts stay exact across expiry: per-epoch finals sum to the
    // driver-computed truth (3 sessions for user 1: two in file 1 +
    // the post-expiry return; 1 each for users 2, 3, 4)
    val totals = out.groupBy("user_id", "epoch").agg(max("n_sessions").as("n"))
      .groupBy("user_id").agg(sum("n").as("n_sessions"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(totals == Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 1L), s"got $totals")
  }

  test("streaming ANN serve path equals the batch twin AND the batched IVF probe") {
    import org.apache.spark.sql.functions.col
    // the query stream carries only query vectors, split across files
    // so AvailableNow processes multiple micro-batches
    val staged = tmpDir("stream-ann-q")
    Tables.embeddings(spark, Sf).filter(col("vec_id") < 10)
      .repartition(3).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.annProbeStreaming(spark, staged, schema, Sf)
      .writeStream.format("memory").queryName("ann_out")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getLong(2))
    val streamed = spark.table("ann_out").collect().map(key).toSet
    val twin = graft.operators.Similarity.annServeTwin(spark, Sf)
      .collect().map(key).toSet
    val batch = graft.operators.Similarity.annBatchIvfTopk(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed == twin, "unbounded query source must change nothing")
    assert(twin == batch,
      "the serve path must emit the batched IVF probe's exact rows")
    assert(streamed.nonEmpty)
  }

  test("streaming incremental dedup equals the batch twin AND the daily incremental") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    // the stream carries ONLY the arriving (new-slice) documents, in
    // several files so AvailableNow processes multiple micro-batches
    val staged = tmpDir("stream-incr-docs")
    Tables.documents(spark, Sf)
      .filter(col("doc_id") % Dedup.IncrMod === Dedup.IncrRem)
      .repartition(3).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.incrementalDedupStreaming(spark, staged, schema, Sf)
      .writeStream.format("memory").queryName("incr_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val streamed = spark.table("incr_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val twin = Dedup.incrementalStreamTwin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val daily = Dedup.incremental(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == twin, "unbounded source must change nothing")
    assert(twin == daily,
      "the streaming-safe shape must equal the oracled daily incremental")
    assert(streamed.nonEmpty)
  }

  test("stateful streaming counter correction matches the oracled batch state twin") {
    val staged = tmpDir("stream-counter")
    Tables.events(spark, Sf).write.mode("overwrite").parquet(staged)
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.counterStateStreaming(spark, staged, schema)
      .writeStream.format("memory").queryName("counter_out")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    // last emission per key IS the final state
    import org.apache.spark.sql.functions.{col, max, struct}
    val streamed = spark.table("counter_out")
      .groupBy("user_id")
      .agg(max(struct(col("n_resets"), col("final_adj_cents"))).as("s"))
      .collect().map(r => r.getLong(0) ->
        ((r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))).toMap
    val batch = StreamOps.counterStateBatch(spark, Sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batch)
    // and the state agrees with the full corrected series (#251): the
    // final adjusted value is the series' last row
    val series = graft.operators.TimeSeriesOps.counterCorrect(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lastAdj = series.groupBy(_._1).map { case (u, xs) =>
      u -> xs.maxBy(e => (e._2, e._3))._4
    }
    lastAdj.foreach { case (u, adj) =>
      assert(batch(u)._2 == adj, s"key $u final state vs series tail")
    }
    assert(streamed.nonEmpty)
  }

  test("counter state carries across micro-batches: a planted reset sequence survives triggers") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType, TimestampType}
    val dir = tmpDir("stream-counter-multi")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    val t0 = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli * 1000L
    def rows(es: Seq[(Long, Long, Long, Double)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(es.map { case (u, us, eid, v) =>
        Row(u, new java.sql.Timestamp(us / 1000), eid, v) }, 1), schema)
    val m = 60L * 1000000
    // batch 1: 10.0 then a reset to 5.0 (offset += 1000 cents)
    rows(Seq((1L, t0, 1L, 10.0), (1L, t0 + m, 2L, 5.0)))
      .write.parquet(s"$dir/b1")
    Thread.sleep(50) // distinct mtimes: the file source orders by them
    // batch 2: the 5.0 -> 3.0 reset spans the TRIGGER boundary — only
    // carried state can see it (offset += 500), then growth to 7.0
    rows(Seq((1L, t0 + 2 * m, 3L, 3.0), (1L, t0 + 3 * m, 4L, 7.0)))
      .write.parquet(s"$dir/b2")
    val src = spark.read.parquet(s"$dir/b1").schema
    val q = StreamOps.counterStateStreaming(spark, s"$dir/{b1,b2}", src,
        maxFilesPerTrigger = Some(1))
      .writeStream.format("memory").queryName("counter_multi")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    import org.apache.spark.sql.functions.{col, max, struct}
    val fin = spark.table("counter_multi")
      .groupBy("user_id")
      .agg(max(struct(col("n_resets"), col("final_adj_cents"))).as("s"))
      .collect().map(r => r.getLong(0) ->
        ((r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))).toMap
    // 2 resets (10->5 and the cross-trigger 5->3); final = 700 + 1500
    assert(fin(1L) == ((2L, 2200L)),
      s"cross-trigger reset must be compensated, got ${fin(1L)}")
  }

  test("watermark late-data: REAL streamed drops equal the batch twin's model") {
    import org.apache.spark.sql.functions.{col, max}
    val staged = tmpDir("stream-late")
    // spool: one parquet file per arrival slice, written in slice order
    // (FileStreamSource orders new files by mtime; each slice is its
    // own write job, so mtimes strictly increase) — with
    // maxFilesPerTrigger=1 the stream replays the arrival history and
    // its watermark trajectory exactly as the twin models it
    val eventCols = Tables.events(spark, Sf).columns.map(col)
    val arr = StreamOps.withArrival(Tables.events(spark, Sf))
      .select(col("b") +: eventCols: _*)
    val slices = arr.select("b").distinct()
      .collect().map(_.getLong(0)).sorted
    val cached = arr.cache()
    slices.foreach { b =>
      cached.filter(col("b") === b).drop("b")
        .coalesce(1).write.mode("append").parquet(staged)
    }
    cached.unpersist()
    // count the REAL drops across every micro-batch from the query's
    // own progress buffer (synchronous, unlike the async listener bus,
    // which can still be draining when the query terminates); the
    // buffer default of 100 is smaller than the spool's slice count
    val prevProgressUpdates =
      spark.conf.getOption("spark.sql.streaming.numRecentProgressUpdates")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", 1000)
    try {
    val schema = spark.read.parquet(staged).schema
    val q = StreamOps.lateDataStreaming(spark, staged, schema)
      .writeStream.format("memory").queryName("late_out")
      .outputMode("update")
      .option("checkpointLocation", tmpDir("stream-late-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000L)
    val dropped = new java.util.concurrent.atomic.AtomicLong(
      q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum)
    // update-mode memory sink appends one row per (window, update);
    // counts only grow, so the final value per window is the max
    val streamed = spark.table("late_out")
      .groupBy("window_start_us").agg(max("n_accepted").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val twin = StreamOps.lateDataBatch(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val twinAccepted = twin.collect {
      case (w, _, _, acc) if acc > 0 => w -> acc
    }.toMap
    assert(streamed == twinAccepted,
      s"per-window accepted counts diverge: stream-only=" +
        s"${streamed.toSet -- twinAccepted.toSet}, " +
        s"twin-only=${twinAccepted.toSet -- streamed.toSet}")
    // numRowsDroppedByWatermark counts at the STATE OPERATOR'S grain:
    // its input is the batch's PARTIAL aggregation, so the metric is
    // dropped (batch, window) GROUPS, not events — the model's late
    // events collapse to exactly that group count
    val lateGroups = StreamOps.lateFlagged(spark, Sf)
      .filter(col("late"))
      .select(col("b"),
        org.apache.spark.sql.functions
          .expr(s"ts_us div ${StreamOps.LateWinUs}").as("w"))
      .distinct().count()
    val twinLate = twin.map(_._3).sum
    assert(twinLate > 0, "the model must drop SOMETHING on this corpus")
    assert(dropped.get() == lateGroups,
      s"real group-grain drop metric ${dropped.get()} != model's $lateGroups " +
        s"(event-grain late total: $twinLate)")
    } finally {
      // restore the shared session's progress-buffer size — this suite
      // must not leak config into later tests in the same JVM
      prevProgressUpdates match {
        case Some(v) => spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", v)
        case None => spark.conf.unset("spark.sql.streaming.numRecentProgressUpdates")
      }
    }
  }
}
