package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.core.{HelixStore, StoreOptions}
import graft.operators.Staging

/** Hand-run measurement CLI (`runMain graft.Probe <command> [args]`,
  * commands in [[Usage]]), every command on the session the graded
  * Bench measures. A missing or unknown command prints the usage and
  * exits 2; the sweeps exit 1 on a gate violation or a failed run. */
object Probe {
  private val Usage: String =
    """usage: graft.Probe <command> [args]
      |  profile <sfDir> <q1,q2,...|topN> [runs]  build, plan and exec time + job/task counters per query
      |  staging <sfDir> [artifact ...]          cold-rebuild staged artifacts of one sf dir, timed
      |  overhead [reps]                         per-job and per-shuffle scheduler floor
      |  audit <sfDir>                           exchange / window / nested-loop counts per query
      |  plan <sfDir> <query>                    one query's formatted physical plan
      |  plans <sfDir>                           annotated plans of the picked queries -> ./PLANS.md
      |  scale <sfDir>                           x10/x4 sweep, >3x ratio gate -> scale_sweep.json
      |  scale2 <sfDir>                          second growth point, exponent gate -> scale_sweep2.json
      |  staging-scale <sfDir>                   cold-build exponents, exponent gate -> staging_scale.json
      |  store                                   store load/read/scan bench, one JSON line""".stripMargin

  private def positive(args: List[String], default: Int): Option[Int] = args match {
    case Nil => Some(default)
    case n :: Nil => n.toIntOption.filter(_ > 0)
    case _ => None
  }

  /** The command's body, or None when `args` name no valid command. */
  private[graft] def command(args: List[String]): Option[SparkSession => Int] = args match {
    case "profile" :: dir :: which :: more =>
      positive(more, 2).map(runs => profile(_, dir, which, runs))
    case "staging" :: dir :: names => Some(staging(_, dir, names))
    case "overhead" :: more => positive(more, 40).map(n => overhead(_, n))
    case "audit" :: dir :: Nil => Some(audit(_, dir))
    case "plan" :: dir :: query :: Nil => Some { spark =>
      println(SparkEntry.queries(query)(spark, dir).queryExecution
        .explainString(FormattedMode))
      0
    }
    case "plans" :: dir :: Nil => Some { spark => Plans.write(spark, dir); 0 }
    case "scale" :: dir :: Nil => Some(Sweeps.scale(_, dir))
    case "scale2" :: dir :: Nil => Some(Sweeps.scale2(_, dir))
    case "staging-scale" :: dir :: Nil => Some(Sweeps.stagingScale(_, dir))
    case "store" :: Nil => Some(store)
    case _ => None
  }

  def main(args: Array[String]): Unit = command(args.toList) match {
    case None =>
      System.err.println(Usage)
      sys.exit(2)
    case Some(run) =>
      // staging-scale cold-builds into a throwaway stage root, which
      // must be installed before the Staging object loads (its root is
      // read once at class init)
      if (args.head == "staging-scale")
        sys.props("graft.stage.dir") =
          s"/tmp/graft-stage-scale-${ProcessHandle.current().pid()}"
      val spark = SessionTuning.measured()
      spark.sparkContext.setLogLevel("ERROR")
      val status = try run(spark) finally spark.stop()
      if (status != 0) sys.exit(status)
  }

  /** Job / stage / task counts and summed task metrics of one run —
    * the split that says whether a slow query is scheduling-bound (many
    * tiny tasks and stages) or compute-bound (task time ~ wall x cores). */
  private class Counters extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val gcMs = new AtomicLong
    val shufReadB = new AtomicLong
    val shufWriteB = new AtomicLong
    val inputB = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(): Unit }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(): Unit }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputB.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** Per query, after one untimed run (staging, codegen): `runs` timed
    * runs with a cold data cache, the Bench discipline, each split into
    * build (the query function: staging probes + analysis), plan
    * (optimization + physical planning) and execution, with the job and
    * task counters of the fastest run. */
  private def profile(spark: SparkSession, dir: String, which: String,
      runs: Int): Int = {
    val TopN = "top([0-9]+)".r
    val names = which match {
      case TopN(n) => Bench.previousBest().toSeq.sortBy(-_._2).take(n.toInt).map(_._1)
      case _ => which.split(",").toSeq
    }
    println(f"${"query"}%-30s ${"build_ms"}%9s ${"plan_ms"}%8s ${"exec_s"}%7s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"task_s"}%7s ${"gc_s"}%5s ${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"in_MB"}%7s")
    for (n <- names) try {
      val fn = SparkEntry.queries(n)
      fn(spark, dir).queryExecution.toRdd.count(): Unit // warmup + staging
      val samples = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        val c = new Counters
        spark.sparkContext.addSparkListener(c)
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t3 = System.nanoTime()
        // drain the listener bus before reading counters (a fixed sleep
        // undercounted task metrics on a loaded box — r20 advice)
        org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(
          spark.sparkContext, 10000)
        spark.sparkContext.removeSparkListener(c)
        ((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e9, (t3 - t0) / 1e9, c)
      }
      val (build, plan, exec, wall, c) = samples.minBy(_._4)
      println(f"$n%-30s $build%9.1f $plan%8.1f $exec%7.2f $wall%7.2f ${c.jobs.get}%5d ${c.stages.get}%7d ${c.tasks.get}%6d ${c.taskTimeMs.get / 1e3}%7.2f ${c.gcMs.get / 1e3}%5.2f ${c.shufReadB.get / 1e6}%9.2f ${c.shufWriteB.get / 1e6}%9.2f ${c.inputB.get / 1e6}%7.2f  runs ${samples.map(s => f"${s._4}%.2f").mkString(" ")}")
    } catch { case e: Throwable => println(s"$n FAILED: ${e.toString.take(120)}") }
    0
  }

  /** Cold-rebuild the named staged artifacts (all when none is named)
    * of `dir` in the REAL stage root, printing each build's wall
    * seconds — the same `_GRAFT_BUILD_SECS` record Bench sums into its
    * `staging_cold` phase. Only the dirs each artifact's own ensure
    * resolves for `dir` are dropped, so other sf dirs stay staged. Run
    * in a quiet window (load < 0.5). */
  private def staging(spark: SparkSession, dir: String, names: Seq[String]): Int = {
    val known = Staging.artifacts.map(_.name)
    val unknown = names.filterNot(known.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown artifact(s) ${unknown.mkString(", ")}; " +
        s"valid names: ${known.mkString(", ")}")
      return 2
    }
    for (a <- Staging.artifacts if names.isEmpty || names.contains(a.name))
      println(f"[staging-probe] ${a.name} ${Staging.restage(a, spark, dir)}%.2f s")
    0
  }

  /** Per-job / per-shuffle-stage fixed overhead of the local-mode
    * scheduler: `n` repetitions each of a zero-, one-, two- and
    * three-shuffle job — the deltas are the marginal cost of one
    * AQE-materialized stage — plus decomposition probes. */
  private def overhead(spark: SparkSession, n: Int): Int = {
    import org.apache.spark.sql.expressions.Window
    val base = spark.range(200000).select(col("id").as("x"))
    def time(label: String)(f: () => Unit): Unit = {
      f() // warm
      val t0 = System.nanoTime()
      for (_ <- 1 to n) f()
      val ms = (System.nanoTime() - t0) / 1e6 / n
      println(f"[probe] $label%-28s ${ms}%8.1f ms/run")
    }
    time("0-shuffle map+count") { () =>
      base.select((col("x") * 2).as("y")).queryExecution.toRdd.count(): Unit
    }
    time("1-shuffle groupBy") { () =>
      base.groupBy(col("x") % 97).agg(sum("x")).queryExecution.toRdd.count(): Unit
    }
    def agg2 = base.groupBy((col("x") % 97).as("g")).agg(sum("x").as("s"))
      .withColumn("r", row_number().over(Window.partitionBy(col("g") % 7).orderBy("s")))
    time("2-shuffle agg+window") { () => agg2.queryExecution.toRdd.count(): Unit }
    time("3-shuffle") { () =>
      agg2.groupBy(col("r")).agg(count(lit(1))).queryExecution.toRdd.count(): Unit
    }
    // --- decomposition probes ---
    val tinyRdd = spark.sparkContext.parallelize(1 to 32, 32).cache()
    time("raw job: cached 32-task RDD") { () => tinyRdd.count(): Unit }
    val tiny1 = spark.sparkContext.parallelize(1 to 4, 1).cache()
    time("raw job: cached 1-task RDD") { () => tiny1.count(): Unit }
    val preRdd = base.select((col("x") * 2).as("y")).queryExecution.toRdd
    time("prebuilt RDD re-count (no plan)") { () => preRdd.count(): Unit }
    time("plan only: toRdd, no action") { () =>
      base.select((col("x") * 2).as("y")).queryExecution.toRdd: Unit
    }
    val df32 = spark.range(0, 32, 1, 2).toDF("x")
    time("tiny localCheckpoint") { () => df32.localCheckpoint(): Unit }
    time("tiny DF isEmpty") { () => df32.filter(col("x") < 0).isEmpty: Unit }
    0
  }

  /** Plan-shape audit across the whole query inventory: exchange /
    * window / nested-loop counts per query, so a shuffle regression or
    * an accidental all-pairs join stands out immediately. (A
    * BroadcastNestedLoopJoin with a 1-row or dim-size build side —
    * query vectors, centroid tables — is the intended broadcast
    * pattern, not a scale bug; the flag is a prompt to check the build
    * side.) */
  private def audit(spark: SparkSession, dir: String): Int = {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, dir).queryExecution.executedPlan.toString
        def c(s: String) = s.r.findAllIn(p).size
        val ex = c("Exchange hashpartitioning") + c("Exchange rangepartitioning") + c("Exchange SinglePartition")
        val warn = if (c("CartesianProduct") > 0 || c("BroadcastNestedLoopJoin") > 1) " !!NESTED-LOOP" else ""
        println(f"[audit] $name%-22s exch=$ex%2d win=${c("Window ")}%2d bnlj=${c("BroadcastNestedLoopJoin")}%d$warn")
      } catch { case e: Throwable => println(s"[audit] $name ERROR $e") }
    }
    0
  }

  /** Store-level benchmark mirroring the reference's own workload
    * shape (benchmarks/src/{load,read,scan}.rs: fill numKey ×
    * numTimestamp, point-read, full scan); prints one JSON line. */
  private def store(spark: SparkSession): Int = {
    val numKeys = sys.env.getOrElse("SPARK_GRAFT_NUM_KEYS", "1000").toInt
    val numTs = sys.env.getOrElse("SPARK_GRAFT_NUM_TS", "1000").toInt
    val dir = java.nio.file.Files.createTempDirectory("storebench").toString
    val store = HelixStore.open(spark, dir, StoreOptions(numShards = 8, bucketSize = numTs / 10 + 1))

    val entries = spark.range(numKeys.toLong * numTs)
      .select(
        expr(s"cast(concat('key', lpad(cast(id % $numKeys as string), 8, '0')) as binary)").as("key"),
        expr(s"id div $numKeys").as("ts"),
        expr("cast(concat('value-', cast(id as string)) as binary)").as("value"))

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def fullScan(st: HelixStore): Long =
      st.scan((0L, numTs.toLong), ("key".getBytes, "kez".getBytes)).count()
    def key(i: Int): Array[Byte] = f"key${(i * 37) % numKeys}%08d".getBytes
    def pointGets(is: Range): Seq[Double] =
      is.map(i => time(store.get(key(i), (i * 13) % numTs))._2)
    val (_, tPut) = time(store.put(entries))
    val gets = pointGets(0 until 50)
    // repeat the same point reads: served by the kv cache (cache.rs
    // kv_cache analogue) without a Spark job
    val cachedGets = pointGets(0 until 50)
    val (nScan, tScan) = time(fullScan(store))
    val (_, tCompact) = time(store.blockCompact())
    val (nScan2, tScan2) = time(fullScan(store))
    require(nScan == numKeys.toLong * numTs && nScan2 == nScan,
      s"scan count mismatch: $nScan / $nScan2")
    // point reads against the BLOCK layer (distinct keys → kv cache
    // misses): measures that the (shard, bucket) prune reaches the
    // scan below the block-decompress flatMap
    val blockGets = pointGets(50 until 100)
    // batched multiget: fresh keys (kv-cache cold) in ONE pruned job —
    // the per-batch cost the looped gets above pay per key
    val mgProbes = (100 until 150).map(i => (key(i), ((i * 13) % numTs).toLong))
    val (mgHits, tMultiget) = time(store.multiGet(mgProbes))
    require(mgHits.forall(_.isDefined), "multiget must hit every probe")

    val rows = numKeys.toLong * numTs

    // Codec cost/benefit on a float workload — the reference's
    // benchmarks/src/load.rs measures fill/read WITH compression in the
    // loop. Same fill twice: once noop-dispatched, once with every key
    // through the Gorilla XOR codec; smooth per-key series so the codec
    // has something to compress. Reports compact/scan/point-get times
    // and the on-disk block bytes for both.
    import spark.implicits._
    val floatEntries = spark.range(rows).map { id =>
      val key = s"key${"%08d".format(id % numKeys)}".getBytes
      val ts = id / numKeys
      val v = java.nio.ByteBuffer.allocate(8).putLong(
        java.lang.Double.doubleToRawLongBits(100.0 + (ts % 100) * 0.25)).array()
      (key, ts, v)
    }.toDF("key", "ts", "value")

    def codecWorkload(tag: String, gorilla: Boolean): String = {
      val d = java.nio.file.Files.createTempDirectory(s"storebench-$tag").toString
      val st = HelixStore.open(spark, d, StoreOptions(
        numShards = 8, bucketSize = numTs / 10 + 1,
        codecs = Map(
          graft.core.NoopCodec.name -> graft.core.NoopCodec,
          graft.core.GorillaCodec.name -> graft.core.GorillaCodec),
        codecDispatch =
          if (gorilla) Some((_: Array[Byte]) => graft.core.GorillaCodec.name)
          else None))
      val (_, tFill) = time(st.put(floatEntries))
      val (_, tComp) = time(st.blockCompact())
      val (n, tSc) = time(fullScan(st))
      require(n == rows, s"$tag scan count mismatch: $n")
      val g = (0 until 25).map { i =>
        val k = f"key${(i * 41) % numKeys}%08d".getBytes
        time(st.get(k, (i * 17) % numTs))._2
      }
      val blockBytes = new java.io.File(d).listFiles()
        .filter(_.getName.startsWith("b-"))
        .map { f =>
          val walk = java.nio.file.Files.walk(f.toPath)
          try walk.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
          finally walk.close()
        }.sum
      st.close()
      f""""$tag":{"fill_s":$tFill%.2f,"block_compact_s":$tComp%.2f,""" +
        f""""scan_s":$tSc%.2f,"get_block_avg_ms":${g.sum / g.size * 1000}%.0f,""" +
        f""""block_bytes":$blockBytes}"""
    }
    val noopFloat = codecWorkload("noop_float", gorilla = false)
    val gorillaFloat = codecWorkload("gorilla_float", gorilla = true)

    println(f"""{"rows":$rows,"put_s":$tPut%.2f,"put_rows_per_s":${rows / tPut}%.0f,""" +
      f""""get_avg_ms":${gets.sum / gets.size * 1000}%.0f,""" +
      f""""get_cached_avg_us":${cachedGets.sum / cachedGets.size * 1e6}%.0f,""" +
      f""""get_block_avg_ms":${blockGets.sum / blockGets.size * 1000}%.0f,""" +
      f""""multiget50_s":$tMultiget%.2f,"multiget_avg_ms":${tMultiget / mgProbes.size * 1000}%.0f,"scan_s":$tScan%.2f,""" +
      f""""scan_rows_per_s":${rows / tScan}%.0f,"block_compact_s":$tCompact%.2f,""" +
      f""""scan_after_compact_s":$tScan2%.2f,""" +
      noopFloat + "," + gorillaFloat + "}")
    store.close()
    0
  }
}
