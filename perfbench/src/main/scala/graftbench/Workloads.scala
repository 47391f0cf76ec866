package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{CompactAction, HelixStore, Lifecycle, OutdateAction,
  SimpleTimestampReviewer, StoreOptions}

/** Generated store entries. Keys are `k<6-digit id>`, so byte order is id
  * order; the value of (key, ts) is the first 24 hex digits of
  * sha256("<seed>:<key>:<ts>"), which gen.py recomputes to check every
  * read. */
object Gen {
  def key(id: Long): Array[Byte] = f"k$id%06d".getBytes("UTF-8")

  /** Every key id in [0, nKeys) at every ts in [ts0, ts0 + nTs), in one
    * input partition, as a small ingest batch arrives. */
  def entries(spark: SparkSession, seed: Long, nKeys: Long, ts0: Long,
      nTs: Long): DataFrame =
    spark.range(0L, nKeys * nTs, 1L, 1)
      .select(
        concat(lit("k"), lpad((col("id") % nKeys).cast("string"), 6, "0")).as("k"),
        (lit(ts0) + col("id").divide(nKeys).cast("long")).as("ts"))
      .select(col("k").cast("binary").as("key"), col("ts"),
        substring(sha2(concat_ws(":", lit(seed.toString), col("k"),
          col("ts").cast("string")), 256), 1, 24).cast("binary").as("value"))

  def str(v: Option[Array[Byte]]): String =
    v.map(new String(_, "UTF-8")).getOrElse("null")
}

/** What the benchmark measures from directory listings. */
object StoreFiles {
  /** Bytes of every regular file under `p`. */
  def bytesUnder(p: Path): Long = {
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** Names of the rick-layer parquet files (under `r-<gen>` dirs). */
  def rickFiles(store: Path): Set[String] = {
    if (!Files.exists(store)) return Set.empty
    val gens = Files.list(store)
    try gens.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("r-") && Files.isDirectory(p))
      .flatMap { g =>
        val w = Files.walk(g)
        try w.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toList
        finally w.close()
      }.toSet
    finally gens.close()
  }
}

/** store_serve: a read-only store, read by a mix of skewed point gets,
  * 50-probe multiGets and time x key scans. Set-up ingests the store the
  * way a live one fills: batches of the next `width` timestamps of every
  * key through Lifecycle.putReviewed, whose reviewer schedules a
  * background blockCompact every rick-range and ages out data once
  * `outdate_range` has accumulated; then an uncompacted rick tail. */
object Serve {
  def run(r: Run): Unit = {
    val p = r.plan
    val seed = p.long("seed")
    val keys = p.long("keys")
    val nTs = p.long("ts")
    val width = p.long("width")
    val rick = p.long("rick")
    val dir = r.work.resolve("store")
    val st = HelixStore.open(r.spark, dir.toString, StoreOptions(bucketSize = rick))
    try {
      def entries(ts0: Long, n: Long) = Gen.entries(r.spark, seed, keys, ts0, n)
      // rick files each put adds, from directory listings (traced runs only)
      var putFiles = 0L
      def counted[T](body: => T): T =
        if (!r.tracer.enabled) body
        else {
          val before = StoreFiles.rickFiles(dir)
          try body finally putFiles += (StoreFiles.rickFiles(dir) -- before).size
        }

      val reviewer = new SimpleTimestampReviewer(rick, p.long("outdate_range"))
      for (ts0 <- 0L until nTs by width)
        r.sample("put", ts0.toString) {
          counted(r.tracer.span("lifecycle.put_reviewed", ts0.toString) {
            Lifecycle.putReviewed(st, entries(ts0, width), reviewer)
          })
        }(_.map {
          case CompactAction(a, b) => s"compact:$a:$b"
          case OutdateAction(b) => s"outdate:$b"
        }.mkString(" "))
      r.tracer.span("store.await") { st.awaitCompactions() }
      counted(r.tracer.span("store.put") { st.put(entries(nTs, p.long("tail"))) })
      r.tracer.span("store.vacuum") { st.vacuum(0L) }
      r.counters("put_files") = putFiles.toString
      r.counters("store_bytes") = StoreFiles.bytesUnder(dir).toString

      def key(id: String) = Gen.key(id.toLong)
      def request(op: Array[String], untimed: Boolean): Unit = {
        def timed[T](name: String, span: String, body: => T)(result: T => String): Unit =
          if (untimed) body
          else r.sample(name, op.drop(1).mkString(" "))(r.tracer.span(span)(body))(result)
        op(0) match {
          case "get" =>
            timed("get", "store.get", st.get(key(op(1)), op(2).toLong))(Gen.str)
          case "mget" =>
            val probes = op.drop(1).grouped(2).map(a => (key(a(0)), a(1).toLong)).toSeq
            timed("mget", "store.multiget", st.multiGet(probes))(_.map(Gen.str).mkString(","))
          case "scan" =>
            // scan <ts from> <ts until> <key id from> <key id until>
            timed("scan", "store.scan", st.scan((op(1).toLong, op(2).toLong),
              (key(op(3)), key(op(4)))).count())(_.toString)
        }
      }
      // fill the caches with the hot set, and warm the multiGet and scan
      // paths, before timing
      r.tracer.span("bench.warm") { p.warm.foreach(w => request(w, untimed = true)) }
      val kcBefore = st.kcHits.get()

      // the loop ends on a round boundary, so every run times whole rounds
      var sent = 0
      r.closedLoop(p.double("seconds"))(
        sent % p.int("round") == 0 && r.count("get") >= p.int("min_samples")) { op =>
        request(op, untimed = false)
        sent += 1
      }
      r.counters("kc_hits") = (st.kcHits.get() - kcBefore).toString

      // correctness: live entries after retention, and one aged-out read
      r.counters("live_rows") = r.tracer.span("bench.verify") {
        st.scan((0L, Long.MaxValue), (Array[Byte](0), Array[Byte](127)), ordered = false)
          .count().toString
      }
      r.counters("aged_get") = Json.str(r.tracer.span("bench.verify") {
        Gen.str(st.get(key("0"), 0L))
      })
    } finally st.close()
  }
}

/** ops_sf001: a fixed slice of SparkEntry.queries over the sf0.01 tables,
  * each operator timed on its first run in the process (plan build plus
  * execution). Set-up stages every artifact the slice reads into a fresh
  * stage directory, so the timed pass builds none. */
object Ops {
  private def stagedDirs(root: Path): Map[String, Double] = {
    if (!Files.exists(root)) return Map.empty
    val s = Files.list(root)
    try s.iterator().asScala
      .filter(d => Files.exists(d.resolve("_GRAFT_READY")))
      .map { d =>
        val secs = d.resolve("_GRAFT_BUILD_SECS")
        d.getFileName.toString ->
          (if (Files.exists(secs)) Files.readString(secs).trim.toDouble else 0.0)
      }.toMap
    finally s.close()
  }

  def run(r: Run): Unit = {
    val p = r.plan
    val data = p.str("data")
    val stage = java.nio.file.Paths.get(sys.props("graft.stage.dir"))
    // the slice reads two staged artifacts: the helix_scan_* store and
    // the kNN graph
    r.tracer.span("staging.setup") {
      r.tracer.span("staging.ensure", "HelixScan") {
        graft.operators.HelixScan.ensure(r.spark, data)
      }
      r.tracer.span("staging.ensure", "KnnIndex") {
        graft.operators.KnnIndex.ensure(r.spark, data)
      }
    }
    // warm-up operators outside the slice, untimed, so JIT and planner
    // warm-up do not land on whichever slice operators run first
    r.tracer.span("bench.warm") {
      p.warm.foreach { w =>
        graft.SparkEntry.queries(w(0))(r.spark, data).queryExecution.toRdd.count()
      }
    }
    val staged = stagedDirs(stage)
    r.counters("staged") = Json.obj(staged.toSeq.sorted
      .map { case (k, v) => k -> Json.num(v) }: _*)
    r.counters("stage_bytes") = StoreFiles.bytesUnder(stage).toString

    // an artifact that appears during the timed pass is charged to the
    // operator whose run built it
    var seen = staged.keySet
    val timed = mutable.ArrayBuffer.empty[String]
    // one pass over the slice: each operator runs once
    r.loopStartUs = Clock.nowUs()
    p.ops.foreach { op =>
      val name = op(0)
      val fn = graft.SparkEntry.queries(name)
      r.spark.catalog.clearCache()
      r.sample("query", name) {
        r.tracer.span("ops.query", name) {
          val df = r.tracer.span("ops.plan", name) {
            val df = fn(r.spark, data)
            df.queryExecution.executedPlan
            df
          }
          r.tracer.span("ops.exec", name) { df.queryExecution.toRdd.count() }
        }
      }(_.toString)
      val now = stagedDirs(stage).keySet
      timed ++= (now -- seen).toSeq.sorted.map(d => s"$d by $name")
      seen = now
    }
    r.loopEndUs = Clock.nowUs()
    r.counters("timed_builds") = timed.size.toString
    r.counters("timed_built") = Json.arr(timed.map(Json.str))
  }
}
