package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core.{HelixStore, StoreOptions}

/** Snapshot isolation for readers racing compaction (verdict r17 #2).
  * Reference contract: a scan iterator opened on the store is stable
  * for its lifetime — the merged iterator (db.rs:67 + iterator.rs)
  * never observes a concurrent compaction's effects mid-iteration.
  *
  * The Spark-native analogue: a scan/toDF DataFrame binds the
  * COMMITTED generation's concrete dirs and file listing at
  * construction (InMemoryFileIndex lists eagerly), superseded
  * generations are only graveyarded at commit and physically deleted
  * by retention-gated vacuum — so a plan materializing AFTER a
  * compact/outdate/put still reads exactly the generation it bound:
  * the result equals the pre-mutation state, or (after vacuum
  * reclaims the files) the job FAILS cleanly. Never a mix of
  * generations, never silently partial. */
class StoreSnapshotSpec extends SparkTestBase {

  private val entrySchema = StructType(Seq(
    StructField("key", BinaryType), StructField("ts", LongType),
    StructField("value", BinaryType)))

  private def entriesDF(rows: Seq[(String, Long, String)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (k, t, v) => Row(k.getBytes, t, v.getBytes) }, 2),
      entrySchema)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(String, Long, String)] =
    df.collect().map { r =>
      (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value")))
    }.toSet

  private def batchA: Seq[(String, Long, String)] =
    (0 until 24).map(i => (f"k${i % 6}%02d", (i * 5).toLong, s"a$i"))
  // overwrites half of A's (key, ts) points with NEW values — if a
  // stale plan ever picked up post-snapshot files, LWW would surface
  // a b-value and the set comparison catches the mix
  private def batchB: Seq[(String, Long, String)] =
    (0 until 12).map(i => (f"k${i % 6}%02d", (i * 5).toLong, s"b$i"))

  test("a scan opened before compact/outdate/put serves the pre-mutation snapshot") {
    val store = HelixStore.open(spark, tmpDir("hs-snap"),
      StoreOptions(numShards = 4, bucketSize = 10))
    store.put(entriesDF(batchA))
    val pre = rowsOf(store.toDF)
    // bind the reader plans BEFORE any mutation — nothing materialized yet
    val oldFull = store.toDF
    val oldScan = store.scan((0L, 1000L),
      ("".getBytes, "kzz".getBytes), ordered = false)
    // the full mutation battery: overwriting puts, block compaction,
    // retention cutoff, a second block compaction — three generation swaps
    store.put(entriesDF(batchB))
    store.blockCompact()
    store.outdate(30L)
    store.blockCompact()
    // fresh readers see the post-mutation state...
    val post = rowsOf(store.toDF)
    assert(post != pre, "mutations must be visible to a fresh reader")
    assert(post.exists(_._3.startsWith("b")), "LWW must surface batch B")
    assert(!post.exists(_._2 < 30L), "outdate cutoff must hold for fresh readers")
    // ...but the plans bound before the swaps still serve the snapshot
    assert(rowsOf(oldFull) == pre,
      "pre-compaction toDF must serve the complete pre-mutation state")
    assert(rowsOf(oldScan) == pre,
      "pre-compaction scan must serve the complete pre-mutation state")
  }

  test("mid-iteration compaction: an open iterator finishes on its snapshot") {
    val store = HelixStore.open(spark, tmpDir("hs-snapiter"),
      StoreOptions(numShards = 4, bucketSize = 10))
    store.put(entriesDF(batchA))
    val pre = store.toDF.collect().map { r =>
      (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value")))
    }.toSet
    val it = store.scan((0L, 1000L), ("".getBytes, "kzz".getBytes))
      .toLocalIterator()
    // consume part of the iteration, mutate the store mid-flight, drain
    val head = (0 until 5).map(_ => it.next()).toList
    store.put(entriesDF(batchB))
    store.blockCompact()
    store.outdate(30L)
    val drained = head ++ Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next()).toList
    val got = drained.map { r =>
      (new String(r.getAs[Array[Byte]]("key")), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value")))
    }.toSet
    assert(got == pre,
      "an iterator opened before compaction must finish on its own snapshot")
  }

  test("after vacuum reclaims the snapshot: the stale reader fails cleanly or serves it whole — never a mix") {
    val store = HelixStore.open(spark, tmpDir("hs-snapvac"),
      StoreOptions(numShards = 4, bucketSize = 10))
    store.put(entriesDF(batchA))
    val pre = rowsOf(store.toDF)
    val oldFull = store.toDF
    store.put(entriesDF(batchB))
    store.blockCompact()
    // zero retention: the superseded generation's files are gone NOW —
    // the one state where the stale plan cannot be served
    store.vacuum(0L)
    Try(rowsOf(oldFull)) match {
      case Success(got) =>
        assert(got == pre,
          s"stale reader returned a MIX: ${got.size} rows != snapshot ${pre.size}")
      case Failure(_) => () // failed cleanly — the acceptable outcome
    }
    // the store itself is unharmed: fresh readers serve the live generation
    val post = rowsOf(store.toDF)
    assert(post.nonEmpty && post.exists(_._3.startsWith("b")))
  }
}
