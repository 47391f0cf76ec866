package graft.core

import java.nio.ByteBuffer
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapred.JobConf
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.graftbridge.InputMetricsBridge
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StructField, StructType}

/**
 * Spark-native re-expression of the reference store
 * (reference: src/db.rs:33-80 — HelixDB::open/put/get/scan/close;
 * src/level.rs — rick/SSTable levels, TimestampReviewer compact+outdate).
 *
 * Logical model: (key: BINARY, ts: LONG) → value: BINARY, exactly the
 * reference's Entry (reference: src/types/entry.rs). Physical model:
 * parquet partitioned by
 *   shard  = pmod(xxhash64(key), numShards)   — the ShardingKeyFn
 *   bucket = ts div bucketSize                — the time level
 * so key point-reads prune to one shard directory and time-range scans
 * prune to the touched buckets — the Spark equivalent of the
 * reference's per-shard rick files and per-time-range SSTables.
 *
 * == Crash-safe layout ==
 * All state lives under one root:
 * {{{
 *   <path>/_current    commit pointer (atomic rename is the commit point)
 *   <path>/_seqs/<n>   one atomically-created file per claimed write seq
 *   <path>/r-<g>/...   rick (row) layer, generation g
 *   <path>/b-<g>/...   block ("SSTable") layer, generation g
 * }}}
 * Compactions write complete NEW generation directories, then commit by
 * atomically replacing `_current` (rows and blocks flip together), then
 * bury the old generations in `_graveyard`, from which `vacuum()`
 * deletes them once the retention window has passed. A crash
 * at any point leaves either the old pointer (new dirs are unreferenced
 * orphans, rolled back by `open()`) or the new pointer (old dirs not yet
 * buried are orphans, likewise removed) — committed data is never lost
 * mid-swap, matching the reference's crash-recoverable level swap
 * (src/level.rs).
 *
 * Freshly `put` data lands as small append files (the "rick" role);
 * `blockCompact()` folds both layers into one compressed block per
 * (key, shard, bucket) with last-write-wins applied (the "SSTable"
 * role); `outdate()` raises the retention cutoff and buries the bucket
 * partitions below it (O(partitions) metadata, no data rewrite) — the
 * Outdate timestamp action.
 *
 * == Reads ==
 * Every read of the layers is one (shard, bucket) pair at a time, the
 * reference's per-shard iterator over its rick and SSTable files
 * (src/db.rs:67-74, src/iterator.rs): `HelixStore.pairEntries` reads
 * the pair's rick and block files through Spark's own parquet reader
 * ([[HelixStore.PartitionReader]]) and merges them last-write-wins.
 * Point reads and small scans run it on the driver, a call of two or
 * more pairs on the store's pair-read pool; larger scans,
 * `toDF`, `latest`, seq recovery and compaction run it inside Spark
 * tasks that each take whole pairs.
 *
 * At cluster scale the same layout holds: shards spread writes across
 * executors, buckets bound the data any time-ranged query touches, and
 * compaction is an embarrassingly parallel per-pair rewrite, with no
 * shuffle, whose commit is one metadata rename.
 */
/** User-defined compress function (UDCF) over a block's value payload —
  * the reference's headline custom-compression surface (reference:
  * src/fn_registry.rs:12-16 CompressFn/DecompressFn). `encode` packs one
  * key's value run into a single blob at compaction; `decode` must
  * invert it exactly. Implementations must be Serializable: they run
  * inside executor-side compaction tasks. */
trait BlockCodec extends Serializable {
  def name: String
  def encode(vals: Array[Array[Byte]]): Array[Byte]
  def decode(blob: Array[Byte]): Array[Array[Byte]]
}

/** Built-in codec mirroring the reference's `noop` UDCF (fn_registry.rs
  * noop compress: concatenated values with a length footer): 4-byte
  * big-endian length prefix per value. */
object NoopCodec extends BlockCodec {
  val name = "noop"
  def encode(vals: Array[Array[Byte]]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(vals.map(_.length + 4).sum)
    vals.foreach { v => buf.putInt(v.length); buf.put(v) }
    buf.array()
  }
  def decode(blob: Array[Byte]): Array[Array[Byte]] = {
    val buf = java.nio.ByteBuffer.wrap(blob)
    val out = Array.newBuilder[Array[Byte]]
    while (buf.remaining() > 0) {
      val v = new Array[Byte](buf.getInt())
      buf.get(v)
      out += v
    }
    out.result()
  }
}

final case class StoreOptions(
    numShards: Int = 8,
    /** Timestamp units per bucket (the reference's rick_range). */
    bucketSize: Long = 86400L,
    /** User-registered sharding function over the key column — the
      * reference's ShardingKeyFn (fn_registry.rs:55). Must return a
      * value in [0, numShards). None = pmod(xxhash64(key), numShards). */
    shardingFn: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] = None,
    /** Named UDCF registry — reference register_udcf (fn_registry.rs:75).
      * Every codec a dispatch can name must be registered BEFORE data is
      * compacted with it and kept registered for as long as blocks
      * encoded with it exist. */
    codecs: Map[String, BlockCodec] = Map(NoopCodec.name -> NoopCodec),
    /** Per-key codec dispatch — reference register_dispatch_fn
      * (fn_registry.rs:88): maps a key to the name of the codec that
      * compresses its blocks. None = everything through `noop`. Must be
      * deterministic and Serializable (runs in compaction tasks). */
    codecDispatch: Option[Array[Byte] => String] = None,
    /** Age (ms) after which a superseded generation in the graveyard may
      * be physically deleted by vacuum(). Retention gives lazily-running
      * reader plans time to finish against swapped-out generations —
      * the snapshot-retention idea from log-structured table formats. */
    graveyardRetentionMs: Long = 10 * 60 * 1000L,
    /** Age (ms) after which a cross-process mutation lock is presumed
      * abandoned (holder crashed) and may be broken. */
    lockStaleMs: Long = 10 * 60 * 1000L,
    /** Point-read LRU capacity — the reference's kv_cache
      * (cache.rs CacheConfig.kv_cache_size, default 256). 0 disables.
      * Safe under concurrent writers: the cache epoch is (pointer,
      * max write-seq), and every mutation moves one of the two. */
    kvCacheSize: Int = 256,
    /** Largest VALUE (bytes) the kv cache will hold — the reference's
      * kv_cache_threshold (cache.rs:23, applied at cache.rs:104: an
      * entry at or above the threshold is served but not cached).
      * "Cache small and frequent is better" (cache.rs doc): without
      * the cap, kvCacheSize pathological values could pin
      * size × valueBytes of driver heap. */
    kvCacheThresholdBytes: Long = 1L << 20,
    /** Compressed-block LRU capacity — the reference's kc_cache
      * (cache.rs:17 kc_cache_size: key → compressed bytes). Caches a
      * key's UNDECODED blocks per (shard, bucket): a repeat point read
      * of the same key at a DIFFERENT timestamp (which the kv cache
      * misses) decodes driver-side instead of re-scanning the block
      * parquet. 0 disables. Epoch = the committed pointer: blocks only
      * change on blockCompact/outdate, so puts (rick-only mutations)
      * leave cached blocks valid. (The reference's kp_cache —
      * key → value-log position — has no Spark analogue: there is no
      * value log.) */
    kcCacheSize: Int = 256,
    /** Largest ENTRY (total bytes of one key's blocks in one (shard,
      * bucket)) the kc cache will hold — the reference's
      * kc_cache_threshold (cache.rs:25): oversized entries are served
      * but not cached, bounding worst-case driver heap at
      * kcCacheSize × this, entry count alone bounds nothing when one
      * key's blocks are huge. */
    kcCacheThresholdBytes: Long = 8L << 20,
    /** Ingest fan-out: writer tasks (≈ parquet files) each put spreads
      * one (shard, bucket) partition across — the tuning surface the
      * reference exposes as write-batch sizing (src/option.rs
      * Options.write_batch, src/level.rs:594 WriteBatchConfig). 1
      * (default) clusters every touched partition into a single file
      * per put: fewest files, write parallelism = #touched partitions.
      * n > 1 salts the pre-write shuffle so a hot partition's rows
      * spread over up to n writer tasks (wider ingest, more files).
      * 0 skips the pre-write shuffle entirely: every input task writes
      * its own file into each partition it holds — lowest ingest
      * latency, most files (the small-files trade the reference makes
      * with batch_size = 0). */
    putWritersPerPartition: Int = 1,
    /** Background-compaction requests that may sit QUEUED beyond the
      * running one — the reference's Options.task_buffer_size
      * (option.rs:119). Requests past the buffer coalesce into the
      * already-queued pass (which will see their data anyway); 1
      * (default) keeps at most one in-flight + one pending. */
    taskBufferSize: Int = 1,
    /** When set, a daemon timer calls scheduleBlockCompact() every
      * interval while un-blocked rick rows exist — the reference's
      * periodic compaction prompt (option.rs:124
      * compact_prompt_interval). None (default) = compactions run only
      * when the lifecycle or the caller asks. */
    compactPromptIntervalMs: Option[Long] = None)

/** Per-scan tuning — the reference's `ScanOption.prefetch_buf_size`
  * (src/option.rs:151). In a Spark scan "read-ahead" is governed by
  * input-split sizing and output parallelism rather than one ring
  * buffer, so the analogue is two knobs:
  *  - `maxPartitionBytes`: bytes per scan task for THIS scan only
  *    (smaller → more, smaller read units — the prefetch-buffer dial),
  *    in place of the session's `spark.sql.files.maxPartitionBytes`
  *    when the store packs the range's (shard, bucket) pairs into
  *    tasks. A task always takes whole pairs, so a value below one
  *    pair's files gives one task per pair. Setting it puts the scan
  *    on the task path whatever the range's size: split sizing means
  *    nothing to a read on the driver (see `HelixStore.scan`).
  *  - `targetPartitions`: output partition count of the scan (0 =
  *    leave to the optimizer/AQE). Ordered scans range-partition on
  *    (key, ts) into exactly this many partitions, preserving global
  *    order; unordered scans round-robin. It applies to a scan read
  *    on the driver and to one read in tasks alike. */
final case class ScanOptions(
    targetPartitions: Int = 0,
    maxPartitionBytes: Option[Long] = None,
    comparator: Option[Column => Column] = None) {
  require(targetPartitions >= 0,
    s"targetPartitions must be >= 0: $targetPartitions")
  require(maxPartitionBytes.forall(_ > 0),
    s"maxPartitionBytes must be positive: $maxPartitionBytes")
}

object HelixStore {
  val EntryColumns: Seq[String] = Seq("key", "ts", "value")

  /** Unsigned-lexicographic byte-array ordering — exactly Spark SQL's
    * BinaryType comparison, so the store's key ranges and LWW value
    * tiebreak order bytes the way a Catalyst orderBy does. */
  private[core] object BytesOrdering extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** The store's one last-write-wins order over (seq, subseq, value):
    * the greatest wins, in every read and in compaction. A member of the
    * object, so a task closure using it captures no store. */
  private[core] val LwwOrdering: Ordering[(Long, Long, Array[Byte])] =
    Ordering.Tuple3(Ordering.Long, Ordering.Long, BytesOrdering)

  /** Compressed block: one key's run within one (shard, bucket), ts
    * delta-encoded from t0 with the max ts carried as t1 (so a read
    * skips a block whose [t0, t1] misses its time range before decoding
    * it — the reference's SSTable block-meta time range), per-entry
    * seq preserved for LWW, values packed into one `payload` blob by
    * the named UDCF `codec` — the SSTable+UDCF unit (reference:
    * src/file/sstable.rs + fn_registry.rs compress_entries). */
  final case class BinBlock(key: Array[Byte], shard: Int, bucket: Long,
      t0: Long, t1: Long, deltas: Array[Long], seqs: Array[Long],
      codec: String, payload: Array[Byte])

  /** One raw (pre-LWW) entry as the reads emit it, in the column order
    * of [[RickSchema]]. */
  private[core] final case class RawEntry(key: Array[Byte], ts: Long, value: Array[Byte],
      seq: Long, subseq: Long, shard: Int, bucket: Long) {
    def lww: (Long, Long, Array[Byte]) = (seq, subseq, value)
  }

  /** The store's one block decoder: the entries of `b` whose ts
    * `keepTs` accepts, walked lazily off the delta-encoded timestamps;
    * the payload is decoded at the first entry kept, so a block with
    * none is never decoded. Block entries are already LWW winners, so
    * their in-block position serves as the subseq tiebreak. A member of
    * the object, so a task closure calling it captures only `codecs`. */
  private[core] def blockEntries(b: BinBlock, codecs: Map[String, BlockCodec],
      keepTs: Long => Boolean = _ => true): Iterator[RawEntry] = {
    lazy val vals = codecs.getOrElse(b.codec, throw new IllegalArgumentException(
      s"block encoded with unregistered codec '${b.codec}' " +
        s"(registered: ${codecs.keys.mkString(", ")})")).decode(b.payload)
    var t = b.t0
    Iterator.range(0, b.deltas.length).flatMap { i =>
      t += b.deltas(i)
      if (keepTs(t)) Some(RawEntry(b.key, t, vals(i), b.seqs(i), i.toLong, b.shard, b.bucket))
      else None
    }
  }

  // Product encoders are derived by Scala reflection; derived once here
  // rather than on every compaction.
  private val BinBlockEncoder: Encoder[BinBlock] = Encoders.product[BinBlock]

  // Every layer is written by the store itself, so its schema is a
  // constant: reads pass it instead of running a schema-inference job.
  /** Rick (row) layer: the entry columns as put() casts them, the write
    * seq, the within-batch tiebreak and the two partition columns. */
  val RickSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("ts", LongType),
    StructField("value", BinaryType), StructField("seq", LongType),
    StructField("subseq", LongType),
    StructField("shard", IntegerType), StructField("bucket", LongType)))
  /** The entry columns, as a scan returns them. */
  private val EntrySchema: StructType = StructType(EntryColumns.map(RickSchema(_)))
  /** The largest scan read on the driver (see `HelixStore.scan`): its
    * listed files, and the key and value bytes of the entries it
    * keeps, each total at most this. Past it the scan's pairs are read
    * in Spark tasks. The kept half also bounds what the driver holds
    * when the files compress far better than that. Measured on 4 cores
    * with the driver's pairs read on the pair-read pool (8 shards,
    * 10-ts buckets of compacted blocks, 16-byte keys and values, medians
    * of 11 scans with their count, driver against tasks, alternated):
    * 2,400 rows in 16 files 52 against 62 ms (the driver won 9 of 11),
    * 10,000 rows in 8 files 46 against 49 ms (6 of 11), 20,000 rows in
    * 16 files 71 against 47 ms (0 of 11) and 30,000 rows in 24 files
    * (960 KB kept) 85 against 44 ms (0 of 11). On store_serve (2,400
    * rows in 16–24 files) the driver read won `rows_per_s` in 8 of 8
    * pairs against a copy that sent every scan to tasks. So the
    * crossover lies near 10,000 rows, well below this bound; the bound
    * stays until a workload above it can judge a lower one. */
  private[graft] val InProcessScanMaxBytes: Long = 1L << 20
  /** Block layer: one [[BinBlock]] per row. */
  val BlockSchema: StructType = BinBlockEncoder.schema

  /** The partition columns of the rick and block layers: their
    * `shard=<s>/bucket=<b>` directories. */
  private val PartitionSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType), StructField("bucket", LongType)))
  /** A partitioned layer's columns stored in its files. */
  private def dataColumnsOf(schema: StructType): StructType =
    StructType(schema.filterNot(f => PartitionSchema.fieldNames.contains(f.name)))

  /** One data file of a layer, stat'ed once by the listing: its URI,
    * size and mtime, which the listing's byte total, the task packing
    * and the file's `PartitionedFile` all use. */
  private[core] final case class DataFile(path: SparkPath, size: Long, mtime: Long)

  /** One (shard, bucket) partition dir of a layer and its data files. */
  private final case class LayerPart(shard: Int, bucket: Long, files: Seq[DataFile])

  /** One (shard, bucket) pair of a read and its files in both layers:
    * the unit a read never splits, as its LWW merge needs all of them. */
  private[core] final case class Pair(shard: Int, bucket: Long,
      rick: Seq[DataFile], blocks: Seq[DataFile]) {
    def files: Seq[DataFile] = rick ++ blocks
  }

  /** The pairs of a rick and a block listing, sorted. */
  private def pairsOf(rick: Seq[LayerPart], blocks: Seq[LayerPart]): Seq[Pair] = {
    def byPair(l: Seq[LayerPart]) = l.map(pt => (pt.shard, pt.bucket) -> pt.files).toMap
    val (r, b) = (byPair(rick), byPair(blocks))
    (r.keySet ++ b.keySet).toSeq.sorted.map { case k @ (shard, bucket) =>
      Pair(shard, bucket, r.getOrElse(k, Nil), b.getOrElse(k, Nil))
    }
  }

  /** The rectangle a read keeps: ts in [tLo, tHi], both inclusive so a
    * whole-store read needs no sentinel, and key in [k0, k1), with no
    * upper key bound when `k1` is None. */
  private[core] final case class Rect(tLo: Long, tHi: Long, k0: Array[Byte],
      k1: Option[Array[Byte]]) {
    def hasTs(ts: Long): Boolean = ts >= tLo && ts <= tHi
    def hasKey(k: Array[Byte]): Boolean =
      BytesOrdering.compare(k, k0) >= 0 && k1.forall(BytesOrdering.compare(k, _) < 0)
    /** Whether a block whose entries span [t0, t1] can hold one inside. */
    def meets(t0: Long, t1: Long): Boolean = t0 <= tHi && t1 >= tLo
  }
  private[core] val Everything = Rect(Long.MinValue, Long.MaxValue, Array.emptyByteArray, None)

  /** The store's one parquet read: the rows of known data files of one
    * layer, read by Spark's own parquet reader, one `PartitionedFile` per
    * data file, on the thread that asks, be it the driver's (a get), a
    * pair-read pool thread's (a multiGet or a small scan of two or more
    * pairs) or a task's. A get reads a few KB from one known dir; a
    * query would pay the planner and a job for it. Row groups are not
    * skipped: a compacted partition holds its keys in arbitrary order,
    * so every row group's key range spans nearly the whole pair's.
    * Output rows are `dataCols` followed by the (shard, bucket) a read
    * passes, looked up through [[ordinal]].
    * Built once per store and layer on the driver: building the reader
    * broadcasts the Hadoop conf. The reader is the same serializable
    * function Spark's own file scan ships to its tasks, and `spark` is
    * used only to build it, so a task closure can hold this reader.
    *
    * The conf is one `JobConf`, shared by every file this reader reads
    * in this JVM. Spark's reader wraps it in a `TaskAttemptContextImpl`
    * per file, and that copies any conf that is not already a `JobConf`
    * (`new JobConf(conf)`), which was 18% of a multiGet's CPU. Sharing
    * it is safe only because this reader passes no filters: with none,
    * `ParquetInputFormat.setFilterPredicate` never writes to the conf,
    * and every other per-file use only reads it. A reader that pushes a
    * filter down must copy the conf per file again. The conf also turns
    * parquet's vectored IO off, so each row group is read on the calling
    * thread rather than handed to an async pool the caller then waits on.
    *
    * Inside a task, each file's size counts as the task's input bytes,
    * as Spark's own file scan counts them. */
  private[core] final class PartitionReader(spark: SparkSession, dataCols: StructType)
      extends Serializable {
    val ordinal: Map[String, Int] = (dataCols ++ PartitionSchema).map(_.name).zipWithIndex.toMap
    private val read: PartitionedFile => Iterator[InternalRow] = {
      val conf = new JobConf(spark.sessionState.newHadoopConf())
      conf.setBoolean(ParquetInputFormat.HADOOP_VECTORED_IO_ENABLED, false)
      new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, dataCols, PartitionSchema, dataCols, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    }

    /** The rows of `files` that `keep` accepts, with partition values
      * (shard, bucket), copied (the reader reuses its row objects). Each
      * file is read whole when the iterator reaches it, and closed. */
    def rows(files: Seq[DataFile], shard: Int, bucket: Long)(
        keep: InternalRow => Boolean): Iterator[InternalRow] = {
      val values = InternalRow(shard, bucket)
      files.iterator.flatMap { f =>
        val out = Vector.newBuilder[InternalRow]
        val it = read(PartitionedFile(values, f.path, 0L, f.size,
          Array.empty[String], f.mtime, f.size))
        try it.foreach(r => if (keep(r)) out += r.copy())
        finally it match { case c: AutoCloseable => c.close(); case _ => () }
        InputMetricsBridge.addBytesRead(f.size)
        out.result()
      }
    }
  }

  /** A row the block reader `blocks` returned, as a [[BinBlock]]. */
  private[core] def binBlockOf(blocks: PartitionReader, r: InternalRow): BinBlock = {
    val o = blocks.ordinal
    BinBlock(r.getBinary(o("key")), r.getInt(o("shard")), r.getLong(o("bucket")),
      r.getLong(o("t0")), r.getLong(o("t1")), r.getArray(o("deltas")).toLongArray(),
      r.getArray(o("seqs")).toLongArray(), r.getUTF8String(o("codec")).toString,
      r.getBinary(o("payload")))
  }

  /** The store's one range read: the live entries of `pair` inside `r`,
    * the same on the driver and in a task, as its closure holds only the
    * two readers, the codecs and plain values. The rick rows inside the
    * rectangle and the entries inside it of the blocks that can hold one
    * are merged last-write-wins per (key, ts) by [[LwwOrdering]]. A pair
    * is one shard, so the merge is scoped per shard, like the reference's
    * independent shard trees: a directPut entry keeps its own winner. A
    * pair with no rick file streams its block entries with no merge, as
    * a compaction already left one winner per (key, ts) in its blocks. */
  private[core] def pairEntries(rick: PartitionReader, blocks: PartitionReader,
      codecs: Map[String, BlockCodec], pair: Pair, r: Rect): Iterator[RawEntry] = {
    val bo = blocks.ordinal
    val (bKey, bT0, bT1) = (bo("key"), bo("t0"), bo("t1"))
    val fromBlocks = blocks.rows(pair.blocks, pair.shard, pair.bucket) { row =>
      r.meets(row.getLong(bT0), row.getLong(bT1)) && r.hasKey(row.getBinary(bKey))
    }.flatMap(row => blockEntries(binBlockOf(blocks, row), codecs, r.hasTs))
    if (pair.rick.isEmpty) fromBlocks
    else {
      val ro = rick.ordinal
      val (rKey, rTs, rValue, rSeq, rSub) = (ro("key"), ro("ts"), ro("value"), ro("seq"), ro("subseq"))
      val winners = new java.util.HashMap[(ByteBuffer, Long), RawEntry]()
      def merge(e: RawEntry): Unit =
        winners.merge((ByteBuffer.wrap(e.key), e.ts), e,
          (a, b) => if (LwwOrdering.gt(b.lww, a.lww)) b else a): Unit
      rick.rows(pair.rick, pair.shard, pair.bucket) { row =>
        r.hasTs(row.getLong(rTs)) && r.hasKey(row.getBinary(rKey))
      }.foreach(row => merge(RawEntry(row.getBinary(rKey), row.getLong(rTs),
        row.getBinary(rValue), row.getLong(rSeq), row.getLong(rSub), pair.shard, pair.bucket)))
      fromBlocks.foreach(merge)
      winners.values.iterator.asScala
    }
  }

  /** The blocks a compaction writes for `pair`: its live entries grouped
    * by key, one [[BinBlock]] per key with its entries in ts order and
    * its values packed by the codec `dispatch` names, in key order. A
    * dispatch to an unregistered codec name fails the compaction loudly
    * (reference FnRegistry::udcf errors, fn_registry.rs:96). */
  private[core] def pairBlocks(rick: PartitionReader, blocks: PartitionReader,
      codecs: Map[String, BlockCodec], dispatch: Array[Byte] => String,
      pair: Pair): Iterator[BinBlock] =
    pairEntries(rick, blocks, codecs, pair, Everything).toArray
      .groupBy(e => ByteBuffer.wrap(e.key)).valuesIterator.map { es =>
        val byTs = es.sortBy(_.ts)
        val t0 = byTs.head.ts
        val deltas = new Array[Long](byTs.length)
        var prev = t0
        var i = 0
        while (i < byTs.length) {
          deltas(i) = byTs(i).ts - prev; prev = byTs(i).ts; i += 1
        }
        val keyBytes = byTs.head.key
        val codecName = dispatch(keyBytes)
        val codec = codecs.getOrElse(codecName, throw new IllegalArgumentException(
          s"codec dispatch returned unregistered name '$codecName' " +
            s"(registered: ${codecs.keys.mkString(", ")})"))
        BinBlock(keyBytes, pair.shard, pair.bucket, t0, byTs.last.ts, deltas,
          byTs.map(_.seq), codecName, codec.encode(byTs.map(_.value)))
      }.toArray.sortBy(_.key)(BytesOrdering).iterator

  def open(spark: SparkSession, path: String,
      opts: StoreOptions = StoreOptions()): HelixStore =
    new HelixStore(spark, path, opts)
}

final class HelixStore private (
    val spark: SparkSession, val path: String, val opts: StoreOptions) {
  import HelixStore._

  require(opts.numShards > 0, s"numShards must be positive: ${opts.numShards}")
  require(opts.bucketSize > 0, s"bucketSize must be positive: ${opts.bucketSize}")
  require(opts.codecs.nonEmpty, "at least one codec must be registered")
  require(opts.putWritersPerPartition >= 0,
    s"putWritersPerPartition must be >= 0: ${opts.putWritersPerPartition}")
  // The heartbeat touches a held lock every max(250ms, lockStaleMs/3);
  // a staleness window at or below the heartbeat period would let a
  // LIVE lock be presumed stale between touches, silently voiding the
  // guarantee. Keep the window comfortably above the minimum period.
  require(opts.lockStaleMs > 1000L,
    s"lockStaleMs must exceed 1000ms (heartbeat floor is 250ms): ${opts.lockStaleMs}")
  require(opts.taskBufferSize >= 1,
    s"taskBufferSize must be >= 1: ${opts.taskBufferSize}")
  require(opts.compactPromptIntervalMs.forall(_ > 0),
    s"compactPromptIntervalMs must be positive: ${opts.compactPromptIntervalMs}")

  /** TEST-ONLY crash injection (StoreCrashSpec): invoked at named
    * points inside the commit protocol so a spec can simulate a
    * process death between any two protocol steps by throwing from
    * here. Production value is a no-op; the hook sits outside every
    * hot path (commit windows only). Declared BEFORE `ptr`: the
    * pointer initializer commits on first open and already fires it. */
  private[graft] var crashHook: String => Unit = _ => ()

  private val root: Path = Paths.get(path)
  private val seqsDir: Path = root.resolve("_seqs")
  private val pointerFile: Path = root.resolve("_current")
  private val mutexFile: Path = root.resolve("_mutex")
  private val graveyardFile: Path = root.resolve("_graveyard")
  /** Identifies this instance's cross-process lock ownership. */
  private val instanceId: String = java.util.UUID.randomUUID().toString

  // ---- cross-process mutation lock ------------------------------------
  // Every MUTATION (put, blockCompact, outdate, vacuum, open-
  // time orphan cleanup) runs under an exclusive on-disk lock claimed by
  // atomically creating `_mutex` — so another process's put can never
  // interleave with this process's compaction swap (the lost-write and
  // deleted-uncommitted-output races). The lock is reentrant PER
  // INSTANCE (hold count), which is what lets a put proceed while this
  // same instance's background compaction holds the lock — intra-
  // instance interleaving is governed by the finer putGate below. A lock
  // whose file is older than opts.lockStaleMs is presumed abandoned by a
  // crashed process and broken. At cluster scale this role is played by
  // a catalog/metastore transaction lock; a lock FILE works for any
  // filesystem with atomic create (not S3 — document before porting).
  private val lockState = new Object
  private var lockHolds = 0

  /** Touches the held lock file periodically so a LIVE long mutation is
    * never presumed stale: without the heartbeat, any compaction longer
    * than lockStaleMs would have its lock broken mid-flight by a
    * waiting process and two mutators would interleave — the exact race
    * the lock exists to prevent. */
  private val lockHeartbeat =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-lock-heartbeat"); t.setDaemon(true); t
    })
  locally {
    val period = math.max(250L, opts.lockStaleMs / 3)
    lockHeartbeat.scheduleWithFixedDelay(() => lockState.synchronized {
      if (lockHolds > 0) {
        try {
          if (new String(Files.readAllBytes(mutexFile)) == instanceId)
            Files.setLastModifiedTime(mutexFile,
              java.nio.file.attribute.FileTime.fromMillis(
                System.currentTimeMillis()))
        } catch { case _: java.io.IOException => () }
      }
    }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS): Unit
  }

  // periodic compaction prompt (reference compact_prompt_interval,
  // option.rs:124): while un-blocked rick rows exist, nudge the deduped
  // background scheduler. DEDICATED daemon timer — the probe does a
  // pointer read + rick dir listing, which on a slow filesystem could
  // outlast the heartbeat period; sharing the heartbeat thread would
  // delay lock touches and let a waiter presume a LIVE lock stale. The
  // compaction itself runs on compactExec, never here.
  private val compactPrompt = opts.compactPromptIntervalMs.map { iv =>
    val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-compact-prompt"); t.setDaemon(true); t
    })
    ex.scheduleWithFixedDelay(() => {
      try { if (hasRickRows) scheduleBlockCompact() }
      catch { case _: Throwable => () } // a failed probe must not kill the timer
    }, iv, iv, java.util.concurrent.TimeUnit.MILLISECONDS): Unit
    ex
  }

  private def acquireMutex(): Unit = {
    // Cross-iteration stale-confirmation state: (lock bytes, mtime,
    // first-observed-at). Staleness is confirmed by TWO observations of
    // the SAME bytes+mtime at least one heartbeat period apart — a live
    // holder touches mtime every period. Carrying the first observation
    // across loop iterations means each waiter pays the confirm delay
    // AT MOST ONCE per distinct lock state: a waiter that just lost the
    // break race to another process sees the winner's FRESH bytes,
    // resets this, and goes back to fast 5 ms spins instead of
    // serializing one full confirm-sleep per waiter per retry.
    var staleObs: Option[(String, Long, Long)] = None
    while (true) {
      // re-checked EVERY iteration: if another thread of this instance
      // won the file while we spun, we must join its hold count — not
      // keep spinning until release (and never stale-break our own
      // instance's live lock)
      lockState.synchronized {
        if (lockHolds > 0) { lockHolds += 1; return }
      }
      try {
        Files.write(mutexFile, instanceId.getBytes,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        lockState.synchronized { lockHolds += 1 }
        return
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // stale-break: holder crashed without releasing
          try {
            val staleContent =
              try Some(new String(Files.readAllBytes(mutexFile)))
              catch { case _: java.io.IOException => None }
            val staleMtime = Files.getLastModifiedTime(mutexFile).toMillis
            val age = System.currentTimeMillis() - staleMtime
            val ownedByUs = staleContent.contains(instanceId)
            // Staleness must survive a CONFIRMING re-observation one
            // heartbeat period later before anyone breaks the lock: a
            // live holder touches mtime every period, so the same
            // bytes+mtime seen across >= one period means the holder is
            // really gone (or frozen past its entire staleness budget).
            // This shrinks the misjudge window from "one delayed touch"
            // to "holder stalled for lockStaleMs + a full period". The
            // two observations are loop iterations against the cached
            // staleObs, not an inline sleep, so the wait interleaves
            // with the CREATE_NEW attempts above and resets the moment
            // the lock changes hands. The observe→move gap below is the
            // documented RESIDUAL race; the tombstone bytes+mtime check
            // and the restore loop handle a fresh lock captured inside
            // it.
            val confirmDelay = math.max(250L, opts.lockStaleMs / 3)
            val overAge = !ownedByUs && staleContent.isDefined &&
              age > opts.lockStaleMs
            val confirmedStale = overAge && {
              val cur = (staleContent.get, staleMtime)
              val now = System.currentTimeMillis()
              staleObs match {
                case Some((c, m, t0)) if (c, m) == cur =>
                  now - t0 >= confirmDelay
                case _ =>
                  staleObs = Some((cur._1, cur._2, now)); false
              }
            }
            if (!overAge) staleObs = None
            if (confirmedStale) {
              // ATOMIC break: rename the stale file to a tombstone only
              // one waiter can win. A bare delete races — two waiters
              // could both pass the age check, the first re-acquire,
              // and the second's delete would then remove the FRESH
              // lock, letting two mutators run concurrently.
              val tomb = root.resolve(s"_mutex.stale.$instanceId")
              try {
                Files.move(mutexFile, tomb,
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                // The age check and the move are still two steps:
                // another waiter may have broken the same stale lock
                // in between and its new owner re-created a FRESH
                // `_mutex` — which our move just captured. Only delete
                // the tombstone if it holds EXACTLY the bytes+mtime we
                // judged stale (rename preserves both); otherwise hand
                // the fresh lock back and keep waiting.
                val tombContent =
                  try Some(new String(Files.readAllBytes(tomb)))
                  catch { case _: java.io.IOException => None }
                val tombMtime =
                  try Files.getLastModifiedTime(tomb).toMillis
                  catch { case _: java.io.IOException => -1L }
                if (tombContent == staleContent && tombMtime == staleMtime) {
                  Files.deleteIfExists(tomb): Unit
                } else {
                  // captured a live lock — restore it. A third waiter
                  // could create `_mutex` inside this window; spin a
                  // bounded retry rather than deleting a live lock.
                  var restored = false
                  var attempts = 0
                  var overlapFlagged = false
                  while (!restored && attempts < 200) {
                    try {
                      Files.move(tomb, mutexFile,
                        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                      restored = true
                    } catch {
                      case _: java.nio.file.FileAlreadyExistsException =>
                        // a THIRD waiter acquired while the live lock sat
                        // captured in our tombstone — the captured owner
                        // and that waiter may have overlapped. Flag it
                        // for operator forensics; the restore still
                        // proceeds once the third waiter releases.
                        if (!overlapFlagged) {
                          overlapFlagged = true
                          System.err.println(
                            s"[helixstore] WARNING: lock break captured a live lock " +
                              s"and a third waiter acquired during the capture window " +
                              s"($mutexFile); mutator overlap possible in that window")
                        }
                        attempts += 1; Thread.sleep(5)
                      case _: java.io.IOException =>
                        restored = true // tombstone gone — nothing to restore
                    }
                  }
                  // Giving up silently would leave the captured owner
                  // believing it holds a lock that no longer exists on
                  // disk while another waiter acquired — the exact
                  // two-mutators outcome. FAIL LOUDLY: this waiter's
                  // mutation aborts, and the stranded tombstone keeps
                  // the evidence for operator forensics.
                  if (!restored)
                    throw new IllegalStateException(
                      s"lock break captured a live lock and could not restore it " +
                        s"(tombstone: $tomb); aborting rather than risking two mutators")
                }
              } catch { case _: java.io.IOException => () } // lost the break race
            }
            // Awaiting a stale confirmation, poll gently (the lock can
            // only change hands, which resets the observation); in live
            // contention, spin fast to win the release promptly.
            else Thread.sleep(if (overAge) math.min(confirmDelay, 250L) else 5)
          } catch { case _: java.nio.file.NoSuchFileException => () }
      }
    }
  }

  private def releaseMutex(): Unit = lockState.synchronized {
    lockHolds -= 1
    if (lockHolds == 0) {
      // Only keep the file on positive proof another process now owns
      // it (a stale-break while we overstayed — the heartbeat makes
      // that near-impossible). A file that is GONE means there is
      // nothing of ours to clean up — deleting after a breaker's
      // mid-move window could remove the breaker's re-created fresh
      // lock. Other read failures must still delete: leaking our own
      // lock would wedge this instance behind the full staleness
      // window with no escape (the stale-break guard never fires on a
      // file holding our own id).
      val stillOurs =
        try new String(Files.readAllBytes(mutexFile)) == instanceId
        catch {
          case _: java.nio.file.NoSuchFileException => false
          case _: java.io.IOException => true
        }
      if (stillOurs) {
        try Files.deleteIfExists(mutexFile): Unit
        catch { case _: java.io.IOException => () }
      }
    }
  }

  private def withMutex[T](f: => T): T = {
    acquireMutex()
    try f finally releaseMutex()
  }

  // ---- intra-instance put/compaction gate -----------------------------
  // Puts and a background compaction of the SAME instance overlap almost
  // entirely: the compaction reads a snapshot of the rick file list,
  // builds the new generation, and only its brief commit window excludes
  // puts — entries put meanwhile land in the old rick dir and are MOVED
  // into the new generation during that window (reference analogue: the
  // rick keeps accepting writes while level compaction runs off-path,
  // compact_sched.rs).
  private val putGate = new Object
  private var activePuts = 0
  private var commitPending = false

  private def beginPut(): Unit = putGate.synchronized {
    while (commitPending) putGate.wait()
    activePuts += 1
  }
  private def endPut(): Unit = putGate.synchronized {
    activePuts -= 1
    putGate.notifyAll()
  }
  /** Run `f` with puts drained and excluded (the commit window). */
  private def withPutsExcluded[T](f: => T): T = {
    putGate.synchronized {
      commitPending = true
      while (activePuts > 0) putGate.wait()
    }
    try f finally putGate.synchronized {
      commitPending = false
      putGate.notifyAll()
    }
  }

  /** The committed generation set. `gen` is the highest generation
    * number ever allocated (new dirs get gen+1 so names never clash
    * with orphans from a crashed swap). `seqhw` is the write-seq
    * high-water mark as of the commit (-1 = not recorded), so seq
    * recovery never under-reads even if `_seqs` files are lost. `minb`
    * is the retention cutoff: buckets below it are LOGICALLY deleted
    * (filtered out of every read) — outdate commits the cutoff instead
    * of deleting files under in-flight readers; physical reclaim
    * happens at the next compaction and via vacuum. */
  private final case class Pointer(
      gen: Long, rows: String, blocks: Option[String],
      seqhw: Long = -1L, minb: Long = Long.MinValue)

  @volatile private var ptr: Pointer = initPointer()
  /** High-water mark of claimed write seqs; -1 = not yet initialized. */
  @volatile private var seqHw: Long = -1L

  // ---- pointer (commit) machinery -------------------------------------

  private def initPointer(): Pointer = {
    Files.createDirectories(root)
    Files.createDirectories(seqsDir)
    if (!Files.exists(pointerFile)) {
      val p = Pointer(0L, "r-0", None)
      Files.createDirectories(root.resolve(p.rows))
      writePointer(p)
      p
    } else withMutex {
      // Under the mutation lock no compaction is mid-flight, so any
      // unreferenced, un-graveyarded generation dir is a crashed swap's
      // half-written output — roll it back. Graveyarded dirs are
      // superseded-but-retained (lazily-running reader plans may still
      // reference them) and fall to age-based vacuum instead. `m-<g>` is
      // the block manifest of older stores, which no pointer references
      // now: an old store's manifest dir goes the same way.
      val p = readPointer()
      val live = Set(Some(p.rows), p.blocks).flatten
      val buried = readGraveyard().map(_._1).toSet
      listDir(root)
        .filter { d =>
          val n = d.getFileName.toString
          n.matches("^[rbm]-[0-9]+$") && !live.contains(n) && !buried.contains(n)
        }
        .foreach(deleteRecursively)
      vacuumLocked(opts.graveyardRetentionMs)
      p
    }
  }

  // ---- graveyard (deferred generation deletion) -----------------------
  // Superseded generations are not deleted at commit: an in-flight
  // reader's plan may materialize long after the swap (Spark laziness).
  // They are recorded here with a burial time and physically deleted by
  // vacuum() once older than the retention window — the snapshot-
  // retention discipline of log-structured table formats.

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

  /** Record superseded generation dirs for deferred deletion (caller
    * holds the mutation lock). A dir already recorded keeps its entry
    * and burial time. */
  private def bury(dirs: Seq[String]): Unit = {
    val now = System.currentTimeMillis()
    val buried = readGraveyard()
    val known = buried.map(_._1).toSet
    val fresh = dirs.distinct.filterNot(known)
    if (fresh.nonEmpty) writeGraveyard(buried ++ fresh.map(_ -> now))
  }

  /** Physically delete graveyarded generations older than `olderThanMs`.
    * Readers that might still reference a generation are only safe while
    * retention exceeds their plan's lifetime — the same contract as
    * VACUUM in log-structured table formats. */
  def vacuum(olderThanMs: Long = opts.graveyardRetentionMs): Unit =
    withMutex { vacuumLocked(olderThanMs) }

  private def vacuumLocked(olderThanMs: Long): Unit = {
    val now = System.currentTimeMillis()
    val (dead, live) = readGraveyard()
      .partition { case (_, since) => now - since >= olderThanMs }
    dead.foreach { case (n, _) => deleteRecursively(dirOf(n)) }
    if (dead.nonEmpty || Files.exists(graveyardFile)) writeGraveyard(live)
  }

  /** The committed pointer. A key it does not know is ignored, such as
    * the `manifest=` line older stores wrote. */
  private def readPointer(): Pointer = {
    val kv = new String(Files.readAllBytes(pointerFile)).split('\n')
      .map(_.trim).filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
    Pointer(kv("gen").toLong, kv("rows"), kv.get("blocks").filter(_.nonEmpty),
      kv.get("seqhw").map(_.toLong).getOrElse(-1L),
      kv.get("minb").map(_.toLong).getOrElse(Long.MinValue))
  }

  /** Atomic commit: write a temp file, then rename over `_current`. */
  private def writePointer(p: Pointer): Unit = {
    val body = (Seq(s"gen=${p.gen}", s"rows=${p.rows}") ++
      p.blocks.map(b => s"blocks=$b") ++
      (if (p.seqhw >= 0L) Seq(s"seqhw=${p.seqhw}") else Nil) ++
      (if (p.minb != Long.MinValue) Seq(s"minb=${p.minb}") else Nil))
      .mkString("", "\n", "\n")
    val tmp = root.resolve("_current.tmp")
    Files.write(tmp, body.getBytes)
    crashHook("pointer:tmp-written")
    Files.move(tmp, pointerFile,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def commit(p: Pointer): Unit = {
    crashHook("commit:begin")
    // stamp the seq high-water mark into every commit: max over this
    // instance's counter and the `_seqs` ledger (another instance may
    // have minted higher), so a later recovery never mints a stale seq
    val hw = math.max(seqHw, scanSeqFiles())
    val stamped = p.copy(seqhw = math.max(p.seqhw, hw))
    writePointer(stamped)
    crashHook("commit:pointer-durable")
    ptr = stamped
    // Prune the ledger below the stamp (recovery takes max over ledger,
    // stamp, and rick scan, so these files are redundant): unpruned, a
    // long-lived store lists one `_seqs` file per put EVER on every
    // cached point read's epoch check. The top file (== the stamp when
    // it is the max) survives so concurrent minters still see it.
    if (stamped.seqhw > 0L && Files.exists(seqsDir)) {
      listDir(seqsDir)
        .filter(f => scala.util.Try(f.getFileName.toString.toLong)
          .toOption.exists(_ < stamped.seqhw))
        .foreach { f =>
          try Files.deleteIfExists(f): Unit
          catch { case _: java.io.IOException => () }
        }
    }
  }

  /** Re-read the committed pointer if another instance on the same path
    * advanced it (e.g. a second writer's compaction): reads must never
    * serve a generation that has already been swapped out and deleted.
    * Cheap — one tiny driver-side file read per public operation. */
  private def refreshPointer(): Unit = synchronized {
    val onDisk = readPointer()
    if (onDisk != ptr) ptr = onDisk
  }

  /** First free generation number strictly above the committed one,
    * CLAIMED by atomically creating its r- directory (Files
    * .createDirectory throws if present), so two concurrent compactors
    * can never pick the same generation and overwrite each other's
    * uncommitted output. */
  private def allocGen(cur: Pointer): Long = {
    var g = cur.gen + 1
    while (true) {
      val taken = Seq("r", "b").exists(pfx => Files.exists(root.resolve(s"$pfx-$g")))
      if (!taken) {
        try { Files.createDirectory(root.resolve(s"r-$g")); return g }
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
      g += 1
    }
    throw new IllegalStateException("unreachable")
  }

  private def dirOf(name: String): Path = root.resolve(name)
  private def rowsPath: String = dirOf(ptr.rows).toString
  private[graft] def hasRickRows: Boolean = {
    refreshPointer()
    listLayer(dirOf(ptr.rows)).nonEmpty
  }
  /** Parquet files currently in one rick (shard, bucket) partition —
    * the observable effect of [[StoreOptions.putWritersPerPartition]]. */
  private[graft] def rickFileCount(shard: Int, bucket: Long): Int = {
    refreshPointer()
    dataFiles(partitionDir(dirOf(ptr.rows), shard, bucket)).size
  }
  private[graft] def hasBlockLayer: Boolean = {
    refreshPointer()
    ptr.blocks.exists(b => listLayer(dirOf(b)).nonEmpty)
  }

  // ---- write sequence (LWW total order) -------------------------------

  /** Highest seq claimed in `_seqs` (0 when none). */
  private def scanSeqFiles(): Long = {
    if (!Files.exists(seqsDir)) { Files.createDirectories(seqsDir); return 0L }
    listDir(seqsDir)
      .flatMap(p => scala.util.Try(p.getFileName.toString.toLong).toOption)
      .foldLeft(0L)(math.max)
  }

  /** Mint the next write sequence. Each seq is claimed by atomically
    * creating `_seqs/<n>` — safe across store INSTANCES on the same
    * path (e.g. a streamingPut sink plus a batch writer), unlike a
    * read-modify-write of one counter file, and crash-safe (a crash
    * merely skips a number). If `_seqs` was lost, the high-water mark
    * is recovered by scanning existing data for max(seq). */
  private def nextSeq(): Long = synchronized {
    if (seqHw < 0L) {
      // recovery takes the MAX over every surviving record of the high
      // water: the `_seqs` ledger, the pointer-stamped mark from the
      // last commit, and the rick layer's own max(seq). The rick scan
      // is what survives PARTIAL ledger loss (top files gone, lower
      // ones intact, no commit since): those seqs live only in rick
      // rows, and reminting one would let an old batch beat a newer
      // write at LWW. Blocks never need scanning — every commit stamps
      // seqhw at or above everything it absorbed. Cost: one Spark job
      // over the rick's pairs, once per instance, at its first mint; it
      // takes the max over each pair's LWW winners, and the row holding
      // a pair's top seq wins its (key, ts).
      val fromFiles = scanSeqFiles()
      val fromPtr = math.max(ptr.seqhw, 0L)
      val rick = pairsOf(listLayer(dirOf(ptr.rows)), Nil)
      val fromRick =
        if (rick.isEmpty) 0L else entryRdd(rick, Everything, None).map(_.seq).fold(0L)(math.max)
      seqHw = math.max(math.max(fromFiles, fromPtr), fromRick)
    }
    // Another instance may have minted and COMMITTED seqs above our
    // cached counter, then pruned the `_seqs` ledger below its stamp —
    // leaving no file to collide with. Re-read the committed pointer
    // and seed from its seqhw stamp too: any pruned seq is <= the
    // stamp, so this restores the no-duplicate-mint invariant for
    // multi-instance writers.
    refreshPointer()
    var hw = math.max(seqHw, math.max(ptr.seqhw, 0L))
    while (true) {
      val cand = hw + 1
      try {
        Files.createFile(seqsDir.resolve(cand.toString))
        seqHw = cand
        return cand
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          hw = math.max(scanSeqFiles(), cand) // another instance won the race
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** List a directory with the stream closed (Files.list leaks an fd
    * per call otherwise). */
  private def listDir(p: Path): List[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toList finally st.close()
  }

  /** The data files under `dir` (recursively, sorted for deterministic
    * snapshots), by Spark's hidden-path rule: a file or dir whose name
    * starts with `_` or `.` is not data. That skips a put's staging
    * files under `_temporary/` (in flight, or left by a dead driver),
    * `_SUCCESS` and `.crc` checksums, so the store's own listings see
    * exactly what a Spark read of the same dir sees. */
  private def dataFiles(dir: Path): Seq[DataFile] = {
    def walk(d: Path): List[DataFile] = listDir(d).flatMap { c =>
      val n = c.getFileName.toString
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else {
        // the one stat of the file: its kind, size and mtime
        val a = Files.readAttributes(c, classOf[BasicFileAttributes])
        if (a.isDirectory) walk(c)
        else if (n.endsWith(".parquet"))
          List(DataFile(SparkPath.fromPath(new HPath(c.toUri)), a.size(),
            a.lastModifiedTime().toMillis))
        else Nil
      }
    }
    if (Files.isDirectory(dir)) walk(dir).sortBy(_.path.urlEncoded) else Seq.empty
  }

  /** The (shard, bucket) partitions of `layer` whose bucket lies in
    * [b0, b1], with their [[dataFiles]], sorted: one listing of the layer
    * dir and one of each shard dir, then only the bucket dirs in range
    * are walked. A bucket dir without a data file is left out, so an
    * empty result means the range holds no rows of the layer. */
  private def listLayer(layer: Path, b0: Long = Long.MinValue,
      b1: Long = Long.MaxValue): Seq[LayerPart] = {
    // the dirs under `d` named `<name>=<value>`, with the value parsed
    def valued[T](d: Path, name: String, parse: String => Option[T]): List[(Path, T)] =
      listDir(d).flatMap { c =>
        val n = c.getFileName.toString
        if (!n.startsWith(name + "=") || !Files.isDirectory(c)) None
        else parse(n.stripPrefix(name + "=")).map(c -> _)
      }
    if (!Files.isDirectory(layer)) Nil
    else (for {
      (shardDir, shard) <- valued(layer, "shard", _.toIntOption)
      (bucketDir, bucket) <- valued(shardDir, "bucket", _.toLongOption)
      if bucket >= b0 && bucket <= b1
      files = dataFiles(bucketDir) if files.nonEmpty
    } yield LayerPart(shard, bucket, files)).sortBy(pt => (pt.shard, pt.bucket))
  }

  private lazy val rickPartitions = new PartitionReader(spark, dataColumnsOf(RickSchema))
  private lazy val blockPartitions = new PartitionReader(spark, dataColumnsOf(BlockSchema))

  /** Threads of the pair-read pool: one per shard, up to the cores. */
  private val pairReadWidth = math.min(opts.numShards, Runtime.getRuntime.availableProcessors)
  /** The store's pair-read pool, the reference's per-shard io workers
    * (io_worker.rs): a multiGet or a driver scan that touches two or
    * more pairs reads them here, one pair per job (see [[inPairOrder]]).
    * Its daemon threads start with the first such call and then stay, so
    * no later read starts a thread; [[close]] shuts it down. */
  private val pairReadPool = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    java.util.concurrent.Executors.newFixedThreadPool(pairReadWidth, (r: Runnable) => {
      val t = new Thread(r, s"graft-pair-read-${root.getFileName}-${started.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** `read` of each of `items`, handed to `use` in item order. Two or
    * more items are read on the pair-read pool, at most its width at a
    * time: taking one result starts the next item's read, so a `use`
    * that stops early leaves at most the width read ahead. A single item
    * is read on the calling thread, with no hand-off. A failed read
    * rethrows its own exception when `use` reaches it; once `use`
    * returns or throws, the reads not yet started are cancelled and
    * those running finish unseen. `read` must not use the pool itself. */
  private def inPairOrder[A, B, R](items: Seq[A])(read: A => B)(use: Iterator[B] => R): R =
    if (items.lengthCompare(2) < 0) use(items.iterator.map(read))
    else {
      val rest = items.iterator
      val inFlight = new java.util.ArrayDeque[java.util.concurrent.Future[B]]()
      def submitNext(): Unit = if (rest.hasNext) {
        val a = rest.next()
        inFlight.add(pairReadPool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = read(a)
        }))
      }
      while (inFlight.size < pairReadWidth && rest.hasNext) submitNext()
      val results = new Iterator[B] {
        def hasNext: Boolean = !inFlight.isEmpty
        def next(): B = {
          val f = inFlight.remove()
          submitNext()
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      }
      try use(results) finally inFlight.forEach(_.cancel(false))
    }

  private def partitionDir(layer: Path, shard: Long, bucket: Long): Path =
    layer.resolve(s"shard=$shard").resolve(s"bucket=$bucket")

  /** The rows of `layer`'s (shard, bucket) dir that `keep` accepts,
    * read on the calling thread. A missing dir has no rows. */
  private def pairRows(reader: PartitionReader, layer: Path, shard: Long, bucket: Long)(
      keep: InternalRow => Boolean): Seq[InternalRow] =
    reader.rows(dataFiles(partitionDir(layer, shard, bucket)), shard.toInt, bucket)(keep).toSeq

  /** `pairs` packed into Spark tasks, one RDD partition per task, each
    * holding whole pairs: a pair is never split, as its LWW merge needs
    * all of its files. The split size is Spark's own for a file scan,
    * min(maxBytes, max(openCostInBytes, listed / defaultParallelism)),
    * where a file counts its bytes plus openCostInBytes and `maxBytes`
    * defaults to the session's `spark.sql.files.maxPartitionBytes`; the
    * pairs are packed largest first, as Spark packs files. The rows are
    * read when a job runs the RDD: a file that vanished by then fails
    * the read. */
  private def pairTasks(pairs: Seq[Pair], maxBytes: Option[Long]): RDD[Pair] = {
    val conf = spark.sessionState.conf
    def cost(pr: Pair): Long = pr.files.map(_.size + conf.filesOpenCostInBytes).sum
    val split = math.min(maxBytes.getOrElse(conf.filesMaxPartitionBytes),
      math.max(conf.filesOpenCostInBytes,
        pairs.map(cost).sum / spark.sparkContext.defaultParallelism))
    val tasks = Vector.newBuilder[Vector[Pair]]
    var (task, taskBytes) = (Vector.empty[Pair], 0L)
    for (pr <- pairs.sortBy(-cost(_))) {
      if (task.nonEmpty && taskBytes + pr.files.map(_.size).sum > split) {
        tasks += task; task = Vector.empty; taskBytes = 0L
      }
      task :+= pr; taskBytes += cost(pr)
    }
    if (task.nonEmpty) tasks += task
    val packed = tasks.result()
    spark.sparkContext.parallelize(packed, math.max(1, packed.size)).flatMap(identity)
  }

  /** The live entries of `pairs` inside `r`, read by
    * [[HelixStore.pairEntries]] in the tasks of [[pairTasks]]. */
  private def entryRdd(pairs: Seq[Pair], r: Rect, maxBytes: Option[Long]): RDD[RawEntry] = {
    // locals only inside the closure: the task must never capture the
    // store instance (SparkSession isn't serializable)
    val (rick, blocks, codecs) = (rickPartitions, blockPartitions, opts.codecs)
    pairTasks(pairs, maxBytes).flatMap(pairEntries(rick, blocks, codecs, _, r))
  }

  /** The live entries of `pairs` inside `r` as a frame of the entry
    * columns, read in Spark tasks when the frame runs. */
  private def entryFrame(pairs: Seq[Pair], r: Rect, maxBytes: Option[Long] = None): DataFrame =
    spark.createDataFrame(entryRdd(pairs, r, maxBytes).map(e => Row(e.key, e.ts, e.value)),
      EntrySchema)

  /** Shard routing expression: custom ShardingKeyFn when registered. */
  private def shardExpr(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    opts.shardingFn match {
      case Some(f) => f(key).cast("int")
      case None => pmod(xxhash64(key), lit(opts.numShards)).cast("int")
    }

  /** Append a batch of entries (columns: key BINARY, ts LONG, value
    * BINARY; each is cast to that type and other columns are dropped,
    * so every rick file matches [[HelixStore.RickSchema]]; a batch
    * missing one fails naming it, and an entry with a NULL key, ts or
    * value fails the put naming the column, with nothing written).
    * Routing = shard/bucket partition columns; one shuffle-free
    * partitioned write. Synchronized with compactions so a batch can't
    * land in a rows generation that is being swapped out.
    *
    * Within-batch (key, ts) ties: a DataFrame carries no defined row
    * order (partition assignment, AQE, and task retries all reorder),
    * so the reference's "later entry in the batch wins" is not
    * expressible here. The contract instead is DETERMINISTIC-ARBITRARY:
    * the row with the greatest (xxhash64(key, ts, value), value-bytes)
    * wins, the same winner on every run and every retry — residual
    * xxhash64 collisions between DISTINCT values break on the value
    * bytes themselves, so the contract is collision-proof. Callers that
    * need a specific winner must resolve ties before put() (one row per
    * (key, ts)) or split them across puts, whose seq order is total. */
  def put(entries: DataFrame): Unit =
    putWithShard(entries, shardExpr(col("key")))

  /** Shard-addressed write bypassing the sharding function — the
    * reference's `direct_put` (src/db.rs:49): every entry in the batch
    * lands in `shard`, whatever its key hashes to. Reads must then use
    * [[directGet]] with the same shard. */
  def directPut(shard: Int, entries: DataFrame): Unit = {
    require(shard >= 0 && shard < opts.numShards,
      s"shard $shard outside [0, ${opts.numShards})")
    putWithShard(entries, lit(shard).cast("int"))
  }

  private def putWithShard(batch: DataFrame,
      shardCol: org.apache.spark.sql.Column): Unit = withMutex {
    val missing = EntryColumns.filterNot(c => scala.util.Try(batch.col(c)).isSuccess)
    require(missing.isEmpty, s"put: entries lack column ${missing.mkString(", ")} " +
      s"(need key BINARY, ts LONG, value BINARY; got ${batch.columns.mkString(", ")})")
    // NULLs fail inside the write's own job: a NULL ts would land in the
    // `__HIVE_DEFAULT_PARTITION__` bucket dir, which no listing reads,
    // and a NULL key or value breaks point reads and the block encode
    val entries = batch.select(EntryColumns.map { c =>
      val v = col(c).cast(RickSchema(c).dataType)
      when(v.isNull, raise_error(lit(s"put: an entry has a NULL $c " +
        "(key, ts and value must all be non-NULL)"))).otherwise(v).as(c)
    }: _*)
    // mutex: excludes other PROCESSES' compaction swaps (reentrant under
    // this instance's own background compaction); putGate: excludes only
    // the brief commit window, during which the target rick generation
    // flips. The rowsPath must be resolved after both.
    beginPut()
    try {
      refreshPointer()
      val seq = nextSeq()
      val routed = entries
        .withColumn("shard", shardCol)
        .withColumn("bucket", expr(s"ts div ${opts.bucketSize}"))
        .withColumn("seq", lit(seq))
        // within-batch tiebreak: duplicate (key, ts) rows in ONE put would
        // otherwise tie on seq and resolve LWW nondeterministically (the
        // reference's rick append offset makes the later entry win). The
        // tiebreak hashes ROW CONTENT, not assignment order: an order-
        // dependent value (monotonically_increasing_id) could flip the
        // winner when a retried task recomputes a nondeterministic
        // source. Content-hash order is arbitrary but stable across
        // retries; rows identical in (key, ts, value) tie harmlessly.
        .withColumn("subseq", xxhash64(col("key"), col("ts"), col("value")))
      // Cluster rows by target partition before the write: without this,
      // EVERY input task emits a file into every (shard, bucket) it
      // happens to hold — the classic small-files explosion at scale.
      // putWritersPerPartition > 1 salts the clustering so a hot
      // partition's rows spread over up to that many writer tasks.
      val arranged = opts.putWritersPerPartition match {
        case 0 => routed
        case 1 => routed.repartition(col("shard"), col("bucket"))
        // Explicit partition count: the user sized the fan-out, so AQE
        // must not coalesce it away. Files per (shard, bucket) stay <= n
        // whatever the total count — salt has only n values per partition.
        // The salt hashes DETERMINISTIC columns: a retry-recomputed salt
        // (e.g. from monotonically_increasing_id) would reroute rows
        // between attempts and lose/duplicate them mid-shuffle.
        case n => routed.repartition(opts.numShards * n,
          col("shard"), col("bucket"),
          pmod(xxhash64(col("key"), col("ts")), lit(n.toLong)))
      }
      arranged.write.mode("append")
        .partitionBy("shard", "bucket")
        .parquet(rowsPath)
    } finally endPut()
  }

  /** All live entries (latest write wins per (key, ts)), read in Spark
    * tasks when the frame runs. */
  def toDF: DataFrame = entryFrame(listRange(), Everything)

  /** Register the store as a temp view so plain `spark.sql` can query
    * it. The view is a SNAPSHOT: it pins the generation set and file
    * listing at registration (the frame's RDD holds the listed pairs),
    * so re-register after writes/compactions to see them —
    * the same REFRESH discipline as an external parquet table. */
  def createOrReplaceTempView(name: String): Unit =
    toDF.createOrReplaceTempView(name)

  /** Exact-timestamp point get (reference: src/db.rs:54): the one-probe
    * case of [[pairReads]], behind the kv and kc caches. Reads only the
    * key's (shard, bucket) partition of each layer, in process on the
    * calling thread, with no Spark job (see [[PartitionReader]]). */
  def get(key: Array[Byte], ts: Long, decompress: Boolean = true): Option[Array[Byte]] = {
    refreshPointer()
    getInShard(routeShards(Seq(key)).head, key, ts, decompress)
  }

  /** Driver-side shard routing for a key batch. Default route: same
    * function Spark's xxhash64(col) computes in put() (seed 42),
    * evaluated driver-side — no job just to route a read. A custom
    * ShardingKeyFn is an arbitrary Column expression, so it's evaluated
    * through ONE small frame for the whole batch instead. */
  private def routeShards(keys: Seq[Array[Byte]]): Seq[Long] =
    opts.shardingFn match {
      case None => keys.map { key =>
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          key, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, key.length, 42L)
        ((h % opts.numShards) + opts.numShards) % opts.numShards
      }
      case Some(_) =>
        val byKey = spark.createDataFrame(
            keys.zipWithIndex.map { case (k, i) => Row(i, k) }.asJava,
            StructType(Seq(StructField("i", IntegerType), StructField("key", BinaryType))))
          .select(col("i"), shardExpr(col("key")).as("s"))
          .collect().map(r => r.getInt(0) -> r.getInt(1).toLong).toMap
        keys.indices.map(byKey)
    }

  /** BATCHED exact-timestamp point get — the reference client's get
    * loop over one pointer snapshot: the probes route driver-side and
    * group by (shard, bucket), and each pair's block and rick dirs are
    * read once, in process, by the same [[pairReads]] as [[get]], so a
    * batch runs no Spark job. A batch of two or more pairs reads them on
    * the pair-read pool, as the reference's per-shard io workers do
    * (see [[inPairOrder]]); a failed pair read rethrows its own
    * exception. A probe only ever sees its routed pair,
    * so its result never depends on which other probes share its batch
    * (a foreign-shard directPut entry stays invisible, as for get). The
    * batch bypasses the kv and kc caches. Results align with the probe
    * order, whatever order the pairs finish in; misses are None. */
  def multiGet(probes: Seq[(Array[Byte], Long)],
      decompress: Boolean = true): Seq[Option[Array[Byte]]] = {
    refreshPointer()
    if (probes.isEmpty) return Seq.empty
    val p = ptr
    val ps = probes.toIndexedSeq
    val pairOf = routeShards(ps.map(_._1)).zip(ps)
      .map { case (shard, (_, ts)) => (shard, ts / opts.bucketSize) }
    val hits = inPairOrder(ps.indices.groupBy(pairOf).toSeq) { case ((shard, bucket), at) =>
      at.zip(pairReads(p, shard, bucket, at.map(ps), decompress)(
        blockRows(p, shard, bucket, _)))
    }(_.flatten.toMap)
    ps.indices.map(hits)
  }

  /** Shard-addressed point get bypassing the sharding function — the
    * reference's `direct_get` (src/db.rs:57): reads exactly the named
    * shard, pairing with [[directPut]]. */
  def directGet(shard: Int, key: Array[Byte], ts: Long,
      decompress: Boolean = true): Option[Array[Byte]] = {
    require(shard >= 0 && shard < opts.numShards,
      s"shard $shard outside [0, ${opts.numShards})")
    refreshPointer()
    getInShard(shard.toLong, key, ts, decompress)
  }

  /** The point reads of ONE (shard, bucket) pair in pointer snapshot
    * `p`, the one path behind get, directGet and multiGet, on the thread
    * that calls it: the caller's for a get, a pair-read pool thread's for
    * each pair of a multiGet of two or more pairs. It never uses the pool
    * itself. Each probe's
    * block candidate from the blocks `blocksOf` returns for the probes'
    * keys, asked only when the pair has a block dir, then the rick rows
    * at exactly the probes' (key, ts) from one read of the pair's rick
    * dir, LWW-merged by [[HelixStore.LwwOrdering]]. Under xxhash
    * sharding a pair's blocks span nearly its shard's whole key range,
    * so the dir is the one test that skips a block read. Both layers and
    * the retention cutoff come from `p`, so a compaction committing
    * mid-read cannot pair one generation's blocks with the next one's
    * emptied rick (superseded dirs stay readable in the graveyard until
    * vacuum). A missing partition dir reads as no rows. */
  private def pairReads(p: Pointer, shard: Long, bucket: Long,
      probes: Seq[(Array[Byte], Long)], decompress: Boolean)(
      blocksOf: Seq[Array[Byte]] => Map[ByteBuffer, Seq[BinBlock]]): Seq[Option[Array[Byte]]] = {
    // logical retention: an outdated bucket is invisible in BOTH layers
    // (listRange lists the scans' buckets from the same cutoff)
    if (bucket < p.minb) return probes.map(_ => None)
    val readBlocks = decompress &&
      p.blocks.exists(b => Files.isDirectory(partitionDir(dirOf(b), shard, bucket)))
    val blocks = if (!readBlocks) Map.empty[ByteBuffer, Seq[BinBlock]]
      else blocksOf(probes.map(_._1).distinctBy(ByteBuffer.wrap))
    val at = probes.map { case (k, ts) => (ByteBuffer.wrap(k), ts) }
    val blockHits = at.map { case (k, ts) => blocks.get(k).flatMap(blockPointLookup(_, ts)) }
    val rick = rickRows(p, shard, bucket, at.toSet)
    at.zip(blockHits).map { case (kts, blockHit) =>
      (blockHit ++ rick.getOrElse(kts, Nil)).maxOption(LwwOrdering).map(_._3)
    }
  }

  /** The blocks of `keys` in `p`'s (shard, bucket) block partition, by
    * key, from one read of the dir. */
  private def blockRows(p: Pointer, shard: Long, bucket: Long,
      keys: Seq[Array[Byte]]): Map[ByteBuffer, Seq[BinBlock]] = p.blocks match {
    case None => Map.empty
    case Some(b) =>
      val want = keys.map(ByteBuffer.wrap).toSet
      val kO = blockPartitions.ordinal("key")
      pairRows(blockPartitions, dirOf(b), shard, bucket)(r => want(ByteBuffer.wrap(r.getBinary(kO))))
        .map(binBlockOf(blockPartitions, _))
        .groupBy(blk => ByteBuffer.wrap(blk.key))
  }

  /** (seq, subseq, value) of every rick row at one of the `want`ed
    * (key, ts) in `p`'s (shard, bucket) rick partition, by (key, ts),
    * from one read of the dir. */
  private def rickRows(p: Pointer, shard: Long, bucket: Long,
      want: Set[(ByteBuffer, Long)]): Map[(ByteBuffer, Long), Seq[(Long, Long, Array[Byte])]] = {
    val o = rickPartitions.ordinal
    val (kO, tsO) = (o("key"), o("ts"))
    val wantTs = want.map(_._2)
    pairRows(rickPartitions, dirOf(p.rows), shard, bucket) { r =>
        val ts = r.getLong(tsO)
        wantTs(ts) && want((ByteBuffer.wrap(r.getBinary(kO)), ts))
      }
      .groupMap(r => (ByteBuffer.wrap(r.getBinary(kO)), r.getLong(tsO)))(r =>
        (r.getLong(o("seq")), r.getLong(o("subseq")), r.getBinary(o("value"))))
  }

  // ---- KV point-read cache (reference cache.rs kv_cache analogue) -----
  // An uncached get lists and reads a partition dir per layer; repeated
  // point reads are the reference's kv_cache sweet spot. Invalidation epoch =
  // (committed pointer, max minted write-seq): every mutation moves one
  // of the two — put/directPut mint a seq file, blockCompact/outdate
  // commit the pointer — including mutations by OTHER instances,
  // so a hit can never serve a superseded value. Both epoch components
  // are driver-side metadata reads (`_current` is re-read by
  // refreshPointer already; `_seqs` is one dir listing).

  private final case class KvKey(shard: Long, key: Seq[Byte], ts: Long,
      decompress: Boolean)
  private val kvCache =
    new java.util.LinkedHashMap[KvKey, Option[Array[Byte]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[KvKey, Option[Array[Byte]]]): Boolean =
        size() > opts.kvCacheSize
    }
  private var kvEpoch: (Pointer, Long) = null

  /** A get over ONE pointer snapshot, taken here: the kv epoch, both
    * layers, the cutoff and the kc cache all read `p`. */
  private def getInShard(shard: Long, key: Array[Byte], ts: Long,
      decompress: Boolean): Option[Array[Byte]] = {
    val p = ptr
    if (opts.kvCacheSize <= 0) return getInShardUncached(p, shard, key, ts, decompress)
    val epoch = (p, scanSeqFiles())
    val k = KvKey(shard, key.toSeq, ts, decompress)
    kvCache.synchronized {
      if (kvEpoch != epoch) { kvCache.clear(); kvEpoch = epoch }
      val hit = kvCache.get(k)
      if (hit != null) return hit
    }
    val v = getInShardUncached(p, shard, key, ts, decompress)
    kvCache.synchronized {
      // drop the result if the store moved while the read ran; an
      // oversized value is served but never cached (reference
      // kv_cache_threshold, cache.rs:104)
      if (kvEpoch == epoch &&
          v.map(_.length.toLong).getOrElse(0L) < opts.kvCacheThresholdBytes)
        kvCache.put(k, v): Unit
    }
    v
  }

  /** An uncached get: [[pairReads]] with one probe, its block read going
    * through the kc cache. Like every point read it runs no Spark job. */
  private def getInShardUncached(p: Pointer, shard: Long, key: Array[Byte], ts: Long,
      decompress: Boolean): Option[Array[Byte]] = {
    // Spark SQL `div` truncates toward zero; use the same semantics here
    // (floorDiv would floor, routing negative logical timestamps to a
    // different bucket than put() wrote)
    val bucket = ts / opts.bucketSize
    pairReads(p, shard, bucket, Seq((key, ts)), decompress)(
      _.map(k => ByteBuffer.wrap(k) -> kcGet(p, shard, bucket, k)).toMap).head
  }

  // ---- KC compressed-block cache (reference cache.rs kc_cache) --------
  // (shard, bucket, key) → that key's undecoded blocks in the committed
  // block layer. Valid for the lifetime of one committed pointer: puts
  // mint seqs but never touch blocks, so only blockCompact/outdate
  // (pointer commits) invalidate — strictly fewer invalidations than the
  // kv epoch. Entries are whole compressed blocks, decoded on each hit
  // (the reference's kc cache holds compressed bytes too).

  private final case class KcKey(shard: Long, bucket: Long, key: Seq[Byte])
  private val kcCache =
    new java.util.LinkedHashMap[KcKey, Seq[BinBlock]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[KcKey, Seq[BinBlock]]): Boolean =
        size() > opts.kcCacheSize
    }
  private var kcPtr: Pointer = null
  /** kc-cache hits (test observability). */
  val kcHits = new java.util.concurrent.atomic.AtomicLong(0)

  /** `key`'s blocks in `p`'s (shard, bucket) block partition, through
    * the kc cache, which holds the entries of one pointer at a time. */
  private def kcGet(p: Pointer, shard: Long, bucket: Long, key: Array[Byte]): Seq[BinBlock] = {
    val k = KcKey(shard, bucket, key.toSeq)
    kcCache.synchronized {
      if (kcPtr != p) { kcCache.clear(); kcPtr = p }
      val hit = kcCache.get(k)
      if (hit != null) { kcHits.incrementAndGet(); return hit }
    }
    val v = blockRows(p, shard, bucket, Seq(key)).getOrElse(ByteBuffer.wrap(key), Nil)
    kcCache.synchronized {
      // drop the result if a compaction committed while the read ran;
      // an oversized entry is served but never cached (reference
      // kc_cache_threshold, cache.rs:25)
      if (kcPtr == p && kcEntryBytes(v) < opts.kcCacheThresholdBytes)
        kcCache.put(k, v): Unit
    }
    v
  }

  /** Heap footprint of one kc entry: payloads + the two long arrays +
    * the key bytes, per block. */
  private def kcEntryBytes(v: Seq[BinBlock]): Long =
    v.foldLeft(0L)((acc, b) => acc + b.payload.length + b.key.length +
      8L * (b.deltas.length + b.seqs.length))

  /** Best (seq, subseq, value) for an exact-ts match across a key's
    * cached blocks; a block's payload is decoded only when it actually
    * contains `ts` (see [[HelixStore.blockEntries]]). */
  private def blockPointLookup(blocks: Seq[BinBlock],
      ts: Long): Option[(Long, Long, Array[Byte])] =
    blocks.iterator.flatMap(blockEntries(_, opts.codecs, _ == ts))
      .map(e => (e.seq, e.subseq, e.value))
      .maxOption(LwwOrdering)

  /** Time-range × key-range scan, globally ordered by (key, ts) —
    * the reference's per-shard iterators (src/db.rs:67, iterator.rs):
    * each (shard, bucket) pair of the range is read and LWW-merged by
    * [[HelixStore.pairEntries]], and the pairs' entries are sorted.
    * Bounds follow the reference TimeRange semantics: [start, end) on
    * ts, [low, high) on key.
    *
    * The range's pairs are listed once, in both layers, from one
    * pointer snapshot, then read in one of two places:
    *  - on the driver, when `maxPartitionBytes` is unset and the listed
    *    (compressed) files total at most [[HelixStore.InProcessScanMaxBytes]]:
    *    the pairs are read here at `scan()`, and the frame is a local
    *    relation that later mutations and vacuums cannot change (see
    *    [[scanInProcess]]). If the entries it keeps pass that many key
    *    and value bytes, the read stops and the range goes to tasks;
    *  - otherwise in Spark tasks that each read whole pairs (see
    *    [[pairTasks]]), when the frame runs; a frame built before a
    *    compaction or an outdate still reads its generation until
    *    vacuum removes it.
    * The ordering, comparator, `targetPartitions` and `ordered = false`
    * apply alike to either place.
    *
    * User-defined ordering — the reference's `Comparator` trait
    * (src/util.rs:21; LexicalComparator and NoOrderComparator are the
    * two it ships) re-expressed Spark-first: instead of a pairwise
    * cmp callback (which would force every comparison through a
    * non-codegen UDF), [[ScanOptions.comparator]] supplies the SORT
    * KEY as a Column transform of the entry key, and the scan sorts by
    * (sortKey, key, ts) — any deterministic expression, evaluated
    * inside whole-stage codegen, with the lexical (key, ts) fallback
    * keeping the order total under sort-key ties. comparator=None +
    * ordered=true is LexicalComparator; ordered=false is
    * NoOrderComparator (a comparator is meaningless there and is
    * rejected loudly rather than silently ignored). */
  def scan(tsRange: (Long, Long), keyRange: (Array[Byte], Array[Byte]),
      ordered: Boolean = true,
      scanOpts: ScanOptions = ScanOptions()): DataFrame = {
    require(ordered || scanOpts.comparator.isEmpty,
      "comparator requires ordered=true (ordered=false IS the NoOrderComparator scan)")
    val (t0, t1) = tsRange
    val (k0, k1) = keyRange
    // only the buckets [bucket(t0), bucket(t1 - 1)] are listed and read,
    // from one pointer snapshot: truncating division matches put()'s
    // `ts div bucketSize` and is monotone, so they cover the range
    // exactly. An empty range lists nothing.
    val listed =
      if (t1 <= t0) Nil else listRange((t0 / opts.bucketSize, (t1 - 1) / opts.bucketSize))
    val r = Rect(t0, t1 - 1, k0, Some(k1))
    val listedBytes = listed.iterator.flatMap(_.files).map(_.size).sum
    val entries = Option.when(scanOpts.maxPartitionBytes.isEmpty &&
        listedBytes <= InProcessScanMaxBytes)(scanInProcess(listed, r)).flatten
      .getOrElse(entryFrame(listed, r, scanOpts.maxPartitionBytes))
    // ordered=false is the reference's NoOrderComparator scan (util.rs):
    // skip the global sort when the consumer doesn't need key order.
    // A user comparator prepends its sort-key expression; (key, ts)
    // stays as the tiebreak so the order is total either way.
    val sortCols = scanOpts.comparator match {
      case Some(sortKeyOf) => Seq(sortKeyOf(col("key")), col("key"), col("ts"))
      case None => Seq(col("key"), col("ts"))
    }
    (ordered, scanOpts.targetPartitions) match {
      case (true, 0) => entries.orderBy(sortCols: _*)
      // explicit parallelism, order preserved: range-partition on the
      // sort key into exactly n partitions, then sort within each —
      // the same physical shape orderBy plans, with the count pinned
      case (true, n) => entries
        .repartitionByRange(n, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
      case (false, 0) => entries
      case (false, n) => entries.repartition(n)
    }
  }

  /** The live entries of `pairs` inside `r`, read on the driver by
    * [[HelixStore.pairEntries]] with no Spark job: two or more pairs on
    * the pair-read pool, at most its width at a time (see
    * [[inPairOrder]]), their rows kept in pair order, so an unordered
    * scan returns what a one-pair-at-a-time read would.
    * Returned as a local relation of the entry columns: the rows are
    * read here, not when the frame runs. The relation is one partition,
    * as the rows already sit on the driver: a sort or a count above it
    * then runs as one task, with no exchange and no range-sampling job.
    * None once the kept entries' key and value bytes pass
    * [[InProcessScanMaxBytes]] (checked after each pair is kept, when no
    * further pair is started): the caller then reads the range in tasks,
    * so the driver never holds more than that plus the pool's width of
    * pairs' entries. A failed pair read rethrows its own exception. */
  private def scanInProcess(pairs: Seq[Pair], r: Rect): Option[DataFrame] = {
    val (rick, blocks, codecs) = (rickPartitions, blockPartitions, opts.codecs)
    val rows = Vector.newBuilder[Row]
    var held = 0L
    inPairOrder(pairs)(pairEntries(rick, blocks, codecs, _, r).toVector) { read =>
      while (held <= InProcessScanMaxBytes && read.hasNext)
        read.next().foreach { e =>
          rows += Row(e.key, e.ts, e.value); held += e.key.length + e.value.length
        }
    }
    Option.when(held <= InProcessScanMaxBytes)(
      spark.createDataFrame(rows.result().asJava, EntrySchema).coalesce(1))
  }

  /** Continuous ingestion: attach a streaming entries source (key BINARY,
    * ts LONG, value BINARY) and route every micro-batch through put() —
    * the reference's always-on write path (io_worker.rs) as a
    * foreachBatch sink. Caller manages the returned query's lifecycle. */
  def streamingPut(entries: DataFrame,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    entries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => put(batch) }
      .start()

  /** Both layers' (shard, bucket) pairs of the buckets in `buckets`
    * (inclusive), listed from one snapshot of the committed pointer,
    * each layer once, only in that range and at or above the retention
    * cutoff: what a read of that range reads. */
  private def listRange(buckets: (Long, Long) = (Long.MinValue, Long.MaxValue)): Seq[Pair] = {
    refreshPointer()
    val p = ptr
    // retention is LOGICAL: buckets below the committed cutoff are
    // invisible even while their files await vacuum
    val (b0, b1) = (math.max(buckets._1, p.minb), buckets._2)
    pairsOf(listLayer(dirOf(p.rows), b0, b1),
      p.blocks.fold(Seq.empty[LayerPart])(b => listLayer(dirOf(b), b0, b1)))
  }

  /** Latest value per key at or before `asOf` (TimeIterator newest-wins):
    * the buckets up to asOf's are read in tasks (truncating division is
    * monotone, so every ts ≤ asOf has bucket ≤ asOf's), and one
    * aggregate keeps each key's greatest (ts, value). The value breaks a
    * tie on ts, which only directPut entries of one key in two shards
    * can make. */
  def latest(asOf: Long): DataFrame =
    entryFrame(listRange((Long.MinValue, asOf / opts.bucketSize)),
        Rect(Long.MinValue, asOf, Array.emptyByteArray, None))
      .groupBy("key").agg(max(struct(col("ts"), col("value"))).as("w"))
      .select(col("key"), col("w.ts").as("ts"), col("w.value").as("value"))

  /** COPY every parquet file under `from` that is NOT in `snapshot` into
    * the same relative location under `to` — the entries put while a
    * compaction was building its new generation. Runs inside the commit
    * window (no put in flight), so the leftover set is stable.
    *
    * Copy, NOT move (crash atomicity — StoreCrashSpec): the target
    * generation is still UNCOMMITTED here, and reopen-after-crash rolls
    * back unreferenced, un-graveyarded generation dirs. A move would
    * strand acknowledged puts inside the rolled-back dir — a crash in
    * the window between the move and the pointer commit would LOSE
    * them. With a copy the old generation keeps the originals until it
    * is buried (which happens only after the commit), so a crash at any
    * step leaves one complete generation; the duplicate copies are
    * never visible twice because the pointer selects exactly one dir. */
  private def copyLeftovers(from: Path, snapshot: Set[SparkPath], to: Path): Unit =
    dataFiles(from).filterNot(f => snapshot(f.path)).foreach { f =>
      val file = Paths.get(f.path.toUri)
      val dest = to.resolve(from.toAbsolutePath.relativize(file))
      Files.createDirectories(dest.getParent)
      Files.copy(file, dest, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Serializes this instance's compactions (the cross-process mutex is
    * instance-reentrant, so it alone wouldn't stop two threads of ONE
    * instance compacting concurrently). */
  private val compactionMutex = new Object

  /** Fold BOTH layers into fresh compressed block ("SSTable") files —
    * per (key, shard, bucket) one delta-encoded block (reference:
    * src/level.rs:356-470 + fn_registry.rs compress_entries) — and an
    * empty rick generation. Both flip in ONE atomic pointer commit; the
    * absorbed old generations are buried only after the commit (vacuum
    * deletes them later), so a crash mid-compaction never loses
    * committed entries.
    * One pass with no shuffle: each task reads whole (shard, bucket)
    * pairs (see [[pairTasks]]) and writes each pair's blocks
    * ([[HelixStore.pairBlocks]]) into one file of the pair's dir, so a
    * task holds one pair's winners at a time. */
  def blockCompact(): Unit = compactionMutex.synchronized { withMutex {
    compactionsRun.incrementAndGet()
    refreshPointer()
    val cur = ptr
    // snapshot the rick file list: entries put while this compaction
    // builds its output land in files outside the snapshot and are moved
    // into the fresh rick generation at commit
    val rick = listLayer(dirOf(cur.rows))
    val blocksNow = cur.blocks.fold(Seq.empty[LayerPart])(b => listLayer(dirOf(b)))
    if (rick.nonEmpty || blocksNow.nonEmpty) {
    val g = allocGen(cur)
    val newBlocks = s"b-$g"
    val newRows = s"r-$g"
    val rickSnapshot = rick.flatMap(_.files).map(_.path).toSet
    // UDCF dispatch: registry + fn pulled into locals so the task
    // closure captures plain Serializable values, not `this`
    val (rickReader, blockReader, codecs) = (rickPartitions, blockPartitions, opts.codecs)
    val dispatch = opts.codecDispatch.getOrElse((_: Array[Byte]) => NoopCodec.name)
    // physical reclaim of logically-outdated buckets happens here: the
    // read leaves out the pairs below the retention cutoff
    val live = pairsOf(rick, blocksNow).filter(_.bucket >= cur.minb)
    val blocks = pairTasks(live, None)
      .flatMap(pairBlocks(rickReader, blockReader, codecs, dispatch, _))
    spark.createDataset(blocks)(BinBlockEncoder)
      .write.mode("overwrite").partitionBy("shard", "bucket")
      .parquet(dirOf(newBlocks).toString)
    // a fully-outdated store compacts to ZERO blocks (logical retention
    // filtered everything): commit a store without a block layer
    val wroteBlocks = listLayer(dirOf(newBlocks)).nonEmpty
    // allocGen already claimed r-<g> as the fresh rick layer; entries
    // put during the build move into it inside the commit window
    crashHook("blockCompact:staged")
    withPutsExcluded {
      copyLeftovers(dirOf(cur.rows), rickSnapshot, dirOf(newRows))
      crashHook("blockCompact:leftovers-copied")
      commit(Pointer(g, newRows, Option.when(wroteBlocks)(newBlocks), minb = cur.minb))
    }
    crashHook("blockCompact:committed")
    // deferred deletion of the absorbed generations: in-flight readers
    // keep resolving against them until vacuum's retention expires
    bury(Seq(cur.rows) ++ cur.blocks)
    if (!wroteBlocks) deleteRecursively(dirOf(newBlocks)) // fileless, uncommitted
    }
  }}

  /** Drop all buckets strictly older than `ts` (reference Outdate,
    * src/level.rs:337) — LOGICALLY: one pointer commit raises the
    * retention cutoff (`minb`), making the buckets invisible to every
    * read immediately, while their files stay on disk for in-flight
    * reader plans. A `ts` that does not raise the cutoff commits
    * nothing. Physical reclaim is deferred: the dropped bucket
    * dirs are graveyarded for age-based vacuum, and the next compaction
    * rewrites without them (the LSM mark-then-compact discipline). No
    * data rewrite here — metadata only. Takes the compaction mutex so
    * the cutoff can't move under a running compaction's snapshot. */
  def outdate(ts: Long): Unit = compactionMutex.synchronized { withMutex {
    refreshPointer()
    val p = ptr
    // each layer's partitions, listed once from one pointer snapshot: a
    // store with none has nothing to age out and commits nothing
    val layers = (Seq(p.rows) ++ p.blocks).map(g => g -> listLayer(dirOf(g)))
    if (layers.exists(_._2.nonEmpty)) {
      // truncating, matching put(); a cutoff never moves back
      val cutoff = math.max(p.minb, ts / opts.bucketSize)
      // the commit (gen bump + cutoff) is the visibility point: other
      // instances' reads and kv-cache epochs observe it on their next
      // pointer refresh. A cutoff that does not move commits nothing,
      // so the caches keep their entries.
      if (cutoff > p.minb) {
        commit(p.copy(gen = p.gen + 1, minb = cutoff))
        crashHook("outdate:committed")
      }
      // graveyard the invisible bucket dirs (relative paths) so vacuum
      // reclaims them once retention has drained in-flight readers.
      // Every sub-cutoff dir is listed, so a repeated outdate buries
      // what a crash after the commit left unburied; bury skips the
      // dirs already recorded.
      val dropped = for {
        (g, parts) <- layers
        pt <- parts if pt.bucket < cutoff
      } yield root.relativize(partitionDir(dirOf(g), pt.shard, pt.bucket)).toString
      if (dropped.nonEmpty) bury(dropped)
    }
  }}

  // ---- background compaction scheduling -------------------------------
  // The reference runs compactions off the write path through a deduped
  // task queue (compact_sched.rs:1-143): a put that trips a rick_range
  // boundary must not stall ingestion for a full compaction. Same shape
  // here: one lazily-started daemon worker per store, and a pending flag
  // that coalesces schedule requests arriving while one is already
  // queued (requests arriving DURING a run schedule a follow-up — the
  // running pass may already have missed their data).

  /** Total blockCompact invocations (test observability). */
  private[graft] val compactionsRun = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var compactError: Option[Throwable] = None
  // queued-but-not-started runs, bounded by opts.taskBufferSize (the
  // reference's task_buffer_size) — excess requests coalesce
  private val compactQueued = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var compactExecStarted = false
  private lazy val compactExec = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, s"helixstore-compact-${root.getFileName}")
      t.setDaemon(true)
      t
    })

  /** Queue a block compaction off the write path. Deduped: while the
    * queue holds opts.taskBufferSize pending runs, further requests
    * coalesce into them. Failures surface on the next
    * [[awaitCompactions]] (and are never silently dropped). */
  def scheduleBlockCompact(): Unit = {
    val claimed = {
      var ok = false
      var done = false
      while (!done) {
        val q = compactQueued.get()
        if (q >= opts.taskBufferSize) { done = true }
        else if (compactQueued.compareAndSet(q, q + 1)) { ok = true; done = true }
      }
      ok
    }
    if (claimed) {
      compactExecStarted = true
      compactExec.execute { () =>
        compactQueued.decrementAndGet() // before running: see coalescing note
        try {
          // job-group properties are inheritable thread-locals: without
          // this reset, a worker created from inside a streaming
          // foreachBatch inherits the QUERY's job group and the
          // streaming stop() cancels the background compaction mid-swap
          spark.sparkContext.setJobGroup(
            s"helixstore-compact-${root.getFileName}",
            "background blockCompact", interruptOnCancel = false)
          blockCompact()
        }
        catch { case t: Throwable => compactError = Some(t) }
      }
    }
  }

  /** Barrier: wait for every scheduled compaction to finish; rethrows
    * the first background failure. */
  def awaitCompactions(): Unit = {
    if (compactExecStarted)
      compactExec.submit(new Runnable { def run(): Unit = () }).get()
    compactError.foreach { t => compactError = None; throw t }
  }

  def close(): Unit = {
    // The compact prompt stops FIRST, and close() waits until the
    // prompt has FULLY terminated before draining: a probe still
    // in flight when awaitCompactions() runs could enqueue a compaction
    // AFTER the drain, and that compaction would run during shutdown —
    // after the heartbeat stops, so it would hold _mutex with no
    // touches and, past lockStaleMs, another instance could
    // stale-break it mid-swap (the exact two-mutators hazard the
    // heartbeat exists to prevent). A probe is one cheap rick-rows
    // existence check, so the loop normally exits on its first wait;
    // it warns each minute if a probe is wedged on a slow filesystem
    // rather than silently accepting that hazard. Residual window: a
    // close() interrupted mid-wait gives up the guarantee (flagged
    // loudly below) — the caller chose to abandon the wait.
    compactPrompt.foreach { ex =>
      ex.shutdown()
      var terminated = false
      var interrupted = false
      while (!terminated && !interrupted) {
        try {
          terminated = ex.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          if (!terminated)
            System.err.println("[helixstore] WARNING: compact prompt still " +
              s"stopping after 60s ($root); waiting so no compaction can " +
              "outlive the lock heartbeat")
        } catch {
          case _: InterruptedException =>
            Thread.currentThread().interrupt()
            interrupted = true
            if (!ex.isTerminated)
              System.err.println("[helixstore] WARNING: close() interrupted " +
                s"before the compact prompt stopped ($root); an in-flight " +
                "probe may enqueue a compaction that outlives the heartbeat")
        }
      }
    }
    // shutdown in finally: awaitCompactions rethrows a background
    // compaction failure, and that must not leak the executor thread
    // (or the lock heartbeat) in a long-lived driver
    try awaitCompactions()
    finally {
      if (compactExecStarted) compactExec.shutdown()
      // heartbeat stops LAST: every compaction the prompt could have
      // queued has drained above, and the heartbeat must keep touching
      // the lock for as long as any of them could hold it
      lockHeartbeat.shutdown()
      // idle pair-read threads exit at once; a read still running on
      // another caller's behalf finishes first
      pairReadPool.shutdown()
      pairReadPool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
