package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Timestamp-driven lifecycle policy — the reference's TimestampReviewer
 * (reference: src/level.rs:523-592). "Timestamp" is logical: the policy
 * only sees the max timestamp of each ingested batch and decides when
 * to freeze ("compact") a range and when to age data out ("outdate").
 */
sealed trait TimestampAction
/** Freeze data in [start, end] into the compressed block layer. */
final case class CompactAction(start: Long, end: Long) extends TimestampAction
/** Drop data with timestamps <= before. */
final case class OutdateAction(before: Long) extends TimestampAction

trait TimestampReviewer {
  /** Observe the newest timestamp written; return due actions. */
  def observe(maxTs: Long): Seq[TimestampAction]
}

/**
 * The reference's simple policy re-stated: compaction fires once every
 * `rickRange` timestamp units of progress; retention fires once every
 * `outdateRange` units, aging out one rick-range worth of data each
 * time (reference behavior: src/level.rs:550-592 — implementation here
 * is written from that spec, not translated).
 */
final class SimpleTimestampReviewer(rickRange: Long, outdateRange: Long)
  extends TimestampReviewer {
  require(rickRange > 0, s"rickRange must be positive: $rickRange")
  // outdateRange below rickRange would make the first observe age out
  // data far NEWER than the requested retention window (the catch-up
  // step rounds to whole rick-ranges) — reject it at construction
  // rather than silently dropping fresh data
  require(outdateRange >= rickRange,
    s"outdateRange ($outdateRange) must be >= rickRange ($rickRange)")
  private var compactedUpTo = 0L // next compaction window starts here
  private var outdatedUpTo = 0L  // next retention window starts here

  override def observe(maxTs: Long): Seq[TimestampAction] = {
    val due = Seq.newBuilder[TimestampAction]
    if (maxTs - compactedUpTo + 1 >= rickRange) {
      due += CompactAction(compactedUpTo, maxTs)
      compactedUpTo = maxTs + 1
    }
    // One coarse Spark batch can advance maxTs by many rick-ranges at
    // once; catch up to the LATEST due boundary in a single step and
    // emit ONE OutdateAction for the whole span (outdate(ts) already
    // drops every older bucket, so the intermediate actions the
    // reference's fine-grained per-put observes would have emitted are
    // subsumed — emitting them one per rick-range would turn a
    // real-epoch-microsecond first observe into tens of thousands of
    // full retention passes).
    if (maxTs - outdatedUpTo + 1 >= outdateRange) {
      val steps = (maxTs - outdatedUpTo + 1 - outdateRange) / rickRange + 1
      outdatedUpTo += steps * rickRange
      due += OutdateAction(outdatedUpTo - 1)
    }
    due.result()
  }
}

/** Wires a [[TimestampReviewer]] onto a [[HelixStore]]'s write path. */
object Lifecycle {

  /** Batch put + policy maintenance: after the write, the reviewer sees
    * the batch's max ts; Compact SCHEDULES a blockCompact off the write
    * path (reference compact_sched.rs — a rick_range boundary must not
    * stall ingestion for a full compaction; `store.awaitCompactions()`
    * is the barrier when the caller needs the result) and Outdate drops
    * aged buckets. Returns the actions taken. */
  def putReviewed(store: HelixStore, entries: DataFrame,
      reviewer: TimestampReviewer): Seq[TimestampAction] = {
    // pin the batch so the write and the max-ts probe see the same data
    // (a re-evaluated source could drift between the two passes)
    val pinned = entries.cache()
    try {
      val maxRow = pinned.agg(max("ts")).head()
      if (maxRow.isNullAt(0)) return Seq.empty // empty batch: nothing to do
      store.put(pinned)
      val actions = reviewer.observe(maxRow.getLong(0))
      actions.foreach {
        case CompactAction(_, _) => store.scheduleBlockCompact()
        case OutdateAction(before) => store.outdate(before + 1) // drop <= before
      }
      actions
    } finally pinned.unpersist(): Unit
  }

  /** Streaming ingestion with the same policy applied per micro-batch.
    * `trigger` defaults to Structured Streaming's default (continuous
    * micro-batches); pass `Trigger.AvailableNow()` for a drain-and-stop
    * backfill through the same code path. */
  def streamingPutReviewed(store: HelixStore, entries: DataFrame,
      checkpoint: String, reviewer: TimestampReviewer,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    entries.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) putReviewed(store, batch, reviewer): Unit
      }
      .start()
}
