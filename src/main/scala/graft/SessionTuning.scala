package graft
import org.apache.spark.sql.SparkSession

/** The one way to build a measured session ([[measured]]: Bench, Verify
  * and every `graft.Probe` command), plus the shared shuffle/AQE tuning
  * it applies — round-20 optimization, guide §2.
  *
  * Both [[tuned]] values are SCALE-NEUTRAL (they only change behaviour
  * where a shuffle is small) and parameterised via env so a cluster
  * deployment can override without a rebuild:
  *
  *  - `spark.shuffle.sort.bypassMergeThreshold` = 2 (default 200):
  *    forces the sort-based shuffle writer always. The bypass writer
  *    opens one file PER REDUCER PER MAP TASK; at the bench's 32
  *    shuffle partitions that is O(32 x maps) file create/close per
  *    exchange, measured +230 ms per shuffle on this box (`Probe
  *    overhead`: 383 -> 154 ms for a 1-shuffle aggregate). At production
  *    partition counts (>200) the default already takes the sort path,
  *    so pinning it low only removes the small-shuffle artifact.
  *
  *  - `spark.sql.adaptive.coalescePartitions.minPartitionSize` = 64k
  *    (default 1m): AQE's coalesce floor. Sub-MB shuffles were coalesced
  *    to ONE partition, serializing compute-dense stages (the PPJoin
  *    array_intersect verify runs ~1000x work per shuffled byte):
  *    dedup_ngram_jaccard measured 1.7 -> 0.5 s once the verify stage
  *    kept ~cpus partitions. At scale every healthy partition is far
  *    above either floor, so the setting is inert there.
  */
object SessionTuning {
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.shuffle.sort.bypassMergeThreshold",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_BYPASS", "2"))
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION", "64k"))

  /** `$SPARK_GRAFT_CPUS` (default 32), the local core count of every
    * measured session; anything but a positive integer is rejected with
    * the offending value instead of a bare NumberFormatException. */
  def cpus: Int = {
    val v = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** The session the graded Bench measures: `local[cpus]`, one shuffle
    * partition per core, AQE, UTC, nanosecond parquet timestamps read as
    * longs, no UI, and [[tuned]]. A key this factory does not pin can
    * still be set as a `-Dspark.*` JVM system property, which SparkConf
    * loads by default. */
  def measured(): SparkSession = tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
    .getOrCreate()
}
