package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-generated test tables (TESTDATA.md), and the
  * one parquet reader every table and staged artifact goes through. */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The parquet file or dataset dir at `path`, read with the data
    * schema its own footer holds, so no schema-inference job runs (a
    * read without a schema runs one, `parquet at ...`, to read that same
    * footer). The schema is resolved on every call under the
    * session's conf as it is then, so a restaged artifact or a flipped
    * nanos conf is never read through a stale schema. Partition columns
    * of `k=v` dirs are still discovered by Spark's listing, as before. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** The data schema Spark's inference would give `path` (mergeSchema
    * off): from a `_common_metadata` or `_metadata` summary when there is
    * one, else from the first data file in path order, read in process. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val leaves = leafFiles(fs, fs.getFileStatus(root)).sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val summaries = Seq("_common_metadata", "_metadata")
    val st = summaries.flatMap(named).headOption
      .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(
        s"Unable to infer schema for Parquet at $path: it holds no data file"))
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
      ParquetMetadataConverter.NO_FILTER)
    ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The files Spark's listing keeps under `st`: names starting with `_`
    * or `.` are skipped, except the summary files and `k=v` dirs. */
  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq.filter { c =>
      val n = c.getPath.getName
      val hidden = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
      !hidden || n.startsWith("_common_metadata") || n.startsWith("_metadata")
    }.flatMap(leafFiles(fs, _))

  /** events.parquet stores TIMESTAMP(NANOS) which Spark 4 only reads as a
    * long (nanos) under the legacy conf; normalize back to a timestamp
    * column (µs precision — the data is µs-aligned). */
  /** Set the nanos-as-long legacy conf once (idempotent guard: mutating
    * session conf on every table read shows up as churn in plan caches). */
  private def ensureNanosConf(s: SparkSession): Unit = {
    val k = "spark.sql.legacy.parquet.nanosAsLong"
    try { if (s.conf.getOption(k).forall(_ != "true")) s.conf.set(k, "true") }
    catch { case _: Throwable => () }
    // The NTZ→TIMESTAMP re-tag below (and eventsRange's NTZ bound
    // literals) is value-preserving ONLY under a UTC session; pin it
    // here so an external caller with a non-UTC session can't get
    // silently shifted timestamps. All in-repo entrypoints already set
    // UTC, so for them this is a no-op.
    val tz = "spark.sql.session.timeZone"
    try { if (s.conf.getOption(tz).forall(_ != "UTC")) s.conf.set(tz, "UTC") }
    catch { case _: Throwable => () }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    ensureNanosConf(s)
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // µs parquet written with isAdjustedToUTC=false reads as NTZ; all
      // engine sessions run in UTC, so the cast is a pure re-tag (the
      // stored µs value is unchanged and unix_micros agrees with DuckDB).
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** events with a time-range predicate applied BEFORE the nanos→micros
    * conversion, so it reaches the parquet scan as a pushed filter on
    * the raw int64 column (a filter on the converted timestamp cannot
    * be pushed). Bounds are epoch-µs; [lo, hi). */
  def eventsRange(s: SparkSession, d: String,
      loUs: Option[Long], hiUs: Option[Long]): DataFrame = {
    ensureNanosConf(s)
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        val lo = loUs.map(us => col("ts") >= us * 1000L).getOrElse(lit(true))
        val hi = hiUs.map(us => col("ts") < us * 1000L).getOrElse(lit(true))
        df.filter(lo && hi)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // Bound literals fold to NTZ constants (UTC sessions), so the
        // comparison still reaches the scan as a pushed INT64 filter.
        def ntz(us: Long) = timestamp_micros(lit(us)).cast("timestamp_ntz")
        val lo = loUs.map(us => col("ts") >= ntz(us)).getOrElse(lit(true))
        val hi = hiUs.map(us => col("ts") < ntz(us)).getOrElse(lit(true))
        df.filter(lo && hi)
          .withColumn("ts", col("ts").cast("timestamp"))
      case _ =>
        val lo = loUs.map(us => col("ts") >= timestamp_micros(lit(us))).getOrElse(lit(true))
        val hi = hiUs.map(us => col("ts") < timestamp_micros(lit(us))).getOrElse(lit(true))
        df.filter(lo && hi)
    }
  }

  /** Register every test table as a temp view so the whole engine is
    * reachable from plain `spark.sql` (events gets the normalized µs
    * timestamp column). */
  def registerAll(s: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(n => apply(s, dir, n).createOrReplaceTempView(n))
    events(s, dir).createOrReplaceTempView("events")
  }

  /** Epoch-µs of a UTC midnight date literal (for range bounds). */
  def dayUs(date: String): Long =
    java.time.Instant.parse(date + "T00:00:00Z").toEpochMilli * 1000L

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
