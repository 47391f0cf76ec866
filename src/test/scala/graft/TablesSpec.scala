package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.core.Tables

/** `Tables.parquet`, the one parquet reader: it gives every path the
  * schema Spark's inference gives it, and reads that schema from the
  * footer in process, with no Spark job. */
class TablesSpec extends SparkTestBase {

  private val BaseTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The test dataset and, when present, its sf0.01 sibling. */
  private val sfDirs = Seq(Paths.get(Sf), Paths.get(Sf).resolveSibling("sf0.01"))
    .filter(Files.isDirectory(_)).map(_.toString)

  /** The names of the jobs `f` started on this thread (the listener bus
    * drained before and after). */
  private def jobsOf[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = "graft.spec.tables"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null)
          jobs.add(j.stageInfos.minBy(_.stageId).name): Unit
    }
    ListenerBridge.waitUntilEmpty(sc, 10000)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "1")
      val out = try f finally sc.setLocalProperty(tag, null)
      ListenerBridge.waitUntilEmpty(sc, 10000)
      (out, jobs.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("every base table reads with the schema Spark infers, under the session's conf at call time") {
    assert(sfDirs.nonEmpty)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    def parity(): Unit = for (d <- sfDirs; t <- BaseTables) {
      val p = s"$d/$t.parquet"
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    parity()
    assert(Tables(spark, Sf, "events").schema("ts").dataType == TimestampNTZType)
    // events' ts is a µs timestamp without UTC adjustment: it reads as NTZ
    // only while inference of NTZ is on, so flipping that conf must reach
    // the footer read of the very next call
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(ntz, "false")
    try {
      parity()
      assert(Tables(spark, Sf, "events").schema("ts").dataType == TimestampType)
    } finally spark.conf.unset(ntz)
  }

  test("a partitioned dir with _SUCCESS and hidden files reads like Spark's inference") {
    val out = s"${tmpDir("tables-part")}/t"
    spark.range(40).select(col("id"), (col("id") % 3).as("k"),
        concat(lit("v"), col("id").cast("string")).as("s"))
      .write.partitionBy("k").parquet(out)
    Files.writeString(Paths.get(out, ".hidden"), "not parquet")
    Files.writeString(Paths.get(out, "_notes"), "not parquet")
    assert(Files.exists(Paths.get(out, "_SUCCESS")))
    val viaFooter = Tables.parquet(spark, out)
    val inferred = spark.read.parquet(out)
    assert(viaFooter.schema == inferred.schema)
    assert(viaFooter.schema.fieldNames.toSeq == Seq("id", "s", "k"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(viaFooter) == rows(inferred))
  }

  test("the reader runs no Spark job; a read without a schema runs one") {
    val p = s"$Sf/orders.parquet"
    val (df, jobs) = jobsOf(Tables.parquet(spark, p).schema)
    assert(jobs.isEmpty, s"the footer read ran jobs: $jobs")
    assert(df.fieldNames.contains("o_orderkey"))
    val (_, inferJobs) = jobsOf(spark.read.parquet(p).schema)
    assert(inferJobs.exists(_.startsWith("parquet at")),
      s"the listener must see the inference job it guards against: $inferJobs")
  }

  test("a dir with no data file fails with an error that names the path") {
    val empty = s"${tmpDir("tables-empty")}/t"
    Files.createDirectories(Paths.get(empty))
    Files.writeString(Paths.get(empty, "_SUCCESS"), "")
    val e = intercept[IllegalArgumentException](Tables.parquet(spark, empty))
    assert(e.getMessage.contains(empty), e.getMessage)
  }
}
