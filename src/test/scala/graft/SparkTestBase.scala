package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite {
  // One shared session across suites (forked test JVM); never stopped so
  // suite order doesn't matter.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.extensions", "graft.HelixExtensions")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val Sf: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Scan options that put a store scan on the Spark read path whatever
    * its size: any `maxPartitionBytes` does, here the session's own. */
  def sparkScanPath: graft.core.ScanOptions = graft.core.ScanOptions(
    maxPartitionBytes = Some(spark.sessionState.conf.filesMaxPartitionBytes))
}
