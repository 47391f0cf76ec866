package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
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

  def tmpDir(prefix: String): String = SparkTestBase.tmpDir(prefix)

  /** Scan options that put a store scan on the task path whatever its
    * size: any `maxPartitionBytes` does, here the session's own. */
  def sparkScanPath: graft.core.ScanOptions = graft.core.ScanOptions(
    maxPartitionBytes = Some(spark.sessionState.conf.filesMaxPartitionBytes))

  /** The class name of `df`'s one source: `LocalRelation` for a store
    * scan read on the driver, `LogicalRDD` for one read in Spark tasks. */
  def sourceOf(df: DataFrame): String = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    assert(leaves.size == 1, s"expected one source, found $leaves")
    leaves.head.getClass.getSimpleName
  }
}

object SparkTestBase {
  /** The dirs [[SparkTestBase.tmpDir]] made, deleted by one shutdown
    * hook, so repeated runs do not grow the temp dir. */
  private val dirs = new ConcurrentLinkedQueue[Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.forEach(deleteTree),
      "graft-test-tmpdirs"))
  }

  /** A fresh dir under the system temp dir, deleted when the test JVM
    * exits. */
  def tmpDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir.toString
  }

  /** Deletes `root` and everything under it, deepest first; a file that
    * is already gone or cannot be deleted is skipped. */
  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { p =>
        try Files.deleteIfExists(p): Unit catch { case _: java.io.IOException => () }
      } catch { case _: java.io.UncheckedIOException => () }
      finally walk.close()
    }
}
