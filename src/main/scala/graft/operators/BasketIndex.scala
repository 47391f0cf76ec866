package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/**
 * Staged distinct (order, part) incidence frame over lineitem — the
 * corpus-invariant, parameter-free seed of market-basket mining
 * ([[Analytics.qMarketBasket]]): pair counts, item supports and the
 * order count all derive from it, so the build-once-probe-many split
 * every other staged artifact applies (winnow selections, knn graph,
 * signature store) applies here too. Built at most once per corpus
 * fingerprint ([[Staging]]: atomic rename, staleness by source
 * fingerprint); the query plan then reads this small frame and never
 * touches lineitem.
 */
object BasketIndex {
  /** Ensure the staged incidence frame exists for `dir`; returns the
    * op/ path holding (ok = l_orderkey, pk = l_partkey) distinct. */
  def ensure(s: SparkSession, dir: String): String = {
    val base = Staging.ensure("basket",
      Staging.fingerprint(dir, "lineitem.parquet")) { tmp =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .write.parquet(tmp.resolve("op").toString)
    }
    base.resolve("op").toString
  }

  /** The staged frame as a DataFrame. */
  def frame(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensure(s, dir))
}
