package graft

import org.apache.spark.sql.SparkSession

import graft.core.Tables

/**
 * Catalog views over the operator registry and the source tables —
 * the second half of the SQL surface (verdict r18 #6; the first is
 * [[HelixExtensions]]' `graft_query` table function): after
 * `SqlSurface.register(spark, dir)`, `SELECT * FROM
 * dedup_minhash_lsh_capped` and `SELECT * FROM documents` are plain
 * SQL. A view wraps the operator's ANALYZED plan, so the SQL user
 * executes the exact distributed plan the Scala entry point builds.
 *
 * Registration builds plans (not results): a temp view is lazy, so
 * registering the full 260+-query registry costs plan construction
 * only — any staged index an operator needs is ensured at its first
 * registration (the same once-per-corpus cost the Scala path pays).
 */
object SqlSurface {

  /** Temp views for the named registry queries (default: all). Returns
    * the names that failed to register (construction threw), so a
    * partial registration is never silent. */
  def registerQueries(spark: SparkSession, dir: String,
      names: Iterable[String] = SparkEntry.queries.keys): Seq[String] =
    names.toSeq.sorted.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, dir).createOrReplaceTempView(name)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[sql-surface] $name failed to register: " +
          e.toString.take(120))
        Some(name)
      }
    }

  /** Tables + the full registry. */
  def register(spark: SparkSession, dir: String): Seq[String] = {
    Tables.registerAll(spark, dir)
    registerQueries(spark, dir)
  }
}
