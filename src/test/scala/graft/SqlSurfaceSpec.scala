package graft

/** The SQL surface (verdict r18 #6): every operator family must be
  * reachable from PURE SQL — via the `graft_query(name, dir)` table
  * function injected by [[HelixExtensions]] and via [[SqlSurface]]'s
  * catalog views — with results hash-equal to the Scala entry point.
  * The representative set spans all the registry's families: TSDB,
  * OLAP, dedup, similarity/ANN, text, multimodal, streaming twins,
  * store scans. */
class SqlSurfaceSpec extends SparkTestBase {

  /** One family-spanning pick per operator group (24 queries). */
  private val Representatives = Seq(
    // TSDB core
    "ts_scan_range", "ts_downsample", "ts_rate", "ts_asof_join",
    "ts_histogram_quantile",
    // OLAP
    "q1_pricing", "q5_nation_revenue", "q_window_topn", "q_retention",
    "q_approx_distinct",
    // dedup
    "dedup_exact", "dedup_minhash_lsh_capped", "dedup_simhash",
    "dedup_index_commit",
    // similarity / ANN
    "ann_ivf_topk", "ann_ivf_commit", "ann_ivf_gen_delete",
    "ann_topk_brute",
    // text
    "text_langid", "text_quality", "text_tokens",
    // multimodal
    "mm_decode_image", "mm_frame_sample",
    // store
    "helix_scan_range")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols.map(c => s"`$c`"): _*)
      .collect().map(_.toString).toSeq.sorted
  }

  test("every representative query is reachable via the graft_query TVF, hash-equal to the Scala path") {
    val missing = Representatives.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"representative set drifted from the registry: $missing")
    Representatives.foreach { name =>
      val viaSql = canon(
        spark.sql(s"SELECT * FROM graft_query('$name', '$Sf')"))
      val viaScala = canon(SparkEntry.queries(name)(spark, Sf))
      assert(viaSql == viaScala,
        s"$name: SQL result diverges from the Scala entry point " +
          s"(${viaSql.size} vs ${viaScala.size} rows)")
    }
  }

  test("the TVF composes inside larger SQL (filter + aggregate over an operator)") {
    val n = spark.sql(
      s"""SELECT count(*) AS n
         |FROM graft_query('dedup_minhash_lsh_capped', '$Sf')
         |WHERE jaccard >= 0.9""".stripMargin).collect().head.getLong(0)
    val want = SparkEntry.queries("dedup_minhash_lsh_capped")(spark, Sf)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.9).count()
    assert(n == want, "the TVF must compose with outer SQL operators")
  }

  test("unknown query names fail loudly at analysis, not silently") {
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_query('no_such_query', '$Sf')").collect()
    }
    assert(e.getMessage.contains("no_such_query"),
      s"error must name the unknown query, got: ${e.getMessage.take(200)}")
  }

  test("catalog views: tables + representative operators are plain FROM targets") {
    graft.core.Tables.registerAll(spark, Sf)
    val failed = SqlSurface.registerQueries(spark, Sf, Representatives)
    assert(failed.isEmpty, s"views failed to register: $failed")
    // the views are the engine's own tables: `events` has its ts as the
    // TIMESTAMP the operators read, not the parquet file's TIMESTAMP_NTZ
    assert(spark.table("events").schema == graft.core.Tables.events(spark, Sf).schema)
    assert(spark.sql("SELECT count(*) FROM documents").collect()
      .head.getLong(0) > 0)
    Representatives.foreach { name =>
      assert(canon(spark.sql(s"SELECT * FROM `$name`"))
        == canon(SparkEntry.queries(name)(spark, Sf)),
        s"view $name diverges from the Scala entry point")
    }
  }
}
