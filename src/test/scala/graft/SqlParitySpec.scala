package graft

import org.apache.spark.sql.DataFrame

/** The reference delegates its whole query surface to SQL text
  * (README.md:2 — BigQuery). This spec proves that surface is reachable
  * in the engine through `spark.sql(...)` over [[Tables.registerAll]]'s
  * views and yields frames IDENTICAL to the DataFrame API forms —
  * including the custom operators injected by [[GraftExtensions]]
  * (`graft_dot` as a SQL function, TopKStrategy for the top-k plan). */
class SqlParitySpec extends SparkSuite {

  Tables.registerAll(spark, sf)
  graft.plans.TopKPerGroup.register(spark)

  /** Order-free frame fingerprint, columns sorted by name like the
    * driver's compare. */
  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toString).sorted.toSeq
  }

  // some filters legitimately select nothing at the tiny smoke SF
  // (e.g. q24's dormant-rich predicate) — parity still must hold
  private val mayBeEmpty = Set("q24_dormant_rich")

  private def assertParity(name: String, sql: String): Unit = {
    val viaSql = canon(spark.sql(sql))
    val viaDf = canon(SparkEntry.queries(name)(spark, sf))
    assert(viaSql.nonEmpty || mayBeEmpty(name),
      s"$name SQL form returned no rows")
    assert(viaSql == viaDf, s"$name: SQL and DataFrame forms disagree")
  }

  /** Every oracle whose SQL is dialect-portable enough to run VERBATIM
    * in Spark (the rest use DuckDB-isms: strftime, unnest,
    * regexp_split_to_array, quantile_cont, `//`, the 'g' regexp flag).
    * 23 of 71 — the whole scan/join/aggregate/window/set-op warehouse
    * surface plus the range join, the custom top-k (whose SQL form
    * is the row_number window the custom plan must agree with), and
    * the v01 quality-check report. */
  private val portable = Seq(
    "j02_range_join",
    "q01_pricing_summary", "q02_filter_project", "q03_ship_priority",
    "q04_order_priority", "q05_region_revenue", "q06_forecast",
    "q07_top_orders", "q08_window_rank", "q09_rollup", "q10_set_ops",
    "q11_anti_join", "q12_distinct_agg", "q15_having", "q17_cube",
    "q18_above_cust_avg", "q21_market_share", "q22_string_match",
    "q24_dormant_rich", "q26_multiset_ops", "q27_running_window",
    "q31_topk_per_group", "q35_funnel", "v01_quality_checks",
    "v02_referential_integrity", "v03_profile", "v04_drift_psi",
    "x19_epoch_shuffle", "x20_mixture_waterfill", "j06_window_features",
    "j07_attribution", "m10_aspect_buckets", "m11_batch_manifest",
    "d13_fuzzy_pairs", "d15_incremental_fuzzy")

  portable.foreach { name =>
    test(s"$name: oracle SQL runs verbatim via spark.sql and equals the DataFrame form") {
      assertParity(name, SparkEntry.oracleSql(name))
    }
  }

  // The Spark-dialect forms (SparkEntry.sparkSql) for every operator
  // whose DuckDB oracle can't run verbatim — together these put the
  // t/x/d/s text surface and the windowed/percentile/pivot/grouping-set
  // warehouse queries behind plain SQL text too.
  SparkEntry.sparkSql.keys.toSeq.sorted.foreach { name =>
    test(s"$name: Spark-dialect SQL via spark.sql equals the DataFrame form") {
      assertParity(name, SparkEntry.sparkSql(name))
    }
  }

  test("sparkSql names all resolve to registered queries") {
    val unknown = SparkEntry.sparkSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"sparkSql entries without a query: $unknown")
  }

  test("SQL-text surface is COMPLETE: every registered query has a form") {
    val covered = SparkEntry.sparkSql.keySet ++ portable
    val missing = SparkEntry.queries.keySet -- covered
    assert(missing.isEmpty, s"queries without a SQL-text form: $missing")
  }

  test("graft_dot resolves in SQL text and matches the native expression") {
    val viaSql = spark.sql(
      """SELECT label, round(sum(graft_dot(embedding, embedding)), 4) AS sq_norm
         FROM embeddings GROUP BY label ORDER BY label""").collect()
    val viaDf = {
      import org.apache.spark.sql.functions._
      val e = Tables.t(spark, sf, "embeddings")
      val v = col("embedding").cast("array<double>")
      e.select(col("label"),
          graft.functions.VectorExprs.dot(v, v).as("d"))
        .groupBy("label").agg(round(sum(col("d")), 4).as("sq_norm"))
        .orderBy("label").collect()
    }
    assert(viaSql.nonEmpty && viaSql.sameElements(viaDf))
  }
}
