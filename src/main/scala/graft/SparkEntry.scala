package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.functions.TsFunctions
import graft.llm.{SimilarityOps, TextOps}
import graft.ops.{TsForecastOp, TsPrep}

/** One part of the SparkEntry contract: its rows and their DuckDB twins, under
  * the same keys, each map built with [[rows]]. [[SparkEntry]] merges the
  * parts. */
private[graft] trait EntryPart {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]

  def partName: String = getClass.getSimpleName.stripSuffix("$")

  /** This part's map, refusing a key it repeats. */
  protected final def rows[V](pairs: (String, V)*): Map[String, V] =
    SparkEntry.distinctRows(partName, pairs: _*)
}

/** The query contract — see SURVEY.md §7.
  *
  * Every `queries` entry is an operator exercised on the driver's testdata;
  * `oracleSql` holds the equivalent ANSI SQL the driver runs in DuckDB on
  * the same parquet tables. Column names and rounding match on both sides
  * (floats rounded to 6 decimals — or 2 for large money sums — so that
  * cross-engine summation-order ulps don't flip the hash compare).
  *
  * The rows live in parts: this file's own rows and the `SparkEntryVn`
  * objects. A new row goes into the part of its operator family, builds its
  * inputs from [[SparkEntryFixtures]] and loads tables through
  * [[Tables.table]]. The two maps are merged from [[parts]] once, and the
  * merge is checked: a key that one part repeats or two parts define, or a
  * row without its oracle twin (or a twin without its row), fails the first
  * access to either map with an error that names it. */
object SparkEntry {

  type Query = (SparkSession, String) => DataFrame

  // shared by the Scala-API row and its SQL-table-macro twin (byte-identical
  // expansion is the macro contract, so they share one oracle)
  private[graft] val fillGapsOracle = PurchaseCte +
    """, w AS (
      |  SELECT g, ds, y, lag(ds) OVER (PARTITION BY g ORDER BY ds) AS prev FROM p),
      |gaps AS (
      |  SELECT g, prev + CAST(unnest(range(1, CAST(ds - prev AS BIGINT))) AS INT) AS ds,
      |         CAST(NULL AS DOUBLE) AS y
      |  FROM w WHERE prev IS NOT NULL AND (ds - prev) > 1)
      |SELECT g, ds, round(y, 6) AS y FROM p
      |UNION ALL SELECT g, ds, y FROM gaps""".stripMargin
  private val SeasonalNaiveOracle = SeriesCte +
    """, a AS (
      |  SELECT g, max(ds) AS last_ds, stddev_pop(y) AS sigma,
      |         list(y ORDER BY ds)[-7:] AS ls
      |  FROM s GROUP BY g)
      |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
      | round(ls[((step - 1) % 7) + 1], 6) AS yhat,
      | round(ls[((step - 1) % 7) + 1] - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
      | round(ls[((step - 1) % 7) + 1] + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
      | 'SeasonalNaive' AS model_name
      |FROM a, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TsForecastOp.forecastBy(dailyEvents(spark, "/root/testdata/sf0.001"),
      "g", "ds", "y", "SeasonalNaive", 7, "1d", Map("seasonal_period" -> "7"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] = registry._1

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = registry._2

  /** Fails with an error naming them when any of `names` is not a row of
    * [[queries]]: a tool given a misspelt or renamed row must not
    * quietly run or dump less than it was asked for. */
  private[graft] def requireKnown(names: Iterable[String]): Unit = {
    val unknown = names.filterNot(queries.contains).toSeq.distinct.sorted
    require(unknown.isEmpty, s"unknown SparkEntry queries: ${unknown.mkString(", ")}")
  }

  /** Every part of the contract as (name, rows, oracles), this file first. */
  private def parts: Seq[(String, Map[String, Query], Map[String, String])] =
    ("SparkEntry", queriesV1, oracleSqlV1) +: Seq[EntryPart](
      SparkEntryV2, SparkEntryV3, SparkEntryV4, SparkEntryV5, SparkEntryV6,
      SparkEntryV7, SparkEntryV8, SparkEntryV9, SparkEntryV10, SparkEntryV11,
      SparkEntryV12, SparkEntryV13, SparkEntryV14, SparkEntryV15, SparkEntryV16,
      SparkEntryV17, SparkEntryV18, SparkEntryV19, SparkEntryV20, SparkEntryV21,
      SparkEntryV22, SparkEntryV23, SparkEntryV24, SparkEntryV25, SparkEntryV26,
      SparkEntryV27, SparkEntryV28, SparkEntryV29, SparkEntryV30, SparkEntryV31,
      SparkEntryV32, SparkEntryV33, SparkEntryV34, SparkEntryV35, SparkEntryV36,
      SparkEntryV37, SparkEntryV38, SparkEntryV39, SparkEntryV40, SparkEntryV41,
      SparkEntryV42
    ).map(p => (p.partName, p.queries, p.oracleSql))

  // A lazy val whose initializer throws is retried on the next access, so a
  // broken contract fails every access, not just the first.
  private lazy val registry: (Map[String, Query], Map[String, String]) = {
    val ps = parts
    val q = mergeParts("queries", ps.map(p => p._1 -> p._2))
    val o = mergeParts("oracleSql", ps.map(p => p._1 -> p._3))
    checkTwins(q.keySet, o.keySet)
    (q, o)
  }

  /** One part's map that refuses a repeated key (a `Map(...)` literal
    * would keep the later entry and silently drop the earlier row). */
  private[graft] def distinctRows[V](part: String, pairs: (String, V)*): Map[String, V] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    for ((k, _) <- pairs) if (!seen.add(k)) throw new IllegalStateException(
      s"SparkEntry: key '$k' is defined twice in $part")
    pairs.toMap
  }

  /** Union of the parts' maps that refuses a key defined by two parts (a
    * plain `++` would keep the later row and silently drop the earlier one
    * from the oracle gate). */
  private[graft] def mergeParts[V](what: String, parts: Seq[(String, Map[String, V])]): Map[String, V] = {
    val owner = scala.collection.mutable.HashMap.empty[String, String]
    for ((part, m) <- parts; k <- m.keys) owner.get(k) match {
      case Some(first) => throw new IllegalStateException(
        s"SparkEntry: $what key '$k' is defined in both $first and $part")
      case None => owner(k) = part
    }
    parts.foldLeft(Map.empty[String, V])(_ ++ _._2)
  }

  /** Every row has an oracle twin and every twin a row. */
  private[graft] def checkTwins(queryKeys: Set[String], oracleKeys: Set[String]): Unit = {
    val noOracle = (queryKeys -- oracleKeys).toSeq.sorted
    val noQuery = (oracleKeys -- queryKeys).toSeq.sorted
    if (noOracle.nonEmpty || noQuery.nonEmpty) throw new IllegalStateException(
      "SparkEntry: queries and oracleSql differ — " +
        s"rows without an oracle: [${noOracle.mkString(", ")}]; " +
        s"oracles without a row: [${noQuery.mkString(", ")}]")
  }

  private def queriesV1: Map[String, Query] = distinctRows("SparkEntry",
    // ------------------------------------------------ relational shell
    "q1_pricing_summary" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-01").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exactSum2(col("l_quantity")).as("sum_qty"),
          exactSum2(col("l_extendedprice")).as("sum_base_price"),
          exactSum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(exactSum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          round(exactSum(col("l_discount")) / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),
    "q3_segment_revenue" -> ((s, dir) => {
      // Scale shape: the fact table (lineitem) is pre-aggregated to one row
      // per l_orderkey BEFORE any join (partial agg = map-side combine), and
      // the small cust⋈ord keyset is the explicitly-broadcast build side —
      // lineitem is never eligible for an AQE broadcast and never shuffled
      // beyond its own groupBy key.
      val cust = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = table(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
      val keyset = broadcast(cust)
        .join(ord, col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"))
      val liAgg = table(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-01-01").cast(TimestampType))
        .groupBy(col("l_orderkey"))
        .agg(exactSum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .filter(col("revenue") > 100000)
      liAgg.join(broadcast(keyset), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("revenue"))
    }),
    // ------------------------------------------------ data preparation
    "ts_diff_by" -> ((s, dir) => {
      TsPrep.diffBy(dailyEvents(s, dir), "g", "ds", "y", 1)
        .select(col("g"), col("ds"), round(col("diff_value"), 6).as("diff_value"))
    }),
    "ts_fill_nulls_forward_by" -> ((s, dir) => {
      val withNulls = dailyEvents(s, dir).select(col("g"), col("ds"),
        when(dayofmonth(col("ds")) % 5 === 0, lit(null)).otherwise(round(col("y"), 6)).as("y"))
      TsPrep.fillNullsForwardBy(withNulls, "g", "ds", "y")
        .select(col("g"), col("ds"), col("y"), col("filled_value"))
    }),
    "ts_fill_nulls_backward_by" -> ((s, dir) => {
      val withNulls = dailyEvents(s, dir).select(col("g"), col("ds"),
        when(dayofmonth(col("ds")) % 5 === 0, lit(null)).otherwise(round(col("y"), 6)).as("y"))
      TsPrep.fillNullsBackwardBy(withNulls, "g", "ds", "y")
        .select(col("g"), col("ds"), col("y"), col("filled_value"))
    }),
    "ts_drop_short_by" -> ((s, dir) => {
      TsPrep.dropShortBy(purchaseSeries(s, dir), "g", 12)
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"))
    }),
    "ts_drop_constant_by" -> ((s, dir) => {
      val withConst = purchaseSeries(s, dir).select(col("g"), col("ds"),
        when(col("g") % 7 === 0, lit(1.0)).otherwise(round(col("y"), 6)).as("y"))
      TsPrep.dropConstantBy(withConst, "g", "y")
        .select(col("g"), col("ds"), col("y"))
    }),
    "ts_fill_gaps_by" -> ((s, dir) => {
      TsPrep.fillGapsBy(purchaseSeries(s, dir), "g", "ds", "y", "1d")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"))
    }),
    // ------------------------------------------------ metrics (array API)
    "ts_mae_by" -> ((s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      dailyEvents(s, dir).withColumn("pred", lag(col("y"), 1).over(w))
        .groupBy(col("g"))
        .agg(sort_array(collect_list(struct(col("ds"),
          coalesce(col("y"), lit(Double.NaN)).as("a"),
          coalesce(col("pred"), lit(Double.NaN)).as("p")))).as("_s"))
        .select(col("g"), round(TsFunctions.tsMae(col("_s.a"), col("_s.p")), 6).as("mae"))
    }),
    "ts_rmse_by" -> ((s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      dailyEvents(s, dir).withColumn("pred", lag(col("y"), 1).over(w))
        .groupBy(col("g"))
        .agg(sort_array(collect_list(struct(col("ds"),
          coalesce(col("y"), lit(Double.NaN)).as("a"),
          coalesce(col("pred"), lit(Double.NaN)).as("p")))).as("_s"))
        .select(col("g"), round(TsFunctions.tsRmse(col("_s.a"), col("_s.p")), 6).as("rmse"))
    }),
    // ------------------------------------------------ forecasting
    "fc_naive" -> ((s, dir) => roundFc(
      TsForecastOp.forecastBy(dailyEvents(s, dir), "g", "ds", "y", "Naive", 7, "1d"))),
    "fc_seasonal_naive" -> ((s, dir) => roundFc(
      TsForecastOp.forecastBy(dailyEvents(s, dir), "g", "ds", "y", "SeasonalNaive", 7, "1d",
        Map("seasonal_period" -> "7")))),
    // the SQL-string table-macro surface (GraftExtensions / Register TVFs):
    // same plan as fc_seasonal_naive, reached through spark.sql — shares its
    // oracle, so a macro-expansion bug is a hash mismatch, not just a smoke
    "sql_macro_forecast_by" -> ((s, dir) => {
      graft.sql.Register.registerAll(s)
      dailyEvents(s, dir).createOrReplaceTempView("_macro_series")
      roundFc(s.sql("SELECT * FROM ts_forecast_by('_macro_series', g, ds, y, " +
        "'SeasonalNaive', 7, '1d', map('seasonal_period', '7'))"))
    }),
    "sql_macro_fill_gaps_by" -> ((s, dir) => {
      graft.sql.Register.registerAll(s)
      purchaseSeries(s, dir).createOrReplaceTempView("_macro_purchases")
      s.sql("SELECT * FROM ts_fill_gaps_by('_macro_purchases', g, ds, y, '1d')")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"))
    }),
    "fc_drift" -> ((s, dir) => roundFc(
      TsForecastOp.forecastBy(dailyEvents(s, dir), "g", "ds", "y", "RandomWalkDrift", 7, "1d"))),
    "fc_sma" -> ((s, dir) => roundFc(
      TsForecastOp.forecastBy(dailyEvents(s, dir), "g", "ds", "y", "SMA", 7, "1d",
        Map("window" -> "7")))),
    // ------------------------------------------------ LLM-pipeline operators
    "dedup_exact" -> ((s, dir) => {
      TextOps.dedupExact(table(s, dir, "documents"), Seq("text"), "doc_id")
        .select(col("doc_id"))
    }),
    "text_stats" -> ((s, dir) => {
      TextOps.textStats(table(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          round(col("alpha_ratio"), 6).as("alpha_ratio"),
          round(col("digit_ratio"), 6).as("digit_ratio"),
          round(col("upper_ratio"), 6).as("upper_ratio"),
          round(col("mean_token_len"), 6).as("mean_token_len"))
    }),
    "ann_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      SimilarityOps.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select(col("qid"), col("vid"), round(col("sim"), 6).as("sim"))
    }),
  )

  private def oracleSqlV1: Map[String, String] = distinctRows("SparkEntry",
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(round(sum(CAST(round(l_quantity, 6) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty,
        | CAST(round(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_base_price,
        | CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_disc_price,
        | round(CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
        | round(CAST(sum(CAST(round(l_discount, 6) AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_segment_revenue" ->
      """SELECT o_orderkey, CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY o_orderkey
        |HAVING CAST(round(sum(CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(28,6))), 2) AS DOUBLE) > 100000""".stripMargin,
    "ts_diff_by" -> (SeriesCte +
      """
        |SELECT g, ds, round(y - lag(y) OVER (PARTITION BY g ORDER BY ds), 6) AS diff_value
        |FROM s""".stripMargin),
    "ts_fill_nulls_forward_by" -> (SeriesCte +
      """, s2 AS (
        |  SELECT g, ds, CASE WHEN day(ds) % 5 = 0 THEN NULL ELSE round(y, 6) END AS y FROM s)
        |SELECT g, ds, y,
        | coalesce(y, lag(y IGNORE NULLS) OVER (PARTITION BY g ORDER BY ds)) AS filled_value
        |FROM s2""".stripMargin),
    "ts_fill_nulls_backward_by" -> (SeriesCte +
      """, s2 AS (
        |  SELECT g, ds, CASE WHEN day(ds) % 5 = 0 THEN NULL ELSE round(y, 6) END AS y FROM s)
        |SELECT g, ds, y,
        | coalesce(y, lead(y IGNORE NULLS) OVER (PARTITION BY g ORDER BY ds)) AS filled_value
        |FROM s2""".stripMargin),
    "ts_drop_short_by" -> (PurchaseCte +
      """
        |SELECT g, ds, round(y, 6) AS y FROM p
        |WHERE g IN (SELECT g FROM p GROUP BY g HAVING count(*) >= 12)""".stripMargin),
    "ts_drop_constant_by" -> (PurchaseCte +
      """, c AS (
        |  SELECT g, ds, CASE WHEN g % 7 = 0 THEN 1.0 ELSE round(y, 6) END AS y FROM p)
        |SELECT g, ds, y FROM c
        |WHERE g IN (SELECT g FROM c GROUP BY g
        |            HAVING min(y) != max(y) OR min(y) IS NULL OR max(y) IS NULL)""".stripMargin),
    "ts_fill_gaps_by" -> fillGapsOracle,
    // the SQL macro rows expand to the same plans — byte-identical oracles
    "sql_macro_fill_gaps_by" -> fillGapsOracle,
    "ts_mae_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS pred FROM s)
        |SELECT g, round(avg(abs(y - pred)), 6) AS mae FROM w GROUP BY g""".stripMargin),
    "ts_rmse_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS pred FROM s)
        |SELECT g, round(sqrt(avg((y - pred) * (y - pred))), 6) AS rmse FROM w GROUP BY g""".stripMargin),
    "fc_naive" -> (SeriesCte +
      """, a AS (
        |  SELECT g, max(ds) AS last_ds, arg_max(y, ds) AS last_y, stddev_pop(y) AS sigma
        |  FROM s GROUP BY g)
        |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
        | round(last_y, 6) AS yhat,
        | round(last_y - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
        | round(last_y + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
        | 'Naive' AS model_name
        |FROM a, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin),
    "fc_seasonal_naive" -> SeasonalNaiveOracle,
    "sql_macro_forecast_by" -> SeasonalNaiveOracle,
    "fc_drift" -> (SeriesCte +
      """, a AS (
        |  SELECT g, max(ds) AS last_ds, arg_max(y, ds) AS last_y, arg_min(y, ds) AS first_y,
        |         count(*) AS n, stddev_pop(y) AS sigma
        |  FROM s GROUP BY g)
        |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
        | round(last_y + (last_y - first_y) / (n - 1) * step, 6) AS yhat,
        | round(last_y + (last_y - first_y) / (n - 1) * step - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
        | round(last_y + (last_y - first_y) / (n - 1) * step + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
        | 'RandomWalkDrift' AS model_name
        |FROM a, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin),
    "fc_sma" -> (SeriesCte +
      """, a AS (
        |  SELECT g, max(ds) AS last_ds, stddev_pop(y) AS sigma,
        |         list_aggregate(list(y ORDER BY ds)[-7:], 'avg') AS sma7
        |  FROM s GROUP BY g)
        |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
        | round(sma7, 6) AS yhat,
        | round(sma7 - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
        | round(sma7 + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
        | 'SMA' AS model_name
        |FROM a, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin),
    "dedup_exact" ->
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text",
    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        | len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        | round(CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text) ELSE 0 END, 6) AS alpha_ratio,
        | round(CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 / length(text) ELSE 0 END, 6) AS digit_ratio,
        | round(CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0 / length(text) ELSE 0 END, 6) AS upper_ratio,
        | round(CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0 THEN length(regexp_replace(text, '\s+', '', 'g')) * 1.0 / len(string_split_regex(trim(text), '\s+')) ELSE 0 END, 6) AS mean_token_len
        |FROM documents""".stripMargin,
    "ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |pairs AS (
        |  SELECT q.qid, e.vec_id AS vid,
        |         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM q, embeddings e),
        |r AS (SELECT qid, vid, sim,
        |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rk
        |      FROM pairs)
        |SELECT qid, vid, round(sim, 6) AS sim FROM r WHERE rk <= 10""".stripMargin,
  )
}
