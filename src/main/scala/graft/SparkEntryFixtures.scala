package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.table
import graft.ops.TsForecastOp

/** The one copy of every fixture two or more SparkEntry parts share: the series
  * builders, the exact-sum rounding contract, the forecast rounding contract
  * and the SQL fragments their DuckDB twins replay. Each `SparkEntry*` part
  * imports this object and loads tables through [[Tables.table]]; a helper
  * only one part uses stays in that part. */
private[graft] object SparkEntryFixtures {

  // ------------------------------------------------ exact sums

  /** Per-row round to 6 decimals as DECIMAL(28,6): the fused native
    * [[graft.functions.RoundedDecimal]], value-identical to
    * `round(c, 6).cast(DECIMAL(28,6))` (RoundedDecimalParitySpec) with one
    * shortest-decimal parse per row instead of two, and a COMPACT decimal
    * into the sum so the aggregate adds stay on the long fast path —
    * measured 2.06 s → 0.86 s on q1_pricing_summary's five exact sums at
    * sf0.1. */
  def roundedDec(c: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.RoundedDecimal(
        org.apache.spark.sql.GraftExpressionBridge.expression(c.cast(DoubleType)), 6, 28))

  /** Exact order-independent sum: per-row round to fixed decimals, cast to
    * DECIMAL, sum (exact), cast back to double. Per-row double arithmetic is
    * bitwise-identical across engines; only multi-row float summation order
    * varies — this removes it from the oracle compare. */
  def exactSum(c: Column): Column = sum(roundedDec(c)).cast(DoubleType)

  /** Money sum rounded to 2 decimals in DECIMAL space: rounding a decimal is
    * well-defined half-up in both engines, whereas rounding the equivalent
    * double hits engine-specific halfway behavior (e.g. x.925 → .92 vs .93). */
  def exactSum2(c: Column): Column = round(sum(roundedDec(c)), 2).cast(DoubleType)

  /** The DuckDB twin of `exactSum(col("value"))`. */
  val ExactSumY = "CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE)"

  // ------------------------------------------------ event series

  /** Daily value series per event_type: (g, ds DATE, y). */
  def dailyEvents(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(col("event_type").as("g"), col("ts").cast(DateType).as("ds"))
      .agg(exactSum(col("value")).as("y"))

  /** Daily series with TIMESTAMP ds (the aggregate-API input shape). */
  def dailyEventsTs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(col("event_type").as("g"), date_trunc("day", col("ts")).as("ds"))
      .agg(exactSum(col("value")).as("y"))

  /** Sparser per-user purchase series (has day gaps): (g, ds DATE, y). */
  def purchaseSeries(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("g"), col("ts").cast(DateType).as("ds"))
      .agg(exactSum(col("value")).as("y"))

  /** Per-group (actual, lag-1 pred) arrays, date-ordered (metric input). */
  def metricInput(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("ds"))
    dailyEvents(s, dir).withColumn("pred", lag(col("y"), 1).over(w))
      .groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("ds"),
        coalesce(col("y"), lit(Double.NaN)).as("a"),
        coalesce(col("pred"), lit(Double.NaN)).as("p")))).as("_s"))
  }

  /** `s` = the DuckDB twin of [[dailyEvents]]. */
  val SeriesCte =
    s"WITH s AS (SELECT event_type AS g, CAST(ts AS DATE) AS ds, $ExactSumY AS y FROM events GROUP BY 1, 2)"

  /** `p` = the DuckDB twin of [[purchaseSeries]]. */
  val PurchaseCte =
    s"WITH p AS (SELECT user_id AS g, CAST(ts AS DATE) AS ds, $ExactSumY AS y FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)"

  // ------------------------------------------------ forecast output

  /** yhat is pure per-row arithmetic on exact inputs → round 6; the CI bounds
    * involve a cross-engine stddev (different summation algorithms) → round 4
    * to keep ulp-level differences away from the rounding boundary. */
  def roundFc(df: DataFrame): DataFrame =
    df.select(col("g"), col("forecast_step"), col("ds"),
      round(col("yhat"), 6).as("yhat"),
      round(col("yhat_lower"), 4).as("yhat_lower"),
      round(col("yhat_upper"), 4).as("yhat_upper"),
      col("model_name"))

  // ------------------------------------------------ planted series

  /** Seasonal offsets, Σ = 0 over the period. */
  val Svals = Seq(3.0, -1.0, 0.5, 2.0, -2.5, 1.5, -3.5)

  /** One row per distinct (o_orderpriority, o_orderdate), positioned by date
    * order (0-based `_pos`) — the deterministic spine the planted
    * constructions sit on. */
  def plantedBase(s: SparkSession, dir: String, nPts: Int): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("ds"))
    table(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("g"), col("o_orderdate").cast(DateType).as("ds"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_pos", row_number().over(w) - 1)
      .filter(col("_pos") < nPts)
  }

  /** Constant plant: y = 42.5 on 60 points. */
  def plantedCst(s: SparkSession, dir: String): DataFrame =
    plantedBase(s, dir, 60).select(col("g"), col("ds"), lit(42.5).as("y"))

  /** Zero-trend seasonal plant: y = 20 + Svals[pos mod 7], 9 whole periods. */
  def plantedSea(s: SparkSession, dir: String): DataFrame =
    plantedBase(s, dir, 63)
      .select(col("g"), col("ds"),
        (lit(20.0) + element_at(array(Svals.map(lit): _*),
          (col("_pos") % 7).cast(IntegerType) + 1)).as("y"))

  /** A 7-step daily forecast row over a planted series, rounded by [[roundFc]]. */
  def fcOn(planted: (SparkSession, String) => DataFrame, method: String,
           params: Map[String, String] = Map.empty): (SparkSession, String) => DataFrame =
    (s, dir) => roundFc(
      TsForecastOp.forecastBy(planted(s, dir), "g", "ds", "y", method, 7, "1d", params))

  /** `p` = the DuckDB twin of [[plantedBase]] (before the `_pos` cut). */
  val BaseCte =
    """WITH d AS (
      |  SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS ds
      |  FROM orders GROUP BY 1, 2),
      |p AS (SELECT g, ds, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos
      |      FROM d)""".stripMargin
  val CstCte = BaseCte +
    ",\ns AS (SELECT g, ds, 42.5 AS y FROM p WHERE pos < 60)"
  val SeaCte = BaseCte +
    ",\ns AS (SELECT g, ds, 20.0 + [3.0, -1.0, 0.5, 2.0, -2.5, 1.5, -3.5][(pos % 7) + 1] AS y" +
    "\n       FROM p WHERE pos < 63)"

  /** Forecast point of each plant as a function of `step`. */
  val CstY = "42.5"
  val SeaY = "20.0 + [3.0, -1.0, 0.5, 2.0, -2.5, 1.5, -3.5][((step - 1) % 7) + 1]"

  /** The DuckDB twin of an [[fcOn]] row: the construction's point forecast
    * with point ± 1.96·σ_pop(history)·√step bounds. */
  def fcOracle(seriesCte: String, yhatExpr: String, modelName: String): String =
    seriesCte +
      s""",
         |a AS (SELECT g, max(ds) AS last_ds, stddev_pop(y) AS sigma FROM s GROUP BY g)
         |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
         | round($yhatExpr, 6) AS yhat,
         | round(($yhatExpr) - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
         | round(($yhatExpr) + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
         | '$modelName' AS model_name
         |FROM a, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin

  /** 10 + sin(2π·(pos+1)/period) on `nPts` points per priority. */
  private def sinusoid(s: SparkSession, dir: String, period: Int, nPts: Int): DataFrame =
    plantedBase(s, dir, nPts).select(col("g"), col("ds"),
      (lit(10.0) + sin((col("_pos") + 1) * lit(2.0 * math.Pi / period))).as("y"))

  /** Period-7 sinusoid, 70 samples (10 full cycles) per priority. */
  def sinusoid7(s: SparkSession, dir: String): DataFrame = sinusoid(s, dir, 7, 70)

  /** Period-8 sinusoid, 64 samples (8 full cycles) per priority: a correct
    * period detector must report 8 — the oracle is the construction, not the
    * implementation. 64 samples put frequency 1/8 on an exact DFT bin. */
  def sinusoid8(s: SparkSession, dir: String): DataFrame = sinusoid(s, dir, 8, 64)

  /** 60 points per priority, y = 0 for the first 30 and 100 after: a single
    * variance-free step whose only defensible segmentation is one
    * changepoint at position 30. */
  def stepSeries(s: SparkSession, dir: String): DataFrame =
    plantedBase(s, dir, 60).select(col("g"), col("ds"),
      when(col("_pos") < 30, 0.0).otherwise(100.0).as("y"))

  /** 64 order dates per priority with a [0, 5, 0, 0] spike pattern: peaks
    * sit at 0-based positions 1, 5, …, 61 with value 5 and (because no
    * strictly-higher terrain exists) prominence 5 — all from construction. */
  def spikeSeries(s: SparkSession, dir: String): DataFrame =
    plantedBase(s, dir, 64)
      .select(col("g"), col("ds"),
        when(col("_pos") % 4 === 1, 5.0).otherwise(0.0).as("y"))

  // ------------------------------------------------ planted text

  /** Well-formed lines (terminal punctuation, a quote) and a stop-word run
    * planted into the word-soup corpus, which natively has neither. */
  val PlantGood =
    "\nThis line ends well. Another full sentence! A third one?\nAnd a quoted line.\""
  val PlantStops = " with the of and that be to have"

  /** Naive Bayes feature hashing: buckets and poly-hash seed. */
  val NbBuckets = 64
  val NbSeed = 9L
  /** DSIR feature-hash seed. */
  val DsirSeed = 3L

  /** Tokens → seeded poly-hash mod P → NB feature bucket (the
    * ClassifierOps replay); `from` supplies (doc_id, t, y). */
  def nbBucketSql(from: String): String =
    s"""SELECT doc_id, y, list_reduce(list_prepend(CAST($NbSeed AS BIGINT),
       |    list_transform(range(1, len(tok) + 1), i -> CAST(ord(tok[i:i]) AS BIGINT))),
       |    (a, c) -> (a * 131 + c) % 2147483647) % $NbBuckets AS bucket
       |  FROM (SELECT doc_id, y, unnest(list_filter(
       |      string_split_regex(lower(trim(t)), '[ \\t\\n\\r\\f]+'), x -> len(x) > 0)) AS tok
       |    FROM $from)""".stripMargin
}
