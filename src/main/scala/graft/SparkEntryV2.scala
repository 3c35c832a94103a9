package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.kernels.Conformal
import graft.llm.TextOps
import graft.ops.{Hierarchy, TsCvOp, TsForecastOp, TsStatsOp}

/** Second batch of driver queries: stats/quality, CV/backtest, hierarchy,
  * conformal, changepoints, language-ID, and rows-only model-coverage runs.
  * Same exactness rules as SparkEntry (decimal-exact sums, round 6 / CI 4).
  */
object SparkEntryV2 extends EntryPart {

  /** SeasonalNaive backtest with the given fold metric, rounded for the
    * cross-engine hash compare (one row builder per supported metric). */
  private def backtestRounded(s: SparkSession, dir: String, metric: String): DataFrame =
    roundBacktest(TsCvOp.backtestAutoBy(dailyEvents(s, dir), "g", "ds", "y", 7, 2, "1d",
      Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), metric))

  private def roundBacktest(df: DataFrame): DataFrame =
    df.select(col("fold_id"), col("g"), col("ds"),
      round(col("yhat"), 6).as("yhat"), round(col("actual"), 6).as("actual"),
      round(col("error"), 6).as("error"), round(col("abs_error"), 6).as("abs_error"),
      round(col("yhat_lower"), 4).as("yhat_lower"), round(col("yhat_upper"), 4).as("yhat_upper"),
      col("model_name"), round(col("fold_metric_score"), 6).as("fold_metric_score"))

  /** The ts_backtest_snaive oracle parameterized by the fold-metric SQL
    * (`fmExpr` aggregates over prd's actual/yhat columns). */
  private def backtestOracle(fmExpr: String): String = SeriesCte +
    s""", b AS (
       |  SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos,
       |         count(*) OVER (PARTITION BY g) AS n FROM s),
       |c AS (SELECT g, n, fold, greatest(n - 14, 1) - 1 + (fold - 1) * 7 AS te
       |      FROM (SELECT DISTINCT g, n FROM b) gb, (SELECT unnest(range(1, 3)) AS fold) fl
       |      WHERE n >= 2 AND greatest(n - 14, 1) - 1 + (fold - 1) * 7 + 7 < n),
       |sg AS (SELECT c.g, c.fold, stddev_pop(b.y) AS sigma
       |       FROM c JOIN b ON b.g = c.g AND b.pos <= c.te GROUP BY c.g, c.fold),
       |tst AS (SELECT c.g, c.fold, c.te, b.ds, b.y AS actual, b.pos - c.te AS step
       |        FROM c JOIN b ON b.g = c.g AND b.pos > c.te AND b.pos <= c.te + 7),
       |prd AS (SELECT t.g, t.fold, t.ds, t.actual, t.step, b2.y AS yhat, sg.sigma
       |        FROM tst t
       |        JOIN b b2 ON b2.g = t.g AND b2.pos = t.te - 6 + ((t.step - 1) % 7)
       |        JOIN sg ON sg.g = t.g AND sg.fold = t.fold),
       |fm AS (SELECT fold, $fmExpr AS fms
       |       FROM prd GROUP BY fold)
       |SELECT p.fold AS fold_id, p.g, p.ds, round(p.yhat, 6) AS yhat,
       |  round(p.actual, 6) AS actual, round(p.actual - p.yhat, 6) AS error,
       |  round(abs(p.actual - p.yhat), 6) AS abs_error,
       |  round(p.yhat - 1.96 * p.sigma * sqrt(p.step), 4) AS yhat_lower,
       |  round(p.yhat + 1.96 * p.sigma * sqrt(p.step), 4) AS yhat_upper,
       |  'SeasonalNaive' AS model_name, round(fm.fms, 6) AS fold_metric_score
       |FROM prd p JOIN fm ON fm.fold = p.fold""".stripMargin

  /** Per-series quality-score CTE chain replicating kernels/Quality.scala
    * (reference quality.rs:66-271) on the daily events series — shared with
    * the summary oracle in SparkEntryV6. Ends in `scores(g, ss, ts, ms, bs,
    * is_constant)` with UNROUNDED dimension scores. */
  private[graft] val DataQualityScoresCte: String = SeriesCte +
    """, fy AS (SELECT g, arg_min(y, ds) AS first_y FROM s GROUP BY g),
      |mv AS (SELECT g, avg(y) AS mean, count(*) AS n FROM s GROUP BY g),
      |sv AS (SELECT s.g, sqrt(sum((s.y - mv.mean) * (s.y - mv.mean)) / count(*)) AS std,
      |              sum((s.y - mv.mean) * (s.y - mv.mean)) / count(*) AS popvar,
      |              max(mv.mean) AS mean, max(mv.n) AS n,
      |              max(abs(s.y - fy.first_y)) AS maxdev
      |       FROM s JOIN mv ON s.g = mv.g JOIN fy ON s.g = fy.g GROUP BY s.g),
      |q AS (SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY y) AS rn,
      |             count(*) OVER (PARTITION BY g) AS n FROM s),
      |quart AS (SELECT g,
      |    max(CASE WHEN rn = least(CAST(floor(n * 0.25) AS BIGINT), n - 1) + 1 THEN y END) AS q1,
      |    max(CASE WHEN rn = least(CAST(floor(n * 0.75) AS BIGINT), n - 1) + 1 THEN y END) AS q3
      |  FROM q GROUP BY g),
      |mag AS (SELECT s.g,
      |    CAST(sum(CASE WHEN s.y < quart.q1 - 1.5 * (quart.q3 - quart.q1)
      |                    OR s.y > quart.q3 + 1.5 * (quart.q3 - quart.q1) THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(*) AS outr,
      |    CAST(sum(CASE WHEN abs(s.y - sv.mean) > 4.0 * sv.std THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(*) AS extr
      |  FROM s JOIN quart ON s.g = quart.g JOIN sv ON s.g = sv.g GROUP BY s.g),
      |acf AS (SELECT w.g,
      |    sum(CASE WHEN w.prev IS NOT NULL THEN (w.y - mv.mean) * (w.prev - mv.mean) ELSE 0 END)
      |      / sum((w.y - mv.mean) * (w.y - mv.mean)) AS acf1
      |  FROM (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS prev FROM s) w
      |  JOIN mv ON w.g = mv.g GROUP BY w.g),
      |scores AS (SELECT sv.g,
      |    least(1.0, greatest(0.0, 1.0 * 0.7 + least(sv.n / 30.0, 1.0) * 0.3)) AS ss,
      |    1.0 AS ts,
      |    least(1.0, greatest(0.0, 1.0 - mag.outr * 2.0 - mag.extr * 3.0)) AS ms,
      |    CASE WHEN sv.n < 3 THEN 0.5
      |         WHEN abs(sv.popvar) < 2.220446049250313e-16 THEN 0.0
      |         ELSE least(1.0, greatest(0.0,
      |           1.0 - CASE WHEN abs(acf.acf1) > 0.95 THEN 0.2 ELSE 0.0 END)) END AS bs,
      |    sv.n < 2 OR sv.maxdev < 2.220446049250313e-16 AS is_constant
      |  FROM sv JOIN mag ON sv.g = mag.g JOIN acf ON sv.g = acf.g)""".stripMargin

  /** Oracle for the planted-duplicate dedup queries: pairs of augmented docs
    * (corpus ∪ relabeled copies of doc_id < 20) whose 5-shingle sets are
    * equal, each with similarity exactly 1.0. `simCol` names the output
    * similarity column (jaccard for the text paths). */
  private[graft] def DedupShingleEqualitySql(simCol: String): String =
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20),
       |sh AS (
       |  SELECT doc_id, list_sort(list_distinct(list_transform(
       |    range(1, greatest(length(n) - 3, 1)), i -> n[i:i+4]))) AS ss
       |  FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS n FROM aug))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS $simCol
       |FROM sh a JOIN sh b ON a.ss = b.ss AND a.doc_id < b.doc_id
       |WHERE len(a.ss) > 0""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // ------------------------------------------------ statistics
    "ts_stats_by" -> ((s, dir) => {
      TsStatsOp.statsBy(dailyEvents(s, dir), "g", "ds", "y", "1d")
        .select(col("g"), col("length"), col("n_nulls"), col("n_zeros"), col("n_positive"),
          col("n_negative"), col("n_unique_values"), col("is_constant"),
          round(col("mean"), 6).as("mean"), round(col("median"), 6).as("median"),
          round(col("std_dev"), 6).as("std_dev"), round(col("variance"), 4).as("variance"),
          round(col("min"), 6).as("min"), round(col("max"), 6).as("max"),
          round(col("range"), 6).as("range"), round(col("sum"), 4).as("sum"),
          round(col("skewness"), 6).as("skewness"), round(col("kurtosis"), 6).as("kurtosis"),
          round(col("trimmed_mean"), 6).as("trimmed_mean"),
          round(col("coef_variation"), 6).as("coef_variation"),
          round(col("q1"), 6).as("q1"), round(col("q3"), 6).as("q3"),
          round(col("iqr"), 6).as("iqr"),
          round(col("autocorr_lag1"), 6).as("autocorr_lag1"),
          col("expected_length"), col("n_gaps"))
    }),
    // full 37-field output: every field is SQL-expressible on this data —
    // histogram entropy, Hill tail index, rolling-mean stability, |corr|
    // trend strength, lag-set seasonality strength, plateau runs — so the
    // whole surface is oracle-checked (formulas from stats.rs via
    // kernels/Stats.scala)
    "ts_stats_full_by" -> ((s, dir) =>
      TsStatsOp.statsBy(dailyEvents(s, dir), "g", "ds", "y", "1d")
        .select(col("g"), col("length"), col("n_nulls"), col("n_nan"), col("n_zeros"),
          col("n_positive"), col("n_negative"), col("n_unique_values"), col("is_constant"),
          col("n_zeros_start"), col("n_zeros_end"),
          col("plateau_size"), col("plateau_size_nonzero"),
          round(col("mean"), 6).as("mean"), round(col("median"), 6).as("median"),
          round(col("std_dev"), 6).as("std_dev"), round(col("variance"), 4).as("variance"),
          round(col("min"), 6).as("min"), round(col("max"), 6).as("max"),
          round(col("range"), 6).as("range"), round(col("sum"), 4).as("sum"),
          round(col("skewness"), 6).as("skewness"), round(col("kurtosis"), 6).as("kurtosis"),
          round(col("tail_index"), 6).as("tail_index"),
          round(col("bimodality_coef"), 6).as("bimodality_coef"),
          round(col("trimmed_mean"), 6).as("trimmed_mean"),
          round(col("coef_variation"), 6).as("coef_variation"),
          round(col("q1"), 6).as("q1"), round(col("q3"), 6).as("q3"),
          round(col("iqr"), 6).as("iqr"),
          round(col("autocorr_lag1"), 6).as("autocorr_lag1"),
          round(col("trend_strength"), 6).as("trend_strength"),
          round(col("seasonality_strength"), 6).as("seasonality_strength"),
          round(col("entropy"), 6).as("entropy"),
          round(col("stability"), 6).as("stability"),
          col("expected_length"), col("n_gaps"))),
    "ts_stats_summary" -> ((s, dir) =>
      TsStatsOp.statsSummary(TsStatsOp.statsBy(dailyEvents(s, dir), "g", "ds", "y", "1d"))
        .select(col("n_series"), round(col("avg_length"), 6).as("avg_length"),
          col("min_length"), col("max_length"), col("total_nulls"), col("total_nans"))),
    "ts_quality_report" -> ((s, dir) =>
      TsStatsOp.qualityReport(
        TsStatsOp.statsBy(dailyEvents(s, dir), "g", "ds", "y", "1d"), 10)),
    "ts_data_quality_by" -> ((s, dir) =>
      TsStatsOp.dataQualityBy(dailyEvents(s, dir), "g", "ds", "y")
        .select(col("unique_id"),
          round(col("structural_score"), 6).as("structural_score"),
          round(col("temporal_score"), 6).as("temporal_score"),
          round(col("magnitude_score"), 6).as("magnitude_score"),
          round(col("behavioral_score"), 6).as("behavioral_score"),
          round(col("overall_score"), 6).as("overall_score"),
          col("n_gaps"), col("n_missing"), col("is_constant"))),
    // ------------------------------------------------ cross-validation
    "ts_cv_folds_by" -> ((s, dir) =>
      TsCvOp.cvFoldsBy(dailyEvents(s, dir), "g", "ds", "y", 3, 7)
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"), col("fold_id"), col("split"))),
    "ts_backtest_snaive" -> ((s, dir) => backtestRounded(s, dir, "rmse")),
    // the round-5 metric-set parity additions (ts_backtest_native.cpp:332-353)
    "ts_backtest_bias" -> ((s, dir) => backtestRounded(s, dir, "bias")),
    "ts_backtest_r2" -> ((s, dir) => backtestRounded(s, dir, "r2")),
    // the SQL-string macro route to the same backtest — shares the Scala
    // row's oracle, so macro expansion of the heaviest macro is hash-checked
    "sql_macro_backtest_by" -> ((s, dir) => {
      graft.sql.Register.registerAll(s)
      dailyEvents(s, dir).createOrReplaceTempView("_macro_bt_series")
      roundBacktest(s.sql("SELECT * FROM ts_backtest_auto_by('_macro_bt_series', " +
        "g, ds, y, 7, 2, '1d', map('method', 'SeasonalNaive', 'seasonal_period', '7'), " +
        "NULL, 'rmse')"))
    }),
    "ts_check_leakage" -> ((s, dir) => {
      val folds = TsCvOp.cvFoldsBy(dailyEvents(s, dir), "g", "ds", "y", 1, 7)
      TsCvOp.checkLeakage(folds.withColumn("_is_test", col("split") === "test"),
        "g", "ds", "_is_test")
    }),
    // ------------------------------------------------ hierarchy
    "ts_aggregate_hierarchy" -> ((s, dir) => {
      val h = table(s, dir, "events").select(
        col("event_type").as("id1"),
        (col("user_id") % 10).cast(StringType).as("id2"),
        col("ts").cast(DateType).as("ds"),
        round(col("value"), 6).cast(DecimalType(28, 6)).as("v"))
      Hierarchy.aggregateHierarchy(h, "ds", "v", Seq("id1", "id2"))
        .select(col("level"), col("unique_id"), col("ds"), col("v").cast(DoubleType).as("v"))
    }),
    "ts_combine_split_keys" -> ((s, dir) => {
      val combined = Hierarchy.combineKeys(
        table(s, dir, "events").select(col("event_type").as("id1"),
          (col("user_id") % 10).cast(StringType).as("id2"),
          col("ts").cast(DateType).as("ds"), round(col("value"), 6).as("v")),
        "ds", "v", Seq("id1", "id2"))
      Hierarchy.splitKeys(combined, "unique_id", 2)
        .groupBy(col("id_part_1"), col("id_part_2"))
        .agg(count(lit(1)).as("n"))
    }),
    // ------------------------------------------------ conformal
    "ts_conformal_quantile_by" -> ((s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      val qUdf = udf((rs: Seq[Double]) => Conformal.conformalQuantile(rs.toArray, 0.1))
      dailyEvents(s, dir).withColumn("r", col("y") - lag(col("y"), 1).over(w))
        .filter(col("r").isNotNull)
        .groupBy(col("g")).agg(collect_list(col("r")).as("_rs"))
        .select(col("g"), round(qUdf(col("_rs")), 6).as("q"))
    }),
    // ------------------------------------------------ text / language
    "lang_id" -> ((s, dir) =>
      TextOps.languageId(table(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang_pred"))),
    // ------------------------------------------------ near-dup detection via
    // planted exact duplicates: a relabeled copy of the first 20 docs joins
    // the corpus. Identical shingle sets make LSH candidacy deterministic
    // (identical signatures → every band matches) and the verified Jaccard is
    // exactly 1.0, while hash-collision candidates between DIFFERENT sets are
    // removed by the verify step — so the output provably equals the SQL
    // shingle-set-equality oracle in both directions, even though the hash
    // values themselves have no SQL equivalent.
    "dedup_minhash_pairs" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      TextOps.jaccardVerify(TextOps.minHashLshPairs(aug, "doc_id", "text"),
          aug, "doc_id", "text", 5, threshold = 1.0)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),
    "dedup_simhash" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.unionByName(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      val sig = TextOps.simHash(aug, "text")
      val cand = sig.select(col("doc_id").as("id_a"), col("simhash"))
        .join(sig.select(col("doc_id").as("id_b"), col("simhash").as("_sig_b")),
          col("simhash") === col("_sig_b") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      TextOps.jaccardVerify(cand, aug, "doc_id", "text", 5, threshold = 1.0)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),
    "dedup_embedding" -> ((s, dir) => {
      // planted duplicate vectors: identical embeddings land in the same sign
      // bucket with cosine exactly 1.0; the real synthetic embeddings are
      // near-orthogonal (all 500 distinct), so the 0.9999 floor keeps only
      // the planted pairs
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val aug = emb.unionByName(emb.filter(col("vec_id") < 25)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding")))
      graft.llm.SimilarityOps.lshNearPairs(aug, "vec_id", "embedding",
          64, 0.9999, nBits = 6)
        .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
    }),
    // fixed-parameter models → oracle-checked (recursions replayed in SQL
    // via DuckDB list_reduce, bit-exact; see oracleSql below)
    "fc_ses" -> ((s, dir) => roundFc(TsForecastOp.forecastBy(
      dailyEvents(s, dir), "g", "ds", "y", "SES", 7, "1d"))),
    "fc_seasonal_es" -> ((s, dir) => roundFc(TsForecastOp.forecastBy(
      dailyEvents(s, dir), "g", "ds", "y", "SeasonalES", 7, "1d",
      Map("seasonal_period" -> "7")))),
    "fc_swa" -> ((s, dir) => roundFc(TsForecastOp.forecastBy(
      dailyEvents(s, dir), "g", "ds", "y", "SeasonalWindowAverage", 7, "1d",
      Map("seasonal_period" -> "7")))),
    "fc_croston" -> ((s, dir) => roundFc(TsForecastOp.forecastBy(
      dailyEvents(s, dir), "g", "ds", "y", "CrostonClassic", 7, "1d"))),
    "fc_tsb" -> ((s, dir) => roundFc(TsForecastOp.forecastBy(
      dailyEvents(s, dir), "g", "ds", "y", "TSB", 7, "1d"))),
    // (optimizer-driven models — SESOptimized/Holt/HoltWinters/Theta/ETS/… —
    // moved to SparkEntryV11: planted-construction oracles; changepoints
    // moved to SparkEntryV10: planted-step oracles)
  )

  def oracleSql: Map[String, String] = rows(
    "ts_stats_by" -> (SeriesCte +
      """, base AS (
        |  SELECT g, count(*) AS length, CAST(0 AS BIGINT) AS n_nulls,
        |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeros,
        |    CAST(sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        |    CAST(sum(CASE WHEN y < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
        |    count(DISTINCT y) AS n_unique_values,
        |    count(DISTINCT y) = 1 AS is_constant,
        |    avg(y) AS mean, quantile_cont(y, 0.5) AS median,
        |    stddev_samp(y) AS std_dev, var_samp(y) AS variance,
        |    min(y) AS min, max(y) AS max, max(y) - min(y) AS range, sum(y) AS sum,
        |    quantile_cont(y, 0.25) AS q1, quantile_cont(y, 0.75) AS q3,
        |    CASE WHEN abs(avg(y)) > 2.220446049250313e-16
        |         THEN stddev_samp(y) / abs(avg(y)) END AS coef_variation,
        |    CAST((max(ds) - min(ds)) + 1 AS BIGINT) AS expected_length
        |  FROM s GROUP BY g),
        |moments AS (
        |  SELECT s.g,
        |    sum(pow(s.y - b.mean, 3)) / max(b.length) AS m3,
        |    sum(pow(s.y - b.mean, 4)) / max(b.length) AS m4,
        |    max(b.length) AS n, max(b.std_dev) AS sd
        |  FROM s JOIN base b ON s.g = b.g GROUP BY s.g),
        |trimmed AS (
        |  SELECT g, avg(y) AS trimmed_mean FROM (
        |    SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY y) AS rn,
        |           count(*) OVER (PARTITION BY g) AS n FROM s)
        |  WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1) GROUP BY g),
        |acf AS (
        |  SELECT q.g,
        |    sum(CASE WHEN q.prev IS NOT NULL THEN (q.y - b.mean) * (q.prev - b.mean) ELSE 0 END)
        |      / sum((q.y - b.mean) * (q.y - b.mean)) AS autocorr_lag1
        |  FROM (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS prev FROM s) q
        |  JOIN base b ON q.g = b.g GROUP BY q.g),
        |gaps AS (
        |  SELECT g, CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps FROM (
        |    SELECT g, ds - lag(ds) OVER (PARTITION BY g ORDER BY ds) AS d FROM s)
        |  WHERE d IS NOT NULL GROUP BY g)
        |SELECT b.g, b.length, b.n_nulls, b.n_zeros, b.n_positive, b.n_negative,
        |  b.n_unique_values, b.is_constant,
        |  round(b.mean, 6) AS mean, round(b.median, 6) AS median,
        |  round(b.std_dev, 6) AS std_dev, round(b.variance, 4) AS variance,
        |  round(b.min, 6) AS min, round(b.max, 6) AS max, round(b.range, 6) AS range,
        |  round(b.sum, 4) AS sum,
        |  round(m.m3 / pow(m.sd, 3) * sqrt(m.n * (m.n - 1)) / (m.n - 2), 6) AS skewness,
        |  round((m.n - 1.0) / ((m.n - 2.0) * (m.n - 3.0)) *
        |        ((m.n + 1.0) * (m.m4 / pow(m.sd, 4) - 3.0) + 6.0), 6) AS kurtosis,
        |  round(t.trimmed_mean, 6) AS trimmed_mean,
        |  round(b.coef_variation, 6) AS coef_variation,
        |  round(b.q1, 6) AS q1, round(b.q3, 6) AS q3, round(b.q3 - b.q1, 6) AS iqr,
        |  round(a.autocorr_lag1, 6) AS autocorr_lag1,
        |  b.expected_length, g2.n_gaps
        |FROM base b JOIN moments m ON b.g = m.g JOIN trimmed t ON b.g = t.g
        |JOIN acf a ON b.g = a.g JOIN gaps g2 ON b.g = g2.g""".stripMargin),
    // full 37-field stats surface; replicates kernels/Stats.scala formulas
    // (stats.rs provenance): histogram entropy with floor(x+0.5) binning,
    // Hill estimator with k = min(m−1, max(2, ⌊√m⌋)), rolling-mean stability
    // 1/(CV+0.01) with window max(n/5, 3), |corr(t,y)| trend strength,
    // max|acf| over lags {2,4,7,12} seasonality strength, bitwise plateau runs
    "ts_stats_full_by" -> (SeriesCte +
      """, pos AS (SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos,
        |                 count(*) OVER (PARTITION BY g) AS n FROM s),
        |base AS (
        |  SELECT g, count(*) AS length, CAST(0 AS BIGINT) AS n_nulls, CAST(0 AS BIGINT) AS n_nan,
        |    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zeros,
        |    CAST(sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        |    CAST(sum(CASE WHEN y < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
        |    count(DISTINCT y) AS n_unique_values, count(DISTINCT y) = 1 AS is_constant,
        |    avg(y) AS mean, quantile_cont(y, 0.5) AS median,
        |    stddev_samp(y) AS std_dev, var_samp(y) AS variance,
        |    min(y) AS min, max(y) AS max, max(y) - min(y) AS range, sum(y) AS sum,
        |    quantile_cont(y, 0.25) AS q1, quantile_cont(y, 0.75) AS q3,
        |    CASE WHEN abs(avg(y)) > 2.220446049250313e-16
        |         THEN stddev_samp(y) / abs(avg(y)) END AS coef_variation,
        |    CAST((max(ds) - min(ds)) + 1 AS BIGINT) AS expected_length
        |  FROM s GROUP BY g),
        |zeros AS (
        |  SELECT g,
        |    CAST(coalesce(min(CASE WHEN y <> 0 THEN pos END), max(n)) AS BIGINT) AS n_zeros_start,
        |    CAST(coalesce(max(n) - 1 - max(CASE WHEN y <> 0 THEN pos END), max(n)) AS BIGINT) AS n_zeros_end
        |  FROM pos GROUP BY g),
        |runs AS (
        |  SELECT g, y, pos,
        |    sum(CASE WHEN prev IS NULL OR y <> prev THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY g ORDER BY pos) AS run_id,
        |    sum(CASE WHEN prev IS NULL OR y <> prev OR y = 0 OR prev = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY g ORDER BY pos) AS nz_run_id
        |  FROM (SELECT g, y, pos, lag(y) OVER (PARTITION BY g ORDER BY pos) AS prev FROM pos)),
        |plat AS (SELECT g, max(cnt) AS plateau_size FROM (
        |    SELECT g, run_id, count(*) AS cnt FROM runs GROUP BY g, run_id) GROUP BY g),
        |platnz AS (SELECT g, max(cnt) AS plateau_size_nonzero FROM (
        |    SELECT g, nz_run_id, count(*) AS cnt FROM runs WHERE y <> 0
        |    GROUP BY g, nz_run_id) GROUP BY g),
        |moments AS (
        |  SELECT s.g,
        |    sum(pow(s.y - b.mean, 3)) / max(b.length) AS m3,
        |    sum(pow(s.y - b.mean, 4)) / max(b.length) AS m4,
        |    max(b.length) AS n, max(b.std_dev) AS sd
        |  FROM s JOIN base b ON s.g = b.g GROUP BY s.g),
        |sk AS (
        |  SELECT g,
        |    m3 / pow(sd, 3) * sqrt(n * (n - 1)) / (n - 2) AS skewness,
        |    (n - 1.0) / ((n - 2.0) * (n - 3.0)) * ((n + 1.0) * (m4 / pow(sd, 4) - 3.0) + 6.0) AS kurtosis
        |  FROM moments),
        |trimmed AS (
        |  SELECT g, avg(y) AS trimmed_mean FROM (
        |    SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY y) AS rn,
        |           count(*) OVER (PARTITION BY g) AS n FROM s)
        |  WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1) GROUP BY g),
        |lagd AS (
        |  SELECT g, y, pos,
        |    lag(y, 1) OVER w AS p1, lag(y, 2) OVER w AS p2, lag(y, 4) OVER w AS p4,
        |    lag(y, 7) OVER w AS p7, lag(y, 12) OVER w AS p12
        |  FROM pos WINDOW w AS (PARTITION BY g ORDER BY pos)),
        |acfs AS (
        |  SELECT q.g,
        |    sum(CASE WHEN q.p1 IS NOT NULL THEN (q.y - b.mean) * (q.p1 - b.mean) ELSE 0 END)
        |      / sum((q.y - b.mean) * (q.y - b.mean)) AS autocorr_lag1,
        |    least(1.0, greatest(0.0, greatest(
        |      abs(sum(CASE WHEN q.p2 IS NOT NULL THEN (q.y - b.mean) * (q.p2 - b.mean) ELSE 0 END)
        |          / sum((q.y - b.mean) * (q.y - b.mean))),
        |      abs(sum(CASE WHEN q.p4 IS NOT NULL THEN (q.y - b.mean) * (q.p4 - b.mean) ELSE 0 END)
        |          / sum((q.y - b.mean) * (q.y - b.mean))),
        |      abs(sum(CASE WHEN q.p7 IS NOT NULL THEN (q.y - b.mean) * (q.p7 - b.mean) ELSE 0 END)
        |          / sum((q.y - b.mean) * (q.y - b.mean))),
        |      abs(sum(CASE WHEN q.p12 IS NOT NULL THEN (q.y - b.mean) * (q.p12 - b.mean) ELSE 0 END)
        |          / sum((q.y - b.mean) * (q.y - b.mean)))))) AS seasonality_strength
        |  FROM lagd q JOIN base b ON q.g = b.g GROUP BY q.g),
        |trend AS (
        |  SELECT p.g,
        |    least(1.0, greatest(0.0, sqrt(
        |      pow(sum((p.pos - (b.length - 1) / 2.0) * (p.y - b.mean)), 2)
        |      / (sum(pow(p.pos - (b.length - 1) / 2.0, 2)) * sum(pow(p.y - b.mean, 2)))))) AS trend_strength
        |  FROM pos p JOIN base b ON p.g = b.g GROUP BY p.g),
        |ent AS (
        |  SELECT g, -sum(p * ln(p)) AS entropy FROM (
        |    SELECT z.g, CAST(count(*) AS DOUBLE) / max(z.n) AS p FROM (
        |      SELECT p.g, p.n,
        |        least(9, CAST(floor((p.y - b.min) / b.range * 9 + 0.5) AS INT)) AS bin
        |      FROM pos p JOIN base b ON p.g = b.g) z
        |    GROUP BY z.g, z.bin) GROUP BY g),
        |av AS (SELECT g, abs(y) AS a, row_number() OVER (PARTITION BY g ORDER BY abs(y) DESC) - 1 AS r,
        |              count(*) OVER (PARTITION BY g) AS m
        |       FROM s WHERE abs(y) > 2.220446049250313e-16),
        |kpar AS (SELECT g, least(max(m) - 1,
        |                greatest(2, CAST(floor(sqrt(CAST(max(m) AS DOUBLE))) AS BIGINT))) AS k
        |         FROM av GROUP BY g),
        |thr AS (SELECT av.g, max(CASE WHEN av.r = kpar.k THEN av.a END) AS threshold, max(kpar.k) AS k
        |        FROM av JOIN kpar ON av.g = kpar.g GROUP BY av.g),
        |tail AS (SELECT av.g, 1.0 / (sum(ln(av.a / thr.threshold)) / max(thr.k)) AS tail_index
        |         FROM av JOIN thr ON av.g = thr.g WHERE av.r < thr.k GROUP BY av.g),
        |wpar AS (SELECT g, max(n) AS n, greatest(max(n) // 5, 3) AS w FROM pos GROUP BY g),
        |rm AS (SELECT p1.g, p1.pos, sum(p2.y) / max(wpar.w) AS m
        |       FROM pos p1 JOIN wpar ON p1.g = wpar.g
        |       JOIN pos p2 ON p2.g = p1.g AND p2.pos BETWEEN p1.pos AND p1.pos + wpar.w - 1
        |       WHERE p1.pos <= wpar.n - wpar.w
        |       GROUP BY p1.g, p1.pos),
        |stab AS (SELECT g, 1.0 / (stddev_pop(m) / abs(avg(m)) + 0.01) AS stability
        |         FROM rm GROUP BY g),
        |gaps AS (
        |  SELECT g, CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps FROM (
        |    SELECT g, ds - lag(ds) OVER (PARTITION BY g ORDER BY ds) AS d FROM s)
        |  WHERE d IS NOT NULL GROUP BY g)
        |SELECT b.g, b.length, b.n_nulls, b.n_nan, b.n_zeros, b.n_positive, b.n_negative,
        |  b.n_unique_values, b.is_constant,
        |  z.n_zeros_start, z.n_zeros_end, pl.plateau_size,
        |  coalesce(pn.plateau_size_nonzero, CAST(0 AS BIGINT)) AS plateau_size_nonzero,
        |  round(b.mean, 6) AS mean, round(b.median, 6) AS median,
        |  round(b.std_dev, 6) AS std_dev, round(b.variance, 4) AS variance,
        |  round(b.min, 6) AS min, round(b.max, 6) AS max, round(b.range, 6) AS range,
        |  round(b.sum, 4) AS sum,
        |  round(sk.skewness, 6) AS skewness, round(sk.kurtosis, 6) AS kurtosis,
        |  round(tl.tail_index, 6) AS tail_index,
        |  round((sk.skewness * sk.skewness + 1.0) / (sk.kurtosis + 3.0), 6) AS bimodality_coef,
        |  round(t.trimmed_mean, 6) AS trimmed_mean,
        |  round(b.coef_variation, 6) AS coef_variation,
        |  round(b.q1, 6) AS q1, round(b.q3, 6) AS q3, round(b.q3 - b.q1, 6) AS iqr,
        |  round(a.autocorr_lag1, 6) AS autocorr_lag1,
        |  round(tr.trend_strength, 6) AS trend_strength,
        |  round(a.seasonality_strength, 6) AS seasonality_strength,
        |  round(e.entropy, 6) AS entropy, round(st.stability, 6) AS stability,
        |  b.expected_length, g2.n_gaps
        |FROM base b
        |JOIN zeros z ON b.g = z.g
        |JOIN plat pl ON b.g = pl.g
        |LEFT JOIN platnz pn ON b.g = pn.g
        |JOIN sk ON b.g = sk.g
        |JOIN trimmed t ON b.g = t.g
        |JOIN acfs a ON b.g = a.g
        |JOIN trend tr ON b.g = tr.g
        |JOIN ent e ON b.g = e.g
        |JOIN tail tl ON b.g = tl.g
        |JOIN stab st ON b.g = st.g
        |JOIN gaps g2 ON b.g = g2.g""".stripMargin),
    "ts_stats_summary" -> (SeriesCte +
      """, per AS (SELECT g, count(*) AS length FROM s GROUP BY g)
        |SELECT count(*) AS n_series, round(avg(length), 6) AS avg_length,
        |  min(length) AS min_length, max(length) AS max_length,
        |  CAST(0 AS BIGINT) AS total_nulls, CAST(0 AS BIGINT) AS total_nans
        |FROM per""".stripMargin),
    "ts_quality_report" -> (SeriesCte +
      """, per AS (SELECT g, count(*) AS length, count(DISTINCT y) = 1 AS is_constant
        |           FROM s GROUP BY g)
        |SELECT CAST(sum(CASE WHEN length >= 10 AND NOT is_constant THEN 1 ELSE 0 END) AS BIGINT) AS n_passed,
        |  CAST(0 AS BIGINT) AS n_nan_issues, CAST(0 AS BIGINT) AS n_missing_issues,
        |  CAST(sum(CASE WHEN is_constant THEN 1 ELSE 0 END) AS BIGINT) AS n_constant,
        |  count(*) AS n_total
        |FROM per""".stripMargin),
    "ts_cv_folds_by" -> (SeriesCte +
      """, b AS (
        |  SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos,
        |         count(*) OVER (PARTITION BY g) AS n FROM s),
        |f AS (SELECT b.*, fold, greatest(n - 21, 1) - 1 + (fold - 1) * 7 AS te
        |      FROM b, (SELECT unnest(range(1, 4)) AS fold) fl)
        |SELECT g, ds, round(y, 6) AS y, fold AS fold_id,
        |  CASE WHEN pos <= te THEN 'train' ELSE 'test' END AS split
        |FROM f
        |WHERE n >= 2 AND te + 7 < n
        |  AND (pos <= te OR (pos > te AND pos <= te + 7))""".stripMargin),
    "ts_backtest_snaive" -> backtestOracle(
      "sqrt(avg((actual - yhat) * (actual - yhat)))"),
    "sql_macro_backtest_by" -> backtestOracle(
      "sqrt(avg((actual - yhat) * (actual - yhat)))"),
    "ts_backtest_bias" -> backtestOracle("avg(yhat - actual)"),
    // same Σa² − (Σa)²/n arithmetic as the Spark expression
    "ts_backtest_r2" -> backtestOracle(
      """CASE WHEN sum(actual * actual) - sum(actual) * sum(actual) / count(actual) > 0
        |THEN 1.0 - sum((actual - yhat) * (actual - yhat))
        |  / (sum(actual * actual) - sum(actual) * sum(actual) / count(actual))
        |ELSE CAST('nan' AS DOUBLE) END""".stripMargin.replace("\n", " ")),
    "ts_check_leakage" -> (SeriesCte +
      """, b AS (
        |  SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos,
        |         count(*) OVER (PARTITION BY g) AS n FROM s),
        |f AS (SELECT *, greatest(n - 7, 1) - 1 AS te FROM b),
        |rows_tagged AS (
        |  SELECT g, ds, CASE WHEN pos > te THEN TRUE ELSE FALSE END AS is_test
        |  FROM f WHERE n >= 2 AND te + 7 < n AND pos <= te + 7),
        |mt AS (SELECT g, min(CASE WHEN is_test THEN ds END) AS min_test FROM rows_tagged GROUP BY g)
        |SELECT r.g, CAST(sum(CASE WHEN NOT r.is_test AND mt.min_test IS NOT NULL
        |                     AND r.ds >= mt.min_test THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_rows,
        |  count(*) AS n_rows,
        |  sum(CASE WHEN NOT r.is_test AND mt.min_test IS NOT NULL
        |           AND r.ds >= mt.min_test THEN 1 ELSE 0 END) > 0 AS has_leakage
        |FROM rows_tagged r JOIN mt ON r.g = mt.g GROUP BY r.g""".stripMargin),
    "ts_aggregate_hierarchy" ->
      """WITH h AS (SELECT event_type AS id1, CAST(user_id % 10 AS VARCHAR) AS id2,
        |                  CAST(ts AS DATE) AS ds,
        |                  CAST(round(value, 6) AS DECIMAL(28,6)) AS v FROM events)
        |SELECT 0 AS level, 'AGGREGATED|AGGREGATED' AS unique_id, ds, CAST(sum(v) AS DOUBLE) AS v
        |FROM h GROUP BY ds
        |UNION ALL
        |SELECT 1, id1 || '|AGGREGATED', ds, CAST(sum(v) AS DOUBLE) FROM h GROUP BY id1, ds
        |UNION ALL
        |SELECT 2, id1 || '|' || id2, ds, CAST(sum(v) AS DOUBLE) FROM h GROUP BY id1, id2, ds""".stripMargin,
    "ts_combine_split_keys" ->
      """SELECT id_part_1, id_part_2, count(*) AS n FROM (
        |  SELECT string_split(event_type || '|' || CAST(user_id % 10 AS VARCHAR), '|')[1] AS id_part_1,
        |         string_split(event_type || '|' || CAST(user_id % 10 AS VARCHAR), '|')[2] AS id_part_2
        |  FROM events)
        |GROUP BY id_part_1, id_part_2""".stripMargin,
    "ts_conformal_quantile_by" -> (SeriesCte +
      """, w AS (SELECT g, y - lag(y) OVER (PARTITION BY g ORDER BY ds) AS r FROM s),
        |o AS (SELECT g, abs(r) AS a,
        |        row_number() OVER (PARTITION BY g ORDER BY abs(r)) - 1 AS rn,
        |        count(*) OVER (PARTITION BY g) AS n
        |      FROM w WHERE r IS NOT NULL),
        |lv AS (SELECT g, n, least(1.0, ceil((n + 1) * 0.9) / n) * (n - 1) AS idx
        |       FROM (SELECT DISTINCT g, n FROM o) dn)
        |SELECT o.g,
        |  round(max(CASE WHEN o.rn = CAST(floor(lv.idx) AS BIGINT) THEN o.a END)
        |          * (1 - (max(lv.idx) - floor(max(lv.idx)))) +
        |        max(CASE WHEN o.rn = least(CAST(floor(lv.idx) AS BIGINT) + 1, lv.n - 1) THEN o.a END)
        |          * (max(lv.idx) - floor(max(lv.idx))), 6) AS q
        |FROM o JOIN lv ON o.g = lv.g GROUP BY o.g""".stripMargin),
    // ---- fixed-parameter forecast models: the kernel recursions replayed in
    // SQL. DuckDB list_reduce folds left with the first element as the seed,
    // exactly matching the kernels' sequential loops; every constant is cast
    // to DOUBLE so both engines run identical IEEE double arithmetic
    // (kernels/Forecast.scala sesLevel :324, seasonalES :431,
    // seasonalWindowAverage :466, croston :630, tsb :652).
    "fc_ses" -> (SeriesCte +
      s""", a AS (
        |  SELECT g, max(ds) AS last_ds, stddev_pop(y) AS sigma,
        |    list_reduce(list(y ORDER BY ds),
        |      (acc, x) -> CAST(0.3 AS DOUBLE) * x + (1 - CAST(0.3 AS DOUBLE)) * acc) AS lvl
        |  FROM s GROUP BY g)
        |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
        | round(lvl, 6) AS yhat,
        | round(lvl - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
        | round(lvl + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
        | 'SES' AS model_name
        |FROM a, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin),
    "fc_swa" -> (SeriesCte +
      """, a AS (
        |  SELECT g, max(ds) AS last_ds, stddev_pop(y) AS sigma,
        |         list(y ORDER BY ds) AS ys, count(*) AS n
        |  FROM s GROUP BY g),
        |f AS (
        |  SELECT g, last_ds, sigma, step,
        |    list_transform(
        |      list_filter(list_transform(range(0, greatest(n // 7, 1)),
        |        k -> (n - ((n - 1 - ((n + step - 1) % 7)) % 7)) - 7 * k),
        |        ix -> ix >= 1),
        |      ix -> ys[CAST(ix AS BIGINT)]) AS vals
        |  FROM a, (SELECT unnest(range(1, 8)) AS step) st)
        |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
        | round(list_reduce(vals, (acc, x) -> acc + x) / len(vals), 6) AS yhat,
        | round(list_reduce(vals, (acc, x) -> acc + x) / len(vals)
        |       - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
        | round(list_reduce(vals, (acc, x) -> acc + x) / len(vals)
        |       + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
        | 'SeasonalWindowAverage' AS model_name
        |FROM f""".stripMargin),
    "fc_seasonal_es" -> (SeriesCte +
      // state vector acc = [i, level, s0..s6]; list-valued accumulators get
      // clean (non-mutating) evaluation in DuckDB, unlike struct fields
      """, a AS (
        |  SELECT g, max(ds) AS last_ds, stddev_pop(y) AS sigma,
        |         list(y ORDER BY ds) AS ys, count(*) AS n,
        |         list_reduce(list(y ORDER BY ds)[1:7], (acc, x) -> acc + x) / 7 AS l0
        |  FROM s GROUP BY g),
        |red AS (
        | SELECT g, last_ds, sigma, n,
        |  list_reduce(
        |    list_prepend(
        |      list_concat([CAST(0 AS DOUBLE), l0], list_transform(ys[1:7], v -> v - l0)),
        |      list_transform(ys, v -> [v])),
        |    (acc, e) -> list_concat(
        |      [acc[1] + 1,
        |       CAST(0.3 AS DOUBLE) * (e[1] - acc[CAST(acc[1] AS BIGINT) % 7 + 3]) + (1 - CAST(0.3 AS DOUBLE)) * acc[2]],
        |      list_transform(range(0, 7), j -> CASE WHEN j = CAST(acc[1] AS BIGINT) % 7
        |        THEN CAST(0.1 AS DOUBLE) * (e[1] - (CAST(0.3 AS DOUBLE) * (e[1] - acc[CAST(acc[1] AS BIGINT) % 7 + 3]) + (1 - CAST(0.3 AS DOUBLE)) * acc[2]))
        |             + (1 - CAST(0.1 AS DOUBLE)) * acc[j + 3]
        |        ELSE acc[j + 3] END))) AS fin
        | FROM a)
        |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
        | round(fin[2] + fin[((n + step - 1) % 7) + 3], 6) AS yhat,
        | round(fin[2] + fin[((n + step - 1) % 7) + 3] - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
        | round(fin[2] + fin[((n + step - 1) % 7) + 3] + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
        | 'SeasonalES' AS model_name
        |FROM red, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin),
    "fc_croston" -> (SeriesCte +
      """, b AS (SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos
        |        FROM s),
        |nz AS (SELECT g, y, pos, lag(pos) OVER (PARTITION BY g ORDER BY pos) AS prevpos
        |       FROM b WHERE y <> 0),
        |agg AS (SELECT g,
        |  list_reduce(list(y ORDER BY pos),
        |    (acc, x) -> CAST(0.1 AS DOUBLE) * x + (1 - CAST(0.1 AS DOUBLE)) * acc) AS zhat,
        |  list_reduce(list(CAST(CASE WHEN prevpos IS NULL THEN pos + 1 ELSE pos - prevpos END AS DOUBLE) ORDER BY pos),
        |    (acc, x) -> CAST(0.1 AS DOUBLE) * x + (1 - CAST(0.1 AS DOUBLE)) * acc) AS phat
        |  FROM nz GROUP BY g),
        |a AS (SELECT s.g, max(s.ds) AS last_ds, stddev_pop(s.y) AS sigma,
        |             max(CASE WHEN agg.phat = 0 THEN 0.0 ELSE agg.zhat / agg.phat END) AS fc
        |      FROM s LEFT JOIN agg ON s.g = agg.g GROUP BY s.g)
        |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
        | round(coalesce(fc, 0.0), 6) AS yhat,
        | round(coalesce(fc, 0.0) - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
        | round(coalesce(fc, 0.0) + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
        | 'CrostonClassic' AS model_name
        |FROM a, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin),
    "fc_tsb" -> (SeriesCte +
      """, a AS (
        |  SELECT g, max(ds) AS last_ds, stddev_pop(y) AS sigma, count(*) AS n,
        |         list(y ORDER BY ds) AS ys,
        |         CAST(sum(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS p0,
        |         list_filter(list(y ORDER BY ds), v -> v <> 0)[1] AS z0
        |  FROM s GROUP BY g),
        |red AS (
        | SELECT g, last_ds, sigma,
        |  CASE WHEN z0 IS NULL THEN [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]
        |  ELSE list_reduce(
        |    list_prepend([p0, z0], list_transform(ys, v -> [v])),
        |    (acc, e) -> [
        |      CASE WHEN e[1] <> 0 THEN CAST(0.2 AS DOUBLE) * 1.0 + (1 - CAST(0.2 AS DOUBLE)) * acc[1]
        |           ELSE CAST(0.2 AS DOUBLE) * 0.0 + (1 - CAST(0.2 AS DOUBLE)) * acc[1] END,
        |      CASE WHEN e[1] <> 0 THEN CAST(0.2 AS DOUBLE) * e[1] + (1 - CAST(0.2 AS DOUBLE)) * acc[2]
        |           ELSE acc[2] END])
        |  END AS fin
        | FROM a)
        |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
        | round(fin[1] * fin[2], 6) AS yhat,
        | round(fin[1] * fin[2] - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
        | round(fin[1] * fin[2] + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
        | 'TSB' AS model_name
        |FROM red, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin),
    // ---- per-series data-quality scores (kernels/Quality.scala; formulas
    // from reference quality.rs:66-271). dailyEvents has no nulls and the op
    // passes no dates → n_missing = 0, n_gaps = 0, temporal = 1.0.
    "ts_data_quality_by" -> (DataQualityScoresCte +
      """
        |SELECT g AS unique_id,
        |  round(ss, 6) AS structural_score, round(ts, 6) AS temporal_score,
        |  round(ms, 6) AS magnitude_score, round(bs, 6) AS behavioral_score,
        |  round((ss + ts + ms + bs) / 4.0, 6) AS overall_score,
        |  CAST(0 AS BIGINT) AS n_gaps, CAST(0 AS BIGINT) AS n_missing, is_constant
        |FROM scores""".stripMargin),
    // ---- planted-duplicate dedup: the Spark output provably equals the
    // shingle-set-equality relation (candidacy is guaranteed for identical
    // shingle sets — identical MinHash signatures / SimHash match in every
    // band — and the Jaccard-1.0 verify step removes every non-equal
    // candidate), so the oracle is that relation computed directly in SQL.
    // Shingle definition replicates TextOps.shingles: positions 1..L-5 of
    // lower(ws-collapsed text), distinct. All texts are ASCII and ≥ 48 chars
    // (validated), so lower/regex semantics agree across engines.
    "dedup_minhash_pairs" -> DedupShingleEqualitySql("jaccard"),
    "dedup_simhash" -> DedupShingleEqualitySql("jaccard"),
    "dedup_embedding" ->
      """SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, CAST(1.0 AS DOUBLE) AS sim
        |FROM embeddings WHERE vec_id < 25""".stripMargin,
    "lang_id" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
        |    WHEN de >= en AND de >= es AND de >= fr AND de > 0 THEN 'de'
        |    WHEN es >= en AND es >= fr AND es > 0 THEN 'es'
        |    WHEN fr >= en AND fr > 0 THEN 'fr'
        |    ELSE 'en'
        |  END AS lang_pred
        |FROM (
        |  SELECT doc_id, text,
        |    (CASE WHEN lower(text) LIKE '% the %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% and %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% of %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% to %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% is %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% that %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% with %' THEN 1 ELSE 0 END) AS en,
        |    (CASE WHEN lower(text) LIKE '% der %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% die %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% und %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% das %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% ist %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% nicht %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% ein %' THEN 1 ELSE 0 END) AS de,
        |    (CASE WHEN lower(text) LIKE '% el %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% la %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% los %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% que %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% es %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% una %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% para %' THEN 1 ELSE 0 END) AS es,
        |    (CASE WHEN lower(text) LIKE '% le %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% la %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% les %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% est %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% une %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% dans %' THEN 1 ELSE 0 END +
        |     CASE WHEN lower(text) LIKE '% pour %' THEN 1 ELSE 0 END) AS fr
        |  FROM documents)""".stripMargin,
  )
}
