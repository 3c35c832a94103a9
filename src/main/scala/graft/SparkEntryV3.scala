package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.ops.{TsDecompositionOp, TsFeaturesOp, TsForecastOp, TsPrep}

/** Third batch: decomposition/detrend/periods/peaks, features, the remaining
  * model zoo (ARIMA/AutoARIMA, MSTL/MFLES/TBATS, Laplace, intermittent
  * variants), and fill-forward. */
object SparkEntryV3 extends EntryPart {

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // ------------------------------------------------ detrend (oracle: linear)
    "ts_detrend_linear_by" -> ((s, dir) =>
      TsDecompositionOp.detrendBy(dailyEvents(s, dir), "g", "ds", "y", "linear")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"),
          round(col("trend"), 6).as("trend"),
          round(col("detrended"), 6).as("detrended"), col("method"))),
    // (ts_detrend_auto_by moved to SparkEntryV10: exact-line oracle)
    // ------------------------------------------------ decomposition / periods / peaks
    // MSTL is oracle-checked through its reconstruction invariant:
    // trend + seasonal + remainder must reproduce y (decomposition.rs contract)
    "ts_mstl_decomposition_by" -> ((s, dir) =>
      TsDecompositionOp.mstlDecompositionBy(dailyEvents(s, dir), "g", "ds", "y", Seq(7))
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"),
          round(col("trend") + col("seasonal") + col("remainder"), 6).as("recon"))),
    // period detectors run on the planted period-8 sinusoid: expected output
    // is known from the construction (theory), so the oracle is honest
    "ts_detect_periods_fft_by" -> ((s, dir) =>
      TsDecompositionOp.detectPeriodsBy(sinusoid8(s, dir), "g", "ds", "y", "fft",
        minConfidence = Some(0.0))
        .select(col("g"), col("primary_period"), col("method")).distinct()),
    "ts_detect_periods_acf_by" -> ((s, dir) =>
      TsDecompositionOp.detectPeriodsBy(sinusoid8(s, dir), "g", "ds", "y", "acf",
        minConfidence = Some(0.0))
        .select(col("g"), col("primary_period"), col("method")).distinct()),
    "ts_detect_periods_autoperiod_by" -> ((s, dir) =>
      TsDecompositionOp.detectPeriodsBy(sinusoid8(s, dir), "g", "ds", "y", "autoperiod",
        minConfidence = Some(0.0))
        .select(col("g"), col("primary_period"), col("method")).distinct()),
    // (ts_detect_peaks_by / ts_analyze_peak_timing_by moved to SparkEntryV9:
    // planted-construction oracles)
    // ------------------------------------------------ features
    "ts_features_by" -> ((s, dir) =>
      TsFeaturesOp.featuresBy(dailyEvents(s, dir), "g", "ds", "y",
        Seq("length", "sum", "mean", "minimum", "maximum", "range", "median",
          "quantile_0.25", "quantile_0.75", "count_above_mean", "count_below_mean",
          "first_value", "last_value", "mean_change", "mean_abs_change",
          "absolute_sum_of_changes", "count_unique"))
        .select(col("g"), col("length"), round(col("sum"), 4).as("sum"),
          round(col("mean"), 6).as("mean"), round(col("minimum"), 6).as("minimum"),
          round(col("maximum"), 6).as("maximum"), round(col("range"), 6).as("range"),
          round(col("median"), 6).as("median"),
          round(col("`quantile_0.25`"), 6).as("q25"),
          round(col("`quantile_0.75`"), 6).as("q75"),
          col("count_above_mean"), col("count_below_mean"),
          round(col("first_value"), 6).as("first_value"),
          round(col("last_value"), 6).as("last_value"),
          round(col("mean_change"), 6).as("mean_change"),
          round(col("mean_abs_change"), 6).as("mean_abs_change"),
          round(col("absolute_sum_of_changes"), 4).as("absolute_sum_of_changes"),
          col("count_unique"))),
    // full 118-column catalog, oracle-checked: the DuckDB oracle replays the
    // kernel's sequential arithmetic with list folds (same IEEE order), so
    // rounding decimals only need to absorb transcendental-library ulps —
    // coarser for the large-magnitude sums (energy/c3/fft).
    "ts_features_full_by" -> ((s, dir) => {
      val raw = TsFeaturesOp.featuresBy(dailyEvents(s, dir), "g", "ds", "y")
      val dec = Map(
        "sum" -> 4, "abs_energy" -> 2, "cid_ce" -> 4, "absolute_sum_of_changes" -> 4,
        "variance" -> 4, "sum_of_reoccurring_values" -> 4,
        "sum_of_reoccurring_datapoints" -> 4,
        "time_reversal_asymmetry_stat_1" -> 2, "time_reversal_asymmetry_stat_2" -> 2,
        "time_reversal_asymmetry_stat_3" -> 2,
        "c3_lag1" -> 2, "c3_lag2" -> 2, "c3_lag3" -> 2)
      // the cubic statistics reach ~1e13 at sf0.1, where one float ulp
      // (0.008) exceeds the 0.005 rounding step and a 1-ulp cross-engine
      // difference can flip the rounded digit; both sides project the
      // 1e-6-scaled value instead, pushing the boundary risk to ~1e-4 ulp
      val cubicScaled = Set("c3_lag1", "c3_lag2", "c3_lag3",
        "time_reversal_asymmetry_stat_1", "time_reversal_asymmetry_stat_2",
        "time_reversal_asymmetry_stat_3")
      val cols = raw.schema.fields.map { f =>
        if (cubicScaled.contains(f.name))
          round(col(s"`${f.name}`") / 1e6, 6).as(f.name)
        else if (f.dataType == org.apache.spark.sql.types.DoubleType) {
          val d = if (f.name.startsWith("fft_coefficient_")) 4 else dec.getOrElse(f.name, 6)
          round(col(s"`${f.name}`"), d).as(f.name)
        } else col(s"`${f.name}`")
      }
      raw.select(cols.toSeq: _*)
    }),
    // ------------------------------------------------ fill forward (oracle)
    "ts_fill_forward_by" -> ((s, dir) =>
      TsPrep.fillForwardBy(purchaseSeries(s, dir), "g", "ds", "y", "2024-02-10", "1d")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"))),
    // (remaining model zoo — ARIMA/AutoARIMA/MSTL/MFLES/TBATS/Laplace/theta
    // variants/CrostonOptimized/ADIDA/IMAPA/SeasonalESOptimized — moved to
    // SparkEntryV11: planted-construction oracles)
    // fixed-parameter SBA (alpha = 0.1 + bias correction) → oracle-checked
    "fc_croston_sba" -> ((s, dir) => roundFc(TsForecastOp.forecastBy(
      dailyEvents(s, dir), "g", "ds", "y", "CrostonSBA", 7, "1d"))),
    // single-series API — arrays posexploded to scalar rows (the driver's
    // sort-then-hash cannot order LIST columns)
    "ts_forecast_single" -> ((s, dir) =>
      // null-y days are dropped on BOTH sides: the kernel would interpolate
      // them while the oracle's stddev_pop/arg_max would skip them, so the
      // histories must agree before either engine sees a null
      TsForecastOp.forecastSingle(
        dailyEvents(s, dir).filter(col("g") === "click" && col("y").isNotNull),
        "ds", "y", "Naive", 5)
        .select(col("model_name"),
          posexplode(arrays_zip(col("point_forecasts"), col("lower_bounds"),
            col("upper_bounds"))).as(Seq("_pos", "_z")))
        .select((col("_pos") + 1).cast(LongType).as("h"),
          round(col("_z.point_forecasts"), 6).as("yhat"),
          round(col("_z.lower_bounds"), 4).as("yhat_lower"),
          round(col("_z.upper_bounds"), 4).as("yhat_upper"),
          col("model_name"))),
  )

    /** Full 118-column features oracle: replays kernels/Features.scala
    * sequentially with DuckDB list folds (list_reduce is a left fold, so
    * large-magnitude sums are bit-identical; transcendental-library ulps
    * are absorbed by the per-column rounding). Includes Lempel-Ziv via a
    * recursive CTE, prominence-based peak counts, Durbin-Levinson PACF,
    * sample/approximate/permutation entropy, Benford digits, and direct
    * DFT replication of the zero-padded FFT coefficients/periodogram.
    * Developed and verified by tools/dev_features_oracle.py. */
  private val FeaturesFullOracleSql: String =
    """WITH RECURSIVE s AS (
  SELECT event_type AS g, CAST(ts AS DATE) AS ds, CAST(sum(CAST(round(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2),
arr AS (SELECT g, list(y ORDER BY ds) AS ys, count(*) AS n FROM s GROUP BY g),
b0 AS (SELECT g, ys, n, CAST(n AS DOUBLE) AS nd,
        list_reduce(ys, (a, x) -> a + x) AS ysum, list_sort(ys) AS srt,
        CAST(pow(2.0, ceil(log2(CAST(n AS DOUBLE)))) AS BIGINT) AS padded
       FROM arr),
b1 AS (SELECT *, ysum / nd AS mean, srt[1] AS vmin, srt[n] AS vmax FROM b0),
b2 AS (SELECT *, list_transform(ys, v -> v - mean) AS devs,
        list_transform(range(2, n + 1), i -> ys[i] - ys[i - 1]) AS diffs
       FROM b1),
b3 AS (SELECT *,
        list_reduce(list_transform(devs, d -> d * d), (a, x) -> a + x) AS ss2,
        list_reduce(list_transform(devs, d -> d * d * d), (a, x) -> a + x) AS ss3,
        list_reduce(list_transform(devs, d -> d * d * d * d), (a, x) -> a + x) AS ss4,
        list_reduce(list_transform(ys, v -> v * v), (a, x) -> a + x) AS energy,
        list_reduce(list_transform(diffs, d -> abs(d)), (a, x) -> a + x) AS asoc,
        list_reduce(list_transform(diffs, d -> d * d), (a, x) -> a + x) AS d2sum
       FROM b2),
b4 AS (SELECT *, ss2 / nd AS varpop, sqrt(ss2 / nd) AS std, ss2 / (nd - 1) AS svar
       FROM b3),
-- autocorrelations (shared by features + pacf)
ac AS (SELECT *, CASE WHEN abs(ss2) < 2.220446049250313e-16 THEN 0.0 ELSE list_reduce(list_transform(range(1 + 1, n + 1), i -> devs[i] * devs[i - 1]), (a, x) -> a + x) / ss2 END AS ac1, CASE WHEN abs(ss2) < 2.220446049250313e-16 THEN 0.0 ELSE list_reduce(list_transform(range(2 + 1, n + 1), i -> devs[i] * devs[i - 2]), (a, x) -> a + x) / ss2 END AS ac2, CASE WHEN abs(ss2) < 2.220446049250313e-16 THEN 0.0 ELSE list_reduce(list_transform(range(3 + 1, n + 1), i -> devs[i] * devs[i - 3]), (a, x) -> a + x) / ss2 END AS ac3, CASE WHEN abs(ss2) < 2.220446049250313e-16 THEN 0.0 ELSE list_reduce(list_transform(range(4 + 1, n + 1), i -> devs[i] * devs[i - 4]), (a, x) -> a + x) / ss2 END AS ac4,
        CASE WHEN abs(ss2) < 2.220446049250313e-16 THEN 0.0 ELSE list_reduce(list_transform(range(5 + 1, n + 1), i -> devs[i] * devs[i - 5]), (a, x) -> a + x) / ss2 END AS ac5, CASE WHEN abs(ss2) < 2.220446049250313e-16 THEN 0.0 ELSE list_reduce(list_transform(range(6 + 1, n + 1), i -> devs[i] * devs[i - 6]), (a, x) -> a + x) / ss2 END AS ac6, CASE WHEN abs(ss2) < 2.220446049250313e-16 THEN 0.0 ELSE list_reduce(list_transform(range(7 + 1, n + 1), i -> devs[i] * devs[i - 7]), (a, x) -> a + x) / ss2 END AS ac7, CASE WHEN abs(ss2) < 2.220446049250313e-16 THEN 0.0 ELSE list_reduce(list_transform(range(8 + 1, n + 1), i -> devs[i] * devs[i - 8]), (a, x) -> a + x) / ss2 END AS ac8,
        CASE WHEN abs(ss2) < 2.220446049250313e-16 THEN 0.0 ELSE list_reduce(list_transform(range(9 + 1, n + 1), i -> devs[i] * devs[i - 9]), (a, x) -> a + x) / ss2 END AS ac9, CASE WHEN abs(ss2) < 2.220446049250313e-16 THEN 0.0 ELSE list_reduce(list_transform(range(10 + 1, n + 1), i -> devs[i] * devs[i - 10]), (a, x) -> a + x) / ss2 END AS ac10
       FROM b4),
-- Durbin-Levinson unrolled to lag 5
pc2 AS (SELECT *,
        CASE WHEN abs(1 - ac1 * ac1) > 1e-12
             THEN (ac2 - ac1 * ac1) / (1 - ac1 * ac1) ELSE 0.0 END AS p22
       FROM ac),
pc2b AS (SELECT *, ac1 - p22 * ac1 AS f21 FROM pc2),
pc3 AS (SELECT *,
        CASE WHEN abs(((1.0 - f21 * ac1) - p22 * ac2)) > 1e-12
             THEN ((ac3 - f21 * ac2) - p22 * ac1)
                  / ((1.0 - f21 * ac1) - p22 * ac2)
             ELSE 0.0 END AS p33
       FROM pc2b),
pc3b AS (SELECT *, f21 - p33 * p22 AS f31, p22 - p33 * f21 AS f32 FROM pc3),
pc4 AS (SELECT *,
        CASE WHEN abs((((1.0 - f31 * ac1) - f32 * ac2) - p33 * ac3)) > 1e-12
             THEN (((ac4 - f31 * ac3) - f32 * ac2) - p33 * ac1)
                  / (((1.0 - f31 * ac1) - f32 * ac2) - p33 * ac3)
             ELSE 0.0 END AS p44
       FROM pc3b),
pc4b AS (SELECT *, f31 - p44 * p33 AS f41, f32 - p44 * f32 AS f42,
         p33 - p44 * f31 AS f43 FROM pc4),
pc6 AS (SELECT *,
        CASE WHEN abs(((((1.0 - f41 * ac1) - f42 * ac2) - f43 * ac3) - p44 * ac4)) > 1e-12
             THEN ((((ac5 - f41 * ac4) - f42 * ac3) - f43 * ac2) - p44 * ac1)
                  / ((((1.0 - f41 * ac1) - f42 * ac2) - f43 * ac3) - p44 * ac4)
             ELSE 0.0 END AS p55
       FROM pc4b),
-- lempel-ziv over median-binarized string
strs AS (SELECT g, n,
          list_reduce(list_transform(ys, v -> CASE WHEN v > CASE WHEN CAST(ceil((0.5 * (nd - 1))) AS BIGINT) >= n THEN srt[n] ELSE srt[CAST(floor((0.5 * (nd - 1))) AS BIGINT) + 1] * (1 - ((0.5 * (nd - 1)) - floor((0.5 * (nd - 1))))) + srt[CAST(ceil((0.5 * (nd - 1))) AS BIGINT) + 1] * ((0.5 * (nd - 1)) - floor((0.5 * (nd - 1)))) END THEN '1' ELSE '0' END), (a, x) -> a || x) AS bs
         FROM b1),
lz AS (
  SELECT g, bs, n, 1 AS pos, 1 AS comp FROM strs
  UNION ALL
  SELECT g, bs, n,
    pos + coalesce(list_filter(range(1, n - pos + 1),
      l -> NOT contains(bs[1 : pos + l - 1], bs[pos + 1 : pos + l]))[1], n - pos + 1),
    comp + 1
  FROM lz WHERE pos < n),
lzv AS (SELECT g, max(comp) AS lzcomp FROM lz GROUP BY g),
-- peaks with prominence
pk AS (SELECT b4.g,
        list_filter(range(2, n), i -> ys[i] > ys[i - 1] AND ys[i] >= ys[i + 1]) AS rawp,
        list_transform(
          list_filter(range(2, n), i -> ys[i] > ys[i - 1] AND ys[i] >= ys[i + 1]),
          i -> ys[i] - greatest(
            least(ys[i], coalesce(list_aggregate(
              CASE WHEN list_position(list_transform(list_reverse(ys[1 : i - 1]), x -> x > ys[i]), true) IS NULL
                   THEN list_reverse(ys[1 : i - 1])
                   ELSE (list_reverse(ys[1 : i - 1]))[1 : list_position(list_transform(list_reverse(ys[1 : i - 1]), x -> x > ys[i]), true) - 1] END,
              'min'), ys[i])),
            least(ys[i], coalesce(list_aggregate(
              CASE WHEN list_position(list_transform(ys[i + 1 : n], x -> x > ys[i]), true) IS NULL
                   THEN ys[i + 1 : n]
                   ELSE (ys[i + 1 : n])[1 : list_position(list_transform(ys[i + 1 : n], x -> x > ys[i]), true) - 1] END,
              'min'), ys[i])))) AS proms
       FROM b4),
-- benford digits
bf AS (SELECT b4.g,
        list_filter(list_transform(ys, v ->
          CASE WHEN abs(v) < 1e-300 THEN NULL ELSE
            CAST(trunc(
              list_reduce(list_prepend(
                [list_reduce(list_prepend([abs(v)], list_transform(range(1, 41), z -> [0.0])),
                   (acc, e) -> [CASE WHEN acc[1] >= 10 THEN acc[1] / 10 ELSE acc[1] END])[1]],
                list_transform(range(1, 41), z -> [0.0])),
                (acc, e) -> [CASE WHEN acc[1] < 1 THEN acc[1] * 10 ELSE acc[1] END])[1]
            ) AS INT) END),
          d -> d IS NOT NULL) AS digits
       FROM b4),
bf2 AS (SELECT g,
         list_transform(range(1, 10), d ->
           CAST(len(list_filter(digits, x -> x = d)) AS DOUBLE) / len(digits)) AS obs,
         list_transform(range(1, 10), d -> log10(1.0 + 1.0 / d)) AS ben
        FROM bf WHERE len(digits) > 0),
bf3 AS (SELECT g,
         list_reduce(obs, (a, x) -> a + x) / 9 AS ma, list_reduce(ben, (a, x) -> a + x) / 9 AS mb, obs, ben FROM bf2),
bf4 AS (SELECT g,
         list_reduce(list_transform(range(1, 10), i -> (obs[i] - ma) * (ben[i] - mb)), (a, x) -> a + x) AS num,
         list_reduce(list_transform(range(1, 10), i -> (obs[i] - ma) * (obs[i] - ma)), (a, x) -> a + x) AS da,
         list_reduce(list_transform(range(1, 10), i -> (ben[i] - mb) * (ben[i] - mb)), (a, x) -> a + x) AS db
        FROM bf3),
benf AS (SELECT g, CASE WHEN da <= 0 OR db <= 0 THEN NULL
                        ELSE num / sqrt(da * db) END AS benford FROM bf4),
-- fft coefficients k=0..9 on the raw zero-padded series (direct DFT)
fftc AS (SELECT b4.g,
          list_transform(range(0, 10), k ->
            list_reduce(list_transform(range(1, n + 1), t -> ys[t] * cos(2 * pi() * k * (t - 1) / padded)), (a, x) -> a + x)) AS fre,
          list_transform(range(0, 10), k ->
            0.0 - list_reduce(list_transform(range(1, n + 1), t -> ys[t] * sin(2 * pi() * k * (t - 1) / padded)), (a, x) -> a + x)) AS fim
         FROM b4),
-- periodogram on demeaned zero-padded series
sp AS (SELECT b4.g, padded, nd,
        list_transform(range(1, padded // 2 + 1), k -> CAST(k AS DOUBLE) / padded) AS freqs,
        list_transform(range(1, padded // 2 + 1), k ->
          pow(list_reduce(list_transform(range(1, n + 1), t -> devs[t] * cos(2 * pi() * k * (t - 1) / padded)), (a, x) -> a + x), 2)
          + pow(list_reduce(list_transform(range(1, n + 1), t -> devs[t] * sin(2 * pi() * k * (t - 1) / padded)), (a, x) -> a + x), 2)) AS power
       FROM b4),
sp2 AS (SELECT g, freqs, power, list_reduce(power, (a, x) -> a + x) AS ptot FROM sp),
sp3 AS (SELECT g, ptot,
         CASE WHEN ptot <= 0 THEN NULL ELSE
           list_reduce(list_transform(range(1, len(freqs) + 1), i -> freqs[i] * power[i]), (a, x) -> a + x) / ptot END AS centroid,
         freqs, power
        FROM sp2),
spec AS (SELECT g, centroid,
          CASE WHEN ptot <= 0 THEN NULL ELSE
            list_reduce(list_transform(range(1, len(freqs) + 1), i -> (freqs[i] - centroid) * (freqs[i] - centroid) * power[i]), (a, x) -> a + x) / ptot END AS specvar
         FROM sp3),
-- agg linear trend over chunk-of-5 means
alt0 AS (SELECT b4.g, n, nd,
          list_transform(range(0, CAST(ceil(nd / 5) AS BIGINT)), c ->
            list_reduce(ys[c * 5 + 1 : least((c + 1) * 5, n)], (a, x) -> a + x)
            / (least((c + 1) * 5, n) - c * 5)) AS ch
         FROM b4),
alt1 AS (SELECT g, ch, CAST(len(ch) AS DOUBLE) AS m,
          (CAST(len(ch) AS DOUBLE) - 1) / 2.0 AS xm,
          list_reduce(ch, (a, x) -> a + x) / CAST(len(ch) AS DOUBLE) AS ym
         FROM alt0),
alt2 AS (SELECT *,
          list_reduce(list_transform(range(1, len(ch) + 1), i -> ((i - 1) - xm) * (ch[i] - ym)), (a, x) -> a + x) AS sxy,
          list_reduce(list_transform(range(1, len(ch) + 1), i -> ((i - 1) - xm) * ((i - 1) - xm)), (a, x) -> a + x) AS sxx,
          list_reduce(list_transform(range(1, len(ch) + 1), i -> (ch[i] - ym) * (ch[i] - ym)), (a, x) -> a + x) AS syy
         FROM alt1),
alt AS (SELECT g,
         CASE WHEN sxx > 0 THEN sxy / sxx ELSE 0.0 END AS a_slope,
         ym - (CASE WHEN sxx > 0 THEN sxy / sxx ELSE 0.0 END) * xm AS a_int,
         CASE WHEN syy > 0 AND sxx > 0 THEN sxy * sxy / (sxx * syy) ELSE NULL END AS a_r2,
         CASE WHEN m > 2 AND sxx > 0
              THEN sqrt(greatest(syy - (CASE WHEN sxx > 0 THEN sxy / sxx ELSE 0.0 END) * sxy, 0.0) / (m - 2) / sxx)
              ELSE NULL END AS a_se
        FROM alt2),
-- full-series linear trend
lt0 AS (SELECT b4.g, (nd - 1) / 2.0 AS xm, mean AS ym, n, nd, ys FROM b4),
lt1 AS (SELECT *,
         list_reduce(list_transform(range(1, n + 1), i -> ((i - 1) - xm) * (ys[i] - ym)), (a, x) -> a + x) AS sxy,
         list_reduce(list_transform(range(1, n + 1), i -> ((i - 1) - xm) * ((i - 1) - xm)), (a, x) -> a + x) AS sxx,
         list_reduce(list_transform(range(1, n + 1), i -> (ys[i] - ym) * (ys[i] - ym)), (a, x) -> a + x) AS syy
        FROM lt0),
lt AS (SELECT g,
        CASE WHEN sxx > 0 THEN sxy / sxx ELSE 0.0 END AS slope,
        ym - (CASE WHEN sxx > 0 THEN sxy / sxx ELSE 0.0 END) * xm AS intercept,
        CASE WHEN syy > 0 AND sxx > 0 THEN sxy * sxy / (sxx * syy) ELSE NULL END AS r2
       FROM lt1),
-- entropies
se0 AS (SELECT b4.g, ys, n, nd, 0.2 * std AS r FROM b4),
se1 AS (SELECT g, r,
         CASE WHEN r <= 0 THEN NULL ELSE
         list_reduce(list_transform(range(1, n), i -> CAST(len(list_filter(range(i + 1, n), j -> abs(ys[i] - ys[j]) <= r AND abs(ys[i + 1] - ys[j + 1]) <= r)) AS DOUBLE)), (a, x) -> a + x) END AS bmatch,
         CASE WHEN r <= 0 THEN NULL ELSE
         list_reduce(list_transform(range(1, n - 1), i -> CAST(len(list_filter(range(i + 1, n - 1), j -> abs(ys[i] - ys[j]) <= r AND abs(ys[i + 1] - ys[j + 1]) <= r AND abs(ys[i + 2] - ys[j + 2]) <= r)) AS DOUBLE)), (a, x) -> a + x) END AS amatch
        FROM se0),
sampen AS (SELECT g, CASE WHEN bmatch IS NULL OR amatch IS NULL OR bmatch = 0 OR amatch = 0
                          THEN NULL ELSE -ln(amatch / bmatch) END AS sampent FROM se1),
ap1 AS (SELECT g, r,
         list_reduce(list_transform(range(1, n), i -> ln(greatest(CAST(len(list_filter(range(1, n), j -> abs(ys[i] - ys[j]) <= r AND abs(ys[i + 1] - ys[j + 1]) <= r)) AS DOUBLE), 1e-300) / (nd - 1))), (a, x) -> a + x) / (nd - 1) AS phi2,
         list_reduce(list_transform(range(1, n - 1), i -> ln(greatest(CAST(len(list_filter(range(1, n - 1), j -> abs(ys[i] - ys[j]) <= r AND abs(ys[i + 1] - ys[j + 1]) <= r AND abs(ys[i + 2] - ys[j + 2]) <= r)) AS DOUBLE), 1e-300) / (nd - 2))), (a, x) -> a + x) / (nd - 2) AS phi3
        FROM se0),
apen AS (SELECT g, phi2 - phi3 AS apent FROM ap1),
pe0 AS (SELECT b4.g, nd,
         list_transform(range(1, n - 1), i ->
           CASE WHEN ys[i] <= ys[i + 1] AND ys[i + 1] <= ys[i + 2] THEN 0
                WHEN ys[i] <= ys[i + 2] AND NOT (ys[i + 1] <= ys[i + 2]) THEN 1
                WHEN NOT (ys[i] <= ys[i + 1]) AND ys[i] <= ys[i + 2] THEN 2
                WHEN ys[i + 1] <= ys[i + 2] AND NOT (ys[i] <= ys[i + 2]) THEN 3
                WHEN ys[i] <= ys[i + 1] AND NOT (ys[i] <= ys[i + 2]) THEN 4
                ELSE 5 END) AS pats
        FROM b4),
pe AS (SELECT g,
        -list_reduce(list_filter(list_transform(range(0, 6), p -> CASE WHEN len(list_filter(pats, x -> x = p)) > 0 THEN (CAST(len(list_filter(pats, x -> x = p)) AS DOUBLE) / len(pats)) * ln(CAST(len(list_filter(pats, x -> x = p)) AS DOUBLE) / len(pats)) ELSE NULL END), v -> v IS NOT NULL), (a, x) -> a + x)
        / ln(6.0) AS perment
       FROM pe0),
-- binned entropy (10 bins, truncating)
be AS (SELECT b4.g,
        CASE WHEN vmax = vmin THEN 0.0 ELSE
        -list_reduce(list_filter(list_transform(range(0, 10), b -> CASE WHEN len(list_filter(ys, v -> least(9, CAST(trunc((v - vmin) / (vmax - vmin) * 10) AS INT)) = b)) > 0 THEN (CAST(len(list_filter(ys, v -> least(9, CAST(trunc((v - vmin) / (vmax - vmin) * 10) AS INT)) = b)) AS DOUBLE) / nd) * ln(CAST(len(list_filter(ys, v -> least(9, CAST(trunc((v - vmin) / (vmax - vmin) * 10) AS INT)) = b)) AS DOUBLE) / nd) ELSE NULL END), v -> v IS NOT NULL), (a, x) -> a + x)
        END AS binent
       FROM b4),
-- reoccurring values
ro AS (SELECT b4.g,
        list_distinct(ys) AS dv,
        list_filter(list_distinct(ys), v -> len(list_filter(ys, x -> x = v)) > 1) AS rv,
        ys
       FROM b4),
ro2 AS (SELECT g,
         CASE WHEN len(rv) = 0 THEN 0.0 ELSE
           list_reduce(list_transform(rv, v -> CAST(len(list_filter(ys, x -> x = v)) AS DOUBLE)), (a, x) -> a + x) END AS rcnt,
         CASE WHEN len(rv) = 0 THEN 0.0 ELSE list_reduce(rv, (a, x) -> a + x) END AS rsum,
         CASE WHEN len(rv) = 0 THEN 0.0 ELSE
           list_reduce(list_transform(rv, v -> v * len(list_filter(ys, x -> x = v))), (a, x) -> a + x) END AS rdsum
        FROM ro),
-- strikes via fold with [cur, max] accumulator
st AS (SELECT b4.g,
        list_reduce(list_prepend([0.0, 0.0],
          list_transform(ys, v -> [CASE WHEN v > mean THEN 1.0 ELSE 0.0 END, 0.0])),
          (acc, e) -> CASE WHEN e[1] = 1.0
            THEN [acc[1] + 1, greatest(acc[2], acc[1] + 1)] ELSE [0.0, acc[2]] END)[2] AS strike_above,
        list_reduce(list_prepend([0.0, 0.0],
          list_transform(ys, v -> [CASE WHEN v < mean THEN 1.0 ELSE 0.0 END, 0.0])),
          (acc, e) -> CASE WHEN e[1] = 1.0
            THEN [acc[1] + 1, greatest(acc[2], acc[1] + 1)] ELSE [0.0, acc[2]] END)[2] AS strike_below
       FROM b4)
SELECT b.g,
  b.nd AS length,
  round(b.ysum, 4) AS sum,
  round(b.mean, 6) AS mean,
  round(b.vmin, 6) AS minimum,
  round(b.vmax, 6) AS maximum,
  round(b.vmax - b.vmin, 6) AS range,
  round(b.varpop, 4) AS variance,
  round(b.std, 6) AS standard_deviation,
  round(CASE WHEN b.mean <> 0 THEN b.std / abs(b.mean) END, 6) AS variation_coefficient,
  CASE WHEN b.std > 0.25 * (b.vmax - b.vmin) THEN 1.0 ELSE 0.0 END AS large_standard_deviation,
  round(CASE WHEN CAST(ceil((0.5 * (b.nd - 1))) AS BIGINT) >= b.n THEN b.srt[b.n] ELSE b.srt[CAST(floor((0.5 * (b.nd - 1))) AS BIGINT) + 1] * (1 - ((0.5 * (b.nd - 1)) - floor((0.5 * (b.nd - 1))))) + b.srt[CAST(ceil((0.5 * (b.nd - 1))) AS BIGINT) + 1] * ((0.5 * (b.nd - 1)) - floor((0.5 * (b.nd - 1)))) END, 6) AS median,
  round(CASE WHEN CAST(ceil((0.1 * (b.nd - 1))) AS BIGINT) >= b.n THEN b.srt[b.n] ELSE b.srt[CAST(floor((0.1 * (b.nd - 1))) AS BIGINT) + 1] * (1 - ((0.1 * (b.nd - 1)) - floor((0.1 * (b.nd - 1))))) + b.srt[CAST(ceil((0.1 * (b.nd - 1))) AS BIGINT) + 1] * ((0.1 * (b.nd - 1)) - floor((0.1 * (b.nd - 1)))) END, 6) AS "quantile_0.1",
  round(CASE WHEN CAST(ceil((0.25 * (b.nd - 1))) AS BIGINT) >= b.n THEN b.srt[b.n] ELSE b.srt[CAST(floor((0.25 * (b.nd - 1))) AS BIGINT) + 1] * (1 - ((0.25 * (b.nd - 1)) - floor((0.25 * (b.nd - 1))))) + b.srt[CAST(ceil((0.25 * (b.nd - 1))) AS BIGINT) + 1] * ((0.25 * (b.nd - 1)) - floor((0.25 * (b.nd - 1)))) END, 6) AS "quantile_0.25",
  round(CASE WHEN CAST(ceil((0.75 * (b.nd - 1))) AS BIGINT) >= b.n THEN b.srt[b.n] ELSE b.srt[CAST(floor((0.75 * (b.nd - 1))) AS BIGINT) + 1] * (1 - ((0.75 * (b.nd - 1)) - floor((0.75 * (b.nd - 1))))) + b.srt[CAST(ceil((0.75 * (b.nd - 1))) AS BIGINT) + 1] * ((0.75 * (b.nd - 1)) - floor((0.75 * (b.nd - 1)))) END, 6) AS "quantile_0.75",
  round(CASE WHEN CAST(ceil((0.9 * (b.nd - 1))) AS BIGINT) >= b.n THEN b.srt[b.n] ELSE b.srt[CAST(floor((0.9 * (b.nd - 1))) AS BIGINT) + 1] * (1 - ((0.9 * (b.nd - 1)) - floor((0.9 * (b.nd - 1))))) + b.srt[CAST(ceil((0.9 * (b.nd - 1))) AS BIGINT) + 1] * ((0.9 * (b.nd - 1)) - floor((0.9 * (b.nd - 1)))) END, 6) AS "quantile_0.9",
  round(CASE WHEN b.n > 2 AND b.std > 0
    THEN (b.ss3 / b.nd) / pow(sqrt(b.svar), 3) * sqrt(b.nd * (b.nd - 1.0)) / (b.nd - 2.0) END, 6) AS skewness,
  round(CASE WHEN b.n > 3 AND b.std > 0
    THEN (b.nd - 1.0) / ((b.nd - 2.0) * (b.nd - 3.0))
         * ((b.nd + 1.0) * ((b.ss4 / b.nd) / (b.svar * b.svar) - 3.0) + 6.0) END, 6) AS kurtosis,
  CAST(len(list_filter(b.ys, v -> v > b.mean)) AS DOUBLE) AS count_above_mean,
  CAST(len(list_filter(b.ys, v -> v < b.mean)) AS DOUBLE) AS count_below_mean,
  round(CAST(len(list_filter(b.ys, v -> v > b.mean)) AS DOUBLE) / b.nd, 6) AS percentage_above_mean,
  round(CASE WHEN b.n > 1 THEN CAST(len(list_filter(range(2, b.n + 1), i -> b.ys[i] * b.ys[i - 1] < 0)) AS DOUBLE) / (b.nd - 1) ELSE 0.0 END, 6) AS zero_crossing_rate,
  round(CASE WHEN b.n > 1 THEN (b.ys[b.n] - b.ys[1]) / (b.nd - 1) END, 6) AS mean_change,
  round(CASE WHEN b.n > 1 THEN b.asoc / (b.nd - 1) END, 6) AS mean_abs_change,
  round(b.ys[1], 6) AS first_value,
  round(b.ys[b.n], 6) AS last_value,
  round(CAST(list_position(b.ys, b.vmax) - 1 AS DOUBLE) / b.nd, 6) AS first_location_of_maximum,
  round(CAST(b.n - list_position(list_reverse(b.ys), b.vmax) AS DOUBLE) / b.nd, 6) AS last_location_of_maximum,
  round(CAST(list_position(b.ys, b.vmin) - 1 AS DOUBLE) / b.nd, 6) AS first_location_of_minimum,
  round(CAST(b.n - list_position(list_reverse(b.ys), b.vmin) AS DOUBLE) / b.nd, 6) AS last_location_of_minimum,
  round(b.energy, 2) AS abs_energy,
  round(sqrt(b.energy / b.nd), 6) AS root_mean_square,
  round(CASE WHEN b.n > 2 THEN list_reduce(list_transform(range(1, b.n - 1), j -> (b.ys[j + 2] - 2 * b.ys[j + 1] + b.ys[j]) / 2.0), (a, x) -> a + x) / (b.nd - 2) END, 6) AS mean_second_derivative_central,
  round(sqrt(b.d2sum), 4) AS cid_ce,
  round(b.asoc, 4) AS absolute_sum_of_changes,
  round(CAST(lzv.lzcomp AS DOUBLE) / b.nd, 6) AS lempel_ziv_complexity,
  st.strike_above AS longest_strike_above_mean,
  st.strike_below AS longest_strike_below_mean,
  CAST(len(pk.rawp) AS DOUBLE) AS number_peaks,
  CAST(len(list_filter(pk.proms, p -> p >= b.std)) AS DOUBLE) AS number_peaks_threshold_1,
  CAST(len(list_filter(pk.proms, p -> p >= 2 * b.std)) AS DOUBLE) AS number_peaks_threshold_2,
  round(benf.benford, 6) AS benford_correlation,
  round(lt.slope, 6) AS linear_trend_slope,
  round(lt.intercept, 6) AS linear_trend_intercept,
  round(lt.r2, 6) AS linear_trend_r_squared,
  round(be.binent, 6) AS binned_entropy,
  round(sampen.sampent, 6) AS sample_entropy,
  round(apen.apent, 6) AS approximate_entropy,
  round(pe.perment, 6) AS permutation_entropy,
  CAST(len(ro.dv) AS DOUBLE) AS count_unique,
  round(CAST(len(ro.dv) AS DOUBLE) / b.nd, 6) AS ratio_value_number_to_length,
  CASE WHEN len(ro.rv) > 0 THEN 1.0 ELSE 0.0 END AS has_duplicate,
  CASE WHEN len(list_filter(b.ys, x -> x = b.vmax)) > 1 THEN 1.0 ELSE 0.0 END AS has_duplicate_max,
  CASE WHEN len(list_filter(b.ys, x -> x = b.vmin)) > 1 THEN 1.0 ELSE 0.0 END AS has_duplicate_min,
  round(ro2.rcnt / b.nd, 6) AS percentage_of_reoccurring_datapoints_to_all_datapoints,
  round(CASE WHEN len(ro.dv) > 0 THEN CAST(len(ro.rv) AS DOUBLE) / len(ro.dv) END, 6) AS percentage_of_reoccurring_values_to_all_values,
  round(ro2.rsum, 4) AS sum_of_reoccurring_values,
  round(ro2.rdsum, 4) AS sum_of_reoccurring_datapoints,
  round(spec.centroid, 6) AS spectral_centroid,
  round(spec.specvar, 6) AS spectral_variance,
  round(alt.a_slope, 6) AS agg_linear_trend_slope,
  round(alt.a_int, 6) AS agg_linear_trend_intercept,
  round(CASE WHEN alt.a_r2 IS NULL THEN NULL
             ELSE sign(alt.a_slope) * sqrt(alt.a_r2) END, 6) AS agg_linear_trend_rvalue,
  round(alt.a_se, 6) AS agg_linear_trend_stderr,
  round(pc6.ac1, 6) AS autocorrelation_lag1,
  round(pc6.ac2, 6) AS autocorrelation_lag2,
  round(pc6.ac3, 6) AS autocorrelation_lag3,
  round(pc6.ac4, 6) AS autocorrelation_lag4,
  round(pc6.ac5, 6) AS autocorrelation_lag5,
  round(pc6.ac6, 6) AS autocorrelation_lag6,
  round(pc6.ac7, 6) AS autocorrelation_lag7,
  round(pc6.ac8, 6) AS autocorrelation_lag8,
  round(pc6.ac9, 6) AS autocorrelation_lag9,
  round(pc6.ac10, 6) AS autocorrelation_lag10,
  round(pc6.ac1, 6) AS partial_autocorrelation_lag1,
  round(pc6.p22, 6) AS partial_autocorrelation_lag2,
  round(pc6.p33, 6) AS partial_autocorrelation_lag3,
  round(pc6.p44, 6) AS partial_autocorrelation_lag4,
  round(pc6.p55, 6) AS partial_autocorrelation_lag5,
  round(CASE WHEN b.std > 0 THEN CAST(len(list_filter(b.ys, v -> abs(v - b.mean) > 1 * b.std)) AS DOUBLE) / b.nd ELSE 0.0 END, 6) AS ratio_beyond_r_sigma_1,
  round(CASE WHEN b.std > 0 THEN CAST(len(list_filter(b.ys, v -> abs(v - b.mean) > 2 * b.std)) AS DOUBLE) / b.nd ELSE 0.0 END, 6) AS ratio_beyond_r_sigma_2,
  round(CASE WHEN b.std > 0 THEN CAST(len(list_filter(b.ys, v -> abs(v - b.mean) > 3 * b.std)) AS DOUBLE) / b.nd ELSE 0.0 END, 6) AS ratio_beyond_r_sigma_3,
  round(CASE WHEN b.n > 2 THEN (list_reduce(list_transform(range(1, b.n - 1), i -> b.ys[i + 2] * b.ys[i + 2] * b.ys[i + 1] - b.ys[i + 1] * b.ys[i] * b.ys[i]), (a, x) -> a + x) / (b.nd - 2)) / 1e6 END, 6) AS time_reversal_asymmetry_stat_1,
  round(CASE WHEN b.n > 4 THEN (list_reduce(list_transform(range(1, b.n - 3), i -> b.ys[i + 4] * b.ys[i + 4] * b.ys[i + 2] - b.ys[i + 2] * b.ys[i] * b.ys[i]), (a, x) -> a + x) / (b.nd - 4)) / 1e6 END, 6) AS time_reversal_asymmetry_stat_2,
  round(CASE WHEN b.n > 6 THEN (list_reduce(list_transform(range(1, b.n - 5), i -> b.ys[i + 6] * b.ys[i + 6] * b.ys[i + 3] - b.ys[i + 3] * b.ys[i] * b.ys[i]), (a, x) -> a + x) / (b.nd - 6)) / 1e6 END, 6) AS time_reversal_asymmetry_stat_3,
  round(CASE WHEN b.n > 2 THEN (list_reduce(list_transform(range(1, b.n - 1), i -> b.ys[i + 2] * b.ys[i + 1] * b.ys[i]), (a, x) -> a + x) / (b.nd - 2)) / 1e6 END, 6) AS c3_lag1,
  round(CASE WHEN b.n > 4 THEN (list_reduce(list_transform(range(1, b.n - 3), i -> b.ys[i + 4] * b.ys[i + 2] * b.ys[i]), (a, x) -> a + x) / (b.nd - 4)) / 1e6 END, 6) AS c3_lag2,
  round(CASE WHEN b.n > 6 THEN (list_reduce(list_transform(range(1, b.n - 5), i -> b.ys[i + 6] * b.ys[i + 3] * b.ys[i]), (a, x) -> a + x) / (b.nd - 6)) / 1e6 END, 6) AS c3_lag3,
  round(fftc.fre[1], 4) AS fft_coefficient_0_real,
  round(fftc.fim[1], 4) + 0.0 AS fft_coefficient_0_imag,
  round(sqrt(fftc.fre[1] * fftc.fre[1] + fftc.fim[1] * fftc.fim[1]), 4) AS fft_coefficient_0_abs,
  round(fftc.fre[2], 4) AS fft_coefficient_1_real,
  round(fftc.fim[2], 4) AS fft_coefficient_1_imag,
  round(sqrt(fftc.fre[2] * fftc.fre[2] + fftc.fim[2] * fftc.fim[2]), 4) AS fft_coefficient_1_abs,
  round(fftc.fre[3], 4) AS fft_coefficient_2_real,
  round(fftc.fim[3], 4) AS fft_coefficient_2_imag,
  round(sqrt(fftc.fre[3] * fftc.fre[3] + fftc.fim[3] * fftc.fim[3]), 4) AS fft_coefficient_2_abs,
  round(fftc.fre[4], 4) AS fft_coefficient_3_real,
  round(fftc.fim[4], 4) AS fft_coefficient_3_imag,
  round(sqrt(fftc.fre[4] * fftc.fre[4] + fftc.fim[4] * fftc.fim[4]), 4) AS fft_coefficient_3_abs,
  round(fftc.fre[5], 4) AS fft_coefficient_4_real,
  round(fftc.fim[5], 4) AS fft_coefficient_4_imag,
  round(sqrt(fftc.fre[5] * fftc.fre[5] + fftc.fim[5] * fftc.fim[5]), 4) AS fft_coefficient_4_abs,
  round(fftc.fre[6], 4) AS fft_coefficient_5_real,
  round(fftc.fim[6], 4) AS fft_coefficient_5_imag,
  round(sqrt(fftc.fre[6] * fftc.fre[6] + fftc.fim[6] * fftc.fim[6]), 4) AS fft_coefficient_5_abs,
  round(fftc.fre[7], 4) AS fft_coefficient_6_real,
  round(fftc.fim[7], 4) AS fft_coefficient_6_imag,
  round(sqrt(fftc.fre[7] * fftc.fre[7] + fftc.fim[7] * fftc.fim[7]), 4) AS fft_coefficient_6_abs,
  round(fftc.fre[8], 4) AS fft_coefficient_7_real,
  round(fftc.fim[8], 4) AS fft_coefficient_7_imag,
  round(sqrt(fftc.fre[8] * fftc.fre[8] + fftc.fim[8] * fftc.fim[8]), 4) AS fft_coefficient_7_abs,
  round(fftc.fre[9], 4) AS fft_coefficient_8_real,
  round(fftc.fim[9], 4) AS fft_coefficient_8_imag,
  round(sqrt(fftc.fre[9] * fftc.fre[9] + fftc.fim[9] * fftc.fim[9]), 4) AS fft_coefficient_8_abs,
  round(fftc.fre[10], 4) AS fft_coefficient_9_real,
  round(fftc.fim[10], 4) AS fft_coefficient_9_imag,
  round(sqrt(fftc.fre[10] * fftc.fre[10] + fftc.fim[10] * fftc.fim[10]), 4) AS fft_coefficient_9_abs
FROM b4 b
JOIN pc6 ON b.g = pc6.g
JOIN lzv ON b.g = lzv.g
JOIN pk ON b.g = pk.g
LEFT JOIN benf ON b.g = benf.g
JOIN fftc ON b.g = fftc.g
JOIN spec ON b.g = spec.g
JOIN alt ON b.g = alt.g
JOIN lt ON b.g = lt.g
JOIN sampen ON b.g = sampen.g
JOIN apen ON b.g = apen.g
JOIN pe ON b.g = pe.g
JOIN be ON b.g = be.g
JOIN ro ON b.g = ro.g
JOIN ro2 ON b.g = ro2.g
JOIN st ON b.g = st.g"""

  def oracleSql: Map[String, String] = rows(
    "ts_features_full_by" -> FeaturesFullOracleSql,
    // MSTL reconstruction invariant: the decomposition must sum back to y
    "ts_mstl_decomposition_by" -> (SeriesCte +
      """
        |SELECT g, ds, round(y, 6) AS y, round(y, 6) AS recon FROM s""".stripMargin),
    // planted period-8 sinusoid (64 samples/group): any correct detector
    // reports period 8; one distinct row per group
    "ts_detect_periods_fft_by" ->
      """SELECT DISTINCT o_orderpriority AS g, CAST(8.0 AS DOUBLE) AS primary_period,
        | 'fft' AS method FROM orders""".stripMargin,
    "ts_detect_periods_acf_by" ->
      """SELECT DISTINCT o_orderpriority AS g, CAST(8.0 AS DOUBLE) AS primary_period,
        | 'acf' AS method FROM orders""".stripMargin,
    "ts_detect_periods_autoperiod_by" ->
      """SELECT DISTINCT o_orderpriority AS g, CAST(8.0 AS DOUBLE) AS primary_period,
        | 'autoperiod' AS method FROM orders""".stripMargin,
    // CrostonSBA = CrostonClassic(alpha=0.1) with the 1 - alpha/2 correction
    "fc_croston_sba" -> (SeriesCte +
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
        |             max((CASE WHEN agg.phat = 0 THEN 0.0 ELSE agg.zhat / agg.phat END)
        |                 * (1 - CAST(0.1 AS DOUBLE) / 2)) AS fc
        |      FROM s LEFT JOIN agg ON s.g = agg.g GROUP BY s.g)
        |SELECT g, CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds,
        | round(coalesce(fc, 0.0), 6) AS yhat,
        | round(coalesce(fc, 0.0) - 1.96 * sigma * sqrt(step), 4) AS yhat_lower,
        | round(coalesce(fc, 0.0) + 1.96 * sigma * sqrt(step), 4) AS yhat_upper,
        | 'CrostonSBA' AS model_name
        |FROM a, (SELECT unnest(range(1, 8)) AS step) st""".stripMargin),
    "ts_detrend_linear_by" -> (SeriesCte +
      """, b AS (SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS t
        |         FROM s),
        |m AS (SELECT g, avg(y) AS ym, avg(t) AS tm FROM b GROUP BY g),
        |reg AS (SELECT b.g,
        |          sum((b.t - m.tm) * (b.y - m.ym)) / sum((b.t - m.tm) * (b.t - m.tm)) AS slope,
        |          max(m.ym) AS ym, max(m.tm) AS tm
        |        FROM b JOIN m ON b.g = m.g GROUP BY b.g)
        |SELECT b.g, b.ds, round(b.y, 6) AS y,
        |  round(r.ym + r.slope * (b.t - r.tm), 6) AS trend,
        |  round(b.y - (r.ym + r.slope * (b.t - r.tm)), 6) AS detrended,
        |  'linear' AS method
        |FROM b JOIN reg r ON b.g = r.g""".stripMargin),
    "ts_features_by" -> (SeriesCte +
      """, w AS (SELECT g, y, lag(y) OVER (PARTITION BY g ORDER BY ds) AS prev,
        |         first_value(y) OVER (PARTITION BY g ORDER BY ds
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv,
        |         last_value(y) OVER (PARTITION BY g ORDER BY ds
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
        |       FROM s),
        |m AS (SELECT g, avg(y) AS mean FROM s GROUP BY g)
        |SELECT w.g, CAST(count(*) AS DOUBLE) AS length,
        |  round(sum(w.y), 4) AS sum, round(avg(w.y), 6) AS mean,
        |  round(min(w.y), 6) AS minimum, round(max(w.y), 6) AS maximum,
        |  round(max(w.y) - min(w.y), 6) AS range,
        |  round(quantile_cont(w.y, 0.5), 6) AS median,
        |  round(quantile_cont(w.y, 0.25), 6) AS q25,
        |  round(quantile_cont(w.y, 0.75), 6) AS q75,
        |  CAST(sum(CASE WHEN w.y > m.mean THEN 1 ELSE 0 END) AS DOUBLE) AS count_above_mean,
        |  CAST(sum(CASE WHEN w.y < m.mean THEN 1 ELSE 0 END) AS DOUBLE) AS count_below_mean,
        |  round(max(w.fv), 6) AS first_value, round(max(w.lv), 6) AS last_value,
        |  round((max(w.lv) - max(w.fv)) / (count(*) - 1), 6) AS mean_change,
        |  round(avg(abs(w.y - w.prev)), 6) AS mean_abs_change,
        |  round(sum(CASE WHEN w.prev IS NOT NULL THEN abs(w.y - w.prev) ELSE 0 END), 4)
        |    AS absolute_sum_of_changes,
        |  CAST(count(DISTINCT w.y) AS DOUBLE) AS count_unique
        |FROM w JOIN m ON w.g = m.g
        |GROUP BY w.g""".stripMargin),
    "ts_fill_forward_by" -> (PurchaseCte +
      """, mx AS (SELECT g, max(ds) AS last_ds FROM p GROUP BY g),
        |ext AS (
        |  SELECT g, CAST(unnest(generate_series(CAST(last_ds + 1 AS TIMESTAMP),
        |           TIMESTAMP '2024-02-10 00:00:00', INTERVAL 1 DAY)) AS DATE) AS ds,
        |         CAST(NULL AS DOUBLE) AS y
        |  FROM mx WHERE last_ds < DATE '2024-02-10')
        |SELECT g, ds, round(y, 6) AS y FROM p
        |UNION ALL SELECT g, ds, y FROM ext""".stripMargin),
    // Naive single-series: yhat = last value, bounds = yhat ± 1.96·σ_pop·√h
    // (kernels/Forecast.scala:244-262). σ rounds at 4 decimals (cross-engine
    // stddev differs ~1e-14).
    "ts_forecast_single" -> (SeriesCte +
      """, c AS (SELECT ds, y FROM s WHERE g = 'click' AND y IS NOT NULL),
        |p AS (SELECT arg_max(y, ds) AS lastv, stddev_pop(y) AS se FROM c)
        |SELECT CAST(h AS BIGINT) AS h, round(lastv, 6) AS yhat,
        |  round(lastv - 1.96 * se * sqrt(h), 4) AS yhat_lower,
        |  round(lastv + 1.96 * se * sqrt(h), 4) AS yhat_upper,
        |  'Naive' AS model_name
        |FROM p, (SELECT unnest(range(1, 6)) AS h) hs""".stripMargin),
  )
}
