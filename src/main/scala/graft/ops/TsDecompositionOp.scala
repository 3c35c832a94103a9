package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{Decomposition, Detrend, Imputation, Peaks, Periods}

/** Decomposition / detrend / period / peak operators (reference
  * ts_macros.cpp:419-538, :1890-2015; ts_decomposition.cpp; ts_detrend.cpp;
  * ts_periods.cpp; ts_peaks.cpp). */
object TsDecompositionOp {

  final case class DecompRow(t: Long, y: Double, trend: Double, seasonal: Double,
                             remainder: Double)

  /** ts_mstl_decomposition_by: per-row (group, ds, y, trend, seasonal_total,
    * remainder); `insufficient_data` mode ∈ fail | nan | skip
    * (decomposition.rs:8-41). */
  def mstlDecompositionBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                          periods: Seq[Int], insufficientData: String = "skip"): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    val minLen = 2 * periods.max
    val udfF = udf((ts: Seq[Long], vs: Seq[Double], nu: Seq[Boolean]) => {
      val clean = Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
      if (clean.length < minLen || clean.exists(_.isNaN)) {
        insufficientData match {
          case "skip" => None
          case "nan" => Some(ts.indices.map(i =>
            DecompRow(ts(i), vs(i), Double.NaN, Double.NaN, Double.NaN)))
          case _ => throw new IllegalArgumentException(
            s"mstl: series too short (need $minLen, got ${clean.length})")
        }
      } else {
        val r = Decomposition.mstl(clean, periods)
        val totalSeasonal = Array.tabulate(clean.length)(i => r.seasonals.map(_._2(i)).sum)
        Some(ts.indices.map(i =>
          DecompRow(ts(i), clean(i), r.trend(i), totalSeasonal(i), r.remainder(i))))
      }
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), explode(udfF(col("_ts"), col("_vs"), col("_nu"))).as("_r"))
      .select(col(groupCol), Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.y").as(yCol), col("_r.trend").as("trend"),
        col("_r.seasonal").as("seasonal"), col("_r.remainder").as("remainder"))
  }

  /** ts_decompose_seasonal (classical additive/multiplicative, reference
    * ts_detrend.cpp:145-157 → STRUCT(trend[], seasonal[], remainder[],
    * period, method)), as a per-row `_by` table transformer: (group, ds, y,
    * trend, seasonal, remainder, period, method). Edge positions where the
    * centered moving average is undefined carry NaN trend/remainder, exactly
    * like the kernel. */
  def decomposeSeasonalBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                          period: Int, method: String = "additive"): DataFrame = {
    require(Set("additive", "multiplicative").contains(method),
      s"method must be additive|multiplicative, got '$method'")
    val dsType = df.schema(dsCol).dataType
    val mult = method == "multiplicative"
    val udfF = udf((ts: Seq[Long], vs: Seq[Double], nu: Seq[Boolean]) => {
      val clean = Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
      if (clean.length < 2 * math.max(period, 2) || clean.exists(_.isNaN)) None
      else {
        val r = Decomposition.classical(clean, period, mult)
        Some(ts.indices.map(i =>
          DecompRow(ts(i), clean(i), r.trend(i), r.seasonal(i), r.remainder(i))))
      }
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), explode(udfF(col("_ts"), col("_vs"), col("_nu"))).as("_r"))
      .select(col(groupCol), Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.y").as(yCol), col("_r.trend").as("trend"),
        col("_r.seasonal").as("seasonal"), col("_r.remainder").as("remainder"),
        lit(period).as("period"), lit(method).as("method"))
  }

  final case class DetrendRow(t: Long, y: Double, trend: Double, detrended: Double)

  /** ts_detrend_by: per-row (group, ds, y, trend, detrended) + per-group
    * method/rss via a companion summary if needed. */
  def detrendBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                method: String = "auto"): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    val udfF = udf((ts: Seq[Long], vs: Seq[Double], nu: Seq[Boolean]) => {
      val clean = Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
      if (clean.length < 4 || clean.exists(_.isNaN)) None
      else {
        val r = Detrend.detrend(clean, method)
        Some((r.method, ts.indices.map(i => DetrendRow(ts(i), clean(i), r.trend(i), r.detrended(i)))))
      }
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), udfF(col("_ts"), col("_vs"), col("_nu")).as("_o"))
      .filter(col("_o").isNotNull)
      .select(col(groupCol), col("_o._1").as("method"), explode(col("_o._2")).as("_r"))
      .select(col(groupCol), Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.y").as(yCol), col("_r.trend").as("trend"),
        col("_r.detrended").as("detrended"), col("method"))
  }

  /** ts_detect_periods_by: one row per detected period per group. */
  def detectPeriodsBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                      method: String = "fft", maxPeriod: Option[Int] = None,
                      minConfidence: Option[Double] = None): DataFrame = {
    val udfF = udf((vs: Seq[Double], nu: Seq[Boolean]) => {
      val clean = Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
      if (clean.length < 4 || clean.exists(_.isNaN)) None
      else scala.util.Try(Periods.detectPeriods(clean, method, maxPeriod, minConfidence)).toOption
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), udfF(col("_vs"), col("_nu")).as("_o"))
      .filter(col("_o").isNotNull)
      .select(col(groupCol), col("_o.primaryPeriod").as("primary_period"),
        col("_o.method").as("method"), explode_outer(col("_o.periods")).as("_p"))
      .select(col(groupCol), col("primary_period"), col("method"),
        col("_p.period").as("period"), col("_p.confidence").as("confidence"),
        col("_p.strength").as("strength"), col("_p.iteration").as("iteration"))
  }

  final case class PeakRow(index: Int, t: Long, value: Double, prominence: Double)

  /** ts_detect_peaks_by: one row per detected peak per group. */
  def detectPeaksBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                    minDistance: Option[Double] = None,
                    minProminence: Option[Double] = None): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    val udfF = udf((ts: Seq[Long], vs: Seq[Double], nu: Seq[Boolean]) => {
      val clean = Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
      if (clean.length < 3 || clean.exists(_.isNaN)) Seq.empty[PeakRow]
      else Peaks.detectPeaks(clean, minDistance, minProminence)
        .map(p => PeakRow(p.index, ts(p.index), p.value, p.prominence))
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), explode(udfF(col("_ts"), col("_vs"), col("_nu"))).as("_p"))
      .select(col(groupCol), col("_p.index").as("peak_index"),
        Series.fromMicros(col("_p.t"), dsType).as(dsCol),
        col("_p.value").as("peak_value"), col("_p.prominence").as("prominence"))
  }

  /** ts_analyze_peak_timing_by. */
  def analyzePeakTimingBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                          period: Double): DataFrame = {
    val udfF = udf((vs: Seq[Double], nu: Seq[Boolean]) => {
      val clean = Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
      if (clean.length < 3 || clean.exists(_.isNaN)) None
      else Some(Peaks.analyzePeakTiming(clean, period))
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), udfF(col("_vs"), col("_nu")).as("_o"))
      .filter(col("_o").isNotNull)
      .select(col(groupCol), col("_o.meanInterval").as("mean_interval"),
        col("_o.intervalStd").as("interval_std"),
        col("_o.timingVariability").as("timing_variability"),
        col("_o.isRegular").as("is_regular"), col("_o.nPeaks").as("n_peaks"))
  }

  /** ts_analyze_seasonality_by (seasonality.rs:380-440): per-group detected
    * periods with clamped-ACF strengths, primary period and trend/seasonal
    * strength. Groups shorter than 4 clean points are skipped. */
  def analyzeSeasonalityBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                           maxPeriod: Option[Int] = None): DataFrame = {
    val u = udf((vs: Seq[Double], nu: Seq[Boolean]) => {
      val clean = Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
      if (clean.length < 4 || clean.exists(_.isNaN)) None
      else Some(graft.kernels.SeasonalityExt.analyze(clean, maxPeriod))
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), u(col("_vs"), col("_nu")).as("_a"))
      .filter(col("_a").isNotNull)
      .select(col(groupCol), col("_a.periods").as("periods"),
        col("_a.strengths").as("strengths"),
        col("_a.primary_period").as("primary_period"),
        col("_a.trend_strength").as("trend_strength"),
        col("_a.seasonal_strength").as("seasonal_strength"),
        col("_a.is_seasonal").as("is_seasonal"))
  }

  /** ts_classify_seasonality_by (ts_macros.cpp:461; seasonality_ext timing
    * classification): per-group stability/modulation classification at a
    * fixed period. Groups shorter than two full cycles are skipped. */
  def classifySeasonalityBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                            period: Int): DataFrame = {
    val u = udf((vs: Seq[Double], nu: Seq[Boolean]) => {
      val clean = Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
      if (clean.length < 2 * period || clean.exists(_.isNaN)) None
      else Some(graft.kernels.SeasonalityExt.classify(clean, period))
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), u(col("_vs"), col("_nu")).as("_c"))
      .filter(col("_c").isNotNull)
      .select(col(groupCol), col("_c.timing_classification").as("timing_classification"),
        col("_c.modulation_type").as("modulation_type"),
        col("_c.has_stable_timing").as("has_stable_timing"),
        col("_c.timing_variability").as("timing_variability"),
        col("_c.seasonal_strength").as("seasonal_strength"),
        col("_c.is_seasonal").as("is_seasonal"),
        col("_c.cycle_strengths").as("cycle_strengths"),
        col("_c.weak_seasons").as("weak_seasons"))
  }
}
