package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{Decomposition, Detrend, Peaks, Periods, SeasonalityExt}

/** Decomposition / detrend / period / peak operators (reference
  * ts_macros.cpp:419-538, :1890-2015; ts_decomposition.cpp; ts_detrend.cpp;
  * ts_periods.cpp; ts_peaks.cpp). Each is one [[Series.mapKernel]] stage
  * over the gap-interpolated series; a series shorter than its kernel's
  * minimum, or with a NaN left after interpolation, gives no rows. */
object TsDecompositionOp {

  final case class DecompRow(t: Long, y: Double, trend: Double, seasonal: Double,
                             remainder: Double)

  /** ts_mstl_decomposition_by: per-row (group, ds, y, trend, seasonal_total,
    * remainder); `insufficient_data` mode ∈ fail | nan | skip
    * (decomposition.rs:8-41). Empty `periods` or an unknown mode fails here,
    * at call time, with an IllegalArgumentException. */
  def mstlDecompositionBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                          periods: Seq[Int], insufficientData: String = "skip"): DataFrame = {
    require(periods.nonEmpty, "periods must not be empty")
    require(Set("fail", "nan", "skip").contains(insufficientData),
      s"insufficientData must be fail|nan|skip, got '$insufficientData'")
    val dsType = df.schema(dsCol).dataType
    val minLen = 2 * periods.max
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol) { s =>
      s.clean(minLen) match {
        case Some(clean) =>
          val r = Decomposition.mstl(clean, periods)
          val totalSeasonal = Array.tabulate(clean.length)(i => r.seasonals.map(_._2(i)).sum)
          s.ts.indices.map(i =>
            DecompRow(s.ts(i), clean(i), r.trend(i), totalSeasonal(i), r.remainder(i)))
        case None => insufficientData match {
          case "skip" => Nil
          case "nan" => s.ts.indices.map(i =>
            DecompRow(s.ts(i), s.vs(i), Double.NaN, Double.NaN, Double.NaN))
          case _ => throw new IllegalArgumentException(
            s"mstl: series too short (need $minLen, got ${s.ts.length})")
        }
      }
    }.select(col(groupCol), Series.fromMicros(col("_r.t"), dsType).as(dsCol),
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
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      s.clean(2 * math.max(period, 2)).toSeq.flatMap { clean =>
        val r = Decomposition.classical(clean, period, mult)
        s.ts.indices.map(i =>
          DecompRow(s.ts(i), clean(i), r.trend(i), r.seasonal(i), r.remainder(i)))
      })
      .select(col(groupCol), Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.y").as(yCol), col("_r.trend").as("trend"),
        col("_r.seasonal").as("seasonal"), col("_r.remainder").as("remainder"),
        lit(period).as("period"), lit(method).as("method"))
  }

  final case class DetrendRow(t: Long, y: Double, trend: Double, detrended: Double,
                              method: String)

  /** ts_detrend_by: per-row (group, ds, y, trend, detrended, method). */
  def detrendBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                method: String = "auto"): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      s.clean(4).toSeq.flatMap { clean =>
        val r = Detrend.detrend(clean, method)
        s.ts.indices.map(i => DetrendRow(s.ts(i), clean(i), r.trend(i), r.detrended(i), r.method))
      })
      .select(col(groupCol), Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.y").as(yCol), col("_r.trend").as("trend"),
        col("_r.detrended").as("detrended"), col("_r.method").as("method"))
  }

  /** ts_detect_periods_by: one row per detected period per group (one row
    * with null period fields where none is detected). A series too short for
    * the method (its IllegalArgumentException) gives no rows. */
  def detectPeriodsBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                      method: String = "fft", maxPeriod: Option[Int] = None,
                      minConfidence: Option[Double] = None): DataFrame =
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      s.clean(4).toSeq.flatMap { clean =>
        try Seq(Periods.detectPeriods(clean, method, maxPeriod, minConfidence))
        catch { case _: IllegalArgumentException => Nil }
      })
      .select(col(groupCol), col("_r.primaryPeriod").as("primary_period"),
        col("_r.method").as("method"), explode_outer(col("_r.periods")).as("_p"))
      .select(col(groupCol), col("primary_period"), col("method"),
        col("_p.period").as("period"), col("_p.confidence").as("confidence"),
        col("_p.strength").as("strength"), col("_p.iteration").as("iteration"))

  final case class PeakRow(index: Int, t: Long, value: Double, prominence: Double)

  /** ts_detect_peaks_by: one row per detected peak per group. */
  def detectPeaksBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                    minDistance: Option[Double] = None,
                    minProminence: Option[Double] = None): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      s.clean(3).toSeq.flatMap(clean => Peaks.detectPeaks(clean, minDistance, minProminence)
        .map(p => PeakRow(p.index, s.ts(p.index), p.value, p.prominence))))
      .select(col(groupCol), col("_r.index").as("peak_index"),
        Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.value").as("peak_value"), col("_r.prominence").as("prominence"))
  }

  /** ts_analyze_peak_timing_by. A `period` that is not positive (NaN
    * included) fails here, at call time, with an IllegalArgumentException. */
  def analyzePeakTimingBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                          period: Double): DataFrame = {
    require(period > 0, s"period must be positive, got $period")
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      s.clean(3).toSeq.map(Peaks.analyzePeakTiming(_, period)))
      .select(col(groupCol), col("_r.meanInterval").as("mean_interval"),
        col("_r.intervalStd").as("interval_std"),
        col("_r.timingVariability").as("timing_variability"),
        col("_r.isRegular").as("is_regular"), col("_r.nPeaks").as("n_peaks"))
  }

  /** ts_analyze_seasonality_by (seasonality.rs:380-440): per-group detected
    * periods with clamped-ACF strengths, primary period and trend/seasonal
    * strength. Groups shorter than 4 clean points are skipped. */
  def analyzeSeasonalityBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                           maxPeriod: Option[Int] = None): DataFrame =
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      s.clean(4).toSeq.map(SeasonalityExt.analyze(_, maxPeriod)))
      .select(col(groupCol), col("_r.periods").as("periods"),
        col("_r.strengths").as("strengths"),
        col("_r.primary_period").as("primary_period"),
        col("_r.trend_strength").as("trend_strength"),
        col("_r.seasonal_strength").as("seasonal_strength"),
        col("_r.is_seasonal").as("is_seasonal"))

  /** ts_classify_seasonality_by (ts_macros.cpp:461; seasonality_ext timing
    * classification): per-group stability/modulation classification at a
    * fixed period. Groups shorter than two full cycles are skipped. A
    * `period` below 1 fails here, at call time, with an
    * IllegalArgumentException. */
  def classifySeasonalityBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                            period: Int): DataFrame = {
    require(period > 0, s"period must be positive, got $period")
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      s.clean(2 * period).toSeq.map(SeasonalityExt.classify(_, period)))
      .select(col(groupCol), col("_r.timing_classification").as("timing_classification"),
        col("_r.modulation_type").as("modulation_type"),
        col("_r.has_stable_timing").as("has_stable_timing"),
        col("_r.timing_variability").as("timing_variability"),
        col("_r.seasonal_strength").as("seasonal_strength"),
        col("_r.is_seasonal").as("is_seasonal"),
        col("_r.cycle_strengths").as("cycle_strengths"),
        col("_r.weak_seasons").as("weak_seasons"))
  }
}
