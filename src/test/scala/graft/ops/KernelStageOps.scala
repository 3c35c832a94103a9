package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 18 operators that run as one [[Series.mapKernel]] stage, each bound
  * to fixed arguments, for specs that check all of them at once. Keyed
  * operators read `(g, ds, y)`; the keyless one reads `(ds, y)`. */
object KernelStageOps {

  val keyed: Seq[(String, DataFrame => DataFrame)] = Seq(
    "forecastBy" -> (df => TsForecastOp.forecastBy(df, "g", "ds", "y", "AutoETS", 7, "1d",
      Map("seasonal_period" -> "7"))),
    "forecastInspectBy" -> (df => TsForecastOp.forecastInspectBy(df, "g", "ds", "y", "AutoETS",
      Map("seasonal_period" -> "7"))),
    "forecastExplainBy" -> (df => TsForecastOp.forecastExplainBy(df, "g", "ds", "y", "ETS", 7,
      Map("seasonal_period" -> "7"))),
    "statsBy" -> (df => TsStatsOp.statsBy(df, "g", "ds", "y", "1d")),
    "dataQualityBy" -> (df => TsStatsOp.dataQualityBy(df, "g", "ds", "y")),
    "detectChangepointsBy" -> (df => TsChangepointOp.detectChangepointsBy(df, "g", "ds", "y")),
    "bayesianBy" -> (df => TsChangepointOp.bayesianBy(df, "g", "ds", "y")),
    "peltBy" -> (df => TsChangepointOp.peltBy(df, "g", "ds", "y")),
    "mstlDecompositionBy" -> (df =>
      TsDecompositionOp.mstlDecompositionBy(df, "g", "ds", "y", Seq(7))),
    "decomposeSeasonalBy" -> (df => TsDecompositionOp.decomposeSeasonalBy(df, "g", "ds", "y", 7)),
    "detrendBy" -> (df => TsDecompositionOp.detrendBy(df, "g", "ds", "y")),
    "detectPeriodsBy" -> (df => TsDecompositionOp.detectPeriodsBy(df, "g", "ds", "y")),
    "detectPeaksBy" -> (df => TsDecompositionOp.detectPeaksBy(df, "g", "ds", "y")),
    "analyzePeakTimingBy" -> (df =>
      TsDecompositionOp.analyzePeakTimingBy(df, "g", "ds", "y", 7.0)),
    "analyzeSeasonalityBy" -> (df => TsDecompositionOp.analyzeSeasonalityBy(df, "g", "ds", "y")),
    "classifySeasonalityBy" -> (df =>
      TsDecompositionOp.classifySeasonalityBy(df, "g", "ds", "y", 7)),
    "featuresBy" -> (df => TsFeaturesOp.featuresBy(df, "g", "ds", "y")))

  val keyless: Seq[(String, DataFrame => DataFrame)] = Seq(
    "forecastSingle" -> (df => TsForecastOp.forecastSingle(df, "ds", "y", "AutoETS", 7,
      Map("seasonal_period" -> "7"))))

  /** `n` daily points of group `g` from 2024-01-01: a weekly sinusoid on a
    * slow trend, a level step at day 30 and a fixed jitter, so every kernel
    * has something to find. */
  def healthy(spark: SparkSession, g: String, n: Int = 60): DataFrame =
    spark.range(n).select(lit(g).as("g"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("ds"),
      (lit(50.0) + sin(col("id") * (2 * math.Pi / 7)) * 10 + col("id") * 0.3 +
        when(col("id") >= 30, 40.0).otherwise(0.0) +
        pmod(col("id") * 37, lit(11)) / 10.0).as("y"))
}
