package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{Quality, Stats}
import graft.types.Frequency

/** Statistics and data-quality operators (reference ts_macros.cpp:27-173).
  * Shape: one [[Series.mapKernel]] stage (gather → kernel → one wide row per
  * group, under its skip rule), with the caller's group column name
  * preserved.
  */
object TsStatsOp {

  /** ts_stats (a.k.a. ts_stats_by): 36 statistics per group. */
  def statsBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
              frequency: String): DataFrame = {
    val freq = Frequency.parse(frequency)
      .forIntegerDs(Series.isIntegerDs(df.schema(dsCol).dataType))
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      Seq(Stats.computeWithDates(s.vs, s.valid, s.ts, freq)))
      .select(col(groupCol), col("_r.*"))
  }

  /** ts_quality_report over a stats table (ts_macros.cpp:90-104). */
  def qualityReport(statsTable: DataFrame, minLength: Long): DataFrame =
    statsTable.agg(
      sum(when(col("length") >= minLength && !col("is_constant"), 1).otherwise(0)).as("n_passed"),
      sum(when(col("n_nan") > 0, 1).otherwise(0)).as("n_nan_issues"),
      sum(when(col("n_nulls") > 0, 1).otherwise(0)).as("n_missing_issues"),
      sum(when(col("is_constant"), 1).otherwise(0)).as("n_constant"),
      count(lit(1)).as("n_total"))

  /** ts_stats_summary over a stats table (ts_macros.cpp:106-122). */
  def statsSummary(statsTable: DataFrame): DataFrame =
    statsTable.agg(
      count(lit(1)).as("n_series"),
      avg(col("length")).as("avg_length"),
      min(col("length")).as("min_length"),
      max(col("length")).as("max_length"),
      sum(col("n_nulls")).as("total_nulls"),
      sum(col("n_nan")).as("total_nans"))

  /** ts_data_quality: per-series quality scores (ts_macros.cpp:124-150).
    * Output column named `unique_id` like the reference. */
  def dataQualityBy(df: DataFrame, idCol: String, dsCol: String, yCol: String): DataFrame = {
    Series.mapKernel(df, Seq(idCol), dsCol, yCol)(s => Seq(Quality.compute(s.vs, s.valid, None)))
      .select(col(idCol).as("unique_id"), col("_r.*"))
  }

  /** ts_data_quality_summary (ts_macros.cpp:152-173). */
  def dataQualitySummary(df: DataFrame, idCol: String, dsCol: String, yCol: String): DataFrame =
    dataQualityBy(df, idCol, dsCol, yCol).agg(
      count(lit(1)).as("n_total"),
      sum(when(col("overall_score") >= 0.8, 1).otherwise(0)).as("n_good"),
      sum(when(col("overall_score") >= 0.5 && col("overall_score") < 0.8, 1).otherwise(0)).as("n_fair"),
      sum(when(col("overall_score") < 0.5, 1).otherwise(0)).as("n_poor"),
      avg(col("overall_score")).as("avg_score"))
}
