package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.kernels.Metrics

/** Per-group metric tables (`_ts_metrics_native` / `_ts_mase_native`,
  * src/table_functions/ts_metrics_native.cpp:296-312, :742-800): group
  * columns = every input column EXCEPT the date/value columns; output = the
  * group columns plus one DOUBLE column named after the metric. Values are
  * gathered date-ordered per group and evaluated by the same kernel
  * functions the array-UDF surface uses. */
object TsMetricsOp {

  /** Gather `valueCols` per group (all other columns except `dateCol`),
    * date-ordered ([[Series.gatherBy]], one lane per value column, NaN where
    * null), and apply `f` to the value arrays. A null date is the time
    * Long.MinValue: its rows sort first and count. */
  private def gatherApply(df: DataFrame, dateCol: String, valueCols: Seq[String],
                          out: String, f: Array[Array[Double]] => Double): DataFrame = {
    val nonGroup = (dateCol +: valueCols).toSet
    val groupCols = df.columns.filterNot(nonGroup.contains).toSeq
    require(groupCols.nonEmpty,
      s"no group columns left after excluding ${nonGroup.mkString(", ")}")
    val w = valueCols.length
    val u = udf((vs: Array[Double]) => f(Series.lanes(vs, w)))
    Series.gatherBy(df, groupCols, coalesce(Series.micros(df, dateCol), lit(Long.MinValue)),
      valueCols.map(col)).select(groupCols.map(col) :+ u(col("_s.v")).as(out): _*)
  }

  /** mae | mse | rmse | mape | smape | r2 | bias over (actual, forecast),
    * output column named after the metric (ts_macros.cpp:2017-2086). */
  def metricBy(df: DataFrame, dateCol: String, actualCol: String,
               forecastCol: String, metric: String): DataFrame = {
    val fn: (Array[Double], Array[Double]) => Double = metric match {
      case "mae" => Metrics.mae case "mse" => Metrics.mse
      case "rmse" => Metrics.rmse case "mape" => Metrics.mape
      case "smape" => Metrics.smape case "r2" => Metrics.r2
      case "bias" => Metrics.bias
      case other => throw new IllegalArgumentException(
        s"Unknown metric '$other' (mae|mse|rmse|mape|smape|r2|bias)")
    }
    gatherApply(df, dateCol, Seq(actualCol, forecastCol), metric, v => fn(v(0), v(1)))
  }

  /** MASE against a baseline forecast column (`_ts_mase_native`): rows where
    * ANY of the three values is missing are dropped (matching the native's
    * NaN filter), then mae(actual, forecast) / mae(actual, baseline). */
  def maseBy(df: DataFrame, dateCol: String, actualCol: String,
             forecastCol: String, baselineCol: String): DataFrame = {
    val clean = df.filter(Seq(actualCol, forecastCol, baselineCol).map(c =>
      col(c).isNotNull && !isnan(col(c).cast(DoubleType))).reduce(_ && _))
    gatherApply(clean, dateCol, Seq(actualCol, forecastCol, baselineCol), "mase", v => {
      val denom = Metrics.mae(v(0), v(2))
      if (denom == 0.0 || denom.isNaN) Double.NaN else Metrics.mae(v(0), v(1)) / denom
    })
  }

  /** Relative MAE of two competing forecasts (ts_macros.cpp:2097). */
  def rmaeBy(df: DataFrame, dateCol: String, actualCol: String,
             pred1Col: String, pred2Col: String): DataFrame = {
    gatherApply(df, dateCol, Seq(actualCol, pred1Col, pred2Col), "rmae",
      v => Metrics.rmae(v(0), v(1), v(2)))
  }

  /** Empirical interval coverage (ts_macros.cpp:2107). */
  def coverageBy(df: DataFrame, dateCol: String, actualCol: String,
                 lowerCol: String, upperCol: String): DataFrame = {
    gatherApply(df, dateCol, Seq(actualCol, lowerCol, upperCol), "coverage",
      v => Metrics.coverage(v(0), v(1), v(2)))
  }

  /** Pinball loss at a quantile level (ts_macros.cpp:2117). */
  def quantileLossBy(df: DataFrame, dateCol: String, actualCol: String,
                     forecastCol: String, quantile: Double): DataFrame = {
    gatherApply(df, dateCol, Seq(actualCol, forecastCol), "quantile_loss",
      v => Metrics.quantileLoss(v(0), v(1), quantile))
  }
}
