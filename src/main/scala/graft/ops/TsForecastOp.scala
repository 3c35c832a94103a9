package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.{Forecast, Introspect}
import graft.types.Frequency

/** Grouped forecasting operators (`ts_forecast_by` family).
  *
  * Reference lifecycle (ts_macros.cpp:575-602 → _ts_forecast_scalar →
  * Rust forecast): GROUP BY gather → per-group kernel → unnest. Every
  * operator here is one [[Series.mapKernel]] stage: the map-side packed
  * gather, a round-robin exchange with an explicit partition count, one
  * kernel call per series on primitive arrays, and an explode. Parallelism
  * scales with the number of series across executors. The output is not
  * hash-partitioned on the group key.
  *
  * Error isolation contract (ts_forecast_native.cpp:666-672), the
  * [[Series.mapKernel]] skip rule: per-group data errors (insufficient data,
  * computation failures) skip the group; invalid model / invalid params
  * abort the query — validated eagerly on the driver where data-independent.
  */
object TsForecastOp {

  /** One output row per forecast step. */
  final case class FcStep(forecast_step: Int, t: Long, yhat: Double,
                          yhat_lower: Double, yhat_upper: Double, model_name: String)

  /** ts_forecast single-series output row. */
  final case class SingleOut(point_forecasts: Seq[Double], lower_bounds: Seq[Double],
                             upper_bounds: Seq[Double], model_name: String,
                             aic: Option[Double], bic: Option[Double])

  /** ts_forecast_by (ts_macros.cpp:575-602): per-group forecast.
    * Output: (groupCol, forecast_step, dsCol, yhat, yhat_lower, yhat_upper,
    * model_name) with the caller's column names preserved
    * (ts_forecast_native.cpp:426-452). */
  def forecastBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                 method: String, horizon: Int, frequency: String,
                 params: Map[String, String] = Map.empty): DataFrame = {
    val opts = Forecast.optionsFromParams(method, horizon, params)
    // eager data-independent validation (abort, not skip)
    if (!opts.autoDetectSeasonality && opts.seasonalPeriod > 1)
      Forecast.canonicalModel(method) // throws InvalidModel on bad name
    val dsType = df.schema(dsCol).dataType
    val freq = Frequency.parse(frequency).forIntegerDs(Series.isIntegerDs(dsType))

    Series.mapKernel(df, Seq(groupCol), dsCol, yCol) { s =>
      val out = Forecast.forecast(s.vs, s.valid, opts)
      (0 until out.point.length).map { i =>
        FcStep(i + 1, freq.advance(s.ts.last, i + 1L), out.point(i), out.lower(i), out.upper(i),
          out.modelName)
      }
    }.select(
        col(groupCol),
        col("_r.forecast_step").as("forecast_step"),
        Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.yhat").as("yhat"),
        col("_r.yhat_lower").as("yhat_lower"),
        col("_r.yhat_upper").as("yhat_upper"),
        col("_r.model_name").as("model_name"))
  }

  /** ts_forecast_inspect_by (ts_macros.cpp:605-686): per-group fit-state
    * snapshot (alpha/beta/gamma/phi, aic/bic, ARIMA orders, coefficients).
    * A model that is not Inspectable fails here, at call time, with
    * InvalidInput. */
  def forecastInspectBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                        method: String, params: Map[String, String] = Map.empty): DataFrame = {
    val opts = Forecast.optionsFromParams(method, 1, params)
    Introspect.requireInspectable(opts.model)
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      Seq(Introspect.inspect(s.vs, s.valid, opts)))
      .select(col(groupCol), col("_r.*"))
  }

  /** ts_forecast_explain_by (ts_macros.cpp:687-730): per-horizon
    * level/trend/seasonal/residual decomposition rows. A model that is not
    * Explainable fails here, at call time, with InvalidInput. */
  def forecastExplainBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                        method: String, horizon: Int,
                        params: Map[String, String] = Map.empty): DataFrame = {
    val opts = Forecast.optionsFromParams(method, horizon, params)
    Introspect.requireExplainable(opts.model)
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol) { s =>
      val e = Introspect.explain(s.vs, s.valid, horizon, opts)
      e.forecast_step.indices.map(i =>
        (e.forecast_step(i), e.level(i), e.trend(i), e.seasonal(i), e.residual(i), e.model_name))
    }.select(col(groupCol), col("_r._1").as("forecast_step"), col("_r._2").as("level"),
        col("_r._3").as("trend"), col("_r._4").as("seasonal"),
        col("_r._5").as("residual"), col("_r._6").as("model_name"))
  }

  /** ts_forecast (single series, ts_macros.cpp:539-566): one row of arrays
    * `{point_forecasts, lower_bounds, upper_bounds, model_name, aic, bic}`. */
  def forecastSingle(df: DataFrame, dsCol: String, yCol: String, method: String,
                     horizon: Int, params: Map[String, String] = Map.empty): DataFrame = {
    val opts = Forecast.optionsFromParams(method, horizon, params)
    Series.mapKernel(df, Nil, dsCol, yCol) { s =>
      val out = Forecast.forecast(s.vs, s.valid, opts)
      Seq(SingleOut(out.point.toSeq, out.lower.toSeq, out.upper.toSeq, out.modelName,
        out.aic, out.bic))
    }.select(col("_r.*"))
  }
}
