package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernels.{Forecast, Imputation, Linalg}
import graft.types.Frequency

/** Exogenous-regressor forecasting (`ts_forecast_exog` / `_exog_by`,
  * reference ts_macros.cpp:756-943; kernel forecast_with_exog
  * forecast.rs:768-830): OLS of y on X with intercept, residuals forecast by
  * the chosen model, ŷ = residual forecast + X_future·β. Exogenous arrays
  * are validated against n_obs and the horizon (ExogenousData::validate
  * forecast.rs:400). */
object TsExogOp {

  final case class ExogStep(forecast_step: Int, t: Long, yhat: Double,
                            yhat_lower: Double, yhat_upper: Double, model_name: String)

  /** Exogenous-capable families and their reference model names
    * (forecast.rs:742-747, :2431/:2469/:2506): ARIMA→ARIMAX, theta→ThetaX,
    * MFLES→MFLESX. Any OTHER model ignores the exogenous data and produces a
    * standard forecast under its normal name — the reference's documented
    * fallback, also taken when no regressors are supplied. */
  private def exogModelName(method: String): Option[String] =
    Forecast.canonicalModel(method) match {
      case "ARIMA" | "AutoARIMA" => Some("ARIMAX")
      case "OptimizedTheta" | "DynamicTheta" => Some("ThetaX")
      case "MFLES" => Some("MFLESX")
      case _ => None
    }

  def forecastExogBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                     xregCols: Seq[String], future: DataFrame, futureDsCol: String,
                     futureXregCols: Seq[String], method: String = "AutoARIMA",
                     horizon: Int = 12, frequency: String = "1d",
                     params: Map[String, String] = Map.empty): DataFrame = {
    require(xregCols.length == futureXregCols.length,
      "xreg_cols and future_xreg_cols must have the same arity")
    val exogName = exogModelName(method)
    val useExog = exogName.isDefined && xregCols.nonEmpty
    val opts = Forecast.optionsFromParams(method, horizon, params)
    val dsType = df.schema(dsCol).dataType
    val freq = Frequency.parse(frequency).forIntegerDs(Series.isIntegerDs(dsType))

    // history and future rows gathered as ONE series per group, lanes
    // (y, x_1..x_k, future?): one key exchange and no join. The regressors
    // are packed only when the model uses them; a null one fails the query.
    val k = if (useExog) xregCols.length else 0
    def rows(d: DataFrame, ds: String, y: Column, xs: Seq[String], future: Double) =
      d.filter(col(groupCol).isNotNull && col(ds).isNotNull).select(
        (col(groupCol) +: Series.micros(d, ds).as("_t") +: y.cast(DoubleType).as("_y") +:
          xs.take(k).zipWithIndex.map { case (c, j) => regressor(c).as(s"_x$j") }) :+
          lit(future).as("_f"): _*)
    val both = rows(df, dsCol, col(yCol), xregCols, 0.0)
      .unionByName(rows(future, futureDsCol, lit(null), futureXregCols, 1.0))

    Series.mapLanes(both, Seq(groupCol), col("_t"),
        ("_y" +: (0 until k).map(j => s"_x$j") :+ "_f").map(col)) { s =>
      val lanes = Series.lanes(s.vs, k + 2)
      val (hist, fut) = s.ts.indices.partition(lanes(k + 1)(_) == 0.0)
      // a group without history or without future rows gives no rows
      if (hist.isEmpty || fut.isEmpty) Nil
      else {
        if (useExog && fut.length < horizon)
          throw new Forecast.InvalidInput(
            s"future exogenous rows (${fut.length}) < horizon ($horizon)")
        val clean = Imputation.fillInterpolate(hist.map(i => lanes(0)(i)).toArray,
          hist.map(i => !s.nu(i)).toArray)
        if (clean.length < 3) throw new Forecast.InsufficientData(3, clean.length)
        val lastT = s.ts(hist.last)
        if (!useExog) {
          // non-exog-capable model or no regressors: standard forecast
          val out = Forecast.forecast(clean, Array.fill(clean.length)(true), opts)
          (0 until horizon).map { h =>
            ExogStep(h + 1, freq.advance(lastT, h + 1L),
              out.point(h), out.lower(h), out.upper(h), out.modelName)
          }
        } else {
          // regress out X (OLS with intercept), model the residuals, add back
          val n = clean.length
          val x = lanes.slice(1, k + 1)
          def xb(beta: Array[Double], row: Int): Double = {
            var pred = beta(0)
            var j = 0
            while (j < k) { pred += beta(j + 1) * x(j)(row); j += 1 }
            pred
          }
          val design = Array.tabulate(n, k + 1)((i, j) => if (j == 0) 1.0 else x(j - 1)(hist(i)))
          val beta = Linalg.olsSolve(design, clean)
          val residuals = Array.tabulate(n)(i => clean(i) - xb(beta, hist(i)))
          val out = Forecast.forecast(residuals, Array.fill(n)(true), opts)
          (0 until horizon).map { h =>
            val b = xb(beta, fut(h))
            ExogStep(h + 1, freq.advance(lastT, h + 1L),
              out.point(h) + b, out.lower(h) + b, out.upper(h) + b, exogName.get)
          }
        }
      }
    }.select(col(groupCol), col("_r.forecast_step").as("forecast_step"),
        Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.yhat").as("yhat"), col("_r.yhat_lower").as("yhat_lower"),
        col("_r.yhat_upper").as("yhat_upper"), col("_r.model_name").as("model_name"))
  }

  /** A regressor column as a double; a null value fails the query. */
  private def regressor(c: String): Column = {
    val checked = udf((x: java.lang.Double) =>
      if (x == null) throw new Forecast.InvalidInput(s"regressor column '$c' has a null value")
      else x.doubleValue)
    checked(col(c).cast(DoubleType))
  }

  /** Single-series variant (ts_forecast_exog, ts_macros.cpp:756-830). */
  def forecastExog(df: DataFrame, dsCol: String, yCol: String, xregCols: Seq[String],
                   future: DataFrame, futureDsCol: String, futureXregCols: Seq[String],
                   method: String = "AutoARIMA", horizon: Int = 12,
                   frequency: String = "1d",
                   params: Map[String, String] = Map.empty): DataFrame = {
    val withKey = df.withColumn("_g", lit(1))
    val futKey = future.withColumn("_g", lit(1))
    forecastExogBy(withKey, "_g", dsCol, yCol, xregCols, futKey, futureDsCol,
      futureXregCols, method, horizon, frequency, params).drop("_g")
  }
}
