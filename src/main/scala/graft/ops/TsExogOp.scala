package graft.ops

import org.apache.spark.sql.DataFrame
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

    // collect_list of structs, not Series.gatherBy (nor Series.mapKernel on
    // top of it): each row also carries its regressor array `x`, which the
    // packed primitive (t, v, nu) arrays cannot hold
    val hist = df.filter(col(dsCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        Series.toMicros(col(dsCol), dsType).as("t"),
        coalesce(col(yCol).cast(DoubleType), lit(Double.NaN)).as("v"),
        col(yCol).isNull.as("nu"),
        array(xregCols.map(c => col(c).cast(DoubleType)): _*).as("x")))).as("_s"))

    val futType = future.schema(futureDsCol).dataType
    val fut = future.filter(col(futureDsCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        Series.toMicros(col(futureDsCol), futType).as("t"),
        array(futureXregCols.map(c => col(c).cast(DoubleType)): _*).as("x")))).as("_f"))

    val k = xregCols.length
    val fcUdf = udf((ts: Seq[Long], vs: Seq[Double], nu: Seq[Boolean],
                     xs: Seq[Seq[Double]], futX: Seq[Seq[Double]]) => {
      try {
        if (useExog && futX.length < horizon)
          throw new Forecast.InvalidInput(
            s"future exogenous rows (${futX.length}) < horizon ($horizon)")
        val clean = Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
        if (clean.length < 3) throw new Forecast.InsufficientData(3, clean.length)
        val lastT = ts.last
        if (!useExog) {
          // non-exog-capable model or no regressors: standard forecast
          val out = Forecast.forecast(clean, Array.fill(clean.length)(true), opts)
          Some((0 until horizon).map { h =>
            ExogStep(h + 1, freq.advance(lastT, h + 1L),
              out.point(h), out.lower(h), out.upper(h), out.modelName)
          })
        } else {
          // regress out X (OLS with intercept), model the residuals, add back
          val n = clean.length
          val design = Array.tabulate(n, k + 1)((i, j) => if (j == 0) 1.0 else xs(i)(j - 1))
          val beta = Linalg.olsSolve(design, clean)
          val residuals = Array.tabulate(n) { i =>
            var pred = beta(0)
            var j = 0
            while (j < k) { pred += beta(j + 1) * xs(i)(j); j += 1 }
            clean(i) - pred
          }
          val out = Forecast.forecast(residuals, Array.fill(n)(true), opts)
          Some((0 until horizon).map { h =>
            var xb = beta(0)
            var j = 0
            while (j < k) { xb += beta(j + 1) * futX(h)(j); j += 1 }
            ExogStep(h + 1, freq.advance(lastT, h + 1L),
              out.point(h) + xb, out.lower(h) + xb, out.upper(h) + xb,
              exogName.get)
          })
        }
      } catch {
        case _: Forecast.InsufficientData | _: Forecast.ComputationError => None
      }
    })

    hist.join(fut, Seq(groupCol))
      .select(col(groupCol),
        explode(fcUdf(col("_s.t"), col("_s.v"), col("_s.nu"), col("_s.x"), col("_f.x"))).as("_r"))
      .select(col(groupCol), col("_r.forecast_step").as("forecast_step"),
        Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        col("_r.yhat").as("yhat"), col("_r.yhat_lower").as("yhat_lower"),
        col("_r.yhat_upper").as("yhat_upper"), col("_r.model_name").as("model_name"))
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
