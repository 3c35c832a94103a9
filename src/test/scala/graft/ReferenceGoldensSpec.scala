package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.{Conformal, Forecast, Metrics}
import graft.ops.TsForecastOp

/** Exact-value goldens ported from the reference's sqllogictest corpus —
  * test/sql/ts_metrics.test, ts_conformal.test,
  * ts_forecast_basic_models.test, ts_forecast_error_isolation.test. Each
  * assertion mirrors one `query`/`----` block; tolerances are the
  * reference's own. */
class ReferenceGoldensSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-reference-goldens")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def a(xs: Double*): Array[Double] = xs.toArray

  // ------------------------------------------------ ts_metrics.test:12-105
  test("mae goldens (ts_metrics.test:12-33)") {
    assert(Metrics.mae(a(1, 2, 3), a(1, 2, 3)) == 0.0)
    assert(Metrics.mae(a(1, 2, 3), a(2, 3, 4)) == 1.0)
    assert(math.abs(Metrics.mae(a(10, 20, 30), a(12, 18, 33)) - 2.333333) < 0.01)
  }

  test("mse / rmse goldens (ts_metrics.test:38-82)") {
    assert(Metrics.mse(a(1, 2, 3), a(1, 2, 3)) == 0.0)
    assert(Metrics.mse(a(1, 2, 3), a(2, 3, 4)) == 1.0)
    assert(Metrics.mse(a(1, 2, 3), a(3, 4, 5)) == 4.0)
    assert(Metrics.rmse(a(1, 2, 3), a(1, 2, 3)) == 0.0)
    assert(Metrics.rmse(a(1, 2, 3), a(3, 4, 5)) == 2.0)
    assert(Metrics.rmse(a(1, 2, 3), a(2, 3, 4)) == 1.0)
  }

  test("mape / smape goldens (ts_metrics.test:84-128)") {
    assert(Metrics.mape(a(10, 20, 30), a(10, 20, 30)) == 0.0)
    assert(math.abs(Metrics.mape(a(10, 20, 30), a(11, 22, 33)) - 10.0) < 0.1)
    assert(math.abs(Metrics.mape(a(10, 20), a(5, 10)) - 50.0) < 0.1)
    assert(Metrics.smape(a(10, 20, 30), a(10, 20, 30)) == 0.0)
    assert(math.abs(Metrics.smape(a(10, 20), a(12, 24)) -
      Metrics.smape(a(12, 24), a(10, 20))) < 0.01)
    assert(Metrics.smape(a(10, 20), a(5, 10)) < 100.0)
  }

  test("mase goldens (ts_metrics.test:131-150)") {
    assert(Metrics.mase(a(1, 2, 3, 4, 5), a(1, 2, 3, 4, 5), a(0, 1, 2, 3, 4), 1) == 0.0)
    assert(Metrics.mase(a(1, 2, 3, 4, 5), a(2, 3, 4, 5, 6), a(0, 1, 2, 3, 4), 1) > 0)
    assert(Metrics.mase(a(1, 2, 3, 4, 5, 6), a(1, 2, 3, 4, 5, 6), a(0, 0, 1, 2, 3, 4), 1) == 0.0)
  }

  test("r2 / bias goldens (ts_metrics.test:153-196)") {
    assert(Metrics.r2(a(1, 2, 3, 4, 5), a(1, 2, 3, 4, 5)) == 1.0)
    assert(Metrics.r2(a(1, 2, 3, 4, 5), a(1.1, 2.1, 2.9, 4.0, 5.1)) > 0.95)
    assert(Metrics.r2(a(1, 2, 3, 4, 5), a(5, 4, 3, 2, 1)) < 0)
    assert(Metrics.bias(a(1, 2, 3), a(0, 2, 4)) == 0.0)
    assert(Metrics.bias(a(10, 20, 30), a(8, 18, 28)) == -2.0)
    assert(Metrics.bias(a(10, 20, 30), a(12, 22, 32)) == 2.0)
  }

  test("rmae / quantile loss / mqloss / coverage goldens (ts_metrics.test:199-283)") {
    assert(Metrics.rmae(a(1, 2, 3), a(1, 2, 3), a(0, 1, 2)) == 0.0)
    assert(Metrics.rmae(a(10, 20, 30), a(12, 22, 32), a(8, 18, 28)) > 0)
    assert(Metrics.quantileLoss(a(10, 20, 30), a(10, 20, 30), 0.5) == 0.0)
    assert(Metrics.quantileLoss(a(10, 20, 30), a(8, 18, 28), 0.9) > 0)
    assert(Metrics.quantileLoss(a(10, 20, 30), a(12, 22, 32), 0.1) > 0)
    assert(Metrics.mqLoss(a(10, 20, 30), Array(a(10, 20, 30)), a(0.5)) == 0.0)
    assert(Metrics.mqLoss(a(10, 20, 30), Array(a(12, 22, 32)), a(0.5)) > 0)
    assert(Metrics.coverage(a(5, 10, 15), a(0, 5, 10), a(10, 15, 20)) == 1.0)
    assert(Metrics.coverage(a(50, 100, 150), a(0, 5, 10), a(10, 15, 20)) == 0.0)
    assert(math.abs(Metrics.coverage(a(5, 10, 50), a(0, 5, 10), a(10, 15, 20)) - 0.666667) < 0.01)
    assert(Metrics.coverage(a(0, 10), a(0, 5), a(5, 10)) == 1.0) // bounds inclusive
  }

  test("grouped rmse golden: ts_rmse_by returns 1.0 / 2.0 (ts_metrics.test:296-323)") {
    val s = spark
    import s.implicits._
    val df = ((1 to 10).map(i => ("A", i, i.toDouble, (i + 1).toDouble)) ++
      (1 to 10).map(i => ("B", i, i.toDouble, (i + 2).toDouble)))
      .toDF("id", "ds", "y", "forecast")
    val rmseUdf = udf((as: Seq[Double], ps: Seq[Double]) => Metrics.rmse(as.toArray, ps.toArray))
    val out = df.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("ds"), col("y"), col("forecast")))).as("_s"))
      .select(col("id"), rmseUdf(col("_s.y"), col("_s.forecast")).as("rmse"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("A" -> 1.0, "B" -> 2.0))
  }

  // --------------------------------- ts_forecast_basic_models.test contract:
  // the values-only scalar API does NOT auto-detect seasonality
  test("_ts_forecast scalar: SeasonalNaive without params repeats the last value " +
      "(ts_forecast_basic_models.test:113-157)") {
    def fc(values: Seq[Double], h: Int, m: String): Forecast.Output =
      Forecast.forecast(values.toArray, Array.fill(values.length)(true),
        Forecast.Options(model = Forecast.canonicalModel(m), horizon = h,
          autoDetectSeasonality = false))
    val wave = Seq(1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0, 1.0, 2.0, 3.0, 4.0)
    val out = fc(wave, 4, "SeasonalNaive")
    assert(out.modelName == "SeasonalNaive")
    assert(out.point.length == 4)
    out.point.foreach(p => assert(math.abs(p - 4.0) < 0.01))
    val out2 = fc(Seq(10.0, 20.0, 30.0, 10.0, 20.0, 30.0, 10.0, 20.0, 30.0), 6, "SeasonalNaive")
    assert(math.abs(out2.point(0) - 30.0) < 0.01)
    assert(math.abs(out2.point(3) - 30.0) < 0.01)
    // alias (ts_forecast_basic_models.test:168)
    assert(fc(wave, 4, "snaive").modelName == "SeasonalNaive")
    // SMA default window = 3 at period 1 → mean(8,9,10) = 9 (:83-91)
    val sma = fc((1 to 10).map(_.toDouble), 3, "SMA")
    assert(sma.modelName == "SMA")
    assert(math.abs(sma.point(0) - 9.0) < 0.1)
    assert(math.abs(fc(Seq.fill(10)(5.0), 3, "SMA").point(0) - 5.0) < 0.01)
  }

  // --------------------------------- ts_forecast_error_isolation.test
  test("batch error isolation: bad series skip, good series forecast " +
      "(ts_forecast_error_isolation.test:17-75)") {
    val s = spark
    import s.implicits._
    val rows =
      (1 to 10).map(i => ("valid_trend", i, Some(i.toDouble))) ++
        Seq(("too_short", 1, Some(1.0)), ("too_short", 2, Some(2.0))) ++
        (1 to 10).map(i => ("all_null", i, Option.empty[Double])) ++
        (1 to 10).map(i => ("valid_trend2", i, Some(i.toDouble)))
    val df = rows.toDF("g", "ds", "y")
    val out = TsForecastOp.forecastBy(df, "g", "ds", "y", "Naive", 3, "1")
    val byGroup = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGroup == Map("valid_trend" -> 3L, "valid_trend2" -> 3L),
      "invalid groups must be skipped without failing the batch")
    // interior nulls are interpolated, not fatal (:104-107)
    val withNull = ((1 to 10).map(i =>
      ("g1", i, if (i == 2) Option.empty[Double] else Some(i.toDouble)))).toDF("g", "ds", "y")
    assert(TsForecastOp.forecastBy(withNull, "g", "ds", "y", "Naive", 3, "1").count() == 3)
    // three points is the minimum that forecasts (:93-97)
    assert(Forecast.forecast(a(1, 2, 3), Array(true, true, true),
      Forecast.Options(model = "Naive", horizon = 3)).point.length == 3)
    intercept[Forecast.InsufficientData] {
      Forecast.forecast(a(1, 2), Array(true, true), Forecast.Options(model = "Naive", horizon = 3))
    }
  }

  // --------------------------------- ts_conformal.test
  test("conformal goldens (ts_conformal.test:13-75)") {
    assert(math.abs(Conformal.conformalQuantile(a(1, 2, 3, 4, 5), 0.1) - 4.6) < 0.5)
    val long = (1 to 20).map(_.toDouble).toArray
    assert(Conformal.conformalQuantile(long, 0.05) > Conformal.conformalQuantile(long, 0.1))
    assert(math.abs(Conformal.conformalQuantile(a(1, 2, 3, 4, 5), 0.5) - 3.0) < 0.5)
    val (lo, hi) = Conformal.conformalIntervals(a(10, 20, 30), 2.0)
    assert(lo.toSeq == Seq(8.0, 18.0, 28.0))
    assert(hi.toSeq == Seq(12.0, 22.0, 32.0))
    val (lo0, hi0) = Conformal.conformalIntervals(a(5, 10), 0.0)
    assert(lo0(0) == hi0(0))
  }
}
