package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TsExogOp

/** Port of test/sql/ts_forecast_exog.test: the exogenous surface — family
  * model names (ARIMAX / ThetaX / MFLESX, forecast.rs:2431-2506), the
  * documented fallback (non-exog-capable models and empty regressor lists
  * ignore the exogenous data), horizon/bound lengths, and the grouped form.
  */
class ExogContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-exog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def day(i: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1).plusDays(i))

  /** history with one regressor x; y depends linearly on x plus drift. */
  private def hist: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 20).map { i =>
      val x = (i % 4) + 1.0
      ("G", day(i), 10.0 + 3.0 * x + 0.5 * i, x)
    }.toDF("g", "ds", "y", "x1")
  }

  private def future(h: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until h).map(i => ("G", day(20 + i), ((20 + i) % 4) + 1.0)).toDF("g", "ds", "x1")
  }

  private def run(method: String, h: Int = 4): DataFrame =
    TsExogOp.forecastExogBy(hist, "g", "ds", "y", Seq("x1"),
      future(h), "ds", Seq("x1"), method, h, "1d")

  test("family model names: ARIMAX / ThetaX / MFLESX (:100-126)") {
    Seq("ARIMA" -> "ARIMAX", "AutoARIMA" -> "ARIMAX",
      "OptimizedTheta" -> "ThetaX", "DynamicTheta" -> "ThetaX",
      "MFLES" -> "MFLESX").foreach { case (m, expected) =>
      val names = run(m).select("model_name").distinct().collect().map(_.getString(0))
      assert(names.toSeq == Seq(expected), s"$m → ${names.toSeq}")
    }
  }

  test("horizon and bound lengths match (:14-88)") {
    val out = run("AutoARIMA", 4)
    assert(out.count() == 4)
    val rows = out.orderBy("forecast_step").collect()
    assert(rows.map(_.getAs[Int]("forecast_step")).toSeq == Seq(1, 2, 3, 4))
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("yhat_lower")) && !r.isNullAt(r.fieldIndex("yhat_upper")))
      assert(r.getDouble(r.fieldIndex("yhat_lower")) <= r.getDouble(r.fieldIndex("yhat_upper")))
    }
  }

  test("non-exog-capable models ignore the regressors (forecast.rs:747)") {
    val out = run("Naive")
    val names = out.select("model_name").distinct().collect().map(_.getString(0))
    assert(names.toSeq == Seq("Naive"))
    // Naive ignores x: yhat repeats the last y for every step
    val lastY = 10.0 + 3.0 * ((19 % 4) + 1.0) + 0.5 * 19
    out.select("yhat").collect().foreach(r => assert(math.abs(r.getDouble(0) - lastY) < 1e-9))
  }

  test("empty regressor list falls back to a standard forecast (:133-144)") {
    val out = TsExogOp.forecastExogBy(hist, "g", "ds", "y", Seq.empty,
      future(3), "ds", Seq.empty, "AutoARIMA", 3, "1d")
    assert(out.count() == 3)
    val names = out.select("model_name").distinct().collect().map(_.getString(0))
    assert(names.length == 1 && names(0).startsWith("AutoARIMA"))
  }

  test("the exogenous effect is actually used: pure-x target is reproduced") {
    val s = spark
    import s.implicits._
    // y = 10 + 3x exactly: OLS recovers (10, 3), residuals ≡ 0, and the
    // forecast is the regression plane at the future x — Naive would repeat
    // the last value and miss every x change
    val pureHist = (0 until 20).map { i =>
      val x = (i % 4) + 1.0
      ("G", day(i), 10.0 + 3.0 * x, x)
    }.toDF("g", "ds", "y", "x1")
    val out = TsExogOp.forecastExogBy(pureHist, "g", "ds", "y", Seq("x1"),
      future(4), "ds", Seq("x1"), "ARIMA", 4, "1d").orderBy("forecast_step").collect()
    (0 until 4).foreach { i =>
      val expected = 10.0 + 3.0 * (((20 + i) % 4) + 1.0)
      assert(math.abs(out(i).getAs[Double]("yhat") - expected) < 1e-6,
        s"step ${i + 1}: ${out(i).getAs[Double]("yhat")} vs $expected")
    }
  }

  test("a null regressor value fails with an InvalidInput naming its column") {
    def named(df: => DataFrame, column: String): Unit = {
      val e = intercept[Throwable](df.collect())
      val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case i: graft.kernels.Forecast.InvalidInput => i }
      assert(cause.exists(_.getMessage.contains(s"'$column'")), e)
    }
    val nullHist = hist.withColumn("x1", when(col("ds") === day(5), lit(null)).otherwise(col("x1")))
    named(TsExogOp.forecastExogBy(nullHist, "g", "ds", "y", Seq("x1"), future(4), "ds", Seq("x1"),
      "ARIMA", 4, "1d"), "x1")
    val nullFuture = future(4).withColumnRenamed("x1", "fx")
      .withColumn("fx", when(col("ds") === day(22), lit(null)).otherwise(col("fx")))
    named(TsExogOp.forecastExogBy(hist, "g", "ds", "y", Seq("x1"), nullFuture, "ds", Seq("fx"),
      "ARIMA", 4, "1d"), "fx")
  }
}
