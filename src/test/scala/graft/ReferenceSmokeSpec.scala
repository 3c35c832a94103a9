package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.{Forecast, Quality}
import graft.ops.{TsPrep, TsStatsOp}

/** Batch port of the remaining smoke-level reference test files — one test
  * per file, on the file's own fixture, asserting its concrete expected
  * values (not just non-null): ts_filter.test, ts_fill_unknown.test,
  * ts_validate_timestamps.test, ts_summary.test, ts_data_quality.test,
  * ts_forecast_exp_smoothing.test, ts_forecast_param_grid.test.
  */
class ReferenceSmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-reference-smoke")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def day(i: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1).plusDays(i))

  test("ts_filter.test: drop_constant removes only the constant series (:30-48)") {
    val s = spark
    import s.implicits._
    val df = (Seq(("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 4.0), ("A", 5.0),
      ("B", 0.0), ("B", 0.0), ("B", 1.0), ("B", 2.0), ("B", 0.0)) ++
      Seq.fill(3)(("C", 5.0))).zipWithIndex
      .map { case ((id, v), i) => (id, day(i % 5), v) }.toDF("id", "ds", "val")
    val out = TsPrep.dropConstantBy(df, "id", "val")
    assert(out.select("id").distinct().collect().map(_.getString(0)).sorted.toSeq == Seq("A", "B"))
    assert(out.filter(col("id") === "C").count() == 0)
    assert(out.filter(col("id").isin("A", "B")).count() == 10)
  }

  test("ts_fill_unknown.test: strategies fill past-cutoff rows only (:30-76)") {
    val s = spark
    import s.implicits._
    val df = (0 until 5).flatMap { i =>
      Seq(("A", day(i), (i + 1) * 10.0), ("B", day(i), (i + 1) * 100.0))
    }.toDF("series_id", "date", "feature")
    val cutoff = "2023-01-03" // positions 0-2 known, 3-4 unknown
    val lastV = TsPrep.fillUnknownBy(df, "series_id", "date", "feature", cutoff)
    assert(lastV.count() == 10)
    val unknownA = lastV.filter(col("series_id") === "A" &&
      col("date") > lit(cutoff).cast("timestamp"))
      .select("feature").collect().map(_.getDouble(0)).toSeq
    assert(unknownA == Seq(30.0, 30.0))
    val knownA = lastV.filter(col("series_id") === "A" &&
      col("date") <= lit(cutoff).cast("timestamp"))
      .orderBy("date").select("feature").collect().map(_.getDouble(0)).toSeq
    assert(knownA == Seq(10.0, 20.0, 30.0))
    val nulled = TsPrep.fillUnknownBy(df, "series_id", "date", "feature", cutoff, "null")
    assert(nulled.filter(col("feature").isNull).count() == 4)
    assert(nulled.filter(col("date") <= lit(cutoff).cast("timestamp") &&
      col("feature").isNull).count() == 0)
    val defaulted = TsPrep.fillUnknownBy(df, "series_id", "date", "feature", cutoff,
      "default", fillValue = -1.0)
    assert(defaulted.filter(col("feature") === -1.0).count() == 4)
  }

  test("ts_validate_timestamps.test: per-group missing counts (:31-70)") {
    val s = spark
    import s.implicits._
    // A has days 1-3 minus day 4; B has days 2-4
    val df = Seq(("A", day(0)), ("A", day(1)), ("A", day(2)),
      ("B", day(1)), ("B", day(2)), ("B", day(3))).toDF("series_id", "date")
    val expected = Seq(1, 2, 3).map(i =>
      java.sql.Timestamp.valueOf(s"2023-01-0${i + 1} 00:00:00"))
    val out = TsPrep.validateTimestampsBy(df, "series_id", "date", expected)
    assert(out.count() == 2)
    val rows = out.orderBy("series_id").collect()
    assert(rows.map(_.getAs[Boolean]("is_valid")).toSeq == Seq(false, true))
    assert(rows.map(_.getAs[Long]("n_missing")).toSeq == Seq(1L, 0L))
    assert(rows.map(_.getAs[Long]("n_expected")).distinct.toSeq == Seq(3L))
    assert(rows.map(_.getAs[Long]("n_found")).toSeq == Seq(2L, 3L))
  }

  test("ts_summary.test: stats lengths and null counts over a mixed panel (:36-100)") {
    val s = spark
    import s.implicits._
    val df = ((0 until 10).map(i => ("A", day(i), Some((i + 1).toDouble))) ++
      (0 until 5).map(i => ("B", day(i), Some(i * 2.0))) ++
      (0 until 8).map(i => ("C", day(i), Some(i * 3.0)))).toDF("id", "date", "value")
    val stats = TsStatsOp.statsBy(df, "id", "date", "value", "1d").cache()
    assert(stats.count() == 3)
    val lens = stats.select("length").collect().map(_.getLong(0))
    assert(lens.min == 5 && lens.max == 10)
    assert(lens.sum.toDouble / 3 > 7 && lens.sum.toDouble / 3 < 8)
    assert(stats.agg(sum("n_nulls")).collect()(0).getLong(0) == 0)
    // with nulls planted at positions 2 and 5
    val withNulls = (0 until 10).map(i =>
      ("X", day(i), if (i == 2 || i == 5) None else Some(i.toDouble)))
      .toDF("id", "date", "value")
    val ns = TsStatsOp.statsBy(withNulls, "id", "date", "value", "1d")
    assert(ns.agg(sum("n_nulls")).collect()(0).getLong(0) == 2)
  }

  test("ts_data_quality.test: clean data scores high with zero gaps (:66-95)") {
    val clean = Quality.compute((1 to 10).map(_.toDouble).toArray,
      Array.fill(10)(true), None)
    assert(clean.overall_score > 0.5)
    assert(clean.structural_score >= 0 && clean.n_gaps == 0 && clean.n_missing == 0)
    assert(!clean.is_constant)
  }

  test("ts_forecast_exp_smoothing.test: smoothing family fits its fixtures (:14-60)") {
    val trend = (0 until 30).map(i => 50.0 + i * 2.0)
    val seasonal = (0 until 56).map(i => 100.0 + (i % 7) * 10.0 + i * 0.5)
    def fc(vs: Seq[Double], m: String, p: Int = 0): Forecast.Output =
      Forecast.forecast(vs.toArray, Array.fill(vs.length)(true),
        Forecast.optionsFromParams(m, 7,
          if (p > 0) Map("seasonal_period" -> p.toString) else Map.empty))
    // Holt extends the trend
    val holt = fc(trend, "Holt")
    assert(holt.point.length == 7 && holt.point.forall(_ > 105.0))
    // HoltWinters/SeasonalES track the weekly wave
    Seq("HoltWinters", "SeasonalES", "SeasonalESOptimized", "SeasonalWindowAverage")
      .foreach { m =>
        val out = fc(seasonal, m, 7)
        assert(out.point.length == 7 && out.point.forall(v => v > 90 && v < 200), m)
      }
    // constant series stays flat under SES
    val const = fc(Seq.fill(30)(75.0), "SES")
    assert(const.point.forall(v => math.abs(v - 75.0) < 1e-6))
  }

  test("ts_forecast_param_grid.test: model x horizon x confidence grid all succeed") {
    val series = (0 until 42).map(i => 20.0 + i * 0.4 + math.sin(i * math.Pi / 7) * 3)
    for {
      m <- Seq("Naive", "SES", "Holt", "Theta", "SeasonalNaive")
      h <- Seq(1, 7, 14)
      conf <- Seq("0.80", "0.95", "0.99")
    } {
      // seasonal_period is only legal for seasonal-capable models
      val params = Map("confidence_level" -> conf) ++
        (if (m == "SeasonalNaive" || m == "Theta") Map("seasonal_period" -> "7") else Map.empty)
      val out = Forecast.forecast(series.toArray, Array.fill(series.length)(true),
        Forecast.optionsFromParams(m, h, params))
      assert(out.point.length == h && out.lower.length == h && out.upper.length == h,
        s"$m h=$h conf=$conf")
      (0 until h).foreach(i => assert(out.lower(i) <= out.upper(i)))
    }
  }
}
