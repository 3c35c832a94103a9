package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.Forecast
import graft.ops.{TsCvOp, TsPrep}

/** Third golden batch: ts_gaps.test (gap fill / fill forward row contracts)
  * and ts_native_param_validation.test (#177 explicit parameter errors). */
class ReferenceGoldensSpec3 extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-reference-goldens-3")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("fill_gaps / fill_forward row contracts (ts_gaps.test:35-96)") {
    val s = spark
    import s.implicits._
    // gaps fixture: Jan 1 and Jan 3 observed → one gap row inserted
    val gaps = Seq(("A", java.sql.Date.valueOf("2023-01-01"), Some(1.0)),
      ("A", java.sql.Date.valueOf("2023-01-03"), Some(3.0))).toDF("grp", "dt", "val")
    val filled = TsPrep.fillGapsBy(gaps, "grp", "dt", "val", "1 day")
    assert(filled.count() == 3)
    assert(filled.filter(col("val").isNotNull).count() == 2)
    // polars-style '1d' behaves identically
    assert(TsPrep.fillGapsBy(gaps, "grp", "dt", "val", "1d").count() == 3)

    // multi-group: A has a 1-day gap, B none
    val multi = (gaps.collect().map(r => (r.getString(0), r.getDate(1), Option(r.getDouble(2)))).toSeq ++
      Seq(("B", java.sql.Date.valueOf("2023-01-01"), Some(5.0)),
        ("B", java.sql.Date.valueOf("2023-01-02"), Some(6.0))))
      .toDF("grp", "dt", "val")
    assert(TsPrep.fillGapsBy(multi, "grp", "dt", "val", "1 day").count() == 5)

    // fill forward to Jan 5 from {Jan 1, Jan 2} → 3 appended NULL rows
    val fwd = Seq(("A", java.sql.Date.valueOf("2023-01-01"), Some(1.0)),
      ("A", java.sql.Date.valueOf("2023-01-02"), Some(2.0))).toDF("grp", "dt", "val")
    val extended = TsPrep.fillForwardBy(fwd, "grp", "dt", "val", "2023-01-05", "1 day")
    assert(extended.count() == 5)
    assert(extended.filter(col("val").isNotNull).count() == 2)
    assert(extended.filter(col("val").isNull).count() == 3)
  }

  test("unknown forecast parameter keys raise explicit errors " +
      "(ts_native_param_validation.test:41-58, #177)") {
    val e1 = intercept[Forecast.InvalidInput] {
      Forecast.optionsFromParams("AutoETS", 3, Map("methd" -> "ETS"))
    }
    assert(e1.getMessage.contains("Unknown parameter"))
    assert(e1.getMessage.contains("methd"))
    val e2 = intercept[Forecast.InvalidInput] {
      Forecast.optionsFromParams("AutoETS", 3, Map("foo" -> "1", "bar" -> "2"))
    }
    assert(e2.getMessage.contains("Unknown parameter"))
    val e3 = intercept[IllegalArgumentException] {
      TsCvOp.parseCvParams(Map("methd" -> "x"))
    }
    assert(e3.getMessage.contains("Unknown parameter"))
  }

  test("invalid confidence_level raises a range error " +
      "(ts_native_param_validation.test:62-89)") {
    for (bad <- Seq("0.0", "-0.5", "1.0", "5.0")) {
      val e = intercept[Forecast.InvalidInput] {
        Forecast.optionsFromParams("AutoETS", 3, Map("confidence_level" -> bad))
      }
      assert(e.getMessage.contains("confidence_level"))
    }
    // valid boundary values parse
    assert(Forecast.optionsFromParams("AutoETS", 3,
      Map("confidence_level" -> "0.5")).confidenceLevel == 0.5)
  }

  test("window only valid with SMA; ETS spec only with ETS " +
      "(forecast.rs param contract)") {
    val e1 = intercept[Forecast.InvalidInput] {
      Forecast.optionsFromParams("Naive", 3, Map("window" -> "5"))
    }
    assert(e1.getMessage.contains("window"))
    val e2 = intercept[Forecast.InvalidInput] {
      Forecast.optionsFromParams("Naive", 3, Map("model" -> "AAA"))
    }
    assert(e2.getMessage.toLowerCase.contains("ets"))
    // seasonal_period on a non-seasonal model errors at forecast time
    val e3 = intercept[Forecast.InvalidInput] {
      Forecast.forecast(Array.tabulate(20)(_.toDouble), Array.fill(20)(true),
        Forecast.optionsFromParams("SES", 3, Map("seasonal_period" -> "7")))
    }
    assert(e3.getMessage.contains("does not use seasonal_period"))
  }
}
