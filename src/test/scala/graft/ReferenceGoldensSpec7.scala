package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{TsCvOp, TsForecastOp, TsPrep}
import graft.types.Frequency

/** Seventh golden batch — the last portable sqllogictest files:
  * ts_integer_frequency.test (frequency-format flexibility),
  * ts_fill_forward_operator.test (extension-row contracts),
  * ts_hydrate_split.test (leakage-safe hydration), and the
  * ts_table_macro_aliases.test row-count contracts at the transformer level.
  *
  * Known-wrong reference expectation, deliberately NOT ported: the weekly
  * fill_gaps block (ts_integer_frequency.test:69-73) expects a single output
  * row, but the macro is a thin wrapper over _ts_fill_gaps_native →
  * gaps.rs::fill_gaps_fixed (gaps.rs:112-141), which always re-emits every
  * observed row and inserts `prev + k·freq` stamps only when a gap exceeds
  * the frequency — on the 4-row fixture with a 7-day frequency that is 4
  * rows, not 1. We match the implementation, which ts_gaps.test pins
  * (ported in ReferenceGoldensSpec3). */
class ReferenceGoldensSpec7 extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-reference-goldens-7")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** ts_integer_frequency.test:13-18 fixture: A @ Jan 1,2,4,5. */
  private def freqTest: DataFrame = {
    val sp = spark
    import sp.implicits._
    Seq(("A", "2023-01-01", 10.0), ("A", "2023-01-02", 20.0),
      ("A", "2023-01-04", 30.0), ("A", "2023-01-05", 40.0))
      .toDF("id", "d", "val").select(col("id"), col("d").cast(DateType).as("date"), col("val"))
  }

  test("frequency formats parse equivalently: polars, INTERVAL, raw integer (ts_integer_frequency.test:24-67)") {
    val d1 = Frequency.parse("1d")
    for (s <- Seq("1 day", "1")) {
      val f = Frequency.parse(s)
      assert(f.micros == d1.micros, s"'$s' must equal 1d in micros")
    }
    assert(Frequency.parse("7").micros == Frequency.parse("7d").micros)
    assert(Frequency.parse("1 hour").micros == Frequency.parse("1h").micros)
  }

  test("fill_gaps accepts every frequency style with identical output (ts_integer_frequency.test:24-67)") {
    for (freq <- Seq("1d", "1 day", "1")) {
      val out = TsPrep.fillGapsBy(freqTest, "id", "date", "val", freq)
        .orderBy(col("date")).collect()
      assert(out.length == 5, s"'$freq': 5 rows (4 observed + Jan 3)")
      val jan3 = out(2)
      assert(jan3.getDate(1).toString == "2023-01-03" && jan3.isNullAt(2),
        s"'$freq': inserted Jan 3 with NULL value")
    }
    // 7-day frequency: every gap < 7d → nothing inserted (gaps.rs:112-141)
    assert(TsPrep.fillGapsBy(freqTest, "id", "date", "val", "7").count() == 4)
  }

  test("fill_forward accepts every frequency style (ts_integer_frequency.test:76-96)") {
    for (freq <- Seq("1d", "1 day", "1")) {
      val n = TsPrep.fillForwardBy(freqTest, "id", "date", "val", "2023-01-07", freq).count()
      assert(n == 6, s"'$freq': 4 observed + Jan 6 + Jan 7 = 6 rows, got $n")
    }
  }

  test("forecast accepts every frequency style (ts_integer_frequency.test:117-137)") {
    for (freq <- Seq("1d", "1 day", "1")) {
      val n = TsForecastOp.forecastBy(freqTest, "id", "date", "val", "naive", 2, freq).count()
      assert(n == 2, s"'$freq': horizon-2 naive forecast")
    }
  }

  /** ts_fill_forward_operator.test fixture: A Jan1-5 = 10..14,
    * B Jan1-5 = 100,105,110,115,120. */
  private def twoGroupSeries: DataFrame = {
    val sp = spark
    import sp.implicits._
    val a = (0 until 5).map(i => ("A", s"2024-01-0${i + 1}", 10.0 + i))
    val b = (0 until 5).map(i => ("B", s"2024-01-0${i + 1}", 100.0 + 5 * i))
    (a ++ b).toDF("id", "d", "value")
      .select(col("id"), col("d").cast(DateType).as("ds"), col("value"))
  }

  test("fill_forward extension contracts (ts_fill_forward_operator.test)") {
    val out = TsPrep.fillForwardBy(twoGroupSeries, "id", "ds", "value", "2024-01-10", "1d")
    assert(out.count() == 20, "5 observed + 5 extension rows per group")
    assert(out.filter(col("value").isNotNull).count() == 10, "originals preserved")
    assert(out.filter(col("value").isNull).count() == 10, "extension rows carry NULL")
    assert(out.select(col("id")).distinct().count() == 2)
    assert(out.filter(col("id") === "A").count() == 10)
    assert(out.filter(col("id") === "B").count() == 10)
    assert(out.filter(col("value").isNull &&
      col("ds") <= lit("2024-01-05").cast(DateType)).count() == 0,
      "filled dates all after the last observed date")
    assert(out.filter(col("ds") > lit("2024-01-10").cast(DateType)).count() == 0,
      "no dates past the target")
    // A: 10+11+12+13+14 = 60, B: 100+105+110+115+120 = 550
    val total = out.agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs(total - 610.0) < 1e-9, s"original values preserved exactly, sum $total")
  }

  test("hydration masks unknown features on test rows (ts_hydrate_split.test)") {
    val features = twoGroupSeries.withColumn("temperature", col("value") * 2 + 1)
    val folds = TsCvOp.cvFoldsBy(twoGroupSeries, "id", "ds", "value", 1, 2)
    val hydrated = TsCvOp.cvHydrateBy(folds, features.drop("value"), "id", "ds",
      Seq("temperature"))
    assert(hydrated.filter(col("split") === "test" && col("temperature").isNotNull).count() == 0,
      "test rows must have the unknown feature nulled (leakage-safe)")
    assert(hydrated.filter(col("split") === "train" && col("temperature").isNull).count() == 0,
      "train rows keep the feature")
    // the split column and fold id survive, feature is a direct column
    assert(hydrated.columns.contains("temperature") && hydrated.columns.contains("split"))
  }

  test("table-macro row-count contracts at the transformer level (ts_table_macro_aliases.test)") {
    val sp = spark
    import sp.implicits._
    val sixty = (0 until 60).map(i => ("series1", i, 100.0 + i))
      .toDF("id", "off", "value")
      .select(col("id"), date_add(lit("2023-01-01").cast(DateType), col("off")).as("ds"),
        col("value"))
    assert(TsForecastOp.forecastBy(sixty, "id", "ds", "value", "Naive", 3, "1d").count() == 3)
    assert(TsPrep.fillGapsBy(sixty, "id", "ds", "value", "1d").count() == 60)
    // the alias file expects 60 here, but the dedicated behavior file
    // (ts_fill_forward_operator.test: 5 observed + 5 extension per group)
    // pins target-INCLUSIVE extension — last date 2023-03-01 to 2023-03-10
    // is 9 extension rows, so the internally-consistent count is 69
    assert(TsPrep.fillForwardBy(sixty, "id", "ds", "value", "2023-03-10", "1d").count() == 69)
    assert(TsPrep.fillNullsForwardBy(sixty, "id", "ds", "value").count() == 60)
    assert(TsPrep.diffBy(sixty, "id", "ds", "value").count() == 60)
    assert(TsPrep.dropShortBy(sixty, "id", 100).count() == 0, "60 < 100 → series dropped")
  }
}
