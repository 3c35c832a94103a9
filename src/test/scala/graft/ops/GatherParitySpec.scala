package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pinned rows of the operators whose series gather carries more than
  * `(ds, y)`: the backtest (null-ds rows count toward fold positions), the
  * CV forecast (train and test rows of a fold in one series), the
  * metric tables (several value columns, null dates sorting first) and the
  * exogenous forecast (history and future regressors, groups on one side
  * only). Each case's rows are rendered in full precision and compared with
  * the rows these operators gave when each gathered through its own
  * `sort_array(collect_list(struct(...)))` (the CV forecast: when it joined
  * its test-row counts to its train-row gather), so any change in gather order,
  * null handling or group matching shows as a changed row. */
class GatherParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-gather-parity")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def day(i: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))

  /** Rows rendered and sorted; doubles print in full. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Every case of a test is checked before the test fails, each changed
    * case printing its rows. */
  private def checkAll(cases: (String, Seq[String], Seq[String])*): Unit = {
    val changed = cases.filter { case (_, got, want) => got != want }.map { case (name, got, _) =>
      s"$name rows changed; got:\n${got.map(r => s"      \"$r\",").mkString("\n")}"
    }
    assert(changed.isEmpty, changed.mkString("\n"))
  }

  /** Group "a": two null-ds rows and 12 days; group "b": three null-ds rows
    * and 9 days, one with a null y. */
  private def backtestInput: DataFrame = {
    val s = spark
    import s.implicits._
    val a = Seq[(String, Option[java.sql.Date], Option[Double])](
      ("a", None, Some(7.0)), ("a", None, None)) ++
      (0 until 12).map(i => ("a", Some(day(i)), Some((i % 5) + 1.5 * (i % 3))))
    val b = Seq[(String, Option[java.sql.Date], Option[Double])](
      ("b", None, Some(1.0)), ("b", None, Some(-2.0)), ("b", None, None)) ++
      (0 until 9).map(i => ("b", Some(day(i)), if (i == 4) None else Some(10.0 - i)))
    (a ++ b).toDF("g", "ds", "y").repartition(3)
  }

  test("backtestAutoBy: null-ds rows count toward fold positions") {
    val df = backtestInput
    checkAll(
      ("expanding", rows(TsCvOp.backtestAutoBy(df, "g", "ds", "y", 2, 4, "1d",
        Map("method" -> "Naive"), "rmse")), Seq(
        "[1,a,2024-01-05,3.0,5.5,2.5,2.5,-0.4907126779498765,6.490712677949876,Naive,1.7677669529663689]",
        "[1,a,2024-01-06,3.0,3.0,0.0,0.0,-1.9366132115044215,7.9366132115044215,Naive,1.7677669529663689]",
        "[2,a,2024-01-07,3.0,1.0,-2.0,2.0,-0.5183076739945429,6.518307673994543,Naive,1.3228756555322954]",
        "[2,a,2024-01-08,3.0,3.5,0.5,0.5,-1.9756384291644205,7.9756384291644205,Naive,1.3228756555322954]",
        "[2,b,2024-01-04,8.0,7.0,-1.0,1.0,6.399666701381657,9.600333298618343,Naive,1.3228756555322954]",
        "[2,b,2024-01-05,8.0,null,null,null,5.736786944776667,10.263213055223332,Naive,1.3228756555322954]",
        "[3,a,2024-01-09,3.5,6.0,2.5,2.5,0.12513055808080198,6.8748694419191985,Naive,2.207940216581962]",
        "[3,a,2024-01-10,3.5,4.0,0.5,0.5,-1.272786136000649,8.272786136000649,Naive,2.207940216581962]",
        "[3,b,2024-01-06,7.0,5.0,-2.0,2.0,4.714266857220642,9.285733142779357,Naive,2.207940216581962]",
        "[3,b,2024-01-07,7.0,4.0,-3.0,3.0,3.767485189515754,10.232514810484247,Naive,2.207940216581962]",
        "[4,a,2024-01-11,4.0,1.5,-2.5,2.5,0.46520099581319885,7.534799004186802,Naive,1.6770509831248424]",
        "[4,a,2024-01-12,4.0,4.0,0.0,0.0,-0.9989606919838856,8.998960691983886,Naive,1.6770509831248424]",
        "[4,b,2024-01-08,4.0,3.0,-1.0,1.0,0.08000000000000007,7.92,Naive,1.6770509831248424]",
        "[4,b,2024-01-09,4.0,2.0,-2.0,2.0,-1.5437171645025325,9.543717164502532,Naive,1.6770509831248424]")),
      // fold 1's test window (positions 1-2) starts in group a's null-ds rows;
      // its train window holds no dated row, so the fold gives no rows
      ("into the null-ds rows", rows(TsCvOp.backtestAutoBy(df, "g", "ds", "y", 2, 5, "1d",
        Map("method" -> "Naive", "initial_train_size" -> "1", "skip_length" -> "2"), "mae")), Seq(
        "[3,a,2024-01-04,5.0,3.0,-2.0,2.0,0.9991667534541424,9.000833246545858,Naive,1.25]",
        "[3,a,2024-01-05,5.0,5.5,0.5,0.5,-0.6580326380583328,10.658032638058334,Naive,1.25]",
        "[4,a,2024-01-06,5.5,3.0,-2.5,2.5,1.6492109899398537,9.350789010060147,Naive,3.0]",
        "[4,a,2024-01-07,5.5,1.0,-4.5,4.5,0.05416195613567609,10.945838043864324,Naive,3.0]",
        "[4,b,2024-01-05,7.0,null,null,null,4.808653382050206,9.191346617949794,Naive,3.0]",
        "[4,b,2024-01-06,7.0,5.0,-2.0,2.0,3.9009678930349883,10.099032106965012,Naive,3.0]",
        "[5,a,2024-01-08,1.0,3.5,2.5,2.5,-2.5802793187124373,4.580279318712437,Naive,2.625]",
        "[5,a,2024-01-09,1.0,6.0,5.0,5.0,-4.063279569607034,6.063279569607034,Naive,2.625]",
        "[5,b,2024-01-07,5.0,4.0,-1.0,1.0,1.6526627497865314,8.347337250213469,Naive,2.625]",
        "[5,b,2024-01-08,5.0,3.0,-2.0,2.0,0.2661502629114496,9.733849737088551,Naive,2.625]")),
      ("sliding", rows(TsCvOp.backtestAutoBy(df, "g", "ds", "y", 1, 3, "1d",
        Map("method" -> "SES", "window_type" -> "sliding", "min_train_size" -> "4"), "coverage")), Seq(
        "[1,a,2024-01-10,3.7109999999999994,4.0,0.2890000000000006,0.2890000000000006,0.2202873220501229,7.201712677949876,SES,0.5]",
        "[1,b,2024-01-07,6.532999999999999,4.0,-2.5329999999999986,2.5329999999999986,4.341653382050205,8.724346617949791,SES,0.5]",
        "[2,a,2024-01-11,3.317499999999999,1.5,-1.817499999999999,1.817499999999999,-0.1732126779498775,6.808212677949875,SES,0.5]",
        "[2,b,2024-01-08,5.5329999999999995,3.0,-2.5329999999999995,2.5329999999999995,3.3416533820502057,7.724346617949793,SES,0.5]",
        "[3,a,2024-01-12,3.3724999999999996,4.0,0.6275000000000004,0.6275000000000004,0.2349691236579039,6.510030876342095,SES,0.5]",
        "[3,b,2024-01-09,4.1899999999999995,2.0,-2.1899999999999995,2.1899999999999995,2.5648538527258538,5.815146147274145,SES,0.5]")))
  }

  /** Group "a" has null-date rows (one with a null actual); "b" has a NaN
    * forecast and a repeated date. */
  private def metricInput: DataFrame = {
    val s = spark
    import s.implicits._
    Seq[(String, Option[java.sql.Date], Option[Double], Option[Double], Option[Double])](
      ("a", None, Some(3.3), Some(2.9), Some(3.0)), ("a", None, None, Some(1.7), Some(1.0)),
      ("a", Some(day(0)), Some(1.1), Some(1.4), Some(0.9)), ("a", Some(day(2)), Some(2.6), Some(2.2), Some(2.0)),
      ("a", Some(day(1)), Some(0.7), Some(0.1), Some(1.3)), ("a", Some(day(3)), Some(5.9), Some(6.3), Some(4.4)),
      ("b", Some(day(0)), Some(4.0), Some(Double.NaN), Some(4.5)), ("b", Some(day(1)), Some(4.2), Some(3.9), Some(4.0)),
      ("b", Some(day(1)), Some(4.1), Some(4.4), Some(4.2)), ("b", None, Some(0.3), Some(0.2), Some(0.1)),
      ("b", Some(day(2)), Some(3.3), Some(3.0), Some(3.9))
    ).toDF("g", "d", "actual", "forecast", "baseline").repartition(3)
  }

  test("metricBy and maseBy: null-date rows sort first and count") {
    val df = metricInput
    def metric(m: String) = rows(TsMetricsOp.metricBy(df.drop("baseline"), "d", "actual", "forecast", m))
    checkAll(
      ("mae", metric("mae"), Seq(
        "[a,0.4199999999999998]",
        "[b,0.2500000000000002]")),
      ("rmse", metric("rmse"), Seq(
        "[a,0.43127717305695634]",
        "[b,0.2645751311064593]")),
      ("smape", metric("smape"), Seq(
        "[a,42.025453904459724]",
        "[b,15.99751011515718]")),
      ("r2", metric("r2"), Seq(
        "[a,0.945829450139795]",
        "[b,0.9720767888307155]")),
      ("bias", metric("bias"), Seq(
        "[a,-0.14000000000000012]",
        "[b,-0.09999999999999984]")),
      ("mase", rows(TsMetricsOp.maseBy(df, "d", "actual", "forecast", "baseline")), Seq(
        "[a,0.6562499999999997]",
        "[b,0.9090909090909093]")))
  }

  /** Group "a" has history and future rows, "b" history only, "c" future
    * only. */
  private def exogInputs: (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    val hist = (0 until 20).flatMap { i =>
      val x = (i % 4) + 1.0
      Seq(("a", day(i), 10.0 + 3.0 * x + 0.5 * i + (i % 3) * 0.25, x),
        ("b", day(i), 5.0 + x, x))
    }.toDF("g", "ds", "y", "x1").repartition(3)
    val future = (0 until 4).flatMap { i =>
      Seq(("a", day(20 + i), ((20 + i) % 4) + 1.0), ("c", day(20 + i), 2.0))
    }.toDF("g", "ds", "x1").repartition(2)
    (hist, future)
  }

  test("forecastExogBy: a group with no future rows, or only future rows, gives no rows") {
    val (hist, future) = exogInputs
    def exog(m: String) = rows(TsExogOp.forecastExogBy(hist, "g", "ds", "y", Seq("x1"), future,
      "ds", Seq("x1"), m, 4, "1d"))
    checkAll(
      ("AutoARIMA", exog("AutoARIMA"), Seq(
        "[a,1,2024-01-21,21.184534399463445,15.609570300924332,26.759498498002554,ARIMAX]",
        "[a,2,2024-01-22,24.60443365945468,16.720243821557574,32.48862349735179,ARIMAX]",
        "[a,3,2024-01-23,28.02934009012499,18.373219021082825,37.685461159167154,ARIMAX]",
        "[a,4,2024-01-24,31.458919849781104,20.30899165270288,42.60884804685932,ARIMAX]")),
      ("Naive", exog("Naive"), Seq(
        "[a,1,2024-01-21,31.75,22.27705036696595,41.22294963303405,Naive]",
        "[a,2,2024-01-22,31.75,18.35322615328601,45.14677384671399,Naive]",
        "[a,3,2024-01-23,31.75,15.342369938044072,48.15763006195593,Naive]",
        "[a,4,2024-01-24,31.75,12.804100733931897,50.6958992660681,Naive]")))
  }

  /** Hand-built folds. Fold 1: group "a" has a null-ds train row, a
    * duplicate last train ds and a null-ds test row; "b" has test rows
    * only, "c" train rows only, and a null group has both. Fold 2: group
    * "a" on a longer train window. */
  private def cvFoldsInput: DataFrame = {
    val s = spark
    import s.implicits._
    def rows(fold: Long, g: String, days: Seq[Int], split: String) =
      days.map(i => (fold, g, Option(day(i)), Option((i % 4) + 0.5 * i), split))
    val a = rows(1, "a", 0 until 10, "train") ++ rows(1, "a", Seq(10, 11), "test") ++ Seq(
      (1L, "a", None, Some(30.0), "train"), (1L, "a", Some(day(9)), Some(2.0), "train"),
      (1L, "a", None, Some(5.0), "test"))
    val others = rows(1, "b", Seq(5, 6), "test") ++ rows(1, "c", 0 until 8, "train") ++
      rows(1, null, 0 until 8, "train") ++ rows(1, null, Seq(8, 9), "test") ++
      rows(2, "a", 0 until 12, "train") ++ rows(2, "a", Seq(12, 13), "test")
    (a ++ others).toDF("fold_id", "g", "ds", "y", "split").repartition(3)
  }

  /** The test rows carry the predictions; train rows pass through. */
  test("cvForecastBy: null-ds rows, one-sided folds, duplicate ds and a null group") {
    val folds = cvFoldsInput
    def cv(m: String) = rows(TsCvOp.cvForecastBy(folds, "g", "ds", "y", m).filter("split = 'test'"))
    checkAll(
      ("Naive", cv("Naive"), Seq(
        "[1,a,2024-01-11,7.0,test,5.5,0.38832417380893425,10.611675826191066,Naive]",
        "[1,a,2024-01-12,8.5,test,5.5,-0.7604987523438709,11.76049875234387,Naive]",
        "[1,a,null,5.0,test,5.5,1.88549936007295,9.11450063992705,Naive]",
        "[1,b,2024-01-06,3.5,test,null,null,null,null]",
        "[1,b,2024-01-07,5.0,test,null,null,null,null]",
        "[1,null,2024-01-09,4.0,test,null,null,null,null]",
        "[1,null,2024-01-10,5.5,test,null,null,null,null]",
        "[2,a,2024-01-13,6.0,test,8.5,3.9121065109718742,13.087893489028126,Naive]",
        "[2,a,2024-01-14,7.5,test,8.5,2.0117388050932057,14.988261194906794,Naive]")),
      // the null-ds train row (y = 30) would move every SES level
      ("SES", cv("SES"), Seq(
        "[1,a,2024-01-11,7.0,test,4.115283537149999,-0.9963922890410668,9.226959363341065,SES]",
        "[1,a,2024-01-12,8.5,test,4.115283537149999,-2.145215215193872,10.37578228949387,SES]",
        "[1,a,null,5.0,test,4.115283537149999,0.5007828972229489,7.729784177077049,SES]",
        "[1,b,2024-01-06,3.5,test,null,null,null,null]",
        "[1,b,2024-01-07,5.0,test,null,null,null,null]",
        "[1,null,2024-01-09,4.0,test,null,null,null,null]",
        "[1,null,2024-01-10,5.5,test,null,null,null,null]",
        "[2,a,2024-01-13,6.0,test,6.260198476005,1.672304986976874,10.848091965033126,SES]",
        "[2,a,2024-01-14,7.5,test,6.260198476005,-0.22806271890179453,12.748459670911794,SES]")))
  }
}
