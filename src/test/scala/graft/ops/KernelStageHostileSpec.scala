package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Every [[Series.mapKernel]] operator ([[KernelStageOps]]), and the
  * backtest, CV forecast, exogenous forecast and metric table, which
  * gather more than `(ds, y)`, on one healthy 60-point group next to one
  * hostile group: a single point, all-null y, NaN y, ±Inf y or duplicate ds. No task may fail or run past the time limit,
  * and the healthy group's rows must equal its rows from the healthy group
  * alone: a hostile series is isolated by the skip rule, never able to
  * abort, stall or change a neighbour. The keyless `forecastSingle` runs on
  * each hostile series alone. */
class KernelStageHostileSpec extends AnyFunSuite with BeforeAndAfterAll with TimeLimits {

  private var spark: SparkSession = _
  private val failedTasks = new AtomicInteger()
  private implicit val signaler: Signaler = ThreadSignaler

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-kernel-stage-hostile")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) failedTasks.incrementAndGet()
    })
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Hostile groups named "x", each beside (or instead of) the healthy "h". */
  private def hostile: Seq[(String, DataFrame)] = {
    val base = KernelStageOps.healthy(spark, "x")
    val i = datediff(col("ds"), lit("2024-01-01").cast("date"))
    def withY(y: org.apache.spark.sql.Column) = base.withColumn("y", y)
    val idx = spark.range(60).select(lit("x").as("g"),
      date_add(lit("2024-01-01").cast("date"), (col("id") / 2).cast("int")).as("ds"),
      (col("id") % 7).cast("double").as("y"))
    Seq(
      "single point" -> base.limit(1),
      "all-null y" -> withY(lit(null).cast("double")),
      "NaN y" -> withY(when(i === 0 || i === 30, lit(Double.NaN)).otherwise(col("y"))),
      "±Inf y" -> withY(when(i === 10, lit(Double.PositiveInfinity))
        .when(i === 40, lit(Double.NegativeInfinity)).otherwise(col("y"))),
      "duplicate ds" -> idx)
  }

  /** Collected rows, sorted, rendered (so NaN cells compare equal), with no
    * failed task and within the time limit. */
  private def run(what: String, df: => DataFrame): Seq[String] = {
    org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
    failedTasks.set(0)
    val rows = failAfter(120.seconds)(df.collect().toSeq.map(_.toString).sorted)
    org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
    assert(failedTasks.get == 0, s"$what: ${failedTasks.get} task(s) failed")
    rows
  }

  /** The backtest without its fold score, which aggregates every group;
    * the CV forecast over two folds; the exogenous forecast with a day-of-week regressor and the 7 days after
    * each group's last ds as its future; the rmse of y against a shifted
    * forecast. */
  private val gatherOps: Seq[(String, DataFrame => DataFrame)] = Seq(
    "backtestAutoBy" -> (df => TsCvOp.backtestAutoBy(df, "g", "ds", "y", 7, 2, "1d",
      Map("method" -> "AutoETS", "seasonal_period" -> "7"))
      .select("g", "fold_id", "ds", "yhat", "actual", "yhat_lower", "yhat_upper", "model_name")),
    "cvForecastBy" -> (df => TsCvOp.cvForecastBy(TsCvOp.cvFoldsBy(df, "g", "ds", "y", 2, 7),
      "g", "ds", "y", "AutoETS", Map("seasonal_period" -> "7"))
      .select("g", "fold_id", "ds", "y", "split", "yhat", "yhat_lower", "yhat_upper", "model_name")),
    "forecastExogBy" -> { df =>
      def withX(d: DataFrame) = d.withColumn("x", dayofweek(col("ds")).cast("double"))
      val future = df.groupBy("g").agg(max("ds").as("last"))
        .select(col("g"), explode(sequence(date_add(col("last"), 1), date_add(col("last"), 7))).as("ds"))
      TsExogOp.forecastExogBy(withX(df), "g", "ds", "y", Seq("x"), withX(future), "ds", Seq("x"),
        "AutoARIMA", 7)
    },
    "metricBy" -> (df => TsMetricsOp.metricBy(df.withColumn("f", col("y") * 0.9 + 1.0), "ds", "y",
      "f", "rmse")))

  (KernelStageOps.keyed ++ gatherOps).foreach { case (name, op) =>
    test(s"$name: a hostile group neither fails a task nor changes the healthy group's rows") {
      val healthy = KernelStageOps.healthy(spark, "h")
      val alone = run(s"$name on the healthy group", op(healthy))
      assert(alone.nonEmpty, s"$name: the healthy group must give rows")
      hostile.foreach { case (kind, x) =>
        val mixed = run(s"$name beside $kind", op(healthy.unionByName(x)))
        assert(mixed.filter(_.startsWith("[h,")) == alone,
          s"$name: the healthy group's rows changed beside $kind")
      }
    }
  }

  KernelStageOps.keyless.foreach { case (name, op) =>
    test(s"$name: a hostile series fails no task") {
      assert(run(s"$name on the healthy series",
        op(KernelStageOps.healthy(spark, "h").drop("g"))).length == 1)
      hostile.foreach { case (kind, x) =>
        assert(run(s"$name on $kind", op(x.drop("g"))).length <= 1, kind)
      }
    }
  }

  test("mapKernel skip rule: InsufficientData and ComputationError skip the series, other errors abort") {
    import graft.kernels.Forecast
    // y carries the group's fate: 0 ok, 1 too short, 2 no fit, 3 invalid
    val fates = Seq("ok", "short", "failed", "invalid")
    val df = fates.zipWithIndex.map { case (g, fate) =>
      KernelStageOps.healthy(spark, g, 5).withColumn("y", lit(fate.toDouble))
    }.reduce(_ unionByName _)
    def run(groups: String*): Seq[String] =
      Series.mapKernel(df.filter(col("g").isin(groups: _*)), Seq("g"), "ds", "y") { s =>
        fates(s.vs.head.toInt) match {
          case "short" => throw new Forecast.InsufficientData(10, 5)
          case "failed" => throw new Forecast.ComputationError("no fit")
          case "invalid" => throw new Forecast.InvalidInput("bad params")
          case _ => Seq(s.ts.length)
        }
      }.collect().map(r => s"${r.getString(0)}:${r.getInt(1)}").toSeq
    assert(run("ok", "short", "failed") == Seq("ok:5"))
    val e = intercept[org.apache.spark.SparkException](run("ok", "invalid"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[Forecast.InvalidInput]), e)
  }

  test("data-independent argument errors are raised at call time, before any action") {
    import graft.kernels.Forecast
    val df = KernelStageOps.healthy(spark, "h")
    def rejects[E <: Throwable](op: => DataFrame, msg: String)
                              (implicit ct: scala.reflect.ClassTag[E]): Unit = {
      val e = intercept[E](op)
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    rejects[Forecast.InvalidInput](TsForecastOp.forecastExplainBy(df, "g", "ds", "y",
      "AutoETS", 7), "does not implement Explainable")
    rejects[Forecast.InvalidInput](TsForecastOp.forecastInspectBy(df, "g", "ds", "y",
      "Naive"), "does not implement Inspectable")
    Seq(0, -7).foreach(p => rejects[IllegalArgumentException](
      TsDecompositionOp.classifySeasonalityBy(df, "g", "ds", "y", p), "period must be positive"))
    Seq(0.0, -1.0, Double.NaN).foreach(p => rejects[IllegalArgumentException](
      TsDecompositionOp.analyzePeakTimingBy(df, "g", "ds", "y", p), "period must be positive"))
    rejects[IllegalArgumentException](TsDecompositionOp.mstlDecompositionBy(df, "g", "ds", "y",
      Nil), "periods must not be empty")
    rejects[IllegalArgumentException](TsDecompositionOp.mstlDecompositionBy(df, "g", "ds", "y",
      Seq(7), insufficientData = "bogus"), "insufficientData must be fail|nan|skip")
  }
}
