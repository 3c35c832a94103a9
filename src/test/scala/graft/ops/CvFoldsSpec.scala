package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `cvFoldsBy`'s fold geometry over a case matrix of every fold parameter,
  * against the policy written out per position, and the CV parameter
  * errors. */
class CvFoldsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val jobs = new AtomicInteger()

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-cv-folds")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Group name → its rows' y in ds order; y identifies a row. Group "nul"
    * has one null-ds row, which sorts first. */
  private val groups: Seq[(String, Int)] = Seq("n1" -> 1, "n2" -> 2, "n5" -> 5, "n13" -> 13, "nul" -> 6)

  private def input: DataFrame = {
    val s = spark
    import s.implicits._
    groups.zipWithIndex.flatMap { case ((g, n), gi) =>
      (0 until n).map { pos =>
        val ds = if (g == "nul" && pos == 0) None
          else Some(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(pos)))
        (g, ds, gi * 100.0 + pos)
      }
    }.toDF("g", "ds", "y").repartition(3)
  }

  /** The reference's fold policy (ts_cv_folds_native.cpp:523-650) for one
    * group of `n` rows: `(fold_id, position, split)` for every row of every
    * fold that fits. */
  private def expected(n: Int, nFolds: Int, horizon: Int, window: String, clip: Boolean,
                       gap: Int, init: Option[Int], skip: Option[Int],
                       minTrain: Int): Seq[(Long, Int, String)] = {
    val fixed = window != "expanding"
    val firstTrain = init.getOrElse {
      val auto = math.max(n - horizon * nFolds, 1)
      if (fixed) math.max(auto, minTrain) else auto
    }
    val step = skip.getOrElse(horizon)
    for {
      f <- 1 to nFolds
      if n >= 2 && (!fixed || n >= minTrain)
      trainLen = firstTrain + (f - 1) * step
      testFrom = trainLen + gap
      if (!fixed || trainLen >= minTrain) &&
        (if (clip) testFrom < n else testFrom + horizon <= n)
      trainFrom = if (fixed) math.max(trainLen - minTrain, 0) else 0
      pos <- 0 until n
      split <- (if (pos >= trainFrom && pos < trainLen) Some("train")
        else if (pos >= testFrom && pos < testFrom + horizon) Some("test")
        else None).toSeq
    } yield (f.toLong, pos, split)
  }

  test("cvFoldsBy: every window type, clip, gap, initial size, skip and minimum train size") {
    val df = input.cache()
    val nFolds = 3
    val horizon = 2
    val cases = for {
      window <- Seq("expanding", "fixed", "sliding")
      clip <- Seq(false, true)
      gap <- Seq(0, 1)
      init <- Seq(None, Some(3))
      skip <- Seq(None, Some(1))
      minTrain <- Seq(1, 4)
    } yield (window, clip, gap, init, skip, minTrain)
    val faults = cases.flatMap { case c @ (window, clip, gap, init, skip, minTrain) =>
      val params = Map("window_type" -> window, "clip_horizon" -> clip.toString,
        "gap" -> gap.toString, "min_train_size" -> minTrain.toString) ++
        init.map(i => "initial_train_size" -> i.toString) ++ skip.map(k => "skip_length" -> k.toString)
      val got = TsCvOp.cvFoldsBy(df, "g", "ds", "y", nFolds, horizon, params).collect()
        .map(r => (r.getString(0), r.getDouble(2).toInt % 100, r.getLong(3), r.getString(4)))
        .sorted.toSeq
      val want = groups.flatMap { case (g, n) =>
        expected(n, nFolds, horizon, window, clip, gap, init, skip, minTrain)
          .map { case (f, pos, split) => (g, pos, f, split) }
      }.sorted
      if (got == want) None
      else Some(s"$c:\n  got  ${got.mkString(" ")}\n  want ${want.mkString(" ")}")
    }
    df.unpersist()
    assert(faults.isEmpty, faults.mkString("\n"))
  }

  test("CV parameters fail with an error that names the key, before any job runs") {
    val df = input
    def message(body: => Any): String = {
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      jobs.set(0)
      val e = intercept[IllegalArgumentException](body)
      org.apache.spark.GraftTestBridge.drainListeners(spark.sparkContext)
      assert(jobs.get == 0, s"a job ran before '${e.getMessage}'")
      e.getMessage
    }
    def folds(params: (String, String)*) =
      message(TsCvOp.cvFoldsBy(df, "g", "ds", "y", 2, 2, params.toMap))
    def backtest(horizon: Int, nFolds: Int, params: (String, String)*) =
      message(TsCvOp.backtestAutoBy(df, "g", "ds", "y", horizon, nFolds, "1d",
        Map("method" -> "Naive") ++ params))
    assert(folds("gap" -> "x").contains("'gap'"))
    assert(folds("clip_horizon" -> "yes").contains("'clip_horizon'"))
    assert(folds("window_type" -> "rolling").contains("'window_type'"))
    assert(folds("min_train_size" -> "2.5").contains("'min_train_size'"))
    assert(backtest(2, 2, "skip_length" -> "one").contains("'skip_length'"))
    assert(backtest(2, 2, "window_type" -> "rolling").contains("'window_type'"))
    assert(message(TsCvOp.cvFoldsBy(df, "g", "ds", "y", 2, 0)).contains("horizon"))
    assert(message(TsCvOp.cvFoldsBy(df, "g", "ds", "y", 0, 2)).contains("n_folds"))
    assert(backtest(0, 2).contains("horizon"))
    assert(backtest(2, 0).contains("n_folds"))
  }
}
