package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.Changepoint
import graft.ops.TsChangepointOp

/** Port of test/sql/ts_changepoints.test: the BOCPD scalar contract — output
  * array shapes, constant-series behavior, GH#50 boundary conditions (first/
  * last observations never artificially flagged), minimum input length, and
  * detection of a planted level shift. Plus the `peltBy` argument contract:
  * bad arguments fail at call time, before any job runs.
  */
class ChangepointContractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[1]")
    .config("spark.ui.enabled", "false")
    .appName("graft-changepoint-contract")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val shift = Array(1.0, 1.0, 1.0, 1.0, 10.0, 10.0, 10.0, 10.0)
  private val flat = Array.fill(8)(5.0)
  private val noisy = Array(50.1, 50.2, 50.3, 50.1, 50.4, 50.2, 50.3, 50.1)

  test("output arrays match input length (:14-41)") {
    val r = Changepoint.bocpd(shift, 250.0)
    assert(r.isChangepoint.length == 8)
    assert(r.probability.length == 8)
  }

  test("constant series has no changepoints (:46-51)") {
    val r = Changepoint.bocpd(flat, 250.0)
    assert(r.isChangepoint.forall(!_))
  }

  test("first and last observations never flagged (GH#50, :53-105)") {
    Seq(flat, noisy, shift).foreach { xs =>
      val r = Changepoint.bocpd(xs, 250.0)
      assert(!r.isChangepoint.head, xs.mkString(","))
      assert(!r.isChangepoint.last, xs.mkString(","))
    }
  }

  test("stable-series probabilities stay low away from the start (:88-99)") {
    val r = Changepoint.bocpd(flat, 250.0)
    assert(r.probability(4) < 0.1)
    assert(r.probability(7) < 0.1)
  }

  test("minimum input is 3 points; 3 identical points → no changepoints (:120-160)") {
    intercept[Exception](Changepoint.bocpd(Array(5.0), 250.0))
    intercept[Exception](Changepoint.bocpd(Array(5.0, 10.0), 250.0))
    val r = Changepoint.bocpd(Array(5.0, 5.0, 5.0), 250.0)
    assert(r.isChangepoint.length == 3 && r.isChangepoint.forall(!_))
  }

  test("planted level shift is detected at the break") {
    val long = Array.fill(30)(1.0) ++ Array.fill(30)(10.0)
    val r = Changepoint.bocpd(long, 250.0)
    // a changepoint is flagged within 2 positions of the true break (30)
    assert(r.isChangepoint.zipWithIndex.exists { case (b, i) => b && math.abs(i - 30) <= 2 },
      r.isChangepoint.zipWithIndex.filter(_._1).map(_._2).mkString(","))
  }

  test("peltBy rejects an unknown cost and minSize < 1 at call time, before any action") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1, java.sql.Date.valueOf("2024-01-01"), 1.0)).toDF("g", "ds", "y")
    // no action is ever run: each failure must come from the call itself
    val badCost = intercept[IllegalArgumentException](
      TsChangepointOp.peltBy(df, "g", "ds", "y", costFn = "l3"))
    assert(badCost.getMessage.contains("Unknown cost function 'l3'"))
    Seq(0, -1).foreach { m =>
      val e = intercept[IllegalArgumentException](
        TsChangepointOp.peltBy(df, "g", "ds", "y", minSize = m))
      assert(e.getMessage.contains(s"minSize must be >= 1, got $m"))
    }
    TsChangepointOp.peltBy(df, "g", "ds", "y", costFn = "NORMAL", minSize = 1)
  }

  test("pelt kernel rejects minSize < 1 when called directly") {
    Seq(0, -1).foreach { m =>
      val e = intercept[IllegalArgumentException](Changepoint.pelt(shift, minSize = m))
      assert(e.getMessage.contains(s"minSize must be >= 1, got $m"))
    }
    assert(Changepoint.pelt(shift, minSize = 1).toSeq == Seq(4))
  }

  test("bayesianBy rejects a NaN or infinite hazardRate at call time; finite rates clamp at 0.001") {
    val sp = spark
    import sp.implicits._
    val base = java.time.LocalDate.parse("2024-01-01")
    val ys = Array.fill(20)(1.0) ++ Array.fill(20)(10.0)
    val df = ys.indices.map(i => (1, java.sql.Date.valueOf(base.plusDays(i)), ys(i)))
      .toDF("g", "ds", "y")
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { h =>
      val e = intercept[IllegalArgumentException](
        TsChangepointOp.bayesianBy(df, "g", "ds", "y", hazardRate = h))
      assert(e.getMessage.contains(s"hazardRate must be finite, got $h"))
    }
    // the reference's max(h, 0.001): zero, negative and tiny rates all run
    // as 0.001 (λ = 1000)
    def run(h: Double) = TsChangepointOp.bayesianBy(df, "g", "ds", "y", hazardRate = h)
      .orderBy("changepoint_index").collect().toSeq
    val clamped = run(0.001)
    Seq(0.0, -1.0, 1e-6).foreach(h => assert(run(h) == clamped, s"hazardRate $h"))
  }
}
