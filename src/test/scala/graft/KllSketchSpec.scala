package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.QuantileOps

/** Round-9: the mergeable quantile sketch
  * ([[graft.functions.KllQuantileSketch]] via
  * [[QuantileOps.scoreQuantilesSketch]]).
  *
  * Two regimes, two kinds of gate. EXACT (capacity ≥ rankable rows): no
  * compaction fires, each returned value must be the literal order
  * statistic at rank ⌈q·n⌉ over the 6-decimal-rounded score with
  * max_rank_err = 0, regardless of partitioning — the regime the driver
  * rows hash-gate. APPROXIMATE (rows ≫ capacity): estimates are
  * partition-layout dependent by sketch nature, so the pins are the
  * order-independent INVARIANTS — the returned value's true rank is
  * within the REPORTED max_rank_err of the target rank, and the bound
  * stays well under n. */
class KllSketchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-kll-sketch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Exact ⌈q·n⌉ order statistic over the 6-decimal-rounded scores. */
  private def orderStat(scores: Seq[Double], q: Double): Double = {
    val sorted = scores.map(v => math.rint(v * 1e6) / 1e6).sorted
    val target = math.max(1L, math.ceil(q * sorted.size).toLong).toInt
    sorted(target - 1)
  }

  test("exact regime: order statistics at every q, max_rank_err 0, partition-invariant") {
    val sess = spark; import sess.implicits._
    val rng = new scala.util.Random(11)
    val scores = Seq.fill(500)(rng.nextDouble() * 100.0 - 20.0)
    val qs = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    for (parts <- Seq(1, 7)) {
      val df = scores.toDF("score").repartition(parts)
      val got = QuantileOps.scoreQuantilesSketch(df, "score", qs, capacity = 1024)
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      assert(got.map(_._1) == qs.sorted, s"parts=$parts")
      assert(got.forall(_._3 == 500L))
      assert(got.forall(_._4 == 0L), "no compaction may fire below capacity")
      got.foreach { case (q, v, _, _) =>
        assert(v == orderStat(scores, q), s"q=$q parts=$parts")
      }
    }
  }

  test("null and NaN scores are dropped; rounding happens before ranking") {
    val sess = spark; import sess.implicits._
    val df = Seq[java.lang.Double](1.0000004, 1.0000006, null,
      Double.NaN, 5.0, 3.0).toDF("score")
    val got = QuantileOps.scoreQuantilesSketch(df, "score", Seq(0.25, 1.0),
        capacity = 64)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    // 4 rankable rows; rounded values (1.0, 1.000001, 3.0, 5.0)
    assert(got.toSeq == Seq((0.25, 1.0, 4L), (1.0, 5.0, 4L)))
  }

  test("randomized exact-regime sweep: sketch == order statistics over random corpora") {
    val sess = spark; import sess.implicits._
    val rng = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val n = 1 + rng.nextInt(400)
      // duplicate-heavy grid so ties are exercised
      val scores = Seq.fill(n)((rng.nextInt(40) - 10) * 0.25)
      val qs = Seq.fill(1 + rng.nextInt(5))(rng.nextDouble()).map(q =>
        math.max(1e-6, q)).distinct
      val parts = 1 + rng.nextInt(6)
      val df = scores.toDF("score").repartition(parts)
      val got = QuantileOps.scoreQuantilesSketch(df, "score", qs,
          capacity = n + 1).collect()
      assert(got.length == qs.length, s"trial=$trial")
      assert(got.forall(_.getLong(3) == 0L), s"trial=$trial")
      got.foreach { r =>
        assert(r.getDouble(1) == orderStat(scores, r.getDouble(0)),
          s"trial=$trial q=${r.getDouble(0)} n=$n parts=$parts")
      }
    }
  }

  test("grouped exact regime: per-group order statistics") {
    val sess = spark; import sess.implicits._
    val rng = new scala.util.Random(3)
    val rows = (0 until 300).map(i =>
      (if (i % 3 == 0) "web" else "books", rng.nextDouble() * 10.0))
    val df = rows.toDF("src", "score").repartition(5)
    val got = QuantileOps.scoreQuantilesSketchBy(df, "src", "score",
        Seq(0.5, 0.9), capacity = 512)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    val expected = Seq("books", "web").flatMap { g =>
      val scores = rows.filter(_._1 == g).map(_._2)
      Seq(0.5, 0.9).map(q => (g, q, orderStat(scores, q), scores.size.toLong, 0L))
    }.sorted
    assert(got == expected)
  }

  test("approximate regime: reported bound holds against true ranks on a skewed corpus") {
    val sess = spark; import sess.implicits._
    val rng = new scala.util.Random(19)
    // heavy-tailed scores: most mass near 0, a long positive tail
    val scores = Seq.fill(20000)(-math.log(1.0 - rng.nextDouble()))
    val rounded = scores.map(v => math.rint(v * 1e6) / 1e6).sorted
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    for (parts <- Seq(1, 8)) {
      val df = scores.toDF("score").repartition(parts)
      val got = QuantileOps.scoreQuantilesSketch(df, "score", qs, capacity = 128)
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2),
          r.getLong(3))).toSeq
      got.foreach { case (q, v, n, err) =>
        assert(n == 20000L)
        assert(err > 0L, "compactions must have fired at this capacity")
        assert(err < n / 4, s"bound must stay far below n, got $err")
        val target = math.max(1L, math.ceil(q * n).toLong)
        val rankLe = rounded.count(_ <= v).toLong // highest rank v can claim
        val rankLt = rounded.count(_ < v).toLong  // lowest rank v can claim
        assert(rankLe >= target - err && rankLt <= target + err,
          s"q=$q v=$v target=$target rankLe=$rankLe rankLt=$rankLt err=$err parts=$parts")
      }
    }
  }

  test("streaming: sketch state merges across micro-batches; complete mode equals batch") {
    val sess = spark; import sess.implicits._
    implicit val sqlCtx = sess.sqlContext
    val rng = new scala.util.Random(23)
    val scores = Seq.fill(600)(rng.nextDouble() * 50.0)
    val qs = Seq(0.25, 0.5, 0.95)
    val batch = QuantileOps.scoreQuantilesSketch(scores.toDF("score"), "score",
        qs, capacity = 1024)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2),
        r.getLong(3))).toSet
    val stream = MemoryStream[Double]
    val q = QuantileOps.scoreQuantilesSketch(
        stream.toDF().withColumnRenamed("value", "score"), "score", qs,
        capacity = 1024)
      .writeStream.format("memory").queryName("kll_stream").outputMode("complete")
      .start()
    // three micro-batches: the typed buffer must round-trip the state
    // store (serialize/deserialize) and merge with later batches' partials
    scores.grouped((scores.size + 2) / 3).foreach { chunk =>
      stream.addData(chunk: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = sess.table("kll_stream").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
  }
}
