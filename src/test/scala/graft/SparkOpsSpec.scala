package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.kernels.Conformal
import graft.llm.MultimodalOps
import graft.streaming.StreamingForecast

/** Integration tests that exercise the Spark plumbing itself (streaming
  * state, multimodal batching, CV tagging) on a local session. */
class SparkOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-test")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("multimodal: metadata + stubbed decode + embeddings are deterministic") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "hello world"), (2L, "spark multimodal payload"), (3L, ""))
      .toDF("doc_id", "text")
    val media = MultimodalOps.demoMediaTable(docs, "doc_id", "text")
    assert(media.schema("media_meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val decoded = MultimodalOps.decodeImages(media, "payload")
    val rows = decoded.orderBy("doc_id").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Int]("width") > 0 && rows(0).getAs[Double]("mean_luma") > 0)
    // deterministic across runs
    val again = MultimodalOps.decodeImages(media, "payload").orderBy("doc_id").collect()
    assert(rows(0).getAs[Double]("mean_luma") == again(0).getAs[Double]("mean_luma"))
    val emb = MultimodalOps.extractEmbeddings(media, "payload", dim = 8)
    val v = emb.orderBy("doc_id").collect()(0).getAs[scala.collection.Seq[Float]]("embedding")
    assert(v.length == 8 && math.abs(v.map(x => x * x).sum - 1.0) < 1e-5)
  }

  test("streaming: stateful per-key forecast emits after enough history") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[StreamingForecast.InPoint]
    val out = StreamingForecast.statefulForecast(input.toDS(), "SES", horizon = 2)
    val query = out.writeStream.format("memory").queryName("fc_out")
      .outputMode("append").start()
    try {
      input.addData((1 to 6).map(i =>
        StreamingForecast.InPoint("a", i.toLong * 86400000000L, 10.0 + i)): _*)
      query.processAllAvailable()
      val rows = spark.sql("SELECT * FROM fc_out").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[String]("key") == "a")
      assert(rows(0).getAs[Int]("n_obs") == 6)
      assert(rows(0).getAs[scala.collection.Seq[Double]]("yhat").length == 2)
      // second batch extends the state
      input.addData(StreamingForecast.InPoint("a", 7L * 86400000000L, 20.0))
      query.processAllAvailable()
      val rows2 = spark.sql("SELECT * FROM fc_out ORDER BY n_obs").collect()
      assert(rows2.last.getAs[Int]("n_obs") == 7)
    } finally query.stop()
  }

  test("streaming: rolling windowed forecast refreshes per (group, window)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val events = input.toDF().toDF("g", "ts", "y")
    val out = StreamingForecast.rollingForecast(events, "g", "ts", "y",
      method = "SES", horizon = 2, watermark = "1 hour", windowLen = "1 day")
    val query = out.writeStream.format("memory").queryName("rolling_out")
      .outputMode("update").start()
    try {
      def t(day: Int, hour: Int) =
        java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
      // six points inside one day window for group a, three for group b
      input.addData((1 to 6).map(h => ("a", t(1, h), 10.0 + h)) ++
        (1 to 3).map(h => ("b", t(1, h), 5.0 + h)): _*)
      query.processAllAvailable()
      val rows = spark.sql("SELECT * FROM rolling_out").collect()
      val a = rows.filter(_.getAs[String]("g") == "a")
      assert(a.nonEmpty, "group a must emit a windowed forecast")
      val last = a.maxBy(_.getAs[Long]("n_obs"))
      assert(last.getAs[Long]("n_obs") == 6)
      assert(last.getAs[String]("model_name") == "SES")
      assert(last.getAs[scala.collection.Seq[Double]]("point_forecast").length == 2)
      // a second day's data lands in a NEW window without disturbing day 1
      input.addData((1 to 4).map(h => ("a", t(2, h), 20.0 + h)): _*)
      query.processAllAvailable()
      val windows = spark.sql("SELECT DISTINCT window_start FROM rolling_out WHERE g = 'a'")
        .collect()
      assert(windows.length == 2, "two event-time windows for group a")
    } finally query.stop()
  }

  test("conformal learn/apply v2 round trip") {
    val residuals = Array(1.0, -2.0, 0.5, 3.0, -1.5, 2.0, -0.5, 1.2)
    val profile = Conformal.conformalLearn(residuals, Array(0.1, 0.5), "symmetric", "split")
    val (lo, hi) = Conformal.conformalApply(Array(100.0, 101.0), profile)
    assert(lo.length == 2 && lo(0).length == 2)
    // tighter alpha → wider interval
    assert(hi(0)(0) - lo(0)(0) >= hi(1)(0) - lo(1)(0))
    val adaptive = Conformal.conformalLearn(residuals, Array(0.1), "asymmetric", "adaptive")
    assert(adaptive.upperMargins(0) > 0 && adaptive.lowerMargins(0) > 0)
  }
}
