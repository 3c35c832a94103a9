package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.SimilarityOps

/** Batch ≡ stream for the cross-corpus similarity join: the static corpus
  * A (assigned to its centroids once) is the stream-static join's static
  * side, and incoming B rows probe map-side against the broadcast
  * centroid table — so the IDENTICAL [[SimilarityOps.similarityJoin]]
  * call runs over a streaming B source (live candidate pairing against a
  * fixed reference corpus: new crawl pages against a curated index).
  * Pairs must not depend on micro-batch boundaries. */
class SimilarityStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-simjoin-stream")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("streamed B-side pairs equal the batch join regardless of micro-batching") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    // 4 well-separated clusters in 8 dims (the IvfSpec fixture)
    def vec(i: Int): Seq[Double] = {
      val c = i % 4
      Seq.tabulate(8)(d => (if (d == 2 * c || d == 2 * c + 1) 10.0 else 0.0) +
        math.sin(i * 13.7 + d * 2.39) * 0.8)
    }
    val a = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "v")
    val bRows = (40 until 80).map(i => (i.toLong, vec(i)))
    val cents = SimilarityOps.ivfTrain(a, "vec_id", "v", nLists = 4, iters = 1)

    val input = MemoryStream[(Long, Seq[Double])]
    val streamed = SimilarityOps.similarityJoin(a,
      input.toDF().toDF("vec_id", "v"), "vec_id", "v", cents,
      minSim = 0.9, nProbe = 2)
    val query = streamed.writeStream.format("memory").queryName("sj_out")
      .outputMode("append").start()
    try {
      input.addData(bRows.take(15): _*)
      query.processAllAvailable()
      input.addData(bRows.drop(15): _*)
      query.processAllAvailable()
    } finally query.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val got = sp.sql("SELECT * FROM sj_out").collect().map(key).toSet
    val want = SimilarityOps.similarityJoin(a, bRows.toDF("vec_id", "v"),
      "vec_id", "v", cents, minSim = 0.9, nProbe = 2).collect().map(key).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }
}
