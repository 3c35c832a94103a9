package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{SampleOps, SimilarityOps}

/** The kNN-graph plan that [[SimilarityOps.knnGraphWithCentroids]]
  * replaced, kept as its executable specification: the assignment and the
  * probes are computed separately ([[SimilarityOps.ivfAssign]],
  * [[SimilarityOps.probeSelection]]), each side packs into bounded chunks
  * in its own aggregate (after its own histogram), and the probe packs join
  * the list packs on centroid_id before [[graft.functions.ChunkPairTopK]]
  * scores each (probe chunk, list chunk) pair. */
object KnnGraphPackedJoin {
  import SimilarityOps._

  def graph(df: DataFrame, idCol: String, vecCol: String, k: Int,
            centroids: DataFrame, nProbe: Int): DataFrame = {
    val idType = df.schema(idCol).dataType
    val assigned = ivfAssign(df, idCol, vecCol, centroids)
    val probes = probeSelection(df, idCol, vecCol, nProbe, centroids)
    val hist = assigned.groupBy(col("centroid_id")).agg(count(lit(1)).as("_ln"))
    val packed = assigned
      .filter(col("_cv").isNotNull)
      .withColumn("_vl", col("vid").cast(LongType))
      .join(broadcast(hist), Seq("centroid_id"))
      .withColumn("_chunk", SampleOps.hashBucket(col("_vl"), ListChunkSeed) %
        ceil(col("_ln").cast(DoubleType) / PackChunkSize).cast(LongType))
      .groupBy(col("centroid_id"), col("_chunk"))
      .agg(collect_list(struct(col("_vl").as("vid"),
        sqrt(dot(col("_cv"), col("_cv"))).as("nrm"),
        col("_cv").as("vec"))).as("_pk"))
      .select(col("centroid_id"), col("_pk.vid").as("_pids"),
        col("_pk.nrm").as("_pnrms"), flatten(col("_pk.vec")).as("_pflat"),
        transform(col("_pk.vec"), v => size(v)).as("_plens"))
    val probeHist = probes.groupBy(col("centroid_id")).agg(count(lit(1)).as("_qn"))
    val qpacked = probes
      .filter(col("_qv").isNotNull)
      .withColumn("_ql", col("qid").cast(LongType))
      .join(broadcast(probeHist), Seq("centroid_id"))
      .withColumn("_qchunk", SampleOps.hashBucket(col("_ql"), ProbeChunkSeed) %
        ceil(col("_qn").cast(DoubleType) / ProbeChunkSize).cast(LongType))
      .groupBy(col("centroid_id"), col("_qchunk"))
      .agg(collect_list(struct(col("_ql").as("qid"), col("_qv").as("qv"))).as("_qp"))
      .select(col("centroid_id"), col("_qp.qid").as("_qids"),
        flatten(col("_qp.qv")).as("_qflat"),
        transform(col("_qp.qv"), v => size(v)).as("_qlens"))
    qpacked.join(packed, Seq("centroid_id"))
      .select(explode(chunkPairTopK(col("_qids"), col("_qflat"), col("_qlens"),
        col("_pids"), col("_pnrms"), col("_pflat"), col("_plens"), k,
        excludeSelf = true)).as("_h"))
      .select(col("_h.qid").as("_qidL"), col("_h.vid").as("vid"), col("_h.sim").as("sim"))
      .groupBy(col("_qidL"))
      .agg(topKAgg(col("vid"), col("sim"), k).as("_top"))
      .select(col("_qidL"), explode(col("_top")).as("_t"))
      .select(col("_qidL").cast(idType).as("qid"),
        col("_t.vid").cast(idType).as("vid"), col("_t.sim").as("sim"))
  }
}

/** The grid-aggregate kNN graph is bit-identical to the packed-join form it
  * replaced ([[KnnGraphPackedJoin]]): lists split into several list chunks
  * (> 1,024 members) and several probe chunks (> 256 probes), null and
  * zero-norm vectors, exact sim ties, lists smaller than k, pruned probing
  * and a non-long id type. */
class KnnGraphGridSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-knn-grid")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** (qid, vid, raw sim bits), sorted: exact equality, signed zero included. */
  private def bits(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("qid").cast(LongType), col("vid").cast(LongType), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq.sorted

  /** `n` vectors around three directions in 6 dims, most of them near the
    * first so its list passes 1,024 members; every 50th id repeats the
    * vector of the id before it (exact sim ties); plus null and zero-norm
    * vectors. */
  private def corpus(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val dirs = Seq(Array(1.0, 0, 0, 0, 0, 0), Array(0, 1.0, 0, 0, 0, 0), Array(0, 0, 1.0, 1.0, 0, 0))
    var prev: Seq[Double] = Nil
    val rows = (0 until n).map { i =>
      val d = if (i % 10 < 8) dirs(0) else dirs(1 + i % 2)
      val v: Seq[Double] =
        if (i % 50 == 1 && prev.nonEmpty) prev
        else d.map(x => x + rnd.nextGaussian() * 0.3).toSeq
      prev = v
      (i.toLong, Option(v))
    } ++ Seq((n.toLong, None), (n + 1L, Some(Seq.fill(6)(0.0))), (n + 2L, Some(Seq.fill(6)(-0.0))))
    rows.toDF("id", "vec")
  }

  private def centroids(df: DataFrame, nLists: Int): DataFrame =
    SimilarityOps.ivfTrain(df.filter(col("vec").isNotNull), "id", "vec", nLists, iters = 1)

  test("grid aggregate == packed join: lists over 1,024 members and 256 probes, ties, null and zero vectors") {
    val df = corpus(2600).cache()
    val cents = centroids(df, 3).cache()
    val lists = SimilarityOps.ivfAssign(df, "id", "vec", cents)
      .groupBy("centroid_id").count().collect().map(_.getLong(1))
    assert(lists.max > 1024, s"a list must span several list chunks: ${lists.toSeq}")
    // at nProbe = 3 every vector probes every list: 2,600 > 256 probes each
    for (nProbe <- Seq(3, 1)) {
      val got = SimilarityOps.knnGraphWithCentroids(df, "id", "vec", 5, cents, nProbe)
      if (nProbe == 3) assert(got.count() == 2600L * 5)
      assert(bits(got) == bits(KnnGraphPackedJoin.graph(df, "id", "vec", 5, cents, nProbe)),
        s"nProbe=$nProbe")
    }
    df.unpersist(); cents.unpersist()
  }

  test("k larger than a list, int ids: the graph returns the list minus self, as before") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val df = (0 until 60).map { i =>
      (i, Seq.tabulate(4)(d => (if (d == i % 4) 5.0 else 0.0) + rnd.nextGaussian()))
    }.toDF("id", "vec")
    val cents = centroids(df, 4)
    val got = SimilarityOps.knnGraphWithCentroids(df, "id", "vec", 50, cents, 1)
    assert(got.schema("qid").dataType == org.apache.spark.sql.types.IntegerType)
    val perQuery = got.groupBy("qid").count().collect().map(_.getLong(1))
    assert(perQuery.max < 50, "a list smaller than k returns fewer than k neighbours")
    assert(bits(got) == bits(KnnGraphPackedJoin.graph(df, "id", "vec", 50, cents, 1)))
  }
}
