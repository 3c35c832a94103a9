package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.SimilarityOps

/** IVF index contracts: exhaustive probing reproduces brute force exactly,
  * pruned probing keeps high recall on clustered data while touching a
  * fraction of the lists, and training never collects corpus rows.
  */
class IvfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-ivf")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 4 well-separated clusters in 8 dims, 20 vectors each, deterministic. */
  private def clustered: DataFrame = {
    val s = spark
    import s.implicits._
    (0 until 80).map { i =>
      val c = i % 4
      val base = Array.tabulate(8)(d => if (d == 2 * c || d == 2 * c + 1) 10.0 else 0.0)
      val jitter = Array.tabulate(8)(d => math.sin(i * 13.7 + d * 2.39) * 0.8)
      (i.toLong, base.zip(jitter).map { case (b, j) => (b + j).toFloat })
    }.toDF("vec_id", "embedding")
  }

  private def resultSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("qid").cast("long"), col("vid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exhaustive probing equals brute force exactly") {
    val corpus = clustered
    val queries = corpus.filter(col("vec_id") < 8)
    val brute = resultSet(SimilarityOps.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5))
    val ivf = resultSet(SimilarityOps.ivfTopK(corpus, queries, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 8))
    assert(ivf == brute)
  }

  test("similarityJoin: exhaustive probing equals the brute-force threshold join; pruned is a subset") {
    val corpus = clustered
    // halves, NOT parity: i % 4 assigns clusters, so parity would give the
    // two sides disjoint clusters and an empty reference join
    val a = corpus.filter(col("vec_id") < 40)
    val b = corpus.filter(col("vec_id") >= 40)
    val cents = SimilarityOps.ivfTrain(a, "vec_id", "embedding", nLists = 4, iters = 1)
    def pairs(df: DataFrame) = df.select(col("id_a").cast("long"),
        col("id_b").cast("long"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute-force reference: every cross pair, rounded cosine, threshold
    val av = a.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val bv = b.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(x: Seq[Double], y: Seq[Double]) = {
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(p => p * p).sum))
    }
    val brute = (for ((ia, va) <- av; (ib, vb) <- bv; s = r6(cos(va, vb))
      if s >= 0.9) yield (ia, ib, s)).toSet
    val full = pairs(SimilarityOps.similarityJoin(a, b, "vec_id", "embedding",
      cents, minSim = 0.9, nProbe = 4))
    assert(full == brute, "nProbe = nLists must equal brute force")
    assert(brute.nonEmpty, "fixture must produce same-cluster pairs")
    val pruned = pairs(SimilarityOps.similarityJoin(a, b, "vec_id", "embedding",
      cents, minSim = 0.9, nProbe = 1))
    assert(pruned.subsetOf(full))
    // on well-separated clusters one probe already recovers everything
    assert(pruned == full)
  }

  test("pruned probing keeps high recall on clustered data") {
    val corpus = clustered
    val queries = corpus.filter(col("vec_id") < 8)
    val brute = resultSet(SimilarityOps.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5))
    val ivf = resultSet(SimilarityOps.ivfTopK(corpus, queries, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 3))
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.8, f"recall $recall%.3f")
  }

  test("centroid table has nLists rows of the right dimension") {
    val c = SimilarityOps.ivfTrain(clustered, "vec_id", "embedding", nLists = 8)
    val rows = c.collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getSeq[Double](1).length == 8))
    // Lloyd iterations moved centroids toward cluster centers: every cluster
    // axis pair is dominant in at least one centroid
    val dominantAxes = rows.map(_.getSeq[Double](1).zipWithIndex.maxBy(_._1)._2 / 2).toSet
    assert(dominantAxes.size >= 3, s"axes $dominantAxes")
  }

  test("zero-norm rows are excluded from the index and the Lloyd update") {
    val s = spark
    import s.implicits._
    // same scoring contract as cosine: a degenerate all-zero vector has no
    // defined direction, so it must be dropped, not indexed at dot == 0.0
    val corpus = clustered.unionByName(
      Seq((999L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding"))
    val centroids = SimilarityOps.ivfTrain(corpus, "vec_id", "embedding", nLists = 8)
    val assigned = SimilarityOps.ivfAssign(corpus, "vec_id", "embedding", centroids)
    assert(assigned.filter(col("vid") === 999L).isEmpty,
      "the zero vector must not be assigned to any list")
    // and with the zero row present, training still matches the clean corpus
    val clean = SimilarityOps.ivfTrain(clustered, "vec_id", "embedding", nLists = 8)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val dirty = centroids.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(clean == dirty, "the zero vector must not skew the Lloyd means")
  }

  test("a zero seed centroid is left out of the pack: ivfTrain and the kNN graph run, not fail") {
    val s = spark
    import s.implicits._
    val packed = SimilarityOps.packedCentroids(
      Seq((1, Seq(0.0, 0.0)), (2, Seq(3.0, 4.0))).toDF("centroid_id", "centroid"))
      .select(explode(col("_cents")).as("c"))
      .collect().map(r => r.getStruct(0)).map(c => c.getInt(0) -> c.getSeq[Double](1)).toMap
    assert(packed == Map(2 -> Seq(0.6, 0.8)))
    // vector 0 is all zeros, and ivfTrain seeds with the first nLists ids, so
    // centroid 1 starts as the zero vector (an ANSI divide by zero before)
    val corpus = clustered.filter(col("vec_id") =!= 0L).unionByName(
      Seq((0L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding"))
    val centroids = SimilarityOps.ivfTrain(corpus, "vec_id", "embedding", nLists = 4)
    assert(centroids.count() == 4)
    val graph = SimilarityOps.knnGraph(corpus, "vec_id", "embedding", k = 5,
      nLists = 4, nProbe = 4)
      .select(col("qid").cast("long"), col("vid").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!graph.exists { case (q, v) => q == 0L || v == 0L },
      "the zero vector has no direction: it neither queries nor is found")
    val perQuery = graph.groupBy(_._1).map { case (q, es) => q -> es.length }
    assert(perQuery.keySet == (1L until 80L).toSet && perQuery.values.forall(_ == 5),
      s"every other vector keeps its k = 5 neighbours: $perQuery")
  }

  test("a zero centroid wins no row: exhaustive probing still equals brute force") {
    val s = spark
    import s.implicits._
    // vector 500 has a negative dot with every non-zero centroid, so a zero
    // centroid scoring 0 would take it into a list that no query probes
    val corpus = clustered.unionByName(
      Seq((500L, Array.fill(8)(-1.0f))).toDF("vec_id", "embedding"))
    val centroids = ((1, Seq.fill(8)(0.0)) +: (0 until 4).map { c =>
      (c + 2, Seq.tabulate(8)(d => if (d == 2 * c || d == 2 * c + 1) 10.0 else 0.0))
    }).toDF("centroid_id", "centroid")
    val queries = corpus.filter(col("vec_id") < 8 || col("vec_id") === 500L)
    val brute = resultSet(SimilarityOps.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5))
    val ivf = resultSet(SimilarityOps.ivfProbe(corpus, queries, "vec_id", "embedding",
      k = 5, nProbe = 5, centroids = centroids))
    assert(brute.contains((500L, 500L)))
    assert(ivf == brute)
  }

  test("persisted index: probe-from-disk equals in-memory probe AND the scan is partition-pruned") {
    val corpus = clustered
    val queries = corpus.filter(col("vec_id") < 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    SimilarityOps.ivfWriteIndex(corpus, "vec_id", "embedding", nLists = 8, dir)
    // nLists=8 partition dirs on disk — the inverted lists ARE the layout
    val listDirs = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).length
    assert(listDirs == 8, s"expected 8 list partitions, found $listDirs")
    val fromDisk = SimilarityOps.ivfProbeIndex(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 3)
    val inMem = SimilarityOps.ivfTopK(corpus, queries, "vec_id", "embedding",
      k = 5, nLists = 8, nProbe = 3)
    assert(resultSet(fromDisk) == resultSet(inMem),
      "the persisted index must answer exactly like the in-memory index")
    // the probed-centroid isin filter must reach the scan as a PARTITION
    // filter (reads nProbe/nLists of the corpus), not a post-read filter.
    // Unwrap AQE: AdaptiveSparkPlanExec hides its subtree from collect
    val phys = fromDisk.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = phys.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("lists") => s
    }
    assert(scans.nonEmpty, "expected a parquet scan of the lists layout")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "the probed-centroid set must prune list partitions at the scan")
  }

  test("int8 quantization: bounded error, zero-vector safety, cosine survives") {
    val corpus = clustered
    val q = SimilarityOps.quantizeEmbeddings(corpus, "embedding")
    val deq = SimilarityOps.dequantizeEmbeddings(q, "qvec", "qvec_scale", "deq")
    // roundtrip error ≤ scale/2 per component (symmetric rounding bound)
    val bad = deq.select(col("embedding").cast("array<double>").as("a"),
        col("deq"), col("qvec_scale"))
      .withColumn("err", expr(
        "aggregate(zip_with(a, deq, (x, y) -> abs(x - y)), 0.0D, (m, e) -> greatest(m, e))"))
      .filter(col("err") > col("qvec_scale") / 2 + 1e-12)
      .count()
    assert(bad == 0, "per-component error must be bounded by scale/2")
    // cosine is scale-invariant, so quantized vectors can be scored WITHOUT
    // dequantizing: top-k over int8 recovers the exact top-k on this fixture
    val qCorpus = q.select(col("vec_id"), col("qvec").cast("array<double>").as("embedding"))
    val qQueries = qCorpus.filter(col("vec_id") < 8)
    val exact = resultSet(SimilarityOps.bruteForceTopK(
      corpus, corpus.filter(col("vec_id") < 8), "vec_id", "embedding", 5))
    val quantized = resultSet(SimilarityOps.bruteForceTopK(
      qCorpus, qQueries, "vec_id", "embedding", 5))
    val recall = (quantized intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, f"int8 top-k recall $recall%.3f")
    // an all-zero vector quantizes to scale 0 and dequantizes to zeros
    val s = spark
    import s.implicits._
    val z = SimilarityOps.quantizeEmbeddings(
      Seq((1L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding"), "embedding")
    val zr = SimilarityOps.dequantizeEmbeddings(z, "qvec", "qvec_scale", "deq")
      .select("deq").head().getSeq[Double](0)
    assert(zr.forall(_ == 0.0))
  }

  test("a mis-dimensioned vector fails fast instead of skewing the mean") {
    val s = spark
    import s.implicits._
    val ragged = clustered.unionByName(
      Seq((998L, Array.fill(5)(1.0f))).toDF("vec_id", "embedding"))
    val err = intercept[Exception] {
      SimilarityOps.ivfTrain(ragged, "vec_id", "embedding", nLists = 8).collect()
    }
    assert(err.getMessage.contains("8-dimensional") ||
      Option(err.getCause).exists(_.getMessage.contains("8-dimensional")))
  }
}
