package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{PqOps, SimilarityOps}

/** Round-9: product-quantization ANN (train / encode / ADC top-k /
  * persisted index). Pins the three native expressions against their
  * plain-Scala executable specs, the exactness case (corpus == codebook ⇒
  * PQ top-k ≡ brute force), Lloyd error monotonicity, recall sanity on
  * clustered data, encode partition invariance, and the persisted round
  * trip incl. version fail-fast. */
class PqOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-pq-ops")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Plain-Scala executable specs of the three native expressions. */
  private def encodeRef(v: Array[Double], model: PqOps.PqModel): Array[Int] =
    Array.tabulate(model.m) { s =>
      val base = s * model.subDim
      var best = 0
      var bestD = Double.PositiveInfinity
      for (c <- 0 until model.nCodes) {
        var acc = 0.0
        for (i <- 0 until model.subDim) {
          val d = v(base + i) - model.cents(s)(c)(i)
          acc += d * d
        }
        if (acc < bestD) { bestD = acc; best = c }
      }
      best
    }

  private def lutRef(q: Array[Double], model: PqOps.PqModel): Array[Double] =
    Array.tabulate(model.m * model.nCodes) { j =>
      val s = j / model.nCodes
      val c = j % model.nCodes
      var acc = 0.0
      for (i <- 0 until model.subDim) acc += q(s * model.subDim + i) * model.cents(s)(c)(i)
      acc
    }

  private def adcRef(codes: Array[Int], lut: Array[Double], m: Int, nCodes: Int): Double = {
    var acc = 0.0
    for (s <- 0 until m) acc += lut(s * nCodes + codes(s))
    acc
  }

  private def randVec(rng: scala.util.Random, dim: Int): Array[Double] =
    Array.fill(dim)(rng.nextDouble() * 2 - 1)

  /** Clustered corpus: nClusters anchor points, members = anchor + noise. */
  private def clustered(seed: Long, n: Int, dim: Int, nClusters: Int,
                        noise: Double): Seq[(Long, Seq[Double])] = {
    val rng = new scala.util.Random(seed)
    val anchors = Seq.fill(nClusters)(randVec(rng, dim))
    (0 until n).map { i =>
      val a = anchors(i % nClusters)
      (i.toLong, a.map(_ + rng.nextDouble() * noise).toSeq)
    }
  }

  test("native expressions match their plain-Scala executable specs") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(3)
    val dim = 12
    val (m, nCodes) = (3, 7)
    val cents = Array.tabulate(m, nCodes)((_, _) => randVec(rng, dim / m))
    val model = PqOps.PqModel(cents, m, dim / m, nCodes)
    val vecs = (0 until 200).map(i => (i.toLong, randVec(rng, dim).toSeq))
    val df = vecs.toDF("vid", "v")
    val enc = PqOps.pqEncode(df, model, "v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    vecs.foreach { case (vid, v) =>
      assert(enc(vid) === encodeRef(v.toArray, model).toSeq,
        s"encode mismatch for $vid")
    }
    // LUT + ADC through a real plan
    val q = vecs.take(5)
    val scored = PqOps.pqTopK(df, q.toDF("vid", "v"), model, "vid", "v",
      k = vecs.size)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    q.foreach { case (qid, qv) =>
      val lut = lutRef(qv.toArray, model)
      vecs.foreach { case (vid, v) =>
        val expected = BigDecimal(adcRef(encodeRef(v.toArray, model),
          lut, m, nCodes)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(scored((qid, vid)) - expected) < 1e-12,
          s"adc mismatch for ($qid, $vid)")
      }
    }
  }

  test("exactness: when the corpus IS the codebook, PQ top-k == exact dot top-k") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(7)
    val dim = 16
    val vecs = (0 until 24).map(i => (i.toLong, randVec(rng, dim).toSeq))
    val df = vecs.toDF("vid", "v")
    // nCodes = corpus size, iters = 0: every vector is its own centroid in
    // every subspace => quantization is lossless => ADC == exact dot
    val model = PqOps.pqTrain(df, "vid", "v", m = 4, nCodes = 24, iters = 0)
    val pq = PqOps.pqTopK(df, df.filter(col("vid") < 3), model, "vid", "v", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = vecs.take(3).flatMap { case (qid, qv) =>
      vecs.map { case (vid, v) =>
        val dot = qv.zip(v).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
        (qid, vid,
          BigDecimal(dot).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(t => (-t._3, t._2)).take(5)
    }
    assert(pq.sortBy(t => (t._1, -t._3, t._2)).toSeq ===
      exact.sortBy(t => (t._1, -t._3, t._2)).toSeq)
  }

  test("Lloyd iterations never increase quantization error") {
    val sp = spark
    import sp.implicits._
    val df = clustered(11, n = 300, dim = 8, nClusters = 6, noise = 0.1)
      .toDF("vid", "v")
    val errs = (0 to 3).map { it =>
      PqOps.pqTrain(df, "vid", "v", m = 2, nCodes = 6, iters = it)
        .quantizationError(df, "v")
    }
    errs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-12, s"error increased across an iteration: $errs")
    }
    assert(errs.last < errs.head, s"Lloyd refinement did nothing: $errs")
  }

  test("cluster recall on clustered data: PQ retrieves from the query's own cluster") {
    val sp = spark
    import sp.implicits._
    // PQ quantizes within-cluster noise away by design, so exact-rank
    // recall over near-tied cluster members is not the right assertion —
    // the structural guarantee is that retrieval lands in the RIGHT
    // cluster (the same contract SemDeDup/IVF rely on).
    val data = clustered(13, n = 400, dim = 16, nClusters = 8, noise = 0.05)
    val df = data.toDF("vid", "v")
    val queries = data.take(8).toDF("vid", "v")
    val model = PqOps.pqTrain(df, "vid", "v", m = 4, nCodes = 16, iters = 2)
    val pq = PqOps.pqTopK(df, queries, model, "vid", "v", k = 10)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // exact top-10 is all same-cluster here (anchors are well separated)
    val sameCluster = data.take(8).map { case (qid, _) =>
      val hits = pq(qid)
      qid -> hits.count(v => v % 8 == qid % 8).toDouble / hits.size
    }
    val mean = sameCluster.map(_._2).sum / sameCluster.size
    assert(mean > 0.9, s"cluster recall too low: $sameCluster")
  }

  test("encode is partition-invariant; dim mismatch fails fast") {
    val sp = spark
    import sp.implicits._
    val data = clustered(17, n = 100, dim = 8, nClusters = 4, noise = 0.2)
    val df = data.toDF("vid", "v")
    val model = PqOps.pqTrain(df, "vid", "v", m = 2, nCodes = 4, iters = 1)
    val a = PqOps.pqEncode(df.repartition(1), model, "v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    val b = PqOps.pqEncode(df.repartition(7), model, "v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    assert(a === b)
    val bad = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("vid", "v")
    val e = intercept[Exception] { PqOps.pqEncode(bad, model, "v").collect() }
    assert(e.getMessage != null)
  }

  test("ivf-pq composed index: exhaustive probe == pqTopK; pruned probe reads fewer partitions") {
    val sp = spark
    import sp.implicits._
    val data = clustered(29, n = 300, dim = 16, nClusters = 8, noise = 0.05)
    val df = data.toDF("vid", "v")
    val queries = data.take(5).toDF("vid", "v")
    val model = PqOps.pqTrain(df, "vid", "v", m = 4, nCodes = 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-index").toString
    PqOps.ivfPqWriteIndex(df, "vid", "v", model, nLists = 8, dir, iters = 1)
    // exhaustive probing ≡ the flat PQ search over the same model
    val exhaustive = PqOps.ivfPqProbeIndex(spark, dir, queries, "vid", "v",
      k = 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val flat = PqOps.pqTopK(df, queries, model, "vid", "v", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exhaustive === flat)
    // pruned probing touches fewer partition directories (static pruning)
    val pruned = PqOps.ivfPqProbeIndex(spark, dir, queries, "vid", "v",
      k = 10, nProbe = 2)
    // the probed-centroid isin must reach the code scan as a PARTITION
    // filter (reads nProbe/nLists of the code table). Unwrap AQE — the
    // adaptive root hides its subtree from collect (the IvfSpec pattern)
    val phys = pruned.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = phys.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("codes") => s
    }
    assert(scans.nonEmpty, "expected a parquet scan of the codes layout")
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "the probed-centroid set must prune code partitions at the scan")
    // and pruned recall against the flat PQ ranking stays high on
    // well-separated clusters (same-cluster lists get probed)
    val flatByQ = flat.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val prunedByQ = pruned.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rec = flatByQ.map { case (q, ids) =>
      prunedByQ(q).intersect(ids).size.toDouble / ids.size }
    assert(rec.sum / rec.size > 0.8, s"pruned recall too low: $rec")
  }

  test("exact re-rank: recall vs brute force >= ADC-only; requires the vectors layout") {
    val sp = spark
    import sp.implicits._
    // noisy clusters so quantization error actually flips some near-ties
    val data = clustered(41, n = 400, dim = 16, nClusters = 8, noise = 0.4)
    val df = data.toDF("vid", "v")
    val queries = data.take(6).toDF("vid", "v")
    val model = PqOps.pqTrain(df, "vid", "v", m = 4, nCodes = 8, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-rerank").toString
    PqOps.ivfPqWriteIndex(df, "vid", "v", model, nLists = 8, dir, iters = 1,
      withVectors = true)
    val k = 10
    // ground truth: exact cosine brute force
    val truth = SimilarityOps.bruteForceTopK(df, queries, "vid", "v", k)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recall(res: Map[Long, Set[Long]]): Double = {
      val rs = truth.map { case (q, ids) =>
        res.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
      rs.sum / rs.size
    }
    val adc = PqOps.ivfPqProbeIndex(spark, dir, queries, "vid", "v", k, nProbe = 8)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rr = PqOps.ivfPqProbeIndexRerank(spark, dir, queries, "vid", "v", k,
      nProbe = 8, kCand = 120)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val (recAdc, recRr) = (recall(adc), recall(rr))
    assert(recRr >= recAdc,
      s"re-rank recall $recRr must not drop below ADC-only $recAdc")
    // with candidates ≫ k over an exhaustive probe, the exact re-rank
    // repairs quantization flips INSIDE the candidate pool: on this
    // heavily-noised fixture ADC-only recall sits near 0.2, the refine
    // pass must lift it several-fold (the whole point of the step)
    assert(recRr > 0.8, s"re-rank recall too low: $recRr (ADC-only: $recAdc)")
    assert(recRr >= recAdc + 0.3,
      s"refine must lift recall substantially: $recRr vs $recAdc")
    // fail fast when the index was built without the vectors layout
    val dir2 = java.nio.file.Files.createTempDirectory("ivfpq-novecs").toString
    PqOps.ivfPqWriteIndex(df, "vid", "v", model, nLists = 8, dir2, iters = 1)
    val e = intercept[IllegalArgumentException] {
      PqOps.ivfPqProbeIndexRerank(spark, dir2, queries, "vid", "v", k,
        nProbe = 8, kCand = 40)
    }
    assert(e.getMessage.contains("withVectors"))
  }

  test("persisted index round trip; version mismatch fails fast") {
    val sp = spark
    import sp.implicits._
    val data = clustered(19, n = 200, dim = 8, nClusters = 5, noise = 0.1)
    val df = data.toDF("vid", "v")
    val queries = data.take(4).toDF("vid", "v")
    val model = PqOps.pqTrain(df, "vid", "v", m = 2, nCodes = 8, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("pq-index").toString
    PqOps.pqWriteIndex(df, model, "vid", "v", dir)
    val inline = PqOps.pqTopK(df, queries, model, "vid", "v", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromIdx = PqOps.pqIndexTopK(spark, dir, queries, "vid", "v", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromIdx === inline)
    Seq((model.m, model.subDim, model.nCodes, 999))
      .toDF("m", "sub_dim", "n_codes", "format_version")
      .write.mode("overwrite").parquet(s"$dir/meta")
    val e = intercept[IllegalArgumentException] { PqOps.pqLoadIndex(spark, dir) }
    assert(e.getMessage.contains("format_version"))
  }

}
