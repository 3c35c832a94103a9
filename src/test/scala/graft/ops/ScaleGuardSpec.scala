package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{SimilarityOps, TextOps}

/** Guards for the scale-safety mechanisms: LSH bucket caps (skew bomb) and
  * the bounded-heap ANN top-k (no full window sort). */
class ScaleGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-scale-guards")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("dedupClusters converges on a 64-node chain within the 10-round bound (pointer jumping)") {
    val sp = spark
    import sp.implicits._
    // a path graph is the worst case for plain min-label propagation
    // (diameter rounds = 63); pointer jumping must close it in <= 10
    val chain = (1L to 64L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("id_a", "id_b")
    val labels = TextOps.dedupClusters(chain, maxIters = 10).collect()
    assert(labels.length == 64)
    labels.foreach(r => assert(r.getLong(1) == 1L,
      s"node ${r.getLong(0)} did not converge to the component minimum"))
  }

  test("minHashLshPairs caps degenerate buckets: m duplicates do not emit m² pairs") {
    val s = spark
    import s.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again, " * 4
    val nearA = "completely different content about distributed query engines and shuffles one"
    val nearB = "completely different content about distributed query engines and shuffles two"
    val docs = ((0L until 300L).map(i => (i, boiler)) ++
      Seq((1000L, nearA), (1001L, nearB))).toDF("doc_id", "text")

    val capped = TextOps.minHashLshPairs(docs, "doc_id", "text", maxBucketSize = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the 300-duplicate bucket exceeds the cap in every band → contributes nothing
    assert(!capped.exists { case (a, b) => a < 300 && b < 300 },
      "over-cap boilerplate bucket must be excluded")
    // the small near-dup cluster survives the cap
    assert(capped.contains((1000L, 1001L)), "near-dup pair in a small bucket must survive")

    val uncapped = TextOps.minHashLshPairs(docs, "doc_id", "text")
      .filter(col("id_a") < 300 && col("id_b") < 300).count()
    assert(uncapped == 300L * 299L / 2L, "sanity: without the cap the bucket is quadratic")
  }

  test("lshNearPairs caps degenerate buckets") {
    val s = spark
    import s.implicits._
    val base = Array.tabulate(8)(i => math.sin(i + 1.0))
    // 100 identical embeddings (one hot bucket) + 2 distinct similar ones
    val rows = (0L until 100L).map(i => (i, base)) ++ Seq(
      (500L, Array.tabulate(8)(i => math.cos(i + 1.0))),
      (501L, Array.tabulate(8)(i => math.cos(i + 1.0) + 0.001)))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = SimilarityOps.lshNearPairs(df, "vec_id", "embedding", 8, 0.5,
        nBits = 6, maxBucketSize = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists { case (a, b) => a < 100 && b < 100 },
      "over-cap embedding bucket must be excluded")
    assert(pairs.contains((500L, 501L)), "small-bucket near pair must survive")
  }

  test("exactJaccardPairs prefix filter is lossless vs brute-force Jaccard") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "engine", "query",
      "shuffle", "vector", "token", "corpus", "sample", "window")
    def doc(): String = Seq.fill(30)(words(rnd.nextInt(words.length))).mkString(" ")
    val base = (0L until 40L).map(i => (i, doc()))
    // seeded near-dups: copy with a one-word edit
    val dups = base.take(8).map { case (i, t) =>
      (i + 1000L, t.replaceFirst("alpha|beta|gamma|delta", "edited")) }
    val docs = (base ++ dups).toDF("doc_id", "text")

    val viaPrefix = TextOps.exactJaccardPairs(docs, "doc_id", "text",
        shingleSize = 5, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val sh = docs.select(col("doc_id"),
      TextOps.shingles(col("text"), 5).as("_sh"))
    val bruteForce = sh.select(col("doc_id").as("id_a"), col("_sh").as("_a"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("_sh").as("_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("j", size(array_intersect(col("_a"), col("_b"))).cast("double") /
        size(array_union(col("_a"), col("_b"))))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    assert(viaPrefix == bruteForce, "prefix filtering must find exactly the brute-force pairs")
    assert(bruteForce.nonEmpty, "sanity: seeded near-dups must qualify")
  }

  test("bruteForceTopK matches the window-sort reference selection") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 200L).map(i => (i, Array.fill(16)(rnd.nextGaussian()))).toDF("id", "v")
    val queries = (0L until 10L).map(i => (i, Array.fill(16)(rnd.nextGaussian()))).toDF("id", "v")

    val viaAgg = SimilarityOps.bruteForceTopK(corpus, queries, "id", "v", 7)
      .select("qid", "vid").as[(Long, Long)].collect().toSet

    val c = corpus.select(col("id").as("vid"), col("v").as("_cv"))
    val q = queries.select(col("id").as("qid"), col("v").as("_qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vid"))
    val viaWindow = c.crossJoin(q)
      .withColumn("sim", SimilarityOps.cosine(col("_qv"), col("_cv")))
      .filter(!isnan(col("sim")))
      .withColumn("_rk", row_number().over(w)).filter(col("_rk") <= 7)
      .select("qid", "vid").as[(Long, Long)].collect().toSet

    assert(viaAgg == viaWindow)
    assert(viaAgg.size == 70)
  }

  test("dedupExact: hash collisions cannot merge distinct documents, and the corpus-sized shuffle is text-free") {
    val s = spark
    import s.implicits._
    // duplicates + uniques; correctness identical to a group-by-text dedup
    val docs = (Seq((1L, "same text"), (2L, "same text"), (3L, "other"),
      (4L, "third"), (5L, "same text"))).toDF("doc_id", "text")
    val kept = TextOps.dedupExact(docs, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L))
    // the first corpus-wide grouping keys on xxhash64(text): every exchange
    // that carries ALL rows must be narrow (hash + count), never the text —
    // only colliding-hash candidates may re-shuffle with their payload
    val plan = TextOps.dedupExact(docs, Seq("text"), "doc_id")
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan // unwrap AQE: the adaptive node hides its subtree
      case p => p
    }
    val countExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.child.isInstanceOf[
            org.apache.spark.sql.execution.aggregate.BaseAggregateExec] ||
            e.child.toString.contains("partial_count") => e
    }
    assert(countExchanges.exists(!_.output.map(_.name).contains("text")),
      "the hash-count exchange must not carry the document text")
  }
}
