package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.{ArrayType, LongType}

import graft.llm.{DsirOps, MixOps, RetrievalOps, SampleOps}

/** Batch-21 curation ops: DSIR importance resampling (Xie et al. 2023),
  * BM25 top-k retrieval (Robertson & Zaragoza 2009), and UniMax budget
  * allocation (Chung et al. 2022). */
class DsirRetrievalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-dsir-retrieval")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ---------------------------------------------------------------- DSIR

  private def rawCorpus = {
    val sp = spark
    import sp.implicits._
    val techy = (1 to 15).map(_ => "spark shuffle partition join broadcast").mkString(" ")
    val spammy = (1 to 15).map(i => s"cheap pills offer click free v$i").mkString(" ")
    Seq(
      (1L, techy),
      (2L, spammy),
      (3L, "spark shuffle partition join broadcast scan"),
      (4L, "")
    ).toDF("id", "text")
  }

  private def target = {
    val sp = spark
    import sp.implicits._
    // repeats mirror the raw doc's structure so its repeat-boundary bigram
    // ("broadcast spark") is IN-distribution for the target — DSIR scores
    // n-gram distributions, and a bigram absent from the target but
    // frequent in a raw doc is (correctly) heavily penalized
    val rep = (1 to 8).map(_ => "spark shuffle partition join broadcast").mkString(" ")
    Seq(
      (100L, rep),
      (101L, rep + " exchange stage")
    ).toDF("tid", "text")
  }

  test("dsirWeights ranks target-like docs above off-target docs; empty doc scores 0") {
    // small exemplar set => small alpha, or the smoothing mass alpha*B
    // swamps the 22-feature target model (the published method's own
    // guidance: smoothing must stay below the target sample's mass)
    val w = DsirOps.dsirWeights(rawCorpus, target, "id", "text",
        numBuckets = 256, seed = 3, alpha = 0.05)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L))
    // n_feats = unigrams + bigrams = 2n - 1 for an n-token doc
    assert(w(3L)._1 == 2 * 6 - 1)
    assert(w(4L) == ((0L, 0.0)))
    assert(w(1L)._2 > w(2L)._2, s"target-like ${w(1L)} must outrank spam ${w(2L)}")
    assert(w(3L)._2 > w(2L)._2, "target-vocabulary doc must outrank the spam doc")
  }

  test("dsirWeights is partition-invariant") {
    def run(parts: Int) = DsirOps.dsirWeights(
        rawCorpus.repartition(parts), target.repartition(parts), "id", "text",
        numBuckets = 1024, seed = 7, alpha = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
      .toSet
    assert(run(1) == run(5))
  }

  test("dsirSelect keeps k rows, prefers target-like docs, handles k > n") {
    val sel = DsirOps.dsirSelect(rawCorpus, target, "id", "text", k = 2,
      numBuckets = 256, seed = 3, alpha = 0.05, noiseSeed = 11)
    val ids = sel.collect().map(_.getLong(0)).toSet
    assert(ids.size == 2)
    // the long target-like doc has a large weight margin over the Gumbel
    // noise scale (O(1)); it must survive the resampling
    assert(ids.contains(1L))
    assert(!ids.contains(2L), "the long spam doc's weight margin is far below")
    val all = DsirOps.dsirSelect(rawCorpus, target, "id", "text", k = 99,
      numBuckets = 256, seed = 3, alpha = 0.05, noiseSeed = 11)
    assert(all.count() == 4)
  }

  test("native NgramBucketHashes ≡ the declarative rolling-hash composition") {
    val sp = spark
    import sp.implicits._
    val texts = Seq(
      "spark shuffle partition", "one", "", "   ", "a  b\t\tc\nd\r\ne\ff",
      "  leading and trailing  ", "MiXeD Case TOKENS", "数据 处理 管道",
      "x", "tab\tsep", (1 to 50).map(i => s"tok$i").mkString(" "),
      "astral \ud83d\ude00 emoji \ud83d\ude80pair mid\ud83c\udf55dle")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for ((nb, seed) <- Seq((256, 3L), (65536, 0L), (7, 123L))) {
      val native = df.select(col("id"),
        org.apache.spark.sql.GraftExpressionBridge.column(
          graft.functions.NgramBucketHashes(
            org.apache.spark.sql.GraftExpressionBridge.expression(
              lower(trim(col("text")))), nb, seed)).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val ref = df.select(col("id"),
          DsirRetrievalSpec.featureBucketsReference(col("text"), nb, seed).as("f"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native == ref, s"nb=$nb seed=$seed")
    }
  }

  test("scoreWithBroadcastModel scores null text as the empty document, matching scoreWithModel") {
    val sp = spark
    import sp.implicits._
    val corpus = Seq((1L, "the target domain words here"),
      (2L, "off topic noise tokens")).toDF("id", "text")
    val model = DsirOps.fitModel(corpus, corpus.filter(col("id") === 1L), "text",
      numBuckets = 256, seed = 3, alpha = 0.5)
    val docs = Seq((1L, Option("the target domain words")),
      (2L, Option.empty[String]), (3L, Option(""))).toDF("id", "text")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "n_feats", "logw").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = snap(DsirOps.scoreWithModel(docs, "id", "text", model))
    // the broadcast scorer used to NPE on the null Seq — it must emit the
    // batch path's empty-document score (n_feats = 0, logw = 0.0)
    val stream = snap(DsirOps.scoreWithBroadcastModel(docs, "text", model)
      .select(col("id"), col("n_feats"), col("logw")))
    assert(stream == batch, s"batch $batch vs broadcast $stream")
    assert(batch(2L) == ((0L, 0.0)) && batch(3L) == ((0L, 0.0)))
  }

  test("DSIR model survives a disk round trip; scoring a NEW batch works") {
    val sp = spark
    import sp.implicits._
    val model = DsirOps.fitModel(rawCorpus, target, "text",
      numBuckets = 256, seed = 3, alpha = 0.05)
    val dir = java.nio.file.Files.createTempDirectory("dsir_mdl_spec").toString
    DsirOps.writeModel(model, dir)
    val loaded = DsirOps.loadModel(spark, dir)
    val direct = DsirOps.dsirWeights(rawCorpus, target, "id", "text",
        numBuckets = 256, seed = 3, alpha = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaDisk = DsirOps.scoreWithModel(rawCorpus, "id", "text", loaded)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaDisk == direct)
    // a batch the model never saw still scores (unseen features hit _lr0)
    val fresh = Seq((50L, "entirely novel words here")).toDF("id", "text")
    val scored = DsirOps.scoreWithModel(fresh, "id", "text", loaded).collect()
    assert(scored.length == 1 && scored.head.getLong(1) == 7L)
  }

  // ---------------------------------------------------------------- BM25

  private def bmCorpus = {
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, "x x y"),
      (2L, "x z"),
      (3L, "z z z w")
    ).toDF("doc_id", "text")
  }

  test("bm25TopK matches the hand-computed score formula") {
    val sp = spark
    import sp.implicits._
    val queries = Seq((10L, "x")).toDF("qid", "text")
    val rows = RetrievalOps.bm25TopK(bmCorpus, "doc_id", "text", queries,
        "qid", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // N=3, avgdl=3, df(x)=2 -> idf = ln(1 + 1.5/2.5)
    val idf = math.log(1.6)
    val s1 = BigDecimal(idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 3.0 / 3))) // d1: tf=2, dl=3
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s2 = BigDecimal(idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2.0 / 3)))     // d2: tf=1, dl=2
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.toSeq == Seq((10L, 1, 1L, s1), (10L, 2, 2L, s2)), rows.toSeq.toString)
  }

  test("bm25TopK: multi-term scores add, k bounds output, ties break by doc id") {
    val sp = spark
    import sp.implicits._
    val queries = Seq((10L, "x"), (11L, "z"), (12L, "x z")).toDF("qid", "text")
    val byQ = RetrievalOps.bm25TopK(bmCorpus, "doc_id", "text", queries,
        "qid", "text", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // additivity (scores are rounded AFTER summing, tolerate the 1e-6 grid)
    assert(math.abs(byQ((12L, 2L)) - (byQ((10L, 2L)) + byQ((11L, 2L)))) < 2e-6)
    // k=1 keeps only the best
    val top1 = RetrievalOps.bm25TopK(bmCorpus, "doc_id", "text",
        Seq((10L, "x")).toDF("qid", "text"), "qid", "text", k = 1)
      .collect()
    assert(top1.length == 1 && top1.head.getLong(2) == 1L)
    // exact duplicates tie and order by doc id
    val dup = Seq((1L, "x y"), (2L, "x y"), (3L, "w")).toDF("doc_id", "text")
    val tied = RetrievalOps.bm25TopK(dup, "doc_id", "text",
        Seq((10L, "x")).toDF("qid", "text"), "qid", "text", k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(tied.toSeq == Seq((1, 1L), (2, 2L)))
  }

  test("bm25TopK: length normalization favors the shorter doc at equal tf") {
    val sp = spark
    import sp.implicits._
    val corpus = Seq((1L, "x a b c d e"), (2L, "x a")).toDF("doc_id", "text")
    val rows = RetrievalOps.bm25TopK(corpus, "doc_id", "text",
        Seq((10L, "x")).toDF("qid", "text"), "qid", "text", k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1, 2L), (2, 1L)))
  }

  test("bm25TopK is partition-invariant") {
    val sp = spark
    import sp.implicits._
    val queries = Seq((10L, "x z"), (11L, "w")).toDF("qid", "text")
    def run(parts: Int) = RetrievalOps.bm25TopK(bmCorpus.repartition(parts),
        "doc_id", "text", queries.repartition(parts), "qid", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(run(1) == run(7))
  }

  test("bm25TopK equals the broadcast-join executable specification bit for bit") {
    val sp = spark
    import sp.implicits._
    // richer fixture than bmCorpus: shared terms across many docs/queries,
    // repeated tokens (tf>1), a doc with no query hits, an empty doc, and
    // a query with no corpus hits — exercised multi-partition
    val corpus = Seq(
      (1L, "x x y q"), (2L, "x z"), (3L, "z z z w"), (4L, "p p q r"),
      (5L, ""), (6L, "y y y x w q"), (7L, "unique only")
    ).toDF("doc_id", "text").repartition(5)
    val queries = Seq((10L, "x z"), (11L, "w q y"), (12L, "absentterm"),
      (13L, "p")).toDF("qid", "text").repartition(3)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet
    val prod = snap(RetrievalOps.bm25TopK(corpus, "doc_id", "text",
      queries, "qid", "text", k = 5))
    val spec = snap(DsirRetrievalSpec.bm25TopKJoins(corpus, "doc_id", "text",
      queries, "qid", "text", k = 5))
    assert(prod == spec, s"production $prod vs joins spec $spec")
    assert(prod.nonEmpty && !prod.exists(_._3 == 7L),
      "no-hit docs must not surface")
  }

  test("bm25QueryIndex over a persisted index equals direct bm25TopK") {
    val sp = spark
    import sp.implicits._
    val queries = Seq((10L, "x"), (11L, "x z"), (12L, "w")).toDF("qid", "text")
    val direct = RetrievalOps.bm25TopK(bmCorpus, "doc_id", "text", queries,
        "qid", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val dir = java.nio.file.Files.createTempDirectory("bm25_idx_spec").toString
    RetrievalOps.bm25BuildIndex(bmCorpus, "doc_id", "text", dir, nTermBuckets = 8)
    val viaIdx = RetrievalOps.bm25QueryIndex(spark, dir, queries, "qid", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(viaIdx == direct)
  }

  test("bm25QueryIndex: doc-grouped and term-pruned paths agree, and match bm25TopK") {
    // r11: the index gains a doc-grouped layout and the query entry picks a
    // path by term-bucket fan-out — both paths must produce the identical
    // ranked set on a fixture with tf>1, no-hit docs/queries and empty text
    val sp = spark
    import sp.implicits._
    val corpus = Seq(
      (1L, "x x y q"), (2L, "x z"), (3L, "z z z w"), (4L, "p p q r"),
      (5L, ""), (6L, "y y y x w q"), (7L, "unique only")
    ).toDF("doc_id", "text").repartition(5)
    val queries = Seq((10L, "x z"), (11L, "w q y"), (12L, "absentterm"),
      (13L, "p")).toDF("qid", "text").repartition(3)
    val dir = java.nio.file.Files.createTempDirectory("bm25_idx_paths").toString
    RetrievalOps.bm25BuildIndex(corpus, "doc_id", "text", dir, nTermBuckets = 4)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val viaDg = snap(DsirRetrievalSpec.bm25QueryIndexDocGrouped(spark, dir,
      queries, "qid", "text", k = 5))
    val viaPruned = snap(DsirRetrievalSpec.bm25QueryIndexPruned(spark, dir,
      queries, "qid", "text", k = 5))
    val direct = snap(RetrievalOps.bm25TopK(corpus, "doc_id", "text",
      queries, "qid", "text", k = 5))
    assert(viaDg == viaPruned, s"doc-grouped $viaDg vs pruned $viaPruned")
    assert(viaDg == direct, s"doc-grouped $viaDg vs direct $direct")
    val adaptive = snap(RetrievalOps.bm25QueryIndex(spark, dir,
      queries, "qid", "text", k = 5))
    assert(adaptive == direct)
  }

  test("bm25 index query: an oversize (qid, term) batch fails with the bounded-batch error") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_idx_bound").toString
    RetrievalOps.bm25BuildIndex(bmCorpus, "doc_id", "text", dir, nTermBuckets = 4)
    val max = RetrievalOps.MaxCollectedQueryTerms
    // max + 1 distinct (qid, term) pairs: every qid has the one term "x"
    val queries = spark.range(max + 1L).select(col("id").as("qid"), lit("x").as("text"))
    val collectLimits = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def limits(p: SparkPlan): Seq[Int] = p match {
      case a: AdaptiveSparkPlanExec => limits(a.executedPlan)
      case q: QueryStageExec => limits(q.plan)
      case c: CollectLimitExec => c.limit +: c.children.flatMap(limits)
      case o => o.children.flatMap(limits)
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") limits(qe.executedPlan).foreach(collectLimits.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val e = intercept[IllegalArgumentException](
        RetrievalOps.indexQueryPrep(spark, dir, queries, "qid", "text"))
      assert(e.getMessage.contains("BOUNDED eval/probe batch"), e.getMessage)
      assert(e.getMessage.contains(s"more than $max rows"), e.getMessage)
      // the batch reached the driver through a limit of max + 1, so the
      // check ran on a bounded collect, not on the whole batch
      eventually(timeout(Span(30, Seconds))) {
        assert(collectLimits.contains(max + 1), collectLimits)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  // -------------------------------------------------------------- UniMax

  test("unimaxAllocations waterfills: caps small strata, shares the rest") {
    val sp = spark
    import sp.implicits._
    // strata token totals: a=100, b=300, c=1000; maxEpochs=2 -> caps 200/600/2000
    val docs = ((1 to 10).map(i => (i.toLong, "a", 10L)) ++
      (11 to 40).map(i => (i.toLong, "b", 10L)) ++
      (41 to 140).map(i => (i.toLong, "c", 10L))).toDF("id", "lang", "toks")
    def alloc(b: Long) = MixOps.unimaxAllocations(docs, "lang", "toks", b, 2.0)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // B=1000: a capped at 200; b,c share (1000-200)/2 = 400 each
    assert(alloc(1000L) == Map(
      "a" -> ((100L, 200L, 200L)), "b" -> ((300L, 600L, 400L)),
      "c" -> ((1000L, 2000L, 400L))))
    // B >= total capacity: everyone capped
    assert(alloc(5000L).view.mapValues(_._3).toMap ==
      Map("a" -> 200L, "b" -> 600L, "c" -> 2000L))
    // leftover token goes to the first uncapped stratum in sort order
    val a1001 = alloc(1001L)
    assert(a1001("b")._3 == 401L && a1001("c")._3 == 400L)
    assert(a1001.values.map(_._3).sum == 1001L)
  }

  test("unimaxSelect keeps each stratum within its budget, maximally, deterministically") {
    val sp = spark
    import sp.implicits._
    val docs = (0L until 300L).map(i => (i, s"l${i % 3}", 5L + i % 7)).toDF("id", "lang", "toks")
    val out = MixOps.unimaxSelect(docs, "id", "lang", "toks",
      totalBudget = 800L, maxEpochs = 1.0, seed = 3)
    val kept = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val budgets = MixOps.unimaxAllocations(docs, "lang", "toks", 800L, 1.0)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val bucketOf = docs.withColumn("_b", graft.llm.SampleOps.hashBucket(col("id"), 3))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    for (l <- Seq("l0", "l1", "l2")) {
      val all = (0L until 300L).filter(i => s"l${i % 3}" == l).sortBy(i => (bucketOf(i), i))
      val cums = all.map(i => 5L + i % 7).scanLeft(0L)(_ + _).tail
      val expect = all.zip(cums).takeWhile(_._2 <= budgets(l)).map(_._1).toSet
      assert(kept.filter(_._2 == l).map(_._1).toSet == expect, s"stratum $l")
    }
    // partition invariance
    val out2 = MixOps.unimaxSelect(docs.repartition(7), "id", "lang", "toks",
      totalBudget = 800L, maxEpochs = 1.0, seed = 3)
      .collect().map(_.getLong(0)).toSet
    assert(out2 == kept.map(_._1).toSet)
  }

  // ------------------------------------------------- hybrid RRF retrieval

  /** doc 3 is dense-only reachable (no query term), doc 4 lexical-only
    * competitive (orthogonal vector) — both single-list fusion paths. */
  private def hybridCorpus = {
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, "alpha beta", Seq(1.0, 0.0)),
      (2L, "alpha alpha", Seq(0.9, 0.1)),
      (3L, "gamma delta", Seq(0.95, 0.05)),
      (4L, "alpha gamma", Seq(0.0, 1.0)),
    ).toDF("doc_id", "text", "vec")
  }

  test("hybridTopK equals a driver-side RRF replay of its two candidate lists") {
    val sp = spark
    import sp.implicits._
    val corpus = hybridCorpus
    val qs = Seq((100L, "alpha", Seq(1.0, 0.0))).toDF("qid", "text", "vec")
    val kCand = 3
    val out = RetrievalOps.hybridTopK(corpus, "doc_id", "text", "vec",
        qs, "qid", "text", "vec", k = 4, kCand = kCand, rrfK = 60)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), if (r.isNullAt(4)) 0 else r.getInt(4),
        if (r.isNullAt(5)) 0 else r.getInt(5))).sortBy(_._2)

    // independent replay: lexical ranks from bm25TopK; dense ranks from
    // plain-Scala cosine; fusion arithmetic re-done driver-side
    val lexRanks = RetrievalOps.bm25TopK(corpus, "doc_id", "text",
        qs.select(col("qid"), col("text")), "qid", "text", k = kCand)
      .collect().map(r => r.getLong(2) -> r.getInt(1)).toMap
    val vecs = Map(1L -> (1.0, 0.0), 2L -> (0.9, 0.1), 3L -> (0.95, 0.05),
      4L -> (0.0, 1.0))
    val denseRanks = vecs.toSeq
      .map { case (id, (x, y)) => id -> (x * 1.0 + y * 0.0) / math.sqrt(x * x + y * y) }
      .sortBy { case (id, s) => (-s, id) }.take(kCand)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val fused = (lexRanks.keySet ++ denseRanks.keySet).toSeq.map { id =>
      val rrf = lexRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        denseRanks.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (id, BigDecimal(rrf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        lexRanks.getOrElse(id, 0), denseRanks.getOrElse(id, 0))
    }.sortBy { case (id, s, _, _) => (-s, id) }
      .zipWithIndex.map { case ((id, s, lr, dr), i) => (100L, i + 1, id, s, lr, dr) }
    assert(out.toSeq == fused)
    // the single-list docs really exercised both paths
    assert(out.exists(r => r._5 == 0 && r._6 > 0), "a dense-only doc")
    assert(out.exists(r => r._5 > 0 && r._6 == 0), "a lexical-only doc")
  }

  test("hybridTopK: k bounds output, rank 1 is the both-lists doc, partition-invariant") {
    val sp = spark
    import sp.implicits._
    val corpus = hybridCorpus
    val qs = Seq((100L, "alpha", Seq(1.0, 0.0))).toDF("qid", "text", "vec")
    val top1 = RetrievalOps.hybridTopK(corpus, "doc_id", "text", "vec",
      qs, "qid", "text", "vec", k = 1, kCand = 3, rrfK = 60).collect()
    assert(top1.length == 1 && top1(0).getInt(1) == 1)
    // doc 1 ranks first in both lists (exact text+vector match)
    assert(top1(0).getLong(2) == 1L)
    val a = RetrievalOps.hybridTopK(corpus.repartition(5), "doc_id", "text",
        "vec", qs, "qid", "text", "vec", k = 4, kCand = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = RetrievalOps.hybridTopK(corpus, "doc_id", "text", "vec",
        qs, "qid", "text", "vec", k = 4, kCand = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b)
    intercept[IllegalArgumentException] {
      RetrievalOps.hybridTopK(corpus, "doc_id", "text", "vec",
        qs, "qid", "text", "vec", k = 4, kCand = 0)
    }
  }
}

/** The replaced forms the retrieval and DSIR operators are checked
  * against: the broadcast-join BM25 scorer, the two index-query paths
  * forced one at a time, and the declarative DSIR feature buckets. */
object DsirRetrievalSpec {
  private val R = RetrievalOps

  /** The broadcast-join form of [[RetrievalOps.bm25TopK]] — kept as the
    * executable specification of the scoring semantics (the MinHashParity /
    * bigramScoreWithModelJoins discipline): query-vocab-hit tf rows probe
    * ONE per-term qmeta broadcast, explode to their qid fan-out, and reduce
    * through a (qid, doc)-keyed DECIMAL-free double sum rounded at 6
    * decimals. Bit-parity with the production per-doc scorer is pinned in
    * the spec above. */
  def bm25TopKJoins(corpus: DataFrame, docIdCol: String, textCol: String, queries: DataFrame,
                    qidCol: String, qtextCol: String, k: Int,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val docIdType = corpus.schema(docIdCol).dataType
    R.requireIntegralId(docIdCol, docIdType)
    val qvocab = queries.select(
        explode(R.toks(col(qtextCol))).as("_term")).distinct()
    val tf = R.docTermTf(corpus, docIdCol, textCol)
      .join(broadcast(qvocab), Seq("_term"))
    val qmeta = R.bm25Qmeta(corpus, docIdCol, textCol, queries, qidCol, qtextCol)
    val perQuery = tf
      .join(broadcast(qmeta), Seq("_term"))
      .withColumn("_w",
        col("_idf") * (col("_tf") * lit(k1 + 1.0)) /
          (col("_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
      .select(explode(col("_qids")).as("_qid"), col("_doc"), col("_w"))
      .groupBy(col("_qid"), col("_doc"))
      .agg(round(sum(col("_w")), 6).as("_score"))
    perQuery
      .select(col("_qid"), col("_doc").cast(LongType).as("_docL"), col("_score"))
      .groupBy(col("_qid"))
      .agg(R.topKAgg(col("_docL"), col("_score"), k).as("_top"))
      .select(col("_qid"), posexplode(col("_top")))
      .select(col("_qid").as(qidCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.vid").cast(docIdType).as(docIdCol), col("col.sim").as("score"))
  }

  /** Self-contained doc-grouped entry — the test/PlanGuard hook (the public
    * entry picks its path adaptively; this forces doc-grouped). */
  def bm25QueryIndexDocGrouped(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val prep = R.indexQueryPrep(spark, path, queries, qidCol, qtextCol)
    R.docGroupedCore(spark, path, queries, qidCol, prep.qmeta, k, k1, b)
  }

  /** Self-contained term-pruned entry — the test hook. */
  def bm25QueryIndexPruned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val prep = R.indexQueryPrep(spark, path, queries, qidCol, qtextCol)
    R.prunedCore(spark, path, qidCol, prep.qmeta, prep.buckets, k, k1, b)
  }

  /** Rolling hash of a token string: fold `h ← (131·h + ord(char)) mod P`
    * from `h₀ = seed` — identical to [[graft.llm.TextOps.hashEmbed]]'s
    * tokHash, so DuckDB replays it with list_reduce. */
  private def tokHash(tok: Column, seed: Long): Column = {
    val s0 = ((seed % SampleOps.P) + SampleOps.P) % SampleOps.P
    aggregate(
      transform(sequence(lit(1), length(tok)), i => ascii(tok.substr(i, lit(1))).cast(LongType)),
      lit(s0), (acc, c) => (acc * lit(131L) + c) % lit(SampleOps.P))
  }

  private def toks(textCol: Column): Column =
    filter(split(lower(trim(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)

  /** The declarative composition the native expression replaced — kept as
    * the bit-parity reference of the native feature buckets (it IS the
    * form the DuckDB oracle replays). */
  def featureBucketsReference(textCol: Column, numBuckets: Int, seed: Long): Column = {
    val ts = toks(textCol)
    val unis = transform(ts, t => pmod(tokHash(t, seed), lit(numBuckets.toLong)))
    // size-1 bigrams "t_i t_{i+1}" (0-based get; the when-guard keeps
    // sequence() from producing a descending range on short docs)
    val bis = when(size(ts) >= 2,
      transform(sequence(lit(1), size(ts) - 1), i =>
        pmod(tokHash(concat(get(ts, i - 1), lit(" "), get(ts, i)), seed),
          lit(numBuckets.toLong))))
      .otherwise(array().cast(ArrayType(LongType)))
    concat(unis, bis)
  }
}
