package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingDedup

/** Streaming dedup: exact (watermarked dropDuplicates on a fingerprint) and
  * near-dup (SimHash-banded flatMapGroupsWithState with bounded per-bucket
  * state). State boundedness IS the contract — a streaming dedup whose state
  * grows with the stream dies in production. */
class StreamingDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-streaming-dedup")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("exact stream dedup emits first occurrences only, across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamingDedup.exactDedupStream(
      input.toDF().toDF("ts", "text"), "ts", "text")
    val query = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData((ts(1), "alpha doc"), (ts(2), "beta doc"), (ts(3), "alpha doc"))
      query.processAllAvailable()
      // the duplicate arrives again in a LATER batch — state must remember
      input.addData((ts(4), "alpha doc"), (ts(5), "gamma doc"))
      query.processAllAvailable()
      val texts = spark.sql("SELECT text FROM dedup_out").collect().map(_.getString(0))
      assert(texts.sorted.toSeq == Seq("alpha doc", "beta doc", "gamma doc"))
    } finally query.stop()
  }

  test("streaming curation pipeline: normalize → quality filter → exact dedup composes on a stream") {
    // the curation family is stateless codegen (map-only), so it composes
    // with streaming sources untouched — only the dedup stage carries state
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val filtered = graft.llm.TextOps.c4QualityFilter(
      graft.llm.TextOps.textNormalize(input.toDF().toDF("ts", "text"), "text", "text"),
      "text")
      .filter(org.apache.spark.sql.functions.col("n_sentences") >= 2)
      .select("ts", "text")
    val out = StreamingDedup.exactDedupStream(filtered, "ts", "text")
    val query = out.writeStream.format("memory").queryName("curate_stream_out")
      .outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData(
        (ts(1), "A Real Sentence. And Another!"),
        (ts(2), "no punctuation so dropped"),
        (ts(3), "a real sentence. and another!")) // dup of 1 after normalize
      query.processAllAvailable()
      input.addData((ts(4), "A real sentence. And another!"), // still dup across batches
        (ts(5), "Fresh content here. Also fine!"))
      query.processAllAvailable()
      val texts = spark.sql("SELECT text FROM curate_stream_out")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(texts == Seq("a real sentence. and another!", "fresh content here. also fine!"),
        s"got $texts")
    } finally query.stop()
  }

  test("simhash band stream suppresses near-duplicates with bounded state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val input = MemoryStream[StreamingDedup.DocIn]
    val out = StreamingDedup.simHashDedupStream(input.toDS(), maxHammingDistance = 3,
      maxPerBucket = 2)
    val query = out.writeStream.format("memory").queryName("simhash_out")
      .outputMode("append").start()
    try {
      // same band: sig B is 2 bits from A (near-dup, suppressed); sig C is
      // far from both (kept)
      val a = 0x0F0F0F0FL
      val b = a ^ 0x3L          // hamming 2 → suppressed
      val c = 0x70F0F0F0F0L     // far → kept
      input.addData(
        StreamingDedup.DocIn(1L, a, 101L, 1L),
        StreamingDedup.DocIn(1L, b, 102L, 2L),
        StreamingDedup.DocIn(1L, c, 103L, 3L))
      query.processAllAvailable()
      // later batch: near-dup of c arrives → suppressed by remembered state
      input.addData(StreamingDedup.DocIn(1L, c ^ 0x1L, 104L, 4L))
      query.processAllAvailable()
      val kept = spark.sql("SELECT doc_id FROM simhash_out").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(101L, 103L))
      // ring buffer held only 2 sigs (a evicted when the 3rd arrived... it
      // holds {a, c} here — capacity 2 with 2 kept docs), so a re-arrival of
      // a's twin is still suppressed by the retained signature
      input.addData(StreamingDedup.DocIn(1L, a ^ 0x1L, 105L, 5L))
      query.processAllAvailable()
      val kept2 = spark.sql("SELECT doc_id FROM simhash_out").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(kept2 == Seq(101L, 103L))
    } finally query.stop()
  }

  test("text analysis ops run unchanged on streams (stateless codegen columns)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // textStats / qualityScore / languageId are pure column expressions, so
    // the same code path scores documents in a batch job and per-batch in a
    // streaming ingestion pipeline — no adaptation layer
    val input = MemoryStream[(Long, String)]
    val scored = graft.llm.TextOps.qualityScore(
      input.toDF().toDF("doc_id", "text"), "text")
    val query = scored.writeStream.format("memory").queryName("quality_out")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "A well formed English sentence with reasonable length and words."),
        (2L, "x"))
      query.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, quality_score FROM quality_out")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows(1L) > rows(2L), "the real sentence must outscore the fragment")
      // identical scores to the batch path on the same rows
      val batch = graft.llm.TextOps.qualityScore(
        Seq((1L, "A well formed English sentence with reasonable length and words."),
          (2L, "x")).toDF("doc_id", "text"), "text")
        .select("doc_id", "quality_score")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows == batch)
    } finally query.stop()
  }

  test("curation ops run unchanged on streams (sample, scrub, chunk)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // sampling is a stateless hash filter and chunking a stateless generator,
    // so the batch operators ARE the streaming operators — and because the
    // sample decision depends only on (seed, id), a restarted/replayed batch
    // keeps the same rows (exactly-once-friendly)
    val input = MemoryStream[(Long, String)]
    val staged = graft.llm.TextOps.chunkByTokens(
      graft.llm.TextOps.piiScrub(
        graft.llm.SampleOps.sampleBernoulli(
          input.toDF().toDF("doc_id", "text"), "doc_id", 0.6, seed = 5),
        "text"),
      "doc_id", "text_scrubbed", maxTokens = 4)
    val query = staged.writeStream.format("memory").queryName("curated_out")
      .outputMode("append").start()
    val rows = (0L until 50L).map(i => (i, s"doc $i mail bot$i@spam.example.net tail words here"))
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, chunk_id, chunk_text FROM curated_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      val batch = graft.llm.TextOps.chunkByTokens(
        graft.llm.TextOps.piiScrub(
          graft.llm.SampleOps.sampleBernoulli(rows.toDF("doc_id", "text"), "doc_id", 0.6, 5),
          "text"),
        "doc_id", "text_scrubbed", maxTokens = 4)
        .select("doc_id", "chunk_id", "chunk_text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(streamed == batch, "stream and batch paths must agree row-for-row")
      assert(streamed.nonEmpty && streamed.forall(!_._3.contains("@")), "PII must be masked")
    } finally query.stop()
  }

  test("batch-19/20 ops run unchanged on streams (html strip → BPE encode)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    // htmlStrip is stateless codegen and bpeEncode with a FROZEN merge list
    // (trained offline — the standard deployment) is stateless string work,
    // so the batch operators ARE the streaming ingest operators. (nbScore
    // keeps a per-document aggregation, so on a stream it runs per
    // micro-batch via foreachBatch like any other gate with a shuffle.)
    val merges = graft.llm.BpeOps.bpeTrain(
      Seq.fill(4)((1L, "abab")).toDF("id", "text"), "text", 2)
    val input = MemoryStream[(Long, String)]
    val piped = graft.llm.BpeOps.bpeEncode(
      graft.llm.TextOps.htmlStrip(input.toDF().toDF("doc_id", "text"), "text",
          out = "text_plain")
        .drop("text").withColumnRenamed("text_plain", "text"),
      "text", merges)
    val query = piped.writeStream.format("memory").queryName("b19_out")
      .outputMode("append").start()
    try {
      input.addData(
        (10L, "<p>abab abab</p><script>var x;</script>"),
        (11L, "<div>ab cd</div>"))
      query.processAllAvailable()
      val rows = spark.sql("SELECT doc_id, bpe_tokens_count FROM b19_out")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // "abab abab" -> two single-token words; "ab cd" -> [ab] + [c, d]
      assert(rows == Map(10L -> 2L, 11L -> 3L), s"got $rows")
    } finally query.stop()
  }

  test("DSIR broadcast-model scoring runs on a stream and matches batch scoring") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val corpus = Seq((1L, "spark shuffle join scan"), (2L, "cheap pills offer now"),
      (3L, "spark scan filter join")).toDF("id", "text")
    val target = Seq((10L, "spark shuffle join scan filter")).toDF("tid", "text")
    val model = graft.llm.DsirOps.fitModel(corpus, target, "text",
      numBuckets = 256, seed = 3, alpha = 0.05)
    val pinned = graft.llm.DsirOps.DsirModel(
      model.ratios.localCheckpoint(true), model.unseen.localCheckpoint(true),
      model.numBuckets, model.seed)
    val batch = graft.llm.DsirOps.scoreWithModel(corpus, "id", "text", pinned)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val input = MemoryStream[(Long, String)]
    val out = graft.llm.DsirOps.scoreWithBroadcastModel(
      input.toDF().toDF("id", "text"), "text", pinned)
    val query = out.writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "spark shuffle join scan"), (2L, "cheap pills offer now"))
      query.processAllAvailable()
      input.addData((3L, "spark scan filter join"))
      query.processAllAvailable()
      val streamed = spark.sql("SELECT id, n_feats, logw FROM dsir_stream")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(streamed.keySet == batch.keySet)
      for ((id, (nf, lw)) <- batch) {
        assert(streamed(id)._1 == nf, s"id=$id n_feats")
        assert(math.abs(streamed(id)._2 - lw) < 1e-9, s"id=$id logw")
      }
    } finally query.stop()
  }

  test("NB broadcast scoring runs on a stream and matches batch scoring EXACTLY") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val labeled = Seq(
      (1L, "careful essay with insight and depth", true),
      (2L, "thoughtful careful depth analysis here", true),
      (3L, "buy cheap pills click free offer", false),
      (4L, "free cheap click now offer pills", false)).toDF("id", "text", "label")
    val model = graft.llm.ClassifierOps.nbTrain(labeled, "text", "label",
      numBuckets = 1 << 16, seed = 7).localCheckpoint(true)
    val docs = Seq((10L, "careful insight essay"), (11L, "cheap pills now"),
      (12L, ""), (13L, "neutral words entirely")).toDF("id", "text")
    val batch = graft.llm.ClassifierOps.nbScore(docs, "id", "text", model,
        numBuckets = 1 << 16, seed = 7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    val input = MemoryStream[(Long, String)]
    val out = graft.llm.ClassifierOps.nbScoreBroadcast(
      input.toDF().toDF("id", "text"), "text", model, numBuckets = 1 << 16, seed = 7)
    val query = out.writeStream.format("memory").queryName("nb_stream")
      .outputMode("append").start()
    try {
      input.addData((10L, "careful insight essay"), (11L, "cheap pills now"))
      query.processAllAvailable()
      input.addData((12L, ""), (13L, "neutral words entirely"))
      query.processAllAvailable()
      val streamed = spark.sql("SELECT id, n_tokens, nb_score, nb_pred FROM nb_stream")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
        .toMap
      // bit-exact: scaled-long in-row sum == batch DECIMAL-space sum
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally query.stop()
  }

  test("bandDocuments produces 4 bands per doc with consistent band ids") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "an entirely different document about spark physical plans",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:01")))
      .toDF("doc_id", "text", "ts")
    val banded = StreamingDedup.bandDocuments(docs, "doc_id", "text", "ts")
    assert(banded.count() == 8, "4 bands per doc")
    assert(banded.groupBy("docId").count().collect().forall(_.getLong(1) == 4))
    // identical text → identical 4 band keys; different text → different sig
    val sigs = banded.select("docId", "sig").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) != sigs(2L))
  }
}
