package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan guards for the 100 TB hazards: these assert the SHAPE of the
  * plan, not its output, so a regression that silently reintroduces a
  * fact-table broadcast or a per-query window sort fails CI even though every
  * row still comes out right at test scale.
  *
  * AQE is disabled and the auto-broadcast threshold is -1 in this session, so
  * the only BroadcastExchange nodes are the ones the query REQUESTS via
  * broadcast() hints — exactly the invariant that must hold on a 1000-executor
  * cluster where the planner cannot be trusted to guess side sizes.
  */
class PlanGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .appName("graft-plan-guard")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The SHARED events loader (graft.Tables) — the same code path
    * SparkEntry reads through, so the nanos-as-long conversion cannot
    * drift between the entry points and this spec. */
  private def events: org.apache.spark.sql.DataFrame =
    graft.Tables.events(spark, sfDir)

  test("q3: lineitem is never a broadcast side and its scan is pruned") {
    val df = graft.SparkEntry.queries("q3_segment_revenue")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(bcasts.nonEmpty, "q3 must broadcast the small cust⋈ord keyset")
    assert(!bcasts.exists(_.toString.contains("lineitem")),
      "the fact table must never sit under a BroadcastExchange")
    val liScans = plan.collect {
      case s: FileSourceScanExec if s.toString.contains("lineitem") => s
    }
    assert(liScans.nonEmpty)
    val allowed = Set("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate")
    liScans.foreach { s =>
      val read = s.output.map(_.name).toSet
      assert(read.subsetOf(allowed),
        s"lineitem scan must be column-pruned to $allowed, read $read")
      assert(s.toString.contains("GreaterThan(l_shipdate"),
        "the l_shipdate filter must reach the parquet scan")
    }
  }

  test("ann top-k: no per-query window sort in the plan") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.llm.SimilarityOps.bruteForceTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", "embedding", 10)
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "top-k must reduce through the bounded-heap Aggregator, not a window sort")
    assert(plan.toString.contains("Aggregate"),
      "expected an aggregate-based top-k reduction")
  }

  test("ivf top-k: no window sort; corpus-sized shuffles only on centroid_id") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.llm.SimilarityOps.ivfTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", "embedding", k = 5, nLists = 4, nProbe = 2, iters = 1)
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "probe selection and top-k must not window-sort")
    assert(!plan.toString.contains("CartesianProduct"),
      "the centroid cross join must broadcast (packed single-row table)")
  }

  test("backtest: gather-once shape — no train-row duplication across the shuffle") {
    val series = events
      .groupBy(org.apache.spark.sql.functions.col("event_type").as("g"),
        org.apache.spark.sql.functions.col("ts").cast(
          org.apache.spark.sql.types.DateType).as("ds"))
      .agg(org.apache.spark.sql.functions.sum("value").as("y"))
    val df = graft.ops.TsCvOp.backtestAutoBy(series, "g", "ds", "y", 7, 3, "1d",
      Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), "rmse")
    val plan = df.queryExecution.executedPlan
    // The kernel output is PINNED (llm.Pin) before fan-out, so the returned
    // plan reads a materialized leaf: the only exchanges above it are the
    // ≤nFolds-row fold-score aggregation shuffle and the score broadcast —
    // no corpus-sized repartition of the exploded output, and the forecast
    // kernel cannot run twice because both branches scan the same pin.
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length <= 1,
      s"backtest output must only shuffle pre-aggregated fold scores, found ${shuffles.length} exchanges")
    val rddLeaves = plan.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddLeaves.nonEmpty,
      "both branches must read the pinned kernel output, not recompute it")
    // the pin itself must hold the COMPACT pre-explode rows (arrays), not
    // the exploded output — the explode must sit above the leaf
    assert(plan.toString.contains("Generate explode") ||
      plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.nonEmpty,
      "fan-out (explode) must happen above the pinned leaf")
    // the fold metric must NOT be a Window partitioned by fold_id alone —
    // that funnels the whole backtest output through ≤nFolds partitions at
    // scale. It is a groupBy(fold_id) aggregate broadcast-joined back.
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      s"no window in the backtest output path, found ${windows.length}")
    // any exchange hash-keyed on fold_id alone must sit directly above a
    // partial aggregate (≤nFolds rows per task), never carry raw output rows
    def stripCodegen(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan = p match {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => stripCodegen(w.child)
      case i: org.apache.spark.sql.execution.InputAdapter => stripCodegen(i.child)
      case other => other
    }
    shuffles.foreach { e =>
      e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
            if h.expressions.length == 1 &&
              h.expressions.head.references.map(_.name).toSeq == Seq("fold_id") =>
          assert(stripCodegen(e.child).isInstanceOf[
            org.apache.spark.sql.execution.aggregate.BaseAggregateExec],
            s"a fold_id-only exchange must carry pre-aggregated rows, got:\n${e.child}")
        case _ => ()
      }
    }
    // fold scores are collected (≤nFolds rows, bounded) and stamped on as a
    // literal CASE — the output path must carry NO join at all: joining (or
    // re-shuffling) the exploded rows for a ≤nFolds-row lookup is pure
    // overhead at scale
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.joins.BaseJoinExec => b
    }.isEmpty, "fold scores must be a literal lookup, not a join")
    assert(plan.toString.contains("CASE WHEN") || df.columns.contains("fold_metric_score"),
      "the literal fold-score column must be present")
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("minhash LSH: one capped aggregation, no join, two shuffles total") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.llm.TextOps.minHashLshPairs(docs, "doc_id", "text")
    val plan = df.queryExecution.executedPlan
    val rendered = plan.toString
    assert(!rendered.contains("CartesianProduct") &&
      !rendered.contains("BroadcastNestedLoopJoin"),
      "no all-pairs join may appear in the LSH path")
    // round-8 shape: candidates come from ONE corpus-sided aggregation
    // (bounded_id_set with the skew cap in the buffer) + the pair distinct —
    // exactly two exchanges, zero joins, zero pinned intermediates
    assert(!rendered.contains("Join"), s"the aggregate route has no join:\n$rendered")
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length == 2,
      s"expected the bucket-agg and pair-distinct exchanges only, got ${shuffles.length}")
    assert(rendered.contains("bounded_id_set"),
      "the skew cap must live inside the aggregation buffer")
    assert(!rendered.contains("LogicalRDD"),
      "no pinned (checkpointed) intermediate in the candidate path")
  }

  test("dedup clusters: iterative label propagation never cross-joins") {
    val sp = spark
    import sp.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val df = graft.llm.TextOps.dedupClusters(pairs)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("curation ops: sampling/chunking shuffle nothing; packing shuffles once") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = spark
    import sp.implicits._
    val docs = (0L until 100L).map(i => (i, s"some words for doc $i repeated words"))
      .toDF("doc_id", "text")

    // Bernoulli sampling / split assignment / scrub / chunk: pure narrow
    // codegen — ZERO exchanges, so at 100 TB they run at scan parallelism
    val narrowOps = Seq(
      graft.llm.SampleOps.sampleBernoulli(docs, "doc_id", 0.5, 1),
      graft.llm.SampleOps.assignSplit(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.5), 1),
      graft.llm.TextOps.piiScrub(docs, "text"),
      graft.llm.TextOps.textNormalize(docs, "text"),
      graft.llm.TextOps.chunkByTokens(docs, "doc_id", "text", 8, 2))
    narrowOps.foreach { df =>
      val ex = df.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
      assert(ex.isEmpty, s"narrow curation op must not shuffle:\n${df.queryExecution.executedPlan}")
    }

    // packing: exactly ONE shuffle, keyed by the salt bucket — the window
    // sorts per-bucket slices, never a single global ordering
    val chunks = graft.llm.TextOps.chunkByTokens(docs, "doc_id", "text", 8, 2)
    val packed = graft.llm.TextOps.packSequences(chunks, "doc_id", "chunk_id",
      "chunk_tokens", budget = 32, nBuckets = 16)
    val pex = packed.queryExecution.executedPlan.collect { case s: ShuffleExchangeExec => s }
    assert(pex.length == 1, s"packing must shuffle exactly once, got ${pex.length}")
    assert(pex.head.outputPartitioning.toString.contains("_bucket") ||
      pex.head.child.output.exists(_.name == "_bucket"),
      "the single packing shuffle must be keyed by the salt bucket")

    // decontamination: hash-join on gram hashes, never a cartesian
    val decon = graft.llm.TextOps.contaminatedIds(docs, docs.limit(3), "doc_id", "text", 3)
    val dplan = decon.queryExecution.executedPlan.toString
    assert(!dplan.contains("CartesianProduct") && !dplan.contains("BroadcastNestedLoopJoin"))
  }

  test("semdedup + knn graph: per-cluster joins only, no window, no cartesian") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val centroids = graft.llm.SimilarityOps.ivfTrain(emb, "vec_id", "embedding", 4, iters = 0)
    val pairs = graft.llm.SimilarityOps.semDedupPairs(emb, "vec_id", "embedding",
      centroids, minSim = 0.9)
    val pplan = pairs.queryExecution.executedPlan
    // (the only nested-loop join allowed is ivfAssign's single-row packed-
    // centroid broadcast — same as the ivf guard above)
    assert(!pplan.toString.contains("CartesianProduct"),
      "intra-cluster pairs must come from the centroid_id equi-join")
    assert(pplan.collect { case w: WindowExec => w }.isEmpty)
    // every corpus-sized exchange leads with centroid_id (plus the over-cap
    // sub-bucket/salt keys) — the cluster histograms broadcast, so the only
    // corpus shuffles are the pair self-join's own exchanges
    val corpusShuffles = pplan.collect { case s: ShuffleExchangeExec => s }
      .filter(_.child.output.exists(a => Set("_cv", "_va", "_vb").contains(a.name)))
    assert(corpusShuffles.nonEmpty)
    corpusShuffles.foreach(s =>
      assert(s.outputPartitioning.toString.contains("centroid_id"),
        s"corpus shuffle must key on centroid_id: ${s.outputPartitioning}"))
    val graph = graft.llm.SimilarityOps.knnGraphWithCentroids(emb, "vec_id",
      "embedding", k = 3, centroids, nProbe = 2)
    val gplan = graph.queryExecution.executedPlan
    assert(gplan.collect { case w: WindowExec => w }.isEmpty,
      "the graph top-k must reduce through the bounded-heap Aggregator")
    assert(!gplan.toString.contains("CartesianProduct"))
    // one grid aggregate, no join of packed chunks: the only shuffles are
    // the centroid packing, the (list, probe) histogram, the
    // (centroid, qchunk, lchunk) grid and the per-qid top-k merge
    assert(gplan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }.isEmpty,
      s"the chunk pairs must come from the grid aggregate, not a join:\n$gplan")
    val gShuffles = gplan.collect { case s: ShuffleExchangeExec => s }
    assert(gShuffles.length == 4, s"expected 4 shuffles, got ${gShuffles.length}:\n$gplan")
  }

  test("round-6 curation ops: quality filters are map-only; embeddings and LSH bands shuffle no text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = spark
    import sp.implicits._
    val docs = (0L until 40L).map(i => (i, s"some words w$i for doc $i")).toDF("doc_id", "text")

    // C4/Gopher: pure codegen, zero exchanges — they must fuse into the scan
    for (df <- Seq(graft.llm.TextOps.c4QualityFilter(docs, "text"),
                   graft.llm.TextOps.gopherQualityFilter(docs, "text"))) {
      assert(df.queryExecution.executedPlan
        .collect { case s: ShuffleExchangeExec => s }.isEmpty,
        "quality filters must be map-only")
    }

    // hashEmbed: entirely map-side — zero exchanges, text never shuffles
    val emb = graft.llm.TextOps.hashEmbed(docs, "doc_id", "text", dim = 8, seed = 1)
    assert(emb.queryExecution.executedPlan
      .collect { case s: ShuffleExchangeExec => s }.isEmpty,
      "hashEmbed must be a map-only projection (the join-back variant re-shuffles corpus text)")

    // the cross-corpus candidate substrate: (id, band, bucket) only, and it
    // is built WITHOUT any exchange (signature + banding are map-side)
    val banded = graft.llm.TextOps.bandedTable(docs, "doc_id", "text", 16, 4, 5)
    assert(banded.columns.toSeq == Seq("doc_id", "band", "bucket"))
    assert(banded.queryExecution.executedPlan
      .collect { case s: ShuffleExchangeExec => s }.isEmpty,
      "the banded table must be a narrow map-side projection")
  }

  test("boilerplate strip: document text never shuffles; boiler set broadcasts") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = spark
    import sp.implicits._
    val docs = (0L until 50L).map(i => (i, s"HEADER\nbody $i")).toDF("doc_id", "text")
    val df = graft.llm.TextOps.removeBoilerplateLines(docs, "doc_id", "text", maxDocs = 5)
    val plan = df.queryExecution.executedPlan
    val shuffled = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffled.forall(!_.child.output.exists(_.name == "text")),
      "only (hash, count) rows may cross an exchange — never document text")
    assert(plan.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
      "the heavy-hitter line set must broadcast to the rebuild side")
  }

  test("bloom gate: scoring is map-only (no exchange); build shuffles positions, never text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = spark
    import sp.implicits._
    val docs = (0L until 60L).map(i => (i, s"doc body number $i words")).toDF("doc_id", "text")
    val fp = graft.llm.BloomOps.productionFingerprint(
      org.apache.spark.sql.functions.col("text"))

    // scoring: the bit array rides as a reference object — the plan must be
    // a pure projection over the scan, zero exchanges (streaming-safe shape)
    val model = graft.llm.BloomOps.buildBloom(docs, fp, mBits = 4096, k = 4, seed = 1L)
    val scored = graft.llm.BloomOps.dedupAgainstBloom(docs, model, fp)
    assert(scored.queryExecution.executedPlan
      .collect { case s: ShuffleExchangeExec => s }.isEmpty,
      "bloom scoring must be a map-only projection")

    // build: one aggregation; the only exchange carries the fixed-size
    // partial word arrays / position projection — document text never shuffles
    val build = graft.llm.BloomOps.buildPlan(docs, fp, mBits = 4096, k = 4, seed = 1L)
    val shuffles = build.queryExecution.executedPlan
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length <= 1, "bloom build is ONE aggregation")
    assert(shuffles.forall(!_.child.output.exists(_.name == "text")),
      "document text must never cross the build exchange")
  }

  test("pq search: encode is map-only; query LUTs broadcast; no vector column crosses a search exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(23)
    val data = (0 until 100).map(i =>
      (i.toLong, Seq.fill(8)(rng.nextDouble() * 2 - 1)))
    val df = data.toDF("vid", "v")
    val model = graft.llm.PqOps.pqTrain(df, "vid", "v", m = 2, nCodes = 4, iters = 0)
    val enc = graft.llm.PqOps.pqEncode(df, model, "v")
    assert(enc.queryExecution.executedPlan
      .collect { case s: ShuffleExchangeExec => s }.isEmpty,
      "pqEncode must be a map-only projection (codebooks ride as a reference object)")
    val search = graft.llm.PqOps.pqTopK(df, df.limit(3), model, "vid", "v", k = 5)
    val plan = search.queryExecution.executedPlan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty && shuffles.forall(!_.child.output.exists(c =>
      c.name == "v" || c.name == "_v" ||
        c.dataType.simpleString.contains("array<double>"))),
      "only qid-keyed top-k partials may cross a search exchange — never vectors")
    assert(plan.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
      "the query LUT side must broadcast")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "top-k goes through the bounded aggregate, never a window sort")
  }

  test("token-budget mix: no window runs over the raw corpus") {
    val sp = spark
    import sp.implicits._
    val docs = (0L until 200L).map(i => (i, s"dom${i % 2}", 10L + i % 3))
      .toDF("doc_id", "dom", "toks")
    val df = graft.llm.MixOps.selectPerDomainBudget(docs, "doc_id", "dom", "toks",
      Map("dom0" -> 300L, "dom1" -> 400L), seed = 1)
    val plan = df.queryExecution.executedPlan
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.length == 2, s"expected histogram + boundary windows, got ${windows.length}")
    // neither window may consume the unreduced corpus: one sits over the
    // coarse-bucket AGGREGATE, the other over the boundary-bucket
    // restriction (a join whose pushed condition brackets _budget)
    windows.foreach { w =>
      val sub = w.child.toString
      assert(sub.contains("HashAggregate") || sub.contains("_budget"),
        s"window over the raw corpus:\n$w")
    }
  }

  test("quantile gates: no corpus-wide sort; rank window partitions by bit-bucket") {
    val sp = spark
    import sp.implicits._
    val docs = (0L until 300L).map(i => (i, math.sin(i.toDouble))).toDF("id", "score")
    // top-fraction: the only windows run over the bounded bit-bucket
    // HISTOGRAM and the single boundary bucket — never the raw corpus
    val top = graft.llm.QuantileOps.filterTopFraction(docs, "id", "score", 0.25)
    val topPlan = top.queryExecution.executedPlan
    val topWindows = topPlan.collect { case w: WindowExec => w }
    assert(topWindows.length == 2,
      s"expected histogram + boundary windows, got ${topWindows.length}")
    topWindows.foreach { w =>
      val sub = w.child.toString
      assert(sub.contains("HashAggregate") || sub.contains("_k"),
        s"quantile window over the raw corpus:\n$w")
    }
    assert(!topPlan.toString.contains("CartesianProduct"))
    // exact rank: the per-row window is PARTITIONED by the coarse bucket
    // (bounded partitions), plus the histogram's tiny global window
    val rank = graft.llm.QuantileOps.withExactRank(docs, "id", "score")
    val rankWindows = rank.queryExecution.executedPlan
      .collect { case w: WindowExec => w }
    assert(rankWindows.length == 2)
    val partitioned = rankWindows.filter(_.partitionSpec.nonEmpty)
    assert(partitioned.length == 1,
      "exactly one rank window must partition by the coarse bucket")
    assert(partitioned.head.partitionSpec.map(_.toString).exists(_.contains("_coarse")),
      s"rank window must partition by _coarse: ${partitioned.head.partitionSpec}")
  }

  test("bigram LM scoring: model tables broadcast; no exchange or shuffle join keyed on a token column") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = spark
    import sp.implicits._
    val docs = (0L until 60L)
      .map(i => (i, s"tok${i % 7} tok${(i + 1) % 7} tok${(i + 2) % 7}"))
      .toDF("id", "text")
    // production shape: the model is LOADED (bounded parquet tables), so the
    // scoring plan contains no training subtree — exactly the recurring-
    // ingest path whose joins must all broadcast
    val dir = java.nio.file.Files.createTempDirectory("graft_bigram_guard").toString
    graft.llm.TextOps.writeBigramLm(
      graft.llm.TextOps.trainBigramLm(docs, "text", vocabSize = 8,
        bigramVocabSize = 16), dir)
    val model = graft.llm.TextOps.loadBigramLm(spark, dir)
    // the executable-specification joins form keeps the r9 shape guards
    val df = graft.llm.TextOps.bigramScoreWithModelJoins(docs, "id", "text", model)
    val plan = df.queryExecution.executedPlan
    // the one scale-killer shape this op used to have: a shuffle join keyed
    // by the previous-token column (stop-word contexts concentrate a huge
    // share of all corpus tokens onto single keys). Token columns must
    // never key an exchange — only the doc id may.
    plan.collect { case s: ShuffleExchangeExec => s }.foreach { s =>
      assert(!s.child.output.exists(a => Set("_w", "_wp").contains(a.name)),
        s"token columns must never cross an exchange:\n$s")
    }
    val shuffleJoins =
      plan.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j.leftKeys } ++
      plan.collect { case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j.leftKeys }
    shuffleJoins.foreach { keys =>
      assert(keys.forall(_.references.map(_.name).forall(_ == "id")),
        s"shuffle joins may only key on the doc id, got keys $keys")
    }
    // vocab (word side + context side), bigram table and totals all
    // broadcast unconditionally (the tables are bounded by construction)
    assert(plan.collect { case b: BroadcastExchangeExec => b }.length >= 3,
      "the model tables must sit under BroadcastExchange nodes")
    // the PRODUCTION batch path (r10) routes through the broadcast
    // scaled-long scorer: one map-only pass — no exchange, no join of any
    // kind; the bounded model rides Spark broadcast variables, not the plan
    val prod = graft.llm.TextOps.bigramScoreWithModel(docs, "id", "text", model)
      .queryExecution.executedPlan
    assert(prod.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"bigram scoring must be map-only, found exchanges:\n$prod")
    assert(prod.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      s"bigram scoring must not join — the model is a broadcast map:\n$prod")
  }

  test("NB gate scoring: the production path is one map-only pass (no exchange, no join)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = spark
    import sp.implicits._
    val labeled = (0L until 40L)
      .map(i => (i, s"tok${i % 5} tok${(i + 1) % 5}", i % 2 == 0))
      .toDF("id", "text", "label")
    val docs = (0L until 60L).map(i => (i, s"tok${i % 5} tok${(i + 2) % 5}"))
      .toDF("id", "text")
    val model = graft.llm.ClassifierOps.nbTrain(labeled, "text", "label",
      numBuckets = 128, seed = 7)
    val prod = graft.llm.ClassifierOps.nbScore(docs, "id", "text", model, 128, 7)
      .queryExecution.executedPlan
    assert(prod.collect { case s: ShuffleExchangeExec => s }.isEmpty,
      s"NB scoring must be map-only, found exchanges:\n$prod")
    assert(prod.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      s"NB scoring must not join — the model is a broadcast map:\n$prod")
  }

  test("jaccard verify: candidates verify on native hash sets, no string-shingle HOF") {
    val sp = spark
    import sp.implicits._
    // parquet-backed docs: a LocalRelation would constant-fold the whole
    // verify subtree through ConvertToLocalRelation and hide the shape
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val df = graft.llm.TextOps.jaccardVerify(pairs, docs, "doc_id", "text",
      shingleSize = 5, threshold = 0.5)
    val plan = df.queryExecution.executedPlan.toString
    // the one 100× hazard this op used to have: interpreted-HOF string
    // shingle arrays (~shingleSize×|text| bytes/doc) built via
    // array_distinct(transform(sequence…, substr…)) and shipped across the
    // two id-keyed join exchanges — strictly more bytes than the text
    assert(plan.contains("shingle_hash_set"),
      "verification must run on the native 64-bit shingle-hash sets")
    assert(!plan.contains("array_distinct(transform("),
      "no interpreted string-shingle HOF may remain in the verify path")
  }

  test("top-tokens sketch: text dies map-side; only bounded sketch bytes cross the one exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.llm.TextOps.topTokensSketch(docs, "text", k = 50, capacity = 4096)
    val plan = df.queryExecution.executedPlan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    // the exact op's hazard is an exchange whose cardinality is the
    // VOCABULARY (explode → groupBy(token)); the sketch path must instead
    // ship one serialized bounded buffer per partition — no string-typed
    // column (token or text) may appear in any exchange input
    assert(shuffles.length == 1, s"expected the single sketch-merge exchange:\n$plan")
    assert(shuffles.forall(_.child.output.forall(a =>
      !a.dataType.simpleString.contains("string"))),
      "only serialized sketch buffers may cross the exchange — never tokens or text")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "rank comes from the sketch's sorted output (posexplode), not a window sort")
  }

  test("quantile sketch: scores die map-side; bounded sketch bytes cross the one exchange; no corpus sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SortExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("score", org.apache.spark.sql.functions.col("n_chars") * 1.0)
    val df = graft.llm.QuantileOps.scoreQuantilesSketch(docs, "score",
      Seq(0.5, 0.9), capacity = 16384)
    val plan = df.queryExecution.executedPlan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    // the exact quantile path's hazard is a corpus-wide sort/window; the
    // sketch path must ship one serialized bounded buffer per partition
    // and never sort or re-shuffle the corpus
    assert(shuffles.length == 1, s"expected the single sketch-merge exchange:\n$plan")
    assert(shuffles.forall(_.child.output.forall(a =>
      a.dataType.simpleString == "binary" || !a.dataType.simpleString.contains("double"))),
      "only serialized sketch buffers may cross the exchange — never raw scores")
    assert(plan.collect { case s: SortExec => s }.isEmpty,
      "quantiles come from the summary walk, never a corpus sort")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "no window may appear — the summary walk must stay streaming-composable")
  }

  test("hard-negative mining: queries and positives broadcast; no corpus sort or window") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val sp = spark
    import sp.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val pos = Seq((0L, 1L), (1L, 2L)).toDF("qid", "vid")
    val df = graft.llm.SimilarityOps.mineHardNegatives(emb, q, pos,
      "vec_id", "embedding", k = 5)
    val plan = df.queryExecution.executedPlan
    // the corpus side must stay a streamed scan: the query batch rides a
    // broadcast nested-loop (the cross), and the positive labels a
    // broadcast anti hash join — any other shape re-shuffles the corpus
    assert(plan.collect { case b: BroadcastNestedLoopJoinExec => b }.nonEmpty,
      s"the query batch must broadcast:\n$plan")
    val anti = plan.collect { case b: BroadcastHashJoinExec => b }
    assert(anti.exists(_.joinType.toString.contains("LeftAnti")),
      s"the positive labels must exclude via a broadcast anti join:\n$plan")
    assert(plan.collect { case s: SortExec => s }.isEmpty &&
      plan.collect { case w: WindowExec => w }.isEmpty,
      "top-k comes from the bounded aggregator, never a corpus sort/window")
  }

  test("cluster-balanced sample: centroids and rates broadcast; keep decision is a filter, no corpus window") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = graft.llm.SimilarityOps.ivfTrain(emb, "vec_id", "embedding", 8, iters = 0)
    val df = graft.llm.SimilarityOps.clusterBalancedSample(emb, "vec_id",
      "embedding", cents, targetTotal = 100, tau = 2.0, seed = 1L)
    val plan = df.queryExecution.executedPlan
    val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
    // centroid table (assignment) + rate table (keep threshold) — the two
    // bounded sides; the corpus itself must never sit under a broadcast
    assert(bcasts.size >= 2, s"centroids and rates must broadcast:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "rates derive from the bounded cluster histogram, never a corpus window")
  }

  test("composed ingest pipeline: gates are map-side; one corpus exchange (the fingerprint window)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = spark
    import sp.implicits._
    def prose(tag: String): String =
      (1 to 6).map(i => s"The $tag corpus keeps sentence $i with plain words " +
        s"that people have to read and be happy about it.").mkString(" ")
    val labeled = (1 to 6).map(i => (i.toLong, prose(s"seed$i"), i % 2 == 0))
      .toDF("id", "text", "label")
    val nbDf = graft.llm.ClassifierOps.nbTrain(labeled, "text", "label",
      numBuckets = 1 << 10, seed = 7).localCheckpoint(true)
    val corpus = (1 to 6).map(i => (i.toLong, prose(s"raw$i"))).toDF("id", "text")
    val dsirM = graft.llm.DsirOps.fitModel(corpus,
      corpus.filter(org.apache.spark.sql.functions.col("id") <= 3), "text",
      numBuckets = 1 << 10, seed = 3, alpha = 0.5)
    val dsir = graft.llm.DsirOps.DsirModel(dsirM.ratios.localCheckpoint(true),
      dsirM.unseen.localCheckpoint(true), dsirM.numBuckets, dsirM.seed)
    val bgM = graft.llm.TextOps.trainBigramLm(corpus, "text",
      vocabSize = 64, bigramVocabSize = 128)
    val bigram = graft.llm.TextOps.BigramLmModel(bgM.vocab.localCheckpoint(true),
      bgM.bigrams.localCheckpoint(true), bgM.totals.localCheckpoint(true),
      bgM.vocabSize, bgM.alpha, bgM.lambda)
    val models = graft.streaming.IngestPipeline.GateModels(
      graft.llm.ClassifierOps.NbModel(nbDf, 1 << 10, 7L), dsir,
      minLogw = -1e9, bigram, maxPerplexity = 1e9)
    // parquet-backed batch (LocalRelation input would fold the whole chain)
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("doc_id").as("ts"),
        org.apache.spark.sql.functions.col("text"))
    val df = graft.streaming.IngestPipeline.curateBatch(batch, "ts", "text", models)
    val plan = df.queryExecution.executedPlan
    // every gate scores through broadcast lookup maps (stateless scalar
    // UDFs), so the batch plan's ONLY shuffle is the fingerprint window's —
    // at 100 TB that means the whole curation chain runs at scan
    // parallelism with a single exchange whose partitions are duplicate
    // cliques, never the corpus
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length == 1,
      s"expected exactly the fingerprint-window exchange, got ${shuffles.length}:\n$plan")
    // the window projects xxhash64(text) into an alias (_w0) and the
    // exchange partitions on that alias — assert the fingerprint expression
    // is computed in the plan (simpleString truncates wide projections, so
    // search the expression trees, not the rendered plan)
    val hasFingerprint = plan.exists(node => node.expressions.exists(e =>
      e.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.XxHash64])
        .isDefined))
    assert(hasFingerprint,
      "the window's partition key must be the xxhash64 content fingerprint")
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("hll sketch: rows die map-side; one bounded register buffer per partition-group crosses the one exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = graft.llm.CardinalityOps.hllCountBy(
      events.select(org.apache.spark.sql.functions.col("event_type").as("g"),
        org.apache.spark.sql.functions.col("user_id").as("ent")),
      Seq("g"), "ent", p = 12)
    val plan = df.queryExecution.executedPlan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    // the exact distinct path's hazard is an exchange whose cardinality IS
    // the answer (every unique key shuffles); the sketch path must ship one
    // serialized register buffer per (partition, group) — no raw entity
    // column may cross the exchange
    assert(shuffles.length == 1, s"expected the single sketch-merge exchange:\n$plan")
    assert(shuffles.forall(_.child.output.forall(a => a.name != "ent" && a.name != "__h")),
      "only group keys + serialized registers may cross the exchange — never the entities")
    assert(plan.collect { case w: WindowExec => w }.isEmpty)
  }

  test("cm sketch: token hashes die map-side; one counter buffer per partition crosses the one exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.llm.FrequencyOps.cmSketch(docs, "text")
    val plan = df.queryExecution.executedPlan
    // the exact-count path's hazard is a vocabulary-keyed exchange; the
    // sketch ships one serialized d·w counter buffer per partition — no
    // token hash (and no text) may cross
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length == 1, s"expected the single sketch-merge exchange:\n$plan")
    assert(shuffles.forall(_.child.output.forall(a =>
      a.name != "_th" && a.name != "text")),
      "only the serialized counters may cross the exchange — never tokens")
    assert(plan.collect { case w: WindowExec => w }.isEmpty)
  }

  test("weighted k-sample: bounded top-k aggregate, no corpus window or sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SortExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.llm.SampleOps.weightedSampleK(docs, "doc_id", "n_chars",
      50, 37L, Seq("lang"))
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "selection is the bounded TopKByScore aggregate, never a ranked window")
    assert(plan.collect { case s: SortExec => s }.isEmpty,
      "no corpus sort — per-partition 2k+1 buffers merge map-side")
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length == 1,
      s"one group-keyed exchange carrying bounded top-k buffers:\n$plan")
  }

  test("fuzzy join: every join is equi-keyed (gram+band / length / id) — no nested loop, no cartesian") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id").as("id"),
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.col("text"), 1, 24).as("s"))
    val df = graft.llm.FuzzyJoinOps.fuzzySelfJoin(docs, "id", "s", 2)
    val plan = df.queryExecution.executedPlan
    val ps = plan.toString
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoop"),
      s"blocking must ride equi-keys — a nested loop means the position/length " +
        s"filter fell out of the join key:\n$ps")
    // the gram join must key on the (hash, band) PAIR — band in the key is
    // both the position filter and the hot-gram salt
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(smj.nonEmpty, s"expected shuffled equi-joins:\n$ps")
    assert(smj.exists(j =>
      j.asInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]
        .leftKeys.length >= 2),
      "gram join must carry (gh, band) as a compound equi-key")
    // the band join stays sort-merge where the pinned prefix's size
    // estimate fits the default broadcast threshold: a broadcast would run
    // the whole verify in the pin's few partitions
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      val bplan = graft.llm.FuzzyJoinOps.fuzzySelfJoin(docs, "id", "s", 2)
        .queryExecution.executedPlan
      assert(bplan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.exists(_.leftKeys.length >= 2),
        s"the (gh, band) join must stay sort-merge under the default threshold:\n$bplan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
  }

  test("asof join: zero join operators, one key exchange, one running window") {
    val df = graft.SparkEntry.queries("ts_asof_join")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val ps = plan.toString
    assert(!ps.contains("Join") && !ps.contains("CartesianProduct"),
      s"as-of must be the union+window plan, never a join:\n$ps")
    val shuffles = plan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s }
    // the two pre-aggregated sides each shuffle once on (g, ts_us) for
    // their groupBy; the as-of core itself adds exactly ONE key exchange
    assert(shuffles.length <= 3,
      s"expected at most the two side-agg exchanges + one as-of key exchange:\n$ps")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.length == 1,
      s"the as-of core is ONE running-last window, got ${windows.length}:\n$ps")
  }

  test("sessionize: one exchange; lag and running sum share partitioning; no join") {
    val df = graft.ops.SessionOps.sessionize(events, Seq("user_id"), "ts",
      6L * 3600 * 1000000)
    val plan = df.queryExecution.executedPlan
    val ps = plan.toString
    assert(!ps.contains("Join") && !ps.contains("CartesianProduct"))
    val shuffles = plan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s }
    assert(shuffles.length == 1,
      s"both window passes must reuse the single user_id exchange:\n$ps")
  }

  test("session stats: merging session aggregation, no per-event window, no join") {
    val df = graft.ops.SessionOps.sessionStats(events, Seq("user_id"), "ts",
      6L * 3600 * 1000000, Some("value"))
    val plan = df.queryExecution.executedPlan
    val ps = plan.toString
    assert(!ps.contains("Join") && !ps.contains("CartesianProduct"))
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"session stats is an aggregation, not a per-event window:\n$ps")
  }

  test("funnel + retention: slim entity-keyed aggregations, no cartesian, no per-entity arrays") {
    val funnel = graft.ops.CohortOps.funnel(events, Seq("user_id"), "ts",
      "event_type", Seq("view", "click", "purchase"), Some(86400000000L))
    val fp = funnel.queryExecution.executedPlan
    assert(!fp.toString.contains("CartesianProduct") &&
      !fp.toString.contains("BroadcastNestedLoop"))
    // no collect_list / sort_array — the funnel must never materialize a
    // per-entity event array
    assert(!fp.toString.contains("collect_list"),
      "funnel steps are min-aggregations, never per-entity event arrays")
    val ret = graft.ops.CohortOps.retention(events, Seq("user_id"), "ts", 30)
    val rp = ret.queryExecution.executedPlan
    assert(!rp.toString.contains("CartesianProduct"))
    assert(rp.collect { case w: WindowExec => w }.isEmpty,
      "retention is two aggregations + one slim join — no window")
  }

  test("interval join: equi-keyed on (keys, bucket), never a nested loop") {
    val f = org.apache.spark.sql.functions
    val points = events.filter(f.col("event_type") === "purchase")
      .select(f.col("user_id").as("g"),
        f.unix_micros(f.col("ts").cast("timestamp")).as("t"),
        f.col("event_id"))
    val iv = events.filter(f.col("event_type") === "click")
      .select(f.col("user_id").as("g"),
        f.unix_micros(f.col("ts").cast("timestamp")).as("s"),
        (f.unix_micros(f.col("ts").cast("timestamp")) + f.lit(7200000000L)).as("e"),
        f.col("event_id").as("cid"))
    val df = graft.ops.IntervalJoinOp.intervalJoin(points, iv, Seq("g"),
      "t", "s", "e", 3600000000L)
    val plan = df.queryExecution.executedPlan
    val ps = plan.toString
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoop"),
      s"the range predicate must ride the (keys, bucket) equi-key:\n$ps")
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall(_.leftKeys.length >= 2),
      s"join must key on (keys..., bucket):\n$ps")
  }

  test("hybrid RRF: query sides broadcast, every window partitions by qid, no cartesian") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(docs("doc_id"), col("text"), col("embedding"))
    val qs = corpus.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("text"), col("embedding"))
    val df = graft.llm.RetrievalOps.hybridTopK(corpus, "doc_id", "text",
      "embedding", qs, "qid", "text", "embedding", k = 5, kCand = 10)
    val plan = df.queryExecution.executedPlan
    // both candidate generators hold the corpus as the streamed side: the
    // dense query batch rides a broadcast nested-loop; the BM25 list
    // arrives pre-materialized (its bounded |Q|×kCand pin — the internal
    // broadcasts are pinned behind it and guarded by the bm25 pins)
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }.nonEmpty, s"the dense query batch must broadcast:\n$plan")
    assert(plan.toString.contains("ExistingRDD"),
      s"the BM25 candidate list must be the bounded pinned table:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"),
      "a corpus-sized cartesian must never appear")
    // the rank/fusion windows run over bounded per-query candidate lists —
    // every window MUST carry a partition spec (an empty one is the
    // single-partition corpus sort this op exists to avoid)
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"every window must partition by the query id:\n$plan")
  }

  test("bm25 top-k: map-only per-doc scoring; every join a requested broadcast; no corpus window, sort, or text shuffle") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qs = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    // the qmeta build (executed eagerly at call time to fill the scorer
    // LUT): every join carries a bounded query-side table (vocab, dfreq,
    // stats) — a shuffle join here keys a corpus-sized exchange on terms
    val qplan = graft.llm.RetrievalOps.bm25Qmeta(docs, "doc_id", "text",
      qs, "qid", "text").queryExecution.executedPlan
    assert(qplan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"no sort-merge join may appear in the bm25 qmeta build:\n$qplan")
    assert(qplan.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"no shuffled hash join may appear in the bm25 qmeta build:\n$qplan")
    assert(qplan.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
      s"the query-side tables must broadcast:\n$qplan")
    assert(qplan.collect { case s: ShuffleExchangeExec => s }
        .forall(_.child.output.forall(_.name != "text")),
      s"document text must never cross an exchange in the qmeta build:\n$qplan")
    // the UNPINNED scoring DAG: the public entry localCheckpoints, which
    // collapses executedPlan to Scan ExistingRDD and blinds this guard
    // (r9 audit). r10 round 2: ONE map-only scorer pass — the only join is
    // the tiny idx→qid broadcast after the top-k, the only exchange carries
    // the bounded per-query heap partials.
    val df = graft.llm.RetrievalOps.bm25TopKUnpinned(docs, "doc_id", "text",
      qs, "qid", "text", k = 10)
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"no sort-merge join may appear in the bm25 scoring path:\n$plan")
    assert(plan.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"no shuffled hash join may appear in the bm25 scoring path:\n$plan")
    assert(plan.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
      s"the idx→qid restore must broadcast:\n$plan")
    // per-query ranking is the bounded top-k aggregate, never a window/sort
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"no window may rank bm25 results:\n$plan")
    assert(plan.collect { case s: SortExec => s }.isEmpty,
      s"no sort may appear (ranking is the bounded heap aggregate):\n$plan")
    // document text dies map-side in the scorer pass; the heap-partial
    // exchange is the ONLY shuffle in the scoring plan
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.length <= 1,
      s"the scoring path must have at most the top-k partial exchange:\n$plan")
    assert(shuffles.forall(_.child.output.forall(_.name != "text")),
      s"document text must never cross an exchange:\n$plan")
  }

  test("bm25 index query, doc-grouped path: map-only scorer over the docgroup scan, one heap-partial exchange, no window/sort") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qs = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("qid"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_pg_bm25idx").toString
    graft.llm.RetrievalOps.bm25BuildIndex(docs, "doc_id", "text", dir,
      nTermBuckets = 8)
    val plan = graft.llm.RetrievalOps.bm25QueryIndexDocGrouped(spark, dir,
      qs, "qid", "text", k = 10).queryExecution.executedPlan
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"no sort-merge join on the doc-grouped index path:\n$plan")
    assert(plan.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
      s"no shuffled hash join on the doc-grouped index path:\n$plan")
    assert(plan.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
      s"the idx→qid restore must broadcast:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      s"no window may rank index results:\n$plan")
    assert(plan.collect { case s: SortExec => s }.isEmpty,
      s"no sort may appear (ranking is the bounded heap aggregate):\n$plan")
    // allowed exchanges: the bounded REPARTITION_BY_NUM parallelism floor
    // (fires only when the scan is under one task-wave of splits; it may
    // carry the term arrays) and the top-k heap-partial exchange — the
    // heap partials must never carry the arrays
    import org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    val floor = shuffles.filter(_.shuffleOrigin == REPARTITION_BY_NUM)
    val rest = shuffles.filterNot(_.shuffleOrigin == REPARTITION_BY_NUM)
    assert(floor.length <= 1 && rest.length <= 1,
      s"only the parallelism floor + the top-k partial exchange may appear:\n$plan")
    assert(rest.forall(_.child.output.forall(a =>
        a.name != "entries" && a.name != "_terms" && a.name != "_tfs")),
      s"per-doc term arrays must die in the scorer, never reach the heap exchange:\n$plan")
  }

  test("dedup-against index: reference tables never shuffle per batch; every incoming-derived table broadcasts") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val ref = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    val idx = graft.llm.TextOps.buildDedupIndex(ref, "doc_id", "text",
      threshold = 0.9)
    try {
      // candidate stage (the UNPINNED DAG — the public entry Pins its
      // result, which collapses executedPlan to Scan ExistingRDD and blinds
      // this guard, the r10 verdict's evidence gap): the reference banded
      // table must stream scan-only into broadcast joins; the only shuffles
      // carry incoming-side aggregates or the bounded candidate pairs.
      val inPin = graft.llm.Pin(graft.llm.TextOps.bandedTable(inc, "doc_id",
        "text", idx.numHashes, idx.bands, idx.shingleSize))
      val candPlan = graft.llm.TextOps.crossCorpusCandidatePairs(inPin.df, idx,
        "doc_id", maxBucketSize = 1000).queryExecution.executedPlan
      assert(candPlan.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"no sort-merge join may appear in the candidate stage:\n$candPlan")
      assert(candPlan.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
        s"no shuffled hash join may appear in the candidate stage:\n$candPlan")
      assert(candPlan.collect { case b: BroadcastExchangeExec => b }.nonEmpty,
        s"the incoming-derived tables must broadcast:\n$candPlan")
      // the reference banded table is (id_ref, band, bucket): no exchange
      // may carry id_ref TOGETHER WITH bucket (the candidate-pair distinct
      // legitimately shuffles (id_in, id_ref); incoming aggregates shuffle
      // (band, bucket, _ni) — both batch-bounded)
      val candShuffles = candPlan.collect { case s: ShuffleExchangeExec => s }
      assert(candShuffles.forall(s => !(s.child.output.exists(_.name == "id_ref") &&
          s.child.output.exists(_.name == "bucket"))),
        s"the reference banded table must never shuffle per batch:\n$candPlan")
      // verify stage: candidate pairs and incoming shingle sets broadcast;
      // the reference shingle-set table streams scan-only
      val shInPin = graft.llm.Pin(inc.select(col("doc_id").as("id_in"),
        graft.llm.TextOps.shingleHashSetCol(col("text"),
          idx.shingleSize).as("_sh_in")))
      val cand = graft.llm.TextOps.crossCorpusCandidatesWithIndex(inc, idx,
        "doc_id", "text")
      val dupPlan = graft.llm.TextOps.dedupAgainstDupIds(cand, shInPin.df, idx,
        "doc_id", 0.9).queryExecution.executedPlan
      assert(dupPlan.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"no sort-merge join may appear in the verify stage:\n$dupPlan")
      assert(dupPlan.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
        s"no shuffled hash join may appear in the verify stage:\n$dupPlan")
      assert(dupPlan.collect { case b: BroadcastExchangeExec => b }.size >= 2,
        s"candidate pairs AND incoming shingle sets must broadcast:\n$dupPlan")
      val dupShuffles = dupPlan.collect { case s: ShuffleExchangeExec => s }
      assert(dupShuffles.forall(_.child.output.forall(_.name != "_sh_ref")),
        s"reference shingle sets must never shuffle per batch:\n$dupPlan")
      inPin.release(); shInPin.release()
    } finally idx.release()
  }

  test("decontaminate spans: benchmark grams broadcast; gram text never crosses an exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.llm.TextOps.decontaminateSpans(docs,
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 50 === 0),
      "doc_id", "text", "text", n = 13)
    val plan = df.queryExecution.executedPlan
    // the eval-set gram table is the ONLY broadcast; the dedup-spans
    // sibling must shuffle every gram hash — here matching is map-side
    assert(plan.collect { case b: BroadcastExchangeExec => b }.size == 1,
      s"exactly the benchmark gram broadcast:\n$plan")
    // the benchmark side's distinct may shuffle (_bgram — eval-set-sized);
    // the CORPUS gram windows (col/_gh) must die map-side
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.forall(_.child.output.forall(a =>
      a.name != "col" && a.name != "_gh")),
      s"corpus gram windows must die map-side, never shuffle:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.isEmpty)
  }

  test("zorder: map-side bit projection + one broadcast stats row — no sort, no window") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val df = graft.ops.LayoutOps.zorderValue(li,
      Seq("l_extendedprice", "l_quantity"), bits = 8)
    val plan = df.queryExecution.executedPlan
    // the only exchange is the one-row min/max aggregate's gather; the
    // z-value itself must be a pure projection over the streamed scan
    assert(plan.collect { case b: BroadcastExchangeExec => b }.size == 1,
      s"the stats row must broadcast:\n$plan")
    assert(plan.collect { case s: SortExec => s }.isEmpty &&
      plan.collect { case w: WindowExec => w }.isEmpty,
      "computing z-values must not sort or window the corpus")
    val shuffles = plan.collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.forall(_.child.output.length <= 4),
      s"only the bounded stats aggregation may shuffle:\n$plan")
  }

  test("per-group percentile: CDF windows run over the distinct-score rollup, never the corpus") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.llm.QuantileOps.percentileByGroup(docs, "lang", "doc_id", "n_chars")
    val plan = df.queryExecution.executedPlan
    val wins = plan.collect { case w: WindowExec => w }
    // every window must be partitioned AND sit above the (group, score)
    // aggregate — a window whose subtree has no aggregate is the corpus
    // window this op exists to avoid
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"percentile windows must partition by the group:\n$plan")
    assert(wins.forall(_.child.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }.nonEmpty), s"windows must run over the distinct-score rollup:\n$plan")
    // the join back carries only (id, group, score) — text stays columnar-
    // pruned out of the scan entirely
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(!_.schema.fieldNames.contains("text")),
      s"the text column must prune out of every scan:\n$plan")
  }

  // the partial aggregate packs each series before the group-key exchange,
  // the kernel reads a count-pinned round-robin exchange, and no cartesian
  test("flagship forecast: packed map-side gather, REPARTITION_BY_NUM kernel input") {
    val df = graft.ops.TsForecastOp.forecastBy(
      events
        .groupBy(org.apache.spark.sql.functions.col("event_type").as("g"),
          org.apache.spark.sql.functions.col("ts").cast(
            org.apache.spark.sql.types.DateType).as("ds"))
        .agg(org.apache.spark.sql.functions.sum("value").as("y")),
      "g", "ds", "y", "SeasonalNaive", 7, "1d", Map("seasonal_period" -> "7"))
    val plan = df.queryExecution.executedPlan
    assert(!plan.toString.contains("CartesianProduct"),
      "per-series forecasting must never cross-join")
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, ProjectExec,
      SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    def strip(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => strip(w.child)
      case i: InputAdapter => strip(i.child)
      case other => other
    }
    // the group-key exchange carries the PARTIAL native gather — one packed
    // record per series and input partition — never the raw (g, ds, y) rows
    val keyExchanges = plan.collect {
      case s: ShuffleExchangeExec if (s.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq("g")
        case _ => false
      }) => s
    }
    assert(keyExchanges.length == 1, s"expected one exchange keyed on g alone:\n$plan")
    strip(keyExchanges.head.child) match {
      case a: BaseAggregateExec =>
        assert(a.aggregateExpressions.nonEmpty && a.aggregateExpressions.forall(_.mode == Partial),
          s"the key exchange must sit on a partial aggregate:\n$a")
        assert(a.aggregateExpressions.exists(
            _.aggregateFunction.isInstanceOf[graft.functions.SeriesGather]),
          s"the partial aggregate must be the native series gather:\n$a")
      case other => fail(s"raw rows cross the group-key exchange:\n$other")
    }
    // r11: the kernel must read from an exchange with an EXPLICIT partition
    // count (REPARTITION_BY_NUM) — AQE's byte-based coalescing otherwise folds
    // the tiny gathered-series table to ONE partition and the whole
    // per-series kernel stage runs on a single core (measured: the AutoETS
    // bench stage at 2.2 s wall ≈ its 2.3 s single-thread kernel CPU)
    val kernel = plan.collect { case g: GenerateExec => g }
    assert(kernel.length == 1, s"expected one kernel explode:\n$plan")
    def exchangeBelow(p: SparkPlan): Option[ShuffleExchangeExec] = strip(p) match {
      case s: ShuffleExchangeExec => Some(s)
      case pr: ProjectExec => exchangeBelow(pr.child)
      case _ => None
    }
    val kernelInput = exchangeBelow(kernel.head.child)
    assert(kernelInput.exists(_.shuffleOrigin == REPARTITION_BY_NUM),
      s"the kernel's input exchange must pin its partition count against AQE coalescing:\n$plan")
  }
}
