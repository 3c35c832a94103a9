package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Focused scale10 A/B probe (not part of the driver contract): times the
  * scale10 queries from [[Bench]] in isolation, with the SQL extension
  * installed or not (GRAFT_EXT=0|1), so extension overhead and per-op
  * regressions can be bisected without running the full bench. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // GRAFT_EXT: 1|both = full extension, 0|none = bare session,
    // rule = resolution rule only, fns = injected table functions only
    // (bisects which half of the extension a regression lives in)
    val extMode = sys.env.getOrElse("GRAFT_EXT", "1") match {
      case "1" => "both"
      case "0" => "none"
      case m => m
    }
    val useExt = extMode != "none"
    val which = sys.env.getOrElse("GRAFT_PROBE", "fc,backtest").split(",").toSet
    val b = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (extMode match {
      case "both" => b.withExtensions(new graft.sql.GraftExtensions)
      case "rule" => b.withExtensions(ext =>
        ext.injectResolutionRule(s => new graft.sql.TableMacroRule(s)))
      case "fns" => b.withExtensions(ext => graft.sql.GraftExtensions.injectFns(ext))
      case _ => b
    }).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
    val series = (if (ev0.schema("ts").dataType == LongType)
        ev0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else ev0)
      .groupBy(col("user_id").as("g"), col("ts").cast(DateType).as("ds"))
      .agg(sum("value").as("y"))
    val mult = sys.env.getOrElse("GRAFT_SCALE_MULT", "10").toInt
    val series10 = (0 until mult).map(i =>
        series.withColumn("g", col("g") + lit(i * 100000000L)))
      .reduce(_ unionByName _).coalesce(32).cache()
    val n = series10.select("g").distinct().count()

    def onceDf(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    def med5(run: => Double): (Double, Seq[Double]) = {
      run; val ts = Seq.fill(5)(run).sorted; (ts(2), ts)
    }
    if (which("fc")) {
      val (m, ts) = med5(onceDf(ops.TsForecastOp.forecastBy(series10, "g", "ds", "y",
        "SeasonalNaive", 14, "1d", Map("seasonal_period" -> "7"))))
      println(f"fc_snaive ext=$useExt sec=$m%.3f ms_per_series=${m * 1000 / n}%.4f all=${ts.map(t => f"$t%.3f")}")
    }
    if (which("knn")) {
      val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val n1 = emb1.count()
      val emb10 = (0 until 10).map(i =>
          emb1.withColumn("vec_id", col("vec_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _).coalesce(32).cache()
      emb10.count()
      val centroids10 = llm.SimilarityOps.ivfTrain(emb10, "vec_id", "embedding", 32)
      val (m, ts) = med5(onceDf(llm.SimilarityOps.knnGraphWithCentroids(
        emb10, "vec_id", "embedding", k = 10, centroids10, nProbe = 8)))
      println(f"knn_graph ext=$useExt sec=$m%.3f ms_per_node=${m * 1000 / (n1 * 10)}%.4f all=${ts.map(t => f"$t%.3f")}")
      val (ms, tss) = med5(onceDf(llm.SimilarityOps.semDedupPairs(
        emb10, "vec_id", "embedding", centroids10, minSim = 0.99)))
      println(f"semdedup ext=$useExt sec=$ms%.3f ms_per_vec=${ms * 1000 / (n1 * 10)}%.4f all=${tss.map(t => f"$t%.3f")}")
      emb10.unpersist()
    }
    if (which("knnbisect")) {
      // isolate the knn candidate pipeline's stages: same join + scoring
      // volume, but reduced with a plain max() instead of the top-k UDAF
      val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val emb10 = (0 until 10).map(i =>
          emb1.withColumn("vec_id", col("vec_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _).coalesce(32).cache()
      emb10.count()
      val centroids10 = llm.SimilarityOps.ivfTrain(emb10, "vec_id", "embedding", 32)
      val assigned = llm.SimilarityOps.ivfAssign(emb10, "vec_id", "embedding", centroids10)
        .localCheckpoint(true)
      val probes = assigned.select(col("vid").as("qid"), col("_cv").as("_qv"),
          col("centroid_id"))
      val joined = probes
        .withColumn("_qn", sqrt(expr("aggregate(_qv, 0D, (a, x) -> a + x * x)")))
        .join(assigned.withColumn("_vn",
          sqrt(expr("aggregate(_cv, 0D, (a, x) -> a + x * x)"))), Seq("centroid_id"))
        .filter(col("qid") =!= col("vid"))
        .withColumn("sim", graft.llm.SimilarityOps.cosine(col("_qv"), col("_cv")))
        .filter(!isnan(col("sim")))
        .select(col("qid"), col("vid"), col("sim"))
      def onceD(df: => DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      def m3(run: => Double): Double = { run; val ts = Seq.fill(3)(run).sorted; ts(1) }
      val tMax = m3(onceD(joined.groupBy(col("qid")).agg(max(col("sim")).as("m"))))
      println(f"knn_bisect max-agg sec=$tMax%.3f")
      val tCount = m3(onceD(joined.groupBy(col("qid")).agg(count(lit(1)).as("c"))))
      println(f"knn_bisect count-agg sec=$tCount%.3f")
    }
    if (which("longseries")) {
      // Honest optimizer-cost probe (VERDICT r9 #3): sf0.1 series are short
      // (~60 obs), so their ms/series says nothing about the reference's
      // published M4-Daily rates on ~2,000-obs series (benchmark/README.md:
      // AutoETS 269 s, OptimizedTheta 343 s, HoltWinters 61 s over 4,227
      // series → 63.6 / 81.1 / 14.4 ms/series). Same shape here: 4,227
      // series × 2,000 daily obs — level + trend + weekly seasonality +
      // deterministic LCG noise, horizon 14.
      val nS = sys.env.getOrElse("GRAFT_LONG_SERIES", "4227").toInt
      val nObs = sys.env.getOrElse("GRAFT_LONG_OBS", "2000").toInt
      val long = spark.range(nS).select(col("id").as("g"))
        .select(col("g"), explode(sequence(lit(0), lit(nObs - 1))).as("i"))
        .select(col("g"),
          date_add(lit(java.sql.Date.valueOf("2018-01-01")), col("i")).as("ds"),
          (lit(100.0) + pmod(col("g"), lit(50L)).cast("double")
            + col("i").cast("double") * lit(0.01)
            + sin(pmod(col("i"), lit(7L)).cast("double") * lit(2.0 * math.Pi / 7.0)) * lit(5.0)
            + pmod(col("g") * lit(1000003L) + col("i") * lit(7919L), lit(1000L))
                .cast("double") / lit(100.0)).as("y"))
        .coalesce(32).cache()
      long.count()
      def m3l(run: => Double): (Double, Seq[Double]) =
        { run; val ts = Seq.fill(3)(run).sorted; (ts(1), ts) }
      Seq(
        ("HoltWinters", Map("seasonal_period" -> "7"), 14.4),
        ("AutoETS", Map("seasonal_period" -> "7"), 63.6),
        ("OptimizedTheta", Map.empty[String, String], 81.1)
      ).foreach { case (model, params, refMs) =>
        val (m, ts) = m3l(onceDf(ops.TsForecastOp.forecastBy(
          long, "g", "ds", "y", model, 14, "1d", params)))
        val per = m * 1000 / nS
        println(f"longseries_$model sec=$m%.3f ms_per_series=$per%.4f " +
          f"ref_ms_per_series=$refMs ratio=${per / refMs}%.3f " +
          f"all=${ts.map(t => f"$t%.3f")}")
      }
      long.unpersist()
    }
    if (which("dsir")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
        .reduce(_ unionByName _).coalesce(32).cache()
      docs10.count()
      def m3(run: => Double): Double = { run; val ts = Seq.fill(3)(run).sorted; ts(1) }
      val mFit = m3(onceDf(llm.DsirOps.dsirWeights(docs10,
        docs10.filter(col("doc_id") % 100 === 0), "doc_id", "text",
        numBuckets = 65536, seed = 3)))
      println(f"dsir_fit_score sec=$mFit%.3f ms_per_doc=${mFit * 1000 / (n1 * 10)}%.4f")
      // production steady state: model pinned once, batches score against it
      val model = llm.DsirOps.fitModel(docs10,
        docs10.filter(col("doc_id") % 100 === 0), "text",
        numBuckets = 65536, seed = 3)
      val pinned = llm.DsirOps.DsirModel(
        llm.Pin(model.ratios).df, llm.Pin(model.unseen).df, 65536, 3L)
      val mScore = m3(onceDf(llm.DsirOps.scoreWithModel(docs10, "doc_id", "text", pinned)))
      println(f"dsir_score_only sec=$mScore%.3f ms_per_doc=${mScore * 1000 / (n1 * 10)}%.4f")
      docs10.unpersist()
    }
    if (which("bm25")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
        .reduce(_ unionByName _).coalesce(32).cache()
      docs10.count()
      def m3(run: => Double): Double = { run; val ts = Seq.fill(3)(run).sorted; ts(1) }
      val q = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("qid"), col("text"))
      val mTop = m3(onceDf(llm.RetrievalOps.bm25TopK(docs10, "doc_id", "text",
        q, "qid", "text", k = 10)))
      println(f"bm25_topk sec=$mTop%.3f ms_per_query=${mTop * 1000 / 20}%.3f")
      val idxDir = java.nio.file.Files.createTempDirectory("probe_bm25").toString
      llm.RetrievalOps.bm25BuildIndex(docs10, "doc_id", "text", idxDir, 64)
      val mIdx = m3(onceDf(llm.RetrievalOps.bm25QueryIndex(spark, idxDir,
        q, "qid", "text", k = 10)))
      println(f"bm25_index_query sec=$mIdx%.3f ms_per_query=${mIdx * 1000 / 20}%.3f")
      docs10.unpersist()
    }
    if (which("minhash")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
        .reduce(_ unionByName _).coalesce(32).cache()
      docs10.count()
      val (m, ts) = med5(onceDf(llm.TextOps.minHashLshPairs(docs10, "doc_id", "text")))
      println(f"minhash ext=$useExt sec=$m%.3f ms_per_doc=${m * 1000 / (n1 * 10)}%.4f all=${ts.map(t => f"$t%.3f")}")
      docs10.unpersist()
    }
    if (which("hashembed")) {
      // feature-hashing embedding in both forms: the native one-pass
      // HashEmbedVector vs the declarative scatter-accumulate spec
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _).coalesce(32).cache()
      docs10.count()
      def m3(run: => Double): Double = { run; val ts = Seq.fill(3)(run).sorted; ts(1) }
      val tNat = m3(onceDf(llm.TextOps.hashEmbed(docs10, "doc_id", "text", dim = 64, seed = 7)))
      println(f"hashembed_native sec=$tNat%.3f ms_per_doc=${tNat * 1000 / (n1 * 10)}%.4f")
      val tRef = m3(onceDf(llm.TextOps.hashEmbedReference(docs10, "doc_id", "text", dim = 64, seed = 7)))
      println(f"hashembed_declarative sec=$tRef%.3f ms_per_doc=${tRef * 1000 / (n1 * 10)}%.4f")
      docs10.unpersist()
    }
    if (which("jverify")) {
      // the LSH verify stage in both forms: native 64-bit hash sets (the
      // round-8 production path) vs the retained string-shingle executable
      // spec — candidate pairs come from planted 10-way near-dup structure
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
        .reduce(_ unionByName _).coalesce(32).cache()
      docs10.count()
      val cand = llm.TextOps.minHashLshPairs(docs10, "doc_id", "text")
        .localCheckpoint(true)
      val nc = cand.count()
      def m3(run: => Double): Double = { run; val ts = Seq.fill(3)(run).sorted; ts(1) }
      val tHash = m3(onceDf(llm.TextOps.jaccardVerify(cand, docs10,
        "doc_id", "text", 5, 0.5)))
      println(f"jverify_hashset pairs=$nc sec=$tHash%.3f ms_per_doc=${tHash * 1000 / (n1 * 10)}%.4f")
      val tStr = m3(onceDf(llm.TextOps.jaccardVerifyStrings(cand, docs10,
        "doc_id", "text", 5, 0.5)))
      println(f"jverify_strings pairs=$nc sec=$tStr%.3f ms_per_doc=${tStr * 1000 / (n1 * 10)}%.4f")
      docs10.unpersist()
    }
    if (which("minhashbisect")) {
      // stage boundaries of minHashLshPairs: signature only, banded table
      // only, then the full candidate pipeline
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
        .reduce(_ unionByName _).coalesce(32).cache()
      docs10.count()
      def m3(run: => Double): Double = { run; val ts = Seq.fill(3)(run).sorted; ts(1) }
      val tSig = m3(onceDf(llm.TextOps.minHashSignature(docs10, "text")))
      println(f"mh_signature_only sec=$tSig%.3f ms_per_doc=${tSig * 1000 / (n1 * 10)}%.4f")
      val tBand = m3(onceDf(llm.TextOps.bandedTable(docs10, "doc_id", "text", 64, 16, 5)))
      println(f"mh_banded_only sec=$tBand%.3f ms_per_doc=${tBand * 1000 / (n1 * 10)}%.4f")
      val tFull = m3(onceDf(llm.TextOps.minHashLshPairs(docs10, "doc_id", "text")))
      println(f"mh_full sec=$tFull%.3f ms_per_doc=${tFull * 1000 / (n1 * 10)}%.4f")
      docs10.unpersist()
    }
    if (which("decon")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
        .reduce(_ unionByName _).coalesce(32).cache()
      docs10.count()
      def m3(run: => Double): Double = { run; val ts = Seq.fill(3)(run).sorted; ts(1) }
      val tIds = m3(onceDf(llm.TextOps.contaminatedIds(docs10,
        docs10.filter(col("doc_id") % 100 === 0), "doc_id", "text")))
      println(f"decon_ids sec=$tIds%.3f ms_per_doc=${tIds * 1000 / (n1 * 10)}%.4f")
      val tJac = m3(onceDf(llm.TextOps.jaccardContamination(docs10,
        docs10.filter(col("doc_id") % 100 === 0).withColumnRenamed("doc_id", "bench_id"),
        "doc_id", "bench_id", "text", n = 13, threshold = 0.8)))
      println(f"decon_jaccard sec=$tJac%.3f ms_per_doc=${tJac * 1000 / (n1 * 10)}%.4f")
      docs10.unpersist()
      // span dedup on the gram-distinct replica corpus (the bench fixture)
      val docsSpan10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text", translate(col("text"), "eE", s"$i$i")))
        .reduce(_ unionByName _).coalesce(32).cache()
      docsSpan10.count()
      val tSpan = m3(onceDf(llm.TextOps.removeDuplicatedSpans(
        docsSpan10, "doc_id", "text", gramLen = 20)))
      println(f"decon_spans sec=$tSpan%.3f ms_per_doc=${tSpan * 1000 / (n1 * 10)}%.4f")
      docsSpan10.unpersist()
    }
    if (which("btbisect")) {
      // stage-boundary timings for the backtest plan: kernel-only (compact
      // perFold rows, no pin), exploded rows (pin + explode, no score join),
      // and the full scored output
      System.setProperty("graft.backtest.probe", "1")
      ops.TsCvOp.backtestAutoBy(series10, "g", "ds", "y", 7, 2, "1d",
        Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), "rmse")
      def m3(run: => Double): Double = { run; val ts = Seq.fill(3)(run).sorted; ts(1) }
      val tKernel = m3 {
        ops.TsCvOp.backtestAutoBy(series10, "g", "ds", "y", 7, 2, "1d",
          Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), "rmse")
        onceDf(ops.TsCvOp.lastStages.perFold)
      }
      println(f"bt_kernel_only sec=$tKernel%.3f")
      val tOut = m3 {
        ops.TsCvOp.backtestAutoBy(series10, "g", "ds", "y", 7, 2, "1d",
          Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), "rmse")
        onceDf(ops.TsCvOp.lastStages.out)
      }
      println(f"bt_out_no_score sec=$tOut%.3f")
      val tFull = m3(onceDf(ops.TsCvOp.backtestAutoBy(series10, "g", "ds", "y", 7, 2, "1d",
        Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), "rmse")))
      println(f"bt_full sec=$tFull%.3f")
      // construction alone (the fold-score collect job, incl. pin
      // materialization) vs the downstream output job
      def m3v(run: => Double): Double = { run; val ts = Seq.fill(3)(run).sorted; ts(1) }
      val tCons = m3v {
        val t0 = System.nanoTime()
        ops.TsCvOp.backtestAutoBy(series10, "g", "ds", "y", 7, 2, "1d",
          Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), "rmse")
        (System.nanoTime() - t0) / 1e9
      }
      println(f"bt_construct_only sec=$tCons%.3f")
      // gather-only floor: the same Series.gather forecastBy pays, with no
      // kernel on top
      val tGather = m3v(onceDf(graft.ops.Series.gather(series10, "g", "ds", "y")))
      println(f"bt_gather_only sec=$tGather%.3f")
      // alternative gather shape: one raw-row shuffle + per-partition sort +
      // run assembly (no partial collect_list buffers, no sort_array)
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val altSchema = StructType(Seq(
        StructField("g", LongType), StructField("_ts", ArrayType(LongType, false)),
        StructField("_vs", ArrayType(DoubleType, false)),
        StructField("_nu", ArrayType(BooleanType, false))))
      def altGather = {
        val prepped = series10
          .select(col("g").cast(LongType).as("g"),
            unix_micros(col("ds").cast(TimestampType)).as("t"),
            coalesce(col("y").cast(DoubleType), lit(Double.NaN)).as("v"),
            col("y").isNull.as("nu"))
          .repartition(32, col("g"))
          .sortWithinPartitions(col("g"), col("t"))
        val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(altSchema)
        prepped.mapPartitions { it =>
          new Iterator[Row] {
            var cur: Row = if (it.hasNext) it.next() else null
            def hasNext: Boolean = cur != null
            def next(): Row = {
              val g = cur.getLong(0)
              val ts = Array.newBuilder[Long]; val vs = Array.newBuilder[Double]
              val nu = Array.newBuilder[Boolean]
              while (cur != null && cur.getLong(0) == g) {
                ts += cur.getLong(1); vs += cur.getDouble(2); nu += cur.getBoolean(3)
                cur = if (it.hasNext) it.next() else null
              }
              Row(g, ts.result(), vs.result(), nu.result())
            }
          }
        }(enc)
      }
      val tAlt = m3v(onceDf(altGather))
      println(f"bt_gather_alt sec=$tAlt%.3f")
    }
    if (which("dedupagainst")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
        .reduce(_ unionByName _).coalesce(32).cache()
      docs10.count()
      val (mFull, tsFull) = med5(onceDf(llm.TextOps.dedupAgainstCorpus(
        docs10.filter(col("doc_id") < 100000000L),
        docs10.filter(col("doc_id") >= 100000000L),
        "doc_id", "text", threshold = 0.9)))
      println(f"dedup_against_full ext=$useExt sec=$mFull%.3f ms_per_doc=${mFull * 1000 / (n1 * 10)}%.4f all=${tsFull.map(t => f"$t%.3f")}")
      val idx = llm.TextOps.buildDedupIndex(
        docs10.filter(col("doc_id") >= 100000000L), "doc_id", "text",
        threshold = 0.9)
      val (m, ts) = med5(onceDf(llm.TextOps.dedupAgainstIndex(
        docs10.filter(col("doc_id") < 100000000L), idx, "doc_id", "text",
        threshold = 0.9)))
      println(f"dedup_against_steady ext=$useExt sec=$m%.3f ms_per_incoming_doc=${m * 1000 / n1}%.4f all=${ts.map(t => f"$t%.3f")}")
      idx.release()
      docs10.unpersist()
    }
    if (which("backtest")) {
      val (m, ts) = med5(onceDf(ops.TsCvOp.backtestAutoBy(series10, "g", "ds", "y",
        7, 2, "1d", Map("method" -> "SeasonalNaive", "seasonal_period" -> "7"), "rmse")))
      println(f"backtest ext=$useExt sec=$m%.3f ms_per_series=${m * 1000 / n}%.4f all=${ts.map(t => f"$t%.3f")}")
    }
    if (which("bloom")) {
      // round-9 Bloom gate: build = one aggregation over the 9/10 reference
      // slice; score = map-only bit test over the incoming 1/10
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text", concat(col("text"), lit(s" r$i"))))
        .reduce(_ unionByName _).coalesce(32).cache()
      docs10.count()
      val fp = llm.BloomOps.productionFingerprint(col("text"))
      val (mb, tsb) = med5(onceDf(llm.BloomOps.buildPlan(
        docs10.filter(col("doc_id") >= 100000000L), fp, 1L << 24, 7, 1L)))
      println(f"bloom_build ext=$useExt sec=$mb%.3f ms_per_doc=${mb * 1000 / (n1 * 9)}%.4f all=${tsb.map(t => f"$t%.3f")}")
      val model = llm.BloomOps.buildBloom(
        docs10.filter(col("doc_id") >= 100000000L), fp, 1L << 24, 7, 1L)
      val (ms, tss) = med5(onceDf(llm.BloomOps.dedupAgainstBloom(
        docs10.filter(col("doc_id") < 100000000L), model, fp)))
      println(f"bloom_score ext=$useExt sec=$ms%.3f ms_per_incoming_doc=${ms * 1000 / n1}%.4f all=${tss.map(t => f"$t%.3f")}")
      docs10.unpersist()
    }
    if (which("toptok")) {
      // round-9 frequent-items sketch A/B: exact explode→groupBy(token)
      // vs the bounded mergeable sketch, on a corpus whose vocabulary is
      // inflated web-style (two unique hapax tokens per doc) — the regime
      // where the exact op's exchange cardinality grows with the corpus
      // and the sketch's stays at `capacity`
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _)
        .withColumn("text", concat(col("text"),
          lit(" u"), col("doc_id"), lit("a u"), col("doc_id"), lit("b")))
        .coalesce(32).cache()
      docs10.count()
      val (tx, tsx) = med5(onceDf(llm.TextOps.topTokens(docs10, "text", 50)))
      println(f"toptok_exact sec=$tx%.3f ms_per_doc=${tx * 1000 / (n1 * 10)}%.4f all=${tsx.map(t => f"$t%.3f")}")
      val (tk, tsk) = med5(onceDf(llm.TextOps.topTokensSketch(docs10, "text", 50, 4096)))
      println(f"toptok_sketch sec=$tk%.3f ms_per_doc=${tk * 1000 / (n1 * 10)}%.4f all=${tsk.map(t => f"$t%.3f")}")
      docs10.unpersist()
    }
    if (which("kll")) {
      // round-9 quantile-sketch A/B: Spark's exact `percentile` aggregate
      // (ships/holds EVERY score — the naive distribution question) vs the
      // bounded mergeable KLL summary at capacity 4096 (approximate
      // regime at this corpus; the driver rows gate the exact regime)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _)
        .withColumn("score",
          col("n_chars") * lit(1.0) + pmod(col("doc_id"), lit(997)) * lit(0.001))
        .coalesce(32).cache()
      docs10.count()
      val (tx, tsx) = med5(onceDf(docs10.agg(
        expr("percentile(score, array(0.25, 0.5, 0.9, 0.99))").as("qs"))))
      println(f"kll_exact_percentile sec=$tx%.3f ms_per_doc=${tx * 1000 / (n1 * 10)}%.4f all=${tsx.map(t => f"$t%.3f")}")
      val (tk, tsk) = med5(onceDf(llm.QuantileOps.scoreQuantilesSketch(
        docs10, "score", Seq(0.25, 0.5, 0.9, 0.99), 4096)))
      println(f"kll_sketch sec=$tk%.3f ms_per_doc=${tk * 1000 / (n1 * 10)}%.4f all=${tsk.map(t => f"$t%.3f")}")
      docs10.unpersist()
    }
    if (which("cm")) {
      // round-9 count-min A/B: exact explode→groupBy(token)→count (the
      // vocabulary-cardinality exchange, hapax-inflated web-style: every
      // doc adds two unique tokens, so the exact path's shuffle grows
      // with the corpus) vs the bounded d·w counter fold (one 32 KB
      // buffer per partition crosses, whatever the vocabulary)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _)
        .withColumn("text", concat(col("text"),
          lit(" u"), col("doc_id"), lit("a u"), col("doc_id"), lit("b")))
        .coalesce(32).cache()
      docs10.count()
      val toksCol = filter(split(lower(trim(col("text"))), "[ \\t\\n\\r\\f]+"),
        t => length(t) > 0)
      val (tx, tsx) = med5(onceDf(docs10
        .select(explode(toksCol).as("tok")).groupBy("tok").count()))
      println(f"cm_exact_counts sec=$tx%.3f ms_per_doc=${tx * 1000 / (n1 * 10)}%.4f all=${tsx.map(t => f"$t%.3f")}")
      val (tk, tsk) = med5(onceDf(llm.FrequencyOps.cmSketch(docs10, "text")))
      println(f"cm_sketch sec=$tk%.3f ms_per_doc=${tk * 1000 / (n1 * 10)}%.4f all=${tsk.map(t => f"$t%.3f")}")
      docs10.unpersist()
    }
    if (which("tfidf")) {
      // round-9 TF-IDF A/B: exact document frequencies (vocabulary-keyed
      // groupBy + a vocabulary-sized join back) vs the CM-sketch IDF
      // (broadcast d·w longs) on the hapax-inflated corpus — same
      // tokenization, same per-doc rank window, only the IDF side differs
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _)
        .withColumn("text", concat(col("text"),
          lit(" u"), col("doc_id"), lit("a u"), col("doc_id"), lit("b")))
        .coalesce(32).cache()
      val nDocs = docs10.count()
      def exactTfidf(): DataFrame = {
        val toksCol = filter(split(lower(trim(col("text"))), "[ \\t\\n\\r\\f]+"),
          t => length(t) > 0)
        val dt = docs10.select(col("doc_id"), explode(toksCol).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = dt.groupBy("term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))
        dt.join(dfreq, Seq("term"))
          .withColumn("score",
            round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
      }
      val (tx, tsx) = med5(onceDf(exactTfidf()))
      println(f"tfidf_exact_idf sec=$tx%.3f ms_per_doc=${tx * 1000 / (n1 * 10)}%.4f all=${tsx.map(t => f"$t%.3f")}")
      val (tk, tsk) = med5(onceDf(llm.FrequencyOps.tfidfKeywords(
        docs10, "doc_id", "text", k = 5)))
      println(f"tfidf_cm_idf sec=$tk%.3f ms_per_doc=${tk * 1000 / (n1 * 10)}%.4f all=${tsk.map(t => f"$t%.3f")}")
      docs10.unpersist()
    }
    if (which("pagerank")) {
      // round-9 scaled-long PageRank: 10 iterations over a 10x synthetic
      // edge list (each node 5 out-edges, mixer-derived targets — the kNN
      // graph shape without paying the kNN build inside the probe)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val nVec = emb.count()
      val base = (0 until 10).map(i => emb.select(
          (col("vec_id") + lit(i * 100000000L)).as("s")))
        .reduce(_ unionByName _)
      val edges10 = base
        .withColumn("_k", explode(lit((1 to 5).toArray)))
        .select(col("s"), (graft.llm.SampleOps.hashBucket(
          col("s") * 7 + col("_k"), 41L) % lit(nVec * 10)).as("d"))
        .filter(col("s") =!= col("d"))
        .coalesce(32).cache()
      val nEdges = edges10.count()
      val (t, ts) = med5(onceDf(graft.ops.GraphOps.pageRank(edges10, "s", "d", 10)))
      println(f"pagerank_10it sec=$t%.3f ms_per_1k_edge_iters=${t * 1000 / (nEdges * 10 / 1000.0)}%.4f n_edges=$nEdges all=${ts.map(x => f"$x%.3f")}")
      edges10.unpersist()
    }
    if (which("pq")) {
      // round-9 PQ: train untimed (once per corpus version), encode map-only
      // over the 10× corpus, ADC top-k against pre-encoded codes
      val emb1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val n1 = emb1.count()
      val emb10 = (0 until 10).map(i =>
          emb1.withColumn("vec_id", col("vec_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _).coalesce(32).cache()
      emb10.count()
      val model = llm.PqOps.pqTrain(emb10, "vec_id", "embedding",
        m = 8, nCodes = 64, iters = 2)
      val (me, tse) = med5(onceDf(llm.PqOps.pqEncode(emb10, model, "embedding")))
      println(f"pq_encode ext=$useExt sec=$me%.3f ms_per_vec=${me * 1000 / (n1 * 10)}%.4f all=${tse.map(t => f"$t%.3f")}")
      val codes = llm.Pin(llm.PqOps.pqEncode(emb10, model, "embedding", out = "codes")
        .select(col("vec_id").as("_pq_vid"), col("codes"))).df
      val (mq, tsq) = med5(onceDf(llm.PqOps.pqScoreCodes(codes,
        emb1.filter(col("vec_id") < 20), model, "vec_id", "embedding", k = 10)))
      println(f"pq_topk ext=$useExt sec=$mq%.3f ms_per_query=${mq * 1000 / 20}%.3f all=${tsq.map(t => f"$t%.3f")}")
      emb10.unpersist()
    }
    if (which("phash")) {
      // round-9 image near-dup: native codegen DHash56 vs the interpreted
      // UDF spec form (the hash is the map-side hot loop of nearDupImages —
      // every payload, possibly re-evaluated by the banding lineage), plus
      // the full candidate+verify pipeline per doc
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docs10 = (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _).coalesce(32)
      val media = llm.MultimodalOps.demoMediaTable(docs10, "doc_id", "text")
        .cache()
      media.count()
      val (tn, tsn) = med5(onceDf(llm.MultimodalOps.imageDHash(media, "payload")))
      println(f"phash_native sec=$tn%.3f ms_per_img=${tn * 1000 / (n1 * 10)}%.4f all=${tsn.map(t => f"$t%.3f")}")
      val hUdf = udf((p: Array[Byte]) => llm.MultimodalOps.StubCodec.dHash56(p))
      val (tu, tsu) = med5(onceDf(media.withColumn("dhash", hUdf(col("payload")))))
      println(f"phash_udf sec=$tu%.3f ms_per_img=${tu * 1000 / (n1 * 10)}%.4f all=${tsu.map(t => f"$t%.3f")}")
      val (tp, tsp) = med5(onceDf(llm.MultimodalOps.nearDupImages(
        media, "doc_id", "payload", maxDist = 3, bands = 4)))
      println(f"phash_neardup sec=$tp%.3f ms_per_img=${tp * 1000 / (n1 * 10)}%.4f all=${tsp.map(t => f"$t%.3f")}")
      media.unpersist()
    }
    if (which("asof")) {
      // A/B: the union+window as-of core vs the naive equi-join +
      // per-left-row max + re-join formulation (what a range join
      // degenerates to) — same semantics, join-shaped plan
      val ev = (if (ev0.schema("ts").dataType == LongType)
          ev0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else ev0)
      val evM = (0 until mult).map(i =>
          ev.withColumn("user_id", col("user_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _).coalesce(32)
      def sideAgg(et: String) = evM.filter(col("event_type") === et)
        .groupBy(col("user_id").as("g"), col("ts")).agg(sum("value").as("y"))
      val l = sideAgg("purchase").cache(); val nL = l.count()
      val r = sideAgg("click").withColumnRenamed("y", "cy").cache(); r.count()
      val (ta, tsa) = med5(onceDf(
        ops.AsofJoinOp.asofJoin(l, r, Seq("g"), "ts", "ts", Seq("cy"))))
      println(f"asof_window sec=$ta%.3f ms_per_left_row=${ta * 1000 / nL}%.4f all=${tsa.map(t => f"$t%.3f")}")
      val (tj, tsj) = med5(onceDf {
        val best = l.join(r.select(col("g"), col("ts").as("rts"), col("cy")), Seq("g"))
          .filter(col("rts") <= col("ts"))
          .groupBy(col("g"), col("ts")).agg(max(col("rts")).as("mts"))
        l.join(best, Seq("g", "ts"), "left")
          .join(r.select(col("g"), col("ts").as("mts"), col("cy")),
            Seq("g", "mts"), "left")
      })
      println(f"asof_naive_join sec=$tj%.3f ms_per_left_row=${tj * 1000 / nL}%.4f all=${tsj.map(t => f"$t%.3f")}")
      l.unpersist(); r.unpersist()
      // DENSITY-scaled fixture: same entities, mult× LONGER per-key
      // timelines (ts jittered per replica) — the regime where the naive
      // join's per-key |L_g|x|R_g| term dominates while the union+window
      // core stays linear. This is the year-of-quotes-per-entity shape.
      val evD = (0 until mult).map(i =>
          ev.withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 7 + 1} SECOND")))
        .reduce(_ unionByName _).coalesce(32)
      def sideAggD(et: String) = evD.filter(col("event_type") === et)
        .groupBy(col("user_id").as("g"), col("ts")).agg(sum("value").as("y"))
      val lD = sideAggD("purchase").cache(); val nLD = lD.count()
      val rD = sideAggD("click").withColumnRenamed("y", "cy").cache(); rD.count()
      val (td, tsd) = med5(onceDf(
        ops.AsofJoinOp.asofJoin(lD, rD, Seq("g"), "ts", "ts", Seq("cy"))))
      println(f"asof_window_dense sec=$td%.3f ms_per_left_row=${td * 1000 / nLD}%.4f all=${tsd.map(t => f"$t%.3f")}")
      val (tjd, tsjd) = med5(onceDf {
        val best = lD.join(rD.select(col("g"), col("ts").as("rts"), col("cy")), Seq("g"))
          .filter(col("rts") <= col("ts"))
          .groupBy(col("g"), col("ts")).agg(max(col("rts")).as("mts"))
        lD.join(best, Seq("g", "ts"), "left")
          .join(rD.select(col("g"), col("ts").as("mts"), col("cy")),
            Seq("g", "mts"), "left")
      })
      println(f"asof_naive_dense sec=$tjd%.3f ms_per_left_row=${tjd * 1000 / nLD}%.4f all=${tsjd.map(t => f"$t%.3f")}")
      lD.unpersist(); rD.unpersist()
    }
    if (which("session")) {
      val ev = (if (ev0.schema("ts").dataType == LongType)
          ev0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else ev0)
      val evM = (0 until mult).map(i =>
          ev.withColumn("user_id", col("user_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _).coalesce(32).cache()
      val nE = evM.count()
      val gapUs = 6L * 3600 * 1000000
      val (tz, tsz) = med5(onceDf(
        ops.SessionOps.sessionize(evM, Seq("user_id"), "ts", gapUs)))
      println(f"sessionize sec=$tz%.3f ms_per_event=${tz * 1000 / nE}%.4f all=${tsz.map(t => f"$t%.3f")}")
      val (tt, tst) = med5(onceDf(
        ops.SessionOps.sessionStats(evM, Seq("user_id"), "ts", gapUs, Some("value"))))
      println(f"session_stats sec=$tt%.3f ms_per_event=${tt * 1000 / nE}%.4f all=${tst.map(t => f"$t%.3f")}")
      evM.unpersist()
    }
    if (which("hll")) {
      // A/B: register-sketch distinct vs the exact distinct aggregation —
      // the exact path's exchange carries every unique key
      val ev = (if (ev0.schema("ts").dataType == LongType)
          ev0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else ev0)
      val evM = (0 until mult).map(i =>
          ev.withColumn("user_id", col("user_id") + lit(i * 100000000L)))
        .reduce(_ unionByName _).coalesce(32)
      val ents = evM.select(col("event_type").as("g"),
        (col("user_id") * lit(1000000L) +
          datediff(col("ts").cast("date"), lit("1970-01-01"))).as("ent"))
        .cache()
      val nE = ents.count()
      val (th, tsh) = med5(onceDf(
        llm.CardinalityOps.hllCountBy(ents, Seq("g"), "ent", p = 12)))
      println(f"hll_sketch sec=$th%.3f ms_per_event=${th * 1000 / nE}%.4f all=${tsh.map(t => f"$t%.3f")}")
      val (te, tse) = med5(onceDf(
        ents.groupBy("g").agg(countDistinct(col("ent")).as("n"))))
      println(f"hll_exact_distinct sec=$te%.3f ms_per_event=${te * 1000 / nE}%.4f all=${tse.map(t => f"$t%.3f")}")
      ents.unpersist()
    }
    if (which("fuzzy")) {
      // blocked fuzzy join on replica-distinct 24-char prefixes; the
      // quadratic verify-everything alternative is deliberately not run
      // at full mult (it is O(n²) — probe it at mult=1 for the A/B)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val n1 = docs.count()
      val docsM = (0 until mult).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i * 100000000L))
          .withColumn("text", translate(col("text"), "eE", s"${i % 10}${i % 10}")))
        .reduce(_ unionByName _).coalesce(32)
        .select(col("doc_id").as("id"), substring(col("text"), 1, 24).as("s"))
        .cache()
      val nS = docsM.count()
      val (tf, tsf) = med5(onceDf(
        llm.FuzzyJoinOps.fuzzySelfJoin(docsM, "id", "s", 2)))
      println(f"fuzzy_blocked sec=$tf%.3f ms_per_string=${tf * 1000 / nS}%.4f all=${tsf.map(t => f"$t%.3f")}")
      if (mult <= 1) {
        val a = docsM.select(col("id").as("id1"), col("s").as("s1"),
          length(col("s")).as("l1"))
        val b = docsM.select(col("id").as("id2"), col("s").as("s2"),
          length(col("s")).as("l2"))
        val (tb, tsb) = med5(onceDf(
          a.join(b, col("id1") < col("id2") &&
              abs(col("l1") - col("l2")) <= 2)
            .withColumn("dist", levenshtein(col("s1"), col("s2"), 2))
            .filter(col("dist") >= 0)))
        println(f"fuzzy_brute sec=$tb%.3f ms_per_string=${tb * 1000 / nS}%.4f all=${tsb.map(t => f"$t%.3f")}")
      }
      docsM.unpersist()
    }
    spark.stop()
  }
}
