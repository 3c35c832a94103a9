package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.kernels.{Conformal, Forecast}
import graft.ops.{TsCvOp, TsDecompositionOp}

/** Thirteenth batch: the coverage sweep that closes round 3's spec-only
  * gaps — Auto* multi-seasonal models, the Laplace variants, classical
  * decomposition, the direct cv_forecast row, per-step conformal, the
  * degenerate bootstrap-quantiles twin, and the model catalog.
  *
  * Planted constructions reuse SparkEntryV11's invariants: the Laplace
  * variants differ only in leaf-ensemble membership, and on the exact
  * seasonal plant the deseasonalized series is constant so EVERY leaf
  * (EMA, AR(1), damped Holt, seasonal-memory, median) forecasts the
  * constant — the ensemble weighting cancels and all variants forecast
  * the construction (MultiSeasonal.scala:395-427). */
object SparkEntryV13 extends EntryPart {

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // Auto multi-seasonal variants: same kernels as MSTL/MFLES/TBATS with
    // auto passthrough naming (Forecast.scala model dispatch)
    "fc_automstl" -> fcOn(plantedSea, "AutoMSTL", Map("seasonal_periods" -> "7")),
    "fc_automfles" -> fcOn(plantedCst, "AutoMFLES", Map("seasonal_periods" -> "7")),
    "fc_autotbats" -> fcOn(plantedSea, "AutoTBATS", Map("seasonal_periods" -> "7")),
    // Laplace variants (forecast.rs:64-76): leaf-set differences cancel on
    // the plant (see object Scaladoc)
    "fc_laplace_aid" -> fcOn(plantedSea, "Laplace",
      Map("seasonal_period" -> "7", "laplace_variant" -> "auto_aid")),
    "fc_laplace_skaters" -> fcOn(plantedSea, "Laplace",
      Map("seasonal_period" -> "7", "laplace_variant" -> "skaters")),
    "fc_laplace_batch" -> fcOn(plantedSea, "Laplace",
      Map("seasonal_period" -> "7", "laplace_seasonal_batch_init" -> "true")),
    // classical decomposition (period 7, additive) on the real daily series;
    // NaN trend/remainder edges become SQL NULLs
    "ts_decompose_seasonal_by" -> ((s, dir) =>
      TsDecompositionOp.decomposeSeasonalBy(dailyEvents(s, dir), "g", "ds", "y", 7)
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"),
          when(isnan(col("trend")), lit(null)).otherwise(round(col("trend"), 6)).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          when(isnan(col("remainder")), lit(null)).otherwise(round(col("remainder"), 6)).as("remainder"),
          col("period"), col("method"))),
    // direct ts_cv_forecast_by row: SeasonalNaive per (fold, group), train
    // rows carried with NULL predictions (ts_cv_forecast_native.cpp:461-485)
    "ts_cv_forecast_by" -> ((s, dir) => {
      val folds = TsCvOp.cvFoldsBy(dailyEvents(s, dir), "g", "ds", "y", 2, 7)
      TsCvOp.cvForecastBy(folds, "g", "ds", "y", "SeasonalNaive",
          Map("seasonal_period" -> "7"))
        .select(col("fold_id"), col("g"), col("ds"), round(col("y"), 6).as("y"),
          col("split"), round(col("yhat"), 6).as("yhat"),
          round(col("yhat_lower"), 4).as("yhat_lower"),
          round(col("yhat_upper"), 4).as("yhat_upper"), col("model_name"))
    }),
    // per-step conformal: step-k calibration residuals are the k-step naive
    // errors (y_i − y_{i−k}), the forecast is the last observed level
    "ts_conformal_per_step" -> ((s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      val base = (1 to 3).foldLeft(dailyEvents(s, dir))((d, k) =>
        d.withColumn(s"_r$k", col("y") - lag(col("y"), k).over(w)))
      val psUdf = udf((r1: Seq[Double], r2: Seq[Double], r3: Seq[Double], fc: Double) => {
        val (lo, hi) = Conformal.conformalPredictPerStep(
          Array(r1.toArray, r2.toArray, r3.toArray), Array.fill(3)(fc), 0.1)
        (1 to 3).map(k => (k, fc, lo(k - 1), hi(k - 1)))
      })
      base.groupBy(col("g"))
        .agg(collect_list(col("_r1")).as("_rs1"), collect_list(col("_r2")).as("_rs2"),
          collect_list(col("_r3")).as("_rs3"), max_by(col("y"), col("ds")).as("_fc"))
        .select(col("g"),
          explode(psUdf(col("_rs1"), col("_rs2"), col("_rs3"), col("_fc"))).as("_p"))
        .select(col("g"), col("_p._1").as("step"), round(col("_p._2"), 6).as("yhat"),
          round(col("_p._3"), 6).as("yhat_lower"), round(col("_p._4"), 6).as("yhat_upper"))
    }),
    // degenerate bootstrap-quantiles twin: zero residuals collapse every
    // sampled path, so each quantile equals the point forecast exactly —
    // proves the (step, quantile) plumbing without an RNG oracle
    "ts_bootstrap_quantiles" -> ((s, dir) => {
      val bqUdf = udf((fc: Double) => {
        val qs = Conformal.bootstrapQuantiles(Array.fill(20)(0.0), Array.fill(5)(fc),
          200, Array(0.1, 0.5, 0.9), seed = 7L)
        for (qi <- qs.indices; h <- 0 until 5)
          yield (Array(0.1, 0.5, 0.9)(qi), h + 1, qs(qi)(h))
      })
      dailyEvents(s, dir).groupBy(col("g")).agg(max_by(col("y"), col("ds")).as("_fc"))
        .select(col("g"), explode(bqUdf(col("_fc"))).as("_q"))
        .select(col("g"), col("_q._1").as("quantile"), col("_q._2").as("step"),
          round(col("_q._3"), 6).as("value"))
    }),
    // single-series ts_forecast_exog (ts_macros.cpp:756-830) on the exact
    // plane construction SparkEntryV10 uses for the _by variant
    "ts_forecast_exog_single" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .groupBy(col("ts").cast(DateType).as("ds"))
        .agg(exactSum(col("value")).as("_v"))
      val hist = daily
        .withColumn("x_dow", dayofweek(col("ds")).cast(DoubleType))
        .withColumn("x_t", datediff(col("ds"), lit("2024-01-01").cast(DateType)).cast(DoubleType))
        .select(col("ds"),
          (lit(10.0) + lit(2.0) * col("x_dow") + lit(3.0) * col("x_t")).as("y"),
          col("x_dow"), col("x_t"))
      val future = daily.agg(max(col("ds")).as("_mx"))
        .select(explode(sequence(lit(1), lit(7))).as("_h"), col("_mx"))
        .select(date_add(col("_mx"), col("_h")).as("ds"))
        .withColumn("x_dow", dayofweek(col("ds")).cast(DoubleType))
        .withColumn("x_t", datediff(col("ds"), lit("2024-01-01").cast(DateType)).cast(DoubleType))
      graft.ops.TsExogOp.forecastExog(hist, "ds", "y", Seq("x_dow", "x_t"),
          future, "ds", Seq("x_dow", "x_t"), "OptimizedTheta", 7, "1d")
        .select(col("forecast_step"), col("ds"), round(col("yhat"), 4).as("yhat"),
          round(col("yhat_lower"), 4).as("yhat_lower"),
          round(col("yhat_upper"), 4).as("yhat_upper"), col("model_name"))
    }),
    // model catalog (forecast.rs:2647)
    "list_models" -> ((s, dir) => {
      import s.implicits._
      Forecast.listModels.toDF("model_name", "category")
    }),
    // duplicate-cluster resolution over planted triples: each doc_id < 15 is
    // copied twice; identical shingle sets make every within-triple pair a
    // verified jaccard-1.0 candidate, and connected components collapse each
    // triple to its minimum id — transitively, so the oracle holds even if
    // LSH banding misses one of the three edges
    "dedup_clusters" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.filter(col("doc_id") < 15)
      val tripled = docs
        .unionByName(aug.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
        .unionByName(aug.select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text")))
      val pairs = graft.llm.TextOps.jaccardVerify(
        graft.llm.TextOps.minHashLshPairs(tripled, "doc_id", "text"),
        tripled, "doc_id", "text", 5, threshold = 1.0)
      graft.llm.TextOps.dedupClusters(pairs)
    }),
    "dedup_keep_canonical" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.filter(col("doc_id") < 15)
      val tripled = docs
        .unionByName(aug.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
        .unionByName(aug.select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text")))
      val pairs = graft.llm.TextOps.jaccardVerify(
        graft.llm.TextOps.minHashLshPairs(tripled, "doc_id", "text"),
        tripled, "doc_id", "text", 5, threshold = 1.0)
      graft.llm.TextOps.dedupKeepCanonical(tripled, "doc_id", pairs)
        .select(col("doc_id"))
    })
  )

  // ---------------------------------------------------------------- oracles

  /** Tripled corpus + per-doc sorted distinct 5-gram shingle set (the same
    * normalization as SparkEntryV2.DedupShingleEqualitySql, on the
    * doc_id < 15 triple plant). */
  private val TripleShingleCte =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 15
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 15),
      |sh AS (
      |  SELECT doc_id, list_sort(list_distinct(list_transform(
      |    range(1, greatest(length(n) - 3, 1)), i -> n[i:i+4]))) AS ss
      |  FROM (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS n FROM aug))""".stripMargin

  /** conformalQuantile replay: ceil((n+1)(1−α))/n order statistic of |r|
    * with linear interpolation, partitioned by (g, step). */
  private val PerStepQuantileSql =
    """o AS (SELECT g, step, a,
      |        row_number() OVER (PARTITION BY g, step ORDER BY a) - 1 AS rn,
      |        count(*) OVER (PARTITION BY g, step) AS n
      |      FROM r),
      |lv AS (SELECT g, step, n, least(1.0, ceil((n + 1) * 0.9) / n) * (n - 1) AS idx
      |       FROM (SELECT DISTINCT g, step, n FROM o) dn),
      |q AS (SELECT o.g, o.step,
      |  max(CASE WHEN o.rn = CAST(floor(lv.idx) AS BIGINT) THEN o.a END)
      |    * (1 - (max(lv.idx) - floor(max(lv.idx)))) +
      |  max(CASE WHEN o.rn = least(CAST(floor(lv.idx) AS BIGINT) + 1, lv.n - 1) THEN o.a END)
      |    * (max(lv.idx) - floor(max(lv.idx))) AS qv
      |FROM o JOIN lv ON o.g = lv.g AND o.step = lv.step
      |GROUP BY o.g, o.step)""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "fc_automstl" -> fcOracle(SeaCte, SeaY, "AutoMSTL"),
    "fc_automfles" -> fcOracle(CstCte, CstY, "AutoMFLES"),
    "fc_autotbats" -> fcOracle(SeaCte, SeaY, "AutoTBATS"),
    "fc_laplace_aid" -> fcOracle(SeaCte, SeaY, "Laplace(auto_aid,seasonal=7)"),
    "fc_laplace_skaters" -> fcOracle(SeaCte, SeaY, "Laplace(skaters,seasonal=7)"),
    "fc_laplace_batch" -> fcOracle(SeaCte, SeaY, "Laplace(auto,seasonal=7,batch_init)"),
    // classical decomposition replay: period-7 centered MA (odd period →
    // plain 7-row average), per-phase mean of detrended values normalized to
    // Σ=0, remainder = y − trend − seasonal; edges NULL
    "ts_decompose_seasonal_by" -> (SeriesCte +
      """, b AS (
        |  SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos,
        |         count(*) OVER (PARTITION BY g) AS n,
        |         avg(y) OVER (PARTITION BY g ORDER BY ds
        |                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma
        |  FROM s),
        |tr AS (SELECT g, ds, y, pos, n,
        |              CASE WHEN pos >= 3 AND pos < n - 3 THEN ma END AS trend
        |       FROM b WHERE n >= 14),
        |si AS (SELECT g, pos % 7 AS ph, avg(y - trend) AS d
        |       FROM tr WHERE trend IS NOT NULL GROUP BY g, pos % 7),
        |sn AS (SELECT g, ph, d - avg(d) OVER (PARTITION BY g) AS sidx FROM si)
        |SELECT t.g, t.ds, round(t.y, 6) AS y, round(t.trend, 6) AS trend,
        |  round(sn.sidx, 6) AS seasonal,
        |  round(t.y - t.trend - sn.sidx, 6) AS remainder,
        |  CAST(7 AS INT) AS period, 'additive' AS method
        |FROM tr t JOIN sn ON sn.g = t.g AND sn.ph = t.pos % 7""".stripMargin),
    // cvForecastBy replay: fold geometry as in cvFoldsBy; test predictions
    // are the SeasonalNaive continuation of each fold's train window with
    // point ± 1.96·σ_pop(train)·√step bounds; train rows carry NULLs
    "ts_cv_forecast_by" -> (SeriesCte +
      """, b AS (
        |  SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos,
        |         count(*) OVER (PARTITION BY g) AS n FROM s),
        |c AS (SELECT g, n, fold, greatest(n - 14, 1) - 1 + (fold - 1) * 7 AS te
        |      FROM (SELECT DISTINCT g, n FROM b) gb, (SELECT unnest(range(1, 3)) AS fold) fl
        |      WHERE n >= 2 AND greatest(n - 14, 1) - 1 + (fold - 1) * 7 + 7 < n),
        |sg AS (SELECT c.g, c.fold, stddev_pop(b.y) AS sigma
        |       FROM c JOIN b ON b.g = c.g AND b.pos <= c.te GROUP BY c.g, c.fold),
        |trn AS (SELECT c.fold, c.g, b.ds, b.y
        |        FROM c JOIN b ON b.g = c.g AND b.pos <= c.te),
        |tst AS (SELECT c.g, c.fold, c.te, b.ds, b.y, b.pos - c.te AS step
        |        FROM c JOIN b ON b.g = c.g AND b.pos > c.te AND b.pos <= c.te + 7)
        |SELECT fold AS fold_id, g, ds, round(y, 6) AS y, 'train' AS split,
        |  CAST(NULL AS DOUBLE) AS yhat, CAST(NULL AS DOUBLE) AS yhat_lower,
        |  CAST(NULL AS DOUBLE) AS yhat_upper, CAST(NULL AS VARCHAR) AS model_name
        |FROM trn
        |UNION ALL
        |SELECT t.fold, t.g, t.ds, round(t.y, 6), 'test',
        |  round(b2.y, 6),
        |  round(b2.y - 1.96 * sg.sigma * sqrt(t.step), 4),
        |  round(b2.y + 1.96 * sg.sigma * sqrt(t.step), 4),
        |  'SeasonalNaive'
        |FROM tst t
        |JOIN b b2 ON b2.g = t.g AND b2.pos = t.te - 6 + ((t.step - 1) % 7)
        |JOIN sg ON sg.g = t.g AND sg.fold = t.fold""".stripMargin),
    "ts_conformal_per_step" -> (SeriesCte +
      s""", b AS (SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) AS pos FROM s),
         |r AS (SELECT b1.g, st.step, abs(b1.y - b0.y) AS a
         |      FROM b b1, (SELECT unnest(range(1, 4)) AS step) st
         |      JOIN b b0 ON b0.g = b1.g AND b0.pos = b1.pos - st.step),
         |$PerStepQuantileSql,
         |lasty AS (SELECT g, arg_max(y, ds) AS yhat FROM s GROUP BY g)
         |SELECT q.g, CAST(q.step AS INT) AS step, round(l.yhat, 6) AS yhat,
         |  round(l.yhat - q.qv, 6) AS yhat_lower, round(l.yhat + q.qv, 6) AS yhat_upper
         |FROM q JOIN lasty l ON l.g = q.g""".stripMargin),
    "ts_bootstrap_quantiles" -> (SeriesCte +
      """, lasty AS (SELECT g, arg_max(y, ds) AS fc FROM s GROUP BY g)
        |SELECT g, qv AS quantile, CAST(step AS INT) AS step, round(fc, 6) AS value
        |FROM lasty, (SELECT unnest([0.1, 0.5, 0.9]) AS qv) qs,
        |     (SELECT unnest(range(1, 6)) AS step) st""".stripMargin),
    "ts_forecast_exog_single" ->
      """WITH a AS (SELECT max(CAST(ts AS DATE)) AS last_ds FROM events),
        |f AS (SELECT CAST(step AS INT) AS forecast_step, last_ds + CAST(step AS INT) AS ds
        |      FROM a, (SELECT unnest(range(1, 8)) AS step) st)
        |SELECT forecast_step, ds,
        | round(10.0 + 2.0 * (dayofweek(ds) + 1) + 3.0 * date_diff('day', DATE '2024-01-01', ds), 4) AS yhat,
        | round(10.0 + 2.0 * (dayofweek(ds) + 1) + 3.0 * date_diff('day', DATE '2024-01-01', ds), 4) AS yhat_lower,
        | round(10.0 + 2.0 * (dayofweek(ds) + 1) + 3.0 * date_diff('day', DATE '2024-01-01', ds), 4) AS yhat_upper,
        | 'ThetaX' AS model_name
        |FROM f""".stripMargin,
    // oracle = connected components of the shingle-set-equality graph: the
    // verified pair set IS set equality (jaccard 1.0 ⟺ equal sets; identical
    // signatures share every band bucket, so no same-set pair is missed),
    // and equality is transitive — components are exactly the groups with
    // identical shingle sets, covering the planted triples AND the corpus's
    // natural exact duplicates (present at sf0.1)
    "dedup_clusters" -> (TripleShingleCte +
      """,
        |g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY ss) AS cluster_id,
        |             count(*) OVER (PARTITION BY ss) AS csz
        |      FROM sh WHERE len(ss) > 0)
        |SELECT doc_id AS member_id, cluster_id FROM g WHERE csz > 1""".stripMargin),
    "dedup_keep_canonical" -> (TripleShingleCte +
      """
        |SELECT doc_id FROM sh WHERE len(ss) = 0
        |UNION ALL
        |SELECT doc_id FROM (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY ss) AS m
        |  FROM sh WHERE len(ss) > 0)
        |WHERE doc_id = m""".stripMargin),
    "list_models" ->
      """SELECT * FROM (VALUES
        |  ('AutoETS','automatic'), ('AutoARIMA','automatic'), ('AutoTheta','automatic'),
        |  ('AutoMFLES','automatic'), ('AutoMSTL','automatic'), ('AutoTBATS','automatic'),
        |  ('Naive','basic'), ('SMA','basic'), ('SeasonalNaive','basic'),
        |  ('SES','basic'), ('SESOptimized','basic'), ('RandomWalkDrift','basic'),
        |  ('Holt','exponential_smoothing'), ('HoltWinters','exponential_smoothing'),
        |  ('SeasonalES','exponential_smoothing'), ('SeasonalESOptimized','exponential_smoothing'),
        |  ('SeasonalWindowAverage','exponential_smoothing'),
        |  ('Theta','theta'), ('OptimizedTheta','theta'), ('DynamicTheta','theta'),
        |  ('DynamicOptimizedTheta','theta'),
        |  ('ETS','state_space'), ('ARIMA','state_space'),
        |  ('MFLES','multi_seasonal'), ('MSTL','multi_seasonal'), ('TBATS','multi_seasonal'),
        |  ('CrostonClassic','intermittent'), ('CrostonOptimized','intermittent'),
        |  ('CrostonSBA','intermittent'), ('ADIDA','intermittent'),
        |  ('IMAPA','intermittent'), ('TSB','intermittent'),
        |  ('Laplace','distributional')) AS m(model_name, category)""".stripMargin
  )
}
