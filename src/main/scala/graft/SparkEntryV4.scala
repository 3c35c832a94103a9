package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.agg.Aggregators
import graft.kernels.Conformal
import graft.ops.{TsCvOp, TsForecastOp}

/** Fourth batch: aggregate-function API, introspection, exogenous
  * forecasting, explicit-cutoff CV splits + hydrate, extended seasonality
  * analysis, bootstrap intervals. */
object SparkEntryV4 extends EntryPart {

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // ------------------------------------------------ aggregate API (SQL UDAF)
    "ts_forecast_agg_sql" -> ((s, dir) => {
      Aggregators.registerAll(s)
      dailyEventsTs(s, dir).createOrReplaceTempView("_agg_events")
      // n_points = horizon (12), n_fitted = series length — the UDAF's output
      // contract; model_name is optimizer-chosen so it stays out of the oracle
      s.sql("""SELECT g, size(fc.point_forecast) AS n_points,
              |       size(fc.insample_fitted) AS n_fitted
              |FROM (SELECT g, ts_forecast_agg(ds, y) AS fc
              |      FROM _agg_events GROUP BY g) t""".stripMargin)
    }),
    "ts_stats_agg_sql" -> ((s, dir) => {
      Aggregators.registerAll(s)
      dailyEventsTs(s, dir).createOrReplaceTempView("_agg_events2")
      s.sql("""SELECT g, st.length, st.n_nulls, round(st.mean, 6) AS mean,
              |       round(st.std_dev, 6) AS std_dev
              |FROM (SELECT g, ts_stats_agg(ds, y) AS st
              |      FROM _agg_events2 GROUP BY g) t""".stripMargin)
    }),
    // ------------------------------------------------ introspection
    // (inspect/explain moved to SparkEntryV10: contract + cross-op oracles)
    // Theta-family inspect state is fully determined by the published method
    // (theta = 2.0) → oracle-checked. AutoTheta — the reference's Inspectable
    // set covers the Auto selection family, not fixed Theta (forecast.rs:1733)
    "ts_forecast_inspect_theta" -> ((s, dir) =>
      TsForecastOp.forecastInspectBy(dailyEvents(s, dir), "g", "ds", "y", "AutoTheta")
        .select(col("g"), col("model_name"), round(col("phi"), 6).as("phi"))),
    // ------------------------------------------------ exogenous forecasting
    // (ts_forecast_exog_by moved to SparkEntryV10: exact-plane oracle)
    // ------------------------------------------------ explicit-cutoff CV + hydrate
    "ts_cv_split_by" -> ((s, dir) =>
      TsCvOp.cvSplitBy(dailyEvents(s, dir), "g", "ds", "y",
        Seq(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-22 00:00:00")), 5)
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"), col("fold_id"), col("split"))),
    "ts_cv_split_folds_by" -> ((s, dir) =>
      TsCvOp.cvSplitFoldsBy(dailyEvents(s, dir), "g", "ds", "y",
        Seq(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-22 00:00:00")), 5)),
    // reference renamed-column contract (ts_hydrate_features.test): CV splits
    // joined back to a feature table as group_col/date_col/target_col with
    // _is_test and per-fold _train_cutoff
    "ts_hydrate_features_by" -> ((s, dir) => {
      val splits = TsCvOp.cvSplitBy(dailyEvents(s, dir), "g", "ds", "y",
        Seq(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-22 00:00:00")), 5)
      val features = dailyEvents(s, dir)
        .withColumn("dow", dayofweek(col("ds")))
        .withColumn("is_weekend", dayofweek(col("ds")).isin(1, 7))
      TsCvOp.hydrateFeaturesBy(splits, features, "g", "ds", "y")
        .select(col("fold_id"), col("group_col"), col("date_col"),
          round(col("target_col"), 6).as("target_col"), col("split"),
          col("_is_test"), col("_train_cutoff"), col("dow"), col("is_weekend"))
    }),
    // regression adapter (ts_prepare_regression_input.test): target masked to
    // NULL on test rows so fit-predict over masked_target cannot leak
    "ts_prepare_regression_input_by" -> ((s, dir) => {
      val splits = TsCvOp.cvSplitBy(dailyEvents(s, dir), "g", "ds", "y",
        Seq(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-22 00:00:00")), 5)
      val features = dailyEvents(s, dir).withColumn("dow", dayofweek(col("ds")))
      TsCvOp.prepareRegressionInputBy(splits, features, "g", "ds", "y")
        .select(col("fold_id"), col("group_col"), col("date_col"),
          round(col("y"), 6).as("y"), col("split"), col("_is_test"),
          round(col("masked_target"), 6).as("masked_target"), col("dow"))
    }),
    "ts_cv_hydrate_by" -> ((s, dir) => {
      val folds = TsCvOp.cvSplitBy(dailyEvents(s, dir), "g", "ds", "y",
        Seq(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")), 5)
      val features = dailyEvents(s, dir)
        .withColumn("feat_lag", lag(col("y"), 1).over(
          Window.partitionBy(col("g")).orderBy(col("ds"))))
        .select(col("g"), col("ds"), round(col("feat_lag"), 6).as("feat_lag"))
      TsCvOp.cvHydrateBy(folds, features, "g", "ds", Seq("feat_lag"))
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"), col("fold_id"),
          col("split"), col("feat_lag"))
    }),
    // ------------------------------------------------ extended seasonality
    // (classify / analyze / amplitude-modulation moved to SparkEntryV9:
    // planted-sinusoid construction oracles)
    // (ts_seasonality_changes_by moved to SparkEntryV10: sinusoid oracle)
    // ------------------------------------------------ multimodal plumbing
    // width/height are murmur-hash-derived (no SQL equivalent; determinism is
    // spec-covered in SparkOpsSpec) — the driver projection keeps the
    // byte-arithmetic fields, which DuckDB can replay exactly on ASCII text
    "mm_decode_images" -> ((s, dir) => {
      val media = graft.llm.MultimodalOps.demoMediaTable(
        table(s, dir, "documents"), "doc_id", "text")
      graft.llm.MultimodalOps.decodeImages(media, "payload")
        .select(col("doc_id"),
          round(col("mean_luma"), 6).as("mean_luma"),
          col("media_meta.size_bytes").as("size_bytes"))
    }),
    "mm_embed_and_ann" -> ((s, dir) => {
      // full pipeline: payload → hash-arithmetic stub embedding → cosine
      // top-3 per query doc. The embed stub is pure integer/float32
      // arithmetic (MultimodalOps.StubCodec.embed), so the whole pipeline
      // replays exactly in the DuckDB oracle.
      val media = graft.llm.MultimodalOps.demoMediaTable(
        table(s, dir, "documents"), "doc_id", "text")
      val emb = graft.llm.MultimodalOps.extractEmbeddings(media, "payload", dim = 32)
      graft.llm.SimilarityOps.bruteForceTopK(
          emb, emb.filter(col("doc_id") < 5), "doc_id", "embedding", 3)
        .select(col("qid"), col("vid"), round(col("sim"), 6).as("sim"))
    }),
    "mm_frame_sampling" -> ((s, dir) => {
      val media = graft.llm.MultimodalOps.demoMediaTable(
          table(s, dir, "documents"), "doc_id", "text")
        .withColumn("duration_ms", (length(col("payload")) * 10).cast(LongType))
      graft.llm.MultimodalOps.sampleFrameOffsets(media, "duration_ms", 4)
        .select(col("doc_id"), col("frame_offset_ms"))
    }),
    // ------------------------------------------------ bootstrap intervals
    "ts_bootstrap_intervals_by" -> ((s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      val btUdf = udf((rs: Seq[Double], lastY: Double) => {
        val (lo, hi) = Conformal.bootstrapIntervals(rs.toArray,
          Array.fill(5)(lastY), 500, 0.9, seed = 42L)
        (0 until 5).map(h => (h + 1, lo(h), hi(h)))
      })
      dailyEvents(s, dir)
        .withColumn("r", col("y") - lag(col("y"), 1).over(w))
        .filter(col("r").isNotNull)
        .groupBy(col("g"))
        // date-ordered residuals + max_by anchor: the seeded bootstrap is
        // index-addressed, so input order must be deterministic
        .agg(sort_array(collect_list(struct(col("ds"), col("r")))).as("_rs0"),
          max_by(col("y"), col("ds")).as("_last"))
        .select(col("g"), explode(btUdf(col("_rs0.r"), col("_last"))).as("_b"))
        .select(col("g"), col("_b._1").as("forecast_step"),
          round(col("_b._2"), 4).as("lower"), round(col("_b._3"), 4).as("upper"))
    }),
  )

  def oracleSql: Map[String, String] = rows(
    // StubCodec byte arithmetic replayed on ASCII text: payload bytes are the
    // character codes, so mean_luma = (sum(code) / len) / 255 exactly (same
    // IEEE double division order as StubCodec.decodeImage).
    "mm_decode_images" ->
      """SELECT doc_id,
        |  round(CAST(list_aggregate(list_transform(range(1, length(text) + 1),
        |          i -> unicode(text[i:i])), 'sum') AS DOUBLE)
        |        / length(text) / 255.0, 6) AS mean_luma,
        |  CAST(length(text) AS BIGINT) AS size_bytes
        |FROM documents""".stripMargin,
    // StubCodec.embed replay: int64 weight sums, double norm (list-order
    // sequential like Spark's aggregate fold), float32 component rounding,
    // then the same cosine expression bruteForceTopK evaluates. Texts are
    // ASCII so unicode(char) == payload byte.
    "mm_embed_and_ann" ->
      """WITH raw AS (
        |  SELECT doc_id, list_transform(range(0, 32), j ->
        |    list_sum(list_transform(range(1, length(text) + 1), i ->
        |      CAST((unicode(text[i:i]) + 1) * (((i) * (j + 7)) % 97 - 48) AS BIGINT)))) AS r
        |  FROM documents),
        |e AS (
        |  SELECT doc_id,
        |    list_transform(r, x -> CAST(CAST(x AS DOUBLE) /
        |      sqrt(list_sum(list_transform(r, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS REAL)) AS v
        |  FROM raw),
        |pairs AS (
        |  SELECT q.doc_id AS qid, c.doc_id AS vid,
        |    list_sum(list_transform(range(1, 33), k ->
        |      CAST(q.v[k] AS DOUBLE) * CAST(c.v[k] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(q.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(c.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        |  FROM e q, e c WHERE q.doc_id < 5),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rn
        |       FROM pairs)
        |SELECT qid, vid, round(sim, 6) AS sim FROM rk WHERE rn <= 3""".stripMargin,
    // StubCodec.sampleFrames uniform grid: offset_i = d * (2i+1) / (2n),
    // integer (floor) division on non-negative longs in both engines
    "mm_frame_sampling" ->
      """SELECT doc_id,
        |  CAST(length(text) * 10 * (2 * i + 1) // 8 AS BIGINT) AS frame_offset_ms
        |FROM documents, (SELECT unnest(range(0, 4)) AS i) grid""".stripMargin,
    "ts_forecast_agg_sql" -> (SeriesCte +
      """
        |SELECT g, CAST(12 AS INTEGER) AS n_points, CAST(count(*) AS INTEGER) AS n_fitted
        |FROM s GROUP BY g""".stripMargin),
    "ts_stats_agg_sql" -> (SeriesCte +
      """
        |SELECT g, count(*) AS length, CAST(0 AS BIGINT) AS n_nulls,
        | round(avg(y), 6) AS mean, round(stddev_samp(y), 6) AS std_dev
        |FROM s GROUP BY g""".stripMargin),
    "ts_forecast_inspect_theta" ->
      """SELECT DISTINCT event_type AS g, 'AutoTheta' AS model_name,
        | CAST(2.0 AS DOUBLE) AS phi FROM events""".stripMargin,
    "ts_cv_split_folds_by" -> (SeriesCte +
      """, b AS (SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos
        |         FROM s),
        |folds AS (SELECT * FROM (VALUES (1, DATE '2024-01-15'), (2, DATE '2024-01-22'))
        |          AS v(fold_id, cutoff)),
        |ep AS (SELECT b.g, f.fold_id, f.cutoff,
        |              max(CASE WHEN b.ds <= f.cutoff THEN b.pos END) AS end_pos
        |       FROM b, folds f GROUP BY b.g, f.fold_id, f.cutoff),
        |rows_tagged AS (
        |  SELECT b.g, b.ds, CAST(ep.fold_id AS BIGINT) AS fold_id,
        |    CASE WHEN b.pos <= ep.end_pos THEN 'train' ELSE 'test' END AS split
        |  FROM b JOIN ep ON b.g = ep.g
        |  WHERE ep.end_pos IS NOT NULL
        |    AND (b.pos <= ep.end_pos OR (b.pos > ep.end_pos AND b.pos <= ep.end_pos + 5)))
        |SELECT g, fold_id,
        |  min(CASE WHEN split = 'train' THEN ds END) AS train_start,
        |  max(CASE WHEN split = 'train' THEN ds END) AS train_end,
        |  min(CASE WHEN split = 'test' THEN ds END) AS test_start,
        |  max(CASE WHEN split = 'test' THEN ds END) AS test_end,
        |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        |FROM rows_tagged GROUP BY g, fold_id""".stripMargin),
    "ts_cv_split_by" -> (SeriesCte +
      """, b AS (SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos
        |         FROM s),
        |folds AS (SELECT * FROM (VALUES (1, DATE '2024-01-15'), (2, DATE '2024-01-22'))
        |          AS v(fold_id, cutoff)),
        |ep AS (SELECT b.g, f.fold_id, f.cutoff,
        |              max(CASE WHEN b.ds <= f.cutoff THEN b.pos END) AS end_pos
        |       FROM b, folds f GROUP BY b.g, f.fold_id, f.cutoff)
        |SELECT b.g, b.ds, round(b.y, 6) AS y, CAST(ep.fold_id AS BIGINT) AS fold_id,
        |  CASE WHEN b.pos <= ep.end_pos THEN 'train' ELSE 'test' END AS split
        |FROM b JOIN ep ON b.g = ep.g
        |WHERE ep.end_pos IS NOT NULL
        |  AND (b.pos <= ep.end_pos OR (b.pos > ep.end_pos AND b.pos <= ep.end_pos + 5))""".stripMargin),
    "ts_hydrate_features_by" -> (SeriesCte +
      """, b AS (SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos
        |         FROM s),
        |folds AS (SELECT * FROM (VALUES (1, DATE '2024-01-15'), (2, DATE '2024-01-22'))
        |          AS v(fold_id, cutoff)),
        |ep AS (SELECT b.g, f.fold_id,
        |              max(CASE WHEN b.ds <= f.cutoff THEN b.pos END) AS end_pos,
        |              max(CASE WHEN b.ds <= f.cutoff THEN b.ds END) AS train_end
        |       FROM b, folds f GROUP BY b.g, f.fold_id)
        |SELECT CAST(ep.fold_id AS BIGINT) AS fold_id, b.g AS group_col,
        |  b.ds AS date_col, round(b.y, 6) AS target_col,
        |  CASE WHEN b.pos <= ep.end_pos THEN 'train' ELSE 'test' END AS split,
        |  b.pos > ep.end_pos AS _is_test,
        |  ep.train_end AS _train_cutoff,
        |  CAST(dayofweek(b.ds) + 1 AS INTEGER) AS dow,
        |  dayofweek(b.ds) IN (0, 6) AS is_weekend
        |FROM b JOIN ep ON b.g = ep.g
        |WHERE ep.end_pos IS NOT NULL
        |  AND (b.pos <= ep.end_pos OR (b.pos > ep.end_pos AND b.pos <= ep.end_pos + 5))""".stripMargin),
    "ts_prepare_regression_input_by" -> (SeriesCte +
      """, b AS (SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos
        |         FROM s),
        |folds AS (SELECT * FROM (VALUES (1, DATE '2024-01-15'), (2, DATE '2024-01-22'))
        |          AS v(fold_id, cutoff)),
        |ep AS (SELECT b.g, f.fold_id,
        |              max(CASE WHEN b.ds <= f.cutoff THEN b.pos END) AS end_pos
        |       FROM b, folds f GROUP BY b.g, f.fold_id)
        |SELECT CAST(ep.fold_id AS BIGINT) AS fold_id, b.g AS group_col,
        |  b.ds AS date_col, round(b.y, 6) AS y,
        |  CASE WHEN b.pos <= ep.end_pos THEN 'train' ELSE 'test' END AS split,
        |  b.pos > ep.end_pos AS _is_test,
        |  CASE WHEN b.pos > ep.end_pos THEN NULL ELSE round(b.y, 6) END AS masked_target,
        |  CAST(dayofweek(b.ds) + 1 AS INTEGER) AS dow
        |FROM b JOIN ep ON b.g = ep.g
        |WHERE ep.end_pos IS NOT NULL
        |  AND (b.pos <= ep.end_pos OR (b.pos > ep.end_pos AND b.pos <= ep.end_pos + 5))""".stripMargin),
    "ts_cv_hydrate_by" -> (SeriesCte +
      """, b AS (SELECT g, ds, y, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos,
        |         lag(y) OVER (PARTITION BY g ORDER BY ds) AS feat_lag FROM s),
        |ep AS (SELECT g, max(CASE WHEN ds <= DATE '2024-01-15' THEN pos END) AS end_pos,
        |              max(CASE WHEN ds <= DATE '2024-01-15' THEN ds END) AS train_end
        |       FROM b GROUP BY g)
        |SELECT b.g, b.ds, round(b.y, 6) AS y, CAST(1 AS BIGINT) AS fold_id,
        |  CASE WHEN b.pos <= ep.end_pos THEN 'train' ELSE 'test' END AS split,
        |  CASE WHEN b.ds > ep.train_end THEN NULL ELSE round(b.feat_lag, 6) END AS feat_lag
        |FROM b JOIN ep ON b.g = ep.g
        |WHERE ep.end_pos IS NOT NULL
        |  AND (b.pos <= ep.end_pos OR (b.pos > ep.end_pos AND b.pos <= ep.end_pos + 5))""".stripMargin),
    // Full replay of the seeded bootstrap on real data: the counter-based
    // Conformal.bootstrapIndex(42, p, u, n) draw is recomputed in SQL (all
    // intermediates BIGINT-safe), path deviations are cumulated with the same
    // left-associated double additions, and quantileSorted's type-7
    // interpolation is written out verbatim — hash-exact, not rows-only.
    "ts_bootstrap_intervals_by" -> (SeriesCte +
      s""", r AS (SELECT g, ds, y, y - lag(y) OVER (PARTITION BY g ORDER BY ds) AS r FROM s),
         |a AS (SELECT g, list(r ORDER BY ds) AS rs, count(*) AS n, max_by(y, ds) AS last
         |      FROM r WHERE r IS NOT NULL GROUP BY g),
         |p AS (SELECT g, rs, n, last, pr.p AS p,
         |        (${mixSql("pr.p", "0")}) % n AS i0, (${mixSql("pr.p", "1")}) % n AS i1,
         |        (${mixSql("pr.p", "2")}) % n AS i2, (${mixSql("pr.p", "3")}) % n AS i3,
         |        (${mixSql("pr.p", "4")}) % n AS i4
         |      FROM a CROSS JOIN (SELECT unnest(range(0, 500)) AS p) pr),
         |d AS (SELECT g, last,
         |        rs[i0 + 1] AS d1,
         |        rs[i0 + 1] + rs[i1 + 1] AS d2,
         |        rs[i0 + 1] + rs[i1 + 1] + rs[i2 + 1] AS d3,
         |        rs[i0 + 1] + rs[i1 + 1] + rs[i2 + 1] + rs[i3 + 1] AS d4,
         |        rs[i0 + 1] + rs[i1 + 1] + rs[i2 + 1] + rs[i3 + 1] + rs[i4 + 1] AS d5
         |      FROM p),
         |u AS (SELECT g, last, unnest([
         |        {'step': 1, 'd': d1}, {'step': 2, 'd': d2}, {'step': 3, 'd': d3},
         |        {'step': 4, 'd': d4}, {'step': 5, 'd': d5}]) AS z FROM d),
         |qs AS (SELECT g, last, z.step AS forecast_step,
         |         list_sort(list(z.d)) AS l, count(*) AS c
         |       FROM u GROUP BY 1, 2, 3)
         |SELECT g, forecast_step,
         |  round(last + ${quantileSql("((1.0 - 0.9) / 2.0)")}, 4) AS lower,
         |  round(last + ${quantileSql("(1.0 - (1.0 - 0.9) / 2.0)")}, 4) AS upper
         |FROM qs""".stripMargin),
  )

  /** DuckDB replay of `Conformal.bootstrapIndex(42, p, u, n)` (before the
    * `% n`): counter mod P, then three `x ← ((x ⊕ x≫16)·48271) mod P` rounds,
    * P = 2^31−1. Every intermediate stays below 2^47, so plain BIGINT
    * arithmetic reproduces the JVM draw bit-for-bit. */
  private def mixSql(p: String, u: String): String = {
    def rnd(x: String) = s"((xor($x, $x >> 16) * 48271) % 2147483647)"
    rnd(rnd(rnd(s"((42 + ($p * 2654435761) % 2147483647 + ($u * 40503) % 2147483647) % 2147483647)")))
  }

  /** `Conformal.quantileSorted(l, q)` written out over a sorted list column
    * `l` of length `c`: idx = q·(c−1), l[lo]·(1−frac) + l[hi]·frac — the same
    * IEEE expression, so the oracle matches to the last bit. */
  private def quantileSql(q: String): String = {
    val idx = s"($q * (c - 1))"
    val lo = s"CAST(floor($idx) AS BIGINT)"
    s"(l[$lo + 1] * (1.0 - ($idx - floor($idx))) + l[least($lo + 1, c - 1) + 1] * ($idx - floor($idx)))"
  }
}
