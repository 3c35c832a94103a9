package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.ops.{TsConformalOp, TsDecompositionOp}

/** Twelfth batch: the remaining period-detection methods, the detrend family
  * beyond linear/auto, and conformal evaluation — each on a planted
  * construction whose expected output is known from theory, so every oracle
  * is honest SQL (the same discipline as SparkEntryV9-V11).
  *
  *  - period detectors run on a 64-point period-8 sinusoid: any correct
  *    estimator reports 8 (regression/aic resolve harmonic multiples via
  *    subharmonic tie-breaking — kernels/Periods.scala).
  *  - detrend poly on an exact quadratic, diff/loess on an exact line:
  *    OLS/loess reproduce polynomial inputs bit-near-exactly, so
  *    trend = y and detrended = 0 up to rounding; diff of the line is its
  *    constant slope.
  *  - conformal evaluate on planted intervals with a known miss pattern:
  *    coverage/violation/width/Winkler are closed-form (conformal.rs:1159).
  */
object SparkEntryV12 extends EntryPart {

  private def quadratic(s: SparkSession, dir: String): DataFrame =
    plantedBase(s, dir, 48).select(col("g"), col("ds"),
      (lit(2.0) + lit(0.3) * col("_pos") + lit(0.05) * col("_pos") * col("_pos")).as("y"))

  private def line(s: SparkSession, dir: String): DataFrame =
    plantedBase(s, dir, 48).select(col("g"), col("ds"),
      (lit(5.0) + lit(2.0) * col("_pos")).as("y"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // the 9 detection methods without their own driver row (fft/acf/
    // autoperiod live in SparkEntryV3); one distinct row per group × method
    "ts_detect_periods_methods" -> ((s, dir) => {
      val methods = Seq("regression", "multi", "cfd_autoperiod", "lomb_scargle",
        "aic", "ssa", "stl", "matrix_profile", "sazed")
      methods.map { m =>
        TsDecompositionOp.detectPeriodsBy(sinusoid8(s, dir), "g", "ds", "y", m,
          minConfidence = Some(0.0))
          .select(col("g"), lit(m).as("method"),
            round(col("primary_period")).as("detected")).distinct()
      }.reduce(_ unionByName _)
    }),
    // exact quadratic: degree-2 OLS reproduces it, so trend = y, detrended = 0
    "ts_detrend_poly_by" -> ((s, dir) =>
      TsDecompositionOp.detrendBy(quadratic(s, dir), "g", "ds", "y", "poly")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"),
          round(col("trend"), 4).as("trend"),
          round(col("detrended"), 4).as("detrended"), col("method"))),
    // exact line: first difference is the constant slope (first row NaN-
    // trimmed on both sides)
    "ts_detrend_diff_by" -> ((s, dir) =>
      TsDecompositionOp.detrendBy(line(s, dir), "g", "ds", "y", "diff")
        .filter(!isnan(col("detrended")))
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"),
          round(col("trend"), 4).as("trend"),
          round(col("detrended"), 4).as("detrended"), col("method"))),
    // exact line: locally-weighted linear regression is exact on a line
    "ts_detrend_loess_by" -> ((s, dir) =>
      TsDecompositionOp.detrendBy(line(s, dir), "g", "ds", "y", "loess")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"),
          round(col("trend"), 4).as("trend"),
          round(col("detrended"), 4).as("detrended"), col("method"))),
    // IVF in its exhaustive limit (nProbe = nLists) is exactly brute force:
    // the DuckDB brute-force top-k is an honest oracle for the whole
    // train→assign→probe→search pipeline
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      graft.llm.SimilarityOps.ivfTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, nLists = 16, nProbe = 16)
        .select(col("qid"), col("vid"), round(col("sim"), 6).as("sim"))
    }),
    // int8 symmetric quantization, exploded to scalar rows: per-vector
    // scale maxabs/127, HALF_UP component rounding — DuckDB replays the
    // identical IEEE expression, so the 4×-storage path is hash-checked
    "emb_quantize" -> ((s, dir) => {
      val q = graft.llm.SimilarityOps.quantizeEmbeddings(
        table(s, dir, "embeddings").filter(col("vec_id") < 200), "embedding")
      q.select(col("vec_id"), round(col("qvec_scale"), 6).as("qscale"),
          posexplode(col("qvec")))
        .select(col("vec_id"), col("qscale"), col("pos"),
          col("col").cast(IntegerType).as("q"))
    }),
    // the persisted-index path (centroid_id-partitioned parquet layout),
    // probed exhaustively → same brute-force oracle as ann_ivf_topk: the
    // write→partition-pruned-read round trip is hash-checked end to end
    "ann_ivf_index_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
      graft.llm.SimilarityOps.ivfWriteIndex(emb, "vec_id", "embedding", nLists = 16, idxDir)
      graft.llm.SimilarityOps.ivfProbeIndex(s, idxDir, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, nProbe = 16)
        .select(col("qid"), col("vid"), round(col("sim"), 6).as("sim"))
    }),
    // resize to 1×1 exercises the downsample path deterministically: the
    // stub's strided sample keeps exactly the first byte, so DuckDB can
    // replay the output payload byte-for-byte from the (ASCII) source text
    "mm_resize_images" -> ((s, dir) => {
      val media = graft.llm.MultimodalOps.demoMediaTable(
        table(s, dir, "documents"), "doc_id", "text")
      graft.llm.MultimodalOps.resizeImages(media, "payload", 1, 1)
        .select(col("doc_id"), col("media_meta.width").as("out_w"),
          col("media_meta.height").as("out_h"),
          col("media_meta.size_bytes").as("out_size"),
          base64(col("payload")).as("payload_b64"))
    }),
    // planted intervals: every 5th point misses below by exactly 1.0 →
    // coverage 0.8, Winkler = width + miss_rate · (2/α)·1
    "ts_conformal_evaluate_by" -> ((s, dir) => {
      val base = plantedBase(s, dir, 50)
      val intervals = base.select(col("g"), col("ds"),
        (lit(20.0) + col("_pos")).as("actual"),
        when(col("_pos") % 5 === 0, lit(21.0) + col("_pos"))
          .otherwise(lit(19.0) + col("_pos")).as("lower"),
        (lit(22.0) + col("_pos")).as("upper"))
      TsConformalOp.conformalEvaluateBy(intervals, "g", "actual", "lower", "upper", 0.1)
        .select(col("g"), round(col("coverage"), 6).as("coverage"),
          round(col("violation_rate"), 6).as("violation_rate"),
          round(col("mean_width"), 6).as("mean_width"),
          round(col("winkler_score"), 6).as("winkler_score"), col("n_observations"))
    }),
  )

  /** Brute-force cosine top-k — the honest oracle for BOTH ivf rows (the
    * exhaustive nProbe = nLists limit is exactly brute force). */
  private val IvfBruteForceOracle =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |pairs AS (
      |  SELECT q.qid, e.vec_id AS vid,
      |         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS sim
      |  FROM q, embeddings e),
      |r AS (SELECT qid, vid, sim,
      |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rk
      |      FROM pairs)
      |SELECT qid, vid, round(sim, 6) AS sim FROM r WHERE rk <= 10""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "mm_resize_images" ->
      """SELECT doc_id, CAST(1 AS INTEGER) AS out_w, CAST(1 AS INTEGER) AS out_h,
        | CAST(1 AS BIGINT) AS out_size,
        | base64(encode(substr(text, 1, 1))) AS payload_b64
        |FROM documents""".stripMargin,
    "ann_ivf_topk" -> IvfBruteForceOracle,
    "ann_ivf_index_topk" -> IvfBruteForceOracle,
    "emb_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 200),
        |m AS (SELECT vec_id, v,
        |        list_aggregate(list_transform(v, x -> abs(x)), 'max') AS ma FROM e)
        |SELECT vec_id, round(ma / 127.0, 6) AS qscale, z.u.pos AS pos, z.u.q AS q
        |FROM m, LATERAL (SELECT unnest(list_transform(v, (x, i) ->
        |  {'pos': CAST(i - 1 AS INTEGER),
        |   'q': CAST(CASE WHEN ma = 0 THEN 0 ELSE round(x * 127.0 / ma) END AS INTEGER)})) AS u) z""".stripMargin,
    "ts_detect_periods_methods" ->
      """SELECT g, method, CAST(8.0 AS DOUBLE) AS detected
        |FROM (SELECT DISTINCT o_orderpriority AS g FROM orders) gs,
        |     (SELECT unnest(['regression', 'multi', 'cfd_autoperiod', 'lomb_scargle',
        |                     'aic', 'ssa', 'stl', 'matrix_profile', 'sazed']) AS method) ms""".stripMargin,
    "ts_detrend_poly_by" -> (PlantedSpineSql(48) +
      """
        |SELECT g, ds, round(2.0 + 0.3 * pos + 0.05 * pos * pos, 6) AS y,
        | round(2.0 + 0.3 * pos + 0.05 * pos * pos, 4) AS trend,
        | CAST(0.0 AS DOUBLE) AS detrended, 'polynomial' AS method
        |FROM spine""".stripMargin),
    "ts_detrend_diff_by" -> (PlantedSpineSql(48) +
      """
        |SELECT g, ds, round(5.0 + 2.0 * pos, 6) AS y,
        | round(3.0 + 2.0 * pos, 4) AS trend,
        | CAST(2.0 AS DOUBLE) AS detrended, 'diff' AS method
        |FROM spine WHERE pos >= 1""".stripMargin),
    "ts_detrend_loess_by" -> (PlantedSpineSql(48) +
      """
        |SELECT g, ds, round(5.0 + 2.0 * pos, 6) AS y,
        | round(5.0 + 2.0 * pos, 4) AS trend,
        | CAST(0.0 AS DOUBLE) AS detrended, 'loess' AS method
        |FROM spine""".stripMargin),
    // 50 points, 10 misses of exactly 1.0 below, width 3 everywhere except
    // the miss rows (width 1): mean_width = (40·3 + 10·1)/50 = 2.6;
    // winkler = mean_width + (10/50)·(2/0.1)·1 = 2.6 + 4.0
    "ts_conformal_evaluate_by" -> (PlantedSpineSql(50) +
      """
        |SELECT g, CAST(0.8 AS DOUBLE) AS coverage, CAST(0.2 AS DOUBLE) AS violation_rate,
        | round(2.6, 6) AS mean_width, round(6.6, 6) AS winkler_score,
        | CAST(50 AS BIGINT) AS n_observations
        |FROM (SELECT DISTINCT g FROM spine) gs""".stripMargin),
  )

  /** DuckDB spine matching plantedBase: per-priority order dates, first n. */
  private def PlantedSpineSql(n: Int): String =
    s"""WITH spine AS (
       |  SELECT g, ds, pos FROM (
       |    SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS ds,
       |           row_number() OVER (PARTITION BY o_orderpriority
       |                              ORDER BY CAST(o_orderdate AS DATE)) - 1 AS pos
       |    FROM (SELECT DISTINCT o_orderpriority, CAST(o_orderdate AS DATE) AS o_orderdate
       |          FROM orders) d
       |  ) WHERE pos < $n)""".stripMargin
}
