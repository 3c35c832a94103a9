package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntryFixtures._
import graft.kernels.{Conformal, SeasonalityExt}
import graft.ops.{Series, TsDecompositionOp}

/** Ninth batch: planted-construction oracles for the peak and seasonality
  * analysis surface, the instantaneous-period length contract, and a
  * degenerate-residual bootstrap whose intervals are deterministic
  * regardless of the resampling path. */
object SparkEntryV9 extends EntryPart {

  private val SpikeCte =
    """WITH d AS (
      |  SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS ds
      |  FROM orders GROUP BY 1, 2),
      |p AS (SELECT g, ds, row_number() OVER (PARTITION BY g ORDER BY ds) - 1 AS pos
      |      FROM d),
      |spike AS (SELECT g, ds, pos,
      |                 CASE WHEN pos % 4 = 1 THEN 5.0 ELSE 0.0 END AS y
      |          FROM p WHERE pos < 64)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // planted spikes: every peak index/value/prominence follows from the input
    "ts_detect_peaks_by" -> ((s, dir) =>
      TsDecompositionOp.detectPeaksBy(spikeSeries(s, dir), "g", "ds", "y")
        .select(col("g"), col("peak_index"), col("ds"),
          round(col("peak_value"), 6).as("peak_value"),
          round(col("prominence"), 6).as("prominence"))),
    "ts_analyze_peak_timing_by" -> ((s, dir) =>
      TsDecompositionOp.analyzePeakTimingBy(spikeSeries(s, dir), "g", "ds", "y", 4.0)
        .select(col("g"), round(col("mean_interval"), 6).as("mean_interval"),
          round(col("interval_std"), 6).as("interval_std"),
          round(col("timing_variability"), 6).as("timing_variability"),
          col("is_regular"), col("n_peaks"))),
    // perfect sinusoid: stable timing, stable amplitude, seasonal — theory
    "ts_classify_seasonality_by" -> ((s, dir) =>
      graft.ops.TsDecompositionOp.classifySeasonalityBy(sinusoid7(s, dir), "g", "ds", "y", 7)
        .select(col("g"), col("timing_classification"), col("modulation_type"),
          col("has_stable_timing"), col("is_seasonal"))),
    "ts_amplitude_modulation_by" -> ((s, dir) =>
      Series.mapKernel(sinusoid7(s, dir), Seq("g"), "ds", "y")(o =>
        o.clean(14).toSeq.map(SeasonalityExt.amplitudeModulation(_, 7)))
        .select(col("g"), col("_r.is_seasonal"), col("_r.modulation_type"),
          col("_r.has_modulation"))),
    "ts_analyze_seasonality_by" -> ((s, dir) =>
      graft.ops.TsDecompositionOp.analyzeSeasonalityBy(sinusoid7(s, dir), "g", "ds", "y")
        .select(col("g"), col("primary_period"), col("is_seasonal"),
          round(col("trend_strength"), 6).as("trend_strength"))),
    // contract: one instantaneous-period estimate per input point
    "ts_instantaneous_period_by" -> ((s, dir) =>
      Series.mapKernel(dailyEvents(s, dir), Seq("g"), "ds", "y")(o =>
        o.clean(4).toSeq.map(SeasonalityExt.instantaneousPeriod(_).period.length))
        .select(col("g"), col("_r").as("n_points"))),
    // degenerate residuals: every bootstrap path accumulates the same step,
    // so the intervals collapse to lastY + 3·h regardless of the RNG
    "ts_bootstrap_degenerate" -> ((s, dir) => {
      val w = Window.partitionBy(col("g")).orderBy(col("ds"))
      val linear = dailyEvents(s, dir)
        .withColumn("yv", lit(100.0) + lit(3.0) * (row_number().over(w)))
        .select(col("g"), col("ds"), col("yv").as("y"))
      val btUdf = udf((rs: Seq[Double], lastY: Double) => {
        val (lo, hi) = Conformal.bootstrapIntervals(rs.toArray,
          Array.fill(5)(lastY), 500, 0.9, seed = 42L)
        (0 until 5).map(h => (h + 1, lo(h), hi(h)))
      })
      linear
        .withColumn("r", col("y") - lag(col("y"), 1).over(w))
        .filter(col("r").isNotNull)
        .groupBy(col("g"))
        .agg(sort_array(collect_list(struct(col("ds"), col("r")))).as("_rs0"),
          max_by(col("y"), col("ds")).as("_last"))
        .select(col("g"), explode(btUdf(col("_rs0.r"), col("_last"))).as("_b"))
        .select(col("g"), col("_b._1").as("forecast_step"),
          round(col("_b._2"), 4).as("lower"), round(col("_b._3"), 4).as("upper"))
    }),
  )

  def oracleSql: Map[String, String] = rows(
    "ts_detect_peaks_by" -> (SpikeCte +
      """
        |SELECT g, CAST(pos AS INTEGER) AS peak_index, ds,
        | CAST(5.0 AS DOUBLE) AS peak_value, CAST(5.0 AS DOUBLE) AS prominence
        |FROM spike WHERE pos % 4 = 1 AND pos >= 1 AND pos <= 62""".stripMargin),
    "ts_analyze_peak_timing_by" -> (SpikeCte +
      """, per AS (SELECT g, count(*) AS n_peaks FROM spike
        |          WHERE pos % 4 = 1 AND pos >= 1 AND pos <= 62 GROUP BY g)
        |SELECT g, CAST(4.0 AS DOUBLE) AS mean_interval, CAST(0.0 AS DOUBLE) AS interval_std,
        | CAST(0.0 AS DOUBLE) AS timing_variability, TRUE AS is_regular,
        | CAST(n_peaks AS INTEGER) AS n_peaks
        |FROM per""".stripMargin),
    "ts_classify_seasonality_by" ->
      """SELECT DISTINCT o_orderpriority AS g, 'stable_seasonal' AS timing_classification,
        | 'stable' AS modulation_type, TRUE AS has_stable_timing, TRUE AS is_seasonal
        |FROM orders""".stripMargin,
    "ts_amplitude_modulation_by" ->
      """SELECT DISTINCT o_orderpriority AS g, TRUE AS is_seasonal,
        | 'stable' AS modulation_type, FALSE AS has_modulation
        |FROM orders""".stripMargin,
    // trend_strength replays the documented R²-of-linear-fit formula
    // (kernels/SeasonalityExt.analyze) over the same planted construction —
    // a pure sinusoid's phase term does NOT cancel against the index ramp
    "ts_analyze_seasonality_by" ->
      """WITH d AS (SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS ds
        |           FROM orders GROUP BY 1, 2),
        |p AS (SELECT g, row_number() OVER (PARTITION BY g ORDER BY ds) AS pos FROM d),
        |sp AS (SELECT g, pos - 1 AS i, 10.0 + sin(pos * (2 * pi() / 7)) AS y
        |       FROM p WHERE pos <= 70),
        |m AS (SELECT g, avg(y) AS mean, count(*) AS n FROM sp GROUP BY g),
        |agg AS (SELECT sp.g,
        |   sum((sp.i - (m.n - 1) / 2.0) * (sp.y - m.mean)) AS sxy,
        |   sum((sp.i - (m.n - 1) / 2.0) * (sp.i - (m.n - 1) / 2.0)) AS sxx,
        |   sum((sp.y - m.mean) * (sp.y - m.mean)) AS var
        | FROM sp JOIN m ON sp.g = m.g GROUP BY sp.g)
        |SELECT g, CAST(7 AS INTEGER) AS primary_period, TRUE AS is_seasonal,
        | round(least(1.0, sqrt(sxy * sxy / (sxx * var))), 6) AS trend_strength
        |FROM agg""".stripMargin,
    "ts_instantaneous_period_by" -> (SeriesCte +
      """
        |SELECT g, CAST(count(*) AS INTEGER) AS n_points FROM s GROUP BY g""".stripMargin),
    "ts_bootstrap_degenerate" -> (SeriesCte +
      """, n AS (SELECT g, count(*) AS cnt FROM s GROUP BY g)
        |SELECT g, CAST(step AS INT) AS forecast_step,
        | round(100.0 + 3.0 * cnt + 3.0 * step, 4) AS lower,
        | round(100.0 + 3.0 * cnt + 3.0 * step, 4) AS upper
        |FROM n, (SELECT unnest(range(1, 6)) AS step) st""".stripMargin),
  )
}
