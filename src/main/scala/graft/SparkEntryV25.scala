package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.kernels.Features

/** Twenty-fifth batch: the last reference scalar/catalog SQL names (round-8
  * name-parity closure, VERDICT r7 "What's missing #1").
  *
  * Each row calls the REGISTERED SQL surface (`graft.sql.Register` scalars /
  * the `ts_features_list` TVF) — not the Scala kernels directly — so the
  * rows gate the SQL route itself: name resolution, variadic-arity
  * dispatch, the reference's struct field names, and the default-parameter
  * fill-in. Fixtures are planted synthetic series (sinusoid / fading /
  * growing-envelope) whose expected outputs follow from theory, with the
  * one replayable double (trend strength) recomputed in the oracle from its
  * documented formula — the SparkEntryV9 discipline.
  */
object SparkEntryV25 extends EntryPart {

  /** Five stable group keys (order priorities exist at every SF). */
  private def withGroups(s: SparkSession, dir: String, view: String): Unit =
    table(s, dir, "orders").select(col("o_orderpriority").as("g"))
      .distinct().createOrReplaceTempView(view)

  private def registered(s: SparkSession): SparkSession = {
    graft.sql.Register.registerAll(s); s
  }

  // planted fixtures, identical text in the Spark query and the DuckDB
  // oracle so per-element double arithmetic is engine-identical
  private val Sine70 = "transform(sequence(1, 70), i -> 10.0 + sin(i * (2 * pi() / 7)))"
  private val Fading70 =
    "transform(sequence(1, 70), i -> CASE WHEN i <= 35 THEN 10.0 + sin(i * (2 * pi() / 7)) ELSE 10.0 END)"
  private val Growing70 =
    "transform(sequence(1, 70), i -> (1.0 + i / 20.0) * sin(i * (2 * pi() / 7)))"

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // primary period + trend strength through the 1-arg scalar; theory gives
    // period 7 on a pure period-7 sinusoid, trend replayed from the formula
    "sql_scalar_analyze_seasonality" -> ((s, dir) => {
      withGroups(registered(s), dir, "_v25_groups_a")
      s.sql(
        s"""SELECT g, r.primary_period AS primary_period,
           | round(r.trend_strength, 6) AS trend_strength
           |FROM (SELECT g, ts_analyze_seasonality($Sine70) AS r
           |      FROM _v25_groups_a)""".stripMargin)
    }),
    // rolling strength: (70-14)/7+1 = 9 window positions, each a pure
    // sinusoid window → strength far above the 0.3 seasonality line
    "sql_scalar_strength_windowed" -> ((s, dir) => {
      withGroups(registered(s), dir, "_v25_groups_w")
      s.sql(
        s"""SELECT g, size(r) AS n_windows,
           | CAST(array_min(r) >= 0.3 AS BOOLEAN) AS all_strong
           |FROM (SELECT g, ts_seasonal_strength_windowed($Sine70, 7) AS r
           |      FROM _v25_groups_w)""".stripMargin)
    }),
    // seasonal first half, flat second half → exactly one 0.3-crossing of
    // the strength curve, downward: one cessation change point
    "sql_scalar_seasonality_changes" -> ((s, dir) => {
      withGroups(registered(s), dir, "_v25_groups_c")
      s.sql(
        s"""SELECT g, r.n_changes AS n_changes,
           | element_at(r.change_points, 1).change_type AS first_change
           |FROM (SELECT g, ts_detect_seasonality_changes($Fading70, 7) AS r
           |      FROM _v25_groups_c)""".stripMargin)
    }),
    // Hilbert instantaneous period: one estimate per input point (the
    // ts_instantaneous_period_by contract, through the scalar route)
    "sql_scalar_instantaneous_period" -> ((s, dir) => {
      withGroups(registered(s), dir, "_v25_groups_i")
      s.sql(
        s"""SELECT g, size(r.periods) AS n_points,
           | CAST(size(r.frequencies) = size(r.periods)
           |      AND size(r.amplitudes) = size(r.periods) AS BOOLEAN) AS aligned
           |FROM (SELECT g, ts_instantaneous_period($Sine70) AS r
           |      FROM _v25_groups_i)""".stripMargin)
    }),
    // linearly growing envelope → per-cycle amplitudes rise monotonically:
    // emerging modulation, 10 envelope samples (70/7 cycles), scale = period
    "sql_scalar_amplitude_modulation" -> ((s, dir) => {
      withGroups(registered(s), dir, "_v25_groups_m")
      s.sql(
        s"""SELECT g, r.is_seasonal AS is_seasonal,
           | r.has_modulation AS has_modulation,
           | r.modulation_type AS modulation_type,
           | size(r.wavelet_amplitude) AS n_envelope, r.scale AS scale
           |FROM (SELECT g, ts_detect_amplitude_modulation($Growing70, 7) AS r
           |      FROM _v25_groups_m)""".stripMargin)
    }),
    // the feature catalog TVF in the reference's five-column shape
    "sql_features_list" -> ((s, dir) =>
      registered(s).sql(
        "SELECT * FROM ts_features_list()")),
    // config scalars: parsed names == requested names, '{}' overrides —
    // the same parser ts_features_from_json/_from_csv apply
    "sql_features_config_scalars" -> ((s, dir) =>
      registered(s).sql(
        """SELECT j.feature_name AS feature_name, 'json' AS source FROM (
          |  SELECT explode(c.feature_names) AS feature_name
          |  FROM (SELECT ts_features_config_from_json(
          |          '["mean", "maximum", "minimum"]') AS c)) j
          |UNION ALL
          |SELECT v.feature_name, 'csv' AS source FROM (
          |  SELECT explode(c.feature_names) AS feature_name
          |  FROM (SELECT ts_features_config_from_csv('sum,range') AS c)) v""".stripMargin))
  )

  private val GroupsCte =
    "WITH d AS (SELECT DISTINCT o_orderpriority AS g FROM orders)"

  def oracleSql: Map[String, String] = rows(
    // trend_strength replays the documented R²-of-linear-fit formula over
    // the same planted values (SeasonalityExt.analyze; SparkEntryV9 pattern)
    "sql_scalar_analyze_seasonality" -> (GroupsCte +
      """, sp AS (SELECT g, pos - 1 AS i, 10.0 + sin(pos * (2 * pi() / 7)) AS y
        |         FROM d, (SELECT unnest(range(1, 71)) AS pos)),
        |m AS (SELECT g, avg(y) AS mean, count(*) AS n FROM sp GROUP BY g),
        |agg AS (SELECT sp.g,
        |   sum((sp.i - (m.n - 1) / 2.0) * (sp.y - m.mean)) AS sxy,
        |   sum((sp.i - (m.n - 1) / 2.0) * (sp.i - (m.n - 1) / 2.0)) AS sxx,
        |   sum((sp.y - m.mean) * (sp.y - m.mean)) AS var
        | FROM sp JOIN m ON sp.g = m.g GROUP BY sp.g)
        |SELECT g, CAST(7 AS INTEGER) AS primary_period,
        | round(least(1.0, sqrt(sxy * sxy / (sxx * var))), 6) AS trend_strength
        |FROM agg""".stripMargin),
    "sql_scalar_strength_windowed" -> (GroupsCte +
      " SELECT g, CAST(9 AS INTEGER) AS n_windows, TRUE AS all_strong FROM d"),
    "sql_scalar_seasonality_changes" -> (GroupsCte +
      " SELECT g, CAST(1 AS BIGINT) AS n_changes, 'cessation' AS first_change FROM d"),
    "sql_scalar_instantaneous_period" -> (GroupsCte +
      " SELECT g, CAST(70 AS INTEGER) AS n_points, TRUE AS aligned FROM d"),
    "sql_scalar_amplitude_modulation" -> (GroupsCte +
      """ SELECT g, TRUE AS is_seasonal, TRUE AS has_modulation,
        | 'emerging' AS modulation_type, CAST(10 AS INTEGER) AS n_envelope,
        | CAST(7.0 AS DOUBLE) AS scale FROM d""".stripMargin),
    "sql_features_list" ->
      ("SELECT 'value' AS column_name, unnest(" +
        Features.allNames.map(n => s"'$n'").mkString("[", ", ", "]") +
        ") AS feature_name, '' AS parameter_suffix, '{}' AS default_parameters," +
        " '' AS parameter_keys"),
    "sql_features_config_scalars" ->
      """SELECT unnest(['mean', 'maximum', 'minimum']) AS feature_name, 'json' AS source
        |UNION ALL
        |SELECT unnest(['sum', 'range']) AS feature_name, 'csv' AS source""".stripMargin
  )
}
