package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernels.Features

/** Feature-extraction operators (reference ts_features.cpp:55 — one output
  * column per feature, named from the catalog; ts_features_list catalog fn
  * :160-173). The output schema is computed at plan time from the requested
  * feature list (dynamic-schema contract, SURVEY.md §2.10). */
object TsFeaturesOp {

  /** ts_features_by: one wide row per group with one column per requested
    * feature (default: the full 117-feature catalog), from one
    * [[Series.mapKernel]] stage. A group with a NaN left after gap
    * interpolation gives no row. */
  def featuresBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                 features: Seq[String] = Features.allNames): DataFrame = {
    val unknown = features.filterNot(Features.allNames.contains)
    require(unknown.isEmpty, s"Unknown feature(s): ${unknown.mkString(", ")}")
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      s.clean(0).toSeq.map { clean =>
        val all = Features.extract(clean)
        features.map(all(_))
      })
      .select(col(groupCol) +: features.zipWithIndex.map { case (name, i) =>
        element_at(col("_r"), i + 1).as(name)
      }: _*)
  }

  /** ts_features_list (ts_features.cpp:160-246): the feature catalog in the
    * reference's five-column shape — `column_name` is the default value
    * column, suffix/parameters are empty for the basic (parameterless)
    * catalog, exactly as the reference emits. */
  def featuresList(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Features.allNames.map(n => ("value", n, "", "{}", ""))
      .toDF("column_name", "feature_name", "parameter_suffix",
        "default_parameters", "parameter_keys")
  }

  /** ts_features_config_template (ts_features.cpp:257): the full catalog as
    * (feature, params_json) rows with empty default params — the starting
    * point users edit and feed back through featuresFromJson/Csv. */
  def configTemplate(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Features.allNames.map(n => (n, "{}")).toDF("feature", "params_json")
  }

  /** Parse a features config: JSON object {"feature": {...}, ...} or JSON
    * array ["feature", ...]. Minimal grammar (the reference's params objects
    * are empty in the template; per-feature params are not yet consumed).
    * Shared by [[featuresFromJson]] and the `ts_features_config_from_json`
    * SQL scalar (graft.sql.Register), so the scalar's parsed config is
    * exactly the one the TVF applies. */
  private[graft] def parseJsonConfig(json: String): Seq[String] = {
    val t = json.trim
    val names =
      if (t.startsWith("[")) "\"([^\"]+)\"".r.findAllMatchIn(t).map(_.group(1)).toSeq
      else "\"([^\"]+)\"\\s*:".r.findAllMatchIn(t).map(_.group(1)).toSeq
    require(names.nonEmpty, s"ts_features_from_json: no feature names found in config: $json")
    names
  }

  /** CSV-config grammar of [[featuresFromCsv]]: lines `feature[,params_json]`
    * with an optional `feature` header row; a single line with no newline is
    * read as a comma-separated name list (the reference's documented example,
    * `ts_features_config_from_csv('mean,std,skewness')` — ts_features.cpp:452).
    * Shared with the `ts_features_config_from_csv` SQL scalar. */
  private[graft] def parseCsvConfig(configCsv: String): Seq[String] = {
    val lines = configCsv.split('\n').map(_.trim).filter(_.nonEmpty)
    val names =
      if (lines.length == 1) {
        // comma-separated names — but the first `{`-led cell starts a
        // params_json payload of the line grammar's single-row form
        // ("mean,{...}"), and a json object can itself contain commas, so
        // everything from that cell on is payload, not names
        val cells = lines.head.split(',').map(_.trim).filter(_.nonEmpty)
        val cut = cells.indexWhere(_.startsWith("{"))
        (if (cut >= 0) cells.take(cut) else cells).toSeq.filterNot(_ == "feature")
      } else lines.map(_.split(',')(0).trim).filterNot(_ == "feature").toSeq
    require(names.nonEmpty, "ts_features_from_csv: no feature names found in config")
    names
  }

  /** ts_features_from_json (ts_features.cpp:259): featuresBy restricted to
    * the features named in a JSON config. */
  def featuresFromJson(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                       configJson: String): DataFrame =
    featuresBy(df, groupCol, dsCol, yCol, parseJsonConfig(configJson))

  /** ts_features_from_csv (ts_features.cpp:261): config as CSV lines
    * `feature[,params_json]` with an optional `feature` header row. */
  def featuresFromCsv(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                      configCsv: String): DataFrame =
    featuresBy(df, groupCol, dsCol, yCol, parseCsvConfig(configCsv))
}
