package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.agg.Aggregators
import graft.kernels.Forecast

/** Structured Streaming surface. The reference has no event-time streaming
  * semantics to match (SURVEY.md §1.2 — its "streaming" is operator
  * pipelining), so this is the Spark-native extension: the same per-series
  * kernels running continuously.
  *
  * Two shapes:
  *  1. [[rollingForecast]] — watermarked event-time windows aggregated with
  *     the forecast UDAF (update mode): each trigger refreshes the per-group
  *     forecast from the windowed history.
  *  2. [[statefulForecast]] — `flatMapGroupsWithState` keeping a bounded
  *     per-key history buffer and emitting a fresh h-step forecast on every
  *     batch (the KeyValueGroupedDataset custom-state pattern).
  */
object StreamingForecast {

  /** Watermarked sliding-window stats + forecast refresh. Input must have
    * (groupCol, tsCol timestamp, valueCol double). */
  def rollingForecast(events: DataFrame, groupCol: String, tsCol: String, valueCol: String,
                      method: String = "SES", horizon: Int = 3,
                      watermark: String = "1 hour", windowLen: String = "1 day"): DataFrame = {
    val agg = org.apache.spark.sql.functions.udaf(
      new Aggregators.ForecastAgg(method, horizon, Map.empty),
      Encoders.product[Aggregators.TsPoint])
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(groupCol), window(col(tsCol), windowLen))
      .agg(agg(col(tsCol), col(valueCol)).as("fc"),
        count(lit(1)).as("n_obs"))
      .select(col(groupCol), col("window.start").as("window_start"),
        col("n_obs"), col("fc.model_name"), col("fc.point_forecast"))
  }

  final case class SeriesState(ts: Array[Long], vs: Array[Double])
  final case class ForecastUpdate(key: String, n_obs: Int, yhat: Seq[Double], model_name: String)
  final case class InPoint(key: String, tsMicros: Long, value: Double)

  /** Stateful per-key forecast: keeps the latest `maxHistory` points per key
    * (bounded state — survives indefinitely under any cardinality) and emits
    * a forecast per key per batch. */
  def statefulForecast(points: org.apache.spark.sql.Dataset[InPoint],
                       method: String = "SES", horizon: Int = 3,
                       maxHistory: Int = 512): org.apache.spark.sql.Dataset[ForecastUpdate] = {
    import points.sparkSession.implicits._
    val opts = Forecast.optionsFromParams(method, horizon, Map.empty)
    points.groupByKey(_.key)
      .flatMapGroupsWithState[SeriesState, ForecastUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[InPoint], state: GroupState[SeriesState]) =>
          val prev = state.getOption.getOrElse(SeriesState(Array.empty, Array.empty))
          val incoming = rows.toArray
          // merge + re-sort so late/out-of-order events land in time order
          val merged = (prev.ts.zip(prev.vs) ++ incoming.map(p => (p.tsMicros, p.value)))
            .sortBy(_._1).takeRight(maxHistory)
          val ts = merged.map(_._1)
          val vs = merged.map(_._2)
          state.update(SeriesState(ts, vs))
          if (vs.length < 3) Iterator.empty
          else {
            try {
              val out = Forecast.forecast(vs, Array.fill(vs.length)(true), opts)
              Iterator.single(ForecastUpdate(key, vs.length, out.point.toSeq, out.modelName))
            } catch { case _: Forecast.FcError => Iterator.empty }
          }
      }
  }
}
