package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Series gathering and date-type plumbing shared by the grouped operators.
  *
  * The reference materializes each group into dense arrays via
  * `LIST(value ORDER BY date)` inside a GROUP BY (ts_macros.cpp:37-42); the
  * Spark shape is `groupBy(g).agg(series_gather(t, v, nu))`, a native
  * aggregate ([[graft.functions.SeriesGather]]) whose map-side partial packs
  * each series into primitive arrays before the group-key exchange, so
  * per-task memory stays O(series length), matching the reference's
  * O(group) contract (ts_forecast_native.cpp:23-26).
  *
  * Date columns may be DATE, TIMESTAMP, INTEGER or BIGINT and are normalized
  * to epoch micros (raw value for integer columns), with the original type
  * restored in outputs (DateColumnType contract, ts_fill_gaps_native.hpp:12-17,
  * ts_forecast_native.cpp:406-424).
  */
object Series {

  /** Column that converts a ds column to epoch micros (or raw long). */
  def toMicros(c: Column, dt: DataType): Column = dt match {
    case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType))
    case DateType => unix_micros(c.cast(TimestampType)) // UTC session TZ
    case IntegerType | LongType | ShortType => c.cast(LongType)
    case other => throw new IllegalArgumentException(
      s"Unsupported date column type $other: expected DATE, TIMESTAMP, INTEGER or BIGINT")
  }

  /** Restore a micros/raw long column to the original ds type. */
  def fromMicros(c: Column, dt: DataType): Column = dt match {
    case TimestampType | TimestampNTZType => timestamp_micros(c).cast(dt)
    case DateType => timestamp_micros(c).cast(DateType)
    case IntegerType => c.cast(IntegerType)
    case ShortType => c.cast(ShortType)
    case LongType => c
    case other => throw new IllegalArgumentException(s"Unsupported date column type $other")
  }

  /** True if the ds column carries raw integer time steps. */
  def isIntegerDs(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | ShortType => true
    case _ => false
  }

  /** The aggregate column gathering a group's rows into one
    * `struct<t, v, nu>` of parallel arrays sorted by time: epoch-micros
    * timestamps, values (NaN where y is null) and the y-is-null mask.
    * Rows with a null ds are skipped; callers filter them first. */
  def sortedSeries(dsCol: String, dsType: DataType, yCol: String): Column = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    B.column(graft.functions.SeriesGather(
      B.expression(toMicros(col(dsCol), dsType)),
      B.expression(coalesce(col(yCol).cast(DoubleType), lit(Double.NaN))),
      B.expression(col(yCol).isNull)).toAggregateExpression())
  }

  /** Gather each group into parallel arrays `(_ts, _vs, _nu)` sorted by time
    * (see [[sortedSeries]]).
    *
    * Plan shape: partial aggregate → group-key exchange → final aggregate →
    * round-robin `repartition(n)` → the caller's per-series kernel. The
    * partial aggregate packs rows map-side, so about one record per series
    * and input partition crosses the key exchange instead of every raw row.
    *
    * Partitioning: the gather output feeds PER-SERIES KERNELS (forecast
    * optimizers, stats, changepoints), a CPU-bound stage ([[CpuBound]]).
    * The gathered table is small, so AQE may fold the key exchange onto one
    * partition; the kernel therefore reads from a second, round-robin
    * REPARTITION_BY_NUM exchange. A `repartition(n, g)` in that place does
    * not work: EnsureRequirements drops it as redundant with the
    * aggregate's own hash exchange, which is then coalescible again. The
    * output is therefore NOT hash-partitioned on the group key: a consumer
    * that joins or aggregates on the key pays its own exchange (no op in
    * `ops/` does). */
  def gather(df: DataFrame, groupCol: String, dsCol: String, yCol: String): DataFrame = {
    val gathered = df.filter(col(dsCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(sortedSeries(dsCol, df.schema(dsCol).dataType, yCol).as("_s"))
    CpuBound.repartition(gathered)
      .select(col(groupCol), col("_s.t").as("_ts"), col("_s.v").as("_vs"), col("_s.nu").as("_nu"))
  }
}
