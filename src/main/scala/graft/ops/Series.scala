package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Series gathering and date-type plumbing shared by the grouped operators.
  *
  * The reference materializes each group into dense arrays via
  * `LIST(value ORDER BY date)` inside a GROUP BY (ts_macros.cpp:37-42), with
  * memory O(group) (ts_forecast_native.cpp:23-26). The Spark shape is a
  * map-side packer ([[graft.functions.SeriesPack]]) that folds each input
  * partition's rows of a series into one record of primitive arrays without
  * a sort, then a native aggregate ([[graft.functions.SeriesGather]]) that
  * merges a series' packed records and sorts them by time. No raw row
  * reaches an aggregate, so none goes through the sort Spark's object hash
  * aggregate falls back to past 128 keys per task.
  *
  * Date columns may be DATE, TIMESTAMP, INTEGER or BIGINT and are normalized
  * to epoch micros (raw value for integer columns), with the original type
  * restored in outputs (DateColumnType contract, ts_fill_gaps_native.hpp:12-17,
  * ts_forecast_native.cpp:406-424). A DATE maps to its day number times a
  * day's micros and back, independent of the session time zone.
  */
object Series {

  private val MicrosPerDay = 86400000000L

  /** Column that converts a ds column to epoch micros (or raw long). */
  def toMicros(c: Column, dt: DataType): Column = dt match {
    case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType))
    case DateType => unix_date(c).cast(LongType) * lit(MicrosPerDay)
    case IntegerType | LongType | ShortType => c.cast(LongType)
    case other => throw new IllegalArgumentException(
      s"Unsupported date column type $other: expected DATE, TIMESTAMP, INTEGER or BIGINT")
  }

  /** Restore a micros/raw long column to the original ds type. A DATE takes
    * the day the micros fall in (floor division). */
  def fromMicros(c: Column, dt: DataType): Column = dt match {
    case TimestampType | TimestampNTZType => timestamp_micros(c).cast(dt)
    case DateType => date_from_unix_date(
      call_function("div", c - pmod(c, lit(MicrosPerDay)), lit(MicrosPerDay)).cast(IntegerType))
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

  /** Each input partition's rows folded into one `(keys, _t, _v, _nu)`
    * record per key ([[graft.functions.SeriesPack]]): epoch-micros
    * timestamps, values (NaN where y is null) and the y-is-null mask, in
    * arrival order. Rows with a null ds are skipped. */
  private[graft] def pack(df: DataFrame, keys: Seq[String], dsCol: String, yCol: String): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    val inputs = keys.map(col) ++ Seq(toMicros(col(dsCol), df.schema(dsCol).dataType),
      coalesce(col(yCol).cast(DoubleType), lit(Double.NaN)), col(yCol).isNull)
    df.select(B.column(graft.functions.SeriesPack(inputs.map(B.expression)))
      .as(keys :+ "_t" :+ "_v" :+ "_nu"))
  }

  /** Gather each `keys` group into one `_s: struct<t, v, nu>` of parallel
    * arrays sorted by time (see [[pack]]); no keys gathers the whole input
    * into one row.
    *
    * Plan shape: packer → key exchange → merge aggregate. The packed records
    * cross a `repartition` on the keys, so the merge aggregate's partial and
    * final steps both run after it and the map stage holds no aggregate; at
    * most one record per series and input partition crosses the exchange
    * (more only where a packer flushed under memory pressure). The exchange
    * is an ordinary one: AQE may coalesce it, and its hash partitioning on
    * the keys is what a join on them downstream needs. */
  def gatherBy(df: DataFrame, keys: Seq[String], dsCol: String, yCol: String): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    val merged = B.column(graft.functions.SeriesGather(B.expression(col("_t")),
      B.expression(col("_v")), B.expression(col("_nu"))).toAggregateExpression()).as("_s")
    val packed = pack(df, keys, dsCol, yCol)
    if (keys.isEmpty) packed.agg(merged)
    else packed.repartition(keys.map(col): _*).groupBy(keys.map(col): _*).agg(merged)
  }

  /** Gather each group into parallel arrays `(_ts, _vs, _nu)` sorted by time
    * (see [[gatherBy]]).
    *
    * Plan shape: packer → group-key exchange → merge aggregate → round-robin
    * `repartition(n)` → the caller's per-series kernel.
    *
    * Partitioning: the gather output feeds PER-SERIES KERNELS (forecast
    * optimizers, stats, changepoints), a CPU-bound stage ([[CpuBound]]).
    * The gathered table is small, so AQE may fold the key exchange onto one
    * partition; the kernel therefore reads from a second, round-robin
    * REPARTITION_BY_NUM exchange. A hash layout in that place would put
    * several long series on one core when there are few of them. The output
    * is therefore NOT hash-partitioned on the group key: a consumer that
    * joins or aggregates on the key pays its own exchange (no op in `ops/`
    * does). */
  def gather(df: DataFrame, groupCol: String, dsCol: String, yCol: String): DataFrame =
    CpuBound.repartition(gatherBy(df, Seq(groupCol), dsCol, yCol))
      .select(col(groupCol), col("_s.t").as("_ts"), col("_s.v").as("_vs"), col("_s.nu").as("_nu"))
}
