package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.reflect.runtime.universe.TypeTag

import graft.kernels.{Forecast, Imputation}

/** Series gathering and date-type plumbing shared by the grouped operators.
  *
  * The reference materializes each group into dense arrays via
  * `LIST(value ORDER BY date)` inside a GROUP BY (ts_macros.cpp:37-42), with
  * memory O(group) (ts_forecast_native.cpp:23-26). The Spark shape is a
  * map-side packer ([[graft.functions.SeriesPack]]) that folds each input
  * partition's rows of a series into one packed record without a sort, a
  * key exchange, Spark's spillable sort on the keys, and a streaming merge
  * ([[graft.functions.SeriesMerge]]) that appends each run of a series'
  * records, sorts it by time and emits it, holding one series at a time.
  * No aggregate is involved, so nothing reaches the sort an object hash
  * aggregate falls back to past 128 keys per task, and no buffer is
  * serialized between aggregate steps. [[mapKernel]] is the per-series
  * kernel stage every grouped operator builds on.
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

  /** A ds column as epoch micros (raw value for integer columns). */
  def micros(df: DataFrame, dsCol: String): Column = toMicros(col(dsCol), df.schema(dsCol).dataType)

  /** Each input partition's rows folded into one `(keys, _p)` packed
    * record per key ([[graft.functions.SeriesPack]]): the times `t` (a
    * bigint, see [[micros]]), one value lane per column of `values` (NaN
    * where null) and the mask of a null first value, in arrival order. Rows
    * with a null `t` are skipped: a caller that keeps null-time rows maps
    * them to a time of its own. */
  private[graft] def pack(df: DataFrame, keys: Seq[String], t: Column,
                          values: Seq[Column]): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    val lanes = values.map(v => coalesce(v.cast(DoubleType), lit(Double.NaN)))
    val inputs = keys.map(col) ++ (t +: lanes) :+ values.head.isNull
    df.select(B.column(graft.functions.SeriesPack(inputs.map(B.expression), values.length))
      .as(keys :+ "_p"))
  }

  /** Gather each `keys` group into one `_s: struct<t, v, nu>` of parallel
    * arrays sorted by `(t, v_1..v_w, nu)` (see [[pack]]), `v` holding the
    * `w` lanes element by element ([[lanes]]); no keys gathers the whole
    * input into one row, also when the input is empty.
    *
    * Plan shape: packer → key exchange (hash-partitioned on the keys, or one
    * partition when there are none) → sort within partitions on the keys →
    * streaming merge ([[graft.functions.SeriesMerge]]). At most one record
    * per series and input partition crosses the exchange (more only where a
    * packer flushed under memory pressure); it is an ordinary one, so AQE
    * may coalesce it. The merge runs entirely above the exchange and holds
    * one series at a time; the sort spills under memory pressure. The
    * output is not known to Spark as hash-partitioned on the keys (the merge
    * emits new columns). */
  def gatherBy(df: DataFrame, keys: Seq[String], t: Column, values: Seq[Column]): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    val packed = pack(df, keys, t, values)
    val sorted =
      if (keys.isEmpty) packed.repartition(1)
      else packed.repartition(keys.map(col): _*).sortWithinPartitions(keys.map(col): _*)
    val merged = graft.functions.SeriesMerge((keys :+ "_p").map(c => B.expression(col(c))))
    sorted.select(B.column(merged).as(keys :+ "_s"))
  }

  /** A gathered `v` array of `w` lanes, one array per lane. */
  def lanes(vs: Array[Double], w: Int): Array[Array[Double]] =
    Array.tabulate(w, vs.length / w)((j, i) => vs(i * w + j))

  /** Gather each group's `(ds, y)` series into parallel arrays
    * `(_ts, _vs, _nu)` sorted by time (see [[gatherBy]]).
    *
    * Plan shape: packer → group-key exchange → sort → streaming merge →
    * round-robin `repartition(n)` → the caller's per-series kernel.
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
    gatherSeries(df, Seq(groupCol), micros(df, dsCol), Seq(col(yCol)))

  /** [[gather]] on `keys`; no keys gathers the whole input into one series
    * behind a one-partition exchange, with no kernel exchange after it. */
  private def gatherSeries(df: DataFrame, keys: Seq[String], t: Column,
                           values: Seq[Column]): DataFrame = {
    val s = gatherBy(df, keys, t, values)
    (if (keys.isEmpty) s else CpuBound.repartition(s)).select(keys.map(col) ++ Seq(
      col("_s.t").as("_ts"), col("_s.v").as("_vs"), col("_s.nu").as("_nu")): _*)
  }

  /** One gathered series as a kernel sees it: epoch-micros times `ts`,
    * values `vs` (NaN where y is null) and the y-is-null mask `nu`, sorted by
    * time. */
  final case class Obs(ts: Array[Long], vs: Array[Double], nu: Array[Boolean]) {
    /** True where y is not null. */
    def valid: Array[Boolean] = nu.map(!_)

    /** `vs` with null gaps linearly interpolated
      * ([[graft.kernels.Imputation.fillInterpolate]]). */
    def filled: Array[Double] = Imputation.fillInterpolate(vs, valid)

    /** [[filled]] if it has at least `minLength` points and no NaN (a NaN y,
      * or a null that interpolation cannot reach); None otherwise. */
    def clean(minLength: Int): Option[Array[Double]] =
      Some(filled).filter(c => c.length >= minLength && !c.exists(_.isNaN))
  }

  /** The per-series kernel stage of every `_by` operator (reference
    * ts_macros.cpp:575-602: GROUP BY gather → per-group kernel → unnest).
    * Gathers each `keys` group's `(ds, y)` series as [[gather]] does, with
    * its round-robin kernel exchange (no keys: the whole input is one
    * series, no kernel exchange), calls `kernel` once per series on
    * primitive arrays and explodes the rows it returns into `(keys…, _r)`.
    *
    * Skip rule (ts_forecast_native.cpp:666-672): a kernel that throws
    * InsufficientData or ComputationError gives its series zero rows; any
    * other exception propagates and aborts the query. A kernel with one row
    * per series returns a 0- or 1-element Seq. The explode reads the UDF
    * call itself, never a named kernel column: Spark pushes a filter on such
    * a column below the projection and evaluates the kernel a second time
    * there. */
  def mapKernel[R: TypeTag](df: DataFrame, keys: Seq[String], dsCol: String, yCol: String)
                           (kernel: Obs => Seq[R]): DataFrame =
    mapLanes(df, keys, micros(df, dsCol), Seq(col(yCol)))(kernel)

  /** [[mapKernel]] on the series of times `t` and value lanes `values`
    * ([[gatherBy]]); the kernel reads lane `j` of element `i` at
    * `vs(i * w + j)` ([[lanes]]), and `nu` masks a null first value. */
  private[graft] def mapLanes[R: TypeTag](df: DataFrame, keys: Seq[String], t: Column,
                                          values: Seq[Column])(kernel: Obs => Seq[R]): DataFrame = {
    val run = udf { (ts: Array[Long], vs: Array[Double], nu: Array[Boolean]) =>
      try kernel(Obs(ts, vs, nu))
      catch { case _: Forecast.InsufficientData | _: Forecast.ComputationError => Seq.empty[R] }
    }
    gatherSeries(df, keys, t, values)
      .select(keys.map(col) :+ explode(run(col("_ts"), col("_vs"), col("_nu"))).as("_r"): _*)
  }
}
