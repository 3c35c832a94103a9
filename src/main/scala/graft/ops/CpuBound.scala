package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The exchange in front of a CPU-bound stage, with an explicit partition
  * count.
  *
  * AQE sizes a shuffle's read side by BYTES: it coalesces small partitions
  * up to the advisory size, so a table of a few MB lands on one partition.
  * The stages this feeds cost CPU per row, not bytes: per-series kernels,
  * windows over a gram stream, a band join that verifies every candidate
  * with a Levenshtein, a scorer over every posting. Coalesced, such a stage
  * runs as one task on one core. A `repartition(n, ...)` exchange has
  * origin REPARTITION_BY_NUM, which AQE never coalesces, so the stage keeps
  * `n` tasks. `n` is `spark.sql.shuffle.partitions`, the standard
  * cluster-sized knob, never a local constant.
  *
  * Placed directly under a window or a join on the same keys, the keyed form
  * takes the place of the exchange EnsureRequirements would add anyway, so
  * the plan gains no exchange. Placed over a child that is already
  * hash-partitioned on the same keys and count, EnsureRequirements drops it
  * as redundant and the child's exchange stays coalescible: use the
  * round-robin form on top instead (see [[Series.gather]]).
  *
  * The trade-off: AQE's skew-join split also handles only the exchanges it
  * plans itself, so a join fed by these exchanges is never split at
  * runtime. Its per-key fan-out must be bounded by the operator (a salt in
  * the join key), not left to AQE. */
private[graft] object CpuBound {

  /** The partition count of a CPU-bound stage. */
  def partitions(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** `df` behind a REPARTITION_BY_NUM exchange of [[partitions]] partitions:
    * hash-partitioned on `keys`, or round-robin when there are none. */
  def repartition(df: DataFrame, keys: Column*): DataFrame = {
    val n = partitions(df.sparkSession)
    if (keys.isEmpty) df.repartition(n) else df.repartition(n, keys: _*)
  }
}
