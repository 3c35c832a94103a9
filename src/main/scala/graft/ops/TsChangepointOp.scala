package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.Changepoint

/** Changepoint operators (reference ts_macros.cpp:489-538,
  * ts_changepoints.cpp, ts_cv wiring in changepoint.rs). Each is one
  * [[Series.mapKernel]] stage; a series too short for BOCPD (InsufficientData)
  * is skipped by its skip rule. */
object TsChangepointOp {

  final case class CpRow(t: Long, y: Double, is_changepoint: Boolean,
                         changepoint_probability: Double)

  /** ts_detect_changepoints_by (BOCPD): row-level output
    * (group, ds, y, is_changepoint, changepoint_probability). */
  def detectChangepointsBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                           hazardLambda: Double = 250.0,
                           includeProbabilities: Boolean = true): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol) { s =>
      val r = Changepoint.bocpd(s.filled, hazardLambda, includeProbabilities)
      s.ts.indices.map(i => CpRow(s.ts(i), s.vs(i), r.isChangepoint(i), r.probability(i)))
    }.select(col(groupCol),
        Series.fromMicros(col("_r.t"), dsType).as(dsCol),
        when(!isnan(col("_r.y")), col("_r.y")).as(yCol),
        col("_r.is_changepoint").as("is_changepoint"),
        col("_r.changepoint_probability").as("changepoint_probability"))
  }

  /** detect_changepoints_bayesian (changepoint.rs:360): legacy Bayesian API —
    * BOCPD with hazard λ = 1 / max(hazard_rate, 0.001), changepoint indices
    * only. Output: (group, changepoint_index, ds at index). As in the
    * reference, a finite rate below 0.001 (zero and negative included) is
    * clamped to 0.001, i.e. λ = 1000; a NaN or ±Inf rate fails here, at call
    * time, with an IllegalArgumentException (NaN would give λ = NaN). */
  def bayesianBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                 hazardRate: Double = 0.004): DataFrame = {
    require(java.lang.Double.isFinite(hazardRate), s"hazardRate must be finite, got $hazardRate")
    val dsType = df.schema(dsCol).dataType
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      Changepoint.bocpd(s.filled, 1.0 / math.max(hazardRate, 0.001), includeProbabilities = false)
        .changepoints.toSeq.map(i => (i, s.ts(i))))
      .select(col(groupCol), col("_r._1").as("changepoint_index"),
        Series.fromMicros(col("_r._2"), dsType).as(dsCol))
  }

  /** PELT changepoints per group: (group, changepoint_index, ds at index).
    * An unknown `costFn` or `minSize < 1` fails here, at call time, with an
    * IllegalArgumentException (a zero minimum segment never ends the
    * kernel's backtrack). */
  def peltBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
             costFn: String = "l2", minSize: Int = 2,
             penalty: Option[Double] = None): DataFrame = {
    val cost = Changepoint.Cost.parse(costFn)
    require(minSize >= 1, s"minSize must be >= 1, got $minSize")
    val dsType = df.schema(dsCol).dataType
    Series.mapKernel(df, Seq(groupCol), dsCol, yCol)(s =>
      s.clean(0).toSeq.flatMap(c =>
        Changepoint.pelt(c, minSize, penalty, cost).map(i => (i, s.ts(i)))))
      .select(col(groupCol),
        col("_r._1").as("changepoint_index"),
        Series.fromMicros(col("_r._2"), dsType).as(dsCol))
  }
}
