package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.kernels.Changepoint

/** Changepoint operators (reference ts_macros.cpp:489-538,
  * ts_changepoints.cpp, ts_cv wiring in changepoint.rs). */
object TsChangepointOp {

  final case class CpRow(t: Long, y: Double, is_changepoint: Boolean,
                         changepoint_probability: Double)

  /** ts_detect_changepoints_by (BOCPD): row-level output
    * (group, ds, y, is_changepoint, changepoint_probability). */
  def detectChangepointsBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                           hazardLambda: Double = 250.0,
                           includeProbabilities: Boolean = true): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    val cpUdf = udf((ts: Seq[Long], vs: Seq[Double], nu: Seq[Boolean]) => {
      try {
        val clean = graft.kernels.Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
        val r = Changepoint.bocpd(clean, hazardLambda, includeProbabilities)
        Some(ts.indices.map(i => CpRow(ts(i), vs(i), r.isChangepoint(i), r.probability(i))))
      } catch { case _: graft.kernels.Forecast.FcError => None }
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), explode(cpUdf(col("_ts"), col("_vs"), col("_nu"))).as("_r"))
      .select(col(groupCol),
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
    val cpUdf = udf((ts: Seq[Long], vs: Seq[Double], nu: Seq[Boolean]) => {
      try {
        val clean = graft.kernels.Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
        val r = Changepoint.bocpd(clean, 1.0 / math.max(hazardRate, 0.001),
          includeProbabilities = false)
        r.changepoints.toSeq.map(i => (i, ts(i)))
      } catch { case _: graft.kernels.Forecast.FcError => Seq.empty[(Int, Long)] }
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), explode(cpUdf(col("_ts"), col("_vs"), col("_nu"))).as("_r"))
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
    val cpUdf = udf((ts: Seq[Long], vs: Seq[Double], nu: Seq[Boolean]) => {
      val clean = graft.kernels.Imputation.fillInterpolate(vs.toArray, nu.map(!_).toArray)
      if (clean.exists(_.isNaN)) Seq.empty[(Int, Long)]
      else Changepoint.pelt(clean, minSize, penalty, cost)
        .map(i => (i, ts(i))).toSeq
    })
    Series.gather(df, groupCol, dsCol, yCol)
      .select(col(groupCol), explode(cpUdf(col("_ts"), col("_vs"), col("_nu"))).as("_r"))
      .select(col(groupCol),
        col("_r._1").as("changepoint_index"),
        Series.fromMicros(col("_r._2"), dsType).as(dsCol))
  }
}
