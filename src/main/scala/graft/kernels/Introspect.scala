package graft.kernels

/** Model introspection: fit-state snapshots (`ts_forecast_inspect*`) and
  * per-horizon component decomposition (`ts_forecast_explain*`). Reference
  * surface: forecast_inspect (forecast.rs:1726-1885 — Inspectable models are
  * exactly AutoETS, AutoARIMA, AutoTheta, AutoTBATS, MFLES, AutoMFLES, MSTL,
  * AutoMSTL, Laplace) and forecast_explain (:1887-1980 — Explainable models
  * are exactly ETS (fixed spec, default "AAA"), MSTL, AutoMSTL, Theta); the
  * wide-STRUCT field set follows ts_macros.cpp:605-730, with the Laplace
  * leaf-ensemble metadata surfaced as leaf_names/coefficients. */
object Introspect {

  private val Inspectable = Seq("AutoETS", "AutoARIMA", "AutoTheta", "AutoTBATS", "MFLES",
    "AutoMFLES", "MSTL", "AutoMSTL", "Laplace")
  private val Explainable = Seq("ETS", "MSTL", "AutoMSTL", "Theta")

  private def unsupported(model: String, capability: String, models: Seq[String]) =
    new Forecast.InvalidInput(s"Model '$model' does not implement $capability. " +
      s"Supported models: ${models.mkString(", ")}.")

  /** Throws [[inspect]]'s InvalidInput unless `model` (canonical name) is
    * Inspectable; lets a caller reject it before any data is read. */
  def requireInspectable(model: String): Unit =
    if (!Inspectable.contains(model)) throw unsupported(model, "Inspectable", Inspectable)

  /** Throws [[explain]]'s InvalidInput unless `model` is Explainable. */
  def requireExplainable(model: String): Unit =
    if (!Explainable.contains(model)) throw unsupported(model, "Explainable", Explainable)

  final case class InspectOut(model_name: String,
                              alpha: Option[Double], beta: Option[Double],
                              gamma: Option[Double], phi: Option[Double],
                              aic: Option[Double], bic: Option[Double],
                              order_p: Option[Int], order_d: Option[Int], order_q: Option[Int],
                              coefficients: Seq[Double],
                              leaf_names: Seq[String])

  /** Fit-state snapshot for inspectable models. Cross-family unused fields
    * stay None/empty (the reference's wide-STRUCT NULL contract). */
  def inspect(values: Array[Double], valid: Array[Boolean], opts: Forecast.Options): InspectOut = {
    val clean = Imputation.fillInterpolate(values, valid)
    if (clean.length < 3) throw new Forecast.InsufficientData(3, clean.length)
    val period =
      if (opts.seasonalPeriod > 0) opts.seasonalPeriod
      else if (opts.autoDetectSeasonality)
        (try Seasonality.detectSeasonality(clean, None).headOption.getOrElse(1)
        catch { case _: Throwable => 1 })
      else 1
    // multi-seasonal effective periods (forecast.rs:1843-1866: explicit list,
    // else the detected period, else MSTL's [12] fallback)
    def multiPeriods(mstlDefault: Boolean): Seq[Int] =
      if (opts.seasonalPeriods.nonEmpty) opts.seasonalPeriods
      else if (period > 1) Seq(period)
      else if (mstlDefault) Seq(12)
      else Nil

    opts.model match {
      case "AutoETS" =>
        Ets.autoFit(clean, period, opts.modelPool) match {
          case Some(f) =>
            InspectOut(s"AutoETS(${f.spec.notation})",
              Some(f.params(0)),
              if (f.spec.trend != 'N') Some(f.params(1)) else None,
              if (f.spec.seasonal != 'N') Some(f.params(2)) else None,
              if (f.spec.damped) Some(f.params(3)) else None,
              Some(f.aic), Some(f.bic), None, None, None, f.params.toSeq, Nil)
          case None => throw new Forecast.ComputationError("AutoETS: no feasible fit")
        }
      case "AutoARIMA" =>
        val f = Arima.autoFit(clean, period) // same search the forecast runs
          .getOrElse(throw new Forecast.ComputationError("AutoARIMA: fit failed"))
        InspectOut(s"AutoARIMA(${f.p},${f.d},${f.q})", None, None, None, None,
          Some(f.aic), None, Some(f.p), Some(f.d), Some(f.q),
          (f.phi ++ f.theta :+ f.intercept).toSeq, Nil)
      case "AutoTheta" =>
        // the published method pins the theta parameter at 2.0
        InspectOut("AutoTheta", None, None, None, Some(2.0), None, None,
          None, None, None, Nil, Nil)
      case "AutoTBATS" =>
        InspectOut("AutoTBATS", None, None, None, None, None, None,
          None, None, None, multiPeriods(mstlDefault = false).map(_.toDouble), Nil)
      case "MFLES" | "AutoMFLES" =>
        InspectOut(opts.model, None, None, None, None, None, None,
          None, None, None, multiPeriods(mstlDefault = false).map(_.toDouble), Nil)
      case "MSTL" | "AutoMSTL" =>
        InspectOut(opts.model, None, None, None, None, None, None,
          None, None, None, multiPeriods(mstlDefault = true).map(_.toDouble), Nil)
      case "Laplace" =>
        val f = MultiSeasonal.laplaceFit(clean, 1, period,
          opts.laplaceVariant, opts.laplaceBatchInit)
        val seasonal = period > 1 && clean.length >= 2 * period
        val name = (seasonal, opts.laplaceBatchInit && seasonal) match {
          case (true, true) => s"Laplace(${opts.laplaceVariant},seasonal=$period,batch_init)"
          case (true, false) => s"Laplace(${opts.laplaceVariant},seasonal=$period)"
          case _ => s"Laplace(${opts.laplaceVariant})"
        }
        InspectOut(name, None, None, None, None, None, None,
          None, None, None, f.leafWeights, f.leafNames)
      case other => throw unsupported(other, "Inspectable", Inspectable)
    }
  }

  final case class ExplainOut(forecast_step: Seq[Int], level: Seq[Double], trend: Seq[Double],
                              seasonal: Seq[Double], residual: Seq[Double], model_name: String)

  /** Per-horizon additive decomposition of the forecast (ETS / MSTL /
    * AutoMSTL / Theta — forecast.rs:1893-1897). */
  def explain(values: Array[Double], valid: Array[Boolean], horizon: Int,
              opts: Forecast.Options): ExplainOut = {
    val clean = Imputation.fillInterpolate(values, valid)
    if (clean.length < 3) throw new Forecast.InsufficientData(3, clean.length)
    val period =
      if (opts.seasonalPeriod > 0) opts.seasonalPeriod
      else (try Seasonality.detectSeasonality(clean, None).headOption.getOrElse(1)
      catch { case _: Throwable => 1 })
    val n = clean.length
    val steps = (1 to horizon).toSeq

    opts.model match {
      case "ETS" =>
        // fixed-spec contract (forecast.rs:1931-1942): default "AAA"; a
        // wildcard spec falls back to the pool search over feasible specs
        val spec = Ets.parseSpec(opts.etsSpec.getOrElse("AAA"))
        val f = (if (spec.notation.contains('Z')) Ets.autoFit(clean, period, opts.modelPool, horizon)
        else Ets.fit(clean, spec, period, horizon))
          .getOrElse(throw new Forecast.ComputationError(
            s"ETS(${spec.notation}) is infeasible for this series"))
        // decompose the point path: level = flat last level (h=1 forecast with
        // no trend/seasonal), trend = increment over level, seasonal = rest
        val seasonalPart =
          if (f.spec.seasonal != 'N' && period >= 2 && n >= 2 * period) {
            val c = Decomposition.classical(clean, period, f.spec.seasonal == 'M')
            steps.map(h =>
              if (f.spec.seasonal == 'M') 0.0 else c.indices((n + h - 1) % period))
          } else steps.map(_ => 0.0)
        val base = f.point.toSeq
        val level = steps.map(_ => base.head - seasonalPart.head)
        val trend = steps.zipWithIndex.map { case (_, i) => base(i) - level(i) - seasonalPart(i) }
        val residualSigma = math.sqrt(f.mse)
        ExplainOut(steps, level, trend, seasonalPart, steps.map(_ => residualSigma), "ETS")
      case "MSTL" | "AutoMSTL" =>
        val ps = (if (opts.seasonalPeriods.nonEmpty) opts.seasonalPeriods else Seq(period))
          .filter(p => p >= 2 && n >= 2 * p)
        val m = Decomposition.mstl(clean, ps)
        val trendFc = {
          val deseason = Array.tabulate(n)(i => clean(i) - m.seasonals.map(_._2(i)).sum)
          if (deseason.length < 5) Forecast.sesForecast(deseason, horizon, 0.3)
          else Forecast.holt(deseason, horizon)
        }
        val seasonalFc = steps.map(h => m.seasonals.map { case (p, s) => s(n - p + ((h - 1) % p)) }.sum)
        val remSigma = math.sqrt(m.remainder.map(v => v * v).sum / n)
        ExplainOut(steps, trendFc.toSeq.map(_ - 0.0), steps.map(_ => 0.0), seasonalFc,
          steps.map(_ => remSigma), if (opts.model == "AutoMSTL") "AutoMSTL" else "MSTL")
      case "Theta" =>
        val fc = Forecast.theta(clean, horizon, period, dynamic = false, optimizeTheta = false)
        val seasonal = if (period > 1 && n >= 2 * period) {
          val c = Decomposition.classical(clean, period, multiplicative = false)
          steps.map(h => c.indices((n + h - 1) % period))
        } else steps.map(_ => 0.0)
        val level = steps.zipWithIndex.map { case (_, i) => fc(i) - seasonal(i) }
        ExplainOut(steps, level, steps.map(_ => 0.0), seasonal, steps.map(_ => 0.0), "Theta")
      case other => throw unsupported(other, "Explainable", Explainable)
    }
  }
}
