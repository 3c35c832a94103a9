package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntryFixtures._

/** Eleventh batch: planted-construction oracles for the 20 optimizer-driven
  * forecast models (golden-section / Nelder-Mead parameter search has no
  * honest SQL equivalent, so the driver previously recorded them rows-only).
  *
  * The constructions exploit a provable invariant of each recursion rather
  * than replaying the optimizer in SQL:
  *
  *  - exactly LINEAR history (y = 5 + 2·pos): Holt's init (l₀ = y₀,
  *    t₀ = y₁ − y₀) makes every one-step residual identically zero for EVERY
  *    (α, β), so whatever parameters the optimizer returns, the forecast is
  *    the closed-form line continuation. ARIMA's difference-then-ARMA path
  *    reduces to the drift of a constant differenced series the same way.
  *  - exactly CONSTANT history (y = 42.5): SES/theta/Croston/ADIDA/IMAPA
  *    recursions are fixed points at the constant for every smoothing weight,
  *    and the theta OLS line is the constant itself, so all theta variants,
  *    CrostonOptimized, ADIDA, IMAPA, SESOptimized, ARIMA/AutoARIMA and
  *    MFLES forecast exactly 42.5.
  *  - zero-trend exact SEASONAL history (y = 20 + s[pos mod 7], Σs = 0,
  *    9 whole periods): first-season initialisation reproduces s exactly and
  *    every residual is zero for all (α, β, γ), so HoltWinters, SeasonalES,
  *    ETS(AAA), AutoETS, MSTL, TBATS and Laplace forecast
  *    20 + s[(step−1) mod 7] — the construction, independent of the fitted
  *    parameters. (MFLES's exponentially-decayed seasonal pass is not exact
  *    on this input, so MFLES is planted on the constant instead.)
  *
  * CI bounds are point ± z·σ_pop(history)·√step (forecast.rs:2558-2592), and
  * σ_pop of a planted series is directly computable in SQL, so the bounds are
  * oracle-checked too. Noisy-data behaviour of these models stays covered by
  * the bench MASE table and the kernel specs; what the driver gate now proves
  * is the full gather→kernel→optimizer→CI→calendar-stamp→explode path against
  * a construction, not the implementation. */
object SparkEntryV11 extends EntryPart {

  private def plantedLin(s: SparkSession, dir: String): DataFrame =
    plantedBase(s, dir, 60)
      .select(col("g"), col("ds"), (lit(5.0) + lit(2.0) * col("_pos")).as("y"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // constant plant: recursion fixed points
    "fc_ses_optimized" -> fcOn(plantedCst, "SESOptimized"),
    "fc_theta" -> fcOn(plantedCst, "Theta"),
    "fc_optimized_theta" -> fcOn(plantedCst, "OptimizedTheta"),
    "fc_dynamic_theta" -> fcOn(plantedCst, "DynamicTheta"),
    "fc_dynamic_optimized_theta" -> fcOn(plantedCst, "DynamicOptimizedTheta"),
    "fc_autotheta" -> fcOn(plantedCst, "AutoTheta"),
    "fc_croston_optimized" -> fcOn(plantedCst, "CrostonOptimized"),
    "fc_adida" -> fcOn(plantedCst, "ADIDA"),
    "fc_imapa" -> fcOn(plantedCst, "IMAPA"),
    "fc_autoarima" -> fcOn(plantedCst, "AutoARIMA", Map("seasonal_period" -> "7")),
    "fc_mfles" -> fcOn(plantedCst, "MFLES", Map("seasonal_periods" -> "7")),
    // linear plant: zero-residual trend recursions
    "fc_holt" -> fcOn(plantedLin, "Holt"),
    "fc_arima" -> fcOn(plantedLin, "ARIMA"),
    // seasonal plant: exact first-season init, nine whole periods
    "fc_holt_winters" -> fcOn(plantedSea, "HoltWinters", Map("seasonal_period" -> "7")),
    "fc_ses_seasonal_opt" -> fcOn(plantedSea, "SeasonalESOptimized", Map("seasonal_period" -> "7")),
    "fc_ets" -> fcOn(plantedSea, "ETS", Map("seasonal_period" -> "7", "model" -> "AAA")),
    "fc_autoets" -> fcOn(plantedSea, "AutoETS", Map("seasonal_period" -> "7")),
    "fc_mstl" -> fcOn(plantedSea, "MSTL", Map("seasonal_periods" -> "7")),
    "fc_tbats" -> fcOn(plantedSea, "TBATS", Map("seasonal_periods" -> "7")),
    "fc_laplace" -> fcOn(plantedSea, "Laplace", Map("seasonal_period" -> "7"))
  )

  // ---------------------------------------------------------------- oracles

  private val LinCte = BaseCte +
    ",\ns AS (SELECT g, ds, 5.0 + 2.0 * pos AS y FROM p WHERE pos < 60)"

  // last pos = 59 → y(59 + step) = 5 + 2·(59 + step)
  private val LinY = "123.0 + 2.0 * step"

  def oracleSql: Map[String, String] = rows(
    "fc_ses_optimized" -> fcOracle(CstCte, CstY, "SESOptimized"),
    "fc_theta" -> fcOracle(CstCte, CstY, "Theta"),
    "fc_optimized_theta" -> fcOracle(CstCte, CstY, "OptimizedTheta"),
    "fc_dynamic_theta" -> fcOracle(CstCte, CstY, "DynamicTheta"),
    "fc_dynamic_optimized_theta" -> fcOracle(CstCte, CstY, "DynamicOptimizedTheta"),
    "fc_autotheta" -> fcOracle(CstCte, CstY, "AutoTheta"),
    "fc_croston_optimized" -> fcOracle(CstCte, CstY, "CrostonOptimized"),
    "fc_adida" -> fcOracle(CstCte, CstY, "ADIDA"),
    "fc_imapa" -> fcOracle(CstCte, CstY, "IMAPA"),
    // stepwise search on a zero-variance series settles on MA(1) with a zero
    // coefficient; the name records the chosen order
    "fc_autoarima" -> fcOracle(CstCte, CstY, "AutoARIMA(0,0,1)"),
    "fc_mfles" -> fcOracle(CstCte, CstY, "MFLES"),
    "fc_holt" -> fcOracle(LinCte, LinY, "Holt"),
    "fc_arima" -> fcOracle(LinCte, LinY, "ARIMA"),
    "fc_holt_winters" -> fcOracle(SeaCte, SeaY, "HoltWinters"),
    "fc_ses_seasonal_opt" -> fcOracle(SeaCte, SeaY, "SeasonalESOptimized"),
    "fc_ets" -> fcOracle(SeaCte, SeaY, "ETS"),
    "fc_autoets" -> fcOracle(SeaCte, SeaY, "AutoETS(ANA)"),
    "fc_mstl" -> fcOracle(SeaCte, SeaY, "MSTL"),
    "fc_tbats" -> fcOracle(SeaCte, SeaY, "TBATS"),
    // variant + seasonal state are tagged in the name (forecast.rs:1699-1703)
    "fc_laplace" -> fcOracle(SeaCte, SeaY, "Laplace(auto,seasonal=7)")
  )
}
