package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernels.Forecast

/** Cross-validation / backtesting operators.
  *
  * Fold semantics are position-based PER GROUP (0-indexed over each group's
  * date-sorted rows), matching _ts_cv_folds_native
  * (ts_cv_folds_native.cpp:523-650): initial train size defaults so the last
  * fold's test window ends at the data end; `skip_length` defaults to the
  * horizon; `window_type` ∈ expanding | fixed | sliding; folds that don't fit
  * are dropped (`clip_horizon` keeps partially-fitting last tests). The
  * policy is written once, as [[CvParams.folds]].
  *
  * Spark shape: `cvFoldsBy` takes (pos, n) per row from row_number + count
  * windows and multiplies each row by the folds it belongs to through an
  * explode of `folds(n)`, fully distributed with no driver-side boundary
  * computation. `cvForecastBy` and `backtestAutoBy` are per-series kernels
  * on [[Series.mapLanes]]: one gather, a round-robin kernel exchange and one
  * kernel call per series.
  */
object TsCvOp {

  /** One fold of a group: inclusive train and test windows as positions into
    * the group's ds-sorted rows. */
  final case class CvFold(id: Long, trainStart: Long, trainEnd: Long,
                          testStart: Long, testEnd: Long)

  final case class CvParams(
      gap: Long = 0, embargo: Long = 0, windowType: String = "expanding",
      minTrainSize: Long = 1, initialTrainSize: Long = -1, skipLength: Long = -1,
      clipHorizon: Boolean = false) {

    /** The valid folds of a group of `n` rows, in id order. Fold `f`'s train
      * window ends at `init - 1 + (f - 1)·skip`, where `init` is
      * `initial_train_size` or, by default, `max(n - horizon·nFolds, 1)`
      * (at least `min_train_size` for a fixed or sliding window), and
      * `skip` is `skip_length` or the horizon. It starts at 0 (expanding)
      * or `min_train_size` rows before its end (fixed, sliding). The test
      * window starts `gap` rows after the train window and holds `horizon`
      * rows, fewer at the data end. A fold is valid when its whole test
      * window fits (with `clip_horizon`: when it starts inside the data)
      * and, for a fixed or sliding window, its train window reaches
      * `min_train_size`. A group of fewer than 2 rows, or fewer than
      * `min_train_size` under a fixed or sliding window, has no folds. */
    def folds(n: Long, horizon: Int, nFolds: Int): Seq[CvFold] = {
      val isFixed = windowType == "fixed" || windowType == "sliding"
      if (n < 2 || (isFixed && n < minTrainSize)) Nil
      else {
        val skip = if (skipLength > 0) skipLength else horizon.toLong
        val init =
          if (initialTrainSize > 0) initialTrainSize
          else {
            val auto = math.max(n - horizon.toLong * nFolds, 1L)
            if (isFixed) math.max(auto, minTrainSize) else auto
          }
        (1L to nFolds.toLong).flatMap { f =>
          val trainEnd = init - 1 + (f - 1) * skip
          val testStart = trainEnd + 1 + gap
          val fits = if (clipHorizon) testStart < n else testStart + horizon - 1 < n
          if (!fits || (isFixed && trainEnd + 1 < minTrainSize)) None
          else Some(CvFold(f,
            if (isFixed) math.max(trainEnd + 1 - minTrainSize, 0L) else 0L,
            math.min(trainEnd, n - 1), testStart, math.min(testStart + horizon - 1, n - 1)))
        }
      }
    }
  }

  val validCvKeys: Set[String] = Set("gap", "embargo", "window_type", "min_train_size",
    "initial_train_size", "skip_length", "clip_horizon")

  /** The CV parameters; an unknown key, a `window_type` other than
    * expanding | fixed | sliding, a non-integer number or a non-boolean
    * `clip_horizon` fails with an error that names the key. */
  def parseCvParams(params: Map[String, String]): CvParams = {
    val unknown = params.keySet -- validCvKeys
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"ts_cv_folds_by: Unknown parameter(s): ${unknown.toSeq.sorted.mkString(", ")}. " +
          s"Valid: ${validCvKeys.toSeq.sorted.mkString(", ")}")
    def parsed[T](key: String, default: T, kind: String)(parse: String => Option[T]): T =
      params.get(key).fold(default)(v => parse(v).getOrElse(
        throw new IllegalArgumentException(s"CV parameter '$key' must be $kind, got '$v'")))
    def long(key: String, default: Long) = parsed(key, default, "an integer")(_.toLongOption)
    val windowType = parsed("window_type", "expanding", "expanding|fixed|sliding")(
      Some(_).filter(Set("expanding", "fixed", "sliding")))
    CvParams(
      gap = long("gap", 0), embargo = long("embargo", 0), windowType = windowType,
      minTrainSize = long("min_train_size", 1),
      initialTrainSize = long("initial_train_size", -1),
      skipLength = long("skip_length", -1),
      clipHorizon = parsed("clip_horizon", false, "true or false")(_.toBooleanOption))
  }

  /** The call-time checks of a fold layout. */
  private def requireFolds(nFolds: Int, horizon: Int): Unit = {
    require(horizon >= 1, s"horizon must be at least 1, got $horizon")
    require(nFolds >= 1, s"n_folds must be at least 1, got $nFolds")
  }

  /** ts_cv_folds_by: rows tagged (fold_id, split ∈ train|test). */
  def cvFoldsBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                nFolds: Int, horizon: Int, params: Map[String, String] = Map.empty): DataFrame = {
    val p = parseCvParams(params)
    requireFolds(nFolds, horizon)
    val folds = udf((n: Long) => p.folds(n, horizon, nFolds))

    // the explode takes the UDF call itself, not a named column holding it
    // (see Series.mapKernel), so the folds are computed once per row
    val w = Window.partitionBy(col(groupCol)).orderBy(col(dsCol))
    val wAll = Window.partitionBy(col(groupCol))
    val tagged = df
      .withColumn("_pos", row_number().over(w) - 1)
      .withColumn("_n", count(lit(1)).over(wAll))
      .select(col(groupCol), col(dsCol), col(yCol), col("_pos"),
        explode(folds(col("_n"))).as("_f"))

    val isTrain = col("_pos").between(col("_f.trainStart"), col("_f.trainEnd"))
    val isTest = col("_pos").between(col("_f.testStart"), col("_f.testEnd"))
    tagged.filter(isTrain || isTest)
      .select(col(groupCol), col(dsCol), col(yCol),
        col("_f.id").as("fold_id"),
        when(isTrain, "train").otherwise("test").as("split"))
  }

  /** Forecast step row used by the CV path. */
  final case class CvFcStep(step: Int, yhat: Double, yhat_lower: Double,
                            yhat_upper: Double, model_name: String)

  /** Per-fold kernel output of the backtest: one step per test row, with
    * its time `t` (micros), its `actual` y (None where y is null) and the
    * forecast. `model_name` sits at the FOLD level (it is constant across a
    * fold's steps), so the steps the backtest pins stay string-free. */
  final case class BtStep(t: Long, actual: Option[Double], yhat: Double, yhat_lower: Double,
                          yhat_upper: Double)
  final case class BtFoldFc(fold_id: Long, model_name: String, steps: Seq[BtStep])

  /** ts_cv_forecast_by: fit per (fold, group) on train rows, predict at the
    * existing test-row dates (horizon = test-row count). Output preserves all
    * fold rows: (fold_id, group, ds, y, split, yhat, yhat_lower, yhat_upper,
    * model_name) (ts_cv_forecast_native.cpp:461-485). */
  def cvForecastBy(folds: DataFrame, groupCol: String, dsCol: String, yCol: String,
                   method: String, params: Map[String, String] = Map.empty): DataFrame = {
    val opts = Forecast.optionsFromParams(method, 1, params)

    val train = folds.filter(col("split") === "train")
    val test = folds.filter(col("split") === "test")

    // train and test rows gathered as ONE series per (fold_id, g), lanes
    // (y, test?). A null-ds train row has no time and is not gathered; a
    // null-ds test row is gathered at Long.MinValue, so it counts toward
    // the horizon
    val micros = Series.micros(folds, dsCol)
    val t = when(col("split") === "train", micros)
      .when(col("split") === "test", coalesce(micros, lit(Long.MinValue)))
    val preds = Series.mapLanes(folds, Seq("fold_id", groupCol), t,
        Seq(col(yCol), (col("split") === "test").cast(DoubleType))) { s =>
      val lanes = Series.lanes(s.vs, 2)
      val (fit, ahead) = s.ts.indices.partition(lanes(1)(_) == 0.0)
      // a (fold, group) without train rows or without test rows gives no rows
      if (fit.isEmpty || ahead.isEmpty) Nil
      else {
        val out = Forecast.forecast(fit.map(lanes(0)(_)).toArray, fit.map(!s.nu(_)).toArray,
          opts.copy(horizon = ahead.length))
        (0 until out.point.length).map(i =>
          CvFcStep(i + 1, out.point(i), out.lower(i), out.upper(i), out.modelName))
      }
    }.select(col("fold_id"), col(groupCol), col("_r.step").as("_step"),
        col("_r.yhat").as("yhat"), col("_r.yhat_lower").as("yhat_lower"),
        col("_r.yhat_upper").as("yhat_upper"), col("_r.model_name").as("model_name"))

    val wTest = Window.partitionBy(col("fold_id"), col(groupCol)).orderBy(col(dsCol))
    val testWithStep = test.withColumn("_step", row_number().over(wTest))
      .join(preds, Seq("fold_id", groupCol, "_step"), "left")
      .drop("_step")
    val trainOut = train
      .withColumn("yhat", lit(null).cast(DoubleType))
      .withColumn("yhat_lower", lit(null).cast(DoubleType))
      .withColumn("yhat_upper", lit(null).cast(DoubleType))
      .withColumn("model_name", lit(null).cast(StringType))

    trainOut.unionByName(testWithStep)
      .select(col("fold_id"), col(groupCol), col(dsCol), col(yCol), col("split"),
        col("yhat"), col("yhat_lower"), col("yhat_upper"), col("model_name"))
  }

  /** ts_backtest_auto_by: per-(fold,group) fit/predict → error columns
    * + per-fold metric. Output (fold_id, group, ds, yhat, actual, error,
    * abs_error, yhat_lower, yhat_upper, model_name, fold_metric_score)
    * (ts_backtest_native.cpp:447-478).
    *
    * Scale shape: each group's ordered series is gathered ONCE on the
    * per-series kernel stage ([[Series.mapLanes]]: a single key exchange
    * carries every input row exactly once, and the kernel reads a
    * round-robin exchange that AQE never coalesces), then one kernel call
    * per group computes every fold ([[CvParams.folds]]) on the gathered
    * arrays. Unlike the cvFoldsBy→cvForecastBy composition this never
    * shuffles train rows duplicated ×nFolds (an expanding backtest would
    * otherwise blow the input up ~nFolds·n/2 rows) and traverses the input
    * plan once, not three times. Null-ds rows count toward the positions
    * and sort first, as in cvFoldsBy.
    *
    * `metric` is the per-fold score over all groups
    * (ts_backtest_native.cpp:280-374, :876-886): mae | mse | rmse | mape |
    * smape | bias | r2 | coverage. Deviation (documented): the reference
    * silently falls back to rmse on an unknown metric name; we raise, so a
    * typo'd metric cannot masquerade as a different score. */
  def backtestAutoBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                     horizon: Int, nFolds: Int, frequency: String = "1d",
                     params: Map[String, String] = Map.empty, metric: String = "rmse"): DataFrame = {
    val (cvKeys, fcKeys) = params.partition { case (k, _) => validCvKeys.contains(k) }
    val p = parseCvParams(cvKeys)
    requireFolds(nFolds, horizon)
    val method = fcKeys.getOrElse("method", "AutoETS")
    val opts = Forecast.optionsFromParams(method, 1, fcKeys - "method")
    val dsType = df.schema(dsCol).dataType

    // A null ds is the time Long.MinValue, so null-ds rows sort first and
    // count toward every fold position (cvFoldsBy's row_number over ds);
    // the kernel drops them from its train input only, like cvForecastBy.
    // Each fold's train window is a slice of the gathered arrays, so the
    // series is never duplicated ×nFolds.
    val perFold = Series.mapLanes(df, Seq(groupCol),
        coalesce(Series.micros(df, dsCol), lit(Long.MinValue)), Seq(col(yCol))) { s =>
      val k = s.ts.segmentLength(_ == Long.MinValue)
      p.folds(s.ts.length, horizon, nFolds).flatMap { f =>
        val from = math.max(f.trainStart, k.toLong).toInt
        val until = f.trainEnd.toInt + 1
        val h = (f.testEnd - f.testStart + 1).toInt
        try {
          val o = Forecast.forecast(s.vs.slice(from, until), s.nu.slice(from, until).map(!_),
            opts.copy(horizon = h))
          // the train window is not empty, so no test row has a null ds
          Some(BtFoldFc(f.id, o.modelName, (0 until h).map { j =>
            val i = f.testStart.toInt + j
            BtStep(s.ts(i), if (s.nu(i)) None else Some(s.vs(i)), o.point(j), o.lower(j), o.upper(j))
          }))
        } catch {
          case _: Forecast.InsufficientData | _: Forecast.ComputationError => None
        }
      }
    }.select(col("_r.fold_id").as("fold_id"), col(groupCol),
      col("_r.model_name").as("_mn"), col("_r.steps").as("_steps"))

    // Pin the compact kernel output so the per-fold score (a global aggregate
    // over ALL groups) and the row-level output both read it WITHOUT either
    // re-running the forecast kernel or shuffling the full exploded output:
    // the earlier design repartitioned every output row on (fold_id, group)
    // purely so ReuseExchange could share one exchange between the two
    // branches — a corpus-sized shuffle whose only purpose was plan sharing.
    // The pin replaces that exchange with one materialization of the
    // ~horizon×-smaller pre-explode rows; everything above it is narrow.
    // Storage/fault-tolerance follows spark.graft.checkpoint.mode
    // (local | reliable | disk — llm/Pin.scala); the blocks back the
    // returned plan, so they are freed by the ContextCleaner once the result
    // is garbage-collected, like the LSH banded table. The pin is LAZY —
    // there is no iteration here, so the first consumer (the fold-score
    // broadcast build) materializes it without an extra scheduled job.
    val pinned = graft.llm.Pin(perFold, eager = false).df

    val out = pinned
      .withColumn("_z", explode(col("_steps")))
      .select(col("fold_id"), col(groupCol),
        Series.fromMicros(col("_z.t"), dsType).as(dsCol),
        col("_z.yhat").as("yhat"), col("_z.actual").as("actual"),
        col("_z.yhat_lower").as("yhat_lower"), col("_z.yhat_upper").as("yhat_upper"),
        col("_mn").as("model_name"))
      .withColumn("error", col("actual") - col("yhat"))
      .withColumn("abs_error", abs(col("error")))

    // Per-fold score WITHOUT a fold_id-partitioned Window (which would funnel
    // the whole output through ≤nFolds partitions at scale) and WITHOUT a
    // second pass over the exploded rows: each compact (group, fold) row
    // reduces its steps to the metric's partial sums in place
    // (a ≤horizon-element fold, pure codegen), a groupBy(fold_id) combines
    // them map-side to ≤nFolds rows, and the ≤nFolds scores are collected
    // (bounded by construction) and stamped onto the output as a literal
    // CASE — the returned plan carries NO exchange at all above the pin.
    // The collect also materializes the pin, so the forecast kernel runs
    // exactly once.
    val foldScores = compactFoldScores(pinned, metric)
    val scoreCol = foldScores.foldLeft(lit(null).cast(DoubleType)) {
      case (acc, (f, sc)) => when(col("fold_id") === f,
        sc.map(lit(_)).getOrElse(lit(null).cast(DoubleType))).otherwise(acc)
    }
    out
      .select(col("fold_id"), col(groupCol), col(dsCol), col("yhat"), col("actual"),
        col("error"), col("abs_error"), col("yhat_lower"), col("yhat_upper"),
        col("model_name"), scoreCol.as("fold_metric_score"))
  }

  /** Fold-level metric computed from the COMPACT pinned rows: per
    * (group, fold) row the steps reduce to the metric's
    * partial-sum terms (count / Σ|e| / Σe² / …, each a single `aggregate`
    * fold over ≤horizon elements), a fold_id aggregate sums the partials,
    * and the closed-form metric is evaluated on the sums. Algebraically
    * identical to the avg/sum forms of the exploded-row metric (the driver
    * rows round scores to 6 decimals, which absorbs the summation-order
    * difference), but the score branch never explodes the output and the
    * only shuffle it needs carries ≤nFolds·nPartitions partial rows.
    * Returns (fold_id → score) for the ≤nFolds observed folds; None encodes
    * a null score (e.g. mape with no nonzero actuals). */
  private def compactFoldScores(pinned: DataFrame, metric: String): Seq[(Long, Option[Double])] = {
    // per-step accessors; `valid` = the actual is present
    def a(e: Column) = e.getField("actual")
    def yh(e: Column) = e.getField("yhat")
    def err(e: Column) = a(e) - yh(e)
    def valid(e: Column) = a(e).isNotNull
    def term(f: Column => Column): Column =
      aggregate(col("_steps"), lit(0.0), (acc, e) => acc + coalesce(f(e), lit(0.0)))
    // terms are (per-step contribution, guarded to 0 outside its domain);
    // the formula receives the per-fold SUMS in declaration order
    val (terms, formula): (Seq[Column => Column], Seq[Column] => Column) = metric match {
      case "mae" => (Seq(
        e => when(valid(e), 1.0).otherwise(0.0),
        e => when(valid(e), abs(err(e))).otherwise(0.0)),
        s => when(s(0) > 0, s(1) / s(0)))
      case "mse" => (Seq(
        e => when(valid(e), 1.0).otherwise(0.0),
        e => when(valid(e), err(e) * err(e)).otherwise(0.0)),
        s => when(s(0) > 0, s(1) / s(0)))
      case "rmse" => (Seq(
        e => when(valid(e), 1.0).otherwise(0.0),
        e => when(valid(e), err(e) * err(e)).otherwise(0.0)),
        s => when(s(0) > 0, sqrt(s(1) / s(0))))
      case "mape" => (Seq(
        e => when(valid(e) && a(e) =!= 0, 1.0).otherwise(0.0),
        e => when(valid(e) && a(e) =!= 0, abs(err(e) / a(e))).otherwise(0.0)),
        s => when(s(0) > 0, s(1) / s(0) * 100.0))
      case "smape" => (Seq(
        e => when(valid(e) && abs(a(e)) + abs(yh(e)) =!= 0, 1.0).otherwise(0.0),
        e => when(valid(e) && abs(a(e)) + abs(yh(e)) =!= 0,
          lit(2.0) * abs(err(e)) / (abs(a(e)) + abs(yh(e)))).otherwise(0.0)),
        s => when(s(0) > 0, s(1) / s(0) * 100.0))
      case "bias" => (Seq(
        e => when(valid(e), 1.0).otherwise(0.0),
        e => when(valid(e), yh(e) - a(e)).otherwise(0.0)),
        s => when(s(0) > 0, s(1) / s(0)))
      case "r2" => (Seq(
        e => when(valid(e), 1.0).otherwise(0.0),
        e => when(valid(e), err(e) * err(e)).otherwise(0.0),
        e => when(valid(e), a(e)).otherwise(0.0),
        e => when(valid(e), a(e) * a(e)).otherwise(0.0)),
        // ssTot = Σa² − (Σa)²/n; 0/0 = NaN when the fold is empty, which
        // falls through to the NaN branch exactly like the exploded form
        s => {
          val ssTot = s(3) - s(2) * s(2) / s(0)
          when(ssTot > 0, lit(1.0) - s(1) / ssTot).otherwise(lit(Double.NaN))
        })
      case "coverage" => (Seq(
        _ => lit(1.0),
        e => when(valid(e) && a(e) >= e.getField("yhat_lower") &&
          a(e) <= e.getField("yhat_upper"), 1.0).otherwise(0.0)),
        s => when(s(0) > 0, s(1) / s(0)))
      case other => throw new IllegalArgumentException(
        s"Unknown metric '$other' (mae|mse|rmse|mape|smape|bias|r2|coverage)")
    }
    val sumCols = terms.indices.map(i => sum(col(s"_t$i")).as(s"_t$i"))
    val scored = pinned
      .select(col("fold_id") +: terms.zipWithIndex.map { case (f, i) =>
        term(f).as(s"_t$i") }: _*)
      .groupBy(col("fold_id"))
      .agg(sumCols.head, sumCols.tail: _*)
      .select(col("fold_id"),
        formula(terms.indices.map(i => col(s"_t$i"))).as("fold_metric_score"))
    scored.collect().toSeq.map { r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }
  }

  /** ts_cv_split_by (ts_macros.cpp:1203 → _ts_cv_split_native): explicit
    * `trainingEndTimes` cutoffs; per fold, train = rows at/before the
    * cutoff (expanding), test = the next `horizon` rows after cutoff+gap. */
  def cvSplitBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                trainingEndTimes: Seq[java.sql.Timestamp], horizon: Int,
                params: Map[String, String] = Map.empty): DataFrame = {
    val p = parseCvParams(params)
    val w = Window.partitionBy(col(groupCol)).orderBy(col(dsCol))
    val base = df.withColumn("_pos", row_number().over(w) - 1)
    val ends = trainingEndTimes.zipWithIndex.map { case (t, i) => (i + 1L, t) }
    val endsDf = df.sparkSession.createDataFrame(ends).toDF("fold_id", "_cutoff")
    val joined = base.crossJoin(broadcast(endsDf))
    val wFold = Window.partitionBy(col(groupCol), col("fold_id"))
    val tagged = joined.withColumn("_end_pos",
      max(when(col(dsCol).cast(TimestampType) <= col("_cutoff"), col("_pos"))).over(wFold))
    val isTrain = col("_pos") <= col("_end_pos")
    val isTest = col("_pos") > col("_end_pos") + p.gap &&
      col("_pos") <= col("_end_pos") + p.gap + horizon
    tagged.filter(col("_end_pos").isNotNull && (isTrain || isTest))
      .select(col(groupCol), col(dsCol), col(yCol), col("fold_id"),
        when(isTrain, "train").otherwise("test").as("split"))
  }

  /** ts_cv_split_folds_by (ts_macros.cpp:1121): per-fold boundary rows. */
  def cvSplitFoldsBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                     trainingEndTimes: Seq[java.sql.Timestamp], horizon: Int,
                     params: Map[String, String] = Map.empty): DataFrame = {
    val split = cvSplitBy(df, groupCol, dsCol, yCol, trainingEndTimes, horizon, params)
    split.groupBy(col(groupCol), col("fold_id"))
      .agg(
        min(when(col("split") === "train", col(dsCol))).as("train_start"),
        max(when(col("split") === "train", col(dsCol))).as("train_end"),
        min(when(col("split") === "test", col(dsCol))).as("test_start"),
        max(when(col("split") === "test", col(dsCol))).as("test_end"),
        sum(when(col("split") === "train", 1).otherwise(0)).as("n_train"),
        sum(when(col("split") === "test", 1).otherwise(0)).as("n_test"))
  }

  /** ts_cv_split_index_by (ts_macros.cpp:1223): memory-efficient variant of
    * cvSplitBy that emits only (group, ds, fold_id, split) — no target
    * column — so large datasets aren't duplicated across folds. Join back
    * with cvHydrateBy for full rows. Same position-based fold semantics as
    * cvSplitBy (the reference's date-interval arithmetic agrees on gapless
    * grids, which ts_cv_split_by itself requires). */
  def cvSplitIndexBy(df: DataFrame, groupCol: String, dsCol: String,
                     trainingEndTimes: Seq[java.sql.Timestamp], horizon: Int,
                     params: Map[String, String] = Map.empty): DataFrame = {
    val withDummy = df.select(col(groupCol), col(dsCol)).withColumn("_y", lit(0))
    cvSplitBy(withDummy, groupCol, dsCol, "_y", trainingEndTimes, horizon, params)
      .select(col(groupCol), col(dsCol), col("fold_id"), col("split"))
  }

  /** ts_cv_hydrate_by (ts_macros.cpp:1409-1452): join the fold skeleton back
    * to a feature table, nulling `unknownFeatures` on rows after each fold's
    * training cutoff (leakage-safe ML matrices). */
  def cvHydrateBy(folds: DataFrame, features: DataFrame, groupCol: String, dsCol: String,
                  unknownFeatures: Seq[String]): DataFrame = {
    val wFold = Window.partitionBy(col(groupCol), col("fold_id"))
    val withCutoff = folds.withColumn("_train_end",
      max(when(col("split") === "train", col(dsCol))).over(wFold))
    val joined = withCutoff.join(features, Seq(groupCol, dsCol), "left")
    unknownFeatures.foldLeft(joined) { (d, c) =>
      d.withColumn(c, when(col(dsCol) > col("_train_end"), lit(null)).otherwise(col(c)))
    }.drop("_train_end")
  }

  /** ts_hydrate_features_by (ts_hydrate_features.test contract): join CV
    * splits back to the full feature table under the reference's renamed
    * column contract — fold_id, group_col, date_col, target_col, split,
    * _is_test, per-(group, fold) _train_cutoff, plus every feature column.
    * Relational end-to-end: one broadcast-or-shuffle join on (group, ds),
    * no per-group gathering. */
  def hydrateFeaturesBy(cvSplits: DataFrame, features: DataFrame,
                        groupCol: String, dsCol: String, yCol: String): DataFrame = {
    val wFold = Window.partitionBy(col(groupCol), col("fold_id"))
    val skel = cvSplits.select(col(groupCol), col(dsCol), col("fold_id"), col("split"))
      .withColumn("_is_test", col("split") === "test")
      .withColumn("_train_cutoff",
        max(when(col("split") === "train", col(dsCol))).over(wFold))
    val joined = skel.join(features, Seq(groupCol, dsCol))
    val featCols = features.columns.filterNot(c => c == groupCol || c == dsCol || c == yCol)
    joined.select(Seq(col("fold_id"), col(groupCol).as("group_col"),
      col(dsCol).as("date_col"), col(yCol).as("target_col"), col("split"),
      col("_is_test"), col("_train_cutoff")) ++ featCols.map(col): _*)
  }

  /** ts_prepare_regression_input_by (ts_prepare_regression_input.test):
    * regression-model data adapter — hydrated CV folds with the target
    * masked to NULL on test rows, so a fit-predict over `masked_target`
    * can never train on the evaluation window. The target also stays
    * under its original name for scoring joins. */
  def prepareRegressionInputBy(cvSplits: DataFrame, features: DataFrame,
                               groupCol: String, dsCol: String, yCol: String): DataFrame =
    hydrateFeaturesBy(cvSplits, features, groupCol, dsCol, yCol)
      .withColumn(yCol, col("target_col"))
      .withColumn("masked_target",
        when(col("_is_test"), lit(null)).otherwise(col("target_col")))
      .drop("target_col", "_train_cutoff")

  /** ts_check_leakage (ts_macros.cpp:1319): per-group counts of train rows
    * dated after the first test row. */
  def checkLeakage(df: DataFrame, groupCol: String, dsCol: String, isTestCol: String): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
    df.withColumn("_min_test", min(when(col(isTestCol), col(dsCol))).over(w))
      .groupBy(col(groupCol))
      .agg(
        sum(when(!col(isTestCol) && col("_min_test").isNotNull &&
          col(dsCol) >= col("_min_test"), 1).otherwise(0)).as("n_leaked_rows"),
        count(lit(1)).as("n_rows"))
      .withColumn("has_leakage", col("n_leaked_rows") > 0)
  }

  /** ts_estimate_backtest_memory (metrics.cpp:1081-1111): rough MB estimate. */
  def estimateBacktestMemory(nSeries: Long, seriesLength: Long, folds: Int, horizon: Int): Double = {
    // per-group buffering of one series + fold outputs, 8 bytes per double,
    // ~4 working copies — mirrors the reference's coarse O(group) contract
    val perSeries = seriesLength * 8.0 * 4.0
    val outputs = folds.toLong * horizon * 11 * 8.0
    (nSeries * 0.0 + perSeries + nSeries * outputs) / 1e6
  }
}
