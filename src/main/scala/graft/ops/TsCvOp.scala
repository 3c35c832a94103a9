package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernels.Forecast
import graft.types.Frequency

/** Cross-validation / backtesting operators.
  *
  * Fold semantics are position-based PER GROUP (0-indexed over each group's
  * date-sorted rows), matching _ts_cv_folds_native
  * (ts_cv_folds_native.cpp:523-650): initial train size defaults so the last
  * fold's test window ends at the data end; `skip_length` defaults to the
  * horizon; `window_type` ∈ expanding | fixed | sliding; folds that don't fit
  * are dropped (`clip_horizon` keeps partially-fitting last tests).
  *
  * Spark shape: row_number + count windows give (pos, n) per row; rows are
  * multiplied by the fold ids they belong to via explode — fully distributed,
  * no per-group materialization or driver-side boundary computation.
  */
object TsCvOp {

  final case class CvParams(
      gap: Long = 0, embargo: Long = 0, windowType: String = "expanding",
      minTrainSize: Long = 1, initialTrainSize: Long = -1, skipLength: Long = -1,
      clipHorizon: Boolean = false)

  val validCvKeys: Set[String] = Set("gap", "embargo", "window_type", "min_train_size",
    "initial_train_size", "skip_length", "clip_horizon")

  def parseCvParams(params: Map[String, String]): CvParams = {
    val unknown = params.keySet -- validCvKeys
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"ts_cv_folds_by: Unknown parameter(s): ${unknown.toSeq.sorted.mkString(", ")}. " +
          s"Valid: ${validCvKeys.toSeq.sorted.mkString(", ")}")
    CvParams(
      gap = params.getOrElse("gap", "0").toLong,
      embargo = params.getOrElse("embargo", "0").toLong,
      windowType = params.getOrElse("window_type", "expanding"),
      minTrainSize = params.getOrElse("min_train_size", "1").toLong,
      initialTrainSize = params.getOrElse("initial_train_size", "-1").toLong,
      skipLength = params.getOrElse("skip_length", "-1").toLong,
      clipHorizon = params.get("clip_horizon").exists(_.toBoolean))
  }

  /** ts_cv_folds_by: rows tagged (fold_id, split ∈ train|test). */
  def cvFoldsBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                nFolds: Int, horizon: Int, params: Map[String, String] = Map.empty): DataFrame = {
    val p = parseCvParams(params)
    require(Set("expanding", "fixed", "sliding").contains(p.windowType),
      s"window_type must be expanding|fixed|sliding, got '${p.windowType}'")
    val isFixed = p.windowType == "fixed" || p.windowType == "sliding"
    val skip = if (p.skipLength > 0) p.skipLength else horizon.toLong

    val w = Window.partitionBy(col(groupCol)).orderBy(col(dsCol))
    val wAll = Window.partitionBy(col(groupCol))
    val base = df
      .withColumn("_pos", row_number().over(w) - 1)
      .withColumn("_n", count(lit(1)).over(wAll))
      .filter(col("_n") >= 2)
      .filter(if (isFixed) col("_n") >= p.minTrainSize else lit(true))

    val init: Column =
      if (p.initialTrainSize > 0) lit(p.initialTrainSize)
      else {
        val auto = greatest(col("_n") - lit(horizon.toLong * nFolds), lit(1L))
        if (isFixed) greatest(auto, lit(p.minTrainSize)) else auto
      }

    val folded = base
      .withColumn("_fold", explode(sequence(lit(1L), lit(nFolds.toLong))))
      .withColumn("_train_end", init - 1 + (col("_fold") - 1) * lit(skip))
      .withColumn("_test_start", col("_train_end") + 1 + lit(p.gap))
      .withColumn("_test_end", least(col("_test_start") + lit(horizon - 1), col("_n") - 1))

    val foldValid =
      (if (isFixed) col("_train_end") + 1 >= p.minTrainSize else lit(true)) &&
        (if (p.clipHorizon) col("_test_start") < col("_n")
         else col("_test_start") + lit(horizon - 1) < col("_n"))

    val trainStart: Column =
      if (isFixed) greatest(col("_train_end") + 1 - p.minTrainSize, lit(0L)) else lit(0L)
    val isTrain = col("_pos") >= trainStart && col("_pos") <= col("_train_end")
    val isTest = col("_pos") >= col("_test_start") && col("_pos") <= col("_test_end")

    folded.filter(foldValid && (isTrain || isTest))
      .select(col(groupCol), col(dsCol), col(yCol),
        col("_fold").as("fold_id"),
        when(isTrain, "train").otherwise("test").as("split"))
  }

  /** Forecast step row used by the CV path. */
  final case class CvFcStep(step: Int, yhat: Double, yhat_lower: Double,
                            yhat_upper: Double, model_name: String)

  /** Per-fold kernel output of the all-folds-in-one-call backtest UDF.
    * `model_name` sits at the FOLD level (it is constant across a fold's
    * steps) and the steps carry only the three forecast doubles — the
    * compact rows the backtest pins stay string-free per step. */
  final case class BtStep(yhat: Double, yhat_lower: Double, yhat_upper: Double)
  final case class BtFoldFc(fold_id: Long, test_start: Long, test_end: Long,
                            model_name: String, steps: Seq[BtStep])

  /** ts_cv_forecast_by: fit per (fold, group) on train rows, predict at the
    * existing test-row dates (horizon = test-row count). Output preserves all
    * fold rows: (fold_id, group, ds, y, split, yhat, yhat_lower, yhat_upper,
    * model_name) (ts_cv_forecast_native.cpp:461-485). */
  def cvForecastBy(folds: DataFrame, groupCol: String, dsCol: String, yCol: String,
                   method: String, params: Map[String, String] = Map.empty): DataFrame = {
    val opts = Forecast.optionsFromParams(method, 1, params)
    val dsType = folds.schema(dsCol).dataType

    val train = folds.filter(col("split") === "train")
    val test = folds.filter(col("split") === "test")

    val testCounts = test.groupBy(col("fold_id"), col(groupCol))
      .agg(count(lit(1)).cast(IntegerType).as("_h"))

    // no explicit repartition here (unlike Series.gather): the join with
    // testCounts needs the (fold_id, g) hash partitioning the aggregate
    // already has, and a round-robin exchange would add a second one
    val gathered = train
      .filter(col(dsCol).isNotNull)
      .groupBy(col("fold_id"), col(groupCol))
      .agg(Series.sortedSeries(dsCol, dsType, yCol).as("_s"))
      .join(testCounts, Seq("fold_id", groupCol))

    val fcUdf = udf((vs: Array[Double], nu: Array[Boolean], h: Int) => {
      try {
        val out = Forecast.forecast(vs, nu.map(!_), opts.copy(horizon = h))
        Some((0 until out.point.length).map(i =>
          CvFcStep(i + 1, out.point(i), out.lower(i), out.upper(i), out.modelName)))
      } catch {
        case _: Forecast.InsufficientData | _: Forecast.ComputationError => None
      }
    })

    val preds = gathered
      .select(col("fold_id"), col(groupCol),
        explode(fcUdf(col("_s.v"), col("_s.nu"), col("_h"))).as("_p"))
      .select(col("fold_id"), col(groupCol), col("_p.step").as("_step"),
        col("_p.yhat").as("yhat"), col("_p.yhat_lower").as("yhat_lower"),
        col("_p.yhat_upper").as("yhat_upper"), col("_p.model_name").as("model_name"))

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

  /** Per-fold metric (across all groups, ts_backtest_native.cpp:280-374,
    * :876-886): the reference's full accepted set — mae | mse | rmse | mape |
    * smape | bias | r2 | coverage. Returned as a plain aggregate expression:
    * the caller reduces it per fold with a `groupBy("fold_id")` (map-side
    * partial agg, ≤nFolds result rows) and broadcast-joins the scores back —
    * a Window partitioned by fold_id alone would funnel the whole backtest
    * output through ≤nFolds partitions, a straggler/OOM at 100× scale.
    *
    * Deviation (documented): the reference silently falls back to rmse on an
    * unknown metric name; we raise, so a typo'd metric cannot masquerade as
    * a different score. */
  // (the exploded-row fold metric lived here; superseded by
  // compactFoldScores, which computes the same closed forms from the
  // compact pinned rows' partial sums)

  /** ts_backtest_auto_by: per-(fold,group) fit/predict → error columns
    * + per-fold metric. Output (fold_id, group, ds, yhat, actual, error,
    * abs_error, yhat_lower, yhat_upper, model_name, fold_metric_score)
    * (ts_backtest_native.cpp:447-478).
    *
    * Scale shape: each group's ordered series is gathered ONCE (a single
    * shuffle on the group key carries every input row exactly once), then the
    * fold fan-out happens map-side on the gathered row — `explode` over fold
    * ids followed by array `slice`s for the train/test windows, consumed
    * immediately by the forecast kernel. Unlike the cvFoldsBy→cvForecastBy
    * composition this never shuffles train rows duplicated ×nFolds (an
    * expanding backtest would otherwise blow the input up ~nFolds·n/2 rows)
    * and traverses the input plan once, not three times. Fold semantics are
    * identical to cvFoldsBy (position-based per group, same defaults). */
  def backtestAutoBy(df: DataFrame, groupCol: String, dsCol: String, yCol: String,
                     horizon: Int, nFolds: Int, frequency: String = "1d",
                     params: Map[String, String] = Map.empty, metric: String = "rmse"): DataFrame = {
    val (cvKeys, fcKeys) = params.partition { case (k, _) => validCvKeys.contains(k) }
    val p = parseCvParams(cvKeys)
    require(Set("expanding", "fixed", "sliding").contains(p.windowType),
      s"window_type must be expanding|fixed|sliding, got '${p.windowType}'")
    val isFixed = p.windowType == "fixed" || p.windowType == "sliding"
    val skip = if (p.skipLength > 0) p.skipLength else horizon.toLong
    val method = fcKeys.getOrElse("method", "AutoETS")
    val opts = Forecast.optionsFromParams(method, 1, fcKeys - "method")
    val dsType = df.schema(dsCol).dataType

    // one shuffle: gather each group's full ordered series (positions match
    // cvFoldsBy's row_number-over-ds — all rows counted, null-ds rows sort
    // first and are dropped from the kernel input only, like cvForecastBy).
    // This keeps sort_array(collect_list(struct)) rather than the native
    // Series.sortedSeries, which skips null-ds rows: here they must stay in
    // the array because they count toward every fold position.
    // The struct carries only (t, v, nu): the original ds value is
    // reconstructed from the micros sort key on output (Series.fromMicros
    // is toMicros' exact inverse), so the gather shuffle never moves a
    // redundant date column.
    val gathered = df
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        Series.toMicros(col(dsCol), dsType).as("t"),
        coalesce(col(yCol).cast(DoubleType), lit(Double.NaN)).as("v"),
        col(yCol).isNull.as("nu")))).as("_s"))
      .withColumn("_n", size(col("_s")).cast(LongType))
      .filter(col("_n") >= 2)
      .filter(if (isFixed) col("_n") >= p.minTrainSize else lit(true))

    val init: Column =
      if (p.initialTrainSize > 0) lit(p.initialTrainSize)
      else {
        val auto = greatest(col("_n") - lit(horizon.toLong * nFolds), lit(1L))
        if (isFixed) greatest(auto, lit(p.minTrainSize)) else auto
      }

    // ONE kernel call per group computes every fold: the UDF receives the
    // gathered series once and slices train windows internally, so the
    // series arrays are never duplicated ×nFolds through an explode/slice
    // (an expanding backtest would otherwise materialize ~nFolds·n/2
    // elements per group before the kernel ever ran — the dominant cost at
    // scale and the dominant measured cost at 10×). Fold boundary/validity
    // arithmetic is identical to cvFoldsBy's column form, evaluated on
    // (n, init) scalars.
    val isClip = p.clipHorizon
    val minTrain = p.minTrainSize
    val gap = p.gap
    // null-ds rows sort FIRST (the struct sort key `t` is null), so the
    // kernel receives their COUNT `k` instead of a per-position boolean
    // array — one fewer boxed array across the UDF boundary per group
    val fcAllUdf = udf((vs: Seq[Double], nulls: Seq[Boolean], k: Long,
                        n: Long, init: Long) => {
      val acc = Seq.newBuilder[BtFoldFc]
      var f = 1L
      while (f <= nFolds) {
        val trainEnd = init - 1 + (f - 1) * skip
        val testStart = trainEnd + 1 + gap
        val valid = (!isFixed || trainEnd + 1 >= minTrain) &&
          (if (isClip) testStart < n else testStart + horizon - 1 < n)
        if (valid) {
          val testEnd = math.min(testStart + horizon - 1, n - 1)
          val trainStart = if (isFixed) math.max(trainEnd + 1 - minTrain, 0L) else 0L
          val vb = Array.newBuilder[Double]
          val kb = Array.newBuilder[Boolean]
          var i = math.max(trainStart, k).toInt
          val end = math.min(trainEnd, n - 1).toInt
          while (i <= end) {
            vb += vs(i); kb += !nulls(i)
            i += 1
          }
          val h = (testEnd - testStart + 1).toInt
          try {
            val o = Forecast.forecast(vb.result(), kb.result(), opts.copy(horizon = h))
            acc += BtFoldFc(f, testStart, testEnd, o.modelName,
              (0 until o.point.length).map(j =>
                BtStep(o.point(j), o.lower(j), o.upper(j))))
          } catch {
            case _: Forecast.InsufficientData | _: Forecast.ComputationError => ()
          }
        }
        f += 1
      }
      acc.result()
    })

    // Compact per-(group, fold) forecast rows — the heavy kernel output
    // BEFORE fan-out: one row per group-fold carrying two h-element arrays,
    // ~horizon× smaller than the exploded output. The pinned payload is
    // slim: the sort key `t` (micros) was only needed for ordering inside
    // `_s`; the output reads v/nu/d alone.
    val perFold = gathered
      .withColumn("_pf", fcAllUdf(col("_s.v"), col("_s.nu"),
        size(filter(col("_s"), e => e.getField("t").isNull)).cast(LongType),
        col("_n"), init))
      .withColumn("_f", explode(col("_pf")))
      .select(col("_f.fold_id").as("fold_id"), col(groupCol),
        slice(col("_s"), (col("_f.test_start") + 1).cast(IntegerType),
          (col("_f.test_end") - col("_f.test_start") + 1).cast(IntegerType))
          .as("_test"),
        col("_f.model_name").as("_mn"),
        col("_f.steps").as("_steps"))

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
      .withColumn("_z", explode(arrays_zip(col("_test"), col("_steps"))))
      .select(col("fold_id"), col(groupCol),
        Series.fromMicros(col("_z._test.t"), dsType).as(dsCol),
        col("_z._steps.yhat").as("yhat"),
        when(col("_z._test.nu"), lit(null).cast(DoubleType))
          .otherwise(col("_z._test.v")).as("actual"),
        col("_z._steps.yhat_lower").as("yhat_lower"),
        col("_z._steps.yhat_upper").as("yhat_upper"),
        col("_mn").as("model_name"))
      .filter(col("yhat").isNotNull)
      .withColumn("error", col("actual") - col("yhat"))
      .withColumn("abs_error", abs(col("error")))

    // Per-fold score WITHOUT a fold_id-partitioned Window (which would funnel
    // the whole output through ≤nFolds partitions at scale) and WITHOUT a
    // second pass over the exploded rows: each compact (group, fold) row
    // reduces its test/step arrays to the metric's partial sums in place
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
    * (group, fold) row the zipped test/step arrays reduce to the metric's
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
    def zipped = arrays_zip(col("_test"), col("_steps"))
    // per-step accessors; `valid` = both actual and forecast present
    def te(e: Column) = e.getField("_test")
    def st(e: Column) = e.getField("_steps")
    def a(e: Column) = te(e).getField("v")
    def yh(e: Column) = st(e).getField("yhat")
    def err(e: Column) = a(e) - yh(e)
    def valid(e: Column) = !te(e).getField("nu") && yh(e).isNotNull
    def term(f: Column => Column): Column =
      aggregate(zipped, lit(0.0), (acc, e) => acc + coalesce(f(e), lit(0.0)))
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
        e => when(yh(e).isNotNull, 1.0).otherwise(0.0),
        e => when(yh(e).isNotNull && !te(e).getField("nu") &&
          a(e) >= st(e).getField("yhat_lower") &&
          a(e) <= st(e).getField("yhat_upper"), 1.0).otherwise(0.0)),
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
