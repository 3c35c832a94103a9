package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernels.Forecast
import graft.llm.{FuzzyJoinOps, SimilarityOps, TextOps}
import graft.ops.{Series => GSeries, TsForecastOp}

/** Runs one query of an op: builds the DataFrame, attaches the output-check
  * observation, writes to the `noop` sink and returns the observed values.
  * The traced implementation adds spans, plan forcing and listener
  * bookkeeping around the same calls. */
trait QueryRunner {
  def run(label: String, build: => DataFrame, checks: Seq[Column]): Map[String, Any]
}

/** Output-check aggregates, computed by `Dataset.observe` during the op's
  * own write (no extra job). */
object Check {
  /** Order-independent digest of the rows: the sum of the low 31 bits of
    * each row's xxhash64 (no overflow below 4e9 rows). */
  def digest(cols: Column*): Column =
    sum(xxhash64(cols: _*).bitwiseAND(lit(0x7fffffffL))).as("digest")
  def rows: Column = count(lit(1)).as("rows")
  def countIf(name: String, c: Column): Column = sum(when(c, 1L).otherwise(0L)).as(name)
  def nonFinite(c: Column): Column = c.isNull || isnan(c) || c === Double.PositiveInfinity ||
    c === Double.NegativeInfinity
  /** Sum and count of a per-row error (nulls skipped): their ratio is the mean. */
  def meanOf(c: Column): Seq[Column] = Seq(sum(c).as("err_sum"), count(c).as("err_n"))
  def long(m: Map[String, Any], k: String): Long = m.get(k) match {
    case Some(n: Number) => n.longValue
    case _ => 0L
  }
  def mean(m: Map[String, Any]): Double = m.get("err_sum") match {
    case Some(s: Number) if long(m, "err_n") > 0 => s.doubleValue / long(m, "err_n")
    case _ => Double.NaN
  }
}

/** One benchmark workload: seeded inputs, the op with its output checks,
  * and the traced-only microbenchmarks. */
abstract class Workload(val name: String) {
  /** Input units one op processes (series, or docs for curate_pairs). */
  def units: Long
  def inputDigest: String
  def generate(seed: Long): Unit
  def load(spark: SparkSession): Unit
  /** Ops run in set-up, before the timed loop: the first is the cold one,
    * the rest let the JIT settle so timed ops measure steady-state cost. */
  def warmupOps: Int
  /** Runs one op; returns the failed checks (empty when every check held). */
  def op(q: QueryRunner): Seq[String]
  /** Per-layer microbenchmarks (traced runs only, after the timed loop). */
  def micro(spark: SparkSession): Map[String, Double]
  /** Kernel CPU of an op that ran the queries `labels`, estimated from the
    * single-thread kernel timings in `micro`. */
  def kernelCpuMs(labels: Seq[String], micro: Map[String, Double]): Double = 0.0
  /** Series the op must skip (too short for the kernel). */
  def expectedSkips: Long = 0L
  /** Series the op skipped, from its observed output counts per query. */
  def seriesSkipped(observed: Map[String, Map[String, Any]]): Long = 0L
  /** Output rows of one op, for the traced `ops.rows_out` count. */
  def rowsOut(observed: Seq[Map[String, Any]]): Long = observed.map(Check.long(_, "rows")).sum

  /** The first op of a run sets the reference digest and error per query
    * label; every later op must reproduce them. */
  private val digests = mutable.Map.empty[String, Long]
  private val errors = mutable.Map.empty[String, Double]
  /** Set once the timed loop starts: the first timed op's errors are reported. */
  var timed = false
  private val timedErrors = mutable.LinkedHashMap.empty[String, Double]

  protected def sameDigest(label: String, m: Map[String, Any]): Option[String] = {
    val d = Check.long(m, "digest")
    val first = digests.getOrElseUpdate(label, d)
    if (d == first) None else Some(s"$label: output digest $d differs from the run's first op ($first)")
  }

  /** Checks the op's mean error (see [[Check.meanOf]]) against the first
    * op's; the sum is order-dependent, so equality is up to 1e-9. */
  protected def sameError(label: String, m: Map[String, Any]): Option[String] = {
    val e = Check.mean(m)
    if (e.isNaN) return Some(s"$label: no scored output rows")
    if (timed && !timedErrors.contains(label)) timedErrors(label) = e
    val first = errors.getOrElseUpdate(label, e)
    if (math.abs(e - first) <= 1e-9 * math.max(1.0, math.abs(first))) None
    else Some(s"$label: mean error $e differs from the run's first op ($first)")
  }

  /** The accuracy metric (`mase`) of the first timed op: the mean of its
    * per-query errors, finished by [[scaleError]]. */
  def accuracy: Option[Double] =
    if (timedErrors.isEmpty) None else Some(scaleError(timedErrors.values.sum / timedErrors.size))
  protected def scaleError(meanError: Double): Double = meanError
}

object Workload {
  /** The workloads of BENCHMARK.json, then the one that only runs on request. */
  val names = Seq("fcst_many_short", "curate_pairs", "fcst_long_auto")

  def apply(name: String): Workload = name match {
    case "fcst_many_short" => new ManyShort
    case "fcst_long_auto" => new LongAuto
    case "curate_pairs" => new CuratePairs
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  val Models = Seq("SeasonalNaive", "AutoETS", "OptimizedTheta", "AutoARIMA")

  /** Weekly season, as in the reference's M4 Daily protocol. */
  val Season: Map[String, String] = Map("seasonal_period" -> "7")

  /** Single-thread kernel microbenchmark: thread CPU ms and allocated bytes
    * per series for each model, over `sample` series. */
  def kernelMicro(sample: Seq[Gen.Series], horizon: Int): Map[String, Double] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val arrays = sample.map(s => (s.values, Array.fill(s.values.length)(true)))
    Models.flatMap { model =>
      val opts = Forecast.optionsFromParams(model, horizon, Season)
      arrays.take(2).foreach { case (v, ok) => Forecast.forecast(v, ok, opts) } // warm the JIT
      val cpu0 = mx.getCurrentThreadCpuTime
      val alloc0 = mx.getThreadAllocatedBytes(tid)
      arrays.foreach { case (v, ok) => Forecast.forecast(v, ok, opts) }
      val n = math.max(arrays.length, 1).toDouble
      Seq(s"kernels.ms_per_series.$model" -> (mx.getCurrentThreadCpuTime - cpu0) / 1e6 / n,
        s"kernels.alloc_bytes_per_series.$model" -> (mx.getThreadAllocatedBytes(tid) - alloc0) / n)
    }.toMap
  }

  /** Median wall seconds of `reps` noop writes of `df`. */
  def timeNoop(df: => DataFrame, reps: Int = 3): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })

  /** Cached (id INT, ds DATE, y DOUBLE) long-format table of `set`, one row
    * per day. */
  def seriesTable(spark: SparkSession, set: Gen.SeriesSet): DataFrame = {
    val rows = spark.sparkContext.parallelize(set.series.toSeq, spark.sparkContext.defaultParallelism)
      .flatMap(s => s.values.indices.iterator.map(i => Row(s.id, s.startDay + i, s.values(i))))
    val schema = StructType(Seq(StructField("id", IntegerType, false),
      StructField("d", IntegerType, false), StructField("y", DoubleType, false)))
    val df = spark.createDataFrame(rows, schema)
      .select(col("id"), date_from_unix_date(col("d")).as("ds"), col("y"))
      .cache()
    require(df.count() == set.rows, "cached input row count")
    df
  }

  /** In-sample one-step naive MAE: the MASE scale (0 when the series never
    * changes). */
  def naiveScale(v: Array[Double]): Double =
    if (v.length < 2) 0.0 else (1 until v.length).map(i => math.abs(v(i) - v(i - 1))).sum / (v.length - 1)
}

/** Shared shape of the forecasting workloads. The accuracy metric is MASE
  * under the M4 protocol: every forecast point's absolute error against
  * the held-out truth, scaled by its series' in-sample naive MAE, averaged
  * over all points of series with a non-zero scale. */
abstract class ForecastWorkload(name: String) extends Workload(name) {
  protected var set: Gen.SeriesSet = _
  protected var input: DataFrame = _
  def units: Long = set.series.length
  def inputDigest: String = Gen.digest(set)
  override def expectedSkips: Long = set.tooShort
  def load(spark: SparkSession): Unit = input = Workload.seriesTable(spark, set)

  override def seriesSkipped(observed: Map[String, Map[String, Any]]): Long =
    units - observed.values.map(Check.long(_, "rows")).max / set.horizon

  /** Scaled absolute error of a forecast of `step` (1-based) for series `id`. */
  protected def scaledError: UserDefinedFunction = {
    val truth = set.series.iterator.filter(_.holdout.nonEmpty)
      .map(s => s.id -> (s.holdout, Workload.naiveScale(s.values))).filter(_._2._2 > 0).toMap
    udf((id: Int, step: Int, yhat: Double) =>
      truth.get(id).map { case (h, scale) => java.lang.Double.valueOf(math.abs(yhat - h(step - 1)) / scale) }.orNull)
  }

  /** Built once per generated input, outside the timed ops. */
  private var checksOf: (Gen.SeriesSet, Seq[Column]) = (null, Nil)
  protected def forecastChecks: Seq[Column] = {
    if (checksOf._1 ne set) checksOf = (set, Seq(Check.rows,
      Check.countIf("bad_yhat", Check.nonFinite(col("yhat"))),
      Check.digest(col("id"), col("forecast_step"), round(col("yhat"), 6))) ++
      Check.meanOf(scaledError(col("id"), col("forecast_step"), col("yhat"))))
    checksOf._2
  }

  private[perfbench] def checkForecast(label: String, m: Map[String, Any]): Seq[String] = {
    val want = (units - expectedSkips) * set.horizon
    val rows = Check.long(m, "rows")
    Seq(
      if (rows != want) Some(s"$label: $rows forecast rows, expected $want") else None,
      if (Check.long(m, "bad_yhat") != 0) Some(s"$label: ${m("bad_yhat")} non-finite yhat") else None,
      sameDigest(label, m), sameError(label, m)).flatten
  }

  def micro(spark: SparkSession): Map[String, Double] = {
    val r = new java.util.SplittableRandom(7)
    val sample = set.series.filter(_.holdout.nonEmpty).toSeq
    val picked =
      if (microSeries >= sample.length) sample
      else (0 until microSeries).map(_ => sample(r.nextInt(sample.length)))
    Workload.kernelMicro(picked, set.horizon) ++ Map(
      "ops.gather_s" -> Workload.timeNoop(GSeries.gather(input, "id", "ds", "y")))
  }
  /** Series per model in the kernel microbenchmark. */
  protected def microSeries: Int
}

/** Many short daily series, SeasonalNaive h=14 through the SQL table macro:
  * the kernel is trivial, so the op is planning, gather shuffle, task
  * scheduling and UDF/explode overhead. */
final class ManyShort extends ForecastWorkload("fcst_many_short") {
  def generate(seed: Long): Unit =
    set = Gen.shortSeries(seed, n = 15000, minLen = 60, maxLen = 120, horizon = 14,
      tooShort = 150, intermittentShare = 0.1)
  // ops keep getting faster for about ten ops while the JIT compiles the op's path
  def warmupOps = 10
  override def load(spark: SparkSession): Unit = {
    super.load(spark)
    input.createOrReplaceTempView("fcst_input")
  }
  def op(q: QueryRunner): Seq[String] = {
    val sql = s"SELECT * FROM ts_forecast_by('fcst_input', id, ds, y, 'SeasonalNaive', ${set.horizon}, " +
      "'1d', map('seasonal_period', '7'))"
    checkForecast("forecast", q.run("forecast", input.sparkSession.sql(sql), forecastChecks))
  }
  protected def microSeries = 400
  override def kernelCpuMs(labels: Seq[String], m: Map[String, Double]): Double =
    m.getOrElse("kernels.ms_per_series.SeasonalNaive", 0.0) * (units - expectedSkips)
}

/** A few M4-Daily-shaped series (~2,000 obs); one op forecasts them with
  * AutoETS, OptimizedTheta and AutoARIMA in turn: executor CPU is almost all
  * kernel optimizer time. */
final class LongAuto extends ForecastWorkload("fcst_long_auto") {
  val models = Seq("AutoETS", "OptimizedTheta", "AutoARIMA")
  def generate(seed: Long): Unit =
    set = Gen.longSeries(seed, n = 8, minLen = 1900, maxLen = 2100, horizon = 14)
  def warmupOps = 1
  def op(q: QueryRunner): Seq[String] = models.flatMap { m =>
    checkForecast(m, q.run(m,
      TsForecastOp.forecastBy(input, "id", "ds", "y", m, set.horizon, "1d", Workload.Season), forecastChecks))
  }
  protected def microSeries = 8
  override def kernelCpuMs(labels: Seq[String], m: Map[String, Double]): Double =
    labels.map(x => m.getOrElse(s"kernels.ms_per_series.$x", 0.0)).sum * units
}

/** Seeded corpus with planted near-duplicate clusters, 24-char keys from the
  * docs and seeded embeddings; one op runs MinHash-LSH pairs, the fuzzy
  * self-join (d=2) and the IVF kNN graph (k=10, nProbe=8). The accuracy
  * metric is the kNN step's scaled error: the mean cosine distance to the
  * returned neighbours over the mean cosine distance to the exact k nearest
  * (1.0 = exact). */
final class CuratePairs extends Workload("curate_pairs") {
  val k = 10
  val nProbe = 8
  val nLists = 16
  private var corpus: Gen.Corpus = _
  private var docs, keys, vectors, centroids: DataFrame = _
  def units: Long = corpus.docs.length
  def inputDigest: String = Gen.digest(corpus)
  def generate(seed: Long): Unit =
    corpus = Gen.corpus(seed, nDocs = 2500, clusterSizes = (0 until 30).map(i => 2 + i % 5),
      keyLen = 24, nVectors = 1000, dim = 32, mixture = 64, nLists = nLists)
  // the cold op takes about five times a settled one; the next ten still get
  // faster while the JIT compiles the driver-side planning and scheduling code
  def warmupOps = 12

  def load(spark: SparkSession): Unit = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    def cached(df: DataFrame) = { val c = df.repartition(parts).cache(); c.count(); c }
    docs = cached(corpus.docs.toSeq.map(d => (d.id, d.text)).toDF("id", "text"))
    keys = cached(corpus.docs.toSeq.map(d => (d.id, d.key)).toDF("id", "key"))
    vectors = cached(corpus.vectors.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec"))
    // the IVF index arrives trained, like a persisted one (SimilarityOps.ivfTrain's schema)
    centroids = cached(corpus.centroids.toSeq.zipWithIndex.map { case (c, i) => (i + 1, c.toSeq) }
      .toDF("centroid_id", "centroid"))
  }

  /** Output pairs inside one planted cluster (see [[Gen.sameCluster]]). */
  private def planted(a: String, b: String) = {
    def cluster(c: String) = floor((col(c) - lit(Gen.PlantBase)) / lit(Gen.ClusterStride))
    Check.countIf("planted", col(a) >= Gen.PlantBase && col(b) >= Gen.PlantBase && cluster(a) === cluster(b))
  }
  private val lshChecks = Seq(Check.rows, planted("id_a", "id_b"), Check.digest(col("id_a"), col("id_b")))
  private val fuzzyChecks = Seq(Check.rows, planted("id1", "id2"),
    Check.countIf("bad_dist", col("dist") < 0 || col("dist") > 2), Check.digest(col("id1"), col("id2"), col("dist")))
  private val knnChecks = Seq(Check.rows, Check.countIf("self", col("qid") === col("vid")),
    Check.countIf("bad_sim", Check.nonFinite(col("sim"))),
    Check.digest(col("qid"), col("vid"), round(col("sim"), 6))) ++ Check.meanOf(lit(1.0) - col("sim"))

  def op(q: QueryRunner): Seq[String] = {
    val want = corpus.plantedPairs
    val a = q.run("minhash", TextOps.minHashLshPairs(docs, "id", "text"), lshChecks)
    val b = q.run("fuzzy", FuzzyJoinOps.fuzzySelfJoin(keys, "id", "key", 2), fuzzyChecks)
    val c = q.run("knn", SimilarityOps.knnGraphWithCentroids(vectors, "id", "vec", k, centroids, nProbe), knnChecks)
    val wantKnn = corpus.vectors.length.toLong * k
    Seq(
      if (Check.long(a, "planted") != want) Some(s"minhash: ${a("planted")} of $want planted pairs found") else None,
      sameDigest("minhash", a),
      if (Check.long(b, "planted") != want) Some(s"fuzzy: ${b("planted")} of $want planted pairs found") else None,
      if (Check.long(b, "bad_dist") != 0) Some(s"fuzzy: ${b("bad_dist")} pairs beyond distance 2") else None,
      sameDigest("fuzzy", b),
      if (Check.long(c, "rows") != wantKnn) Some(s"knn: ${c("rows")} rows, expected $wantKnn (k per vector)") else None,
      if (Check.long(c, "self") != 0) Some(s"knn: ${c("self")} self edges") else None,
      if (Check.long(c, "bad_sim") != 0) Some(s"knn: ${c("bad_sim")} non-finite similarities") else None,
      sameDigest("knn", c), sameError("knn", c)).flatten
  }

  /** Scales the op's mean neighbour distance by the exact one: the mean
    * cosine distance from every vector to its exact k nearest others. */
  override protected def scaleError(meanDistance: Double): Double = {
    val unit = corpus.vectors.map { case (_, v) => val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val exact = unit.indices.map { i =>
      val d = unit.indices.filter(_ != i).map { j =>
        var s = 0.0
        var t = 0
        while (t < unit(i).length) { s += unit(i)(t) * unit(j)(t); t += 1 }
        1.0 - s
      }.sorted
      d.take(k).sum / k
    }
    meanDistance / (exact.sum / exact.length)
  }

  def micro(spark: SparkSession): Map[String, Double] = {
    // replicate the inputs so each projection runs well above job overhead
    def replicated(df: DataFrame) = {
      val r = df.withColumn("_r", explode(sequence(lit(1), lit(8)))).drop("_r").cache()
      (r, r.count().toDouble)
    }
    val (manyDocs, nDocs) = replicated(docs)
    val minhash = Workload.timeNoop(TextOps.minHashSignature(manyDocs, "text", 64))
    manyDocs.unpersist(blocking = true)
    // each key against its reverse: mostly far apart, like unverified candidates
    val (pairKeys, nPairs) = replicated(keys.select(col("key").as("a"), reverse(col("key")).as("b")))
    val B = org.apache.spark.sql.GraftExpressionBridge
    val lev = Workload.timeNoop(pairKeys.select(B.column(graft.functions.BoundedLevenshtein(
      B.expression(col("a")), B.expression(col("b")), 2)).as("d")))
    pairKeys.unpersist(blocking = true)
    val (pairVecs, nVecPairs) = replicated(vectors.select(col("vec").as("a"), reverse(col("vec")).as("b")))
    val cosT = Workload.timeNoop(pairVecs.select(SimilarityOps.cosine(col("a"), col("b")).as("c")))
    pairVecs.unpersist(blocking = true)
    Map("functions.minhash_ns_per_doc" -> minhash * 1e9 / nDocs,
      "functions.levenshtein_ns_per_pair" -> lev * 1e9 / nPairs,
      "functions.cosine_ns_per_pair" -> cosT * 1e9 / nVecPairs)
  }
}
