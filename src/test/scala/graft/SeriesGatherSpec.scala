package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SeriesBuffer, SeriesGather}
import graft.ops.Series

/** Parity of the native series gather (the [[graft.functions.SeriesPack]]
  * packer and the [[SeriesGather]] merge behind `Series.gather`) with the
  * form it replaced,
  * `sort_array(collect_list(struct(t, v, nu)))`, kept here as the executable
  * specification. Element-for-element equality of `_ts/_vs/_nu` on
  * generated groups with duplicate timestamps, null/NaN/±Inf y, single-point
  * and all-null groups, null-ds rows, a null group key, and groups split
  * across many input partitions; plus a 100k-point group, the buffer's
  * serialized form, the map stage's sort fallback and DATE round trips in a
  * non-UTC session.
  * The one tie neither form orders — a +0.0 and a -0.0 at the same
  * timestamp — is compared as a multiset. */
class SeriesGatherSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-series-gather")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The replaced gather, verbatim: the executable specification. */
  private def referenceGather(df: DataFrame, groupCol: String, dsCol: String,
                              yCol: String): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    df.filter(col(dsCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(
        Series.toMicros(col(dsCol), dsType).as("t"),
        coalesce(col(yCol).cast(DoubleType), lit(Double.NaN)).as("v"),
        col(yCol).isNull.as("nu")))).as("_s"))
      .select(col(groupCol), col("_s.t").as("_ts"), col("_s.v").as("_vs"), col("_s.nu").as("_nu"))
  }

  private type Gathered = (Seq[Long], Seq[Double], Seq[Boolean])

  private def snap(df: DataFrame): Map[Any, Gathered] = df.collect().map { r =>
    r.get(0) -> ((r.getSeq[Long](1), r.getSeq[Double](2), r.getSeq[Boolean](3)))
  }.toMap

  /** Element-for-element on (t, nu, v) with canonical NaN bits, except that
    * ±0.0 compare equal position-wise and their signs per (t, nu) are
    * compared as a multiset. Returns a mismatch description, or None. */
  private def diff(a: Map[Any, Gathered], b: Map[Any, Gathered]): Option[String] = {
    def key(v: Double): Long = if (v == 0.0) 0L else java.lang.Double.doubleToLongBits(v)
    def zeroSigns(g: Gathered): Map[(Long, Boolean), Seq[Long]] =
      g._1.indices.filter(i => g._2(i) == 0.0)
        .groupBy(i => (g._1(i), g._3(i)))
        .map { case (k, is) => k -> is.map(i => java.lang.Double.doubleToRawLongBits(g._2(i))).sorted }
    if (a.keySet != b.keySet) return Some(s"groups ${a.keySet} vs ${b.keySet}")
    a.keys.toSeq.flatMap { g =>
      val (x, y) = (a(g), b(g))
      if (x._1 != y._1) Some(s"group $g: t ${x._1} vs ${y._1}")
      else if (x._3 != y._3) Some(s"group $g: nu ${x._3} vs ${y._3}")
      else if (x._2.map(key) != y._2.map(key)) Some(s"group $g: v ${x._2} vs ${y._2}")
      else if (zeroSigns(x) != zeroSigns(y)) Some(s"group $g: signed zeros ${x._2} vs ${y._2}")
      else None
    }.headOption
  }

  private val yGen: Gen[Option[Double]] = Gen.frequency(
    6 -> Gen.choose(-4, 4).map(i => Some(i.toDouble)),
    1 -> Gen.const(None),
    1 -> Gen.const(Some(Double.NaN)),
    1 -> Gen.oneOf(Some(Double.PositiveInfinity), Some(Double.NegativeInfinity)),
    1 -> Gen.oneOf(Some(0.0), Some(-0.0)))

  // a narrow ds range forces duplicate timestamps; ~10% null ds
  private val dsGen: Gen[Option[Int]] =
    Gen.frequency(9 -> Gen.choose(-3, 25).map(Some(_)), 1 -> Gen.const(None))

  // ~10% null group keys: null is a group of its own, as in groupBy
  private val gGen: Gen[Option[Int]] =
    Gen.frequency(9 -> Gen.choose(0, 7).map(Some(_)), 1 -> Gen.const(None))

  // rows come in generated order, so every group arrives out of time order
  private val caseGen = for {
    n <- Gen.choose(0, 250)
    rows <- Gen.listOfN(n, for { g <- gGen; ds <- dsGen; y <- yGen } yield (g, ds, y))
    parts <- Gen.choose(1, 8)
  } yield (rows, parts)

  test("Series.gather equals sort_array(collect_list(struct)) on generated hostile groups") {
    val sp = spark
    import sp.implicits._
    val prop = Prop.forAll(caseGen) { case (rows, parts) =>
      // round-robin input partitions split every group across many of them
      val df = rows.toDF("g", "ds", "y").repartition(parts)
      val d = diff(snap(Series.gather(df, "g", "ds", "y")), snap(referenceGather(df, "g", "ds", "y")))
      d.foreach(m => println(s"[series-gather] $m"))
      d.isEmpty
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(r.passed, s"$r")
  }

  test("single-point, all-null-y and null-ds-only groups match the reference") {
    val sp = spark
    import sp.implicits._
    val df = Seq[(Int, Option[Int], Option[Double])](
      (1, Some(5), Some(2.5)),                            // single point
      (2, Some(1), None), (2, Some(0), None), (2, Some(1), None), // y all null
      (3, None, Some(1.0)), (3, None, None),              // only null-ds rows: no group
      (4, Some(2), Some(1.0)), (4, None, Some(9.0)), (4, Some(1), Some(-0.0))
    ).toDF("g", "ds", "y").repartition(3)
    val got = snap(Series.gather(df, "g", "ds", "y"))
    assert(diff(got, snap(referenceGather(df, "g", "ds", "y"))).isEmpty)
    assert(got.keySet == Set(1, 2, 4))
    assert(got(2)._1 == Seq(0L, 1L, 1L) && got(2)._3 == Seq(true, true, true))
    assert(got(2)._2.forall(_.isNaN))
    assert(got(4)._1 == Seq(1L, 2L))
  }

  test("a 100k-point DATE-keyed group arriving out of order matches the reference") {
    val sp = spark
    import sp.implicits._
    val n = 100000
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((0 until n).toVector).map { i =>
      val y = if (i % 97 == 0) None else Some(math.sin(i * 0.01) * 100 + (i % 5))
      (1L, i % 50000, y) // every date twice
    }
    val df = rows.toDF("g", "d", "y")
      .select(col("g"), date_add(lit("2000-01-01").cast(DateType), col("d")).as("ds"), col("y"))
      .repartition(8)
    val got = snap(Series.gather(df, "g", "ds", "y"))
    assert(got(1L)._1.length == n)
    assert(diff(got, snap(referenceGather(df, "g", "ds", "y"))).isEmpty)
  }

  test("the aggregation buffer survives a serialize/deserialize round trip") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = SeriesGather(Literal(0L), Literal(0.0), Literal(false))
    val rnd = new scala.util.Random(11)
    for (n <- Seq(0, 1, 7, 8, 9, 64, 1001)) {
      val b = agg.createAggregationBuffer()
      (0 until n).foreach { i =>
        b.append(rnd.nextLong(), if (i % 3 == 0) Double.NaN else rnd.nextGaussian(), rnd.nextBoolean())
      }
      val back: SeriesBuffer = agg.deserialize(agg.serialize(b))
      assert(back.size == n)
      assert(back.ts.take(n).sameElements(b.ts.take(n)), s"n=$n ts")
      assert(back.vs.take(n).map(java.lang.Double.doubleToRawLongBits)
        .sameElements(b.vs.take(n).map(java.lang.Double.doubleToRawLongBits)), s"n=$n vs")
      assert(back.nu.take(n).sameElements(b.nu.take(n)), s"n=$n nu")
      // a deserialized buffer keeps growing
      back.append(1L, 1.0, true)
      assert(back.size == n + 1 && back.nu(n))
    }
  }

  test("the output arrays are non-null, and a wrongly typed input fails analysis") {
    val sp = spark
    import sp.implicits._
    val df = Seq((1, 1, Some(1.0))).toDF("g", "ds", "y")
    Series.gather(df, "g", "ds", "y").schema.fields.drop(1).foreach { f =>
      assert(!f.nullable && !f.dataType.asInstanceOf[ArrayType].containsNull, s"$f")
    }
    val B = org.apache.spark.sql.GraftExpressionBridge
    val bad = B.column(SeriesGather(B.expression(col("ds")), B.expression(col("y")),
      B.expression(col("y").isNull)).toAggregateExpression())
    val e = intercept[org.apache.spark.sql.AnalysisException](df.groupBy("g").agg(bad).schema)
    assert(e.getMessage.contains("series_gather"), e.getMessage)
  }

  test("the gather's map stage never falls back to a sort, past 128 series per input partition") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val sp = spark
    import sp.implicits._
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 1,000 series of 6 points, round-robined over 2 input partitions:
      // every input partition holds all 1,000 series, far past the object
      // hash aggregate's 128-key sort fallback
      val df = (0 until 6000).map(i => (i % 1000, i / 1000, (i % 13).toDouble))
        .toDF("g", "ds", "y").repartition(2)
      val gathered = Series.gather(df, "g", "ds", "y")
      // collect runs this plan; count() would plan and run another
      assert(gathered.collect().length == 1000)
      val plan = gathered.queryExecution.executedPlan
      // the map stage of the group-key exchange: everything under it down
      // to the input exchange
      def stage(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: Exchange => Nil
        case other => other +: other.children.flatMap(stage)
      }
      val keyExchange = plan.collect {
        case s: ShuffleExchangeExec if (s.outputPartitioning match {
          case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq("g")
          case _ => false
        }) => s
      }
      assert(keyExchange.length == 1, s"one exchange keyed on g:\n$plan")
      val fellBack = stage(keyExchange.head.child).collect { case a: BaseAggregateExec =>
        a.nodeName -> a.metrics.get("numTasksFallBacked").map(_.value).getOrElse(0L)
      }
      assert(fellBack.forall(_._2 == 0L),
        s"map-side aggregates fell back to a sort: $fellBack\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("DATE ds round-trips through a forecast and a gap-fill across a DST change, in any session zone") {
    val sp = spark
    import sp.implicits._
    val zone = spark.conf.get("spark.sql.session.timeZone")
    // New York leaves daylight time on 2024-11-03: a local midnight plus 24
    // hours is 23:00 of the same day from then on
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val start = java.time.LocalDate.of(2024, 10, 6)
      val days = (0 until 35).map(start.plusDays(_)) // to 2024-11-09
      // the forecast's history ends 2024-11-01, so its horizon crosses the change
      val df = days.take(27).zipWithIndex
        .map { case (d, i) => ("a", java.sql.Date.valueOf(d), (i % 7).toDouble) }
        .toDF("g", "ds", "y")
      val back = Series.gather(df, "g", "ds", "y")
        .select(explode(col("_ts")).as("t"))
        .select(Series.fromMicros(col("t"), DateType).as("ds"))
        .as[java.sql.Date].collect().map(_.toLocalDate).toSeq
      assert(back == days.take(27), s"gathered ds: $back")
      val fc = graft.ops.TsForecastOp.forecastBy(df, "g", "ds", "y", "SeasonalNaive", 14, "1d",
        Map("seasonal_period" -> "7"))
        .orderBy("forecast_step").select(col("ds")).as[java.sql.Date].collect().map(_.toLocalDate).toSeq
      assert(fc == (1 to 14).map(k => days(26).plusDays(k)), s"forecast ds: $fc")
      // a gap from 2024-11-01 to 2024-11-06 across the change
      val gappy = days.filter(d => d.isBefore(java.time.LocalDate.of(2024, 11, 2)) ||
        d.isAfter(java.time.LocalDate.of(2024, 11, 5)))
      val filled = graft.ops.TsPrep.fillGapsBy(
        gappy.map(d => ("a", java.sql.Date.valueOf(d), 1.0)).toDF("g", "ds", "y"), "g", "ds", "y", "1d")
        .select(col("ds")).as[java.sql.Date].collect().map(_.toLocalDate).sorted.toSeq
      assert(filled == days, s"gap-filled ds: $filled")
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("the single-series forecast gathers through the same aggregate") {
    val sp = spark
    import sp.implicits._
    val df = (0 until 40).map(i => (i, if (i == 7) None else Some((i % 7).toDouble))).reverse
      .toDF("ds", "y").repartition(4)
    val out = graft.ops.TsForecastOp.forecastSingle(df, "ds", "y", "SeasonalNaive", 7,
      Map("seasonal_period" -> "7")).collect()
    assert(out.length == 1)
    assert(out(0).getSeq[Double](0) == (40 until 47).map(i => (i % 7).toDouble))
  }
}

/** The packer's flush path: in a session whose execution memory is a few
  * MB, a task's packer is refused a grant, emits what it holds and starts
  * again, so one series crosses the exchange as several packed records; the
  * gather still equals the reference form. */
class SeriesPackFlushSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // about 5 MB of unified memory in total
      .config("spark.testing.memory", (8L << 20).toString)
      .config("spark.testing.reservedMemory", "0")
      .appName("graft-series-pack-flush")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a refused grant flushes the packer; the gather is unchanged") {
    // 300 series x 2,000 points in ONE input partition: ~10 MB of buffers
    val df = spark.range(0, 600000, 1, 1)
      .select((col("id") % 300).as("g"), (col("id") / 300).cast(IntegerType).as("ds"),
        when(col("id") % 101 === 0, lit(null)).otherwise((col("id") % 17).cast(DoubleType)).as("y"))
    val packed = Series.pack(df, Seq("g"), "ds", "y").groupBy("g").count()
    val perKey = packed.agg(min(col("count")), max(col("count"))).head()
    assert(packed.count() == 300)
    assert(perKey.getLong(1) > 1L, s"no flush: one packed record per series ($perKey)")
    val got = Series.gather(df, "g", "ds", "y")
      .select(col("g"), col("_ts"), col("_vs"), col("_nu"))
    // each series has one point per ds, so time order is ds order
    val want = (0L until 300L).map { g =>
      val ids = (0L until 2000L).map(k => g + 300 * k)
      (g, ids.map(_ / 300), ids.map(id => if (id % 101 == 0) Double.NaN else (id % 17).toDouble)
        .map(java.lang.Double.doubleToLongBits), ids.map(_ % 101 == 0))
    }
    val bits = got.collect().map { r =>
      (r.getLong(0), r.getSeq[Long](1), r.getSeq[Double](2).map(java.lang.Double.doubleToLongBits),
        r.getSeq[Boolean](3))
    }.sortBy(_._1).toSeq
    assert(bits == want)
  }
}
