package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SeriesBuffer, SeriesMerge}
import graft.ops.Series

object SeriesGatherSpec {
  /** One generated row: a value for every key kind, then ds and three
    * value lanes. */
  final case class GenRow(gi: Option[Int], gd: Option[Double], gf: Option[Float],
                          gs: Option[String], ds: Option[Int], y: Option[Double],
                          y2: Option[Double], y3: Option[Double])
}

/** Parity of the native series gather (the [[graft.functions.SeriesPack]]
  * packer and the [[SeriesMerge]] streaming merge behind `Series.gather`)
  * with the form it replaced,
  * `sort_array(collect_list(struct(t, v_1..v_w, nu)))` under `groupBy`,
  * kept here as the executable specification. Element-for-element equality
  * of `_ts/_vs/_nu`, with one and with three value lanes, on generated
  * groups with duplicate timestamps,
  * null/NaN/±Inf y, single-point and all-null groups, null-ds rows, and
  * groups split across many input partitions, keyed by nullable int,
  * double, float, string and two-column keys (the float keys with 0.0,
  * -0.0 and NaNs of several payloads, which `groupBy` puts in one group per
  * value); plus a 100k-point group, one series spread over 64 input
  * partitions, the keyless gather of an empty input, the packed record's
  * byte form, the sort fallback in every stage and DATE round trips in a
  * non-UTC session. The one tie neither form orders — a +0.0 and a -0.0 at
  * the same timestamp and equal other lanes — is compared as a multiset. */
class SeriesGatherSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SeriesGatherSpec.GenRow

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

  /** The replaced gather: the executable specification. The value lanes
    * are `yCols`, `_vs` holds them element by element. */
  private def referenceGather(df: DataFrame, keys: Seq[String], dsCol: String,
                              yCols: String*): DataFrame = {
    val dsType = df.schema(dsCol).dataType
    val lanes = yCols.indices.map(j => s"v$j")
    df.filter(col(dsCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct((Series.toMicros(col(dsCol), dsType).as("t") +:
        yCols.zip(lanes).map { case (y, v) =>
          coalesce(col(y).cast(DoubleType), lit(Double.NaN)).as(v)
        }) :+ col(yCols.head).isNull.as("nu"): _*))).as("_s"))
      .select(keys.map(col) ++ Seq(col("_s.t").as("_ts"),
        flatten(transform(col("_s"), e => array(lanes.map(e.getField): _*))).as("_vs"),
        col("_s.nu").as("_nu")): _*)
  }

  /** `Series.gather` on one key and one lane, `Series.gatherBy` otherwise. */
  private def gathered(df: DataFrame, keys: Seq[String], yCols: String*): DataFrame =
    if (keys.length == 1 && yCols == Seq("y")) Series.gather(df, keys.head, "ds", "y")
    else Series.gatherBy(df, keys, Series.micros(df, "ds"), yCols.map(col)).select(keys.map(col) ++ Seq(
      col("_s.t").as("_ts"), col("_s.v").as("_vs"), col("_s.nu").as("_nu")): _*)

  private type Gathered = (Seq[Long], Seq[Double], Seq[Boolean])

  /** A key value as its bits, so that groups differing only in the sign of
    * a zero or the payload of a NaN stay apart. */
  private def keyBits(v: Any): Any = v match {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case f: Float => ("float", java.lang.Float.floatToRawIntBits(f))
    case other => other
  }

  /** Rows by the bits of their `nKeys` leading key columns; a key emitted
    * twice fails. */
  private def snap(df: DataFrame, nKeys: Int = 1): Map[Any, Gathered] = {
    val rows = df.collect().toSeq.map { r =>
      val k = (0 until nKeys).map(i => keyBits(r.get(i)))
      (if (nKeys == 1) k.head else k) ->
        ((r.getSeq[Long](nKeys), r.getSeq[Double](nKeys + 1), r.getSeq[Boolean](nKeys + 2)))
    }
    val m = rows.toMap
    assert(m.size == rows.size, s"a group was emitted more than once: ${rows.map(_._1)}")
    m
  }

  /** Element-for-element on (t, nu, v) with canonical NaN bits, except that
    * ±0.0 compare equal position-wise and the signs of the `w`-lane records
    * that tie on (t, nu, lanes with ±0.0 equal) are compared as a multiset.
    * Returns a mismatch description, or None. */
  private def diff(a: Map[Any, Gathered], b: Map[Any, Gathered], w: Int = 1): Option[String] = {
    def key(v: Double): Long = if (v == 0.0) 0L else java.lang.Double.doubleToLongBits(v)
    def zeroSigns(g: Gathered): Map[Any, Seq[String]] = {
      val recs = g._2.grouped(w).toIndexedSeq
      g._1.indices.filter(i => recs(i).contains(0.0))
        .groupBy(i => (g._1(i), g._3(i), recs(i).map(key)))
        .map { case (k, is) =>
          k -> is.map(i => recs(i).map(java.lang.Double.doubleToRawLongBits).mkString(",")).sorted
        }
    }
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
  private def nullable[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(9 -> g.map(Some(_)), 1 -> Gen.const(None))

  // signed zeros and NaNs of several payloads: one group each per groupBy
  private val doubleKeys = Seq(0.0, -0.0, Double.NaN,
    java.lang.Double.longBitsToDouble(0x7ff8000000000123L),
    java.lang.Double.longBitsToDouble(0xfff0000000000001L), 1.5, -2.0)
  private val floatKeys = Seq(0.0f, -0.0f, Float.NaN,
    java.lang.Float.intBitsToFloat(0x7fc00123), java.lang.Float.intBitsToFloat(0xff800001), 1.5f)

  private val rowGen: Gen[GenRow] = for {
    gi <- nullable(Gen.choose(0, 7))
    gd <- nullable(Gen.oneOf(doubleKeys))
    gf <- nullable(Gen.oneOf(floatKeys))
    gs <- nullable(Gen.oneOf("a", "b", "", "ä", "a key longer than one word"))
    ds <- dsGen
    y <- yGen
    y2 <- yGen
    y3 <- yGen
  } yield GenRow(gi, gd, gf, gs, ds, y, y2, y3)

  /** The key columns of each generated case. */
  private val keyKinds = Seq(Seq("gi"), Seq("gd"), Seq("gf"), Seq("gs"), Seq("gi", "gs"))

  // rows come in generated order, so every group arrives out of time order
  private val caseGen = for {
    n <- Gen.choose(0, 250)
    rows <- Gen.listOfN(n, rowGen)
    parts <- Gen.choose(1, 8)
    keys <- Gen.oneOf(keyKinds)
  } yield (rows, parts, keys)

  test("Series.gather equals sort_array(collect_list(struct)) on generated hostile groups") {
    val sp = spark
    import sp.implicits._
    for ((lanes, cases) <- Seq(Seq("y") -> 50, Seq("y", "y2", "y3") -> 30)) {
      val prop = Prop.forAll(caseGen) { case (rows, parts, keys) =>
        // round-robin input partitions split every group across many of them
        val df = rows.toDF().select((keys ++ ("ds" +: lanes)).map(col): _*).repartition(parts)
        val d = diff(snap(gathered(df, keys, lanes: _*), keys.length),
          snap(referenceGather(df, keys, "ds", lanes: _*), keys.length), lanes.length)
        d.foreach(m => println(s"[series-gather] $keys $lanes: $m"))
        d.isEmpty
      }
      val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
      assert(r.passed, s"$lanes: $r")
    }
  }

  test("float keys group as groupBy does: -0.0 is 0.0 and every NaN is one NaN") {
    val sp = spark
    import sp.implicits._
    val df = doubleKeys.take(4).zipWithIndex.map { case (k, i) => (k, i, i.toDouble) }
      .toDF("g", "ds", "y").repartition(4)
    val got = snap(Series.gather(df, "g", "ds", "y"))
    assert(got.keySet == Set(keyBits(0.0), keyBits(Double.NaN)), s"${got.keySet}")
    assert(diff(got, snap(referenceGather(df, Seq("g"), "ds", "y"))).isEmpty)
    assert(got(keyBits(0.0))._1 == Seq(0L, 1L) && got(keyBits(Double.NaN))._1 == Seq(2L, 3L))
  }

  test("one series spread over 64 input partitions matches the reference") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(5)
    val rows = rnd.shuffle((0 until 3000).toVector).map { i =>
      (if (i % 10 == 0) "b" else "a", i % 1200, if (i % 31 == 0) None else Some((i % 17) - 8.0))
    }
    val df = rows.toDF("g", "ds", "y").repartition(64)
    val got = snap(Series.gather(df, "g", "ds", "y"))
    assert(got("a")._1.length == 2700 && got("b")._1.length == 300)
    assert(diff(got, snap(referenceGather(df, Seq("g"), "ds", "y"))).isEmpty)
  }

  test("the keyless gather of an empty input is one empty series, as the aggregate gave") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.Row
    val local = Seq.empty[(Int, Option[Double])].toDF("ds", "y")
    val noPartitions = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], local.schema)
    val filtered = Seq((1, Some(1.0))).toDF("ds", "y").filter(col("ds") > 5)
    for ((name, df) <- Seq("local" -> local, "no partitions" -> noPartitions, "filtered" -> filtered)) {
      val got = Series.gatherBy(df, Nil, Series.micros(df, "ds"), Seq(col("y"))).collect()
      assert(got.length == 1, s"$name: ${got.toSeq}")
      val s = got(0).getStruct(0)
      assert(s.getSeq[Long](0).isEmpty && s.getSeq[Double](1).isEmpty && s.getSeq[Boolean](2).isEmpty,
        s"$name: $s")
      // the aggregate it replaced: one row of empty arrays
      val ref = df.agg(sort_array(collect_list(struct(col("ds").cast(LongType).as("t"),
        col("y").as("v"), col("y").isNull.as("nu")))).as("_s")).collect()
      assert(ref.length == 1 && ref(0).getSeq[Row](0).isEmpty)
    }
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
    assert(diff(got, snap(referenceGather(df, Seq("g"), "ds", "y"))).isEmpty)
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
    assert(diff(got, snap(referenceGather(df, Seq("g"), "ds", "y"))).isEmpty)
  }

  test("a packed record survives the pack/merge byte round trip") {
    val rnd = new scala.util.Random(11)
    def raw(vs: Seq[Double]) = vs.map(java.lang.Double.doubleToRawLongBits)
    for (w <- Seq(1, 3); n <- Seq(0, 1, 7, 8, 9, 64, 1001)) {
      val elems = (0 until n).map { i =>
        (rnd.nextLong(), Array.fill(w)(if (i % 3 == 0) java.lang.Double.longBitsToDouble(
          0x7ff8000000000000L | rnd.nextInt(1000)) else rnd.nextGaussian()), rnd.nextBoolean())
      }
      val b = SeriesBuffer.empty(w)
      elems.foreach { case (t, v, nu) => b.append(t, v, nu) }
      val p = b.toPacked
      // n, t[n], v[n * w] and the nu bits in the platform's byte order: for
      // one lane, the record's form before value lanes existed
      val want = java.nio.ByteBuffer.allocate(4 + 8 * n * (1 + w) + (n + 7) / 8)
        .order(java.nio.ByteOrder.nativeOrder()).putInt(n)
      elems.foreach(e => want.putLong(e._1))
      elems.foreach(e => e._2.foreach(want.putDouble))
      elems.grouped(8).foreach(g => want.put(g.zipWithIndex.map { case (e, i) =>
        if (e._3) 1 << i else 0 }.sum.toByte))
      assert(p.sameElements(want.array()), s"w=$w n=$n: packed bytes")
      if (n > 0) assert(SeriesBuffer.widthOf(p) == w, s"w=$w n=$n: width")
      // appended after an element already held, as the merge appends a
      // series' second record
      val back = SeriesBuffer.empty(w)
      back.append(-1L, Array.fill(w)(-0.0), true)
      back.appendPacked(p)
      assert(back.size == n + 1)
      assert(back.ts.take(n + 1).sameElements(-1L +: b.ts.take(n)), s"w=$w n=$n ts")
      assert(raw(back.vs.take((n + 1) * w).toSeq) == raw(Seq.fill(w)(-0.0) ++ b.vs.take(n * w)),
        s"w=$w n=$n vs")
      assert(back.nu.take(n + 1).sameElements(true +: b.nu.take(n)), s"w=$w n=$n nu")
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
    val bad = B.column(SeriesMerge(Seq(B.expression(col("g")), B.expression(col("y")))))
    val e = intercept[org.apache.spark.sql.AnalysisException](df.select(bad).schema)
    assert(e.getMessage.contains("series_merge"), e.getMessage)
  }

  test("no stage of the gather falls back to a sort, past 128 series per task") {
    import org.apache.spark.sql.execution.{GenerateExec, SortExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val sp = spark
    import sp.implicits._
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // 1,000 series of 6 points, round-robined over 2 input partitions:
      // every input partition, and each of the 4 reduce partitions, holds
      // far more series than an object hash aggregate's 128-key threshold
      val df = (0 until 6000).map(i => (i % 1000, i / 1000, (i % 13).toDouble))
        .toDF("g", "ds", "y").repartition(2)
      val gathered = Series.gather(df, "g", "ds", "y")
      // collect runs this plan; count() would plan and run another
      assert(gathered.collect().length == 1000)
      val plan = gathered.queryExecution.executedPlan
      val fellBack = plan.collect { case a: BaseAggregateExec =>
        a.nodeName -> a.metrics.get("numTasksFallBacked").map(_.value).getOrElse(0L)
      }
      assert(fellBack.forall(_._2 == 0L), s"aggregates fell back to a sort: $fellBack\n$plan")
      assert(plan.collect { case g: GenerateExec if g.generator.isInstanceOf[SeriesMerge] => g }
        .length == 1 && plan.collect { case s: SortExec => s }.length == 1,
        s"the series meet in one sort and one merge:\n$plan")
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

  test("the single-series forecast gathers through the same merge") {
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

/** Memory pressure: in a session whose execution memory is a few MB, a
  * task's packer is refused a grant, emits what it holds and starts again,
  * so one series crosses the exchange as several packed records; and the
  * sort under the merge spills. The gather is the same either way. */
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

  // 300 series x 2,000 points in ONE input partition: ~10 MB of buffers
  private def input: DataFrame = spark.range(0, 600000, 1, 1)
    .select((col("id") % 300).as("g"), (col("id") / 300).cast(IntegerType).as("ds"),
      when(col("id") % 101 === 0, lit(null)).otherwise((col("id") % 17).cast(DoubleType)).as("y"))

  /** Each series has one point per ds, so time order is ds order. */
  private val want = (0L until 300L).map { g =>
    val ids = (0L until 2000L).map(k => g + 300 * k)
    (g, ids.map(_ / 300), ids.map(id => if (id % 101 == 0) Double.NaN else (id % 17).toDouble)
      .map(java.lang.Double.doubleToLongBits), ids.map(_ % 101 == 0))
  }

  private def bits(gathered: DataFrame) = gathered.collect().map { r =>
    (r.getLong(0), r.getSeq[Long](1), r.getSeq[Double](2).map(java.lang.Double.doubleToLongBits),
      r.getSeq[Boolean](3))
  }.sortBy(_._1).toSeq

  test("a refused grant flushes the packer; the gather is unchanged") {
    val df = input
    val packed = Series.pack(df, Seq("g"), Series.micros(df, "ds"), Seq(col("y"))).groupBy("g").count()
    val perKey = packed.agg(min(col("count")), max(col("count"))).head()
    assert(packed.count() == 300)
    assert(perKey.getLong(1) > 1L, s"no flush: one packed record per series ($perKey)")
    assert(bits(Series.gather(df, "g", "ds", "y")) == want)
  }

  test("the merge's sort spills under memory pressure; the gather is unchanged") {
    import org.apache.spark.sql.execution.SortExec
    val conf = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      .map(k => k -> spark.conf.get(k))
    // one reduce task takes every packed record: far more than its memory
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      val gathered = Series.gather(input, "g", "ds", "y")
      assert(bits(gathered) == want)
      val spilled = gathered.queryExecution.executedPlan.collect { case s: SortExec =>
        s.metrics("spillSize").value
      }
      assert(spilled.length == 1 && spilled.head > 0L, s"the sort did not spill: $spilled")
    } finally conf.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
