package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Direct edge-case specs for the native ANN kernels (TopKByScore,
  * ChunkTopK, SortedArrayContains, SortedArrayAnyInRange). IvfSpec/CurationOpsSpec pin end-to-end
  * equivalence with brute force; these pin the selection semantics the
  * oracles depend on — (sim desc, vid asc) ties, null/NaN skipping, k
  * boundaries, cross-partition merge — at the expression level, so a
  * regression fails with a readable diff instead of a hash mismatch. */
class NativeTopKSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("graft-native-topk")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def B = org.apache.spark.sql.GraftExpressionBridge

  test("TopKByScore: ties break by vid ascending, exactly k survive, merge-safe") {
    val sp = spark
    import sp.implicits._
    // 40 rows over 8 partitions: sims with deliberate ties; one group
    val rows = (0L until 40L).map(i => (1, i, (i % 5).toDouble))
    val df = rows.toDF("g", "vid", "sim").repartition(8)
    val topkCol = B.column(graft.functions.TopKByScore(
      B.expression(col("vid")), B.expression(col("sim")), 7).toAggregateExpression())
    val out = df.groupBy(col("g")).agg(topkCol.as("_top"))
      .select(explode(col("_top")).as("_t"))
      .select(col("_t.vid"), col("_t.sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // expected: all sims==4.0 first (vids 4,9,14,19,24,29,34,39 — take 7 by
    // vid asc within the tie)
    val expected = Seq(4L, 9L, 14L, 19L, 24L, 29L, 34L).map(v => (v, 4.0))
    assert(out == expected, s"got $out")
  }

  test("TopKByScore: null inputs are skipped, under-full groups return all") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      (1, Some(10L), Some(0.5)), (1, None, Some(0.9)), (1, Some(11L), None),
      (1, Some(12L), Some(0.7))).toDF("g", "vid", "sim")
    val topkCol = B.column(graft.functions.TopKByScore(
      B.expression(col("vid")), B.expression(col("sim")), 5).toAggregateExpression())
    val out = df.groupBy(col("g")).agg(topkCol.as("_top"))
      .select(explode(col("_top")).as("_t")).select(col("_t.vid"))
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(12L, 10L), s"null vid/sim rows must be skipped, got $out")
  }

  test("ChunkTopK: scores a packed chunk like per-pair cosine, skips self/NaN/null") {
    val sp = spark
    import sp.implicits._
    val q = Seq((7L, Seq(1.0, 0.0))).toDF("qid", "qv")
    val packed = Seq((
      Seq(1L, 2L, 3L, 7L, 4L),
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(1.0, 1.0))
    )).toDF("ids", "vecs")
      .withColumn("norms", transform(col("vecs"), v =>
        sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))))
    val df = q.crossJoin(packed)
      .withColumn("flat", flatten(col("vecs")))
      .withColumn("lens", transform(col("vecs"), v => size(v)))
    def chunk(excludeSelf: Boolean) = B.column(graft.functions.ChunkTopK(
      B.expression(col("qid")), B.expression(col("qv")), B.expression(col("ids")),
      B.expression(col("norms")), B.expression(col("flat")), B.expression(col("lens")),
      3, excludeSelf))
    val withSelf = df.select(explode(chunk(excludeSelf = false)).as("_t"))
      .select(col("_t.vid"), round(col("_t.sim"), 9).as("sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // vid 3 is zero-norm → NaN → skipped; top-3 of {1:1.0, 7:1.0, 4:0.707, 2:0.0}
    assert(withSelf == Seq((1L, 1.0), (7L, 1.0), (4L, 0.707106781)), s"got $withSelf")
    val noSelf = df.select(explode(chunk(excludeSelf = true)).as("_t"))
      .select(col("_t.vid")).collect().map(_.getLong(0)).toSeq
    assert(noSelf == Seq(1L, 4L, 2L), s"self (qid=7) must be excluded, got $noSelf")
  }

  test("ChunkTopK: a ragged (wrong-dim) vector is skipped and later candidates stay aligned") {
    val sp = spark
    import sp.implicits._
    val q = Seq((7L, Seq(1.0, 0.0))).toDF("qid", "qv")
    // candidate 2 has dim 3 (≠ query dim 2): must be skipped, and candidate
    // 4's components must still be read from ITS OWN flat offset
    val packed = Seq((
      Seq(1L, 2L, 4L),
      Seq(Seq(1.0, 0.0), Seq(9.0, 9.0, 9.0), Seq(1.0, 1.0))
    )).toDF("ids", "vecs")
      .withColumn("norms", transform(col("vecs"), v =>
        sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))))
    val df = q.crossJoin(packed)
      .withColumn("flat", flatten(col("vecs")))
      .withColumn("lens", transform(col("vecs"), v => size(v)))
    val chunk = B.column(graft.functions.ChunkTopK(
      B.expression(col("qid")), B.expression(col("qv")), B.expression(col("ids")),
      B.expression(col("norms")), B.expression(col("flat")), B.expression(col("lens")),
      3, false))
    val out = df.select(explode(chunk).as("_t"))
      .select(col("_t.vid"), round(col("_t.sim"), 9).as("sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == Seq((1L, 1.0), (4L, 0.707106781)), s"got $out")
  }

  test("SortedArrayContains: binary search agrees with array_contains") {
    val sp = spark
    import sp.implicits._
    val vals = Seq(-100L, -3L, 0L, 7L, 7L, 42L, 9999L)
    val probes = (-101L to 10000L by 37L) ++ vals
    val df = probes.toDF("x")
      .withColumn("arr", lit(vals.sorted.toArray))
    val sc = B.column(graft.functions.SortedArrayContains(
      B.expression(col("arr")), B.expression(col("x"))))
    val mismatches = df
      .withColumn("bin", sc)
      .withColumn("lin", array_contains(col("arr"), col("x")))
      .filter(col("bin") =!= col("lin"))
      .count()
    assert(mismatches == 0)
  }

  // small element range so probes hit values next to null slots (a null
  // read as 0 would "contain" 0)
  private val sortedProbeGen = for {
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, for {
      arr <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.frequency(
        3 -> Gen.choose(-5L, 5L).map(java.lang.Long.valueOf),
        1 -> Gen.const(null: java.lang.Long))))
      x <- Gen.choose(-6L, 6L)
      w <- Gen.choose(0L, 3L)
    } yield (arr, x, x + w))
  } yield rows

  test("sorted-array probes skip null elements: agree with exists(e IS NOT NULL AND pred)") {
    val sp = spark
    import sp.implicits._
    val prop = Prop.forAll(sortedProbeGen) { rows =>
      // ascending sort_array puts the nulls first; the array type is
      // containsNull = true, so the probes take their null-skipping path
      val df = rows.toDF("raw", "x", "hi").repartition(2)
        .withColumn("arr", sort_array(col("raw")))
      val contains = B.column(graft.functions.SortedArrayContains(
        B.expression(col("arr")), B.expression(col("x"))))
      val inRange = B.column(graft.functions.SortedArrayAnyInRange(
        B.expression(col("arr")), B.expression(col("x")), B.expression(col("hi"))))
      // a def: each mode must plan afresh (a DataFrame caches its physical plan)
      def probed = df.select(col("raw"), col("x"), col("hi"),
        contains.as("c"), exists(col("arr"), e => e.isNotNull && e === col("x")).as("c_ref"),
        inRange.as("r"), exists(col("arr"), e => e.isNotNull && e >= col("x") &&
          e <= col("hi")).as("r_ref"))
        .filter(!(col("c") <=> col("c_ref")) || !(col("r") <=> col("r_ref")))
      // both evaluation paths: generated code, then the interpreted nullSafeEval
      Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").forall { case (mode, ws) =>
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        spark.conf.set("spark.sql.codegen.wholeStage", ws)
        try {
          val bad = probed.collect()
          bad.take(3).foreach(r => println(s"[sorted-array-nulls] $mode: $r"))
          bad.isEmpty
        } finally {
          spark.conf.unset("spark.sql.codegen.factoryMode")
          spark.conf.unset("spark.sql.codegen.wholeStage")
        }
      }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(r.passed, s"$r")
  }
}
