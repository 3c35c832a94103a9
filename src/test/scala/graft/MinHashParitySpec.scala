package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextOps

/** Bit-parity of the native [[graft.functions.MinHashSignature]] codegen
  * expression against the original UDF (the executable specification):
  * every signature value must be IDENTICAL — the banded LSH tables, the
  * persisted dedup indexes, and every existing dedup oracle row depend on
  * the exact numbers. */
class MinHashParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-minhash-parity")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Adversarial fixture: every normalization and windowing branch. */
  private def fixture = {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val long = (1 to 200).map(i => s"w${rnd.nextInt(50)}x$i").mkString(" ")
    Seq[(Long, String)](
      (1L, "The quick brown Fox jumps over the lazy dog"),
      (2L, ""),                               // empty → empty signature
      (3L, " \t\n\r\f  "),                    // all whitespace → 1 char → empty
      (4L, "abcd"),                           // shorter than the 5-shingle
      (5L, "abcde"),                          // exactly one shingle
      (6L, "a  b\t\tc\nd\r\ne  f"),     // every \s kind, runs collapse
      (7L, "AAAAA aaaaa AaAaA"),              // case folding → heavy repeats
      (8L, "héllo wörld héllo wörld naïve"),  // multi-byte chars
      (9L, "日本語のテキストです 日本語"),        // CJK
      (10L, "emoji 😀 pair 😀 text"), // astral plane
      (11L, "spam spam spam spam spam spam"), // duplicate shingles
      (12L, long),                            // long mixed text
      (13L, "  leading and trailing   ")      // boundary runs
    ).toDF("id", "text")
  }

  private def collectSigs(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap

  test("native signature is bit-identical to the UDF on adversarial texts") {
    for ((k, n) <- Seq((64, 5), (16, 3), (128, 9), (1, 5))) {
      val native = collectSigs(
        TextOps.minHashSignature(fixture, "text", k, n).select("id", "minhash"))
      val udf = collectSigs(
        TextOps.minHashSignatureUdf(fixture, "text", k, n).select("id", "minhash"))
      assert(native == udf, s"numHashes=$k shingleSize=$n")
    }
  }

  test("null text yields the empty signature (matches the UDF's null guard)") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, Option("hello world text here")), (2L, Option.empty[String]))
      .toDF("id", "text")
    val native = collectSigs(
      TextOps.minHashSignature(docs, "text").select("id", "minhash"))
    val udf = collectSigs(
      TextOps.minHashSignatureUdf(docs, "text").select("id", "minhash"))
    assert(native == udf)
    assert(native(2L).isEmpty)
  }

  test("native shingle-hash set is bit-identical to the UDF composition, including order") {
    val B = org.apache.spark.sql.GraftExpressionBridge
    for (n <- Seq(3, 5, 9)) {
      val native = fixture.select(col("id"),
          B.column(graft.functions.ShingleHashSet(
            B.expression(coalesce(col("text"), lit(""))), n)).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      val ref = fixture.collect().map { r =>
        r.getLong(0) -> graft.llm.TextOps.shingleHashSet(r.getString(1), n).toList
      }.toMap
      assert(native == ref, s"shingleSize=$n")
    }
  }

  test("native word grams equal the declarative split/transform/slice/join composition") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val B = org.apache.spark.sql.GraftExpressionBridge
    val docs = Seq[(Long, String)](
      (1L, "a b c d e f g"),
      (2L, "one two"),                         // shorter than most n
      (3L, ""),
      (4L, "\tleading tab here now ok"),       // trim spares the tab → leading empty token
      (5L, "trailing tab here now ok\t"),      // trailing empty token
      (6L, "  spaces   collapse \t mid  runs now  "),
      (7L, "ü é 日本 語 x y z"),
      (8L, "dup dup dup dup dup dup")          // distinct-mode collapses
    ).toDF("id", "text")
    for (n <- Seq(2, 5); dist <- Seq(false, true)) {
      // the declarative form the native expression replaced (verbatim)
      val toks = split(trim(col("text")), "[ \\t\\n\\r\\f]+")
      val windows = when(size(col("_toks")) >= n, transform(
        sequence(lit(1), size(col("_toks")) - (n - 1)),
        i => array_join(slice(col("_toks"), i, lit(n)), " ")))
        .otherwise(array().cast(ArrayType(StringType)))
      val declared = docs.withColumn("_toks", toks)
        .select(col("id"),
          (if (dist) array_distinct(windows) else windows).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      val native = docs.select(col("id"),
          B.column(graft.functions.WordGrams(
            B.expression(col("text")), n, dist)).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      assert(native == declared, s"n=$n distinct=$dist")
    }
    // dropEmpty mode ≡ the filtered tokenization (the span-dedup substrate)
    for (n <- Seq(2, 5)) {
      val toksF = filter(split(trim(col("text")), "[ \\t\\n\\r\\f]+"),
        t => length(t) > 0)
      val declared = docs.withColumn("_toks", toksF)
        .select(col("id"), when(size(col("_toks")) >= n, transform(
          sequence(lit(1), size(col("_toks")) - (n - 1)),
          i => array_join(slice(col("_toks"), i, lit(n)), " ")))
          .otherwise(array().cast(ArrayType(StringType))).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      val native = docs.select(col("id"),
          B.column(graft.functions.WordGrams(
            B.expression(col("text")), n, distinct = false, dropEmpty = true)).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      assert(native == declared, s"dropEmpty n=$n")
    }
  }

  test("hash-set jaccardVerify: value parity with the compiled hash substrate, " +
      "set-equality parity with the string-shingle specification") {
    val sp = spark
    import sp.implicits._
    // all candidate pairs over the adversarial fixture plus exact duplicates
    // (threshold 0 keeps every defined value, so the whole similarity range
    // is compared, not just the ≥0.8 survivors)
    val docs = fixture.unionByName(
      fixture.filter(col("id") <= 4L)
        .select((col("id") + 100L).as("id"), col("text")))
    for (n <- Seq(3, 5)) {
      // candidate pairs from LSH always share a band bucket, so both sides
      // have ≥1 shingle — restrict the all-pairs probe the same way (an
      // empty∩empty pair is 0/0, an ANSI error in both forms)
      val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val sets = texts.map { case (id, txt) =>
        id -> TextOps.shingleHashSet(txt, n).toSet }
      val ids = sets.filter(_._2.nonEmpty).keys.toSeq.sorted
      val pairs = (for (a <- ids; b <- ids if a < b) yield (a, b))
        .toSeq.toDF("id_a", "id_b")
      val fast = TextOps.jaccardVerify(pairs, docs, "id", "text", n, 0.0)
        .select("id_a", "id_b", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // exact value parity with the driver-side 64-bit hash-set Jaccard (the
      // same substrate dedupAgainstIndex verifies on)
      val expect = (for (a <- ids; b <- ids if a < b) yield {
        val inter = (sets(a) & sets(b)).size.toDouble
        (a, b) -> inter / (sets(a) | sets(b)).size
      }).toMap
      assert(fast == expect, s"shingleSize=$n")
      // the planted duplicates must verify at exactly 1.0
      assert(fast.filter { case ((a, b), _) => b == a + 100L }.values.forall(_ == 1.0))
      // SET-EQUALITY parity with the string-shingle executable specification:
      // every driver oracle row verifies at threshold 1.0, where the two
      // window conventions coincide (the legacy string form enumerates one
      // window fewer per document, so raw values differ at the margin, but
      // jaccard == 1.0 ⟺ identical text sets ⟺ identical hash sets)
      val fastEq = fast.filter(_._2 == 1.0).keySet
      val strEq = TextOps.jaccardVerifyStrings(pairs, docs, "id", "text", n, 1.0)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fastEq == strEq, s"shingleSize=$n set-equality relation")
    }
  }

  test("HashIntersectCount equals size(array_intersect) on adversarial long sets") {
    val sp = spark
    import sp.implicits._
    val B = org.apache.spark.sql.GraftExpressionBridge
    import org.apache.spark.sql.functions.{array_intersect, size => asize}
    val rnd = new scala.util.Random(5)
    val big = (1 to 700).map(_ => rnd.nextLong()).distinct
    val cases = Seq[(Seq[Long], Seq[Long])](
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq(0L, 5L), Seq(0L, 6L)),          // 0 is the table's empty marker
      (Seq(0L), Seq(1L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L), Seq.empty[Long]),
      (Seq(Long.MinValue, Long.MaxValue, -1L), Seq(-1L, Long.MinValue)),
      (big, big.take(123) ++ Seq(999999999999L)), // asymmetric sizes
      (big.take(50), big)                          // small side first
    )
    // parquet round trip so the expression sees real scan-backed ArrayData
    val dir = java.nio.file.Files.createTempDirectory("graft-hic").toString
    cases.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val native = df.select(col("id"), B.column(graft.functions.HashIntersectCount(
        B.expression(col("a")), B.expression(col("b")))).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ref = df.select(col("id"),
        asize(array_intersect(col("a"), col("b"))).cast("long").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(native == ref, s"native $native vs array_intersect $ref")
    // randomized sweep: distinct random sets with controlled overlap
    val rnd2 = new scala.util.Random(29)
    val rndCases = (0 until 40).map { i =>
      val pool = (1 to 400).map(_ => rnd2.nextLong()).distinct
      val na = 1 + rnd2.nextInt(pool.length - 1)
      val aSet = rnd2.shuffle(pool).take(na)
      val bSet = rnd2.shuffle(pool).take(1 + rnd2.nextInt(pool.length - 1))
      (i + 1000, aSet, bSet)
    }
    val rdir = java.nio.file.Files.createTempDirectory("graft-hic-rnd").toString
    rndCases.toDF("id", "a", "b").write.mode("overwrite").parquet(rdir)
    val rdf = spark.read.parquet(rdir)
    val rn = rdf.select(col("id"), B.column(graft.functions.HashIntersectCount(
        B.expression(col("a")), B.expression(col("b")))).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rr = rdf.select(col("id"),
        asize(array_intersect(col("a"), col("b"))).cast("long").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rn == rr)
  }

  /** The UDF form [[TextOps.simHash]] replaced: its executable
    * specification. */
  private def simHashUdf(df: org.apache.spark.sql.DataFrame, textCol: String,
                         shingleSize: Int = 5): org.apache.spark.sql.DataFrame = {
    val simUdf = udf((text: String) => {
      val hs = TextOps.shingleHashSet(if (text == null) "" else text, shingleSize)
      val counts = new Array[Int](64)
      var j = 0
      while (j < hs.length) {
        var b = 0
        while (b < 64) {
          if (((hs(j) >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        j += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
      sig
    })
    df.withColumn("simhash", simUdf(col(textCol)))
  }

  test("native simhash is bit-identical to the UDF") {
    val native = TextOps.simHash(fixture, "text")
      .select("id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val udf = simHashUdf(fixture, "text")
      .select("id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == udf)
  }

  test("banded buckets partition documents exactly as the signature slices do") {
    // add exact duplicates so same-slice collisions actually occur
    val docs = fixture.unionByName(
      fixture.filter(col("id") <= 3L)
        .select((col("id") + 100L).as("id"), col("text")))
    val buckets = TextOps.bandedTable(docs, "id", "text", 64, 16, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val slices = TextOps.minHashSignatureUdf(docs, "text", 64, 5)
      .filter(size(col("minhash")) > 0)
      .select("id", "minhash")
      .collect().flatMap { r =>
        val sig = r.getSeq[Long](1)
        (0 until 16).map(b => (r.getLong(0), b) -> sig.slice(b * 4, b * 4 + 4))
      }.toMap
    // same (id, band) coverage (docs without shingles drop out of both)
    assert(buckets.keySet == slices.keySet)
    // bucket equality ⟺ slice equality, per band (the LSH contract: equal
    // slices MUST collide — exact-dup completeness — and unequal slices
    // must not, up to 64-bit hash collisions this fixture cannot produce)
    for (band <- 0 until 16) {
      val ids = buckets.keySet.filter(_._2 == band).toSeq.map(_._1).sorted
      for (a <- ids; b <- ids if a < b) {
        val same = slices((a, band)) == slices((b, band))
        assert((buckets((a, band)) == buckets((b, band))) == same,
          s"band $band: docs $a/$b bucket-collision ≠ slice equality")
      }
    }
  }
}
