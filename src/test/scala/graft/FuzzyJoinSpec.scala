package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.FuzzyJoinOps

/** Fuzzy-join evidence: the q-gram-blocked plan must emit EXACTLY the
  * pairs a quadratic scan finds — the Gravano count/position/length
  * filters are necessary conditions, so blocking may only shrink the
  * candidate set, never the answer. Checked over adversarial fixtures:
  * lengths straddling the short-pool boundary, repeated-gram strings,
  * exact ties, multi-byte characters, and both q values. */
class FuzzyJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("graft-fuzzy-join")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def lev(a: String, b: String): Int = {
    val (n, m) = (a.length, b.length)
    val dp = Array.tabulate(n + 1)(i => i)
    for (j <- 1 to m) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to n) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(n)
  }

  private def brute(rows: Seq[(Long, String)], d: Int): Set[(Long, Long, Int)] =
    (for {
      (i1, s1) <- rows; (i2, s2) <- rows
      if i1 < i2 && s1.nonEmpty && s2.nonEmpty
      dist = lev(s1, s2) if dist <= d
    } yield (i1, i2, dist)).toSet

  private def run(rows: Seq[(Long, String)], d: Int, q: Int): Set[(Long, Long, Int)] = {
    val sp = spark; import sp.implicits._
    FuzzyJoinOps.fuzzySelfJoin(rows.toDF("id", "s"), "id", "s", d, q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  /** Deterministic pseudo-random word soup over a tiny alphabet so near
    * pairs are common; lengths 1..14 straddle the short-pool boundary. */
  private def soup(n: Int, seedBase: Int): Seq[(Long, String)] =
    (0 until n).map { i =>
      var x = i * 2654435761L + seedBase
      def nx(): Int = { x = x * 6364136223846793005L + 1442695040888963407L; ((x >>> 33) % 1000).toInt }
      val len = 1 + nx() % 14
      val s = (0 until len).map(_ => ('a' + nx() % 4).toChar).mkString
      (i.toLong, s)
    }

  test("self-join equals the quadratic scan across d and q (incl. short pool)") {
    val rows = soup(120, 7)
    for (d <- Seq(0, 1, 2); q <- Seq(2, 3)) {
      assert(run(rows, d, q) == brute(rows, d), s"d=$d q=$q")
    }
  }

  test("planted typo families come back exactly; empty and null strings never pair") {
    val base = Seq(
      (1L, "the quick brown fox"), (2L, "the quack brown fox"),
      (3L, "the quick brown fax!"), (4L, "a completely different one"),
      (5L, ""), (6L, "the quick brown fox"))
    for (d <- Seq(1, 2)) {
      assert(run(base, d, 3) == brute(base, d), s"d=$d")
    }
    // dist 0 duplicate pair present at d=1
    assert(run(base, 1, 3).contains((1L, 6L, 0)))
  }

  test("multi-byte characters count as single edits (char semantics, not bytes)") {
    val rows = Seq((1L, "héllo wörld"), (2L, "hállo wörld"), (3L, "héllo wörld!"))
    assert(run(rows, 1, 3) == brute(rows, 1))
  }

  test("repeated-gram strings (aaaa…) do not break the count filter") {
    val rows = Seq((1L, "aaaaaaaaaa"), (2L, "aaaaaaaaab"), (3L, "aaaaabaaaa"),
      (4L, "aaaa"), (5L, "aaab"), (6L, "bbbbbbbbbb"))
    for (d <- Seq(1, 2)) assert(run(rows, d, 3) == brute(rows, d), s"d=$d")
  }

  test("hot grams: a shared boilerplate prefix ranks last, and all-hot strings still pair") {
    // every string but the last few starts with the same 12-char template,
    // so its grams sit on nearly every row (the highest document
    // frequencies) and fall out of each prefix; the all-template strings
    // consist of nothing but hot grams
    val tails = soup(90, 11).map { case (i, t) => (i, "order-12345-" + t) }
    val hot = Seq((1000L, "order-12345-"), (1001L, "order-12345"), (1002L, "order-1234-"),
      (1003L, "order-12345-order-12345-"), (1004L, "order-12345-order-12345"))
    val rows = tails ++ hot
    for (d <- Seq(1, 2); q <- Seq(2, 3)) {
      assert(run(rows, d, q) == brute(rows, d), s"d=$d q=$q")
    }
  }

  test("two-table fuzzyJoin matches the cross brute force") {
    val sp = spark; import sp.implicits._
    val l = Seq((10L, "alpha beta"), (11L, "gamma delta"), (12L, "zzz"))
    val r = Seq((20L, "alpha bexa"), (21L, "gamma delta"), (22L, "zz"))
    val got = FuzzyJoinOps.fuzzyJoin(l.toDF("lid", "s"), r.toDF("rid", "t"),
        "lid", "s", "rid", "t", 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val want = (for {
      (i1, s1) <- l; (i2, s2) <- r
      dist = lev(s1, s2) if dist <= 1
    } yield (i1, i2, dist)).toSet
    assert(got == want)
  }
}
