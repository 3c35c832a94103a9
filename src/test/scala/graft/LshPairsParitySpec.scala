package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextOps

/** Pair-set equality of the single-aggregation LSH candidate generator
  * ([[graft.functions.BoundedIdSet]] route) against the histogram +
  * cap-join + self-join executable specification it replaced — including
  * the cap semantics (an over-cap bucket contributes NOTHING, it is not
  * truncated to its first cap members) and singleton buckets. */
class LshPairsParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-lsh-pairs-parity")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("aggregate route == join route on a mixed corpus (dups, near-dups, uniques)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(17)
    def prose(tag: String) =
      (1 to 25).map(i => s"$tag word${rnd.nextInt(30)} number $i").mkString(" ")
    val uniques = (0L until 60L).map(i => (i, prose(s"u$i")))
    val base = prose("shared")
    val dupClique = (100L until 106L).map(i => (i, base))          // 6-way exact dups
    val nearDups = (200L until 204L).map(i => (i, base + s" tail$i"))
    val docs = (uniques ++ dupClique ++ nearDups).toDF("doc_id", "text")
    for (bands <- Seq(16, 32); cap <- Seq(1000, 8)) {
      val fast = pairsOf(TextOps.minHashLshPairs(docs, "doc_id", "text",
        bands = bands, maxBucketSize = cap))
      val ref = pairsOf(TextOps.minHashLshPairsJoin(docs, "doc_id", "text",
        bands = bands, maxBucketSize = cap))
      assert(fast == ref, s"bands=$bands cap=$cap")
      if (cap >= 15) assert(fast.nonEmpty, "the dup clique must produce candidates")
    }
  }

  test("randomized: aggregate route == join route across seeds and caps") {
    val sp = spark
    import sp.implicits._
    for (seed <- Seq(23, 47)) {
      val rnd = new scala.util.Random(seed)
      // clustered corpus: ~15 text templates shared by 80 docs → buckets of
      // varied sizes straddling the small caps below
      val docs = (0L until 80L).map { i =>
        val t = rnd.nextInt(15)
        (i, (1 to 20).map(j => s"tpl$t tok${(t * 31 + j) % 50} w$j").mkString(" "))
      }.toDF("doc_id", "text")
      for (cap <- Seq(3, 6, 1000)) {
        val fast = pairsOf(TextOps.minHashLshPairs(docs, "doc_id", "text",
          maxBucketSize = cap))
        val ref = pairsOf(TextOps.minHashLshPairsJoin(docs, "doc_id", "text",
          maxBucketSize = cap))
        assert(fast == ref, s"seed=$seed cap=$cap")
      }
    }
  }

  test("over-cap buckets contribute nothing (not a truncated prefix)") {
    val sp = spark
    import sp.implicits._
    // 12 exact duplicates: every band has one 12-member bucket. cap = 10
    // must suppress ALL their pairs — a first-10 truncation would leak 45.
    val boiler = (1 to 30).map(i => s"boilerplate token$i shared").mkString(" ")
    val docs = (0L until 12L).map(i => (i, boiler))
      .toDF("doc_id", "text")
    val fast = pairsOf(TextOps.minHashLshPairs(docs, "doc_id", "text",
      maxBucketSize = 10))
    val ref = pairsOf(TextOps.minHashLshPairsJoin(docs, "doc_id", "text",
      maxBucketSize = 10))
    assert(fast == ref)
    assert(fast.isEmpty, s"over-cap bucket must be skipped entirely, got $fast")
    // at a permissive cap the full clique appears, ordered id_a < id_b
    val open = pairsOf(TextOps.minHashLshPairs(docs, "doc_id", "text",
      maxBucketSize = 100))
    assert(open == (for (a <- 0L until 12L; b <- a + 1 until 12L) yield (a, b)).toSet)
    // partition invariance of the aggregation route
    val repart = pairsOf(TextOps.minHashLshPairs(docs.repartition(7), "doc_id", "text",
      maxBucketSize = 100))
    assert(repart == open)
  }
}
