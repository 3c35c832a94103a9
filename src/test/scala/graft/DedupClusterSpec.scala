package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.TextOps

/** Connected-component duplicate clustering: min-label propagation with
  * pointer jumping over the near-dup pair graph. */
class DedupClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-dedup-cluster")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a pair chain resolves to one component; disjoint components stay apart") {
    val sp = spark
    import sp.implicits._
    // chain 1-2-3-4-5 (diameter 4, exercises pointer jumping) + clique 10-11-12
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("id_a", "id_b")
    val clusters = TextOps.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(clusters(_) == 1L), s"chain collapses to min id, got $clusters")
    assert((10L to 12L).forall(clusters(_) == 10L))
    assert(clusters.size == 8, "only nodes that appear in pairs are labeled")
  }

  test("keepCanonical retains cluster minima and untouched rows") {
    val sp = spark
    import sp.implicits._
    val df = (1L to 8L).map(i => (i, s"doc$i")).toDF("id", "text")
    val pairs = Seq((2L, 5L), (5L, 7L)).toDF("id_a", "id_b")
    val kept = TextOps.dedupKeepCanonical(df, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L, 6L, 8L), s"5 and 7 fold into canonical 2, got $kept")
  }
}
