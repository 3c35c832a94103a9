package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.FuzzyJoinOps

/** Thirty-seventh batch (round 9): the edit-distance fuzzy join.
  *
  * Fixture: 24-char document prefixes plus planted typo copies under the
  * disjoint-slice id offsets (doc_id+1e6 with one leading substitution,
  * doc_id+2e6 with two) — the title/name record-linkage shape. The op
  * runs the positional-q-gram-blocked plan; the oracle is the QUADRATIC
  * scan (length-banded brute force over every pair) — blocking filters
  * are necessary conditions, so the plans must agree pair-for-pair, and
  * the distance is an integer both engines compute identically. */
object SparkEntryV37 extends EntryPart {

  private val D = 2
  private val Prefix = 24

  private def fixture(s: SparkSession, dir: String): DataFrame = {
    val b = table(s, dir, "documents")
      .select(col("doc_id").as("id"), substring(col("text"), 1, Prefix).as("s"))
    b.unionByName(b.filter(col("id") < 40).select(
        (col("id") + lit(1000000L)).as("id"),
        concat(lit("Q"), expr("substring(s, 2, 2147483647)")).as("s")))
      .unionByName(b.filter(col("id") < 20).select(
        (col("id") + lit(2000000L)).as("id"),
        concat(lit("QZ"), expr("substring(s, 3, 2147483647)")).as("s")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "fuzzy_join_pairs" -> ((s, dir) =>
      FuzzyJoinOps.fuzzySelfJoin(fixture(s, dir), "id", "s", D)
        .select(col("id1"), col("id2"), col("dist").cast("long").as("dist")))
  )

  def oracleSql: Map[String, String] = rows(
    "fuzzy_join_pairs" ->
      s"""WITH b AS (SELECT doc_id AS id, substr(text, 1, $Prefix) AS s
         |           FROM documents),
         |aug AS (SELECT id, s FROM b
         |        UNION ALL
         |        SELECT id + 1000000, 'Q' || substr(s, 2) FROM b WHERE id < 40
         |        UNION ALL
         |        SELECT id + 2000000, 'QZ' || substr(s, 3) FROM b WHERE id < 20),
         |f AS (SELECT * FROM aug WHERE s IS NOT NULL AND length(s) > 0),
         |p AS (SELECT a.id AS id1, c.id AS id2, levenshtein(a.s, c.s) AS dist
         |      FROM f a JOIN f c
         |        ON a.id < c.id AND abs(length(a.s) - length(c.s)) <= $D)
         |SELECT id1, id2, dist FROM p WHERE dist <= $D""".stripMargin
  )
}
