package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.{CardinalityOps, FuzzyJoinOps, SampleOps, TextOps}

/** Thirty-ninth batch (round 9): sketch set-algebra and the fuzzy-dedup
  * composition.
  *
  *  - `hll_overlap`: how many (user, day) entities are active in BOTH the
  *    click and the view stream — union from the elementwise-max register
  *    merge (exact at the sketch level), intersection by inclusion-
  *    exclusion, Jaccard from both. The oracle rebuilds each stream's
  *    registers through the mixer, full-outer-joins the bucket tables,
  *    and replays the estimate arithmetic in the same operation order —
  *    the APPROXIMATION itself is hash-gated, not statistical.
  *  - `fuzzy_dedup_canonical`: the record-linkage composition — fuzzy
  *    pairs (V37's typo fixture) fed through the iterative min-label
  *    connected components (`TextOps.dedupClusters`), every linked id
  *    mapped to its component-minimum canonical. The oracle computes the
  *    same components with a recursive reachability CTE over the
  *    brute-force pair set. */
object SparkEntryV39 extends EntryPart {

  private val Seed = 31L
  private val P2 = 8
  private val Bits = 31

  private def entities(s: SparkSession, dir: String, et: String): DataFrame =
    table(s, dir, "events").filter(col("event_type") === et).select(
      (col("user_id") * lit(1000000L) +
        datediff(col("ts").cast("date"), lit("1970-01-01"))).as("ent"))

  private def sketch(s: SparkSession, dir: String, et: String): DataFrame =
    CardinalityOps.hllCountByPrehashed(entities(s, dir, et), Seq.empty,
      SampleOps.hashBucket(col("ent"), Seed), P2, Bits).select("regs")

  /** V37's fuzzy fixture: 24-char prefixes + planted typo copies. */
  private def fuzzyFixture(s: SparkSession, dir: String): DataFrame = {
    val b = table(s, dir, "documents")
      .select(col("doc_id").as("id"), substring(col("text"), 1, 24).as("s"))
    b.unionByName(b.filter(col("id") < 40).select(
        (col("id") + lit(1000000L)).as("id"),
        concat(lit("Q"), expr("substring(s, 2, 2147483647)")).as("s")))
      .unionByName(b.filter(col("id") < 20).select(
        (col("id") + lit(2000000L)).as("id"),
        concat(lit("QZ"), expr("substring(s, 3, 2147483647)")).as("s")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "hll_overlap" -> ((s, dir) =>
      CardinalityOps.overlapEstimate(
          sketch(s, dir, "click"), sketch(s, dir, "view"), Seq.empty, P2, Bits)
        .select(round(col("est_a"), 6).as("est_a"),
          round(col("est_b"), 6).as("est_b"),
          round(col("est_union"), 6).as("est_union"),
          round(col("est_intersection"), 6).as("est_intersection"),
          round(col("jaccard"), 6).as("jaccard"))),
    "fuzzy_dedup_canonical" -> ((s, dir) => {
      val pairs = FuzzyJoinOps.fuzzySelfJoin(fuzzyFixture(s, dir), "id", "s", 2)
        .select(col("id1").as("id_a"), col("id2").as("id_b"))
      TextOps.dedupClusters(pairs)
        .select(col("member_id").as("id"), col("cluster_id").as("canonical_id"))
    })
  )

  /** Per-stream register CTEs under a distinct prefix. */
  private def regCtes(et: String, pfx: String): (String, String) = {
    val (hashCtes, h) = SampleOps.hashBucketSqlCtes(
      s"(SELECT user_id * 1000000 + datediff('day', DATE '1970-01-01', " +
        s"CAST(ts AS TIMESTAMP)::DATE) AS ent FROM events " +
        s"WHERE event_type = '$et')",
      "ent", Seed, prefix = pfx)
    val cte =
      s"""$hashCtes,
         |${pfx}r AS (SELECT CAST($h // 8388608 AS INT) AS bucket,
         |        CASE WHEN $h % 8388608 = 0 THEN 24
         |             ELSE 24 - length(bin(CAST($h % 8388608 AS INT))) END AS rho
         |      FROM ${pfx}3),
         |${pfx}mx AS (SELECT bucket, max(rho) AS mr FROM ${pfx}r GROUP BY 1)""".stripMargin
    (cte, s"${pfx}mx")
  }

  private val OverlapSql: String = {
    val (aCtes, aMx) = regCtes("click", "_a")
    val (bCtes, bMx) = regCtes("view", "_b")
    def agg(src: String, mrExpr: String, name: String) =
      s"""$name AS (SELECT CAST(256 - count(*) AS BIGINT) AS v,
         |         CAST(sum(2 ** (24 - $mrExpr)) + (256 - count(*)) * 16777216.0
         |           AS DOUBLE) AS s
         |        FROM $src)""".stripMargin
    val estA = CardinalityOps.hllEstimateSql("ea.s", "ea.v", P2, Bits)
    val estB = CardinalityOps.hllEstimateSql("eb.s", "eb.v", P2, Bits)
    val estU = CardinalityOps.hllEstimateSql("eu.s", "eu.v", P2, Bits)
    s"""WITH $aCtes,
       |$bCtes,
       |u AS (SELECT coalesce($aMx.bucket, $bMx.bucket) AS bucket,
       |        greatest(coalesce($aMx.mr, 0), coalesce($bMx.mr, 0)) AS mr
       |      FROM $aMx FULL OUTER JOIN $bMx ON $aMx.bucket = $bMx.bucket),
       |${agg(aMx, "mr", "ea")},
       |${agg(bMx, "mr", "eb")},
       |${agg("u", "mr", "eu")},
       |est AS (SELECT $estA AS est_a, $estB AS est_b, $estU AS est_union
       |        FROM ea, eb, eu),
       |fin AS (SELECT est_a, est_b, est_union,
       |          greatest(0.0, est_a + est_b - est_union) AS est_intersection
       |        FROM est)
       |SELECT round(est_a, 6) AS est_a, round(est_b, 6) AS est_b,
       |       round(est_union, 6) AS est_union,
       |       round(est_intersection, 6) AS est_intersection,
       |       round(CASE WHEN est_union > 0
       |                  THEN est_intersection / est_union ELSE 0.0 END, 6)
       |         AS jaccard
       |FROM fin""".stripMargin
  }

  private val FuzzyClustersSql: String =
    s"""WITH RECURSIVE b AS (SELECT doc_id AS id, substr(text, 1, 24) AS s
       |           FROM documents),
       |aug AS (SELECT id, s FROM b
       |        UNION ALL
       |        SELECT id + 1000000, 'Q' || substr(s, 2) FROM b WHERE id < 40
       |        UNION ALL
       |        SELECT id + 2000000, 'QZ' || substr(s, 3) FROM b WHERE id < 20),
       |f AS (SELECT * FROM aug WHERE s IS NOT NULL AND length(s) > 0),
       |p AS (SELECT a.id AS id1, c.id AS id2
       |      FROM f a JOIN f c
       |        ON a.id < c.id AND abs(length(a.s) - length(c.s)) <= 2
       |      WHERE levenshtein(a.s, c.s) <= 2),
       |edges AS (SELECT id1 AS a, id2 AS bb FROM p
       |          UNION SELECT id2, id1 FROM p),
       |reach(id, r) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT reach.id, e.bb FROM reach JOIN edges e ON reach.r = e.a)
       |SELECT id, min(r) AS canonical_id FROM reach GROUP BY id""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "hll_overlap" -> OverlapSql,
    "fuzzy_dedup_canonical" -> FuzzyClustersSql
  )
}
