package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.{SampleOps, SimilarityOps, TextOps}

/** Thirty-third batch (round 9): the training-SET construction ops —
  * leakage-safe splitting, hard-negative mining, and cluster-balanced
  * subsampling.
  *
  *  - `split_leakage_safe` runs on the dedup_clusters planted-triple
  *    fixture: every doc_id < 15 exists in three copies, so the oracle
  *    can recover the near-dup components as shingle-set-equality groups
  *    (jaccard 1.0 ⟺ equal sets, transitively closed) and replay the
  *    split draw on each group's minimum id via the shared mixer CTEs —
  *    copies NEVER straddle the train/eval boundary, singletons draw on
  *    their own id.
  *  - `mine_hard_negatives` is the ann_topk oracle with two exclusions
  *    (self + the planted positive labels (q, q+1)), both applied BEFORE
  *    the rank window — the semantics the op guarantees.
  *  - `cluster_balanced_sample` replays zero-iteration IVF assignment
  *    (the semdedup asg CTE) feeding the temperature-rate pipeline (the
  *    sample_temperature CTEs) keyed on centroid_id instead of a
  *    metadata stratum. */
object SparkEntryV33 extends EntryPart {

  private val NLists = 8
  private val SplitSeed = 23L
  private val SampleSeed = 29L

  /** The planted-triple corpus shared with dedup_clusters (V13). */
  private def tripled(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val aug = docs.filter(col("doc_id") < 15)
    docs
      .unionByName(aug.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      .unionByName(aug.select((col("doc_id") + lit(2000000L)).as("doc_id"), col("text")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "split_leakage_safe" -> ((s, dir) => {
      val docs = tripled(s, dir)
      val pairs = TextOps.jaccardVerify(
        TextOps.minHashLshPairs(docs, "doc_id", "text"),
        docs, "doc_id", "text", 5, threshold = 1.0)
      SampleOps.assignSplitLeakageSafe(docs, "doc_id", pairs,
          Seq("train" -> 0.9, "eval" -> 0.1), SplitSeed)
        .select(col("doc_id"), col("split"))
    }),
    "mine_hard_negatives" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val positives = queries.select(col("vec_id").as("qid"),
        (col("vec_id") + lit(1L)).as("vid"))
      SimilarityOps.mineHardNegatives(emb, queries, positives,
          "vec_id", "embedding", k = 10)
        .select(col("qid"), col("vid"), round(col("sim"), 6).as("sim"))
    }),
    "cluster_balanced_sample" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cents = SimilarityOps.ivfTrain(emb, "vec_id", "embedding",
        NLists, iters = 0)
      SimilarityOps.clusterBalancedSample(emb, "vec_id", "embedding",
          cents, targetTotal = 150, tau = 2.0, seed = SampleSeed)
        .select(col("vec_id"), col("centroid_id"))
    })
  )

  /** Shingle-set components + per-component split key + mixer replay. */
  private val SplitLeakageSql: String = {
    val (hashCtes, bucket) = SampleOps.hashBucketSqlCtes("g", "key", SplitSeed)
    val trainThresh = SampleOps.rateThreshold(0.9)
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 15
       |  UNION ALL
       |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 15),
       |sh AS (
       |  SELECT doc_id, list_sort(list_distinct(list_transform(
       |    range(1, greatest(length(n) - 3, 1)), i -> n[i:i+4]))) AS ss
       |  FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS n FROM aug)),
       |g AS (SELECT doc_id,
       |        CASE WHEN len(ss) > 0 AND count(*) OVER (PARTITION BY ss) > 1
       |             THEN min(doc_id) OVER (PARTITION BY ss)
       |             ELSE doc_id END AS key
       |      FROM sh),
       |$hashCtes
       |SELECT doc_id,
       |  CASE WHEN $bucket < $trainThresh THEN 'train' ELSE 'eval' END AS split
       |FROM _h3""".stripMargin
  }

  /** ann_topk's rank replay with self + labeled positives excluded before
    * the window. */
  private val HardNegativesSql =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |pos AS (SELECT vec_id AS qid, vec_id + 1 AS vid
      |        FROM embeddings WHERE vec_id < 5),
      |pairs AS (
      |  SELECT q.qid, e.vec_id AS vid,
      |         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS sim
      |  FROM q, embeddings e
      |  WHERE e.vec_id <> q.qid),
      |f AS (SELECT p.* FROM pairs p
      |      WHERE NOT EXISTS (SELECT 1 FROM pos
      |                        WHERE pos.qid = p.qid AND pos.vid = p.vid)),
      |r AS (SELECT qid, vid, sim,
      |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rk
      |      FROM f WHERE NOT isnan(sim))
      |SELECT qid, vid, round(sim, 6) AS sim FROM r WHERE rk <= 10""".stripMargin

  /** Zero-iteration IVF assignment (semdedup asg replay) + temperature
    * rates over centroid_id + the mixer keep filter. */
  private val ClusterBalancedSql: String = {
    val (hashCtes, bucket) = SampleOps.hashBucketSqlCtes("base", "vec_id", SampleSeed)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS cv
       |      FROM (SELECT * FROM e ORDER BY vec_id LIMIT $NLists)),
       |sc AS (SELECT a.vec_id AS vid, a.v, c.cid,
       |              list_cosine_similarity(a.v, c.cv) AS csim
       |       FROM e a, c),
       |asg AS (SELECT vid, cid FROM (
       |  SELECT vid, cid,
       |         row_number() OVER (PARTITION BY vid ORDER BY csim DESC, cid DESC) AS rk
       |  FROM sc WHERE NOT isnan(csim)) WHERE rk = 1),
       |base AS (SELECT e.vec_id, coalesce(asg.cid, 0) AS centroid_id
       |         FROM e LEFT JOIN asg ON e.vec_id = asg.vid),
       |wts AS (SELECT centroid_id AS st, count(*) AS ns,
       |               round(sqrt(count(*)), 6) AS w
       |        FROM base GROUP BY 1),
       |tot AS (SELECT CAST(sum(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS s FROM wts),
       |rts AS (SELECT st,
       |          CAST(floor(least(1.0, 150.0 * w / s / ns) * 2147483647.0) AS BIGINT)
       |            AS thresh
       |        FROM wts, tot),
       |$hashCtes
       |SELECT vec_id, CAST(centroid_id AS INTEGER) AS centroid_id
       |FROM _h3 JOIN rts ON _h3.centroid_id = rts.st
       |WHERE $bucket < thresh""".stripMargin
  }

  def oracleSql: Map[String, String] = rows(
    "split_leakage_safe" -> SplitLeakageSql,
    "mine_hard_negatives" -> HardNegativesSql,
    "cluster_balanced_sample" -> ClusterBalancedSql
  )
}
