package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.{MixOps, SampleOps, SimilarityOps, TextOps}

/** Sixteenth batch: semantic curation + corpus assembly — SemDeDup-style
  * embedding dedup, the kNN graph, CCNet-style boilerplate line removal,
  * the global token histogram, and deterministic token-budget mixing.
  *
  * SemDeDup rows use a ZERO-ITERATION centroid table (the k-means seeds:
  * the first nLists vectors by id), so the cluster assignment — argmax
  * cosine over a literal 8-row centroid set — is exactly replayable in the
  * oracle SQL; near-duplicates are planted as identical copies (cos = 1.0)
  * of the first 25 vectors, 0.9999 floor like dedup_embedding. The kNN
  * graph probes exhaustively (nProbe = nLists), which is brute force by
  * construction regardless of training, so the oracle is the pairwise
  * ranking with self excluded. Boilerplate/token/mix oracles replay the
  * full pipeline in SQL (line counts, token histogram, hash-priority
  * prefix sums) rather than asserting the plant. */
object SparkEntryV16 extends EntryPart {

  private val NLists = 8
  private val MixSeed = 11L
  private val GlobalSeed = 13L
  private val MixBudgets = Map("src0" -> 3000L, "src1" -> 4500L,
    "src2" -> 100000L, "src3" -> 2000L)

  /** Embeddings plus identical copies of the first 25 vectors (ids offset
    * by 1e6) — the planted semantic duplicates. */
  private def augEmb(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    emb.unionByName(emb.filter(col("vec_id") < 25)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("embedding")))
  }

  /** Zero-iteration centroids = the first NLists vectors by id: exactly
    * what ivfTrain(iters = 0) seeds with, and exactly replayable in SQL. */
  private def seedCentroids(s: SparkSession, dir: String, aug: DataFrame): DataFrame =
    SimilarityOps.ivfTrain(aug, "vec_id", "embedding", NLists, iters = 0)

  /** Documents with planted boilerplate lines: a nav header and footer on
    * every document, one promo line in 21 docs (> maxDocs → stripped) and
    * one in exactly 10 docs (= maxDocs → kept). */
  private def augDocs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").withColumn("text_aug",
      concat(lit("NAV MENU\n"), col("text"),
        when(col("doc_id") < 21, lit("\nPROMO ALPHA"))
          .when(col("doc_id") >= 21 && col("doc_id") < 31, lit("\nPROMO BETA"))
          .otherwise(lit("")),
        lit("\nCOPYRIGHT 2026 EXAMPLE CORP")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "semdedup_pairs" -> ((s, dir) => {
      val aug = augEmb(s, dir)
      SimilarityOps.semDedupPairs(aug, "vec_id", "embedding",
          seedCentroids(s, dir, aug), minSim = 0.9999)
        .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
    }),
    "semdedup_keep" -> ((s, dir) => {
      val aug = augEmb(s, dir)
      SimilarityOps.semDedupWithCentroids(aug, "vec_id", "embedding",
          seedCentroids(s, dir, aug), minSim = 0.9999)
        .select(col("vec_id"))
    }),
    "knn_graph" -> ((s, dir) =>
      // exhaustive probing (nProbe = nLists) is brute force by construction
      SimilarityOps.knnGraph(table(s, dir, "embeddings"), "vec_id", "embedding",
          k = 5, nLists = NLists, nProbe = NLists)
        .select(col("qid"), col("vid"), round(col("sim"), 6).as("sim"))),
    "boilerplate_strip" -> ((s, dir) =>
      TextOps.removeBoilerplateLines(augDocs(s, dir), "doc_id", "text_aug",
          maxDocs = 10)
        .select(col("doc_id"), col("text_clean"),
          col("text_clean_lines_removed").as("lines_removed"))),
    "top_tokens" -> ((s, dir) =>
      TextOps.topTokens(table(s, dir, "documents"), "text", k = 50)),
    "mix_token_budget" -> ((s, dir) =>
      MixOps.selectPerDomainBudget(table(s, dir, "documents"), "doc_id", "source",
          "n_chars", MixBudgets, MixSeed)
        .select(col("doc_id"), col("source"), col("n_chars"))),
    "select_token_budget" -> ((s, dir) =>
      MixOps.selectToTokenBudget(table(s, dir, "documents"), "doc_id", "n_chars",
          budget = 50000L, seed = GlobalSeed)
        .select(col("doc_id"), col("source"), col("n_chars"))),
  )

  /** Full SQL replay of the zero-iteration assignment + intra-cluster pair
    * generation: seed centroids, argmax cosine per vector (ties → larger
    * centroid id, matching ivfAssign's struct max), same-cluster pairs with
    * id_a < id_b above the floor. */
  private val SemDedupPairsSql =
    s"""WITH aug AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id < 25),
       |c AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS cv
       |      FROM (SELECT * FROM aug ORDER BY vec_id LIMIT $NLists)),
       |sc AS (SELECT a.vec_id AS vid, a.v, c.cid,
       |              list_cosine_similarity(a.v, c.cv) AS csim
       |       FROM aug a, c),
       |asg AS (SELECT vid, v, cid FROM (
       |  SELECT vid, v, cid,
       |         row_number() OVER (PARTITION BY vid ORDER BY csim DESC, cid DESC) AS rk
       |  FROM sc WHERE NOT isnan(csim)) WHERE rk = 1),
       |pairs AS (
       |  SELECT x.vid AS id_a, y.vid AS id_b,
       |         list_cosine_similarity(x.v, y.v) AS sim
       |  FROM asg x JOIN asg y ON x.cid = y.cid AND x.vid < y.vid)
       |""".stripMargin

  /** Full SQL replay of removeBoilerplateLines over the planted documents:
    * count distinct docs per trimmed non-blank line, rebuild keeping blank
    * lines and lines in ≤ 10 docs. */
  private val BoilerplateSql =
    """WITH aug AS (
      |  SELECT doc_id,
      |    'NAV MENU' || chr(10) || text ||
      |    CASE WHEN doc_id < 21 THEN chr(10) || 'PROMO ALPHA'
      |         WHEN doc_id >= 21 AND doc_id < 31 THEN chr(10) || 'PROMO BETA'
      |         ELSE '' END ||
      |    chr(10) || 'COPYRIGHT 2026 EXAMPLE CORP' AS t
      |  FROM documents),
      |arrs AS (SELECT doc_id, string_split(t, chr(10)) AS arr FROM aug),
      |ex AS (SELECT doc_id, trim(unnest(arr)) AS tl FROM arrs),
      |counts AS (SELECT tl, count(DISTINCT doc_id) AS docs
      |           FROM ex WHERE tl <> '' GROUP BY tl),
      |boiler AS (SELECT coalesce(list(tl), []) AS bl FROM counts WHERE docs > 10)
      |SELECT doc_id,
      |  array_to_string(list_filter(arr,
      |    l -> trim(l) = '' OR NOT list_contains(bl, trim(l))), chr(10)) AS text_clean,
      |  CAST(len(arr) - len(list_filter(arr,
      |    l -> trim(l) = '' OR NOT list_contains(bl, trim(l)))) AS BIGINT) AS lines_removed
      |FROM arrs, boiler""".stripMargin

  /** Hash-priority prefix-sum selection replayed as a window cumsum — the
    * semantics MixOps computes without the corpus-sized window. */
  private def mixBudgetSql: String = {
    val values = MixBudgets.toSeq.sortBy(_._1)
      .map { case (k, v) => s"('$k', $v)" }.mkString(", ")
    val (ctes, bucket) = SampleOps.hashBucketSqlCtes("joined", "doc_id", MixSeed)
    s"""WITH budgets(source, _budget) AS (VALUES $values),
       |joined AS (
       |  SELECT d.doc_id, d.source, d.n_chars, b._budget
       |  FROM documents d JOIN budgets b USING (source)
       |  WHERE d.n_chars > 0),
       |$ctes,
       |cum AS (SELECT *, sum(n_chars) OVER (
       |          PARTITION BY source ORDER BY $bucket, doc_id
       |          ROWS UNBOUNDED PRECEDING) AS _cum
       |        FROM _h3)
       |SELECT doc_id, source, n_chars FROM cum WHERE _cum <= _budget""".stripMargin
  }

  def oracleSql: Map[String, String] = rows(
    "semdedup_pairs" -> (SemDedupPairsSql +
      """SELECT id_a, id_b, round(sim, 4) AS sim FROM pairs WHERE sim >= 0.9999""".stripMargin),
    "semdedup_keep" -> (SemDedupPairsSql +
      """SELECT vec_id FROM aug
        |WHERE vec_id NOT IN (SELECT DISTINCT id_b FROM pairs WHERE sim >= 0.9999)""".stripMargin),
    "knn_graph" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS vid,
        |         list_cosine_similarity(q.v, c.v) AS sim
        |  FROM e q JOIN e c ON q.vec_id <> c.vec_id),
        |r AS (SELECT qid, vid, sim,
        |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rk
        |      FROM pairs WHERE NOT isnan(sim))
        |SELECT qid, vid, round(sim, 6) AS sim FROM r WHERE rk <= 5""".stripMargin,
    "boilerplate_strip" -> BoilerplateSql,
    "top_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '[ \t\n\r\f]+'), t -> len(t) > 0)) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token)
        |SELECT token, cnt,
        |       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rank
        |FROM c ORDER BY cnt DESC, token LIMIT 50""".stripMargin,
    "mix_token_budget" -> mixBudgetSql,
    "select_token_budget" -> {
      val (ctes, bucket) = SampleOps.hashBucketSqlCtes(
        "(SELECT doc_id, source, n_chars FROM documents WHERE n_chars > 0)",
        "doc_id", GlobalSeed)
      s"""WITH $ctes,
         |cum AS (SELECT *, sum(n_chars) OVER (
         |          ORDER BY $bucket, doc_id ROWS UNBOUNDED PRECEDING) AS _cum
         |        FROM _h3)
         |SELECT doc_id, source, n_chars FROM cum WHERE _cum <= 50000""".stripMargin
    },
  )
}
