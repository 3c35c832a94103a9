package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.llm.{DsirOps, MixOps, RetrievalOps, SampleOps}

/** Twenty-first batch: target-aware data selection and lexical retrieval —
  * DSIR importance resampling (Xie et al. 2023), BM25 top-k retrieval
  * (Robertson & Zaragoza 2009; Lucene idf variant), and UniMax budget
  * allocation across languages (Chung et al. 2022). Every oracle replays
  * the full computation in SQL: the rolling-hash n-gram featurization, the
  * smoothed log-ratio model, the Gumbel top-k draw, the BM25 formula, and
  * the waterfilling closed form. */
object SparkEntryV21 extends EntryPart {

  private val P = 2147483647L
  private val NB = 4096          // DSIR feature buckets
  private val NoiseSeed = 11L
  private val Alpha = 0.5
  private val SelK = 100
  private val BmK = 10
  private val UniBudget = 20000L
  private val UniEpochs = 0.5
  private val UniSeed = 9L

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // target = every 10th doc (a "curated exemplar set" drawn from the same
    // distribution); raw = the full corpus
    "dsir_weights" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      DsirOps.dsirWeights(docs, docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", numBuckets = NB, seed = DsirSeed, alpha = Alpha)
        .select(col("doc_id"), col("n_feats"),
          (round(col("logw"), 6) + lit(0.0)).as("logw"))
    }),
    "dsir_select" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      DsirOps.dsirSelect(docs, docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = SelK, numBuckets = NB, seed = DsirSeed,
        alpha = Alpha, noiseSeed = NoiseSeed)
    }),
    // queries = every 100th doc retrieved against the full corpus
    "bm25_topk" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      RetrievalOps.bm25TopK(docs, "doc_id", "text",
        docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("qid"), col("text")),
        "qid", "text", k = BmK)
    }),
    // the disk round trip of bm25_topk: postings/dfreq/stats written once
    // (term-bucket partitioned), queried back with static partition
    // pruning — shares bm25_topk's oracle byte-for-byte
    "bm25_index_topk" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val idxDir = java.nio.file.Files.createTempDirectory("graft_bm25_idx").toString
      RetrievalOps.bm25BuildIndex(docs, "doc_id", "text", idxDir, nTermBuckets = 64)
      RetrievalOps.bm25QueryIndex(s, idxDir,
        docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("qid"), col("text")),
        "qid", "text", k = BmK)
    }),
    // the disk round trip of dsir_weights: fit once, persist, load, score —
    // shares dsir_weights' oracle byte-for-byte, so a serialization bug in
    // the ratios/unseen/meta layout is a hash mismatch
    "dsir_model_score" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val model = DsirOps.fitModel(docs, docs.filter(col("doc_id") % 10 === 0),
        "text", numBuckets = NB, seed = DsirSeed, alpha = Alpha)
      val mdlDir = java.nio.file.Files.createTempDirectory("graft_dsir_mdl").toString
      DsirOps.writeModel(model, mdlDir)
      DsirOps.scoreWithModel(docs, "doc_id", "text", DsirOps.loadModel(s, mdlDir))
        .select(col("doc_id"), col("n_feats"),
          (round(col("logw"), 6) + lit(0.0)).as("logw"))
    }),
    // the streaming-compatible scorer (broadcast lookup map, stateless
    // in-row sum) on the same corpus — shares dsir_weights' oracle; the
    // in-row left-to-right sum lands on the same 6-decimal grid
    "dsir_broadcast_score" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val model = DsirOps.fitModel(docs, docs.filter(col("doc_id") % 10 === 0),
        "text", numBuckets = NB, seed = DsirSeed, alpha = Alpha)
      DsirOps.scoreWithBroadcastModel(docs, "text", model)
        .select(col("doc_id"), col("n_feats"),
          (round(col("logw"), 6) + lit(0.0)).as("logw"))
    }),
    "unimax_allocations" -> ((s, dir) =>
      MixOps.unimaxAllocations(table(s, dir, "documents"), "lang", "n_chars",
        UniBudget, UniEpochs)),
    "unimax_select" -> ((s, dir) =>
      MixOps.unimaxSelect(table(s, dir, "documents"), "doc_id", "lang", "n_chars",
          UniBudget, UniEpochs, UniSeed)
        .select(col("doc_id"), col("lang"), col("n_chars"))),
  )

  // ------------------------------------------------------------- oracles

  /** Feature rows (one per n-gram occurrence): unigrams ++ bigrams of the
    * whitespace tokenization, rolling-hashed (131, mod P) into NB buckets.
    * Emits `(id table) → ${p}bkt` rows keyed by the caller's columns. */
  private def featCte(from: String, p: String): String =
    s"""${p}tk AS (SELECT *, list_filter(string_split_regex(lower(trim(text)),
       |    '[ \\t\\n\\r\\f]+'), x -> len(x) > 0) AS ${p}ts FROM $from),
       |${p}fs AS (SELECT *, unnest(${p}ts ||
       |    list_transform(range(1, greatest(len(${p}ts), 1)),
       |      i -> ${p}ts[i] || ' ' || ${p}ts[i + 1])) AS ${p}tok FROM ${p}tk),
       |${p}bk AS (SELECT *, list_reduce(list_prepend(CAST($DsirSeed AS BIGINT),
       |    list_transform(range(1, len(${p}tok) + 1),
       |      i -> CAST(ord(${p}tok[i:i]) AS BIGINT))),
       |    (a, c) -> (a * 131 + c) % $P) % $NB AS ${p}bkt FROM ${p}fs)""".stripMargin

  /** The shared DSIR model + per-doc weights: ct/cr bucket counts, totals,
    * smoothed log-ratios (unseen-bucket constant), per-doc sums. Ends with
    * `wts(doc_id, n_feats, logw)` covering every document. */
  private val dsirCtes: String =
    s"""${featCte("(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)", "t")},
       |${featCte("(SELECT doc_id, text FROM documents)", "r")},
       |ct AS (SELECT tbkt AS bkt, count(*) AS c FROM tbk GROUP BY 1),
       |cr AS (SELECT rbkt AS bkt, count(*) AS c FROM rbk GROUP BY 1),
       |tot AS (SELECT (SELECT coalesce(sum(c), 0) FROM ct) AS tt,
       |               (SELECT coalesce(sum(c), 0) FROM cr) AS tr),
       |lr AS (SELECT coalesce(ct.bkt, cr.bkt) AS bkt,
       |    ln((coalesce(ct.c, 0) + $Alpha) / (tt + $Alpha * $NB))
       |      - ln((coalesce(cr.c, 0) + $Alpha) / (tr + $Alpha * $NB)) AS v
       |  FROM ct FULL OUTER JOIN cr ON ct.bkt = cr.bkt, tot),
       |lr0 AS (SELECT ln($Alpha / (tt + $Alpha * $NB))
       |      - ln($Alpha / (tr + $Alpha * $NB)) AS v FROM tot),
       |persum AS (SELECT rbk.doc_id, count(*) AS n_feats,
       |    sum(coalesce(lr.v, (SELECT v FROM lr0))) AS logw
       |  FROM rbk LEFT JOIN lr ON rbk.rbkt = lr.bkt GROUP BY 1),
       |wts AS (SELECT d.doc_id, coalesce(p.n_feats, 0) AS n_feats,
       |    coalesce(p.logw, 0.0) AS logw
       |  FROM documents d LEFT JOIN persum p USING (doc_id))""".stripMargin

  private val dsirWeightsSql: String =
    s"""WITH $dsirCtes
       |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
       |  (round(logw, 6) + 0.0) AS logw
       |FROM wts""".stripMargin

  private val dsirSelectSql: String = {
    val (mixCtes, bucket) = SampleOps.hashBucketSqlCtes("wts", "doc_id", NoiseSeed)
    s"""WITH $dsirCtes,
       |$mixCtes,
       |keyed AS (SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
       |    (round(logw - ln(-ln(($bucket + 1) / CAST(${P + 1} AS DOUBLE))), 6) + 0.0)
       |      AS select_key
       |  FROM _h3)
       |SELECT doc_id, select_key, n_feats FROM keyed
       |ORDER BY select_key DESC, doc_id LIMIT $SelK""".stripMargin
  }

  private val bm25Sql: String =
    s"""WITH base AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
       |    '[ \\t\\n\\r\\f]+'), x -> len(x) > 0) AS ts FROM documents),
       |ctok AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM base),
       |qterms AS (SELECT DISTINCT doc_id AS qid, unnest(ts) AS term
       |  FROM base WHERE doc_id % 100 = 0),
       |qvocab AS (SELECT DISTINCT term FROM qterms),
       |stats AS (SELECT count(*) AS n, coalesce(avg(len(ts)), 0.0) AS avgdl FROM base),
       |tf AS (SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
       |  FROM ctok JOIN qvocab USING (term) GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, term,
       |    ln(1 + (n - df + 0.5) / (df + 0.5)) * (tf * 2.2)
       |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
       |  FROM tf JOIN dfreq USING (term), stats),
       |ps AS (SELECT qid, sc.doc_id, round(sum(w), 6) AS score
       |  FROM sc JOIN qterms USING (term) GROUP BY 1, 2),
       |rk AS (SELECT qid, doc_id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
       |  FROM ps)
       |SELECT qid, CAST(r AS INT) AS rank, doc_id, score
       |FROM rk WHERE r <= $BmK""".stripMargin

  /** The waterfilling closed form over per-language totals (see
    * MixOps.unimaxAllocations): ascending-capacity prefix flags, capped
    * strata at capacity, the rest share the remainder with the ≤ L−m−1
    * leftover tokens distributed one-each in sort order. */
  private val unimaxCtes: String =
    s"""tot AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_tokens
       |  FROM documents WHERE n_chars > 0 GROUP BY lang),
       |cap AS (SELECT *, CAST(floor(n_tokens * $UniEpochs) AS BIGINT) AS capacity
       |  FROM tot),
       |idx AS (SELECT *, row_number() OVER (ORDER BY capacity, lang) AS i,
       |    coalesce(sum(capacity) OVER (ORDER BY capacity, lang
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pc_prev,
       |    count(*) OVER () AS l FROM cap),
       |flg AS (SELECT *, capacity * (l - i + 1) <= $UniBudget - pc_prev AS capped
       |  FROM idx),
       |agg AS (SELECT *,
       |    sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS m,
       |    sum(CASE WHEN capped THEN capacity ELSE 0 END) OVER () AS pcm FROM flg),
       |shr AS (SELECT *,
       |    CASE WHEN l > m THEN CAST(floor(($UniBudget - pcm) / (l - m)) AS BIGINT)
       |         ELSE 0 END AS share FROM agg),
       |alloc AS (SELECT lang, n_tokens, capacity,
       |    CASE WHEN capped THEN capacity
       |         ELSE share + (CASE WHEN i - m <= ($UniBudget - pcm) - share * (l - m)
       |                       THEN 1 ELSE 0 END) END AS budget
       |  FROM shr)""".stripMargin

  private val unimaxAllocSql: String =
    s"""WITH $unimaxCtes
       |SELECT lang, n_tokens, capacity, budget FROM alloc""".stripMargin

  private val unimaxSelectSql: String = {
    val (mixCtes, bucket) = SampleOps.hashBucketSqlCtes("joined", "doc_id", UniSeed)
    s"""WITH $unimaxCtes,
       |joined AS (SELECT d.doc_id, d.lang, d.n_chars, a.budget
       |  FROM documents d JOIN alloc a USING (lang) WHERE d.n_chars > 0),
       |$mixCtes,
       |cum AS (SELECT *, sum(n_chars) OVER (
       |    PARTITION BY lang ORDER BY $bucket, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS c FROM _h3)
       |SELECT doc_id, lang, n_chars FROM cum WHERE c <= budget""".stripMargin
  }

  def oracleSql: Map[String, String] = rows(
    "dsir_weights" -> dsirWeightsSql,
    "dsir_model_score" -> dsirWeightsSql,
    "dsir_broadcast_score" -> dsirWeightsSql,
    "dsir_select" -> dsirSelectSql,
    "bm25_topk" -> bm25Sql,
    "bm25_index_topk" -> bm25Sql,
    "unimax_allocations" -> unimaxAllocSql,
    "unimax_select" -> unimaxSelectSql,
  )
}
