package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.{FrequencyOps, QuantileOps, RetrievalOps, SampleOps, SimilarityOps}

/** Forty-first batch (round 9): hybrid lexical+dense retrieval fused by
  * Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009) — the
  * production retrieval stack for decontamination triage and hard-negative
  * mining when neither BM25 nor embedding recall is trusted alone.
  *
  * The oracle replays BOTH candidate generators end-to-end (the bm25_topk
  * CTEs and the ann_topk cosine-rank CTEs, every stage over the SAME
  * documents⋈embeddings corpus the Spark row retrieves against) and the
  * fusion arithmetic: per-list rank windows, 1/(rrfK+rank) terms, the one
  * IEEE addition, the 6-decimal rounding, and the (score desc, id asc)
  * final rank — so a drift in either list's membership, either rank
  * convention, or the fusion order is a hash mismatch. */
object SparkEntryV41 extends EntryPart {

  private val K = 10
  private val KCand = 25
  private val RrfK = 60
  private val MmrCand = 25
  private val MmrLambda = 0.7
  private val CmD = 4
  private val CmW = 1024
  private val CmHashSeed = 7L
  private val CmMixSeed = 13L
  private val ZBits = 8
  private val PrIters = 10
  private val ContainSuffix =
    " graftwrap boilerplate chatter appended around the quoted document body"

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // corpus = the docs that have an embedding (1:1 at sf0.01, 2000-of-5000
    // at sf0.1 — the oracle joins identically); queries = every 100th
    "hybrid_rrf_topk" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val emb = table(s, dir, "embeddings")
      val corpus = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(docs("doc_id"), col("text"), col("embedding"))
      val qs = corpus.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"), col("text"), col("embedding"))
      RetrievalOps.hybridTopK(corpus, "doc_id", "text", "embedding",
        qs, "qid", "text", "embedding", k = K, kCand = KCand, rrfK = RrfK)
    }),
    // per-language doc-length percentile — the per-dump calibration shape
    "score_percentile_by_group" -> ((s, dir) =>
      QuantileOps.percentileByGroup(table(s, dir, "documents"), "lang",
        "doc_id", "n_chars")),
    // the composed gate: each language's longest-30% documents
    "top_fraction_by_group" -> ((s, dir) =>
      QuantileOps.filterTopFractionByGroup(table(s, dir, "documents"), "lang",
        "doc_id", "n_chars", frac = 0.3)),
    // MMR rerank of brute-force ANN candidates (diversity after retrieval)
    "mmr_rerank" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cands = SimilarityOps.bruteForceTopK(emb,
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", MmrCand)
      SimilarityOps.mmrRerank(cands, emb, "qid", "vid", "sim",
        "vec_id", "embedding", k = K, lambda = MmrLambda)
    }),
    // Count-Min token-frequency estimates for doc 0's vocabulary
    "cm_token_freq" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      FrequencyOps.cmEstimate(
        FrequencyOps.cmSketch(docs, "text", CmD, CmW, CmHashSeed, CmMixSeed),
        cmProbes(docs), "term", CmD, CmW, CmHashSeed, CmMixSeed)
    }),
    // per-shard sketches merged (the linearity identity) — the merged
    // counters are identical to the single pass, so it shares the oracle
    "cm_merge_shards" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("shard", pmod(col("doc_id"), lit(4)))
      val shards = FrequencyOps.cmSketch(docs, "text", CmD, CmW,
        CmHashSeed, CmMixSeed, groupCols = Seq("shard"))
      FrequencyOps.cmEstimate(FrequencyOps.cmMergeShards(shards, CmD, CmW),
        cmProbes(docs), "term", CmD, CmW, CmHashSeed, CmMixSeed)
    }),
    // the disk round trip of cm_token_freq: per-shard sketches persisted,
    // read back, merged — shares the whole-corpus oracle byte-for-byte,
    // so a serialization bug in the counter layout is a hash mismatch
    "cm_model_freq" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("shard", pmod(col("doc_id"), lit(4)))
      val shards = FrequencyOps.cmSketch(docs, "text", CmD, CmW,
        CmHashSeed, CmMixSeed, groupCols = Seq("shard"))
      val p = java.nio.file.Files.createTempDirectory("graft_cm_idx").toString
      FrequencyOps.writeCmSketch(shards, p)
      FrequencyOps.cmEstimate(
        FrequencyOps.cmMergeShards(FrequencyOps.readCmSketch(s, p), CmD, CmW),
        cmProbes(docs), "term", CmD, CmW, CmHashSeed, CmMixSeed)
    }),
    // containment verify: planted quote-inclusion copies (doc < 10 wrapped
    // in boilerplate at id+1e6) clear the gate at containment 1.0 while
    // their Jaccard is well under it; adjacent-doc negative pairs drop
    "containment_verify" -> ((s, dir) => {
      val corpus = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = corpus.unionByName(corpus.filter(col("doc_id") < 10)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(col("text"), lit(ContainSuffix)).as("text")))
      val pairs = corpus.filter(col("doc_id") < 10)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + lit(1000000L)).as("id_b"))
        .unionByName(corpus.filter(col("doc_id") < 10)
          .select(col("doc_id").as("id_a"), (col("doc_id") + lit(1L)).as("id_b")))
      graft.llm.TextOps.containmentVerify(pairs, aug, "doc_id", "text",
        shingleSize = 5, threshold = 0.9)
    }),
    // PageRank centrality over the exhaustive kNN graph — scaled-long
    // integer arithmetic, so all 10 iterations replay bit-exactly
    "pagerank_knn" -> ((s, dir) => {
      val edges = SimilarityOps.knnGraph(table(s, dir, "embeddings"), "vec_id",
        "embedding", k = 5, nLists = 8, nProbe = 8)
      graft.ops.GraphOps.pageRank(edges, "qid", "vid", iters = PrIters)
    }),
    // cross-corpus similarity join: even-id vs odd-id embedding halves,
    // zero-iteration IVF candidates, rounded-threshold pairs
    "similarity_join" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val a = emb.filter(col("vec_id") % 2 === 0)
      val b = emb.filter(col("vec_id") % 2 === 1)
      val cents = SimilarityOps.ivfTrain(a, "vec_id", "embedding",
        nLists = 8, iters = 0)
      SimilarityOps.similarityJoin(a, b, "vec_id", "embedding", cents,
        minSim = 0.35, nProbe = 4)
    }),
    // span-level decontamination: benchmark = every 50th doc, so those
    // docs scrub to empty and any doc sharing a verbatim 13-gram loses
    // exactly that window — the oracle replays the rebuild token-by-token
    "decontaminate_spans" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      graft.llm.TextOps.decontaminateSpans(docs,
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", "text", n = 13)
    }),
    // TF-IDF keywords with CM-approximated document frequencies — the
    // vocabulary-free salience op, every counter replayed exactly
    "tfidf_keywords" -> ((s, dir) =>
      FrequencyOps.tfidfKeywords(table(s, dir, "documents"), "doc_id", "text",
        k = 5, CmD, CmW, CmHashSeed, CmMixSeed)),
    // Morton values for the 2-d (price, quantity) layout — the write-side
    // data-skipping clustering, gated on its exact bit arithmetic
    "zorder_values" -> ((s, dir) =>
      graft.ops.LayoutOps.zorderValue(table(s, dir, "lineitem"),
          Seq("l_extendedprice", "l_quantity"), bits = ZBits)
        .select(col("l_orderkey"), col("l_linenumber"), col("zvalue"))),
  )

  /** Distinct tokens of doc 0 — the deterministic probe vocabulary. */
  private def cmProbes(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") === 0)
      .select(explode(split(lower(trim(col("text"))), "[ \\t\\n\\r\\f]+")).as("term"))
      .filter(length(col("term")) > 0).distinct()

  private val HybridSql =
    s"""WITH hc AS (SELECT d.doc_id, d.text, CAST(e.embedding AS DOUBLE[]) AS v
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |base AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
       |    '[ \\t\\n\\r\\f]+'), x -> len(x) > 0) AS ts FROM hc),
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
       |lrk AS (SELECT qid, doc_id, row_number() OVER (
       |    PARTITION BY qid ORDER BY score DESC, doc_id) AS bm25_rank FROM ps),
       |ltop AS (SELECT qid, doc_id, bm25_rank FROM lrk WHERE bm25_rank <= $KCand),
       |qv AS (SELECT doc_id AS qid, v FROM hc WHERE doc_id % 100 = 0),
       |dpairs AS (SELECT q.qid, hc.doc_id AS vid,
       |    list_cosine_similarity(q.v, hc.v) AS sim FROM qv q, hc),
       |drk AS (SELECT qid, vid, row_number() OVER (
       |    PARTITION BY qid ORDER BY sim DESC, vid) AS ann_rank
       |  FROM dpairs WHERE NOT isnan(sim)),
       |dtop AS (SELECT qid, vid, ann_rank FROM drk WHERE ann_rank <= $KCand),
       |fused AS (SELECT coalesce(l.qid, d.qid) AS qid,
       |    coalesce(l.doc_id, d.vid) AS doc_id, l.bm25_rank, d.ann_rank,
       |    round(coalesce(1.0 / ($RrfK + l.bm25_rank), 0.0)
       |        + coalesce(1.0 / ($RrfK + d.ann_rank), 0.0), 6) AS rrf_score
       |  FROM ltop l FULL OUTER JOIN dtop d
       |    ON l.qid = d.qid AND l.doc_id = d.vid),
       |frk AS (SELECT *, row_number() OVER (
       |    PARTITION BY qid ORDER BY rrf_score DESC, doc_id) AS r FROM fused)
       |SELECT qid, CAST(r AS INT) AS rank, doc_id, rrf_score,
       |  CAST(bm25_rank AS INT) AS bm25_rank, CAST(ann_rank AS INT) AS ann_rank
       |FROM frk WHERE r <= $K""".stripMargin

  /** cume_dist on the rounded score — identical tie handling (every tie
    * shares one CDF row) and one exact-count division per row. */
  private val PercentileSql =
    """SELECT doc_id, lang, round(CAST(n_chars AS DOUBLE), 6) AS n_chars,
      |  round(cume_dist() OVER (
      |    PARTITION BY lang ORDER BY round(CAST(n_chars AS DOUBLE), 6)), 6) AS pct
      |FROM documents""".stripMargin

  /** The percentile replay gated at pct > 1 − frac (tie-closed sets). */
  private val TopFractionByGroupSql =
    s"""WITH p AS ($PercentileSql)
       |SELECT doc_id, lang, n_chars FROM p WHERE pct > ${1.0 - 0.3}""".stripMargin

  /** The MMR greedy as a DuckDB recursive CTE: candidates replay the
    * brute-force top-kCand (unrounded rank, vid tiebreak — the ann_topk
    * convention), then each recursion step picks the rounded-grid argmax
    * of `λ·rel − (1−λ)·maxSimToSelected` exactly as
    * [[graft.llm.SimilarityOps.mmrGreedy]] specifies. */
  private val MmrSql = {
    val lam = s"$MmrLambda"
    val mu = s"${1.0 - MmrLambda}"
    val pick = s"round($lam * cc.rel - $mu * coalesce((SELECT max(si.s) " +
      "FROM sims si WHERE si.qid = s.qid AND si.x = cc.vid " +
      "AND list_contains(s.sel_ids, si.y)), 0.0), 6)"
    s"""WITH RECURSIVE
       |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id % 100 = 0),
       |pairs AS (SELECT q.qid, e.vec_id AS vid,
       |    list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS sim
       |  FROM q, embeddings e),
       |topc AS (SELECT qid, vid, sim FROM (
       |    SELECT qid, vid, sim,
       |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rk
       |    FROM pairs WHERE NOT isnan(sim)) WHERE rk <= $MmrCand),
       |c AS (SELECT t.qid, t.vid, round(t.sim, 6) AS rel,
       |    CAST(e.embedding AS DOUBLE[]) AS v
       |  FROM topc t JOIN embeddings e ON t.vid = e.vec_id
       |  WHERE len(list_filter(CAST(e.embedding AS DOUBLE[]), x -> x <> 0)) > 0),
       |sims AS (SELECT a.qid, a.vid AS x, b.vid AS y,
       |    round(list_cosine_similarity(a.v, b.v), 6) AS s
       |  FROM c a JOIN c b ON a.qid = b.qid AND a.vid <> b.vid),
       |sel(qid, step, vid, score, sel_ids) AS (
       |  SELECT qid, 1, vid, round($lam * rel, 6), [vid] FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY round($lam * rel, 6) DESC, vid) AS rn FROM c)
       |  WHERE rn = 1
       |  UNION ALL
       |  SELECT qid, step, vid, score, list_append(sel_ids, vid) FROM (
       |    SELECT s.qid, s.step + 1 AS step, cc.vid, $pick AS score, s.sel_ids,
       |      row_number() OVER (PARTITION BY s.qid
       |        ORDER BY $pick DESC, cc.vid) AS rn
       |    FROM sel s JOIN c cc
       |      ON cc.qid = s.qid AND NOT list_contains(s.sel_ids, cc.vid)
       |    WHERE s.step < $K) WHERE rn = 1)
       |SELECT qid, CAST(step AS INT) AS rank, vid, score AS mmr_score
       |FROM sel""".stripMargin
  }

  /** Counter replay: every token occurrence rolling-hashes (131 mod P),
    * each of the d sketch rows mixes `h·d + i` through the LCG chain to a
    * counter, counters are exact GROUP BY counts, and each probe term's
    * estimate is the min of its d matched counters — all BIGINT. */
  private val CmSql: String = {
    val tokHash = "list_reduce(list_prepend(CAST(%d AS BIGINT), " +
      "list_transform(range(1, len(%s) + 1), i -> CAST(ord(%s[i:i]) AS BIGINT))), " +
      s"(a, c) -> (a * 131 + c) %% ${SampleOps.P})"
    val oh = tokHash.format(CmHashSeed, "tok", "tok")
    val ph = tokHash.format(CmHashSeed, "term", "term")
    val (cmCtes, cmBucket) = SampleOps.hashBucketSqlCtes("ri", "ent", CmMixSeed)
    val (pbCtes, pbBucket) = SampleOps.hashBucketSqlCtes("pri", "ent", CmMixSeed, "_g")
    s"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
       |    '[ \\t\\n\\r\\f]+'), x -> len(x) > 0) AS ts FROM documents),
       |occ AS (SELECT unnest(ts) AS tok FROM tk),
       |oh AS (SELECT $oh AS h FROM occ),
       |ri AS (SELECT h * $CmD + t.i AS ent, t.i FROM oh CROSS JOIN range($CmD) t(i)),
       |$cmCtes,
       |cm AS (SELECT i, $cmBucket % $CmW AS bucket, count(*) AS cnt
       |  FROM _h3 GROUP BY 1, 2),
       |pr AS (SELECT DISTINCT unnest(ts) AS term FROM tk WHERE doc_id = 0),
       |ph AS (SELECT term, $ph AS h FROM pr),
       |pri AS (SELECT term, h * $CmD + t.i AS ent, t.i
       |  FROM ph CROSS JOIN range($CmD) t(i)),
       |$pbCtes,
       |pb AS (SELECT term, i, $pbBucket % $CmW AS bucket FROM _g3)
       |SELECT term, min(cnt) AS est FROM pb JOIN cm USING (i, bucket)
       |GROUP BY term""".stripMargin
  }

  /** Bit-exact Morton replay: the same IEEE range-scaling in the same
    * operation order, then the interleave as an explicit bit-term sum. */
  private val ZorderSql: String = {
    def levelSql(c: String, j: Int): String =
      s"CASE WHEN $c IS NULL OR lo$j IS NULL OR hi$j = lo$j THEN 0 " +
        s"ELSE least(CAST(floor(($c - lo$j) / (hi$j - lo$j) * ${(1L << ZBits).toDouble}) AS BIGINT), ${(1L << ZBits) - 1}) END"
    val zTerms = (for (b <- 0 until ZBits; j <- 0 until 2)
      yield s"(((v$j >> $b) & 1) << ${b * 2 + j})").mkString(" + ")
    s"""WITH mm AS (SELECT min(l_extendedprice) AS lo0, max(l_extendedprice) AS hi0,
       |  min(l_quantity) AS lo1, max(l_quantity) AS hi1 FROM lineitem),
       |lv AS (SELECT l_orderkey, l_linenumber,
       |  ${levelSql("l_extendedprice", 0)} AS v0,
       |  ${levelSql("l_quantity", 1)} AS v1
       |  FROM lineitem, mm)
       |SELECT l_orderkey, l_linenumber, $zTerms AS zvalue FROM lv""".stripMargin
  }

  /** The CM counters over (doc, term) incidences + the exact tf table +
    * `tf·ln(N/df_est)` on the 6-decimal grid, term-ascending tiebreak. */
  private val TfidfSql: String = {
    val rollHash = "list_reduce(list_prepend(CAST(%d AS BIGINT), " +
      "list_transform(range(1, len(term) + 1), i -> CAST(ord(term[i:i]) AS BIGINT))), " +
      s"(a, c) -> (a * 131 + c) %% ${SampleOps.P})"
    val h = rollHash.format(CmHashSeed)
    val (cmCtes, cmBucket) = SampleOps.hashBucketSqlCtes("ri", "ent", CmMixSeed)
    val (pbCtes, pbBucket) = SampleOps.hashBucketSqlCtes("pri", "ent", CmMixSeed, "_g")
    s"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
       |    '[ \\t\\n\\r\\f]+'), x -> len(x) > 0) AS ts FROM documents),
       |dt AS (SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(ts) AS term FROM tk) GROUP BY 1, 2),
       |ih AS (SELECT doc_id, term, tf, $h AS hh FROM dt),
       |ri AS (SELECT hh * $CmD + t.i AS ent, t.i FROM ih CROSS JOIN range($CmD) t(i)),
       |$cmCtes,
       |cm AS (SELECT i, $cmBucket % $CmW AS bucket, count(*) AS cnt
       |  FROM _h3 GROUP BY 1, 2),
       |nn AS (SELECT count(*) AS n FROM documents),
       |pri AS (SELECT doc_id, term, tf, hh * $CmD + t.i AS ent, t.i
       |  FROM ih CROSS JOIN range($CmD) t(i)),
       |$pbCtes,
       |pb AS (SELECT doc_id, term, tf, i, $pbBucket % $CmW AS bucket FROM _g3),
       |de AS (SELECT doc_id, term, tf, min(cnt) AS df_est
       |  FROM pb JOIN cm USING (i, bucket) GROUP BY 1, 2, 3),
       |sc AS (SELECT doc_id, term, tf, df_est,
       |    round(tf * ln(CAST(n AS DOUBLE) / df_est), 6) AS score FROM de, nn),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term) AS r FROM sc)
       |SELECT doc_id, CAST(r AS INT) AS rank, term, tf, df_est, score
       |FROM rk WHERE r <= 5""".stripMargin
  }

  /** The spans rebuild replay (the dedup_spans oracle shape) gated on
    * benchmark-gram membership instead of global duplication. */
  private val DeconSpansSql =
    """WITH tk AS (SELECT doc_id,
      |    list_filter(string_split_regex(trim(text), '[ \t\n\r\f]+'),
      |                x -> len(x) > 0) AS toks FROM documents),
      |bg AS (SELECT DISTINCT array_to_string(list_slice(toks, p, p + 12), ' ') AS gram
      |  FROM (SELECT toks, unnest(range(1, len(toks) - 11)) AS p
      |        FROM tk WHERE doc_id % 50 = 0)),
      |win AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 11)) AS p FROM tk),
      |occ AS (SELECT doc_id, p,
      |    array_to_string(list_slice(toks, p, p + 12), ' ') AS gram FROM win),
      |hits AS (SELECT o.doc_id, o.p FROM occ o JOIN bg USING (gram)),
      |cov AS (SELECT DISTINCT doc_id, p + k.k AS idx
      |  FROM hits, (SELECT unnest(range(0, 13)) AS k) k),
      |tokpos AS (SELECT doc_id, unnest(toks) AS w,
      |    generate_subscripts(toks, 1) AS i FROM tk),
      |kept AS (SELECT tp.doc_id, tp.w, tp.i FROM tokpos tp
      |  WHERE NOT EXISTS (SELECT 1 FROM cov c
      |                    WHERE c.doc_id = tp.doc_id AND c.idx = tp.i)),
      |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS txt,
      |    count(*) AS nk FROM kept GROUP BY doc_id),
      |n AS (SELECT doc_id, len(toks) AS nt FROM tk)
      |SELECT n.doc_id, coalesce(a.txt, '') AS text_clean,
      |  CAST(n.nt - coalesce(a.nk, 0) AS BIGINT) AS text_clean_tokens_removed
      |FROM n LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** The IVF candidate restriction replayed exactly: zero-iteration
    * centroids (first 8 a-side ids, 1-based), a-side assignment by COSINE
    * with the larger-cid tiebreak (ivfAssign scores the dot against
    * L2-NORMALIZED centroids, and cosine argmax == normalized-dot argmax
    * — by-raw-DOT would only coincide on unit-norm fixtures), b-side
    * top-4 probes by COSINE with the same tiebreak, then the
    * rounded-threshold cosine on pairs meeting in a probed list. */
  private val SimilarityJoinSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |aa AS (SELECT * FROM e WHERE vec_id % 2 = 0),
      |bb AS (SELECT * FROM e WHERE vec_id % 2 = 1),
      |c AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS cv
      |      FROM (SELECT * FROM aa ORDER BY vec_id LIMIT 8)),
      |asg AS (SELECT vid, cid FROM (
      |  SELECT a.vec_id AS vid, c.cid,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid DESC) AS rk
      |  FROM aa a, c
      |  WHERE list_dot_product(a.v, a.v) > 0
      |    AND NOT isnan(list_cosine_similarity(a.v, c.cv))) WHERE rk = 1),
      |pr AS (SELECT vid, cid FROM (
      |  SELECT b.vec_id AS vid, c.cid,
      |    row_number() OVER (PARTITION BY b.vec_id
      |      ORDER BY list_cosine_similarity(b.v, c.cv) DESC, c.cid DESC) AS rk
      |  FROM bb b, c
      |  WHERE NOT isnan(list_cosine_similarity(b.v, c.cv))) WHERE rk <= 4),
      |pairs AS (SELECT a.vid AS id_a, p.vid AS id_b,
      |    round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
      |  FROM asg a JOIN pr p ON a.cid = p.cid
      |  JOIN aa ea ON ea.vec_id = a.vid
      |  JOIN bb eb ON eb.vec_id = p.vid)
      |SELECT id_a, id_b, sim FROM pairs
      |WHERE NOT isnan(sim) AND sim >= 0.35""".stripMargin

  /** All 10 PageRank iterations unrolled over the brute-force kNN edge
    * replay — every update is BIGINT `//` arithmetic, so the scaled ranks
    * match bit-for-bit, not approximately. */
  private val PageRankSql = {
    val S = graft.ops.GraphOps.Scale
    val iters = (0 until PrIters).map { i =>
      s"""pr${i + 1} AS (SELECT nodes.node,
         |    (15 * ($S // nn.n)) // 100 + (85 * coalesce(ag.c, 0)) // 100 AS pr
         |  FROM nodes CROSS JOIN nn LEFT JOIN (
         |    SELECT ed.d AS node, CAST(sum(p.pr // od.deg) AS BIGINT) AS c
         |    FROM ed JOIN pr$i p ON ed.s = p.node JOIN od ON od.s = ed.s
         |    GROUP BY ed.d) ag ON ag.node = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ed AS (SELECT qid AS s, vid AS d FROM (
       |  SELECT qid, vid,
       |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid) AS rk
       |  FROM (SELECT q.vec_id AS qid, c.vec_id AS vid,
       |          list_cosine_similarity(q.v, c.v) AS sim
       |        FROM e q JOIN e c ON q.vec_id <> c.vec_id)
       |  WHERE NOT isnan(sim)) WHERE rk <= 5),
       |nodes AS (SELECT DISTINCT s AS node FROM ed UNION SELECT DISTINCT d FROM ed),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |od AS (SELECT s, count(*) AS deg FROM ed GROUP BY s),
       |pr0 AS (SELECT node, $S // n AS pr FROM nodes CROSS JOIN nn),
       |$iters
       |SELECT node, pr AS pr_scaled,
       |  round(CAST(pr AS DOUBLE) / ${S.toDouble}, 6) AS pr FROM pr$PrIters""".stripMargin
  }

  /** String-shingle replay of the containment verify: the SAME
    * normalization (lowercase, whitespace runs → one space, no trim) and
    * the SAME full m−n+1 window enumeration as the native
    * ShingleHashSet path — hash-set intersection counts equal string-set
    * counts collision-free (the jaccardVerify precedent). */
  private val ContainmentSql =
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text || '$ContainSuffix' AS text
       |  FROM documents WHERE doc_id < 10),
       |pairs AS (
       |  SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
       |  FROM documents WHERE doc_id < 10
       |  UNION ALL
       |  SELECT doc_id AS id_a, doc_id + 1 AS id_b
       |  FROM documents WHERE doc_id < 10),
       |nrm AS (SELECT doc_id,
       |    regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm FROM aug),
       |sh AS (SELECT doc_id, list_distinct([substr(norm, CAST(i AS INT), 5)
       |    for i in range(1, greatest(len(norm) - 4, 0) + 1)]) AS s FROM nrm),
       |j AS (SELECT p.id_a, p.id_b, len(list_intersect(a.s, b.s)) AS i,
       |    len(a.s) AS na, len(b.s) AS nb
       |  FROM pairs p JOIN sh a ON a.doc_id = p.id_a
       |  JOIN sh b ON b.doc_id = p.id_b),
       |c AS (SELECT id_a, id_b,
       |    CASE WHEN na = 0 THEN 0.0
       |         ELSE round(CAST(i AS DOUBLE) / na, 6) END AS containment_a_in_b,
       |    CASE WHEN nb = 0 THEN 0.0
       |         ELSE round(CAST(i AS DOUBLE) / nb, 6) END AS containment_b_in_a
       |  FROM j)
       |SELECT * FROM c
       |WHERE greatest(containment_a_in_b, containment_b_in_a) >= 0.9""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "containment_verify" -> ContainmentSql,
    "pagerank_knn" -> PageRankSql,
    "similarity_join" -> SimilarityJoinSql,
    "decontaminate_spans" -> DeconSpansSql,
    "tfidf_keywords" -> TfidfSql,
    "zorder_values" -> ZorderSql,
    "hybrid_rrf_topk" -> HybridSql,
    "score_percentile_by_group" -> PercentileSql,
    "top_fraction_by_group" -> TopFractionByGroupSql,
    "mmr_rerank" -> MmrSql,
    "cm_token_freq" -> CmSql,
    // merged shard counters are identical to the single pass (linearity)
    "cm_merge_shards" -> CmSql,
    // ... and so are counters that took a parquet round trip
    "cm_model_freq" -> CmSql,
  )
}
