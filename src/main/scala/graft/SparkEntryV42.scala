package graft

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.agg.Aggregators
import graft.llm.PqOps

/** Forty-second batch (round 10, VERDICT r9 #6/#8/#10):
  *
  *  - `ts_forecast_agg_dynfields` — the reference's dynamic
  *    `lower_<pct>`/`upper_<pct>` struct field names
  *    (ts_forecast_agg.cpp:69-82 GetForecastAggResultType) honored from
  *    the construction-time confidence level: two registered instances
  *    (0.95, 0.80) are addressed BY SUFFIXED NAME in SQL — the query
  *    itself fails if the schema contract breaks — and the oracle replays
  *    the per-group output-shape row (the agg-API oracle discipline:
  *    sizes + interval ordering, model choice stays out).
  *  - `pagerank_sink` — PageRank with the standard dangling-mass
  *    redistribution on a sink-BEARING graph (deterministic arithmetic
  *    edge list over documents; every node with `doc_id % 3 == 0` that
  *    appears only as a destination is a sink). All 5 iterations unroll
  *    in BIGINT `//` arithmetic including the per-iteration sink-mass
  *    share, so the scaled ranks match bit-for-bit.
  *  - `ann_ivfpq_rerank_topk` — the FAISS-style refine step: ADC selects
  *    30 candidates from the compressed domain, their RAW vectors (read
  *    from the index's list-partitioned vectors/ layout with the same
  *    probed-partition prune) are exact-cosine scored for the final
  *    top-10. Exhaustive probe (nProbe = nLists) so the oracle replays
  *    the full chain: zero-iteration codebook, ADC candidate cut, exact
  *    cosine re-rank on the rounded grid with vid tiebreak. */
object SparkEntryV42 extends EntryPart {

  // ---------------------------------------------- sink-bearing PageRank

  private val PrIters = 5
  private val DstMod = 1000L

  private def sinkEdges(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(3L)) =!= 0L)
      .select(col("doc_id").as("s"),
        pmod(col("doc_id") * lit(131L) + lit(7L), lit(DstMod)).as("d"))

  // ---------------------------------------------- IVF-PQ exact re-rank

  private val M = 4
  private val SubDim = 16
  private val NCodes = 16
  private val K = 10
  private val KCand = 30
  private val NLists = 8

  private def corpus(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "ts_forecast_agg_dynfields" -> ((s, dir) => {
      val pts = Encoders.product[Aggregators.TsPoint]
      s.udf.register("fc_agg_95", udaf(new Aggregators.ForecastAggDynamic(
        "SES", 12, Map("confidence_level" -> "0.95")), pts))
      s.udf.register("fc_agg_80", udaf(new Aggregators.ForecastAggDynamic(
        "SES", 12, Map("confidence_level" -> "0.80")), pts))
      dailyEventsTs(s, dir).createOrReplaceTempView("_agg_events_dyn")
      // the suffixed fields are addressed BY NAME — resolution fails if
      // the dynamic schema is wrong; ordered pins lower <= point <= upper
      s.sql("""SELECT g, 95 AS level, size(fc.point_forecast) AS n_points,
              |       size(fc.lower_95) AS n_lower, size(fc.upper_95) AS n_upper,
              |       forall(zip_with(fc.lower_95, fc.upper_95, (l, u) -> l <= u),
              |              x -> x) AS ordered
              |FROM (SELECT g, fc_agg_95(ds, y) AS fc
              |      FROM _agg_events_dyn GROUP BY g) t
              |UNION ALL
              |SELECT g, 80 AS level, size(fc.point_forecast),
              |       size(fc.lower_80), size(fc.upper_80),
              |       forall(zip_with(fc.lower_80, fc.upper_80, (l, u) -> l <= u),
              |              x -> x)
              |FROM (SELECT g, fc_agg_80(ds, y) AS fc
              |      FROM _agg_events_dyn GROUP BY g) t""".stripMargin)
    }),
    "pagerank_sink" -> ((s, dir) =>
      graft.ops.GraphOps.pageRank(sinkEdges(s, dir), "s", "d",
        iters = PrIters, redistributeDangling = true)),
    // quality-aware canonical keep: per duplicate family keep the member
    // with the best (rounded) score, ties to the smaller id — replicated
    // docs carry DISTINCT deterministic scores so the winner is data-driven,
    // not structurally the min id
    "dedup_keep_best" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val aug = docs.filter(col("doc_id") < 15)
      val tri = docs
        .unionByName(aug.select((col("doc_id") + lit(1000000L)).as("doc_id"),
          col("n_chars")))
        .unionByName(aug.select((col("doc_id") + lit(2000000L)).as("doc_id"),
          col("n_chars")))
        .withColumn("score",
          col("n_chars") * lit(1.0) + pmod(col("doc_id"), lit(97)) * lit(0.001))
      val pairs = aug.select(col("doc_id").as("id_a"),
          (col("doc_id") + lit(1000000L)).as("id_b"))
        .unionByName(aug.select(col("doc_id").as("id_a"),
          (col("doc_id") + lit(2000000L)).as("id_b")))
      graft.llm.TextOps.dedupKeepBest(tri, "doc_id", "score", pairs)
        .select(col("doc_id"))
    }),
    "ann_ivfpq_rerank_topk" -> ((s, dir) => {
      val c = corpus(s, dir)
      val model = PqOps.pqTrain(c, "vec_id", "embedding", M, NCodes, iters = 0)
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_rr").toString
      PqOps.ivfPqWriteIndex(c, "vec_id", "embedding", model, NLists, idxDir,
        withVectors = true)
      PqOps.ivfPqProbeIndexRerank(s, idxDir, c.filter(col("vec_id") < 5),
        "vec_id", "embedding", K, nProbe = NLists, kCand = KCand)
    }),
    // embedding-space decontamination (every 100th vector = the benchmark
    // set): exhaustive probing (nProbe = nLists) so the oracle is the
    // brute-force threshold relation — the IvfSpec identity
    "decontaminate_semantic" -> ((s, dir) => {
      val c = corpus(s, dir)
      val bench = c.filter(pmod(col("vec_id"), lit(100L)) === 0L)
      val cents = graft.llm.SimilarityOps.ivfTrain(c, "vec_id", "embedding",
        nLists = NLists, iters = 0)
      graft.llm.SimilarityOps.semanticDecontaminate(c, "vec_id", "embedding",
          bench, cents, minSim = SemTau, nProbe = NLists)
        .select(col("vec_id"))
    }),
    // content-defined chunking: boundaries from the rolling window hash,
    // greedy min/max rule — the full chunk table gates the whole chain
    "cdc_chunks" -> ((s, dir) =>
      graft.llm.TextOps.chunkContentDefined(
        table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", window = CdcW, avgBits = CdcBits,
        minLen = CdcMin, maxLen = CdcMax, seed = CdcSeed)),
    // cross-document shared content at sub-document granularity: replicas
    // of doc_id < 10 carry a PREFIX insertion, so fixed windows all shift
    // but CDC chunks downstream of the first boundary still collide
    "cdc_shared_chunks" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(lit("zz "), col("text")).as("text"))
      graft.llm.TextOps.cdcSharedChunks(docs.unionByName(aug), "doc_id",
        "text", minDocs = 2, window = CdcW, avgBits = CdcBits,
        minLen = CdcMin, maxLen = CdcMax, seed = CdcSeed)
    }),
    // trigram stupid-backoff LM at oracle-replayable caps (the bigram
    // row's discipline one context order up)
    "lm_trigram_score" -> ((s, dir) =>
      graft.llm.TextOps.trigramPerplexity(table(s, dir, "documents"),
          "doc_id", "text", vocabSize = 256, bigramVocabSize = 512,
          trigramVocabSize = 1024, alpha = 0.5, backoff = 0.4)
        .select(col("doc_id"), col("n_tokens"), col("sum_logp"))),
    // the disk round trip: fit once, persist all four tables + meta,
    // load, score — shares lm_trigram_score's oracle byte-for-byte
    "trigram_model_score" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val model = graft.llm.TextOps.trainTrigramLm(docs, "text",
        vocabSize = 256, bigramVocabSize = 512, trigramVocabSize = 1024,
        alpha = 0.5, backoff = 0.4)
      val mdlDir = java.nio.file.Files.createTempDirectory("graft_tri_lm").toString
      graft.llm.TextOps.writeTrigramLm(model, mdlDir)
      graft.llm.TextOps.trigramScoreWithModel(docs, "doc_id", "text",
          graft.llm.TextOps.loadTrigramLm(s, mdlDir))
        .select(col("doc_id"), col("n_tokens"), col("sum_logp"))
    }),
    "decontaminate_semantic_flags" -> ((s, dir) => {
      val c = corpus(s, dir)
      val bench = c.filter(pmod(col("vec_id"), lit(100L)) === 0L)
      val cents = graft.llm.SimilarityOps.ivfTrain(c, "vec_id", "embedding",
        nLists = NLists, iters = 0)
      graft.llm.SimilarityOps.semanticContaminationFlags(c, "vec_id",
          "embedding", bench, cents, minSim = SemTau, nProbe = NLists)
        .select(col("vec_id"), col("match_id"), col("match_sim"),
          col("contaminated"))
    })
  )

  private val SemTau = 0.35

  // CDC parameters: avg 64-char chunks keep the oracle's recursion shallow
  private val CdcW = 8
  private val CdcBits = 6
  private val CdcMin = 16
  private val CdcMax = 128
  private val CdcSeed = 7L

  /** The CDC chunk table replayed: per-position window folds select the
    * candidates, a recursive CTE walks the greedy min/max rule (the MMR
    * sequential-replay discipline), chunk hashes re-fold their slices. */
  private def cdcChunksCte(fromSql: String): String = {
    val P = 2147483647L
    val avg = 1 << CdcBits
    s"""cp AS (SELECT doc_id, length(text) AS n,
       |    list_transform(range(1, length(text) + 1),
       |      i -> CAST(ord(substr(text, i, 1)) AS BIGINT)) AS cps
       |  FROM $fromSql WHERE length(text) > 0),
       |cand AS (SELECT doc_id, CAST(i AS BIGINT) AS i
       |  FROM (SELECT doc_id, cps, unnest(range($CdcW, n + 1)) AS i FROM cp)
       |  WHERE list_reduce(list_prepend(CAST($CdcSeed AS BIGINT),
       |      list_slice(cps, i - $CdcW + 1, i)), (a, c) -> (a * 131 + c) % $P)
       |    % $avg = ${avg - 1}),
       |ch AS (
       |  SELECT doc_id, CAST(1 AS BIGINT) AS start,
       |    LEAST(n, coalesce((SELECT min(c.i) FROM cand c
       |        WHERE c.doc_id = cp.doc_id AND c.i >= $CdcMin AND c.i <= $CdcMax),
       |      CAST($CdcMax AS BIGINT))) AS fin
       |  FROM cp
       |  UNION ALL
       |  SELECT cp.doc_id, ch.fin + 1,
       |    LEAST(cp.n, coalesce((SELECT min(c.i) FROM cand c
       |        WHERE c.doc_id = cp.doc_id
       |          AND c.i >= ch.fin + $CdcMin AND c.i <= ch.fin + $CdcMax),
       |      ch.fin + $CdcMax)) AS fin
       |  FROM ch JOIN cp ON cp.doc_id = ch.doc_id
       |  WHERE ch.fin < cp.n
       |),
       |chunks AS (SELECT ch.doc_id,
       |  CAST(row_number() OVER (PARTITION BY ch.doc_id ORDER BY ch.start) - 1
       |    AS INT) AS chunk_idx,
       |  CAST(ch.start AS INT) AS start,
       |  CAST(ch.fin - ch.start + 1 AS INT) AS len,
       |  list_reduce(list_prepend(CAST($CdcSeed AS BIGINT),
       |    list_slice(cp.cps, ch.start, ch.fin)),
       |    (a, c) -> (a * 131 + c) % $P) AS chunk_hash
       |FROM ch JOIN cp USING (doc_id))""".stripMargin
  }

  private val CdcChunksSql =
    s"""WITH RECURSIVE
       |${cdcChunksCte("documents")}
       |SELECT doc_id, chunk_idx, start, len, chunk_hash FROM chunks""".stripMargin

  private val CdcSharedSql =
    s"""WITH RECURSIVE
       |${cdcChunksCte(
      """(SELECT doc_id, text FROM documents
        |   UNION ALL
        |   SELECT doc_id + 1000000, 'zz ' || text FROM documents
        |   WHERE doc_id < 10)""".stripMargin)}
       |SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_occurrences
       |FROM chunks GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin

  private val DynFieldsSql =
    """WITH g AS (SELECT DISTINCT event_type AS g FROM events),
      |lv AS (SELECT unnest([95, 80]) AS level)
      |SELECT g.g, lv.level, 12 AS n_points, 12 AS n_lower, 12 AS n_upper,
      |       TRUE AS ordered
      |FROM g, lv""".stripMargin

  /** All iterations unrolled in BIGINT `//` arithmetic including the
    * per-iteration dangling share `D_t // N` (the sink-mass term the op
    * adds inside the damped sum). */
  private val PageRankSinkSql = {
    val S = graft.ops.GraphOps.Scale
    val iters = (0 until PrIters).map { i =>
      s"""dg${i + 1} AS (SELECT CAST(coalesce(sum(p.pr), 0) AS BIGINT)
         |    // (SELECT n FROM nn) AS ds
         |  FROM pr$i p JOIN sinks sk USING (node)),
         |pr${i + 1} AS (SELECT nodes.node,
         |    (15 * ($S // nn.n)) // 100
         |      + (85 * (coalesce(ag.c, 0) + dg${i + 1}.ds)) // 100 AS pr
         |  FROM nodes CROSS JOIN nn CROSS JOIN dg${i + 1} LEFT JOIN (
         |    SELECT ed.d AS node, CAST(sum(p.pr // od.deg) AS BIGINT) AS c
         |    FROM ed JOIN pr$i p ON ed.s = p.node JOIN od ON od.s = ed.s
         |    GROUP BY ed.d) ag ON ag.node = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ed AS (SELECT doc_id AS s, (doc_id * 131 + 7) % $DstMod AS d
       |  FROM documents WHERE doc_id % 3 <> 0),
       |nodes AS (SELECT s AS node FROM ed UNION SELECT d FROM ed),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |od AS (SELECT s, count(*) AS deg FROM ed GROUP BY 1),
       |sinks AS (SELECT node FROM nodes
       |  WHERE node NOT IN (SELECT s FROM od)),
       |pr0 AS (SELECT node, ($S // nn.n) AS pr FROM nodes, nn),
       |$iters
       |SELECT node, pr AS pr_scaled,
       |  round(CAST(pr AS DOUBLE) / $S.0, 6) AS pr
       |FROM pr$PrIters""".stripMargin
  }

  /** The V29 zero-iteration PQ replay extended with the refine step:
    * ADC top-`KCand` cut, then exact cosine on the candidates' raw
    * vectors, both on the 6-decimal grid with vid tiebreaks. */
  private val RerankOracle =
    s"""WITH base AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |subs AS (SELECT unnest(range(0, $M)) AS sub),
       |sc AS (SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INT) AS code, v
       |  FROM (SELECT vid, v FROM base ORDER BY vid LIMIT $NCodes)),
       |cb AS (SELECT CAST(subs.sub AS INT) AS sub, sc.code,
       |    list_slice(sc.v, subs.sub * $SubDim + 1, subs.sub * $SubDim + $SubDim) AS cent
       |  FROM sc CROSS JOIN subs),
       |sv AS (SELECT vid, CAST(subs.sub AS INT) AS sub,
       |    list_slice(v, subs.sub * $SubDim + 1, subs.sub * $SubDim + $SubDim) AS subv
       |  FROM base CROSS JOIN subs),
       |dists AS (SELECT vid, sv.sub, cb.code,
       |    list_reduce(list_transform(range(1, $SubDim + 1),
       |      i -> (subv[i] - cent[i]) * (subv[i] - cent[i])), (a, b) -> a + b) AS d
       |  FROM sv JOIN cb ON sv.sub = cb.sub),
       |enc AS (SELECT vid, sub, code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vid, sub ORDER BY d, code) AS rn
       |    FROM dists) WHERE rn = 1),
       |q AS (SELECT vid AS qid, v AS qv FROM base WHERE vid < 5),
       |qsv AS (SELECT qid, CAST(subs.sub AS INT) AS sub,
       |    list_slice(qv, subs.sub * $SubDim + 1, subs.sub * $SubDim + $SubDim) AS qsubv
       |  FROM q CROSS JOIN subs),
       |lut AS (SELECT qid, qsv.sub, cb.code,
       |    list_reduce(list_transform(range(1, $SubDim + 1),
       |      i -> qsubv[i] * cent[i]), (a, b) -> a + b) AS dv
       |  FROM qsv JOIN cb ON qsv.sub = cb.sub),
       |adc AS (SELECT l.qid, e.vid,
       |    list_reduce(list(l.dv ORDER BY l.sub), (a, b) -> a + b) AS raw
       |  FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
       |  GROUP BY 1, 2),
       |cand AS (SELECT qid, vid FROM (
       |    SELECT qid, vid, row_number() OVER (PARTITION BY qid
       |      ORDER BY round(raw, 6) DESC, vid) AS rk
       |    FROM adc) WHERE rk <= $KCand),
       |ex AS (SELECT c.qid, c.vid,
       |    (round(list_cosine_similarity(q.qv, b.v), 6) + 0.0) AS score
       |  FROM cand c JOIN q USING (qid) JOIN base b ON b.vid = c.vid),
       |r AS (SELECT qid, vid, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS rk
       |  FROM ex WHERE NOT isnan(score))
       |SELECT qid, vid, score FROM r WHERE rk <= $K""".stripMargin

  private val KeepBestSql =
    """WITH tri AS (SELECT doc_id, n_chars FROM documents
      |  UNION ALL SELECT doc_id + 1000000, n_chars FROM documents WHERE doc_id < 15
      |  UNION ALL SELECT doc_id + 2000000, n_chars FROM documents WHERE doc_id < 15),
      |sc AS (SELECT doc_id,
      |    round(n_chars * 1.0 + (doc_id % 97) * 0.001, 6) AS s FROM tri),
      |fam AS (SELECT doc_id, doc_id % 1000000 AS base, s FROM sc
      |  WHERE doc_id % 1000000 < 15),
      |win AS (SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (PARTITION BY base
      |      ORDER BY s DESC, doc_id) AS rk FROM fam) WHERE rk = 1),
      |losers AS (SELECT doc_id FROM fam
      |  WHERE doc_id NOT IN (SELECT doc_id FROM win))
      |SELECT doc_id FROM tri
      |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin

  private val SemDeconSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT * FROM e WHERE vec_id % 100 = 0),
       |bad AS (SELECT DISTINCT e.vec_id FROM e, b
       |  WHERE list_dot_product(e.v, e.v) > 0
       |    AND NOT isnan(list_cosine_similarity(e.v, b.v))
       |    AND round(list_cosine_similarity(e.v, b.v), 6) >= $SemTau)
       |SELECT vec_id FROM e
       |WHERE vec_id NOT IN (SELECT vec_id FROM bad)""".stripMargin

  private val SemFlagsSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT * FROM e WHERE vec_id % 100 = 0),
       |q AS (SELECT e.vec_id AS ida, b.vec_id AS idb,
       |    round(list_cosine_similarity(e.v, b.v), 6) AS sim
       |  FROM e, b
       |  WHERE list_dot_product(e.v, e.v) > 0
       |    AND NOT isnan(list_cosine_similarity(e.v, b.v))
       |    AND round(list_cosine_similarity(e.v, b.v), 6) >= $SemTau),
       |best AS (SELECT ida, idb, sim FROM (
       |    SELECT ida, idb, sim, row_number() OVER (PARTITION BY ida
       |      ORDER BY sim DESC, idb) AS rk FROM q) WHERE rk = 1)
       |SELECT e.vec_id, best.idb AS match_id, best.sim AS match_sim,
       |  best.idb IS NOT NULL AS contaminated
       |FROM e LEFT JOIN best ON best.ida = e.vec_id""".stripMargin

  /** Full replay of the trigram stupid-backoff LM: top-256 vocab, top-512
    * in-vocab-context bigrams, top-1024 trigrams restricted to stored
    * bigram contexts (all with count-desc, gram-ascending tiebreaks), the
    * three-tier CASE in the op's exact arithmetic order
    * (c₃/c₂ → 0.4·(c₂/c₁) → 0.4·0.4·P_uni), rounded-DECIMAL sums. 0.4 and
    * 0.5 parse to identical binary doubles in both engines. */
  private val TrigramScoreSql =
    """WITH tk AS (SELECT doc_id,
      |       list_filter(string_split_regex(trim(text), '[ \t\n\r\f]+'),
      |                   x -> len(x) > 0) AS toks
      |     FROM documents),
      |ex AS (SELECT doc_id, toks[p] AS w,
      |         CASE WHEN p > 1 THEN toks[p - 1] END AS wp,
      |         CASE WHEN p > 2 THEN toks[p - 2] END AS wpp
      |       FROM (SELECT doc_id, toks, UNNEST(generate_series(1, len(toks))) AS p
      |             FROM tk WHERE len(toks) > 0)),
      |counts AS (SELECT w AS token, count(*) AS cnt FROM ex GROUP BY 1),
      |n AS (SELECT sum(cnt) AS nn FROM counts),
      |vocab AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 256),
      |big AS (SELECT b1, b2, cnt2 FROM
      |          (SELECT wp AS b1, w AS b2, count(*) AS cnt2 FROM ex
      |           WHERE wp IS NOT NULL GROUP BY 1, 2)
      |        JOIN vocab cv ON b1 = cv.token
      |        ORDER BY cnt2 DESC, b1 ASC, b2 ASC LIMIT 512),
      |tri AS (SELECT t1, t2, t3, cnt3 FROM
      |          (SELECT wpp AS t1, wp AS t2, w AS t3, count(*) AS cnt3 FROM ex
      |           WHERE wpp IS NOT NULL GROUP BY 1, 2, 3)
      |        JOIN big ON t1 = big.b1 AND t2 = big.b2
      |        ORDER BY cnt3 DESC, t1 ASC, t2 ASC, t3 ASC LIMIT 1024),
      |sc AS (SELECT e.doc_id,
      |         CASE WHEN e.wp IS NULL THEN ln(puni)
      |              WHEN e.wpp IS NULL THEN ln(s2)
      |              ELSE ln(CASE WHEN tg.cnt3 IS NOT NULL
      |                           THEN tg.cnt3 / bctx.cnt2
      |                           ELSE 0.4 * s2 END)
      |         END AS lp
      |       FROM (SELECT e0.*,
      |               (coalesce(v.cnt, 0) + 0.5) / (n.nn + 0.5 * 257) AS puni,
      |               CASE WHEN bxy.cnt2 IS NOT NULL AND c1.cnt IS NOT NULL
      |                    THEN bxy.cnt2 / c1.cnt
      |                    ELSE 0.4 * ((coalesce(v.cnt, 0) + 0.5) / (n.nn + 0.5 * 257)) END AS s2
      |             FROM ex e0
      |             LEFT JOIN vocab v ON e0.w = v.token
      |             LEFT JOIN vocab c1 ON e0.wp = c1.token
      |             LEFT JOIN big bxy ON e0.wp = bxy.b1 AND e0.w = bxy.b2, n) e
      |       LEFT JOIN big bctx ON e.wpp = bctx.b1 AND e.wp = bctx.b2
      |       LEFT JOIN tri tg ON e.wpp = tg.t1 AND e.wp = tg.t2 AND e.w = tg.t3),
      |agg AS (SELECT doc_id, count(*) AS n_tokens,
      |          CAST(sum(CAST(round(lp, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_logp
      |        FROM sc GROUP BY 1)
      |SELECT k.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
      |       coalesce(a.sum_logp, 0.0) AS sum_logp
      |FROM tk k LEFT JOIN agg a USING (doc_id)""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "ts_forecast_agg_dynfields" -> DynFieldsSql,
    "dedup_keep_best" -> KeepBestSql,
    "decontaminate_semantic" -> SemDeconSql,
    "decontaminate_semantic_flags" -> SemFlagsSql,
    "lm_trigram_score" -> TrigramScoreSql,
    "trigram_model_score" -> TrigramScoreSql,
    "cdc_chunks" -> CdcChunksSql,
    "cdc_shared_chunks" -> CdcSharedSql,
    "pagerank_sink" -> PageRankSinkSql,
    "ann_ivfpq_rerank_topk" -> RerankOracle
  )
}
