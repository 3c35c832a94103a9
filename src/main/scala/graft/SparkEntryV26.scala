package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.llm.{ClassifierOps, DsirOps, TextOps}
import graft.streaming.IngestPipeline

/** Twenty-sixth batch: the composed ingest pipeline, hash-gated end to end
  * (round-8, VERDICT r7 Next #6).
  *
  * `curate_pipeline_e2e` drives [[IngestPipeline.curateBatch]] — the batch
  * twin of the streaming curation chain — through every stage on one
  * fixture: html_strip → text_normalize → C4 → Gopher → NB gate → DSIR
  * score → bigram-LM score → first-per-fingerprint dedup. Every stage
  * already has its own hash-exact row; this row gates the COMPOSITION
  * (stage order, column threading, the gate conjunction, and the dedup on
  * the post-normalization text), replaying the whole chain in one DuckDB
  * CTE pipeline assembled from the per-stage oracle constructions.
  *
  * Fixture design: even docs get a planted sentence+stopword suffix (so C4's
  * sentence floor and Gopher's stopword floor pass — the raw synthetic text
  * has no [.!?]); %6 docs are wrapped in div+script HTML (the strip stage
  * does real work, and its 'javascript' text must NOT leak into C4's
  * disqualifier); copies of docs < 25 re-enter under +1,000,000 ids (the
  * disjoint-slice offset convention) and must be removed by the dedup —
  * identical raw text ⇒ identical curated text ⇒ identical gate outcomes,
  * so a copy in the output means the fingerprint dedup broke. The NB model
  * trains on the curated standing corpus with label = even(doc_id) (the
  * planted suffix IS the separating signal); DSIR targets the %10 slice;
  * the bigram LM self-trains — all three models fit on originals only, as
  * the offline-fit steady state prescribes. Numeric gate thresholds are set
  * permissive (−1e9 / 1e9): threshold tuning is corpus policy, while the
  * scores they would cut on are emitted as output columns, so every trained
  * stage's values are still hash-gated through the composition.
  */
object SparkEntryV26 extends EntryPart {

  private val HtmlPre = "<div class=\"a\">"
  private val HtmlPost =
    "</div>\n<script type=\"text/javascript\">var x = 1 < 2;</script>"

  private val DsirBuckets = 4096

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "curate_pipeline_e2e" -> ((s, dir) => {
      val base = table(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(PlantGood), lit(PlantStops)))
          .otherwise(col("text")).as("t0"))
      val dupd = base.unionByName(base.filter(col("doc_id") < 25)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("t0")))
      val withHtml = dupd.select(col("doc_id"),
        when((col("doc_id") % 1000000L) % 6 === 0,
          concat(lit(HtmlPre), col("t0"), lit(HtmlPost)))
          .otherwise(col("t0")).as("text"))
        .withColumn("ts", col("doc_id"))
      // offline model fit on the curated STANDING corpus (originals only),
      // through the same strip+normalize the gates apply
      val standing = TextOps.textNormalize(
        TextOps.htmlStrip(withHtml.filter(col("doc_id") < 1000000L),
            "text", out = "_p")
          .drop("text").withColumnRenamed("_p", "text"),
        "text", out = "text")
      val nbDf = ClassifierOps.nbTrain(
        standing.filter(col("doc_id") < 500)
          .withColumn("label", col("doc_id") % 2 === 0),
        "text", "label", numBuckets = NbBuckets, alpha = 0.5, seed = NbSeed)
      val dsir = DsirOps.fitModel(standing,
        standing.filter(col("doc_id") % 10 === 0), "text",
        numBuckets = DsirBuckets, seed = DsirSeed, alpha = 0.5)
      val bigram = TextOps.trainBigramLm(standing, "text",
        vocabSize = 256, bigramVocabSize = 512, alpha = 0.5, lambda = 0.75)
      val models = IngestPipeline.GateModels(
        ClassifierOps.NbModel(nbDf, NbBuckets, NbSeed),
        dsir, minLogw = -1e9, bigram, maxPerplexity = 1e9)
      IngestPipeline.curateBatch(withHtml, "ts", "text", models)
        .select(col("doc_id"), col("n_tokens"), col("sum_logp"),
          round(col("nb_score"), 6).as("nb_score"),
          (round(col("logw"), 6) + lit(0.0)).as("logw"))
    })
  )

  private def sqlLit(s: String): String =
    "'" + s.replace("\n", "' || chr(10) || '") + "'"

  /** DSIR unigram+bigram hashed features of a `(doc_id, text)` relation
    * (the V21 replay). */
  private def featCte(from: String, p: String): String =
    s"""${p}tk AS (SELECT *, list_filter(string_split_regex(lower(trim(text)),
       |    '[ \\t\\n\\r\\f]+'), x -> len(x) > 0) AS ${p}ts FROM $from),
       |${p}fs AS (SELECT *, unnest(${p}ts ||
       |    list_transform(range(1, greatest(len(${p}ts), 1)),
       |      i -> ${p}ts[i] || ' ' || ${p}ts[i + 1])) AS ${p}tok FROM ${p}tk),
       |${p}bk AS (SELECT *, list_reduce(list_prepend(CAST($DsirSeed AS BIGINT),
       |    list_transform(range(1, len(${p}tok) + 1),
       |      i -> CAST(ord(${p}tok[i:i]) AS BIGINT))),
       |    (a, c) -> (a * 131 + c) % 2147483647) % $DsirBuckets AS ${p}bkt
       |  FROM ${p}fs WHERE ${p}tok IS NOT NULL)""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "curate_pipeline_e2e" -> {
      val good = sqlLit(PlantGood + PlantStops)
      val pre = sqlLit(HtmlPre)
      val post = sqlLit(HtmlPost)
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN text || $good ELSE text END AS t0
         |  FROM documents),
         |dupd AS (SELECT doc_id, t0 FROM raw
         |  UNION ALL SELECT doc_id + 1000000, t0 FROM raw WHERE doc_id < 25),
         |aug AS (SELECT doc_id,
         |    CASE WHEN (doc_id % 1000000) % 6 = 0 THEN $pre || t0 || $post
         |         ELSE t0 END AS t
         |  FROM dupd),
         |${SparkEntryV19.HtmlStripCtes},
         |cur AS (SELECT doc_id,
         |  trim(lower(regexp_replace(t, '[ \\t\\n\\r\\f]+', ' ', 'g'))) AS text
         |  FROM stripped),
         |-- C4 heuristics on the curated text (one post-normalize line)
         |c4sig AS (SELECT doc_id, text AS t,
         |  len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+'), x -> len(x) > 0)) AS n_words,
         |  length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) AS n_sentences
         |  FROM cur),
         |c4 AS (SELECT doc_id,
         |  (n_sentences >= 3 AND n_words >= 5
         |   AND NOT contains(lower(t), 'lorem ipsum')
         |   AND NOT contains(t, '{')
         |   AND NOT contains(lower(t), 'javascript')) AS c4_keep
         |  FROM c4sig),
         |-- Gopher heuristics
         |gsig AS (SELECT doc_id, text AS t,
         |  list_filter(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+'), x -> len(x) > 0) AS ws,
         |  list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> len(x) > 0) AS lines
         |  FROM cur),
         |gsig2 AS (SELECT doc_id, t, len(ws) AS n_words,
         |  CASE WHEN len(ws) > 0
         |       THEN list_sum(list_transform(ws, x -> len(x))) * 1.0 / len(ws) ELSE 0.0 END AS mean_word_len,
         |  CASE WHEN len(ws) > 0
         |       THEN (length(t) - length(regexp_replace(t, '[#…]', '', 'g'))) * 1.0 / len(ws)
         |       ELSE 0.0 END AS symbol_word_ratio,
         |  CASE WHEN len(lines) > 0
         |       THEN len(list_filter(lines, x -> regexp_matches(x, '^[-*•]'))) * 1.0 / len(lines)
         |       ELSE 0.0 END AS bullet_line_ratio,
         |  CASE WHEN len(lines) > 0
         |       THEN len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)$$'))) * 1.0 / len(lines)
         |       ELSE 0.0 END AS ellipsis_line_ratio,
         |  CASE WHEN len(ws) > 0
         |       THEN len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(ws)
         |       ELSE 0.0 END AS alpha_word_ratio,
         |  (CASE WHEN contains(' ' || lower(t) || ' ', ' the ') THEN 1 ELSE 0 END
         |   + CASE WHEN contains(' ' || lower(t) || ' ', ' be ') THEN 1 ELSE 0 END
         |   + CASE WHEN contains(' ' || lower(t) || ' ', ' to ') THEN 1 ELSE 0 END
         |   + CASE WHEN contains(' ' || lower(t) || ' ', ' of ') THEN 1 ELSE 0 END
         |   + CASE WHEN contains(' ' || lower(t) || ' ', ' and ') THEN 1 ELSE 0 END
         |   + CASE WHEN contains(' ' || lower(t) || ' ', ' that ') THEN 1 ELSE 0 END
         |   + CASE WHEN contains(' ' || lower(t) || ' ', ' have ') THEN 1 ELSE 0 END
         |   + CASE WHEN contains(' ' || lower(t) || ' ', ' with ') THEN 1 ELSE 0 END) AS stopword_hits
         |  FROM gsig),
         |gk AS (SELECT doc_id,
         |  (n_words >= 50 AND n_words <= 100000
         |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |   AND symbol_word_ratio <= 0.1
         |   AND bullet_line_ratio <= 0.9
         |   AND ellipsis_line_ratio <= 0.3
         |   AND alpha_word_ratio >= 0.8
         |   AND stopword_hits >= 2) AS gopher_keep
         |  FROM gsig2),
         |-- NB gate: train on curated originals < 500, label = even(doc_id)
         |lab AS (SELECT doc_id, text AS t, (doc_id % 2 = 0) AS y FROM cur),
         |train AS (SELECT * FROM lab WHERE doc_id < 500),
         |tb AS (${nbBucketSql("train")}),
         |cnt AS (SELECT bucket,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
         |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
         |  FROM tb GROUP BY 1),
         |tot AS (SELECT sum(c_pos) AS np, sum(c_neg) AS nn FROM cnt),
         |model AS (SELECT bucket,
         |    (round(ln((c_pos + 0.5) / (np + 32.0)) - ln((c_neg + 0.5) / (nn + 32.0)), 6) + 0.0) AS llr
         |  FROM cnt, tot),
         |fb AS (SELECT (round(ln(0.5 / (np + 32.0)) - ln(0.5 / (nn + 32.0)), 6) + 0.0) AS llr FROM tot),
         |pri AS (SELECT (round(ln((sum(CASE WHEN y THEN 1 ELSE 0 END) + 1) /
         |              (sum(CASE WHEN y THEN 0 ELSE 1 END) + 1)), 6) + 0.0) AS llr
         |  FROM train),
         |sb AS (${nbBucketSql("lab")}),
         |nbper AS (SELECT sb.doc_id,
         |    sum(CAST(coalesce(m.llr, (SELECT llr FROM fb)) AS DECIMAL(28,6))) AS s
         |  FROM sb LEFT JOIN model m USING (bucket) GROUP BY 1),
         |nb AS (SELECT l.doc_id,
         |  CAST(coalesce(p.s, CAST(0 AS DECIMAL(28,6)))
         |    + CAST((SELECT llr FROM pri) AS DECIMAL(28,6)) AS DOUBLE) AS nb_score
         |  FROM lab l LEFT JOIN nbper p USING (doc_id)),
         |-- DSIR: target = curated originals %10, corpus = curated originals
         |${featCte("(SELECT doc_id, text FROM cur WHERE doc_id % 10 = 0 AND doc_id < 1000000)", "t")},
         |${featCte("(SELECT doc_id, text FROM cur WHERE doc_id < 1000000)", "r")},
         |${featCte("(SELECT doc_id, text FROM cur)", "q")},
         |ct AS (SELECT tbkt AS bkt, count(*) AS c FROM tbk GROUP BY 1),
         |crr AS (SELECT rbkt AS bkt, count(*) AS c FROM rbk GROUP BY 1),
         |dtot AS (SELECT (SELECT coalesce(sum(c), 0) FROM ct) AS tt,
         |                (SELECT coalesce(sum(c), 0) FROM crr) AS tr),
         |lr AS (SELECT coalesce(ct.bkt, crr.bkt) AS bkt,
         |    ln((coalesce(ct.c, 0) + 0.5) / (tt + 0.5 * $DsirBuckets))
         |      - ln((coalesce(crr.c, 0) + 0.5) / (tr + 0.5 * $DsirBuckets)) AS v
         |  FROM ct FULL OUTER JOIN crr ON ct.bkt = crr.bkt, dtot),
         |lr0 AS (SELECT ln(0.5 / (tt + 0.5 * $DsirBuckets))
         |      - ln(0.5 / (tr + 0.5 * $DsirBuckets)) AS v FROM dtot),
         |dper AS (SELECT qbk.doc_id, sum(coalesce(lr.v, (SELECT v FROM lr0))) AS logw
         |  FROM qbk LEFT JOIN lr ON qbk.qbkt = lr.bkt GROUP BY 1),
         |ds AS (SELECT c.doc_id, coalesce(p.logw, 0.0) AS logw
         |  FROM cur c LEFT JOIN dper p USING (doc_id)),
         |-- bigram LM: train on curated originals, score everything
         |btk AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '[ \\t\\n\\r\\f]+'),
         |                x -> len(x) > 0) AS toks
         |  FROM cur),
         |bex AS (SELECT doc_id, toks[p] AS w,
         |    CASE WHEN p > 1 THEN toks[p - 1] END AS wp
         |  FROM (SELECT doc_id, toks, UNNEST(generate_series(1, len(toks))) AS p
         |        FROM btk WHERE len(toks) > 0)),
         |bcounts AS (SELECT w AS token, count(*) AS cnt FROM bex
         |  WHERE doc_id < 1000000 GROUP BY 1),
         |bn AS (SELECT sum(cnt) AS nn FROM bcounts),
         |bvocab AS (SELECT token, cnt FROM bcounts ORDER BY cnt DESC, token ASC LIMIT 256),
         |bbig AS (SELECT b1, b2, cnt2 FROM
         |    (SELECT wp AS b1, w AS b2, count(*) AS cnt2 FROM bex
         |     WHERE wp IS NOT NULL AND doc_id < 1000000 GROUP BY 1, 2)
         |  JOIN bvocab cv ON b1 = cv.token
         |  ORDER BY cnt2 DESC, b1 ASC, b2 ASC LIMIT 512),
         |bsc AS (SELECT e.doc_id,
         |    CASE WHEN e.wp IS NULL OR c2.cnt IS NULL
         |         THEN ln((coalesce(v.cnt, 0) + 0.5) / (bn.nn + 0.5 * 257))
         |         ELSE ln(0.75 * (CASE WHEN b.cnt2 IS NOT NULL
         |                              THEN b.cnt2 / c2.cnt ELSE 0.0 END)
         |                 + 0.25 * ((coalesce(v.cnt, 0) + 0.5) / (bn.nn + 0.5 * 257)))
         |    END AS lp
         |  FROM bex e
         |  LEFT JOIN bvocab v ON e.w = v.token
         |  LEFT JOIN bvocab c2 ON e.wp = c2.token
         |  LEFT JOIN bbig b ON e.wp = b.b1 AND e.w = b.b2, bn),
         |bagg AS (SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(CAST(round(lp, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_logp
         |  FROM bsc GROUP BY 1),
         |bg AS (SELECT k.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
         |    coalesce(a.sum_logp, 0.0) AS sum_logp
         |  FROM btk k LEFT JOIN bagg a USING (doc_id)),
         |-- gate conjunction + first-occurrence-per-curated-text dedup
         |gated AS (SELECT cur.doc_id, cur.text, bg.n_tokens, bg.sum_logp,
         |    nb.nb_score, ds.logw
         |  FROM cur JOIN c4 USING (doc_id) JOIN gk USING (doc_id)
         |    JOIN nb USING (doc_id) JOIN ds USING (doc_id) JOIN bg USING (doc_id)
         |  WHERE c4.c4_keep AND gk.gopher_keep AND nb.nb_score > 0.0
         |    AND ds.logw >= -1e9
         |    AND (CASE WHEN bg.n_tokens > 0
         |              THEN exp(-bg.sum_logp / bg.n_tokens) END) <= 1e9),
         |dedup AS (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |  FROM gated)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, sum_logp,
         |  round(nb_score, 6) AS nb_score, (round(logw, 6) + 0.0) AS logw
         |FROM dedup WHERE rn = 1""".stripMargin
    }
  )
}
