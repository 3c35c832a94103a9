package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.llm.{ClassifierOps, TextOps}

/** Nineteenth batch: the hashed Naive-Bayes quality classifier (the
  * fasttext-style linear gate of the public pretraining pipelines — Brown
  * et al. 2020 §A.2, Wenzek et al. 2020 §4.3), partial-overlap
  * decontamination (max n-gram-set Jaccard vs the benchmark set), and
  * HTML/markup stripping (the extraction pass that precedes every
  * text-level curation op). */
object SparkEntryV19 extends EntryPart {

  // ---- classifier fixtures: planted class-marker tokens on the word-soup
  // corpus (label = doc_id parity; train on doc_id < 500, score everything)
  private val PlantPos = " excellentmarker insightful prose"
  private val PlantNeg = " spamflag clickbait junk"

  private[graft] def nbAug(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 2 === 0, concat(col("text"), lit(PlantPos)))
        .otherwise(concat(col("text"), lit(PlantNeg))).as("text_aug"),
      (col("doc_id") % 2 === 0).as("label"))

  // ---- jaccard-decontamination fixtures: benchmark = verbatim copies of
  // the %40 docs (jaccard 1.0) + first-half truncations of the %30 docs
  // (partial overlap) — both report branches exercised at n = 5
  private def jcBench(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val toks = split(trim(col("text")), "[ \\t\\n\\r\\f]+")
    // offsets must keep the two bench slices DISJOINT at every scale
    // (doc_id+5000 vs doc_id+9000 collided at sf0.1's 5000 docs: gid 9000
    // was both doc 4000's full text and doc 0's half text, and the two
    // engines merge a collided gid's gram sets differently)
    docs.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + lit(10000000L)).as("bench_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + lit(20000000L)).as("bench_id"),
          array_join(slice(toks, lit(1), floor(size(toks) / 2).cast("int")), " ").as("text")))
  }

  // ---- html fixtures: three plant shapes exercising script/style/comment
  // removal, block-tag newlines, tag strip, and all six entities
  private def htmlAug(id: Column, text: Column): Column =
    when(id % 3 === 0,
      concat(lit("<div class=\"a\">"), text,
        lit("</div>\n<script type=\"text/javascript\">var x = 1 < 2;</script>")))
      .when(id % 4 === 0,
        concat(lit("<p>Intro &amp; notes</p><!-- hidden --><ul><li>"), text,
          lit("</li></ul><style>p { color: red; }</style>")))
      .when(id % 5 === 0,
        concat(text, lit(" &lt;tag&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b")))
      .otherwise(text)

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "classifier_nb_train" -> ((s, dir) =>
      ClassifierOps.nbTrain(nbAug(s, dir).filter(col("doc_id") < 500),
          "text_aug", "label", numBuckets = NbBuckets, alpha = 0.5, seed = NbSeed)
        .select(col("bucket"), col("c_pos"), col("c_neg"), col("llr"))),
    "classifier_nb_score" -> ((s, dir) => {
      val aug = nbAug(s, dir)
      ClassifierOps.nbScore(aug, "doc_id", "text_aug",
          ClassifierOps.nbTrain(aug.filter(col("doc_id") < 500), "text_aug", "label",
            numBuckets = NbBuckets, alpha = 0.5, seed = NbSeed),
          numBuckets = NbBuckets, seed = NbSeed)
        .select(col("doc_id"), col("n_tokens"),
          round(col("nb_score"), 6).as("nb_score"), col("nb_pred"))
    }),
    // the streaming-compatible scorer (broadcast scaled-long map) on the
    // same corpus — EXACT parity with nbScore, so it shares its oracle
    "classifier_nb_broadcast" -> ((s, dir) => {
      val aug = nbAug(s, dir)
      ClassifierOps.nbScoreBroadcast(aug, "text_aug",
          ClassifierOps.nbTrain(aug.filter(col("doc_id") < 500), "text_aug", "label",
            numBuckets = NbBuckets, alpha = 0.5, seed = NbSeed),
          numBuckets = NbBuckets, seed = NbSeed)
        .select(col("doc_id"), col("n_tokens"),
          round(col("nb_score"), 6).as("nb_score"), col("nb_pred"))
    }),
    "decontaminate_jaccard" -> ((s, dir) =>
      TextOps.jaccardContamination(
          table(s, dir, "documents").select(col("doc_id"), col("text")),
          jcBench(s, dir), "doc_id", "bench_id", "text", n = 5, threshold = 0.5)
        .select(col("doc_id"), col("n_grams"),
          round(col("max_jaccard"), 6).as("max_jaccard"), col("jaccard_keep"))),
    "html_strip" -> ((s, dir) =>
      TextOps.htmlStrip(
          table(s, dir, "documents")
            .withColumn("text_html", htmlAug(col("doc_id"), col("text"))),
          "text_html", out = "text_plain")
        .select(col("doc_id"), col("text_plain"))),
  )

  // ------------------------------------------------------------- oracles

  private val NbAugSql =
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 2 = 0 THEN text || '$PlantPos'
       |       ELSE text || '$PlantNeg' END AS t,
       |  (doc_id % 2 = 0) AS y
       |FROM documents""".stripMargin

  // alpha = 0.5, alpha*B = 32.0 (exact binary doubles on both engines)
  private val NbModelSql =
    s"""lab AS ($NbAugSql),
       |train AS (SELECT * FROM lab WHERE doc_id < 500),
       |tb AS (${nbBucketSql("train")}),
       |cnt AS (SELECT bucket,
       |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
       |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
       |  FROM tb GROUP BY 1),
       |tot AS (SELECT sum(c_pos) AS np, sum(c_neg) AS nn FROM cnt),
       |model AS (SELECT bucket, c_pos, c_neg,
       |    (round(ln((c_pos + 0.5) / (np + 32.0)) - ln((c_neg + 0.5) / (nn + 32.0)), 6) + 0.0) AS llr
       |  FROM cnt, tot),
       |fb AS (SELECT CAST(NULL AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS c_pos,
       |    CAST(0 AS BIGINT) AS c_neg,
       |    (round(ln(0.5 / (np + 32.0)) - ln(0.5 / (nn + 32.0)), 6) + 0.0) AS llr FROM tot),
       |pri AS (SELECT CAST(-1 AS BIGINT) AS bucket,
       |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
       |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg,
       |    (round(ln((sum(CASE WHEN y THEN 1 ELSE 0 END) + 1) /
       |              (sum(CASE WHEN y THEN 0 ELSE 1 END) + 1)), 6) + 0.0) AS llr
       |  FROM train)""".stripMargin

  private val NbTrainSql =
    s"""WITH $NbModelSql
       |SELECT bucket, c_pos, c_neg, llr FROM model
       |UNION ALL SELECT * FROM fb
       |UNION ALL SELECT * FROM pri""".stripMargin

  private val NbScoreSql =
    s"""WITH $NbModelSql,
       |sb AS (${nbBucketSql("lab")}),
       |per AS (SELECT sb.doc_id, count(*) AS n_tokens,
       |    sum(CAST(coalesce(m.llr, (SELECT llr FROM fb)) AS DECIMAL(28,6))) AS s
       |  FROM sb LEFT JOIN model m USING (bucket) GROUP BY 1)
       |SELECT l.doc_id,
       |  coalesce(p.n_tokens, 0) AS n_tokens,
       |  round(CAST(coalesce(p.s, CAST(0 AS DECIMAL(28,6)))
       |    + CAST((SELECT llr FROM pri) AS DECIMAL(28,6)) AS DOUBLE), 6) AS nb_score,
       |  CAST(coalesce(p.s, CAST(0 AS DECIMAL(28,6)))
       |    + CAST((SELECT llr FROM pri) AS DECIMAL(28,6)) AS DOUBLE) > 0.0 AS nb_pred
       |FROM lab l LEFT JOIN per p USING (doc_id)""".stripMargin

  /** Distinct word-5-gram set per doc of a (gid, text) relation. */
  private def gramSetSql(from: String): String =
    s"""SELECT DISTINCT gid, array_to_string(list_slice(_t, _i, _i + 4), ' ') AS gram
       |  FROM (SELECT gid, _t, UNNEST(generate_series(1, len(_t) - 4)) AS _i
       |        FROM (SELECT gid, string_split_regex(trim(txt), '[ \\t\\n\\r\\f]+') AS _t
       |              FROM $from)
       |        WHERE len(_t) >= 5)""".stripMargin

  private val JaccardDecontSql =
    s"""WITH bench AS (
       |  SELECT doc_id + 10000000 AS gid, text AS txt FROM documents WHERE doc_id % 40 = 0
       |  UNION ALL
       |  SELECT doc_id + 20000000 AS gid,
       |    array_to_string(list_slice(_t, 1, len(_t) // 2), ' ') AS txt
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\r\\f]+') AS _t
       |        FROM documents WHERE doc_id % 30 = 0)),
       |corp AS (SELECT doc_id AS gid, text AS txt FROM documents),
       |cg AS (${gramSetSql("corp")}),
       |bg AS (${gramSetSql("bench")}),
       |cs AS (SELECT gid, count(*) AS na FROM cg GROUP BY 1),
       |bs AS (SELECT gid, count(*) AS nb FROM bg GROUP BY 1),
       |iv AS (SELECT c.gid AS cid, b.gid AS bid, count(*) AS inter
       |       FROM cg c JOIN bg b USING (gram) GROUP BY 1, 2),
       |best AS (SELECT cid, max(CAST(inter AS DOUBLE) / (na + nb - inter)) AS mj
       |         FROM iv JOIN cs ON cs.gid = iv.cid JOIN bs ON bs.gid = iv.bid
       |         GROUP BY 1)
       |SELECT d.doc_id, coalesce(cs.na, 0) AS n_grams,
       |  round(coalesce(best.mj, 0.0), 6) AS max_jaccard,
       |  coalesce(best.mj, 0.0) < 0.5 AS jaccard_keep
       |FROM documents d
       |LEFT JOIN cs ON cs.gid = d.doc_id
       |LEFT JOIN best ON best.cid = d.doc_id""".stripMargin

  /** The html-strip replay ([[graft.llm.TextOps.htmlStrip]]'s 9-stage regex
    * chain) as CTEs over a preceding CTE named `aug` exposing (doc_id, t);
    * the final CTE `stripped` carries the cleaned (doc_id, t). ONE copy
    * shared by this batch's html_strip oracle and the composed-pipeline
    * oracle (SparkEntryV26) — a regex change in the op has exactly one SQL
    * twin to update (the SampleOps.hashBucketSqlCtes convention). */
  private[graft] val HtmlStripCtes: String =
    """s1 AS (SELECT doc_id,
      |  regexp_replace(t, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM aug),
      |s2 AS (SELECT doc_id,
      |  regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id,
      |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
      |s4 AS (SELECT doc_id, regexp_replace(t,
      |  '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)[^>]*>', chr(10), 'g') AS t FROM s3),
      |s5 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s4),
      |s6 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
      |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      |  '&nbsp;', ' '), '&amp;', '&') AS t FROM s5),
      |s7 AS (SELECT doc_id, regexp_replace(t, '[ \t\f]+', ' ', 'g') AS t FROM s6),
      |s8 AS (SELECT doc_id, regexp_replace(regexp_replace(t, '(?m)^ +', '', 'g'),
      |  '(?m) +$', '', 'g') AS t FROM s7),
      |stripped AS (SELECT doc_id,
      |  trim(regexp_replace(t, '\n{2,}', chr(10), 'g'), ' ' || chr(10)) AS t FROM s8)""".stripMargin

  private val HtmlStripSql =
    s"""WITH aug AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN '<div class="a">' || text ||
      |         '</div>' || chr(10) ||
      |         '<script type="text/javascript">var x = 1 < 2;</script>'
      |       WHEN doc_id % 4 = 0 THEN '<p>Intro &amp; notes</p><!-- hidden --><ul><li>'
      |         || text || '</li></ul><style>p { color: red; }</style>'
      |       WHEN doc_id % 5 = 0 THEN text ||
      |         ' &lt;tag&gt; &quot;q&quot; &#39;s&#39; a&nbsp;b'
      |       ELSE text END AS t
      |  FROM documents),
      |$HtmlStripCtes
      |SELECT doc_id, t AS text_plain FROM stripped""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "classifier_nb_train" -> NbTrainSql,
    "classifier_nb_score" -> NbScoreSql,
    "classifier_nb_broadcast" -> NbScoreSql,
    "decontaminate_jaccard" -> JaccardDecontSql,
    "html_strip" -> HtmlStripSql,
  )
}
