package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntryFixtures._
import graft.Tables.table

/** Seventeenth batch: SQL-string table-macro twins for the round-6 TVF
  * surface. Each row reaches an ALREADY-ORACLE-CHECKED plan through
  * `spark.sql("SELECT * FROM <macro>(…)")` instead of the Scala API and
  * shares that row's oracle byte-for-byte — a macro-expansion bug in the new
  * names (cv family, peaks, fill-forward, the `anofox_fcst_` alias layer,
  * ts_macros.cpp:2131-2196) is therefore a hash mismatch, not a smoke-test
  * miss. */
object SparkEntryV17 extends EntryPart {

  /** Planted cross-document span: appended to the first ten documents, so
    * doc 0 keeps it (first occurrence) and docs 1-9 lose exactly these
    * tokens; any NATURAL repeated 8-grams in the corpus dedup too and the
    * oracle replays them identically. */
  private val Plant =
    "graftplant alpha bravo charlie delta echo foxtrot golf hotel"

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "dedup_spans" -> ((s, dir) => {
      val aug = table(s, dir, "documents").withColumn("text_aug",
        when(col("doc_id") < 10, concat(col("text"), lit(" " + Plant)))
          .otherwise(col("text")))
      graft.llm.TextOps.removeDuplicatedSpans(aug, "doc_id", "text_aug", gramLen = 8)
    }),
    "lm_unigram_score" -> ((s, dir) =>
      graft.llm.TextOps.lmPerplexity(table(s, dir, "documents"), "doc_id", "text",
          vocabSize = 256, alpha = 0.5)
        .select(col("doc_id"), col("n_tokens"), col("sum_logp"))),
    "sql_macro_cv_split_by" -> ((s, dir) => {
      graft.sql.Register.registerAll(s)
      dailyEvents(s, dir).createOrReplaceTempView("_v17_daily")
      s.sql("SELECT * FROM ts_cv_split_by('_v17_daily', g, ds, y, " +
          "array('2024-01-15', '2024-01-22'), 5)")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"),
          col("fold_id"), col("split"))
    }),
    "sql_macro_fill_forward_by" -> ((s, dir) => {
      graft.sql.Register.registerAll(s)
      purchaseSeries(s, dir).createOrReplaceTempView("_v17_purchases")
      s.sql("SELECT * FROM ts_fill_forward_by('_v17_purchases', g, ds, y, " +
          "'2024-02-10', '1d')")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"))
    }),
    "sql_macro_detect_peaks_by" -> ((s, dir) => {
      graft.sql.Register.registerAll(s)
      spikeSeries(s, dir).createOrReplaceTempView("_v17_spikes")
      s.sql("SELECT * FROM ts_detect_peaks_by('_v17_spikes', g, ds, y)")
        .select(col("g"), col("peak_index"), col("ds"),
          round(col("peak_value"), 6).as("peak_value"),
          round(col("prominence"), 6).as("prominence"))
    }),
    // the alias layer: anofox_fcst_<name> must expand to the same plan as
    // <name> (ts_macros.cpp:2186-2196)
    "sql_macro_alias_fill_gaps_by" -> ((s, dir) => {
      graft.sql.Register.registerAll(s)
      purchaseSeries(s, dir).createOrReplaceTempView("_v17_purchases_a")
      s.sql("SELECT * FROM anofox_fcst_ts_fill_gaps_by('_v17_purchases_a', g, ds, y, '1d')")
        .select(col("g"), col("ds"), round(col("y"), 6).as("y"))
    }),
  )

  /** Full SQL replay of removeDuplicatedSpans: rolling 8-token windows,
    * keep-first by (doc_id, position) per gram TEXT (the Spark side hashes
    * the gram for shuffle width; grouping is identical modulo xxhash64
    * collision), covered-position expansion, ordered rebuild. */
  private val DedupSpansSql =
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id < 10 THEN text || ' $Plant' ELSE text END AS t
       |  FROM documents),
       |tk AS (SELECT doc_id,
       |         list_filter(string_split_regex(trim(t), '[ \\t\\n\\r\\f]+'),
       |                     x -> len(x) > 0) AS toks
       |       FROM aug),
       |win AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS p FROM tk),
       |occ AS (SELECT doc_id, p,
       |          array_to_string(list_slice(toks, p, p + 7), ' ') AS gram
       |        FROM win),
       |r AS (SELECT doc_id, p,
       |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, p) AS rk,
       |        count(*) OVER (PARTITION BY gram) AS cnt
       |      FROM occ),
       |dups AS (SELECT doc_id, p FROM r WHERE cnt >= 2 AND rk > 1),
       |cov AS (SELECT DISTINCT doc_id, p + k.k AS idx
       |        FROM dups, (SELECT unnest(range(0, 8)) AS k) k),
       |tokpos AS (SELECT doc_id, unnest(toks) AS w,
       |             generate_subscripts(toks, 1) AS i
       |           FROM tk),
       |kept AS (SELECT tp.doc_id, tp.w, tp.i FROM tokpos tp
       |         WHERE NOT EXISTS (SELECT 1 FROM cov c
       |                           WHERE c.doc_id = tp.doc_id AND c.idx = tp.i)),
       |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS txt,
       |          count(*) AS nk
       |        FROM kept GROUP BY doc_id),
       |n AS (SELECT doc_id, len(toks) AS nt FROM tk)
       |SELECT n.doc_id, coalesce(a.txt, '') AS text_clean,
       |       CAST(n.nt - coalesce(a.nk, 0) AS BIGINT) AS text_clean_tokens_removed
       |FROM n LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Full SQL replay of the unigram LM scorer: token counts, top-256
    * vocabulary (count desc, token asc), add-0.5 smoothing over 257 classes,
    * per-token left-join lookup with OOV fallback, per-document
    * order-independent DECIMAL sum of 6-decimal-rounded logps. */
  private val LmScoreSql =
    """WITH tk AS (SELECT doc_id,
      |       list_filter(string_split_regex(trim(text), '[ \t\n\r\f]+'),
      |                   x -> len(x) > 0) AS toks
      |     FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
      |counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
      |n AS (SELECT sum(cnt) AS nn FROM counts),
      |top AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token ASC LIMIT 256),
      |lm AS (SELECT token, ln((cnt + 0.5) / (nn + 0.5 * 257)) AS logp FROM top, n),
      |oov AS (SELECT ln(0.5 / (nn + 0.5 * 257)) AS olp FROM n),
      |scored AS (SELECT t.doc_id, coalesce(lm.logp, o.olp) AS lp
      |           FROM tok t LEFT JOIN lm ON t.token = lm.token, oov o),
      |agg AS (SELECT doc_id, count(*) AS n_tokens,
      |          CAST(sum(CAST(round(lp, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_logp
      |        FROM scored GROUP BY doc_id)
      |SELECT k.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
      |       coalesce(a.sum_logp, 0.0) AS sum_logp
      |FROM tk k LEFT JOIN agg a USING (doc_id)""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "dedup_spans" -> DedupSpansSql,
    "lm_unigram_score" -> LmScoreSql,
    "sql_macro_cv_split_by" -> SparkEntryV4.oracleSql("ts_cv_split_by"),
    "sql_macro_fill_forward_by" -> SparkEntryV3.oracleSql("ts_fill_forward_by"),
    "sql_macro_detect_peaks_by" -> SparkEntryV9.oracleSql("ts_detect_peaks_by"),
    "sql_macro_alias_fill_gaps_by" -> SparkEntry.fillGapsOracle,
  )
}
