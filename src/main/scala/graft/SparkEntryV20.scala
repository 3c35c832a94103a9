package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.BpeOps

/** Twentieth batch: BPE subword tokenizer training + encoding (Sennrich et
  * al. 2016) — the learned-vocabulary token counter. The oracle replays the
  * ENTIRE train loop in SQL: the word-frequency table, k argmax-merge
  * stages (greedy merge = literal string replace on the sentinel-wrapped
  * symbol state — see BpeOps), and the final per-document encode. */
object SparkEntryV20 extends EntryPart {

  private val K = 6 // merges trained/replayed by the driver rows

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "bpe_train" -> ((s, dir) =>
      BpeOps.mergesToDf(s, BpeOps.bpeTrain(table(s, dir, "documents"), "text", K))),
    "bpe_encode" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      BpeOps.bpeEncode(docs, "text", BpeOps.bpeTrain(docs, "text", K))
        .select(col("doc_id"), col("bpe_tokens_count"),
          array_join(col("bpe_tokens"), " ").as("bpe_joined"))
    }),
  )

  // ------------------------------------------------------------- oracles

  /** Word-frequency symbol state + k merge stages as a CTE chain.
    * st0 … st$K carry (freq, sym); b1 … b$K each hold the stage's argmax
    * pair (wrapped representation) and its count. */
  private def trainCtes: String = {
    val sb = new StringBuilder
    sb.append(
      """w0 AS (SELECT unnest(list_filter(string_split_regex(
        |    regexp_replace(lower(trim(text)), '[\x01\x02]', '', 'g'),
        |    '[ \t\n\r\f]+'), x -> len(x) > 0)) AS w FROM documents),
        |ty0 AS (SELECT w, count(*) AS freq FROM w0 GROUP BY w),
        |st0 AS (SELECT freq, array_to_string(list_transform(
        |    range(1, len(w) + 1), i -> chr(1) || w[i:i] || chr(2)), ' ') AS sym
        |  FROM ty0)""".stripMargin)
    for (i <- 1 to K) {
      val prev = s"st${i - 1}"
      sb.append(s""",
        |p$i AS (SELECT pr, sum(freq) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(range(1, len(sy)),
        |      i -> sy[i] || ' ' || sy[i + 1])) AS pr
        |    FROM (SELECT freq, string_split(sym, ' ') AS sy FROM $prev))
        |  GROUP BY pr),
        |b$i AS (SELECT pr AS pr$i, cnt AS cnt$i FROM p$i
        |  ORDER BY cnt DESC, pr ASC LIMIT 1),
        |st$i AS (SELECT freq, replace(sym, (SELECT pr$i FROM b$i),
        |    (SELECT replace(pr$i, chr(2) || ' ' || chr(1), '') FROM b$i)) AS sym
        |  FROM $prev)""".stripMargin)
    }
    sb.toString
  }

  /** (rank, left, right, merged, pair_count) per stage — sentinels and the
    * pair's middle boundary stripped to recover the clean symbols. */
  private def bpeTrainSql: String = {
    val rows = (1 to K).map { i =>
      s"""SELECT $i AS rank,
         |  replace(replace(string_split(pr$i, ' ')[1], chr(1), ''), chr(2), '') AS "left",
         |  replace(replace(string_split(pr$i, ' ')[2], chr(1), ''), chr(2), '') AS "right",
         |  replace(replace(replace(pr$i, chr(2) || ' ' || chr(1), ''), chr(1), ''), chr(2), '') AS merged,
         |  CAST(cnt$i AS BIGINT) AS pair_count
         |FROM b$i""".stripMargin
    }
    s"WITH $trainCtes\n" + rows.mkString("\nUNION ALL\n")
  }

  /** Per-document encode: every word re-derives its char state and replays
    * the k merges (correlated against the b1…bK one-row tables), words'
    * subword strings join in document order, sentinels strip at the end. */
  private def bpeEncodeSql: String = {
    val charState =
      "array_to_string(list_transform(range(1, len(w) + 1), i -> chr(1) || w[i:i] || chr(2)), ' ')"
    val replayed = (1 to K).foldLeft(charState) { (inner, i) =>
      s"replace($inner, pr$i, replace(pr$i, chr(2) || ' ' || chr(1), ''))"
    }
    s"""WITH $trainCtes,
       |docw AS (SELECT doc_id, list_filter(string_split_regex(
       |    regexp_replace(lower(trim(text)), '[\\x01\\x02]', '', 'g'),
       |    '[ \\t\\n\\r\\f]+'), x -> len(x) > 0) AS ws FROM documents),
       |enc AS (SELECT doc_id,
       |    replace(replace(array_to_string(list_transform(ws,
       |      w -> $replayed), ' '), chr(1), ''), chr(2), '') AS joined,
       |    len(ws) AS nw
       |  FROM docw, ${(1 to K).map("b" + _).mkString(", ")})
       |SELECT doc_id,
       |  CAST(CASE WHEN nw = 0 THEN 0
       |       ELSE len(string_split(joined, ' ')) END AS BIGINT) AS bpe_tokens_count,
       |  joined AS bpe_joined
       |FROM enc""".stripMargin
  }

  def oracleSql: Map[String, String] = rows(
    "bpe_train" -> bpeTrainSql,
    "bpe_encode" -> bpeEncodeSql,
  )
}
