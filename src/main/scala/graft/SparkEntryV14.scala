package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables.table
import graft.llm.{SampleOps, TextOps}

/** Fourteenth batch: the training-data curation surface — deterministic
  * hash sampling (Bernoulli / stratified / split assignment), canonical
  * text normalization, PII scrubbing, and context-window chunking.
  *
  * Every op is a pure codegen column expression (no UDF, no RNG state, no
  * shuffle); the sampling oracles replay the xorshift-multiply mixer in
  * BIGINT SQL exactly (every intermediate < 2^47 — same device as the
  * bootstrap RNG, see SampleOps.hashBucket). */
object SparkEntryV14 extends EntryPart {

  private val Seed = 42L
  private val P = SampleOps.P

  // planted messy/PII text shared between the Spark query and the oracle:
  // both engines build the identical string, so the assertion checks the
  // TRANSFORM, not the plant
  private def messy(c: org.apache.spark.sql.Column) =
    concat(lit("  "), upper(c), lit("   Trailing  MIX "))
  private val MessySql = "concat('  ', upper(text), '   Trailing  MIX ')"

  private def withPii(idC: org.apache.spark.sql.Column, textC: org.apache.spark.sql.Column) =
    concat(textC, lit(" contact user"), idC.cast(StringType),
      lit("@mail.example.com via https://ex.org/p/"), idC.cast(StringType),
      lit(" acct 123456789 ok"))
  private val WithPiiSql =
    "concat(text, ' contact user', CAST(doc_id AS VARCHAR), '@mail.example.com via " +
      "https://ex.org/p/', CAST(doc_id AS VARCHAR), ' acct 123456789 ok')"

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "sample_bernoulli" -> ((s, dir) =>
      SampleOps.sampleBernoulli(table(s, dir, "documents"), "doc_id", 0.25, Seed)
        .select(col("doc_id"), col("lang"))),
    "sample_split" -> ((s, dir) =>
      SampleOps.assignSplit(table(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), Seed)
        .select(col("doc_id"), col("split"))),
    "sample_stratified" -> ((s, dir) =>
      SampleOps.sampleStratified(table(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.05), defaultRate = 0.2, seed = Seed)
        .select(col("doc_id"), col("lang"))),
    "text_normalize" -> ((s, dir) =>
      TextOps.textNormalize(
        table(s, dir, "documents").withColumn("text", messy(col("text"))),
        "text")
        .select(col("doc_id"), col("text_norm"))),
    "pii_scrub" -> ((s, dir) =>
      TextOps.piiScrub(
        table(s, dir, "documents").withColumn("text", withPii(col("doc_id"), col("text"))),
        "text")
        .select(col("doc_id"), col("text_scrubbed"))),
    "doc_chunks" -> ((s, dir) =>
      TextOps.chunkByTokens(table(s, dir, "documents"), "doc_id", "text",
        maxTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"), col("chunk_tokens"))),
    "pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(
        TextOps.chunkByTokens(table(s, dir, "documents"), "doc_id", "text",
          maxTokens = 32, overlap = 8),
        "doc_id", "chunk_id", "chunk_tokens", budget = 256, nBuckets = 8)
        .select(col("doc_id"), col("chunk_id"), col("pack_id"))),
    "decontaminate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextOps.contaminatedIds(docs, docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 13)
    }),
    "text_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(table(s, dir, "documents"), "text")
        .select(col("doc_id"), col("dup_token_frac"),
          col("dup_2gram_frac"), col("dup_3gram_frac"))),
  )

  def oracleSql: Map[String, String] = {
    val (hashCtes, bucket) = SampleOps.hashBucketSqlCtes("documents", "doc_id", Seed)
    rows(
      "sample_bernoulli" ->
        s"""WITH $hashCtes
           |SELECT doc_id, lang FROM _h3 WHERE $bucket < ${SampleOps.rateThreshold(0.25)}""".stripMargin,
      "sample_split" ->
        s"""WITH $hashCtes
           |SELECT doc_id,
           |  CASE WHEN $bucket < ${SampleOps.rateThreshold(0.8)} THEN 'train'
           |       WHEN $bucket < ${SampleOps.rateThreshold(0.8 + 0.1)} THEN 'val'
           |       ELSE 'test' END AS split
           |FROM _h3""".stripMargin,
      "sample_stratified" ->
        s"""WITH $hashCtes
           |SELECT doc_id, lang FROM _h3
           |WHERE $bucket < CASE WHEN lang = 'en' THEN ${SampleOps.rateThreshold(0.5)}
           |                     WHEN lang = 'zh' THEN ${SampleOps.rateThreshold(0.05)}
           |                     ELSE ${SampleOps.rateThreshold(0.2)} END""".stripMargin,
      "text_normalize" ->
        s"""SELECT doc_id,
           |  trim(lower(regexp_replace($MessySql, '[ \\t\\n\\r\\f]+', ' ', 'g'))) AS text_norm
           |FROM documents""".stripMargin,
      "pii_scrub" ->
        s"""SELECT doc_id,
           |  regexp_replace(
           |    regexp_replace(
           |      regexp_replace($WithPiiSql, 'https?://[^ \\t\\n\\r\\f]+', '<URL>', 'g'),
           |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
           |    '[0-9]{7,}', '<ID>', 'g') AS text_scrubbed
           |FROM documents""".stripMargin,
      "pack_sequences" -> {
        val (hashCtes, bucket) = SampleOps.hashBucketSqlCtes("chunks", "doc_id", 0L)
        s"""WITH toks AS (
           |  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\r\\f]+') AS _t FROM documents),
           |nc AS (
           |  SELECT doc_id, _t,
           |         greatest(CAST(ceil((len(_t) - 8) / 24.0) AS BIGINT), 1) AS _nc
           |  FROM toks),
           |e AS (SELECT doc_id, _t, UNNEST(generate_series(0, _nc - 1)) AS _i FROM nc),
           |chunks AS (
           |  SELECT doc_id, _i AS chunk_id,
           |         len(list_slice(_t, _i * 24 + 1, _i * 24 + 32)) AS chunk_tokens
           |  FROM e),
           |$hashCtes,
           |packed AS (
           |  SELECT doc_id, chunk_id, $bucket % 8 AS _bucket,
           |         sum(chunk_tokens) OVER (PARTITION BY $bucket % 8
           |           ORDER BY doc_id, chunk_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - chunk_tokens AS _cum
           |  FROM _h3)
           |SELECT doc_id, chunk_id,
           |       _bucket * 4294967296 + CAST(floor(_cum / 256) AS BIGINT) AS pack_id
           |FROM packed""".stripMargin
      },
      "decontaminate" ->
        """WITH ctoks AS (
          |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\r\f]+') AS _t FROM documents),
          |cg AS (
          |  SELECT doc_id, array_to_string(list_slice(_t, _i, _i + 12), ' ') AS gram
          |  FROM (SELECT doc_id, _t, UNNEST(generate_series(1, len(_t) - 12)) AS _i
          |        FROM ctoks WHERE len(_t) >= 13)),
          |bg AS (
          |  SELECT DISTINCT array_to_string(list_slice(_t, _i, _i + 12), ' ') AS gram
          |  FROM (SELECT _t, UNNEST(generate_series(1, len(_t) - 12)) AS _i
          |        FROM (SELECT string_split_regex(trim(text), '[ \t\n\r\f]+') AS _t
          |              FROM documents WHERE doc_id % 50 = 0) WHERE len(_t) >= 13))
          |SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram)""".stripMargin,
      "text_repetition" ->
        """WITH t AS (
          |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\r\f]+') AS tk FROM documents),
          |g AS (
          |  SELECT doc_id, tk,
          |    [array_to_string(list_slice(tk, i, i + 1), ' ') FOR i IN generate_series(1, len(tk) - 1)] AS g2,
          |    [array_to_string(list_slice(tk, i, i + 2), ' ') FOR i IN generate_series(1, len(tk) - 2)] AS g3
          |  FROM t)
          |SELECT doc_id,
          |  CASE WHEN len(tk) > 0 THEN round(1.0 - len(list_distinct(tk)) / len(tk), 6) ELSE 0.0 END AS dup_token_frac,
          |  CASE WHEN len(g2) > 0 THEN round(1.0 - len(list_distinct(g2)) / len(g2), 6) ELSE 0.0 END AS dup_2gram_frac,
          |  CASE WHEN len(g3) > 0 THEN round(1.0 - len(list_distinct(g3)) / len(g3), 6) ELSE 0.0 END AS dup_3gram_frac
          |FROM g""".stripMargin,
      "doc_chunks" ->
        """WITH toks AS (
          |  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\r\f]+') AS _t FROM documents),
          |nc AS (
          |  SELECT doc_id, _t,
          |         greatest(CAST(ceil((len(_t) - 8) / 24.0) AS BIGINT), 1) AS _nc
          |  FROM toks),
          |e AS (SELECT doc_id, _t, UNNEST(generate_series(0, _nc - 1)) AS _i FROM nc)
          |SELECT doc_id, _i AS chunk_id,
          |  array_to_string(list_slice(_t, _i * 24 + 1, _i * 24 + 32), ' ') AS chunk_text,
          |  len(list_slice(_t, _i * 24 + 1, _i * 24 + 32)) AS chunk_tokens
          |FROM e""".stripMargin,
    )
  }
}
