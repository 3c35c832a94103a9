package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntryFixtures._
import graft.Tables.table
import graft.llm.{DomainOps, MixOps, SampleOps, TextOps}

/** Eighteenth batch: round-6 curation additions — cross-corpus dedup (the
  * incremental-ingest shape: dedup a new crawl AGAINST the existing training
  * corpus), C4- and Gopher-style heuristic quality filters (Raffel et al.
  * 2020 §2.2; Rae et al. 2021 Table A1 — public cleaning rules), and the
  * deterministic training-order shard (reproducible corpus permutation). */
object SparkEntryV18 extends EntryPart {

  // planted augmentations exercising every signal branch on the synthetic
  // word-soup corpus (which natively has no punctuation or line structure)
  private val PlantLorem =
    "\nLorem ipsum dolor sit amet. Second sentence here. Third sentence here."
  private val PlantBrace =
    "\nvar f = function() { return 1; }. Yes. Done."
  private val PlantBullets =
    "\n- bullet one…\n- bullet two...\n* bullet three"

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    // incoming = fresh docs (id ≥ 400) ∪ relabeled copies of ref docs < 20;
    // reference = docs < 400. threshold 1.0 ⇒ kept ⇔ no ref doc has the
    // SAME 5-shingle set (LSH candidates are complete for identical sets —
    // identical signatures collide in every band; verification removes all
    // hash-collision false positives)
    "dedup_against_corpus" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") < 400)
      val incoming = docs.filter(col("doc_id") >= 400).unionByName(
        docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      TextOps.dedupAgainstCorpus(incoming, ref, "doc_id", "text",
          threshold = 1.0, maxBucketSize = 1000000)
        .select(col("doc_id"))
    }),
    "quality_c4" -> ((s, dir) => {
      val aug = table(s, dir, "documents").withColumn("text_aug",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(PlantLorem)))
          .when(col("doc_id") % 5 === 0, concat(col("text"), lit(PlantGood)))
          .when(col("doc_id") % 11 === 0, concat(col("text"), lit(PlantBrace)))
          .otherwise(col("text")))
      TextOps.c4QualityFilter(aug, "text_aug")
        .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_lines"),
          round(col("terminal_line_ratio"), 6).as("terminal_line_ratio"),
          col("has_lorem_ipsum"), col("has_brace"), col("has_javascript"),
          col("c4_keep"))
    }),
    "quality_gopher" -> ((s, dir) => {
      val aug = table(s, dir, "documents").withColumn("text_aug",
        when(col("doc_id") % 4 === 0,
          concat(col("text"), lit(" "), col("text"), lit(" "), col("text"), lit(PlantStops)))
          .when(col("doc_id") % 9 === 0, concat(col("text"), lit(PlantBullets)))
          .otherwise(col("text")))
      TextOps.gopherQualityFilter(aug, "text_aug")
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("bullet_line_ratio"), 6).as("bullet_line_ratio"),
          round(col("ellipsis_line_ratio"), 6).as("ellipsis_line_ratio"),
          round(col("alpha_word_ratio"), 6).as("alpha_word_ratio"),
          col("stopword_hits"), col("gopher_keep"))
    }),
    "shard_deterministic" -> ((s, dir) =>
      MixOps.deterministicShard(table(s, dir, "documents"), "doc_id",
          nShards = 8, seed = 42)
        .select(col("doc_id"), col("shard_id"), col("shard_pos"))),
    "text_hash_embed" -> ((s, dir) =>
      TextOps.hashEmbed(table(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", dim = 16, seed = 7)
        .select(col("doc_id"), posexplode(col("embedding")))
        .select(col("doc_id"), col("pos"), round(col("col"), 6).as("v"))),
    "url_canonicalize" -> ((s, dir) =>
      DomainOps.canonicalizeUrl(
          table(s, dir, "documents").withColumn("url", urlOf(col("doc_id"), col("source"))),
          "url")
        .select(col("doc_id"), col("url_canonical"))),
    // the disk round trip of the same scenario: index written once per
    // corpus version, loaded back, incoming deduped against the STORED
    // layout — same oracle as dedup_against_corpus, so a serialization bug
    // anywhere in the banded/shingle/meta layout is a hash mismatch
    "dedup_against_index" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") < 400)
      val incoming = docs.filter(col("doc_id") >= 400).unionByName(
        docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      val idxDir = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString
      TextOps.writeDedupIndex(ref, "doc_id", "text", idxDir, threshold = 1.0)
      TextOps.dedupAgainstIndex(incoming, TextOps.loadDedupIndex(s, idxDir),
          "doc_id", "text", threshold = 1.0, maxBucketSize = 1000000)
        .select(col("doc_id"))
    }),
    "sample_temperature" -> ((s, dir) =>
      SampleOps.temperatureSample(table(s, dir, "documents"), "doc_id", "source",
          targetTotal = 200, tau = 2.0, seed = 5)
        .select(col("doc_id"), col("source"))),
    "lm_bigram_score" -> ((s, dir) =>
      TextOps.bigramPerplexity(table(s, dir, "documents"), "doc_id", "text",
          vocabSize = 256, bigramVocabSize = 512, alpha = 0.5, lambda = 0.75)
        .select(col("doc_id"), col("n_tokens"), col("sum_logp"))),
    // corpus = docs with id % 3 != 0, benchmark = docs with id % 50 == 0:
    // benchmark docs NOT divisible by 3 sit verbatim in the corpus
    // (ratio 1.0), the others only via natural duplicate grams — both
    // report branches exercised
    "contamination_report" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      TextOps.contaminationReport(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 50 === 0)
            .withColumnRenamed("doc_id", "bench_id"),
          "doc_id", "bench_id", "text", n = 13)
        .select(col("bench_id"), col("n_grams"), col("n_overlapping_grams"),
          col("n_contaminated_docs"),
          round(col("contamination_ratio"), 6).as("contamination_ratio"))
    }),
  )

  /** Synthetic URL per document exercising every canonicalization branch:
    * uppercase scheme/host + default https port + tracking param + fragment,
    * default http port + trailing slash, mixed tracking/real params,
    * scheme-less, protocol-relative, non-default port. */
  private def urlOf(id: org.apache.spark.sql.Column,
                    src: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(pmod(id, lit(6)) === 0,
      concat(lit("HTTPS://WWW."), src, lit(".Example.com:443/Path/"), id.cast(StringType),
        lit("/?utm_source=x&id="), id.cast(StringType), lit("#frag")))
      .when(pmod(id, lit(6)) === 1,
        concat(lit("http://"), src, lit(".example.org:80/a/b/?gclid=abc")))
      .when(pmod(id, lit(6)) === 2,
        concat(lit("https://"), src, lit(".example.net/x?id=1&utm_campaign=z&ref=tw")))
      .when(pmod(id, lit(6)) === 3, concat(src, lit(".example.io/p/")))
      .when(pmod(id, lit(6)) === 4, concat(lit("//cdn."), src, lit(".co.uk/lib.js?fbclid=1")))
      .otherwise(concat(lit("http://"), src, lit(".example.com:8080/q?a=1&b=2")))

  private val UrlCaseSql =
    """CASE doc_id % 6
      | WHEN 0 THEN concat('HTTPS://WWW.', source, '.Example.com:443/Path/', CAST(doc_id AS VARCHAR), '/?utm_source=x&id=', CAST(doc_id AS VARCHAR), '#frag')
      | WHEN 1 THEN concat('http://', source, '.example.org:80/a/b/?gclid=abc')
      | WHEN 2 THEN concat('https://', source, '.example.net/x?id=1&utm_campaign=z&ref=tw')
      | WHEN 3 THEN concat(source, '.example.io/p/')
      | WHEN 4 THEN concat('//cdn.', source, '.co.uk/lib.js?fbclid=1')
      | ELSE concat('http://', source, '.example.com:8080/q?a=1&b=2') END""".stripMargin

  /** Shingle-set CTE over a doc relation aliased `$from` (same construction
    * as SparkEntryV2.DedupShingleEqualitySql). */
  private def shingleSetSql(from: String): String =
    s"""SELECT doc_id, list_sort(list_distinct(list_transform(
       |    range(1, greatest(length(n) - 3, 1)), i -> n[i:i+4]))) AS ss
       |  FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS n FROM $from)""".stripMargin

  private val DedupAgainstSql =
    s"""WITH refd AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
       |inc AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
       |        UNION ALL
       |        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
       |shr AS (${shingleSetSql("refd")}),
       |shi AS (${shingleSetSql("inc")}),
       |dup AS (SELECT DISTINCT i.doc_id FROM shi i
       |        JOIN shr r ON i.ss = r.ss AND len(i.ss) > 0)
       |SELECT doc_id FROM inc
       |WHERE doc_id NOT IN (SELECT doc_id FROM dup)""".stripMargin

  // SQL-escaped plants (single quotes are absent; backslash-free)
  private def sqlLit(s: String): String = "'" + s.replace("\n", "' || chr(10) || '") + "'"

  private val C4Sql = {
    val lorem = sqlLit(PlantLorem)
    val good = sqlLit(PlantGood) // double quotes are fine inside an SQL '…' literal
    val brace = sqlLit(PlantBrace)
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || $lorem
       |         WHEN doc_id % 5 = 0 THEN text || $good
       |         WHEN doc_id % 11 = 0 THEN text || $brace
       |         ELSE text END AS t
       |  FROM documents),
       |sig AS (SELECT doc_id, t,
       |  len(list_filter(string_split_regex(trim(t), '[ \\t\\n\\r\\f]+'), x -> len(x) > 0)) AS n_words,
       |  length(t) - length(regexp_replace(t, '[.!?]', '', 'g')) AS n_sentences,
       |  list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)), x -> len(x) > 0) AS lines
       |  FROM aug),
       |sig2 AS (SELECT doc_id, t, n_words, n_sentences,
       |  len(lines) AS n_lines,
       |  CASE WHEN len(lines) > 0
       |       THEN len(list_filter(lines, x -> regexp_matches(x, '[.!?"]$$'))) * 1.0 / len(lines)
       |       ELSE 0.0 END AS terminal_line_ratio,
       |  contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum,
       |  contains(t, '{') AS has_brace,
       |  contains(lower(t), 'javascript') AS has_javascript
       |  FROM sig)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_sentences AS BIGINT) AS n_sentences,
       |  CAST(n_lines AS BIGINT) AS n_lines,
       |  round(terminal_line_ratio, 6) AS terminal_line_ratio,
       |  has_lorem_ipsum, has_brace, has_javascript,
       |  (n_sentences >= 3 AND n_words >= 5 AND NOT has_lorem_ipsum
       |   AND NOT has_brace AND NOT has_javascript) AS c4_keep
       |FROM sig2""".stripMargin
  }

  private val GopherSql = {
    val stops = sqlLit(PlantStops)
    val bullets = sqlLit(PlantBullets)
    s"""WITH aug AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN text || ' ' || text || ' ' || text || $stops
       |         WHEN doc_id % 9 = 0 THEN text || $bullets
       |         ELSE text END AS t
       |  FROM documents),
       |sig AS (SELECT doc_id, t,
       |  list_filter(string_split_regex(trim(t), '[ \\t\\n\\r\\f]+'), x -> len(x) > 0) AS ws,
       |  list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)), x -> len(x) > 0) AS lines
       |  FROM aug),
       |sig2 AS (SELECT doc_id, t, len(ws) AS n_words,
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
       |  FROM sig)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  round(mean_word_len, 6) AS mean_word_len,
       |  round(symbol_word_ratio, 6) AS symbol_word_ratio,
       |  round(bullet_line_ratio, 6) AS bullet_line_ratio,
       |  round(ellipsis_line_ratio, 6) AS ellipsis_line_ratio,
       |  round(alpha_word_ratio, 6) AS alpha_word_ratio,
       |  CAST(stopword_hits AS BIGINT) AS stopword_hits,
       |  (n_words >= 50 AND n_words <= 100000
       |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       |   AND symbol_word_ratio <= 0.1
       |   AND bullet_line_ratio <= 0.9
       |   AND ellipsis_line_ratio <= 0.3
       |   AND alpha_word_ratio >= 0.8
       |   AND stopword_hits >= 2) AS gopher_keep
       |FROM sig2""".stripMargin
  }

  private val ShardSql = {
    val (cteA, xA) = SampleOps.hashBucketSqlCtes("documents", "doc_id", 42L)
    val (cteB, xB) = SampleOps.hashBucketSqlCtes("_h3", "doc_id", 43L, "_g")
    s"""WITH $cteA, $cteB
       |SELECT doc_id, $xA % 8 AS shard_id,
       |  CAST(row_number() OVER (PARTITION BY $xA % 8 ORDER BY $xB, doc_id) - 1 AS BIGINT) AS shard_pos
       |FROM _g3""".stripMargin
  }

  /** Full replay of the feature-hashing embedding: per-token polynomial
    * rolling hash mod P (seeded, left fold over codepoints — list_reduce
    * seeds from the FIRST element, so the seed is prepended), bucket/sign
    * split, per-bucket signed counts, dense 16-dim assembly via a MAP
    * (DuckDB map[k] yields a LIST → `[1]` extracts), L2 normalization. */
  private val HashEmbedSql =
    """WITH tok AS (SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '[ \t\n\r\f]+'), x -> len(x) > 0)) AS tok
      |  FROM documents),
      |th AS (SELECT doc_id, list_reduce(list_prepend(CAST(7 AS BIGINT),
      |    list_transform(range(1, len(tok) + 1), i -> CAST(ord(tok[i:i]) AS BIGINT))),
      |    (a, c) -> (a * 131 + c) % 2147483647) AS h FROM tok),
      |bs AS (SELECT doc_id, (h >> 1) % 16 AS b,
      |    CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM th),
      |ag AS (SELECT doc_id, b, CAST(sum(sgn) AS BIGINT) AS s FROM bs GROUP BY 1, 2),
      |mp AS (SELECT doc_id, map(list(b), list(s)) AS m FROM ag GROUP BY doc_id),
      |dn AS (SELECT doc_id, list_transform(range(0, 16),
      |    j -> CAST(coalesce(m[j][1], 0) AS DOUBLE)) AS raw FROM mp),
      |nm AS (SELECT doc_id, raw,
      |    sqrt(list_sum(list_transform(raw, x -> x * x))) AS norm FROM dn),
      |emb AS (SELECT doc_id,
      |    CASE WHEN norm > 0 THEN list_transform(raw, x -> round(x / norm, 6))
      |         ELSE list_transform(raw, x -> round(x, 6)) END AS embedding FROM nm),
      |fullv AS (SELECT d.doc_id,
      |    coalesce(e.embedding,
      |      list_transform(range(0, 16), j -> CAST(0.0 AS DOUBLE))) AS embedding
      |  FROM documents d LEFT JOIN emb e USING (doc_id))
      |SELECT doc_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
      |  unnest(embedding) AS v
      |FROM fullv""".stripMargin

  private val UrlCanonSql =
    s"""WITH u AS (SELECT doc_id, $UrlCaseSql AS url FROM documents),
       |s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nofrag FROM u),
       |s2 AS (SELECT *, split_part(nofrag, '?', 1) AS base0,
       |  CASE WHEN contains(nofrag, '?')
       |       THEN substr(nofrag, len(split_part(nofrag, '?', 1)) + 2) ELSE '' END AS query
       |  FROM s1),
       |s3 AS (SELECT *, array_to_string(list_filter(string_split(query, '&'),
       |    p -> NOT regexp_matches(p, '^(utm_[a-zA-Z0-9_]+|gclid|fbclid|msclkid|ref)=')
       |         AND len(p) > 0), '&') AS qs,
       |  CASE WHEN regexp_matches(base0, '[^/]/$$')
       |       THEN regexp_replace(base0, '/$$', '') ELSE base0 END AS base1 FROM s2),
       |s4 AS (SELECT *, regexp_extract(base1, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', 0) AS sh
       |  FROM s3),
       |s5 AS (SELECT *, substr(base1, len(sh) + 1) AS rest, lower(sh) AS shl FROM s4),
       |s6 AS (SELECT *,
       |  CASE WHEN starts_with(shl, 'http://') THEN regexp_replace(shl, ':80$$', '')
       |       WHEN starts_with(shl, 'https://') THEN regexp_replace(shl, ':443$$', '')
       |       ELSE shl END AS shp FROM s5)
       |SELECT doc_id,
       |  concat(shp, rest, CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS url_canonical
       |FROM s6""".stripMargin

  private val ContaminationReportSql =
    """WITH cg AS (
      |  SELECT doc_id, array_to_string(list_slice(_t, _i, _i + 12), ' ') AS gram
      |  FROM (SELECT doc_id, _t, UNNEST(generate_series(1, len(_t) - 12)) AS _i
      |        FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\r\f]+') AS _t
      |              FROM documents WHERE doc_id % 3 <> 0)
      |        WHERE len(_t) >= 13)),
      |bgr AS (
      |  SELECT DISTINCT doc_id AS bench_id,
      |    array_to_string(list_slice(_t, _i, _i + 12), ' ') AS gram
      |  FROM (SELECT doc_id, _t, UNNEST(generate_series(1, len(_t) - 12)) AS _i
      |        FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\r\f]+') AS _t
      |              FROM documents WHERE doc_id % 50 = 0)
      |        WHERE len(_t) >= 13)),
      |tot AS (SELECT bench_id, count(*) AS n_grams FROM bgr GROUP BY 1),
      |hit AS (SELECT b.bench_id,
      |          count(DISTINCT b.gram) AS n_overlapping_grams,
      |          count(DISTINCT c.doc_id) AS n_contaminated_docs
      |        FROM bgr b JOIN cg c USING (gram) GROUP BY 1)
      |SELECT t.bench_id, t.n_grams,
      |  coalesce(h.n_overlapping_grams, 0) AS n_overlapping_grams,
      |  coalesce(h.n_contaminated_docs, 0) AS n_contaminated_docs,
      |  round(CAST(coalesce(h.n_overlapping_grams, 0) AS DOUBLE) / t.n_grams, 6)
      |    AS contamination_ratio
      |FROM tot t LEFT JOIN hit h USING (bench_id)""".stripMargin

  /** Full replay of the bigram interpolated LM: tokenization with positions,
    * top-256 unigram vocab (whose counts also serve as the CAPPED context
    * counts — the broadcastable-model semantics), top-512 bigram table
    * restricted to in-vocabulary contexts (ties by pair ascending),
    * per-token ln(0.75·c₂/c₁ + 0.25·(c+0.5)/(N+0.5·257)) with the first
    * token AND any out-of-vocabulary-context token pure unigram,
    * rounded-DECIMAL sums. λ = 0.75 and α = 0.5 are exact binary doubles,
    * so every arithmetic step is bit-identical across engines. */
  private val BigramScoreSql =
    """WITH tk AS (SELECT doc_id,
      |       list_filter(string_split_regex(trim(text), '[ \t\n\r\f]+'),
      |                   x -> len(x) > 0) AS toks
      |     FROM documents),
      |ex AS (SELECT doc_id, toks[p] AS w,
      |         CASE WHEN p > 1 THEN toks[p - 1] END AS wp
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
      |sc AS (SELECT e.doc_id,
      |         CASE WHEN e.wp IS NULL OR c2.cnt IS NULL
      |              THEN ln((coalesce(v.cnt, 0) + 0.5) / (n.nn + 0.5 * 257))
      |              ELSE ln(0.75 * (CASE WHEN b.cnt2 IS NOT NULL
      |                                   THEN b.cnt2 / c2.cnt ELSE 0.0 END)
      |                      + 0.25 * ((coalesce(v.cnt, 0) + 0.5) / (n.nn + 0.5 * 257)))
      |         END AS lp
      |       FROM ex e
      |       LEFT JOIN vocab v ON e.w = v.token
      |       LEFT JOIN vocab c2 ON e.wp = c2.token
      |       LEFT JOIN big b ON e.wp = b.b1 AND e.w = b.b2, n),
      |agg AS (SELECT doc_id, count(*) AS n_tokens,
      |          CAST(sum(CAST(round(lp, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_logp
      |        FROM sc GROUP BY 1)
      |SELECT k.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
      |       coalesce(a.sum_logp, 0.0) AS sum_logp
      |FROM tk k LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** Replay of temperatureSample at τ = 2: per-source sqrt weights rounded
    * to 6 decimals, DECIMAL-summed total, the exact rate expression in the
    * same association order, and the counter-hash keep filter. */
  private val TemperatureSampleSql = {
    val (hashCtes, bucket) = SampleOps.hashBucketSqlCtes("documents", "doc_id", 5L)
    s"""WITH wts AS (SELECT source AS st, count(*) AS ns,
       |    round(sqrt(count(*)), 6) AS w
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS s FROM wts),
       |rts AS (SELECT st,
       |    CAST(floor(least(1.0, 200.0 * w / s / ns) * 2147483647.0) AS BIGINT)
       |      AS thresh
       |  FROM wts, tot),
       |$hashCtes
       |SELECT doc_id, source FROM _h3 JOIN rts ON _h3.source = rts.st
       |WHERE $bucket < thresh""".stripMargin
  }

  def oracleSql: Map[String, String] = rows(
    "dedup_against_index" -> DedupAgainstSql,
    "sample_temperature" -> TemperatureSampleSql,
    "lm_bigram_score" -> BigramScoreSql,
    "contamination_report" -> ContaminationReportSql,
    "dedup_against_corpus" -> DedupAgainstSql,
    "quality_c4" -> C4Sql,
    "quality_gopher" -> GopherSql,
    "shard_deterministic" -> ShardSql,
    "text_hash_embed" -> HashEmbedSql,
    "url_canonicalize" -> UrlCanonSql,
  )
}
