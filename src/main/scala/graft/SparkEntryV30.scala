package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Thirtieth batch (round 9): cross-document paragraph dedup (the Dolma
  * pipeline's paragraph-granularity exact dedup — keep the FIRST
  * occurrence of every duplicated paragraph, remove later occurrences
  * from their documents; blank lines are structure and survive).
  *
  * Fixture: every document gets a planted `shared paragraph <doc_id % 7>`
  * line appended, so each of the 7 paragraph classes keeps exactly its
  * lowest-doc_id occurrence; any NATURAL duplicate lines in the corpus
  * dedup too and the oracle replays them identically (it groups by the
  * paragraph TEXT — the Spark side groups by xxhash64 of it, identical up
  * to 64-bit collisions). */
object SparkEntryV30 extends EntryPart {

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "dedup_paragraphs" -> ((s, dir) => {
      val aug = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("\nshared paragraph "),
          (col("doc_id") % 7).cast("string")).as("text_aug"))
      graft.llm.TextOps.dedupParagraphs(aug, "doc_id", "text_aug")
    }),
    // image near-dup by perceptual hash: copies of doc_id < 15 re-enter at
    // the disjoint-slice offset with ONLY the first byte replaced — same
    // length, same block bounds, so exactly one grid cell (and at most one
    // gradient bit) moves: every plant is a guaranteed hamming<=1 pair.
    // Natural near-dup images (hash-close payloads) pair too; the oracle
    // replays the full grid/hash/banding/verify chain bit-for-bit.
    "mm_phash_dedup" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.unionByName(docs.filter(col("doc_id") < 15)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(lit("Z"), expr("substring(text, 2)")).as("text")))
      val media = graft.llm.MultimodalOps.demoMediaTable(aug, "doc_id", "text")
      graft.llm.MultimodalOps.nearDupImages(media, "doc_id", "payload",
        maxDist = 3, bands = 4)
    })
  )

  def oracleSql: Map[String, String] = rows(
    "dedup_paragraphs" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || chr(10) || 'shared paragraph ' || CAST(doc_id % 7 AS VARCHAR) AS t
         |  FROM documents),
         |ls AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM aug),
         |linepos AS (SELECT doc_id, unnest(lines) AS l,
         |    generate_subscripts(lines, 1) AS i FROM ls),
         |occ AS (SELECT doc_id, i, trim(l) AS pl FROM linepos
         |  WHERE len(trim(l)) >= 1),
         |r AS (SELECT doc_id, i,
         |    row_number() OVER (PARTITION BY pl ORDER BY doc_id, i) AS rk,
         |    count(*) OVER (PARTITION BY pl) AS cnt
         |  FROM occ),
         |dups AS (SELECT doc_id, i FROM r WHERE cnt >= 2 AND rk > 1),
         |kept AS (SELECT lp.doc_id, lp.l, lp.i FROM linepos lp
         |  WHERE NOT EXISTS (SELECT 1 FROM dups d
         |                    WHERE d.doc_id = lp.doc_id AND d.i = lp.i)),
         |agg AS (SELECT doc_id,
         |    array_to_string(list(l ORDER BY i), chr(10)) AS text_clean
         |  FROM kept GROUP BY doc_id),
         |dc AS (SELECT doc_id, count(*) AS nrem FROM dups GROUP BY 1)
         |SELECT x.doc_id, coalesce(a.text_clean, '') AS text_clean,
         |  CAST(coalesce(dc.nrem, 0) AS BIGINT) AS text_clean_paragraphs_removed
         |FROM aug x LEFT JOIN agg a USING (doc_id) LEFT JOIN dc USING (doc_id)""".stripMargin,
    // full replay of StubCodec.dHash56 + SimHash-style banding + Hamming
    // verify on ASCII payloads (unicode(char) == payload byte; all block
    // bounds and cell means are integer floor arithmetic in both engines)
    "mm_phash_dedup" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text AS t FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'Z' || substr(text, 2)
         |  FROM documents WHERE doc_id < 15),
         |codes AS (SELECT doc_id, length(t) AS L,
         |    list_transform(range(1, length(t) + 1),
         |      i -> CAST(unicode(t[i:i]) AS BIGINT)) AS cs
         |  FROM aug),
         |cells AS (SELECT doc_id,
         |    list_transform(range(0, 64), tt ->
         |      CASE WHEN ((tt + 1) * L) // 64 > (tt * L) // 64
         |        THEN CAST(list_sum(list_slice(cs, (tt * L) // 64 + 1,
         |               ((tt + 1) * L) // 64))
         |             // (((tt + 1) * L) // 64 - (tt * L) // 64) AS BIGINT)
         |        ELSE 0 END) AS cl
         |  FROM codes),
         |hs AS (SELECT doc_id,
         |    CAST(list_sum(list_transform(range(0, 56), b ->
         |      CASE WHEN cl[(b // 7) * 8 + (b % 7) + 2] > cl[(b // 7) * 8 + (b % 7) + 1]
         |        THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS BIGINT) AS h
         |  FROM cells),
         |sl AS (SELECT doc_id, h, band, (h >> (band * 14)) & 16383 AS slice
         |  FROM hs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bs),
         |ok AS (SELECT band, slice FROM sl GROUP BY 1, 2
         |  HAVING count(*) BETWEEN 2 AND 1000),
         |cap AS (SELECT sl.* FROM sl JOIN ok USING (band, slice)),
         |prs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.h AS ha, b.h AS hb
         |  FROM cap a JOIN cap b
         |    ON a.band = b.band AND a.slice = b.slice AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
         |FROM prs WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin
  )
}
