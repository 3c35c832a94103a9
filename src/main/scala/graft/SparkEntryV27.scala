package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.BloomOps

/** Twenty-seventh batch (round 9): the Bloom-filter cross-corpus
  * exact-dedup gate — the bounded-memory membership test for incremental
  * ingest ("have we already ingested exactly this document?") where joining
  * each crawl batch against the full historical fingerprint set would
  * re-shuffle a corpus-sized table every time.
  *
  * `dedup_bloom_gate` builds the filter over the standing corpus
  * (originals) and scores originals ∪ planted copies (doc_id < 25
  * re-entering at the +1,000,000 disjoint-slice offset). Every copy MUST
  * flag maybe_dup (no false negatives — identical text ⇒ identical
  * fingerprint ⇒ identical positions); fresh docs flag at the filter's
  * false-positive rate, and because the fingerprint fold, the double-hash
  * position mixer, and the bit-set membership are all replayed in the
  * oracle, every false positive hashes identically on both engines — the
  * row is exact, not statistical. `bloom_model_score` is the persisted
  * steady state (write → load → score) sharing the same oracle, the
  * rolling-crawl discipline every trained gate follows.
  *
  * The row fingerprints with [[BloomOps.replayableFingerprint]] (the
  * rolling-hash fold DuckDB replays via `list_reduce`); production gates
  * fingerprint with `xxhash64` — the position machinery under test is
  * fingerprint-agnostic. */
object SparkEntryV27 extends EntryPart {

  private val MBits = 1L << 20
  private val K = 4
  private val Seed = 7L
  private val FpSeed = 17L

  /** originals ∪ copies of doc_id < 25, with the replayable fingerprint. */
  private def incomingWithFp(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") < 25)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      .withColumn("fp", BloomOps.replayableFingerprint(col("text"), FpSeed))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "dedup_bloom_gate" -> ((s, dir) => {
      val inc = incomingWithFp(s, dir)
      val model = BloomOps.buildBloom(inc.filter(col("doc_id") < 1000000L),
        col("fp"), MBits, K, Seed)
      BloomOps.dedupAgainstBloom(inc, model, col("fp"))
        .select(col("doc_id"), col("maybe_dup"))
    }),
    "bloom_model_score" -> ((s, dir) => {
      val inc = incomingWithFp(s, dir)
      val built = BloomOps.buildBloom(inc.filter(col("doc_id") < 1000000L),
        col("fp"), MBits, K, Seed)
      val mdlDir = java.nio.file.Files.createTempDirectory("graft_bloom_mdl").toString
      BloomOps.writeBloomModel(s, built, mdlDir)
      val model = BloomOps.loadBloomModel(s, mdlDir)
      BloomOps.dedupAgainstBloom(inc, model, col("fp"))
        .select(col("doc_id"), col("maybe_dup"))
    })
  )

  private def gateOracle: String = {
    val (fpCtes, fpCol) = BloomOps.replayableFingerprintSql("dupd", "text", FpSeed)
    val (posCtes, posRel, posCol) =
      BloomOps.positionsSqlCtes("_fpv", fpCol, MBits, K, Seed)
    s"""WITH dupd AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25),
       |$fpCtes,
       |$posCtes,
       |cset AS (SELECT DISTINCT $posCol AS pos FROM $posRel WHERE doc_id < 1000000)
       |SELECT p.doc_id, bool_and(c.pos IS NOT NULL) AS maybe_dup
       |FROM $posRel p LEFT JOIN cset c ON p.$posCol = c.pos
       |GROUP BY 1""".stripMargin
  }

  def oracleSql: Map[String, String] = rows(
    "dedup_bloom_gate" -> gateOracle,
    // the disk round trip is byte-identical scoring — one oracle
    "bloom_model_score" -> gateOracle
  )
}
