package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.{CardinalityOps, SampleOps}

/** Thirty-fifth batch (round 9): HyperLogLog distinct-cardinality sketches.
  *
  * Fixture: distinct (user, activity-day) pairs per event_type — encoded
  * as `user_id·1e6 + epoch_days` so the entity is a single BIGINT both
  * engines hash identically through the LCG mixer (31-bit, the
  * oracle-replayable path; the production path hashes with xxhash64 and
  * is spec-gated in HllSketchSpec). The oracle rebuilds every register
  * (bucket = top 8 of 31 mixer bits, rho = leading-zero rank of the low
  * 23), the zero count, the integer-exact scaled sum `S = Σ 2^(24-M_j)`,
  * and the estimate through the SAME constant/operation order
  * ([[CardinalityOps.hllEstimateSql]]). `hll_merge_shards` builds the
  * sketches per (event_type, user-shard) and merges — by the max-merge
  * identity the result is register-identical to the single pass, so it
  * shares the whole-corpus oracle verbatim. */
object SparkEntryV35 extends EntryPart {

  private val Seed = 31L
  private val P2 = 8 // m = 256
  private val Bits = 31

  /** (g, ent): event_type and the user-day entity id. */
  private def entities(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").select(
      col("event_type").as("g"),
      (col("user_id") * lit(1000000L) +
        datediff(col("ts").cast("date"), lit("1970-01-01"))).as("ent"))

  private def outCols(df: DataFrame): DataFrame =
    df.select(col("g"), col("v_zero"), col("s_scaled"),
      round(col("est"), 6).as("est"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "hll_user_days_by_type" -> ((s, dir) =>
      outCols(CardinalityOps.hllCountByPrehashed(
        entities(s, dir), Seq("g"),
        SampleOps.hashBucket(col("ent"), Seed), P2, Bits))),
    "hll_merge_shards" -> ((s, dir) => {
      val ents = entities(s, dir).withColumn("shard", pmod(col("ent"), lit(4)))
      val perShard = CardinalityOps.hllCountByPrehashed(
        ents, Seq("g", "shard"),
        SampleOps.hashBucket(col("ent"), Seed), P2, Bits)
        .select("g", "shard", "regs")
      outCols(CardinalityOps.mergeShards(perShard, Seq("g"), P2, Bits))
    })
  )

  /** Register replay: mixer → bucket/rho → per-bucket max → zero count +
    * scaled sum (absent buckets count as M=0, i.e. 2^24 each) → estimate. */
  private val HllSql: String = {
    val (hashCtes, bucket) = SampleOps.hashBucketSqlCtes(
      "(SELECT event_type AS g, user_id * 1000000 + " +
        "datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ent FROM events)",
      "ent", Seed)
    val est = CardinalityOps.hllEstimateSql("s_scaled", "v_zero", P2, Bits)
    s"""WITH $hashCtes,
       |r AS (SELECT g, CAST($bucket // 8388608 AS INT) AS bucket,
       |        CASE WHEN $bucket % 8388608 = 0 THEN 24
       |             ELSE 24 - length(bin(CAST($bucket % 8388608 AS INT))) END AS rho
       |      FROM _h3),
       |mx AS (SELECT g, bucket, max(rho) AS mr FROM r GROUP BY 1, 2),
       |agg AS (SELECT g, CAST(256 - count(*) AS BIGINT) AS v_zero,
       |         CAST(sum(2 ** (24 - mr)) + (256 - count(*)) * 16777216.0
       |           AS DOUBLE) AS s_scaled
       |        FROM mx GROUP BY 1)
       |SELECT g, v_zero, s_scaled, round($est, 6) AS est FROM agg""".stripMargin
  }

  def oracleSql: Map[String, String] = rows(
    "hll_user_days_by_type" -> HllSql,
    // merge-of-shards is register-identical to the single pass, so the
    // whole-corpus replay IS its oracle
    "hll_merge_shards" -> HllSql
  )
}
