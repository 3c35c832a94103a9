package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.llm.PqOps

/** Twenty-ninth batch (round 9): product-quantization ANN (Jégou et al.
  * 2011) — the compressed-domain similarity search path: each 64-double
  * embedding reduces to m=4 codebook codes, and top-k is answered by
  * asymmetric distance (exact query × quantized corpus) without ever
  * touching the original vectors at query time.
  *
  * The rows gate the iters=0 codebook (seed centroids = the first nCodes
  * vectors by id — the same zero-iteration replay discipline semdedup
  * uses), so the ENTIRE chain is hash-exact in DuckDB: subspace slicing,
  * left-to-right L2 folds, smallest-code argmin ties, per-query LUT dots,
  * subspace-order ADC summation, and the rounded-score/vid-tiebreak
  * ranking. Lloyd refinement is spec-gated (PqOpsSpec: error monotone,
  * exactness when corpus == codebook, cluster recall).
  *
  *  - `ann_pq_codes` — the encode table (vid, sub, code): gates the
  *    quantizer itself at full granularity;
  *  - `ann_pq_topk` — ADC top-10 for 5 queries;
  *  - `ann_pq_index_topk` — the persisted steady state (encode once,
  *    write codes + versioned codebooks, load, score) sharing the same
  *    oracle. */
object SparkEntryV29 extends EntryPart {

  private val M = 4
  private val SubDim = 16
  private val NCodes = 16
  private val K = 10

  private def corpus(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))

  private def model(s: SparkSession, dir: String): PqOps.PqModel =
    PqOps.pqTrain(corpus(s, dir), "vec_id", "embedding", M, NCodes, iters = 0)

  def queries: Map[String, (SparkSession, String) => DataFrame] = rows(
    "ann_pq_codes" -> ((s, dir) => {
      PqOps.pqEncode(corpus(s, dir), model(s, dir), "embedding")
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
    }),
    "ann_pq_topk" -> ((s, dir) => {
      val c = corpus(s, dir)
      PqOps.pqTopK(c, c.filter(col("vec_id") < 5), model(s, dir),
        "vec_id", "embedding", K)
    }),
    "ann_pq_index_topk" -> ((s, dir) => {
      val c = corpus(s, dir)
      val idxDir = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
      PqOps.pqWriteIndex(c, model(s, dir), "vec_id", "embedding", idxDir)
      PqOps.pqIndexTopK(s, idxDir, c.filter(col("vec_id") < 5),
        "vec_id", "embedding", K)
    }),
    // the COMPOSED index probed exhaustively (nProbe = nLists): partition
    // layout + probe selection + ADC must reproduce the flat PQ ranking
    // exactly, so it shares the oracle (the ivf exhaustive-probe discipline)
    "ann_ivfpq_index_topk" -> ((s, dir) => {
      val c = corpus(s, dir)
      val idxDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
      PqOps.ivfPqWriteIndex(c, "vec_id", "embedding", model(s, dir),
        nLists = 8, idxDir)
      PqOps.ivfPqProbeIndex(s, idxDir, c.filter(col("vec_id") < 5),
        "vec_id", "embedding", K, nProbe = 8)
    })
  )

  /** Shared replay CTEs: base vectors, seed codebook, subvector slices,
    * left-fold L2 distances, smallest-(dist, code) encoding. */
  private val EncodeCtes =
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
       |    FROM dists) WHERE rn = 1)""".stripMargin

  private val TopKOracle =
    s"""$EncodeCtes,
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
       |r AS (SELECT qid, vid, round(raw, 6) AS score,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY round(raw, 6) DESC, vid) AS rk
       |  FROM adc)
       |SELECT qid, vid, score FROM r WHERE rk <= $K""".stripMargin

  def oracleSql: Map[String, String] = rows(
    "ann_pq_codes" ->
      s"""$EncodeCtes
         |SELECT vid AS vec_id, sub, code FROM enc""".stripMargin,
    "ann_pq_topk" -> TopKOracle,
    // the persisted round trip scores byte-identically — one oracle
    "ann_pq_index_topk" -> TopKOracle,
    // exhaustive probing of the composed IVF-PQ index ≡ flat PQ search
    "ann_ivfpq_index_topk" -> TopKOracle
  )
}
