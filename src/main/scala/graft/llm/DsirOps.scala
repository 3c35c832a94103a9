package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Data Selection with Importance Resampling (DSIR — Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023): score every raw-corpus document by how target-like its
  * hashed n-gram distribution is, then resample the raw corpus toward the
  * target distribution with Gumbel top-k.
  *
  * The published recipe, re-expressed Spark-first:
  *
  *  1. hashed n-gram features — unigrams and bigrams, rolling-hashed into
  *     `numBuckets` buckets (the same 131-rolling-hash mod 2^31−1 used by
  *     [[TextOps.hashEmbed]], so the oracle replays it in SQL);
  *  2. two bag-of-words models — bucket counts over the TARGET sample and
  *     over the RAW corpus, each Laplace-smoothed (`alpha`);
  *  3. per-document log importance weight
  *     `log w(x) = Σ_f count_f(x) · (log p_target(f) − log p_raw(f))`;
  *  4. selection: top-k by `log w + g` where `g` is a deterministic
  *     per-document Gumbel draw (`−ln(−ln u)`, `u` from the
  *     [[SampleOps.hashBucket]] counter mixer) — Gumbel top-k sampling
  *     WITHOUT replacement from the softmax of the weights, reproducible
  *     across runs and cluster sizes.
  *
  * Scale design (100 TB): the only corpus-sized shuffles are (a) the bucket
  * count aggregation — key space bounded by `numBuckets` (≤ 2^20), with
  * map-side partial combine, and (b) the per-document weight sum — a
  * groupBy on the document id after a BROADCAST join of the ≤ numBuckets
  * log-ratio table onto the exploded features. The target sample is small
  * by construction (it is a hand-curated exemplar set). Selection is a
  * TakeOrdered (bounded k), never a global sort.
  */
object DsirOps {

  private val P = SampleOps.P

  /** Array of feature bucket ids for one document: hashed unigrams plus
    * hashed bigrams (adjacent pairs joined by one space — so the bigram
    * hash is the rolling hash of the exact string `"t1 t2"`). One-pass
    * native expression ([[graft.functions.NgramBucketHashes]]); the
    * lower/trim normalization stays columnar outside it. */
  private def featureBuckets(textCol: Column, numBuckets: Int, seed: Long): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.NgramBucketHashes(
        org.apache.spark.sql.GraftExpressionBridge.expression(lower(trim(textCol))),
        numBuckets, seed))

  /** (bucket, cnt) counts over a corpus — key space bounded by numBuckets,
    * map-side combined. */
  private def bucketCounts(df: DataFrame, textCol: String, numBuckets: Int,
                           seed: Long): DataFrame =
    df.select(explode(featureBuckets(col(textCol), numBuckets, seed)).as("_bkt"))
      .groupBy(col("_bkt")).agg(count(lit(1)).as("_cnt"))

  /** A fitted DSIR model: the per-observed-bucket log ratios
    * (`_bkt`, `_lr`), the one-row unseen-bucket constant (`_lr0`), and the
    * featurization parameters — everything needed to score any batch
    * WITHOUT re-reading either training corpus (the train-once /
    * score-incrementally production shape, like the persisted dedup
    * index). Both tables are ≤ numBuckets rows — broadcastable. */
  final case class DsirModel(ratios: DataFrame, unseen: DataFrame,
                             numBuckets: Int, seed: Long)

  /** Fit the two hashed-n-gram bag models and their smoothed log ratios.
    * The only corpus-sized work is one bucket-count aggregation per side
    * (key space ≤ numBuckets, map-side combined). */
  def fitModel(raw: DataFrame, target: DataFrame, textCol: String,
               targetTextCol: String = "", numBuckets: Int = 65536,
               seed: Long = 0L, alpha: Double = 0.5): DsirModel = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    require(alpha > 0.0, s"alpha must be > 0 (Laplace smoothing), got $alpha")
    val tcol = if (targetTextCol.isEmpty) textCol else targetTextCol
    val ct = bucketCounts(target, tcol, numBuckets, seed)
      .withColumnRenamed("_cnt", "_ct")
    val cr = bucketCounts(raw, textCol, numBuckets, seed)
      .withColumnRenamed("_cnt", "_cr")
    // totals: one-row aggregates over the ≤ numBuckets count tables (tiny)
    val tt = ct.agg(coalesce(sum(col("_ct")), lit(0L)).as("_tt"))
    val tr = cr.agg(coalesce(sum(col("_cr")), lit(0L)).as("_tr"))
    // log-ratio per OBSERVED bucket; unobserved buckets share one constant
    // (both sides smoothed to alpha) applied via coalesce after the join
    val aB = lit(alpha * numBuckets)
    val ratios = ct.join(cr, Seq("_bkt"), "full_outer")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(tr))
      .select(col("_bkt"),
        (log((coalesce(col("_ct"), lit(0L)) + lit(alpha)) / (col("_tt") + aB))
          - log((coalesce(col("_cr"), lit(0L)) + lit(alpha)) / (col("_tr") + aB)))
          .as("_lr"))
    val unseen = tt.crossJoin(tr).select(
      (log(lit(alpha) / (col("_tt") + aB)) - log(lit(alpha) / (col("_tr") + aB)))
        .as("_lr0"))
    DsirModel(ratios, unseen, numBuckets, seed)
  }

  /** Score a batch with a fitted (possibly loaded-from-disk) model. */
  def scoreWithModel(df: DataFrame, idCol: String, textCol: String,
                     model: DsirModel): DataFrame = {
    val feats = df.select(col(idCol),
      explode_outer(featureBuckets(col(textCol), model.numBuckets, model.seed))
        .as("_bkt"))
    feats
      .join(broadcast(model.ratios), Seq("_bkt"), "left")
      .crossJoin(broadcast(model.unseen))
      .groupBy(col(idCol))
      .agg(
        count(col("_bkt")).as("n_feats"),
        // the explode_outer null-bucket row (an EMPTY doc) must not pick up
        // the unseen-bucket constant — only real features contribute
        coalesce(sum(when(col("_bkt").isNotNull,
          coalesce(col("_lr"), col("_lr0")))), lit(0.0)).as("logw"))
  }

  /** Streaming-compatible scoring: the model (≤ numBuckets rows, bounded by
    * construction) is collected once and broadcast as a lookup map, and
    * each row scores IN PLACE with one pass over its feature array — no
    * join, no per-doc aggregation, fully stateless — so the same call runs
    * unchanged on a streaming micro-batch (the ingest-time quality gate:
    * score each crawl batch against the standing target model as it
    * arrives). Unlike [[scoreWithModel]] it returns the INPUT ROWS with
    * `n_feats` and `logw` appended (a stream has no use for an id-only
    * projection). Floating-point note: the in-row sum associates
    * left-to-right over the feature order while the batch groupBy sums in
    * partition order — equal up to the usual double reassociation. */
  def scoreWithBroadcastModel(df: DataFrame, textCol: String,
                              model: DsirModel): DataFrame = {
    val spark = df.sparkSession
    val ratioMap: Map[Long, Double] = model.ratios.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lr0 = model.unseen.collect()(0).getDouble(0)
    val bc = spark.sparkContext.broadcast(ratioMap)
    val scoreUdf = udf((bkts: Seq[Long]) => {
      var s = 0.0
      bkts.foreach(b => s += bc.value.getOrElse(b, lr0))
      s
    })
    // coalesce: null text must score as the EMPTY document (n_feats = 0,
    // logw = 0.0) exactly as scoreWithModel's explode_outer+left-join does
    // — without it the featurization yields null and the scalar UDF NPEs
    // on a streaming micro-batch
    df.withColumn("_fb",
        featureBuckets(coalesce(col(textCol), lit("")), model.numBuckets, model.seed))
      .withColumn("n_feats", size(col("_fb")).cast(LongType))
      .withColumn("logw", scoreUdf(col("_fb")))
      .drop("_fb")
  }

  /** Persist a fitted model: `path/ratios`, `path/unseen`, `path/meta`
    * (featurization parameters ride with the weights so a scoring batch
    * can never disagree with the fit). */
  def writeModel(model: DsirModel, path: String): Unit = {
    val spark = model.ratios.sparkSession
    import spark.implicits._
    model.ratios.write.mode("overwrite").parquet(s"$path/ratios")
    model.unseen.write.mode("overwrite").parquet(s"$path/unseen")
    Seq((model.numBuckets, model.seed)).toDF("num_buckets", "seed")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[writeModel]] layout. */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): DsirModel = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    DsirModel(spark.read.parquet(s"$path/ratios"),
      spark.read.parquet(s"$path/unseen"), m.getInt(0), m.getLong(1))
  }

  /** Per-document DSIR log importance weights (fit + score in one call).
    *
    * @param raw     the corpus to score (id, text, …)
    * @param target  the target-domain exemplar sample (text)
    * @return raw's (idCol) plus `n_feats` (feature count incl. multiplicity)
    *         and `logw` (the log importance weight; 0.0 for an empty doc)
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
                  targetTextCol: String = "", numBuckets: Int = 65536,
                  seed: Long = 0L, alpha: Double = 0.5): DataFrame =
    scoreWithModel(raw, idCol, textCol,
      fitModel(raw, target, textCol, targetTextCol, numBuckets, seed, alpha))

  /** Gumbel top-k resampling over the DSIR weights: keep the k documents
    * with the largest `logw + g`, `g = −ln(−ln u)` a deterministic
    * per-document uniform draw. Ranking uses the 6-decimal-rounded key
    * (with id ascending as the tiebreak) so the order is replayable across
    * engines whose `ln` may differ in the last ulp. */
  def dsirSelect(raw: DataFrame, target: DataFrame, idCol: String, textCol: String,
                 k: Int, targetTextCol: String = "", numBuckets: Int = 65536,
                 seed: Long = 0L, alpha: Double = 0.5,
                 noiseSeed: Long = 1L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = dsirWeights(raw, target, idCol, textCol, targetTextCol, numBuckets,
      seed, alpha)
    val u = (SampleOps.hashBucket(col(idCol), noiseSeed) + lit(1L))
      .cast(DoubleType) / lit(P + 1L).cast(DoubleType)
    // + 0.0: the house signed-zero normalization (−0.0 → +0.0 so the
    // rounded key is bit-identical with the DuckDB replay)
    val keyed = w.withColumn("_key", round(col("logw") - log(-log(u)), 6) + lit(0.0))
    keyed
      .orderBy(col("_key").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("_key").as("select_key"), col("n_feats"))
  }
}
