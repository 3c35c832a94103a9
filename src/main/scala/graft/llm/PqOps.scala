package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.functions.{PqAdcDot, PqCodebooks, PqEncodeVector, PqQueryLut}

/** Product quantization for embedding search at corpus scale (Jégou et al.
  * 2011): compress each dim-double vector to m small codes, then answer
  * top-k by ASYMMETRIC distance — the query stays exact, every corpus
  * vector is represented by its codebook centroids, and scoring is m table
  * lookups per (query, doc) pair.
  *
  * Why this is the 100 TB shape: the brute-force and IVF paths score
  * against the raw `ARRAY<DOUBLE>` embeddings — at 10¹¹ vectors × 64
  * doubles that is ~50 TB of vector IO per full sweep. The PQ code table
  * is m ints per vector (m=8: ~40× less scan volume in parquet), lives
  * comfortably in cluster page cache, and the scoring join is pure
  * whole-stage codegen ([[graft.functions.PqAdcDot]]): m int loads + m
  * adds per pair, never touching the original vectors. Recall is the m /
  * nCodes trade the caller sizes (exactly the FAISS `PQm` index family).
  *
  * Scale design per stage:
  *  - train ([[pqTrain]]): per-subspace Lloyd over the exploded
  *    (sub, code, dim, value) table — every corpus-sized stage is ONE
  *    map-side-combined aggregation keyed by the bounded (sub, code, dim)
  *    triple; the per-iteration driver collect is the model itself
  *    (m·nCodes·subDim = dim·nCodes doubles — bounded, documented);
  *  - encode ([[pqEncode]]): one native codegen pass per row, codebooks
  *    ride as a plan reference object — map-only, no shuffle, text/vector
  *    never leaves the scan;
  *  - search ([[pqTopK]]): query LUTs computed once per query
  *    ([[graft.functions.PqQueryLut]]), broadcast against the code table,
  *    per-query top-k through the bounded native
  *    [[graft.functions.TopKByScore]] — no corpus-wide sort, no window,
  *    the only aggregation keys on qid;
  *  - steady state ([[pqWriteIndex]] / [[pqIndexTopK]]): encode ONCE per
  *    corpus version, persist the slim code table + versioned codebooks,
  *    score every later query batch against the codes alone.
  *
  * Determinism (the oracle contract): seeds are the first nCodes vectors
  * by id; distance/dot folds run left-to-right over dimensions; encode
  * ties keep the smallest code; ADC sums in subspace order; final ranking
  * compares the 6-decimal-ROUNDED score with an id tiebreak (the repo's
  * cross-engine rank convention). The driver rows gate the iters=0
  * codebook (seed centroids) so the whole chain — slicing, argmin
  * encoding, LUTs, ADC, ranking — replays in DuckDB; Lloyd refinement is
  * spec-gated (quantization error must not increase per iteration).
  *
  * Scores are quantized DOT products — L2-normalize upstream (e.g.
  * [[SimilarityOps]]' conventions) when cosine semantics are wanted.
  */
object PqOps {

  private val B = org.apache.spark.sql.GraftExpressionBridge

  /** Version stamp of the persisted index layout + encoding scheme; a
    * scheme change makes old code tables score garbage, so
    * [[pqLoadIndex]] fails fast on mismatch. */
  val PqIndexFormatVersion: Int = 1

  /** Trained PQ model: `cents(sub)(code)` is a subDim-length centroid. */
  case class PqModel(cents: Array[Array[Array[Double]]], m: Int, subDim: Int,
                     nCodes: Int) {
    def dim: Int = m * subDim
    private[graft] def codebooks: PqCodebooks = new PqCodebooks(cents, m, subDim, nCodes)

    /** (sub, code, centroid) relational view — the persisted layout. */
    def toDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      (for { s <- 0 until m; c <- 0 until nCodes }
        yield (s, c, cents(s)(c).toSeq)).toDF("sub", "code", "centroid")
    }

    /** Mean squared quantization error over a corpus — the Lloyd progress
      * metric (spec-gated: must not increase per iteration). */
    def quantizationError(df: DataFrame, vecCol: String): Double = {
      val enc = pqEncode(df, this, vecCol, out = "_codes")
      val errCol = (0 until m).map { s =>
        val sub = slice(col(vecCol).cast(ArrayType(DoubleType)), s * subDim + 1, subDim)
        val cent = element_at(typedlit(cents(s).map(_.toSeq).toSeq),
          element_at(col("_codes"), s + 1) + 1)
        aggregate(zip_with(sub, cent, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)
      }.reduce(_ + _)
      enc.agg(avg(errCol)).collect()(0).getDouble(0)
    }
  }

  /** Train per-subspace codebooks. `iters = 0` returns the seed codebooks
    * (the first nCodes vectors by id, sliced — the oracle-replayable
    * form); each Lloyd iteration re-encodes with the native expression and
    * recomputes per-(sub, code, dim) means in ONE map-side-combined
    * aggregation (bounded output: dim·nCodes rows collected — that IS the
    * model). Empty cells keep their previous centroid. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
              nCodes: Int, iters: Int = 2): PqModel = {
    require(m >= 1 && m <= 64, s"m must be in [1, 64], got $m")
    require(nCodes >= 1 && nCodes <= 4096, s"nCodes must be in [1, 4096], got $nCodes")
    val base = corpus.select(col(idCol).as("_vid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("_v"))
    val seeds = base.orderBy(col("_vid")).limit(nCodes)
      .select(col("_v")).collect().map(_.getSeq[Double](0).toArray)
    require(seeds.length == nCodes,
      s"pqTrain needs at least nCodes=$nCodes vectors, got ${seeds.length}")
    val dim = seeds(0).length
    require(dim % m == 0, s"vector dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    var cents = Array.tabulate(m, nCodes)((s, c) =>
      seeds(c).slice(s * subDim, (s + 1) * subDim))
    var model = PqModel(cents, m, subDim, nCodes)
    var it = 0
    while (it < iters) {
      val enc = pqEncode(base, model, "_v", out = "_codes")
      // (sub, code, dim_idx, value) → per-cell mean; ONE aggregation, the
      // exploded volume equals the corpus's own vector volume
      val cells = enc.select(posexplode(col("_v")).as(Seq("_i", "_x")), col("_codes"))
        .select((col("_i") / subDim).cast("int").as("_sub"),
          (col("_i") % subDim).cast("int").as("_d"),
          col("_x"), col("_codes"))
        .withColumn("_code", element_at(col("_codes"), col("_sub") + 1))
        .groupBy(col("_sub"), col("_code"), col("_d"))
        .agg(avg(col("_x")).as("_mean"))
        .collect()
      cents = cents.map(_.map(_.clone()))
      cells.foreach { r =>
        cents(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      model = PqModel(cents, m, subDim, nCodes)
      it += 1
    }
    model
  }

  /** Map-only native encode: adds `out` = the m-code array. */
  def pqEncode(df: DataFrame, model: PqModel, vecCol: String,
               out: String = "codes"): DataFrame =
    df.withColumn(out, B.column(PqEncodeVector(
      B.expression(col(vecCol).cast(ArrayType(DoubleType))), model.codebooks)))

  /** Query LUT column (flat m·nCodes array, sub-major). */
  private def lutCol(model: PqModel, vecCol: String): Column =
    lutColOf(model, col(vecCol))

  private def lutColOf(model: PqModel, vec: Column): Column =
    B.column(PqQueryLut(
      B.expression(vec.cast(ArrayType(DoubleType))), model.codebooks))

  private def topK(vid: Column, sim: Column, k: Int): Column =
    B.column(graft.functions.TopKByScore(
      B.expression(vid), B.expression(sim), k).toAggregateExpression())

  /** ADC top-k over a prepared (id, codes) table — the steady-state scorer
    * ([[pqTopK]] builds the code table inline; [[pqIndexTopK]] reads it
    * from the persisted index). Output: (qid, vid, score) with score the
    * 6-decimal-rounded quantized dot product, k best per query, vid
    * tiebreak. */
  def pqScoreCodes(codes: DataFrame, queries: DataFrame, model: PqModel,
                   idCol: String, vecCol: String, k: Int,
                   codesCol: String = "codes"): DataFrame = {
    val ql = queries.select(col(idCol).as("qid"), lutCol(model, vecCol).as("_lut"))
    codes
      .crossJoin(broadcast(ql))
      .select(col("qid"), col("_pq_vid").cast(LongType).as("vid"),
        round(B.column(PqAdcDot(B.expression(col(codesCol)),
          B.expression(col("_lut")), model.m, model.nCodes)), 6).as("_score"))
      .groupBy(col("qid"))
      .agg(topK(col("vid"), col("_score"), k).as("_top"))
      .select(col("qid"), explode(col("_top")).as("_r"))
      .select(col("qid"), col("_r.vid").as("vid"), col("_r.sim").as("score"))
  }

  /** One-call PQ search: encode the corpus (map-only) and ADC-score. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, model: PqModel,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    val codes = pqEncode(corpus, model, vecCol, out = "_pq_codes")
      .select(col(idCol).as("_pq_vid"), col("_pq_codes"))
    pqScoreCodes(codes, queries, model, idCol, vecCol, k, codesCol = "_pq_codes")
  }

  /** Persist the index: slim (vid, codes) table + codebooks + versioned
    * meta. Encode once per corpus version; every query batch after that
    * reads m ints per vector instead of dim doubles. */
  def pqWriteIndex(corpus: DataFrame, model: PqModel, idCol: String,
                   vecCol: String, path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    pqEncode(corpus, model, vecCol, out = "codes")
      .select(col(idCol).cast("long").as("vid"), col("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
    model.toDf(spark).write.mode("overwrite").parquet(s"$path/codebooks")
    Seq((model.m, model.subDim, model.nCodes, PqIndexFormatVersion))
      .toDF("m", "sub_dim", "n_codes", "format_version")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Read the versioned meta + codebooks shared by the flat and IVF-PQ
    * layouts — ONE owner of the persisted-codebook read path, so a
    * format-version bump cannot be applied to one loader and missed in the
    * other. Fails fast on a format/scheme version mismatch. */
  private def loadPqModel(spark: SparkSession, path: String, what: String,
                          rebuildWith: String): PqModel = {
    val meta = spark.read.parquet(s"$path/meta")
    require(meta.columns.contains("format_version"),
      s"$what at $path has no format_version — rebuild with $rebuildWith")
    val mr = meta.select(col("m"), col("sub_dim"), col("n_codes"),
      col("format_version")).collect()(0)
    require(mr.getInt(3) == PqIndexFormatVersion,
      s"$what at $path is format_version ${mr.getInt(3)}, this build " +
        s"requires $PqIndexFormatVersion — rebuild with $rebuildWith")
    val (m, subDim, nCodes) = (mr.getInt(0), mr.getInt(1), mr.getInt(2))
    val cents = Array.ofDim[Array[Double]](m, nCodes)
    spark.read.parquet(s"$path/codebooks").collect().foreach { r =>
      cents(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    PqModel(cents.map(_.toArray), m, subDim, nCodes)
  }

  /** Load a [[pqWriteIndex]] layout: (model, codes table). Fails fast on a
    * format/scheme version mismatch. */
  def pqLoadIndex(spark: SparkSession, path: String): (PqModel, DataFrame) =
    (loadPqModel(spark, path, "pq index", "pqWriteIndex"),
      spark.read.parquet(s"$path/codes"))

  /** Query a persisted index (the steady state). */
  def pqIndexTopK(spark: SparkSession, path: String, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame = {
    val (model, codes) = pqLoadIndex(spark, path)
    pqScoreCodes(codes.select(col("vid").as("_pq_vid"), col("codes")),
      queries, model, idCol, vecCol, k, codesCol = "codes")
  }

  // ------------------------------------------------------------------
  // IVF-PQ: the composed index (FAISS IVFADC deployment shape)
  // ------------------------------------------------------------------

  /** Persist the COMPOSED index: PQ codes parquet-PARTITIONED by IVF list
    * (`codes/centroid_id=N/…` — the partition directories are the
    * inverted lists), plus centroids, codebooks, and versioned meta.
    *
    * This stacks the two 100 TB levers: IVF pruning means a probe READS
    * only nProbe/nLists of the index from storage (static partition
    * pruning, same as [[SimilarityOps.ivfProbeIndex]]), and PQ means what
    * it reads is m ints per vector instead of dim doubles — together a
    * query batch touches (nProbe/nLists) · (m·4B / dim·8B) of the raw
    * embedding bytes. Zero-norm vectors are excluded by the IVF
    * assignment (the cosine-contract filter), as in every IVF path. */
  def ivfPqWriteIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      model: PqModel, nLists: Int, path: String,
                      iters: Int = 2, withVectors: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = SimilarityOps.ivfTrain(corpus, idCol, vecCol, nLists, iters)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    val assigned = SimilarityOps.ivfAssign(corpus, idCol, vecCol, centroids)
    pqEncode(assigned, model, "_cv", out = "codes")
      .select(col("vid").cast(LongType).as("vid"), col("codes"), col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$path/codes")
    // optional refine layout (FAISS IndexRefineFlat shape): the RAW vectors
    // under the SAME list partitioning, so an exact re-rank reads only the
    // probed partitions' originals — the recall lever that costs extra
    // storage but zero extra scan volume (the isin prune bounds both scans)
    if (withVectors)
      assigned.select(col("vid").cast(LongType).as("vid"),
          col("_cv").cast(ArrayType(DoubleType)).as("vec"), col("centroid_id"))
        .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$path/vectors")
    model.toDf(spark).write.mode("overwrite").parquet(s"$path/codebooks")
    Seq((model.m, model.subDim, model.nCodes, nLists, PqIndexFormatVersion))
      .toDF("m", "sub_dim", "n_codes", "n_lists", "format_version")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Probe a composed index: nProbe most-similar lists per query, the
    * probed centroid set pushed as a LITERAL isin so the code-table scan
    * statically prunes to the probed partition directories, then ADC
    * scoring of the surviving codes. With nProbe = nLists this is exactly
    * [[pqTopK]] over the indexed corpus (exhaustive probing — the
    * oracle-replay mode); smaller nProbe trades recall for IO. */
  def ivfPqProbeIndex(spark: SparkSession, path: String, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      nProbe: Int): DataFrame =
    adcProbe(spark, path, queries, idCol, vecCol, k, nProbe)._1

  /** The shared ADC probe core: (top-k frame, probes, probed list ids). */
  private def adcProbe(spark: SparkSession, path: String, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nProbe: Int): (DataFrame, DataFrame, Array[Any]) = {
    val model = loadPqModel(spark, path, "ivf-pq index", "ivfPqWriteIndex")
    val centroids = spark.read.parquet(s"$path/centroids")
    // (qid, _qv, centroid_id) — bounded: |queries| × nProbe rows
    val probes = SimilarityOps.probeSelection(queries, idCol, vecCol, nProbe,
      centroids)
    val probedIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.get(0))
    val codes = spark.read.parquet(s"$path/codes")
      .where(col("centroid_id").isin(probedIds: _*))
    // LUT once per QUERY (not per probe row): the m·nCodes-double array is
    // the expensive object, so it is computed on the qid-distinct
    // projection and broadcast once; the (qid, centroid_id) probe pairs
    // broadcast separately without it — the broadcast volume is
    // |queries|·LUT + |queries|·nProbe·16B instead of their product.
    val probePairs = probes.select(col("qid"), col("centroid_id"))
    val qluts = probes.select(col("qid"), col("_qv")).dropDuplicates("qid")
      .select(col("qid"), lutColOf(model, col("_qv")).as("_lut"))
    val topk = codes.join(broadcast(probePairs), Seq("centroid_id"))
      .join(broadcast(qluts), Seq("qid"))
      .select(col("qid"), col("vid"),
        round(B.column(PqAdcDot(B.expression(col("codes")),
          B.expression(col("_lut")), model.m, model.nCodes)), 6).as("_score"))
      .groupBy(col("qid"))
      .agg(topK(col("vid"), col("_score"), k).as("_top"))
      .select(col("qid"), explode(col("_top")).as("_r"))
      .select(col("qid"), col("_r.vid").as("vid"), col("_r.sim").as("score"))
    (topk, probes, probedIds)
  }

  /** Probe + EXACT re-rank (the FAISS refine step): ADC selects `kCand`
    * candidates per query from the compressed domain, then only those
    * candidates' RAW vectors — read from the index's `vectors/` layout
    * with the SAME probed-partition isin prune as the code scan — are
    * exact-cosine scored for the final top-`k`. The standard recall lift
    * at unchanged scan volume: quantization error can flip near-ties in
    * the ADC ranking, and the exact pass on a bounded candidate set
    * (|Q|·kCand rows, broadcast both ways) repairs exactly those flips
    * without ever touching an unprobed partition or scoring the corpus
    * exactly. Requires `ivfPqWriteIndex(..., withVectors = true)`.
    *
    * Ranking contract: exact cosine rounded to 6 decimals, vid tiebreak
    * (the house discipline), so the re-rank replays in the oracle. */
  def ivfPqProbeIndexRerank(spark: SparkSession, path: String,
                            queries: DataFrame, idCol: String, vecCol: String,
                            k: Int, nProbe: Int, kCand: Int): DataFrame = {
    require(kCand >= k, s"kCand ($kCand) must be >= k ($k)")
    val vecPath = new org.apache.hadoop.fs.Path(s"$path/vectors")
    require(vecPath.getFileSystem(spark.sessionState.newHadoopConf()).exists(vecPath),
      s"no vectors/ layout at $path — rebuild with ivfPqWriteIndex(..., " +
        "withVectors = true) to enable exact re-rank")
    val (cand, probes, probedIds) =
      adcProbe(spark, path, queries, idCol, vecCol, kCand, nProbe)
    val vecs = spark.read.parquet(s"$path/vectors")
      .where(col("centroid_id").isin(probedIds: _*))
    val qvecs = probes.select(col("qid"), col("_qv")).dropDuplicates("qid")
    vecs.join(broadcast(cand.select(col("qid"), col("vid"))), Seq("vid"))
      .join(broadcast(qvecs), Seq("qid"))
      .select(col("qid"), col("vid"),
        // + 0.0: the house signed-zero normalization — a tiny negative
        // cosine rounds to −0.0 in DuckDB but +0.0 here
        (round(SimilarityOps.cosine(col("_qv"), col("vec")), 6) + lit(0.0))
          .as("_score"))
      .filter(!isnan(col("_score")))
      .groupBy(col("qid"))
      .agg(topK(col("vid"), col("_score"), k).as("_top"))
      .select(col("qid"), explode(col("_top")).as("_r"))
      .select(col("qid"), col("_r.vid").as("vid"), col("_r.sim").as("score"))
  }
}
