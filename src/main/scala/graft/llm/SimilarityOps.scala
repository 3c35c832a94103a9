package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding similarity search over an `Array[Float]` column.
  *
  * Baseline: brute-force cosine top-k with the query side broadcast — the
  * corpus is scanned once, never shuffled. Scale path: LSH bucketing via
  * random hyperplanes (signed projections) so candidate generation is a
  * bucket equi-join instead of a cross product.
  */
object SimilarityOps {

  /** Cosine similarity of two double arrays as a NATIVE codegen'd Catalyst
    * expression ([[graft.functions.CosineSimilarity]]) — one in-place loop
    * per evaluation, no intermediate product array. Bit-identical to the
    * previous `zip_with` + `aggregate` composition (same sequential
    * accumulation order). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.CosineSimilarity(
        org.apache.spark.sql.GraftExpressionBridge.expression(a.cast(ArrayType(DoubleType))),
        org.apache.spark.sql.GraftExpressionBridge.expression(b.cast(ArrayType(DoubleType)))))

  /** Native codegen dot product (see [[graft.functions.DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.DotProduct(
        org.apache.spark.sql.GraftExpressionBridge.expression(a.cast(ArrayType(DoubleType))),
        org.apache.spark.sql.GraftExpressionBridge.expression(b.cast(ArrayType(DoubleType)))))

  /** Native bounded top-k aggregate ([[graft.functions.TopKByScore]]) —
    * primitive-array state, no per-row boxing or encoder round trip. The
    * typed-Aggregator UDAF it replaces dominated the kNN-graph runtime
    * (~8x measured on the same join volume). */
  private[graft] def topKAgg(vid: Column, sim: Column, k: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.TopKByScore(
        org.apache.spark.sql.GraftExpressionBridge.expression(vid),
        org.apache.spark.sql.GraftExpressionBridge.expression(sim),
        k).toAggregateExpression())

  /** Bounded top-k accumulator state: parallel (vid, sim) arrays with a
    * fill cursor, capacity 2k+1 — product-encodable (plain arrays), unlike a
    * kryo-serialized collection which failed to round-trip through shuffle
    * buffer serialization at scale. */
  final case class TopKBuf(size: Int, ids: Array[Long], sims: Array[Double])

  /** Bounded-heap top-k accumulator over (vid, sim) pairs: keeps at most
    * 2k+1 candidates per partial state, compacting to the best k by
    * (sim desc, vid asc) whenever full. Memory is O(k) per group and partial
    * states combine map-side, so the Q×N pair stream is reduced during the
    * scan instead of being fully sorted — the window-sort alternative
    * materializes and sorts every pair per query, which does not survive a
    * 100× corpus scale-up. */
  private final class TopKAggregator(k: Int)
      extends Aggregator[(Long, Double), TopKBuf, Seq[(Long, Double)]] {
    private val cap = 2 * k + 1

    private def sortedIdx(b: TopKBuf): Array[Int] =
      Array.range(0, b.size).sortBy(i => (-b.sims(i), b.ids(i)))

    /** Keep only the best k entries (in-place when capacity allows). */
    private def compact(b: TopKBuf): TopKBuf = {
      if (b.size <= k) return b
      val order = sortedIdx(b).take(k)
      val ids = new Array[Long](cap)
      val sims = new Array[Double](cap)
      var i = 0
      while (i < order.length) { ids(i) = b.ids(order(i)); sims(i) = b.sims(order(i)); i += 1 }
      TopKBuf(order.length, ids, sims)
    }

    private def append(b0: TopKBuf, vid: Long, sim: Double): TopKBuf = {
      val b = if (b0.ids.length < cap)
        TopKBuf(b0.size, java.util.Arrays.copyOf(b0.ids, cap),
          java.util.Arrays.copyOf(b0.sims, cap))
      else b0
      val c = if (b.size >= cap) compact(b) else b
      c.ids(c.size) = vid
      c.sims(c.size) = sim
      TopKBuf(c.size + 1, c.ids, c.sims)
    }

    def zero: TopKBuf = TopKBuf(0, new Array[Long](cap), new Array[Double](cap))
    def reduce(b: TopKBuf, a: (Long, Double)): TopKBuf = append(b, a._1, a._2)
    def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      var acc = a
      var i = 0
      while (i < b.size) { acc = append(acc, b.ids(i), b.sims(i)); i += 1 }
      acc
    }
    def finish(b: TopKBuf): Seq[(Long, Double)] =
      sortedIdx(b).take(k).map(i => (b.ids(i), b.sims(i))).toSeq
    def bufferEncoder: Encoder[TopKBuf] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[(Long, Double)]] = ExpressionEncoder()
  }

  /** Brute-force cosine top-k: for each query row, the k nearest corpus rows.
    * The query side is broadcast (small); the corpus is scanned once and
    * reduced through a bounded-heap Aggregator (no per-query full sort).
    * Ties break by vid ascending. Output: (qid, vid, sim). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    val vidType = corpus.schema(idCol).dataType
    // per-side norms once (projection before the join), one dot pass per
    // pair — bit-identical to the cosine expression (see probeJoin)
    val c = corpus.select(col(idCol).as("vid"), col(vecCol).cast(ArrayType(DoubleType)).as("_cv"))
      .withColumn("_vn", sqrt(dot(col("_cv"), col("_cv"))))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).cast(ArrayType(DoubleType)).as("_qv"))
      .withColumn("_qn", sqrt(dot(col("_qv"), col("_qv"))))
    val pairs = c.crossJoin(broadcast(q))
      .withColumn("sim", dot(col("_qv"), col("_cv")) / (col("_qn") * col("_vn")))
      // zero-norm vectors give NaN cosine; Spark sorts NaN above every real
      // value desc, which would steal top-k slots
      .filter(!isnan(col("sim")))
      .select(col("qid"), col("vid").cast(LongType).as("vid"), col("sim"))
    pairs.groupBy(col("qid"))
      .agg(topKAgg(col("vid"), col("sim"), k).as("_top"))
      .select(col("qid"), explode(col("_top")).as("_p"))
      .select(col("qid"), col("_p.vid").cast(vidType).as("vid"), col("_p.sim").as("sim"))
  }

  /** Hard-negative mining for contrastive retrieval training (the DPR /
    * sentence-embedding recipe, Karpukhin et al. 2020 §4.2): for each
    * query, the k corpus vectors most similar to it that are NOT its
    * labeled positives (and not the query row itself) — the negatives at
    * the decision boundary, which is what makes a contrastive batch
    * informative (random negatives are trivially separable).
    *
    * `positives` carries (qidCol, vidCol) labeled pairs. Exclusion runs
    * BEFORE the bounded top-k aggregation — filtering afterwards would
    * return short lists whenever positives occupy top slots. The positive
    * table is bounded (a handful of labels per query) and broadcasts as a
    * left-anti join; zero-norm vectors fall to the NaN filter (the cosine
    * contract shared with [[bruteForceTopK]]).
    *
    * Scale: identical shape to [[bruteForceTopK]] — the query batch
    * broadcasts, the corpus scans once, per-query bounded top-k buffers
    * are the only aggregation state, no corpus sort/window. When the
    * corpus no longer brute-force-scans, generate candidates with the IVF
    * probe path and compose the same anti-join + top-k tail — the
    * exclusion is independent of how candidates are produced. */
  def mineHardNegatives(corpus: DataFrame, queries: DataFrame,
                        positives: DataFrame, idCol: String, vecCol: String,
                        k: Int, qidCol: String = "qid", vidCol: String = "vid",
                        excludeSelf: Boolean = true): DataFrame = {
    val vidType = corpus.schema(idCol).dataType
    val c = corpus.select(col(idCol).as("vid"), col(vecCol).cast(ArrayType(DoubleType)).as("_cv"))
      .withColumn("_vn", sqrt(dot(col("_cv"), col("_cv"))))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).cast(ArrayType(DoubleType)).as("_qv"))
      .withColumn("_qn", sqrt(dot(col("_qv"), col("_qv"))))
    val pos = positives.select(col(qidCol).cast(LongType).as("qid"),
      col(vidCol).cast(LongType).as("vid"))
    val pairs = c.crossJoin(broadcast(q))
      .withColumn("sim", dot(col("_qv"), col("_cv")) / (col("_qn") * col("_vn")))
      .filter(!isnan(col("sim")))
      .select(col("qid").cast(LongType).as("qid"),
        col("vid").cast(LongType).as("vid"), col("sim"))
    val nonSelf = if (excludeSelf) pairs.filter(col("qid") =!= col("vid")) else pairs
    nonSelf.join(broadcast(pos), Seq("qid", "vid"), "left_anti")
      .groupBy(col("qid"))
      .agg(topKAgg(col("vid"), col("sim"), k).as("_top"))
      .select(col("qid"), explode(col("_top")).as("_p"))
      .select(col("qid"), col("_p.vid").cast(vidType).as("vid"), col("_p.sim").as("sim"))
  }

  /** Cluster-balanced (topic-balanced) subsampling: temperature-sample
    * over EMBEDDING-SPACE clusters instead of metadata strata — the
    * diversity lever when domain labels are missing or too coarse
    * (boilerplate-heavy topics dominate a proportional sample; τ > 1
    * up-weights small clusters the same way multilingual mixing up-weights
    * low-resource languages). Composes [[ivfAssign]] (map-only argmax vs
    * the broadcast centroid table) with
    * [[SampleOps.temperatureSample]] on the cluster id, so the whole op
    * inherits both parents' scale shapes: one bounded cluster-count
    * aggregation, rates derived in-plan, and the keep decision is the
    * deterministic codegen hash filter — reproducible across runs,
    * partitionings, and cluster sizes. Rows whose vector has zero norm
    * (unassignable under the cosine contract) form their own stratum 0.
    * Output: the sampled rows of `df` plus `centroid_id`. */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, targetTotal: Long,
                            tau: Double = 2.0, seed: Long = 0L): DataFrame = {
    val assign = ivfAssign(df, idCol, vecCol, centroids)
      .select(col("vid").as(idCol), col("centroid_id"))
    val withC = df.join(assign, Seq(idCol), "left")
      .withColumn("centroid_id", coalesce(col("centroid_id"), lit(0)))
    SampleOps.temperatureSample(withC, idCol, "centroid_id", targetTotal, tau, seed)
  }

  /** Random-hyperplane LSH bucketing: `nBits` signed projections → bucket id.
    * Deterministic (seeded). Near-duplicate candidates = same bucket. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                 nBits: Int = 16, seed: Long = 42L, out: String = "bucket"): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nBits, dim)(rnd.nextGaussian())
    val v = col(vecCol).cast(ArrayType(DoubleType))
    val bucketBits = (0 until nBits).map { b =>
      // native single-pass dot (no per-bit product array): identical
      // accumulation order to the zip_with fold, so signs — and therefore
      // buckets — are bit-stable across the change
      when(dot(v, lit(planes(b))) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn(out, bucketBits)
  }

  /** LSH-accelerated near-neighbor pairs: bucket equi-join then exact cosine
    * filter. Scales by bucket size, not corpus² — and bucket size itself is
    * capped at `maxBucketSize`: a degenerate bucket of m rows would emit
    * O(m²) pairs (boilerplate-heavy corpora routinely produce such buckets),
    * which is a straggler/OOM bomb at 100 TB. Rows in over-cap buckets are
    * excluded from candidate generation in that bucket; callers needing full
    * recall on hot buckets should re-bucket them with more bits. */
  def lshNearPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                   minSim: Double, nBits: Int = 16, maxBucketSize: Int = 1000): DataFrame = {
    // materialized once: feeds the histogram, the cap join and both sides of
    // the bucket self-join (recomputing the projections 4× otherwise) — the
    // production shape is exactly this, a persisted bucketed corpus. The pin
    // backs the returned plan (storage kind = spark.graft.checkpoint.mode;
    // freed by the ContextCleaner once the plan is unreachable)
    val bPin = Pin(lshBuckets(df, idCol, vecCol, dim, nBits)
      .select(col(idCol), col(vecCol).cast(ArrayType(DoubleType)).as("_v"), col("bucket")))
    val b = bPin.df
    // bucket histogram is small (≤ 2^nBits rows); AQE picks the join strategy
    val okBuckets = b.groupBy(col("bucket")).agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") <= maxBucketSize).select(col("bucket"))
    val capped = b.join(okBuckets, Seq("bucket"))
    // per-side norms once, one dot pass per pair (bit-identical to the
    // cosine expression — see probeJoin)
    val l = capped.select(col(idCol).as("id_a"), col("_v").as("_va"),
      sqrt(dot(col("_v"), col("_v"))).as("_na"), col("bucket"))
    val r = capped.select(col(idCol).as("id_b"), col("_v").as("_vb"),
      sqrt(dot(col("_v"), col("_v"))).as("_nb"), col("bucket"))
    val pairs = l.join(r, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), col("sim"))
    // pin the (small) pair result eagerly and free the bucketed corpus NOW
    // instead of leaving its blocks to the ContextCleaner (see
    // minHashLshPairs — accumulating pins showed up as bench variance)
    val result = Pin(pairs)
    bPin.release()
    result.df
  }

  // ---------------------------------------------------------------- IVF index

  /** Element-wise mean of fixed-dim vectors: O(dim) state per group with
    * map-side partial combine — the Lloyd update touches each corpus row
    * once and shuffles only nLists·dim doubles, instead of posexploding
    * rows·dim elements into a regrouped aggregation. */
  private final class VecMeanAggregator(dim: Int)
      extends Aggregator[Seq[Double], (Array[Double], Long), Seq[Double]] {
    def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
    def reduce(b: (Array[Double], Long), a: Seq[Double]): (Array[Double], Long) = {
      // fail fast: a ragged or mis-dimensioned vector would otherwise be
      // zero-padded yet still counted in the denominator, silently skewing
      // the centroid mean
      require(a.length == dim,
        s"expected $dim-dimensional vectors, found one of length ${a.length}")
      var i = 0
      while (i < dim) { b._1(i) += a(i); i += 1 }
      (b._1, b._2 + 1)
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { x._1(i) += y._1(i); i += 1 }
      (x._1, x._2 + y._2)
    }
    def finish(b: (Array[Double], Long)): Seq[Double] =
      if (b._2 == 0) null else b._1.map(_ / b._2).toSeq
    def bufferEncoder: Encoder[(Array[Double], Long)] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  }

  /** Train an inverted-file (IVF) coarse quantizer with Lloyd iterations,
    * entirely in DataFrame ops: seed centroids are the first `nLists` vectors
    * by id (deterministic), assignment is a broadcast cross join against the
    * (small) centroid table, and the update step recomputes per-list
    * element-wise means through a bounded-state Aggregator — no corpus-sized
    * driver collection anywhere. Output: (centroid_id INT, centroid
    * ARRAY<DOUBLE>).
    *
    * Seed ids are assigned on the driver from the collected `limit(nLists)`
    * seed set — the same centroid-table-sized data every later stage
    * broadcasts, so no window (and no single-partition stage) is needed;
    * every corpus-sized stage shuffles on centroid_id alone. */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String, nLists: Int,
               iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).as("vid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("_cv"))
    val seeds = base.orderBy(col("vid")).limit(nLists)
      .select(col("_cv")).collect().map(_.getSeq[Double](0))
    var centroids = seeds.toSeq.zipWithIndex
      .map { case (v, i) => (i + 1, v) }
      .toDF("centroid_id", "centroid")
    val dim = if (seeds.nonEmpty) seeds(0).length else 0
    val vecMean = udaf(new VecMeanAggregator(dim), ExpressionEncoder[Seq[Double]]())
    var i = 0
    var pin: Option[Pin.Handle] = None
    while (i < iters) {
      val assigned = ivfAssign(base, "vid", "_cv", centroids)
      val means = assigned
        .groupBy(col("centroid_id"))
        .agg(vecMean(col("_cv")).as("_new"))
      // empty lists keep their previous centroid. Pin each iterate (lineage
      // truncation; storage kind = spark.graft.checkpoint.mode): without it
      // every Lloyd step's plan re-embeds and re-executes all previous
      // steps — quadratic recomputation that dominates wall time even at toy
      // scale. The superseded iterate is released each round; the final one
      // backs the returned plan (nLists rows — negligible retention).
      val next = Pin(centroids.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("_new"), col("centroid")).as("centroid")))
      pin.foreach(_.release())
      pin = Some(next)
      centroids = next.df
      i += 1
    }
    centroids
  }

  /** Pack the centroid table into a single array row for broadcast — the
    * per-row argmax then needs NO shuffle at all. Centroids are L2-normalized
    * at pack time (once, not per corpus row). A zero centroid (an all-zero
    * seed vector) has no direction, so it is left out of the pack: it
    * neither wins a row nor is probed, and assignment and probing keep
    * seeing the same lists (nProbe = nLists stays exact). In `ivfTrain` such
    * a list stays empty and keeps its zero centroid. */
  private[graft] def packedCentroids(centroids: DataFrame): DataFrame = {
    val norm = sqrt(aggregate(col("centroid"), lit(0.0), (acc, x) => acc + x * x))
    centroids
      .filter(norm > 0.0)
      .agg(collect_list(struct(col("centroid_id"),
        transform(col("centroid"), x => x / norm).as("centroid"))).as("_cents"))
  }

  /** Assign each vector to its most-similar list. Zero-shuffle: the packed
    * centroid array is broadcast and the argmax is a codegen'd array
    * expression per row (no crossJoin fan-out, no groupBy). Scoring is a
    * plain dot product against the pre-normalized centroids: for a fixed
    * row, argmax_c cos(v, c) = argmax_c v·ĉ (the 1/‖v‖ factor is a positive
    * per-row constant), so neither the row norm nor the centroid norms are
    * recomputed per (row, centroid) pair — 3× fewer array passes on the
    * corpus×nLists hot path. Zero-norm centroids are not in the pack (see
    * [[packedCentroids]]). Zero-norm ROWS would score a finite 0.0 under the
    * dot (where cosine gave NaN and dropped them), so they are filtered
    * explicitly up front — degenerate vectors stay out of both the index and
    * the Lloyd mean update, preserving the cosine-scoring contract. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame =
    df.select(col(idCol).as("vid"), col(vecCol).cast(ArrayType(DoubleType)).as("_cv"))
      .filter(dot(col("_cv"), col("_cv")) > 0.0)
      .crossJoin(broadcast(packedCentroids(centroids)))
      .withColumn("_best", bestCentroid(col("_cv")))
      .filter(col("_best").isNotNull)
      .select(col("vid"), col("_cv"), col("_best.cid").as("centroid_id"))

  /** The assignment argmax over the packed `_cents` column: the (sim, cid)
    * struct of the largest dot against the pre-normalized centroids, null
    * when every score is NaN. Struct ordering: sim first, then cid — the
    * larger cid wins exact ties. */
  private def bestCentroid(v: Column): Column =
    array_max(filter(transform(col("_cents"), c =>
      struct(dot(v, c.getField("centroid")).as("sim"),
        c.getField("centroid_id").as("cid"))), s => !isnan(s.getField("sim"))))

  /** The `nProbe` most cosine-similar centroids of `v` over the packed
    * `_cents` column, as (sim, cid) structs in descending order; NaN scores
    * (zero-norm or null vectors) drop, so such a vector probes nothing. */
  private def probeCentroids(v: Column, nProbe: Int): Column =
    slice(reverse(array_sort(filter(transform(col("_cents"), c =>
      struct(cosine(v, c.getField("centroid")).as("sim"),
        c.getField("centroid_id").as("cid"))), s => !isnan(s.getField("sim"))))), 1, nProbe)

  /** IVF-accelerated cosine top-k: probe the `nProbe` most-similar lists per
    * query and search only those inverted lists. With nProbe = nLists the
    * result is exactly brute force (every list searched); smaller nProbe
    * trades recall for touching nProbe/nLists of the corpus. Both the probe
    * selection and the final top-k go through the bounded-heap Aggregator —
    * no window sort anywhere, and the only corpus-sized shuffle key is
    * centroid_id (bucket/partition the stored corpus by it at scale).
    * Output: (qid, vid, sim) like bruteForceTopK. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nLists: Int, nProbe: Int, iters: Int = 2): DataFrame =
    ivfProbe(corpus, queries, idCol, vecCol, k, nProbe,
      ivfTrain(corpus, idCol, vecCol, nLists, iters))

  /** The probe phase against a pre-trained centroid table. Corpus assignment
    * (the inverted lists) is index construction — in production both the
    * centroids and the assigned corpus are persisted, so [[ivfProbeLists]]
    * is the steady-state query cost. */
  def ivfProbe(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
               k: Int, nProbe: Int, centroids: DataFrame): DataFrame =
    ivfProbeLists(ivfAssign(corpus, idCol, vecCol, centroids),
      queries, idCol, vecCol, k, nProbe, centroids, corpus.schema(idCol).dataType)

  /** Per-query probe-list selection — a zero-shuffle array expression:
    * score the packed centroids per query, sort desc, take nProbe, explode.
    * Output: (qid, _qv, centroid_id). */
  private[graft] def probeSelection(queries: DataFrame, idCol: String, vecCol: String,
                                  nProbe: Int, centroids: DataFrame): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast(ArrayType(DoubleType)).as("_qv"))
    q.crossJoin(broadcast(packedCentroids(centroids)))
      .withColumn("_probe", probeCentroids(col("_qv"), nProbe))
      .select(col("qid"), col("_qv"), explode(col("_probe")).as("_pp"))
      .select(col("qid"), col("_qv"), col("_pp.cid").as("centroid_id"))
  }

  /** [[graft.functions.ChunkTopK]] as a Column (the unpacked-probe path). */
  private def chunkTopK(qid: Column, qv: Column, ids: Column, norms: Column,
                        vecsFlat: Column, lens: Column, k: Int,
                        excludeSelf: Boolean): Column = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    B.column(graft.functions.ChunkTopK(B.expression(qid), B.expression(qv),
      B.expression(ids), B.expression(norms), B.expression(vecsFlat),
      B.expression(lens), k, excludeSelf))
  }

  /** [[graft.functions.ChunkPairTopK]] as a Column. */
  private[graft] def chunkPairTopK(qids: Column, qvsFlat: Column, qlens: Column,
                            ids: Column, norms: Column, vecsFlat: Column,
                            lens: Column, k: Int, excludeSelf: Boolean): Column = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    B.column(graft.functions.ChunkPairTopK(B.expression(qids), B.expression(qvsFlat),
      B.expression(qlens), B.expression(ids), B.expression(norms),
      B.expression(vecsFlat), B.expression(lens), k, excludeSelf))
  }

  /** Probe the inverted lists and reduce to per-query top-k — block-at-a-
    * time, not row-at-a-time. Each probed list is PACKED into bounded
    * chunks (≤ [[PackChunkSize]] vectors per row, chunk membership by id
    * hash so skewed lists split evenly), the probe⋈chunk join emits only
    * |probes|·chunksPerList rows, and [[graft.functions.ChunkTopK]] runs
    * the scoring loop over each packed chunk in place. The row-at-a-time
    * equi-join this replaces materialized one joined row PER CANDIDATE PAIR
    * — |corpus|·nProbe·|list| rows each carrying two full embedding arrays.
    * Chunk results merge through the native bounded top-k aggregate.
    * Scoring and selection semantics are bit-identical to the pair
    * pipeline (ChunkTopK doc), so the exhaustive-probe oracle rows stay
    * hash-exact.
    *
    * This is the BOUNDED query-batch path (ivfProbeLists / ivfProbeIndex:
    * eval/probe sets by contract): probes stay unpacked, because packing
    * them is pure fixed cost when |probes| is tiny. The corpus-as-queries
    * kNN graph packs both sides in one grid aggregate instead
    * ([[knnGraphWithCentroids]]). */
  private def probeJoin(assigned: DataFrame, probes: DataFrame, k: Int,
                        vidType: DataType): DataFrame = {
    // list histogram is ≤ nLists rows (bounded like the centroid table).
    // Vectors pack FLATTENED + per-vector lengths (ChunkPairTopK doc). Null
    // vectors drop BEFORE packing — their norm is null, so the scorer
    // skipped them anyway, and flatten() would null the whole chunk.
    val hist = assigned.groupBy(col("centroid_id")).agg(count(lit(1)).as("_ln"))
    val packed = assigned
      .filter(col("_cv").isNotNull)
      .withColumn("_vl", col("vid").cast(LongType))
      .join(broadcast(hist), Seq("centroid_id"))
      .withColumn("_chunk", SampleOps.hashBucket(col("_vl"), ListChunkSeed) %
        ceil(col("_ln").cast(DoubleType) / PackChunkSize).cast(LongType))
      .groupBy(col("centroid_id"), col("_chunk"))
      .agg(collect_list(struct(col("_vl").as("vid"),
        sqrt(dot(col("_cv"), col("_cv"))).as("nrm"),
        col("_cv").as("vec"))).as("_pk"))
      .select(col("centroid_id"), col("_pk.vid").as("_pids"),
        col("_pk.nrm").as("_pnrms"), flatten(col("_pk.vec")).as("_pflat"),
        transform(col("_pk.vec"), v => size(v)).as("_plens"))
    probes.join(packed, Seq("centroid_id"))
      .select(col("qid"), explode(chunkTopK(col("qid").cast(LongType),
        col("_qv"), col("_pids"), col("_pnrms"), col("_pflat"),
        col("_plens"), k, excludeSelf = false)).as("_h"))
      .select(col("qid"), col("_h.vid").as("vid"), col("_h.sim").as("sim"))
      .groupBy(col("qid"))
      .agg(topKAgg(col("vid"), col("sim"), k).as("_top"))
      .select(col("qid"), explode(col("_top")).as("_t"))
      .select(col("qid"), col("_t.vid").cast(vidType).as("vid"),
        col("_t.sim").as("sim"))
  }

  /** Max probes per packed probe chunk of the kNN graph grid. */
  private[graft] val ProbeChunkSize = 256

  /** Max vectors per packed inverted-list chunk: bounds the packed row size
    * (and therefore executor memory per row) regardless of list skew. */
  private[graft] val PackChunkSize = 1024

  /** hashBucket seeds of inverted-list and probe chunk membership. */
  private[graft] val ListChunkSeed = 0xc4a11L
  private[graft] val ProbeChunkSeed = 0x9b0b5L

  /** Probe pre-built inverted lists: `assigned` is ivfAssign's output
    * (vid, _cv, centroid_id) — e.g. the stored corpus bucketed by
    * centroid_id at scale. */
  def ivfProbeLists(assigned: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                    k: Int, nProbe: Int, centroids: DataFrame,
                    vidType: DataType): DataFrame =
    probeJoin(assigned, probeSelection(queries, idCol, vecCol, nProbe, centroids),
      k, vidType)

  /** Persist an IVF index as a centroid_id-PARTITIONED parquet layout:
    * `path/centroids` (nLists rows) + `path/lists/centroid_id=N/…`. This is
    * the 100 TB deployment shape — the partition directories ARE the
    * inverted lists, so a probe reads only the probed lists from storage. */
  def ivfWriteIndex(corpus: DataFrame, idCol: String, vecCol: String, nLists: Int,
                    path: String, iters: Int = 2): Unit = {
    val centroids = ivfTrain(corpus, idCol, vecCol, nLists, iters)
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    ivfAssign(corpus, idCol, vecCol, centroids)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$path/lists")
  }

  /** Probe a persisted index. The probed centroid set (≤ min(queries·nProbe,
    * nLists) ids — bounded like ivfTrain's seed collect) is materialized as
    * a LITERAL isin filter before the scan, so Spark prunes the unprobed
    * partition directories statically: the plan's PartitionFilters show the
    * scan touching nProbe/nLists of the corpus, not filtering it post-read. */
  def ivfProbeIndex(spark: SparkSession, path: String, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val probes = probeSelection(queries, idCol, vecCol, nProbe, centroids)
    val probedIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.get(0))
    val lists = spark.read.parquet(s"$path/lists")
      .where(col("centroid_id").isin(probedIds: _*))
    probeJoin(lists, probes, k, queries.schema(idCol).dataType)
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * `maxabs/127`, components rounded HALF_UP to [-127, 127]. Cuts embedding
    * storage 4× (the dominant byte cost of a vector corpus at scale) at a
    * bounded per-component error of `scale/2`. Output columns: `{out}`
    * (ARRAY<TINYINT>) and `{out}_scale` (DOUBLE — 0.0 marks an all-zero
    * vector, which dequantizes back to all zeros). Pure codegen column
    * expressions — no UDF on the corpus-sized path. */
  def quantizeEmbeddings(df: DataFrame, vecCol: String, out: String = "qvec"): DataFrame = {
    val v = col(vecCol).cast(ArrayType(DoubleType))
    val maxAbs = aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x)))
    df.withColumn("_ma", maxAbs)
      .withColumn(s"${out}_scale", col("_ma") / 127.0)
      .withColumn(out, when(col("_ma") === 0.0,
          transform(v, _ => lit(0).cast(ByteType)))
        .otherwise(transform(v, x => round(x * 127.0 / col("_ma"), 0).cast(ByteType))))
      .drop("_ma")
  }

  /** Inverse of [[quantizeEmbeddings]]: component × scale. */
  def dequantizeEmbeddings(df: DataFrame, qCol: String, scaleCol: String,
                           out: String): DataFrame =
    df.withColumn(out,
      transform(col(qCol), q => q.cast(DoubleType) * col(scaleCol)))

  /** Embedding-cosine near-duplicate removal: drop rows whose embedding is
    * ≥ minSim-similar to a lower-id row (LSH-bucketed candidate generation). */
  def dedupByEmbedding(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                       minSim: Double = 0.95): DataFrame = {
    val dupIds = lshNearPairs(df, idCol, vecCol, dim, minSim)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------- SemDeDup

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space with a k-means
    * centroid table (the IVF trainer doubles as the clusterer), then
    * generate candidate pairs ONLY within each cluster — pairwise cost is
    * Σ m_c² over cluster sizes instead of corpus², and every corpus-sized
    * stage shuffles on `centroid_id` alone (the key a stored corpus is
    * bucketed by at scale, so the self-join co-locates without a new
    * exchange). A cluster larger than `maxClusterSize` — exactly where
    * near-duplicates concentrate — is SPLIT rather than skipped: an m-row
    * cluster is an O(m²) straggler/OOM bomb at 100 TB (same cap discipline
    * as [[lshNearPairs]]), so over-cap clusters are sub-bucketed by a
    * deterministic sign-LSH code (⌈log₂(m/cap)⌉ hyperplane bits — semantic
    * locality, so near-duplicates stay co-bucketed), and any sub-bucket
    * still over cap (a degenerate near-identical cluster lands on one side
    * of every hyperplane) gets a residual id-hash salt that bounds it
    * unconditionally. Pair generation then runs within
    * (centroid, lsh-code, salt); under-cap clusters get code 0 / salt 0, so
    * their pairs are bit-identical to the uncapped join. Dedup inside an
    * over-cap cluster is thus approximate (pairs across sub-buckets are not
    * emitted — ≥1 exemplar per sub-bucket survives) instead of absent.
    * Output: (id_a, id_b, sim) with id_a < id_b and sim ≥ minSim. */
  def semDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, minSim: Double,
                    maxClusterSize: Int = 1000): DataFrame = {
    val MaxBits = 12 // ≤4096-way LSH split before the salt takes over
    val SignSeed = 0x5eedL
    val SaltSeed = 0x5a17L
    // materialized once (same discipline as lshNearPairs): the assignment
    // feeds the histograms AND both self-join sides — recomputing the
    // corpus × nLists scoring otherwise. Freed by the ContextCleaner once
    // the returned plan is unreachable.
    val assigned = Pin(ivfAssign(df, idCol, vecCol, centroids)).df
    // cluster histogram is ≤ nLists rows — bounded like the centroid table,
    // so inspecting it on the driver is safe at any corpus size. In the
    // common no-over-cap case the whole sub-bucket/salt machinery (two
    // broadcast joins + an extra aggregate) is skipped and the self-join
    // runs directly on centroid_id.
    val hist = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("_cn"))
    val anyOverCap = hist.filter(col("_cn") > maxClusterSize).limit(1).count() > 0
    if (!anyOverCap) {
      val l = assigned.select(col("vid").as("id_a"), col("_cv").as("_va"),
        sqrt(dot(col("_cv"), col("_cv"))).as("_na"), col("centroid_id"))
      val r = assigned.select(col("vid").as("id_b"), col("_cv").as("_vb"),
        sqrt(dot(col("_cv"), col("_cv"))).as("_nb"), col("centroid_id"))
      return l.join(r, Seq("centroid_id")).filter(col("id_a") < col("id_b"))
        .withColumn("sim", dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
        .filter(col("sim") >= minSim)
        .select(col("id_a"), col("id_b"), col("sim"))
    }
    val nBits = when(col("_cn") <= maxClusterSize, lit(0)).otherwise(
      least(lit(MaxBits),
        ceil(log2(ceil(col("_cn").cast(DoubleType) / maxClusterSize))).cast(IntegerType)))
    // sign-LSH bit b: sign of ⟨v, h_b⟩ with hyperplane components
    // h_b[j] = ±1 from the SampleOps counter mixer on (b·8192 + j) —
    // deterministic, partition-invariant, BIGINT-safe. Guarded by
    // `b < nBits` so under-cap rows (the common case) never pay for the
    // projections.
    def proj(b: Int): Column = aggregate(
      transform(col("_cv"), (x, j) =>
        when(SampleOps.hashBucket(lit(b * 8192L) + j, SignSeed) % 2 === 0, x).otherwise(-x)),
      lit(0.0), (acc, x) => acc + x)
    val code = (0 until MaxBits).map { b =>
      when(lit(b) < col("_nbits") && proj(b) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val bucketed = assigned.join(broadcast(hist), Seq("centroid_id"))
      .withColumn("_nbits", nBits)
      .withColumn("_sub", code)
    // residual salt: sub-bucket histogram is ≤ nLists·2^MaxBits rows
    // (bounded, still broadcastable); a sub-bucket of m₂ > cap rows is
    // split ⌈m₂/cap⌉ ways by id hash — content-independent, so it bounds
    // even a cluster of identical vectors.
    val hist2 = bucketed.groupBy(col("centroid_id"), col("_sub"))
      .agg(count(lit(1)).as("_cn2"))
    val salted = bucketed.join(broadcast(hist2), Seq("centroid_id", "_sub"))
      .withColumn("_salt",
        when(col("_cn2") <= maxClusterSize, lit(0L)).otherwise(
          SampleOps.hashBucket(col("vid"), SaltSeed) %
            ceil(col("_cn2").cast(DoubleType) / maxClusterSize).cast(LongType)))
    // norms are projections computed once per side before the self-join, so
    // per-pair scoring is a single dot pass — bit-identical to the cosine
    // expression (same accumulation order, then dot / (√·√))
    val l = salted.select(col("vid").as("id_a"), col("_cv").as("_va"),
      sqrt(dot(col("_cv"), col("_cv"))).as("_na"),
      col("centroid_id"), col("_sub"), col("_salt"))
    val r = salted.select(col("vid").as("id_b"), col("_cv").as("_vb"),
      sqrt(dot(col("_cv"), col("_cv"))).as("_nb"),
      col("centroid_id"), col("_sub"), col("_salt"))
    l.join(r, Seq("centroid_id", "_sub", "_salt")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** SemDeDup keep-set: train centroids (or accept a pre-trained table via
    * [[semDedupPairs]] + an anti-join) and drop every row that is
    * ≥ minSim-similar to a lower-id row in its cluster — the deterministic
    * "keep one exemplar per semantic group" rule. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, nLists: Int,
               minSim: Double, iters: Int = 2,
               maxClusterSize: Int = 1000): DataFrame =
    semDedupWithCentroids(df, idCol, vecCol,
      ivfTrain(df, idCol, vecCol, nLists, iters), minSim, maxClusterSize)

  /** [[semDedup]] against a pre-trained centroid table (the production
    * shape: cluster once, dedup incrementally). */
  def semDedupWithCentroids(df: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, minSim: Double,
                            maxClusterSize: Int = 1000): DataFrame = {
    val dupIds = semDedupPairs(df, idCol, vecCol, centroids, minSim, maxClusterSize)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------ kNN graph

  /** k-nearest-neighbor graph over the corpus itself (self-match excluded):
    * every row's k most-cosine-similar other rows, via the IVF probe path —
    * the corpus is both the query side and the searched side, so the join
    * is per-inverted-list (shuffle key: centroid_id), never corpus×corpus.
    * With nProbe = nLists the graph is exact; smaller nProbe trades recall
    * for touching nProbe/nLists of the corpus per query row. Feeds
    * graph-based curation (connected-component dedup over semantic edges,
    * density scoring). Output: (qid, vid, sim), ties by vid ascending. */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
               nLists: Int, nProbe: Int, iters: Int = 2): DataFrame =
    knnGraphWithCentroids(df, idCol, vecCol, k,
      ivfTrain(df, idCol, vecCol, nLists, iters), nProbe)

  /** [[knnGraph]] against a pre-trained centroid table (the production
    * shape: centroids persisted once, graph refreshed incrementally).
    *
    * Plan shape — the corpus is read twice and nothing is joined back:
    *  1. ONE scoring projection against the broadcast packed centroids
    *     yields each vector's assignment (the [[ivfAssign]] argmax; the
    *     LIST role) and its `nProbe` probes (the [[probeSelection]] sort;
    *     the PROBE role), exploded into one (centroid_id, side, id, vec)
    *     role stream;
    *  2. ONE histogram of list members `_ln` and probes `_qn` per list
    *     (≤ nLists rows, broadcast back);
    *  3. ONE grid aggregate keyed on (centroid_id, qchunk, lchunk): list
    *     rows chunk by id hash into ⌈_ln/1024⌉ list chunks and probe rows
    *     into ⌈_qn/256⌉ probe chunks; each list row is replicated to every
    *     probe chunk of its list and each probe row to every list chunk,
    *     so every group holds exactly one (probe chunk, list chunk) pair,
    *     packed, and [[graft.functions.ChunkPairTopK]] scores it in place;
    *  4. the per-chunk top-k merge per qid through the bounded top-k
    *     aggregate.
    * Under AQE Spark reuses no exchange over a cached relation, so every
    * extra read of the input re-runs the centroid packing and scoring
    * beneath it — hence one role stream feeding both the histogram and the
    * grid. The graph is bit-identical to packing each side in its own
    * aggregate and joining the packs on centroid_id (KnnGraphGridSpec
    * keeps that form as the executable specification). Shuffle volume:
    * each list row crosses the grid exchange once per probe chunk of its
    * list and each probe row once per list chunk. */
  def knnGraphWithCentroids(df: DataFrame, idCol: String, vecCol: String,
                            k: Int, centroids: DataFrame, nProbe: Int): DataFrame = {
    val idType = df.schema(idCol).dataType
    // null vectors neither assign (ivfAssign's dot > 0) nor probe (NaN-free
    // scores only), so they leave before the scoring
    val scored = df.select(col(idCol).cast(LongType).as("_id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("_cv"))
      .filter(col("_cv").isNotNull)
      .crossJoin(broadcast(packedCentroids(centroids)))
      .select(col("_id"), col("_cv"), sqrt(dot(col("_cv"), col("_cv"))).as("_nrm"),
        when(dot(col("_cv"), col("_cv")) > 0.0, bestCentroid(col("_cv")).getField("cid"))
          .as("_home"),
        probeCentroids(col("_cv"), nProbe).getField("cid").as("_probes"))
    val roles = scored.select(col("_id"), col("_cv"), col("_nrm"),
      explode(concat(
        filter(array(struct(col("_home").as("centroid_id"), lit(0).as("side"))),
          r => r.getField("centroid_id").isNotNull),
        transform(col("_probes"), c => struct(c.as("centroid_id"), lit(1).as("side")))))
        .as("_r"))
      .select(col("_r.centroid_id").as("centroid_id"), col("_r.side").as("side"),
        col("_id"), col("_cv"), col("_nrm"))
    val isList = col("side") === 0
    val hist = roles.groupBy(col("centroid_id"))
      .agg(count(when(isList, 1)).as("_ln"), count(when(!isList, 1)).as("_qn"))
      // a list nobody probes (or a probed list with no members) pairs nothing
      .filter(col("_ln") > 0 && col("_qn") > 0)
    val nListChunks = ceil(col("_ln").cast(DoubleType) / PackChunkSize).cast(LongType)
    val nProbeChunks = ceil(col("_qn").cast(DoubleType) / ProbeChunkSize).cast(LongType)
    val grid = roles.join(broadcast(hist), Seq("centroid_id"))
      .withColumn("_own", when(isList,
          SampleOps.hashBucket(col("_id"), ListChunkSeed) % nListChunks)
        .otherwise(SampleOps.hashBucket(col("_id"), ProbeChunkSeed) % nProbeChunks))
      .withColumn("_other", explode(sequence(lit(0L),
        when(isList, nProbeChunks).otherwise(nListChunks) - 1L)))
      .groupBy(col("centroid_id"),
        when(isList, col("_other")).otherwise(col("_own")).as("_qchunk"),
        when(isList, col("_own")).otherwise(col("_other")).as("_lchunk"))
      .agg(
        collect_list(when(!isList, struct(col("_id").as("qid"), col("_cv").as("qv"))))
          .as("_qp"),
        collect_list(when(isList, struct(col("_id").as("vid"), col("_nrm").as("nrm"),
          col("_cv").as("vec")))).as("_pk"))
    grid
      .select(explode(chunkPairTopK(col("_qp.qid"), flatten(col("_qp.qv")),
        transform(col("_qp.qv"), v => size(v)), col("_pk.vid"), col("_pk.nrm"),
        flatten(col("_pk.vec")), transform(col("_pk.vec"), v => size(v)), k,
        excludeSelf = true)).as("_h"))
      .select(col("_h.qid").as("_qidL"), col("_h.vid").as("vid"), col("_h.sim").as("sim"))
      .groupBy(col("_qidL"))
      .agg(topKAgg(col("vid"), col("sim"), k).as("_top"))
      .select(col("_qidL"), explode(col("_top")).as("_t"))
      .select(col("_qidL").cast(idType).as("qid"),
        col("_t.vid").cast(idType).as("vid"), col("_t.sim").as("sim"))
  }

  // ---------------------------------------------------- similarity join

  /** Cross-corpus similarity join: every (a, b) pair with
    * `round(cos, 6) ≥ minSim` — corpus alignment (image↔caption candidate
    * pairing, translated-document linking, crawl-to-crawl matching),
    * where [[semDedupPairs]] is the within-corpus special case.
    *
    * Candidates are IVF-restricted (the [[ivfTopK]] recall/cost dial): A
    * assigns to its nearest centroid, B probes its `nProbe` nearest, and
    * a pair is scored iff A's centroid is among B's probes — each pair
    * meets at most once (a single assignment against distinct probes), so
    * there is no dedup stage. Deterministic and oracle-replayable: the
    * zero-iteration centroid seeding, the (sim desc, cid desc) assignment
    * tiebreak, and the rounded threshold all replay in SQL.
    *
    * Scale: both sides shuffle ONCE on centroid_id (pre-bucketing either
    * side by centroid_id makes its exchange vanish — the semdedup
    * discipline); per-list cost is |A_list|·|B_probes into it|, bounded
    * by the centroid granularity, never |A|·|B|. Zero-norm vectors (NaN
    * cosine) drop, matching every cosine op in this file. */
  def similarityJoin(a: DataFrame, b: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, minSim: Double,
                     nProbe: Int = 4): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val aSide = ivfAssign(a, idCol, vecCol, centroids)
      .select(col("vid").as("id_a"), col("_cv").as("_va"),
        sqrt(dot(col("_cv"), col("_cv"))).as("_na"), col("centroid_id"))
    val bSide = probeSelection(b, idCol, vecCol, nProbe, centroids)
      .select(col("qid").as("id_b"), col("_qv").as("_vb"),
        sqrt(dot(col("_qv"), col("_qv"))).as("_nb"), col("centroid_id"))
    aSide.join(bSide, Seq("centroid_id"))
      .withColumn("sim",
        round(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 6))
      .filter(!isnan(col("sim")) && col("sim") >= lit(minSim))
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Embedding-space decontamination — the paraphrase-shaped complement
    * to the verbatim n-gram scrub ([[TextOps]] decontaminate family):
    * drop every corpus document whose embedding cosine against ANY
    * benchmark/eval embedding reaches `minSim`. Lexical overlap tests
    * miss a reworded eval item; its embedding does not move far.
    *
    * Scale shape: pure composition of [[similarityJoin]] — the corpus
    * assigns to its nearest centroid once (map-only vs the broadcast
    * centroid table), the BOUNDED benchmark side probes `nProbe` lists,
    * the pair join is equi on centroid_id (never |corpus| × |bench|),
    * and the only corpus-sized stages are that one assignment pass plus
    * the final id-keyed anti join. With `nProbe` = nLists the candidate
    * restriction is exhaustive (the oracle-replay mode; IvfSpec pins the
    * brute-force-threshold identity). Returns the surviving corpus rows
    * unchanged; [[semanticContaminationFlags]] returns ALL rows with the
    * flag + best-match evidence for auditing a threshold before
    * committing to it. */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, vecCol: String,
                            bench: DataFrame, centroids: DataFrame,
                            minSim: Double, nProbe: Int = 4): DataFrame = {
    val bad = similarityJoin(corpus, bench, idCol, vecCol, centroids,
        minSim, nProbe)
      .select(col("id_a").as(idCol)).distinct()
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Audit form of [[semanticDecontaminate]]: every corpus row with
    * `contaminated` + the best matching benchmark id and its (rounded)
    * cosine — null when no pair reached `minSim`. Same join shape; the
    * per-corpus-row argmax is the bounded [[graft.functions.TopKByScore]]
    * aggregate at k = 1 (score desc, id asc ties — the house rank
    * discipline). */
  def semanticContaminationFlags(corpus: DataFrame, idCol: String,
                                 vecCol: String, bench: DataFrame,
                                 centroids: DataFrame, minSim: Double,
                                 nProbe: Int = 4): DataFrame = {
    val pairs = similarityJoin(corpus, bench, idCol, vecCol, centroids,
      minSim, nProbe)
    val B = org.apache.spark.sql.GraftExpressionBridge
    val top1 = B.column(graft.functions.TopKByScore(
      B.expression(col("id_b").cast(LongType)),
      B.expression(col("sim")), 1).toAggregateExpression()).as("_top")
    val best = pairs.groupBy(col("id_a")).agg(top1)
      .select(col("id_a").as(idCol), explode(col("_top")).as("_b"))
      .select(col(idCol), col("_b.vid").as("match_id"),
        col("_b.sim").as("match_sim"))
    corpus.join(best, Seq(idCol), "left")
      .withColumn("contaminated", col("match_id").isNotNull)
  }

  // ----------------------------------------------------------- MMR rerank

  /** The deterministic MMR greedy over one candidate list, extracted as an
    * executable specification (the driver oracle replays it as a DuckDB
    * recursive CTE): at each step pick
    * `argmax round(λ·rel − (1−λ)·maxSim, 6)` with ties to the smaller id
    * (inputs arrive id-ascending, so a strict `>` scan keeps the first),
    * where `maxSim` is the max 6-decimal-rounded cosine to the already-
    * selected set and `rel` is pre-rounded. All comparisons happen on the
    * ROUNDED grid — the cross-engine convention — so the pick sequence
    * replays exactly in an engine whose cosine differs in the last ulp. */
  private[graft] def mmrGreedy(ids: Seq[Long], rels: Seq[Double],
      vecs: Seq[Seq[Double]], k: Int, lam: Double): Seq[(Long, Double)] = {
    val mu = 1.0 - lam
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = ids.length
    val va = vecs.map(_.toArray).toArray
    def cos(i: Int, j: Int): Double = {
      val a = va(i); val b = va(j)
      var d = 0.0; var na = 0.0; var nb = 0.0; var t = 0
      val len = math.min(a.length, b.length)
      while (t < len) { d += a(t) * b(t); na += a(t) * a(t); nb += b(t) * b(t); t += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // the TRUE max similarity to the selected set — negative maxima are
    // legitimate penalties-turned-boosts (orthogonal-or-opposed sets);
    // −∞ marks "nothing selected yet", where the formula uses 0 (the
    // first pick is pure relevance — same convention the oracle's empty
    // coalesce replays)
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val taken = Array.fill(n)(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    var step = 0
    val m = math.min(k, n)
    while (step < m) {
      var best = -1; var bestScore = 0.0; var i = 0
      while (i < n) {
        if (!taken(i)) {
          val ms = if (maxSim(i) == Double.NegativeInfinity) 0.0 else maxSim(i)
          val sc = r6(lam * rels(i) - mu * ms)
          if (best < 0 || sc > bestScore) { best = i; bestScore = sc }
        }
        i += 1
      }
      taken(best) = true
      out += ((ids(best), bestScore))
      var j = 0
      while (j < n) {
        // NaN cosine (a zero-norm or NaN-component survivor) is a broken
        // signal: skip the update rather than throw in r6's BigDecimal
        if (!taken(j)) {
          val c = cos(j, best)
          if (!java.lang.Double.isNaN(c)) {
            val s = r6(c); if (s > maxSim(j)) maxSim(j) = s
          }
        }
        j += 1
      }
      step += 1
    }
    out.toSeq
  }

  /** Maximal-Marginal-Relevance rerank (Carbonell & Goldstein, SIGIR 1998)
    * of bounded per-query candidate lists — the diversity pass after
    * retrieval: `argmax λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)` greedily,
    * so near-duplicate candidates stop crowding out distinct evidence
    * (dedup-at-read for RAG context assembly, diverse hard-negative picks,
    * exemplar selection).
    *
    * `candidates` is (qidCol, vidCol, relCol) — the bounded output of any
    * retrieval op ([[bruteForceTopK]], [[graft.llm.RetrievalOps
    * .hybridTopK]], the IVF probe); one row per (query, doc). `vectors`
    * supplies (idCol, vecCol) for the candidate docs.
    *
    * Scale design (100 TB corpus, bounded query batch): the greedy is
    * inherently sequential per query (each pick changes the next
    * argmax), so the op keeps it OFF the corpus: only candidate ids join
    * the vector table (slim equi join — the corpus itself never moves),
    * each query's ≤kCand candidates gather into one bounded in-row list,
    * and the O(k·kCand·dim) greedy runs inside one projection per QUERY
    * row — |Q|-proportional work with no cross-row dependence, trivially
    * parallel across queries. A Scala UDF is the right tool here (not a
    * codegen expression): it executes once per query, not per corpus row,
    * so interpreter overhead is amortized over the whole greedy.
    *
    * Determinism: see [[mmrGreedy]] — every comparison on the 6-decimal
    * grid, ties to the smaller id. Zero-norm and NaN inputs are dropped
    * (NaN cosine is a broken signal, same contract as [[bruteForceTopK]]).
    *
    * @return (qidCol, rank 1..min(k, |candidates|), vidCol, mmr_score)
    */
  def mmrRerank(candidates: DataFrame, vectors: DataFrame, qidCol: String,
                vidCol: String, relCol: String, idCol: String, vecCol: String,
                k: Int, lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val vidType = candidates.schema(vidCol).dataType
    val joined = candidates
      .select(col(qidCol).as("_qid"), col(vidCol).cast(LongType).as("_vid"),
        round(col(relCol).cast("double"), 6).as("_rel"))
      .filter(col("_rel").isNotNull && !isnan(col("_rel")))
      .join(vectors.select(col(idCol).cast(LongType).as("_vid"),
        col(vecCol).cast(ArrayType(DoubleType)).as("_v")), Seq("_vid"))
      // a NaN component passes the nonzero test (NaN != 0.0 is true) but
      // yields cos = NaN inside the greedy, where the 6-decimal grid's
      // BigDecimal round throws — drop broken vectors here, the same
      // contract as bruteForceTopK's NaN-sim filter
      .filter(exists(col("_v"), e => e =!= lit(0.0)) &&
        !exists(col("_v"), e => isnan(e)))
    val kk = k; val lam = lambda
    val greedy = udf((ids: Seq[Long], rels: Seq[Double], vecs: Seq[Seq[Double]]) =>
      mmrGreedy(ids, rels, vecs, kk, lam))
    joined
      .groupBy(col("_qid"))
      .agg(sort_array(collect_list(struct(col("_vid"), col("_rel"), col("_v")))).as("_c"))
      .select(col("_qid"), posexplode(greedy(col("_c._vid"), col("_c._rel"), col("_c._v"))))
      .select(col("_qid").as(qidCol), (col("pos") + 1).cast("int").as("rank"),
        col("col._1").cast(vidType).as(vidCol), col("col._2").as("mmr_score"))
  }
}
