package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sparse lexical retrieval over the corpus: BM25 top-k (Robertson &
  * Zaragoza 2009, "The Probabilistic Relevance Framework: BM25 and
  * Beyond"), with Lucene's non-negative idf variant
  * `ln(1 + (N − df + 0.5)/(df + 0.5))`.
  *
  * Pipeline uses: retrieval-based decontamination (find the corpus
  * documents closest to each benchmark item), eval-set leakage triage, and
  * nearest-neighbor corpus audits without an embedding model.
  *
  * Scale design (100 TB corpus, bounded query set): the query side is the
  * SMALL side by construction (a benchmark / probe set). The corpus-sized
  * stages are (a) one scan feeding the bounded per-term metadata (dfreq
  * restricted to query-vocabulary hits map-side, one-row stats) and (b) ONE
  * map-only scoring pass in which every document scores all queries in one
  * traversal of its native [[graft.functions.TokenTfEntries]] array against
  * a broadcast term → (idf, qid-fanout) LUT — emitting one row per nonzero
  * (query, doc) intersection; no per-hit explode, no (qid, doc) exchange.
  * Per-query top-k is the bounded native [[graft.functions.TopKByScore]]
  * aggregate (primitive-array heap state, no per-query sort); the only
  * scoring-side exchange carries its per-query heap partials. No
  * corpus-sized window, no global sort.
  */
object RetrievalOps {

  private def toks(textCol: Column): Column =
    filter(split(lower(trim(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)

  /** The top-k heap keys on a LONG doc id; a non-integral id (e.g. string
    * URLs) would silently cast to NULL and collapse every document onto one
    * key — fail fast instead (the k/k1/b require discipline). */
  private def requireIntegralId(name: String,
                                t: org.apache.spark.sql.types.DataType): Unit =
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, LongType).contains(t),
      s"doc id column '$name' must be an integral type (it keys the " +
        s"bounded top-k heap as LONG), got $t — hash or dense-rank string " +
        "ids to LONG first")

  private def topKAgg(vid: Column, sim: Column, k: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.TopKByScore(
        org.apache.spark.sql.GraftExpressionBridge.expression(vid),
        org.apache.spark.sql.GraftExpressionBridge.expression(sim),
        k).toAggregateExpression())

  /** Per-document (term, tf) entries computed map-side in one native pass
    * ([[graft.functions.TokenTfEntries]]) — replaces the corpus-sized
    * `explode → groupBy(doc, term)` shuffle whose only purpose was
    * counting within single documents. `_dl` (total tokens) folds over the
    * ≤-distinct-terms entry array. */
  private def docTermTf(df: DataFrame, docIdCol: String, textCol: String): DataFrame = {
    val entries = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.TokenTfEntries(
        org.apache.spark.sql.GraftExpressionBridge.expression(
          lower(trim(col(textCol))))))
    df.select(col(docIdCol).as("_doc"), entries.as("_e"))
      .withColumn("_dl",
        aggregate(col("_e"), lit(0L), (a, e) => a + e.getField("tf").cast(LongType)))
      .select(col("_doc"), col("_dl"), explode(col("_e")).as("_te"))
      .select(col("_doc"), col("_te.term").as("_term"),
        col("_te.tf").cast(LongType).as("_tf"), col("_dl"))
  }

  /** BM25 top-k corpus documents per query.
    *
    * Ranking ties and cross-engine float drift: the per-(query, doc) score
    * is rounded to 6 decimals BEFORE ranking, and rank breaks ties by
    * doc id ascending — so the selected set and rank values replay exactly
    * in an oracle whose `ln` differs in the last ulp.
    *
    * @return (qidCol, rank 1..k, docIdCol, score) — rank by
    *         (score desc, doc id asc)
    */
  def bm25TopK(corpus: DataFrame, docIdCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Build(corpus, docIdCol, textCol, queries, qidCol, qtextCol,
      k, k1, b, pin = true)

  /** The same DAG with NO result pin — the plan-inspection hook: the
    * public entry localCheckpoints its result, so its executedPlan
    * collapses to `Scan ExistingRDD` and plan regressions become invisible
    * to PlanDump/PlanGuard (the r9 audit's blind spot). Tests pin the
    * scorer-path shape here and the qmeta build via [[bm25Qmeta]];
    * production calls keep the pinned path (multi-consumer callers like
    * hybridTopK otherwise re-run the scorer scan). */
  private[graft] def bm25TopKUnpinned(corpus: DataFrame, docIdCol: String,
                                      textCol: String, queries: DataFrame,
                                      qidCol: String, qtextCol: String,
                                      k: Int): DataFrame =
    bm25Build(corpus, docIdCol, textCol, queries, qidCol, qtextCol,
      k, 1.2, 0.75, pin = false)

  /** The bounded per-term query metadata: (term → qid fan-out list,
    * PRE-COMPUTED idf, avgdl). df → idf is a per-TERM value, computed here
    * on the bounded term table; one corpus scan (restricted to
    * query-vocabulary hits map-side) feeds dfreq, one one-row aggregate the
    * stats. ≤ |query vocab| rows by construction — this is what
    * [[bm25Build]] collects into the scorer LUT, and what PlanGuard pins
    * (every join a requested broadcast, no corpus shuffle beyond the
    * bounded per-term count). */
  private[graft] def bm25Qmeta(corpus: DataFrame, docIdCol: String,
                               textCol: String, queries: DataFrame,
                               qidCol: String, qtextCol: String): DataFrame = {
    // distinct query terms (small, broadcast): the early corpus-side filter
    val qterms = queries.select(col(qidCol).as("_qid"),
        explode(toks(col(qtextCol))).as("_term"))
      .distinct()
    val qvocab = qterms.select(col("_term")).distinct()

    // corpus stats: one-row aggregate (N docs, avg doc length)
    val stats = corpus.agg(
      count(lit(1)).as("_n"),
      coalesce(avg(size(toks(col(textCol)))), lit(0.0)).as("_avgdl"))

    // document frequency per query term (≤ |query vocab| rows): tf counted
    // map-side per document (docTermTf), restricted to query-vocabulary
    // hits — no corpus-sized groupBy
    val dfreq = docTermTf(corpus, docIdCol, textCol)
      .join(broadcast(qvocab), Seq("_term"))
      .groupBy(col("_term")).agg(count(lit(1)).as("_df"))

    qterms.groupBy(col("_term"))
      .agg(collect_list(col("_qid")).as("_qids"))
      .join(broadcast(dfreq), Seq("_term"))
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("_df") + lit(0.5)) / (col("_df") + lit(0.5))))
      .select(col("_term"), col("_qids"), col("_idf"), col("_avgdl"))
  }

  /** The broadcast-join form of [[bm25TopK]] — kept as the executable
    * specification of the scoring semantics (the MinHashParity /
    * bigramScoreWithModelJoins discipline): query-vocab-hit tf rows probe
    * ONE per-term qmeta broadcast, explode to their qid fan-out, and reduce
    * through a (qid, doc)-keyed DECIMAL-free double sum rounded at 6
    * decimals. Bit-parity with the production per-doc scorer is pinned in
    * DsirRetrievalSpec. */
  private[graft] def bm25TopKJoins(corpus: DataFrame, docIdCol: String,
                                   textCol: String, queries: DataFrame,
                                   qidCol: String, qtextCol: String, k: Int,
                                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val docIdType = corpus.schema(docIdCol).dataType
    requireIntegralId(docIdCol, docIdType)
    val qvocab = queries.select(
        explode(toks(col(qtextCol))).as("_term")).distinct()
    val tf = docTermTf(corpus, docIdCol, textCol)
      .join(broadcast(qvocab), Seq("_term"))
    val qmeta = bm25Qmeta(corpus, docIdCol, textCol, queries, qidCol, qtextCol)
    val perQuery = tf
      .join(broadcast(qmeta), Seq("_term"))
      .withColumn("_w",
        col("_idf") * (col("_tf") * lit(k1 + 1.0)) /
          (col("_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
      .select(explode(col("_qids")).as("_qid"), col("_doc"), col("_w"))
      .groupBy(col("_qid"), col("_doc"))
      .agg(round(sum(col("_w")), 6).as("_score"))
    perQuery
      .select(col("_qid"), col("_doc").cast(LongType).as("_docL"), col("_score"))
      .groupBy(col("_qid"))
      .agg(topKAgg(col("_docL"), col("_score"), k).as("_top"))
      .select(col("_qid"), posexplode(col("_top")))
      .select(col("_qid").as(qidCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.vid").cast(docIdType).as(docIdCol), col("col.sim").as("score"))
  }

  private def bm25Build(corpus: DataFrame, docIdCol: String, textCol: String,
                        queries: DataFrame, qidCol: String, qtextCol: String,
                        k: Int, k1: Double, b: Double, pin: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0.0, s"k1 must be >= 0, got $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0,1], got $b")
    val spark = corpus.sparkSession
    val docIdType = corpus.schema(docIdCol).dataType
    requireIntegralId(docIdCol, docIdType)
    val qidField = queries.schema(qidCol)

    // Per-doc multi-query scorer (r10 round 2): the r9→r10-round-1 chain
    // still paid, per query-vocabulary hit row, an explode to its qid
    // fan-out plus a (qid, doc)-pair-keyed hash-aggregate exchange. The
    // qmeta table is BOUNDED (≤ |query vocab| rows), so it collects into a
    // broadcast term → (idf, qid-fanout) LUT and every document scores ALL
    // queries in ONE pass over its TokenTfEntries array (the
    // bigramScoreBroadcast discipline) — emitting exactly one (query, doc,
    // score) row per nonzero intersection. The fan-out explode and the
    // (qid, doc) exchange are gone; the only remaining exchange carries the
    // bounded per-query top-k heap partials.
    //
    // Bit-exactness vs the joins form (pinned in DsirRetrievalSpec): idf
    // doubles come from the SAME collected qmeta plan; per-entry _w applies
    // the identical double ops in the identical order (the length
    // normalization is hoisted per doc — same operands, same order); the
    // per-(query, doc) sum accumulates in TokenTfEntries array order, which
    // is exactly the joins form's stream order (one partial per key — a
    // doc's hit rows never split); the final round is the same
    // BigDecimal-valueOf HALF_UP chain via RoundedDecimal.scaledLong.
    val metaRows = bm25Qmeta(corpus, docIdCol, textCol,
      queries, qidCol, qtextCol).collect()
    val entries = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.TokenTfEntries(
        org.apache.spark.sql.GraftExpressionBridge.expression(
          lower(trim(col(textCol))))))
    val docTermArrays = corpus
      .select(col(docIdCol).as("_doc"),
        transform(entries, e => e.getField("term")).as("_terms"),
        transform(entries, e => e.getField("tf")).as("_tfs"))
    val resBase = multiQueryScore(docTermArrays, metaRows, qidField,
      docIdType, qidCol, docIdCol, k, k1, b)
    // the top-k result is (queries × k) rows — pin it eagerly so the
    // scorer scan's blocks are freed deterministically before returning
    if (pin) Pin(resBase).df else resBase
  }

  /** The shared per-doc multi-query scorer behind [[bm25TopK]] and the
    * doc-grouped [[bm25QueryIndex]] path: the bounded qmeta rows collect
    * into a broadcast term → (idf, qid-fanout) LUT, every document scores
    * ALL queries in one pass over its (term, tf) arrays, and per-query
    * top-k is the bounded heap aggregate — one map-only corpus pass, one
    * heap-partial exchange, one tiny idx→qid broadcast join.
    *
    * @param docTermArrays (_doc, _terms ARRAY<STRING>, _tfs ARRAY<INT>) —
    *        parallel per-document term/tf arrays in TokenTfEntries order
    * @param metaRows collected qmeta rows (term, qid list, idf, avgdl) */
  private[graft] def multiQueryScore(docTermArrays: DataFrame,
                              metaRows: Array[org.apache.spark.sql.Row],
                              qidField: org.apache.spark.sql.types.StructField,
                              docIdType: org.apache.spark.sql.types.DataType,
                              qidOutCol: String, docOutCol: String, k: Int,
                              k1: Double, b: Double): DataFrame = {
    val spark = docTermArrays.sparkSession
    val qidIdx = new java.util.LinkedHashMap[Any, Integer]()
    metaRows.foreach(_.getSeq[Any](1).foreach { q =>
      if (!qidIdx.containsKey(q)) qidIdx.put(q, Integer.valueOf(qidIdx.size())) })
    val nQ = qidIdx.size()
    val termLut = new java.util.HashMap[String, (Double, Array[Int])](metaRows.length * 2)
    metaRows.foreach { r =>
      termLut.put(r.getString(0),
        (r.getDouble(2), r.getSeq[Any](1).map(q => qidIdx.get(q).intValue()).toArray))
    }
    val avgdl = if (metaRows.nonEmpty) metaRows(0).getDouble(3) else 0.0
    val bcLut = spark.sparkContext.broadcast(termLut)
    val k1p1 = k1 + 1.0
    val oneMb = 1.0 - b
    val scoreUdf = udf((terms: Seq[String], tfs: Seq[Int]) => {
      if (terms == null || terms.isEmpty) Seq.empty[(Int, Double)]
      else {
        val lut = bcLut.value
        var dl = 0L
        var i = 0
        while (i < tfs.length) { dl += tfs(i); i += 1 }
        // per-doc length normalization, hoisted: identical operand order to
        // the per-row column form k1 * ((1-b) + (b * dl) / avgdl)
        val dnorm = k1 * (oneMb + (b * dl.toDouble) / avgdl)
        val sums = new Array[Double](nQ)
        val hit = new Array[Boolean](nQ)
        var any = false
        i = 0
        while (i < terms.length) {
          val m = lut.get(terms(i))
          if (m != null) {
            val tfd = tfs(i).toDouble
            val w = m._1 * (tfd * k1p1) / (tfd + dnorm)
            val idxs = m._2
            var j = 0
            while (j < idxs.length) {
              sums(idxs(j)) += w; hit(idxs(j)) = true; j += 1
            }
            any = true
          }
          i += 1
        }
        if (!any) Seq.empty[(Int, Double)]
        else {
          val out = Seq.newBuilder[(Int, Double)]
          var q = 0
          while (q < nQ) {
            if (hit(q)) out += ((q, new java.math.BigDecimal(
              java.math.BigInteger.valueOf(
                graft.functions.RoundedDecimal.scaledLong(sums(q), 6)),
              6).doubleValue()))
            q += 1
          }
          out.result()
        }
      }
    })

    // idx → qid: a tiny local relation restoring the caller's qid values
    // (and type) after the per-query top-k — broadcast by construction
    val qidArr = {
      val a = new Array[Any](nQ)
      val it = qidIdx.keySet().iterator()
      var i = 0
      while (it.hasNext) { a(i) = it.next(); i += 1 }
      a
    }
    val idxRows = new java.util.ArrayList[org.apache.spark.sql.Row](nQ)
    qidArr.zipWithIndex.foreach { case (q, i) =>
      idxRows.add(org.apache.spark.sql.Row(i, q))
    }
    val idxDf = spark.createDataFrame(idxRows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_qidx",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_qid",
          qidField.dataType, qidField.nullable))))

    val perQuery = docTermArrays
      .select(col("_doc"), explode(scoreUdf(col("_terms"), col("_tfs"))).as("_qs"))
      .select(col("_qs._1").as("_qidx"),
        col("_doc").cast(LongType).as("_docL"), col("_qs._2").as("_score"))
    perQuery
      .groupBy(col("_qidx"))
      .agg(topKAgg(col("_docL"), col("_score"), k).as("_top"))
      .join(broadcast(idxDf), Seq("_qidx"))
      .select(col("_qid"), posexplode(col("_top")))
      .select(col("_qid").as(qidOutCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.vid").cast(docIdType).as(docOutCol), col("col.sim").as("score"))
  }

  // ------------------------------------------------- persisted BM25 index

  /** Build and persist the BM25 index: `path/docgroup` — per-document
    * (doc, dl, terms, tfs) rows — parallel flat arrays in TokenTfEntries
    * order (the
    * map-only scoring layout — the r11 addition: grouping postings by doc
    * costs an exchange exactly once, at index-WRITE time, where it is
    * amortized over every query batch); `path/postings` — (term, doc, tf,
    * dl) rows PARTITIONED BY a term hash bucket so a selective query's scan
    * prunes to its own terms' directories (the ann_ivf_index discipline
    * applied to an inverted text index — derived from the stored docgroup,
    * so corpus TEXT tokenizes once); `path/dfreq` — per-term document
    * frequencies (same bucket partitioning); `path/stats` — the one-row
    * (N, avgdl); `path/meta` — the bucket count + layout flag. Built once
    * per corpus version; query batches then score WITHOUT touching corpus
    * text. */
  def bm25BuildIndex(corpus: DataFrame, docIdCol: String, textCol: String,
                     path: String, nTermBuckets: Int = 256): Unit = {
    require(nTermBuckets >= 1, s"nTermBuckets must be >= 1, got $nTermBuckets")
    val spark = corpus.sparkSession
    import spark.implicits._
    // the ONE corpus-text pass: per-doc (term, tf) entries, map-only.
    // Stored as two parallel FLAT arrays (terms, tfs), not ARRAY<STRUCT>:
    // the nested-struct parquet decode plus a per-row transform() to split
    // it measurably dominated the doc-grouped scoring scan.
    val entries = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.TokenTfEntries(
        org.apache.spark.sql.GraftExpressionBridge.expression(
          lower(trim(col(textCol))))))
    corpus.select(col(docIdCol).as("doc"), entries.as("_e"))
      .select(col("doc"),
        aggregate(col("_e"), lit(0L),
          (a, e) => a + e.getField("tf").cast(LongType)).as("dl"),
        transform(col("_e"), e => e.getField("term")).as("terms"),
        transform(col("_e"), e => e.getField("tf")).as("tfs"))
      .write.mode("overwrite").parquet(s"$path/docgroup")
    // term-partitioned postings derived from the STORED docgroup (no second
    // tokenize; same (doc, term, tf, dl) rows as the direct derivation)
    val dg = spark.read.parquet(s"$path/docgroup")
    dg.select(col("doc"), col("dl"),
        posexplode(col("terms")).as(Seq("_i", "term")),
        col("tfs"))
      .select(col("doc"),  col("term"),
        element_at(col("tfs"), col("_i") + 1).cast(LongType).as("tf"), col("dl"))
      .withColumn("term_bucket", pmod(xxhash64(col("term")), lit(nTermBuckets.toLong)))
      .write.mode("overwrite").partitionBy("term_bucket").parquet(s"$path/postings")
    // df over the WHOLE vocabulary (bounded by vocab size, not the corpus)
    val stored = spark.read.parquet(s"$path/postings")
    stored.groupBy(col("term"), col("term_bucket"))
      .agg(count(lit(1)).as("df"))
      .write.mode("overwrite").partitionBy("term_bucket").parquet(s"$path/dfreq")
    corpus.agg(count(lit(1)).as("n"),
        coalesce(avg(size(toks(col(textCol)))), lit(0.0)).as("avgdl"))
      .write.mode("overwrite").parquet(s"$path/stats")
    Seq((nTermBuckets, true)).toDF("n_term_buckets", "has_docgroup")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Query a [[bm25BuildIndex]] layout. Two scoring paths, picked by the
    * batch's term-bucket fan-out (r11):
    *
    *  - **doc-grouped** (broad batches — e.g. full-document probe queries
    *    whose vocabulary hits most term buckets, where partition pruning
    *    buys nothing): the per-doc multi-query scorer over `path/docgroup`
    *    — ONE map-only scan, bounded per-query top-k heap partials, no
    *    posting⋈qmeta explode and no (qid, doc) exchange (the bm25TopK
    *    round-2 shape, now reading pre-tokenized entries instead of text);
    *  - **term-pruned** (selective batches): the postings/dfreq scans carry
    *    a LITERAL `term_bucket isin (…)` filter derived from the query
    *    terms, so static partition pruning limits the read to the query
    *    vocabulary's directories — the corpus-sized index is never scanned
    *    in full.
    *
    * Query terms are collected to build the bucket literal (bounded: a
    * query batch is an eval/probe set by contract). Same ranking contract
    * as [[bm25TopK]]: 6-decimal-rounded scores, doc-id tiebreak — the two
    * paths agree (DsirRetrievalSpec pins it). */
  def bm25QueryIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, qidCol: String, qtextCol: String,
                     k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val prep = indexQueryPrep(spark, path, queries, qidCol, qtextCol)
    // Cost-based path choice. The pruned path's only advantage is reading
    // fewer bytes (its bucket fan-out fraction of the postings); its
    // per-entry cost is a broadcast probe + qid-fanout explode + a
    // (qid, doc) hash-aggregate exchange — measured ~3-5× the doc-grouped
    // scorer's per-entry cost (prunedCore 1.45 s vs docGroupedCore 0.49 s
    // on the SAME prep at 22/64 bucket coverage, measured with the retired
    // probe harness, last present at `65f6bcd`), and
    // the docgroup layout is ~half the bytes per entry (no per-term
    // doc/dl repetition). Break-even is therefore around 1/8 coverage:
    // prune only when the batch is genuinely selective.
    if (prep.hasDocGroup && prep.buckets.length * 8 >= prep.nBuckets)
      docGroupedCore(spark, path, queries, qidCol, prep.qmeta, k, k1, b)
    else
      prunedCore(spark, path, qidCol, prep.qmeta, prep.buckets, k, k1, b)
  }

  /** A query batch that no longer looks like an eval/probe set: the qmeta
    * LUT and the (qid, term) prep are collected to the driver BY CONTRACT
    * (bounded query batch) — a caller passing a corpus as `queries` would
    * otherwise silently OOM the driver (r10 verdict item 4). */
  private[graft] val MaxCollectedQueryTerms: Int = 2000000

  private def requireBoundedQueryBatch(n: Int, what: String): Unit =
    require(n <= MaxCollectedQueryTerms,
      s"$what has more than $MaxCollectedQueryTerms rows — the query side must be a " +
        s"BOUNDED eval/probe batch (≤ $MaxCollectedQueryTerms distinct (qid, term) pairs); " +
        "this looks like a corpus passed as queries")

  private[graft] final case class IndexQueryPrep(nBuckets: Int, hasDocGroup: Boolean,
                                          buckets: Seq[Long], qmeta: DataFrame)

  /** The per-batch prep, in exactly TWO driver jobs (a third of the
    * per-batch fixed cost used to be redundant prep jobs): one tiny meta
    * collect, then ONE bounded collect of the distinct (qid, term) pairs —
    * which feeds the bucket literal (computed on a LocalRelation, so the
    * xxhash64 constant-folds driver-side with Spark's own hash), the
    * adaptive path decision, AND the local qterms relation the qmeta build
    * joins (no second query-side shuffle job). */
  private[graft] def indexQueryPrep(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame, qidCol: String,
                             qtextCol: String): IndexQueryPrep = {
    val metaRow = spark.read.parquet(s"$path/meta").collect()(0)
    val nBuckets = metaRow.getInt(metaRow.fieldIndex("n_term_buckets"))
    val hasDocGroup = metaRow.schema.fieldNames.contains("has_docgroup") &&
      metaRow.getBoolean(metaRow.fieldIndex("has_docgroup"))
    val qidField = queries.schema(qidCol)
    // the limit bounds driver memory BEFORE the collect: an oversize
    // batch brings back one row too many and fails the check below
    val qtPairs = queries.select(col(qidCol).as("_qid"),
        explode(toks(col(qtextCol))).as("term"))
      .distinct().limit(MaxCollectedQueryTerms + 1).collect()
    requireBoundedQueryBatch(qtPairs.length, "the distinct (qid, term) batch")
    val qtLocal = spark.createDataFrame(
      java.util.Arrays.asList(qtPairs: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_qid", qidField.dataType,
          qidField.nullable),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType, nullable = false))))
    // Project-over-LocalRelation constant-folds: Spark's own xxhash64 runs
    // driver-side, no job — and it cannot drift from the write-side hash
    val buckets = qtLocal
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)).as("_b"))
      .collect().map(_.getLong(0)).distinct.toSeq
    val dfreq = spark.read.parquet(s"$path/dfreq")
      .filter(col("term_bucket").isin(buckets: _*))
      .select(col("term"), col("df"))
    val stats = spark.read.parquet(s"$path/stats")
    // per-term (qids, idf, avgdl) — the same qmeta both scoring paths
    // consume (identical idf doubles whichever path runs)
    val qmeta = qtLocal.groupBy(col("term"))
      .agg(collect_list(col("_qid")).as("_qids"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .select(col("term"), col("_qids"), col("_idf"), col("avgdl"))
    IndexQueryPrep(nBuckets, hasDocGroup, buckets, qmeta)
  }

  /** The doc-grouped scoring core (broad batches): ONE map-only scan of
    * `path/docgroup` through the per-doc multi-query scorer, bounded heap
    * partials, tiny idx→qid broadcast — no posting⋈qmeta explode, no
    * (qid, doc) exchange. */
  private[graft] def docGroupedCore(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame, qidCol: String,
                             qmeta: DataFrame, k: Int, k1: Double,
                             b: Double): DataFrame = {
    val qidField = queries.schema(qidCol)
    val metaRows = qmeta.collect()
    val dg = spark.read.parquet(s"$path/docgroup")
    val docIdType = dg.schema("doc").dataType
    requireIntegralId("doc", docIdType)
    // parallelism floor for the scorer (the Series.gather lesson, scan
    // flavor): the scorer's cost is CPU per entry, not bytes, but split
    // packing sizes the scan by BYTES — a small index collapses to a few
    // splits and the whole scoring pass runs on a fraction of the cluster.
    // Repartition ONLY when the scan is under one task-wave
    // (splits < shuffle.partitions), so the extra exchange is bounded by
    // shuffle.partitions × maxPartitionBytes; at real index sizes the scan
    // has thousands of splits and this is a no-op.
    val scan = dg.select(col("doc").as("_doc"),
      col("terms").as("_terms"), col("tfs").as("_tfs"))
    val nPar = spark.sessionState.conf.numShufflePartitions
    val scanP = if (scan.rdd.getNumPartitions < nPar) scan.repartition(nPar)
                else scan
    multiQueryScore(scanP, metaRows, qidField, docIdType, qidCol, "doc_id",
      k, k1, b)
  }

  /** The term-pruned scoring core (selective batches): postings scan pruned
    * to the batch's term-bucket directories, ONE qmeta broadcast per
    * posting row, (qid, doc) aggregation, bounded top-k. */
  private[graft] def prunedCore(spark: org.apache.spark.sql.SparkSession,
                         path: String, qidCol: String, qmeta: DataFrame,
                         buckets: Seq[Long], k: Int, k1: Double,
                         b: Double): DataFrame = {
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("term_bucket").isin(buckets: _*))
    val docIdType = postings.schema("doc").dataType
    requireIntegralId("doc", docIdType)
    postings
      .join(broadcast(qmeta), Seq("term"))
      .withColumn("_w",
        col("_idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .select(explode(col("_qids")).as("_qid"), col("doc"), col("_w"))
      .groupBy(col("_qid"), col("doc"))
      .agg(round(sum(col("_w")), 6).as("_score"))
      .select(col("_qid"), col("doc").cast(LongType).as("_docL"), col("_score"))
      .groupBy(col("_qid"))
      .agg(topKAgg(col("_docL"), col("_score"), k).as("_top"))
      .select(col("_qid"), posexplode(col("_top")))
      .select(col("_qid").as(qidCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.vid").cast(docIdType).as("doc_id"), col("col.sim").as("score"))
  }

  /** Self-contained doc-grouped entry — the test/PlanGuard hook (the public
    * entry picks its path adaptively; this forces doc-grouped). */
  private[graft] def bm25QueryIndexDocGrouped(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val prep = indexQueryPrep(spark, path, queries, qidCol, qtextCol)
    docGroupedCore(spark, path, queries, qidCol, prep.qmeta, k, k1, b)
  }

  /** Self-contained term-pruned entry — the test hook. */
  private[graft] def bm25QueryIndexPruned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qidCol: String, qtextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val prep = indexQueryPrep(spark, path, queries, qidCol, qtextCol)
    prunedCore(spark, path, qidCol, prep.qmeta, prep.buckets, k, k1, b)
  }

  // ------------------------------------------------ hybrid (lexical+dense)

  /** Hybrid retrieval: BM25 top-`kCand` and dense-cosine top-`kCand`
    * candidate lists fused by Reciprocal Rank Fusion (Cormack, Clarke &
    * Büttcher, SIGIR 2009): `rrf(d) = Σ_lists 1/(rrfK + rank_list(d))`,
    * the standard production recipe for retrieval-based decontamination
    * and hard-negative mining when neither pure-lexical nor pure-dense
    * recall is trusted alone.
    *
    * Determinism across engines: the BM25 list already ranks on the
    * 6-decimal-rounded score with a doc-id tiebreak; the dense list ranks
    * on (sim desc, id asc) — the exact [[graft.functions.TopKByScore]]
    * order the ANN oracles replay. A document appears in at most two
    * lists, so its RRF score is ONE IEEE addition of two exact divisions —
    * bit-identical in any engine and summation order; the final rank
    * compares the 6-decimal-rounded fusion score with an id tiebreak.
    *
    * Scale design (100 TB corpus, bounded query batch): both candidate
    * generators are one corpus scan with the query side broadcast and
    * bounded per-query top-k heaps — no corpus window, no global sort
    * (see [[bm25TopK]] / [[graft.llm.SimilarityOps.bruteForceTopK]]; swap
    * the dense generator for the IVF probe path when the corpus no longer
    * brute-force-scans — the fusion is independent of how candidates are
    * produced). The fusion itself touches only the two ranked lists,
    * ≤ 2·kCand rows per query: the full-outer join keys on (query, doc)
    * over those bounded lists and the rank windows partition by query id,
    * so every post-candidate stage is |Q|-proportional, never
    * corpus-proportional.
    *
    * @return (qidCol, rank 1..k, docIdCol, rrf_score, bm25_rank, ann_rank)
    *         — rank by (rrf_score desc, doc id asc); the per-list ranks
    *         are null for a document the other list alone surfaced.
    */
  def hybridTopK(corpus: DataFrame, docIdCol: String, textCol: String,
                 vecCol: String, queries: DataFrame, qidCol: String,
                 qtextCol: String, qvecCol: String, k: Int, kCand: Int = 50,
                 rrfK: Int = 60, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the union of two kCand lists ranks up to 2·kCand docs, so k may
    // legitimately exceed kCand (short lists just return fewer rows)
    require(kCand >= 1, s"kCand must be >= 1, got $kCand")
    require(rrfK >= 1, s"rrfK must be >= 1, got $rrfK")
    val docIdType = corpus.schema(docIdCol).dataType
    requireIntegralId(docIdCol, docIdType)

    val lex = bm25TopK(corpus.select(col(docIdCol), col(textCol)), docIdCol,
        textCol, queries.select(col(qidCol), col(qtextCol)), qidCol, qtextCol,
        kCand, k1, b)
      .select(col(qidCol).as("_qid"), col(docIdCol).cast(LongType).as("_doc"),
        col("rank").cast("int").as("bm25_rank"))

    val denseW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("vid"))
    val dense = SimilarityOps.bruteForceTopK(
        corpus.select(col(docIdCol).as("_hid"), col(vecCol).as("_hv")),
        queries.select(col(qidCol).as("_hid"), col(qvecCol).as("_hv")),
        "_hid", "_hv", kCand)
      .withColumn("ann_rank", row_number().over(denseW).cast("int"))
      .select(col("qid").as("_qid"), col("vid").cast(LongType).as("_doc"),
        col("ann_rank"))

    val fused = lex.join(dense, Seq("_qid", "_doc"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("bm25_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("ann_rank")), lit(0.0)), 6))
    val fuseW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("rrf_score").desc, col("_doc"))
    fused.withColumn("rank", row_number().over(fuseW).cast("int"))
      .filter(col("rank") <= k)
      .select(col("_qid").as(qidCol), col("rank"),
        col("_doc").cast(docIdType).as(docIdCol), col("rrf_score"),
        col("bm25_rank"), col("ann_rank"))
  }
}
