package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-corpus operators for large-scale training-data pipelines (beyond the
  * reference's scope; designed for the 100 TB case — every op is a shuffle
  * on a hash/group key with no driver-side collection).
  */
object TextOps {

  /** Exact deduplication: one representative row (minimum `idCol`) per
    * distinct value of `keyCols`. EXACT — the 64-bit hash is only a
    * prefilter, never the identity:
    *
    *  1. count rows per xxhash64(keys) — the corpus-sized shuffle carries
    *     (hash, partial count), NOT the document text (at corpus scale,
    *     grouping by the raw text would push the whole corpus through the
    *     exchange twice);
    *  2. rows whose hash occurs once are unique and never shuffled again;
    *  3. only rows in colliding hash groups (true duplicates + rare hash
    *     collisions) are re-grouped by the FULL key columns to pick the
    *     minimum-id representative — so a hash collision costs one extra
    *     comparison, not a wrong answer.
    *
    * The colliding-hash table is (hash)-only; AQE broadcasts it when small
    * (the common case — dup rate ≪ 1), which keeps document text out of
    * every corpus-sized exchange. Map-side partial aggregation bounds skew
    * on duplicated boilerplate in both grouping phases. */
  def dedupExact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val withH = df.withColumn("_h", xxhash64(keyCols.map(col): _*))
    val colliding = withH.groupBy(col("_h")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1).select(col("_h"))
    val cand = withH.join(colliding, Seq("_h"))
    val keepCand = cand.groupBy(keyCols.map(col): _*).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val losers = cand.select(col(idCol)).join(keepCand, Seq(idCol), "left_anti")
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-document quality/shape statistics, all codegen'd column expressions
    * (no UDFs): char count, whitespace-token count, alpha/digit/upper/punct
    * ratios, mean token length. */
  def textStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val len = length(t).cast(DoubleType)
    def ratio(pattern: String): Column =
      when(len > 0, length(regexp_replace(t, pattern, "")).cast(DoubleType) / len).otherwise(0.0)
    df.withColumn("n_chars", length(t).cast(LongType))
      .withColumn("n_tokens", size(split(trim(t), "\\s+")).cast(LongType))
      .withColumn("alpha_ratio", ratio("[^A-Za-z]"))
      .withColumn("digit_ratio", ratio("[^0-9]"))
      .withColumn("upper_ratio", ratio("[^A-Z]"))
      .withColumn("space_ratio", ratio("[^ ]"))
      .withColumn("mean_token_len",
        when(col("n_tokens") > 0, (length(regexp_replace(t, "\\s+", "")).cast(DoubleType)) / col("n_tokens"))
          .otherwise(0.0))
  }

  /** Whitespace+punctuation token count approximating a BPE-ish pre-tokenizer:
    * words and standalone punctuation both count. */
  def tokenCount(df: DataFrame, textCol: String, out: String = "n_tokens_bpe"): DataFrame =
    df.withColumn(out, size(filter(
      split(regexp_replace(col(textCol), "([\\p{Punct}])", " $1 "), "\\s+"),
      x => length(x) > 0)).cast(LongType))

  /** Canonical text normalization for dedup/training prep: lowercase,
    * collapse runs of whitespace to single spaces, trim. The whitespace
    * class is spelled explicitly ([ \t\n\r\f]) rather than \s so the
    * semantics are identical across regex engines (Java \s additionally
    * matches \x0B; RE2 does not). Pure codegen column expression. */
  def textNormalize(df: DataFrame, textCol: String, out: String = "text_norm"): DataFrame =
    df.withColumn(out, trim(lower(regexp_replace(col(textCol), "[ \\t\\n\\r\\f]+", " "))))

  /** PII scrubbing for training corpora: masks URLs, email addresses, and
    * long digit runs (7+ — phone/account/id numbers) with typed tags.
    * URLs first so an address inside a URL can't leave a dangling scheme.
    * Patterns avoid lookarounds so any RE2-class engine applies the same
    * replacements. A narrow per-row map — no shuffle, codegen'd. */
  def piiScrub(df: DataFrame, textCol: String, out: String = "text_scrubbed"): DataFrame = {
    val noUrl = regexp_replace(col(textCol), "https?://[^ \\t\\n\\r\\f]+", "<URL>")
    val noEmail = regexp_replace(noUrl, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>")
    df.withColumn(out, regexp_replace(noEmail, "[0-9]{7,}", "<ID>"))
  }

  /** Split documents into overlapping fixed-token-count windows — the
    * standard context-window chunking step of an LLM training/RAG pipeline.
    * Tokens are whitespace-delimited; each chunk carries `maxTokens` tokens
    * and consecutive chunks overlap by `overlap`. Emits
    * (…, chunk_id, chunk_text, chunk_tokens).
    *
    * Scale shape: a narrow per-row generator — `sequence` + `posexplode`
    * over array slices, no shuffle, no UDF; a 100 TB corpus chunks at scan
    * parallelism. Chunk COUNT per row is data-dependent, so output skew
    * follows document-length skew; downstream repartition is the caller's
    * choice (chunks are usually written straight back to parquet). */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    maxTokens: Int, overlap: Int = 0): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    val toks = split(trim(col(textCol)), "[ \\t\\n\\r\\f]+")
    // number of windows starting at 0, step, 2·step … that still begin
    // before the end of the token array (at least one chunk per document)
    val nChunks = greatest(
      ceil((size(toks).cast(DoubleType) - overlap) / step).cast(LongType), lit(1L))
    df.withColumn("_toks", toks)
      .withColumn("_nc", nChunks)
      .select(col("*"), posexplode(sequence(lit(0L), col("_nc") - 1)).as(Seq("_pos", "_i")))
      .withColumn("chunk_id", col("_i"))
      .withColumn("chunk_text",
        array_join(slice(col("_toks"), (col("_i") * step + 1).cast(IntegerType), lit(maxTokens)), " "))
      .withColumn("chunk_tokens",
        size(slice(col("_toks"), (col("_i") * step + 1).cast(IntegerType), lit(maxTokens))).cast(LongType))
      .drop("_toks", "_nc", "_pos", "_i")
  }

  /** Within-document repetition signals (Gopher-style quality filters,
    * Rae et al. 2021 §A1.1): the fraction of repeated tokens / 2-grams /
    * 3-grams. High values mark boilerplate and degenerate generations.
    * All pure array expressions (`array_distinct` over gram arrays) — no
    * shuffle, no per-doc groupBy; a corpus scores at scan parallelism. */
  def repetitionStats(df: DataFrame, textCol: String): DataFrame = {
    val toks = split(trim(col(textCol)), "[ \\t\\n\\r\\f]+")
    // guard: Spark's sequence(1, 0) DESCENDS instead of yielding empty
    def gramArr(tc: Column, n: Int): Column =
      when(size(tc) >= n,
        transform(sequence(lit(1), size(tc) - (n - 1)),
          i => array_join(slice(tc, i, lit(n)), " ")))
        .otherwise(array().cast(ArrayType(StringType)))
    def dupFrac(arr: Column): Column = {
      val tot = size(arr)
      when(tot > 0,
        round(lit(1.0) - size(array_distinct(arr)).cast(DoubleType) / tot.cast(DoubleType), 6))
        .otherwise(0.0)
    }
    df.withColumn("_tk", toks)
      .withColumn("dup_token_frac", dupFrac(col("_tk")))
      .withColumn("dup_2gram_frac", dupFrac(gramArr(col("_tk"), 2)))
      .withColumn("dup_3gram_frac", dupFrac(gramArr(col("_tk"), 3)))
      .drop("_tk")
  }

  /** Pack chunked documents into fixed-token-budget training rows
    * (budget-boundary packing): rows are laid out in a deterministic
    * order and cut into packs at multiples of `budget` tokens, so
    * `pack_id = bucket · 2^32 + floor(running_tokens_before / budget)`.
    * A row may straddle a boundary (packs can overflow by up to one row's
    * tokens — the standard approximation; true greedy bin packing needs a
    * sequential accumulator reset, which no distributed window expresses
    * without giving up parallelism).
    *
    * Scale shape: the corpus is salted into `nBuckets` independent streams
    * by a hash of the id, and the running total is a window WITHIN a
    * bucket — one shuffle on the bucket key, each bucket's window sorts
    * only corpus/nBuckets rows, no global ordering bottleneck. The layout
    * is still deterministic (bucket = hash(id), order = (id, chunk)) so a
    * re-run packs identically — unlike `monotonically_increasing_id`
    * or zipWithIndex layouts, which depend on partition sizes. */
  def packSequences(df: DataFrame, idCol: String, orderCol: String,
                    tokensCol: String, budget: Int, nBuckets: Int = 1024,
                    out: String = "pack_id"): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val bucket = pmod(SampleOps.hashBucket(col(idCol), seed = 0L), lit(nBuckets.toLong))
    val w = Window.partitionBy(col("_bucket"))
      .orderBy(col(idCol), col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_bucket", bucket)
      .withColumn("_cum", sum(col(tokensCol)).over(w) - col(tokensCol))
      .withColumn(out, col("_bucket") * lit(4294967296L) + floor(col("_cum") / budget))
      .drop("_bucket", "_cum")
  }

  /** Benchmark decontamination: flag corpus documents sharing at least one
    * token n-gram (n=13 is the common contamination window) with any
    * document in `benchmarks`. Returns the distinct flagged ids.
    *
    * Scale shape: the corpus side explodes to one row per n-gram but
    * shuffles only (ngram-hash, id) pairs — the 64-bit hash is a prefilter
    * and the join ALSO compares the gram text, so a hash collision cannot
    * flag an innocent document. The benchmark side (eval sets — tiny next
    * to a training corpus) is distinct-ed first; AQE broadcasts it when
    * small, so the corpus-sized side joins without shuffling at all in the
    * common case. */
  def contaminatedIds(corpus: DataFrame, benchmarks: DataFrame,
                      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    require(n > 0, s"n-gram size must be positive, got $n")
    // native one-pass window build (WordGrams) — the declarative
    // transform/slice/array_join chain evaluated interpreted per window;
    // short docs yield an empty array, which explode drops
    def grams(df: DataFrame, keep: Seq[Column]): DataFrame =
      df.select(keep :+
        explode(wordGramsCol(col(textCol), n, distinct = false)).as("_gram"): _*)
    val corpusGrams = grams(corpus, Seq(col(idCol)))
      .select(col(idCol), xxhash64(col("_gram")).as("_gh"), col("_gram"))
    val benchGrams = grams(benchmarks, Seq.empty)
      .select(xxhash64(col("_gram")).as("_gh"), col("_gram").as("_bgram"))
      .distinct()
    corpusGrams
      .join(benchGrams, corpusGrams("_gh") === benchGrams("_gh") &&
        corpusGrams("_gram") === benchGrams("_bgram"))
      .select(col(idCol)).distinct()
  }

  /** Per-benchmark-document contamination report: for every document of the
    * evaluation set, how many of its `n`-gram windows occur anywhere in the
    * training corpus, and in how many distinct corpus documents — the
    * triage view over [[contaminatedIds]] ("which eval sets are compromised,
    * and how badly") that decides whether to scrub the corpus or retire the
    * benchmark. Output: (bench id, n_grams, n_overlapping_grams,
    * n_contaminated_docs, contamination_ratio); benchmark documents shorter
    * than `n` tokens carry no windows and are omitted, like
    * [[contaminatedIds]].
    *
    * Scale shape is [[contaminatedIds]]' shape: the corpus side reduces to
    * (id, gram-hash, gram) rows, the benchmark side is tiny and distinct-ed
    * (AQE broadcasts it), the join confirms gram TEXT so a hash collision
    * cannot inflate a count, and the aggregation is keyed by benchmark doc —
    * bounded by the eval set, never the corpus. */
  def contaminationReport(corpus: DataFrame, benchmarks: DataFrame,
                          corpusIdCol: String, benchIdCol: String,
                          textCol: String, n: Int = 13): DataFrame = {
    require(n > 0, s"n-gram size must be positive, got $n")
    // native window build — see contaminatedIds
    def grams(df: DataFrame, keep: Seq[Column]): DataFrame =
      df.select(keep :+
        explode(wordGramsCol(col(textCol), n, distinct = false)).as("_gram"): _*)
    val corpusGrams = grams(corpus, Seq(col(corpusIdCol).as("_cid")))
      .select(col("_cid"), xxhash64(col("_gram")).as("_gh"), col("_gram"))
    val benchGrams = grams(benchmarks, Seq(col(benchIdCol).as("_bid")))
      .select(col("_bid"), xxhash64(col("_gram")).as("_gh"), col("_gram").as("_bgram"))
      .distinct()
    val totals = benchGrams.groupBy(col("_bid")).agg(count(lit(1)).as("n_grams"))
    val hits = corpusGrams
      .join(benchGrams, corpusGrams("_gh") === benchGrams("_gh") &&
        corpusGrams("_gram") === benchGrams("_bgram"))
      .groupBy(col("_bid"))
      .agg(countDistinct(col("_bgram")).as("n_overlapping_grams"),
        countDistinct(col("_cid")).as("n_contaminated_docs"))
    totals.join(hits, Seq("_bid"), "left")
      .select(col("_bid").as(benchIdCol), col("n_grams"),
        coalesce(col("n_overlapping_grams"), lit(0L)).as("n_overlapping_grams"),
        coalesce(col("n_contaminated_docs"), lit(0L)).as("n_contaminated_docs"),
        (coalesce(col("n_overlapping_grams"), lit(0L)).cast(DoubleType) /
          col("n_grams")).as("contamination_ratio"))
  }

  /** Cross-document duplicated-SPAN removal (exact-substring dedup in the
    * spirit of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499 — there built on a single-node suffix
    * array): any `gramLen`-token window whose text occurs anywhere else in
    * the corpus (or earlier in the same document) is removed from every
    * occurrence EXCEPT the first, where "first" is the lexicographically
    * smallest (id, position). Rebuilt text joins the surviving tokens with
    * single spaces (whitespace is canonicalized by tokenization).
    *
    * Spark shape (suffix arrays don't distribute; rolling windows do):
    *  1. one row per token window — linear in corpus tokens, shuffled on
    *     the 64-bit gram hash only (the window text never leaves its row);
    *  2. per-hash `min(struct(id, pos))` + count ≥ 2 marks every non-first
    *     occurrence — no self-join, no m² term (a gram occurring m times
    *     contributes m rows, not m²);
    *  3. duplicated-window STARTS `collect_set` per document (bounded by
    *     document length; never the gramLen-fold position expansion), and
    *     the rebuild keeps a token at position i unless a start exists in
    *     [i − (gramLen−1), i] — one binary-search range probe over the
    *     sorted start array per token.
    *
    * Output: (id, `out` = rebuilt text, `out`_tokens_removed). Documents
    * shorter than `gramLen` tokens pass through (canonicalized) untouched. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            gramLen: Int = 50, out: String = "text_clean"): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    val toks = filter(split(trim(col(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    val base = df.select(col(idCol), col(textCol)).withColumn("_toks", toks)
    // native window build (WordGrams, empty-token-dropping mode); the gram
    // TEXT dies right here — xxhash64 runs codegen on the exploded rows and
    // only (id, pos, hash) continues into the shuffle
    val occ = base
      .select(col(idCol), posexplode(
        wordGramsCol(col(textCol), gramLen, distinct = false, dropEmpty = true)))
      .withColumnRenamed("pos", "_p")
      .select(col(idCol), col("_p"), xxhash64(col("col")).as("_gh"))
    val repeated = occ.groupBy(col("_gh"))
      .agg(min(struct(col(idCol), col("_p"))).as("_first"), count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= 2)
    val dups = occ.join(repeated, Seq("_gh"))
      .filter(struct(col(idCol), col("_p")) =!= col("_first"))
    // r11 (guide §2.3 shuffle fewer bytes): the coverage exchange carries
    // dup-window STARTS, not their gramLen-fold position expansion — the
    // exploded form (kept below as removeDuplicatedSpansExploded, the
    // executable specification) generated gramLen rows per duplicated
    // window into the per-document collect_set. A token at position i is
    // covered iff a start exists in [i − (gramLen−1), i]: one binary-search
    // range probe against the sorted start array (SortedArrayAnyInRange)
    // per kept-token decision, bit-identical by the interval identity
    // i ∈ ∪[p, p+g−1] ⟺ ∃ p ∈ [i−(g−1), i].
    val covered = dups
      .select(col(idCol), col("_p"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("_p").cast(LongType))).as("_cov"))
    def anyInRange(arr: Column, lo: Column, hi: Column): Column = {
      val B = org.apache.spark.sql.GraftExpressionBridge
      B.column(graft.functions.SortedArrayAnyInRange(B.expression(arr),
        B.expression(lo), B.expression(hi)))
    }
    base.join(covered, Seq(idCol), "left")
      .withColumn("_kept", when(col("_cov").isNull, col("_toks")).otherwise(
        filter(col("_toks"), (t, i) => !anyInRange(col("_cov"),
          i.cast(LongType) - lit((gramLen - 1).toLong), i.cast(LongType)))))
      .select(col(idCol), array_join(col("_kept"), " ").as(out),
        (size(col("_toks")) - size(col("_kept"))).cast(LongType)
          .as(s"${out}_tokens_removed"))
  }

  /** The exploded-coverage form of [[removeDuplicatedSpans]] — kept as the
    * executable specification (the MinHashParity discipline): every covered
    * position materializes through explode(sequence)+collect_set and the
    * rebuild probes exact membership. DedupSpanParity pins output equality
    * with the production start-array form. */
  private[graft] def removeDuplicatedSpansExploded(df: DataFrame, idCol: String,
                                                   textCol: String, gramLen: Int = 50,
                                                   out: String = "text_clean"): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    val toks = filter(split(trim(col(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    val base = df.select(col(idCol), col(textCol)).withColumn("_toks", toks)
    val occ = base
      .select(col(idCol), posexplode(
        wordGramsCol(col(textCol), gramLen, distinct = false, dropEmpty = true)))
      .withColumnRenamed("pos", "_p")
      .select(col(idCol), col("_p"), xxhash64(col("col")).as("_gh"))
    val repeated = occ.groupBy(col("_gh"))
      .agg(min(struct(col(idCol), col("_p"))).as("_first"), count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= 2)
    val dups = occ.join(repeated, Seq("_gh"))
      .filter(struct(col(idCol), col("_p")) =!= col("_first"))
    val covered = dups
      .select(col(idCol),
        explode(sequence(col("_p"), col("_p") + (gramLen - 1))).as("_idx"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("_idx").cast(LongType))).as("_cov"))
    def sortedContains(arr: Column, v: Column): Column = {
      val B = org.apache.spark.sql.GraftExpressionBridge
      B.column(graft.functions.SortedArrayContains(B.expression(arr), B.expression(v)))
    }
    base.join(covered, Seq(idCol), "left")
      .withColumn("_kept", when(col("_cov").isNull, col("_toks")).otherwise(
        filter(col("_toks"), (t, i) => !sortedContains(col("_cov"), i.cast(LongType)))))
      .select(col(idCol), array_join(col("_kept"), " ").as(out),
        (size(col("_toks")) - size(col("_kept"))).cast(LongType)
          .as(s"${out}_tokens_removed"))
  }

  /** Span-level decontamination: remove every `n`-token window of corpus
    * text that appears VERBATIM in the benchmark set — the surgical
    * alternative to dropping whole documents ([[contaminatedIds]]), for
    * the common case where a long document is clean except for a quoted
    * eval item (the n-gram-removal decontamination convention, e.g.
    * GPT-3 appendix C / PaLM-style 13-gram windows).
    *
    * Scale shape — the match stage is STRICTLY cheaper than
    * [[removeDuplicatedSpans]]'s: the benchmark gram table is
    * eval-set-sized and BROADCASTS, so window matching is map-side with
    * no gram-keyed exchange at all (gram text is confirmed inside the
    * broadcast join — a hash collision cannot scrub an innocent span,
    * the [[contaminatedIds]] discipline). Gram windows never shuffle;
    * the covered-position `collect_set` ships slim (id, idx) rows, and
    * the rebuild joins them back on the document id — the one
    * text-carrying exchange, identical to the spans-dedup rebuild.
    *
    * Output: (id, `out` = rebuilt text, `out`_tokens_removed). Documents
    * shorter than `n` tokens pass through canonicalized (whitespace
    * joins, same as the dedup-spans rebuild). */
  def decontaminateSpans(corpus: DataFrame, benchmarks: DataFrame,
                         idCol: String, textCol: String, benchTextCol: String,
                         n: Int = 13, out: String = "text_clean"): DataFrame = {
    require(n >= 2, s"n-gram size must be >= 2, got $n")
    val toks = filter(split(trim(col(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    val base = corpus.select(col(idCol), col(textCol)).withColumn("_toks", toks)
    val benchGrams = benchmarks
      .select(explode(wordGramsCol(col(benchTextCol), n, distinct = true,
        dropEmpty = true)).as("_bgram"))
      .distinct()
      .select(xxhash64(col("_bgram")).as("_gh"), col("_bgram"))
    val occ = base
      .select(col(idCol), posexplode(
        wordGramsCol(col(textCol), n, distinct = false, dropEmpty = true)))
      .withColumnRenamed("pos", "_p")
    val covered = occ
      .join(broadcast(benchGrams),
        xxhash64(col("col")) === col("_gh") && col("col") === col("_bgram"))
      .select(col(idCol),
        explode(sequence(col("_p"), col("_p") + (n - 1))).as("_idx"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("_idx").cast(LongType))).as("_cov"))
    def sortedContains(arr: Column, v: Column): Column = {
      val B = org.apache.spark.sql.GraftExpressionBridge
      B.column(graft.functions.SortedArrayContains(B.expression(arr), B.expression(v)))
    }
    base.join(covered, Seq(idCol), "left")
      .withColumn("_kept", when(col("_cov").isNull, col("_toks")).otherwise(
        filter(col("_toks"), (t, i) => !sortedContains(col("_cov"), i.cast(LongType)))))
      .select(col(idCol), array_join(col("_kept"), " ").as(out),
        (size(col("_toks")) - size(col("_kept"))).cast(LongType)
          .as(s"${out}_tokens_removed"))
  }

  /** Add-alpha-smoothed unigram language model over a corpus (the CCNet
    * quality-filter signal — Wenzek et al. 2020 score documents by LM
    * perplexity; a unigram model is the engine-friendly first tier): the
    * `vocabSize` most frequent tokens (ties by token ascending, so the
    * vocabulary is deterministic) with
    * `logp = ln((count + alpha) / (N + alpha·(vocabSize + 1)))`, where N is
    * the TOTAL corpus token count, plus one NULL-token row carrying the
    * out-of-vocabulary probability `alpha / (N + alpha·(vocabSize + 1))`.
    *
    * Scale shape: one token-count aggregation (map-side combined), a
    * bounded TakeOrdered for the vocabulary, and an in-plan broadcast of
    * the single totals row — no driver-side collection. */
  def trainUnigramLm(corpus: DataFrame, textCol: String, vocabSize: Int = 65536,
                     alpha: Double = 0.5): DataFrame = {
    require(vocabSize >= 1 && alpha > 0.0, "vocabSize >= 1 and alpha > 0 required")
    val toks = filter(split(trim(col(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    val counts = corpus.select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("_n"))
    val denom = col("_n") + lit(alpha * (vocabSize + 1))
    val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(vocabSize)
    top.crossJoin(broadcast(totals))
      .select(col("token"), col("cnt"),
        log((col("cnt") + lit(alpha)) / denom).as("logp"))
      .unionByName(totals.select(lit(null).cast(StringType).as("token"),
        lit(0L).as("cnt"), log(lit(alpha) / denom).as("logp")))
  }

  /** Score documents under a [[trainUnigramLm]] model: per document the
    * token count, exact log-probability sum, mean, and perplexity.
    * Low-probability (high-perplexity) documents are boilerplate/gibberish
    * candidates; CCNet buckets a corpus by exactly this signal.
    *
    * The token→logp lookup IS a broadcast hash join (the LM is bounded by
    * construction): exploded tokens join the vocabulary, misses fall back
    * to the NULL-row OOV probability — all codegen, no per-token UDF.
    * `sum_logp` accumulates per-token logp ROUNDED to 6 decimals in DECIMAL
    * space, so the sum is order-independent and engine-exact (the same
    * discipline as the oracle money sums); `mean_logp`/`perplexity` are
    * derived doubles. */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              lm: DataFrame): DataFrame = {
    val toks = filter(split(trim(col(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    val oov = lm.filter(col("token").isNull)
      .select(col("logp").as("_oov"))
    val vocab = lm.filter(col("token").isNotNull).select(col("token"), col("logp"))
    val base = df.select(col(idCol))
    val perDoc = df
      .select(col(idCol), explode(toks).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(oov))
      .withColumn("_lp", coalesce(col("logp"), col("_oov")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(graft.functions.RoundedDecimal.column(col("_lp")))
          .cast(DoubleType).as("sum_logp"))
    base.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_logp"), lit(0.0)).as("sum_logp"))
      .withColumn("mean_logp",
        when(col("n_tokens") > 0, col("sum_logp") / col("n_tokens")))
      .withColumn("perplexity",
        when(col("n_tokens") > 0, exp(-col("sum_logp") / col("n_tokens"))))
  }

  /** Corpus self-perplexity: train the unigram LM on the corpus and score
    * every document under it — the one-call quality-signal form. */
  def lmPerplexity(df: DataFrame, idCol: String, textCol: String,
                   vocabSize: Int = 65536, alpha: Double = 0.5): DataFrame =
    lmScore(df, idCol, textCol, trainUnigramLm(df, textCol, vocabSize, alpha))

  /** Persist a [[trainUnigramLm]] model to `path/lm`. The table is
    * self-contained for scoring (per-token `logp` is precomputed and the
    * NULL row carries the OOV fallback), so the layout is a single bounded
    * parquet table — written once per corpus refresh, then every crawl
    * batch scores against the stored model via [[loadUnigramLm]] +
    * [[lmScore]] without re-reading the training corpus (the
    * [[DsirOps.writeModel]] steady-state discipline). */
  def writeUnigramLm(lm: DataFrame, path: String): Unit =
    lm.write.mode("overwrite").parquet(s"$path/lm")

  /** Load a [[writeUnigramLm]] layout. */
  def loadUnigramLm(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    spark.read.parquet(s"$path/lm")

  /** A fitted bigram interpolated LM: the top-V unigram vocabulary with its
    * counts (which doubles as the CONTEXT count table — contexts are capped
    * to the same top-V cut, see [[trainBigramLm]]), the top-B bigram count
    * table restricted to in-vocabulary contexts, the one-row corpus token
    * total, and the smoothing/interpolation parameters. Every table is
    * bounded by construction (V + B + 1 rows), so scoring broadcasts the
    * whole model unconditionally — the train-once / score-every-batch
    * production shape shared with [[DsirOps.DsirModel]] and the NB gate. */
  final case class BigramLmModel(vocab: DataFrame, bigrams: DataFrame,
                                 totals: DataFrame, vocabSize: Int,
                                 alpha: Double, lambda: Double)

  /** Fit the bigram interpolated LM (Jelinek-Mercer; see
    * [[bigramPerplexity]] for the model definition). The context count
    * c(w₋₁) is CAPPED to the top-V vocabulary — an out-of-vocabulary
    * context carries no bigram evidence and its tokens fall back to the
    * unigram tier at scoring time. That cap is what makes the model
    * broadcastable: the full word-type table of a web corpus does not fit
    * in an executor, and joining exploded tokens against it shuffles the
    * corpus keyed by previous-token — stop-word contexts ("the", "of")
    * concentrate a huge fraction of all tokens onto single keys, a skewed
    * straggler at 100×. Bigrams whose context misses the vocabulary cut
    * are excluded BEFORE the top-B selection (they could never be scored).
    *
    * Scale shape: token and bigram counts are map-side-combined
    * aggregations; the top-V / top-B cuts are TakeOrdered (bounded),
    * never a global sort. */
  def trainBigramLm(corpus: DataFrame, textCol: String,
                    vocabSize: Int = 65536, bigramVocabSize: Int = 1 << 20,
                    alpha: Double = 0.5, lambda: Double = 0.75): BigramLmModel = {
    require(vocabSize >= 1 && bigramVocabSize >= 1, "vocab sizes must be >= 1")
    require(alpha > 0.0 && lambda >= 0.0 && lambda <= 1.0,
      "alpha > 0 and lambda in [0,1] required")
    val toksC = filter(split(trim(col(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    val base = corpus.select(toksC.as("_toks"))
    val counts = base.select(explode(col("_toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("_n"))
    val vocab = counts.orderBy(col("cnt").desc, col("token").asc).limit(vocabSize)
    // when-guard keeps the window expression total even if constraint
    // inlining evaluates it before the size filter — sequence(1, 0)
    // DESCENDS for 1-token docs and would emit phantom (w, null) pairs
    // that could displace real bigrams from the top-B cut (the Catalyst
    // trap pinned in bpeTrain)
    val pairs = base.filter(size(col("_toks")) >= 2)
      .select(explode(when(size(col("_toks")) >= 2, transform(
        sequence(lit(1), size(col("_toks")) - 1),
        i => struct(get(col("_toks"), i - 1).as("_b1"),
          get(col("_toks"), i).as("_b2"))))
        .otherwise(array().cast(ArrayType(
          StructType(Seq(StructField("_b1", StringType),
            StructField("_b2", StringType))))))).as("_t"))
      .select(col("_t._b1").as("_b1"), col("_t._b2").as("_b2"))
    val bigrams = pairs
      .groupBy(col("_b1"), col("_b2")).agg(count(lit(1)).as("_cnt2"))
      // context outside the top-V cut ⇒ unscorable bigram; drop before the cap
      .join(broadcast(vocab.select(col("token").as("_b1"))), Seq("_b1"))
      .orderBy(col("_cnt2").desc, col("_b1").asc, col("_b2").asc)
      .limit(bigramVocabSize)
    BigramLmModel(vocab, bigrams, totals, vocabSize, alpha, lambda)
  }

  /** Score documents under a [[trainBigramLm]] model. Production shape
    * (r10): ONE map-only pass through the broadcast scaled-long scorer
    * ([[bigramScoreBroadcast]]) — the model tables are bounded by
    * construction (V + B + 1 rows), so they collect into broadcast lookup
    * maps and every document scores in place: no token explode, no joins,
    * no per-doc aggregation exchange (the r9 broadcast-join plan paid an
    * explode to |tokens| rows, three broadcast probes per token, a two-phase
    * per-doc aggregate and a re-attach join — measured 1.39 s vs 0.37 s at
    * 10× bench scale, model collection included). Bit-parity with the
    * DECIMAL-sum joins form is pinned in QualityCurationSpec; that form
    * stays below as [[bigramScoreWithModelJoins]], the executable
    * specification (the MinHashParity discipline). First tokens and
    * OOV-CONTEXT tokens score by the unigram tier alone; in-vocabulary
    * contexts interpolate λ·c(w₋₁w)/c(w₋₁) + (1−λ)·P_uni(w). */
  def bigramScoreWithModel(df: DataFrame, idCol: String, textCol: String,
                           model: BigramLmModel): DataFrame =
    bigramScoreBroadcast(df.select(col(idCol), col(textCol)), textCol, model)
      .select(col(idCol), col("n_tokens"), col("sum_logp"),
        col("mean_logp"), col("perplexity"))

  /** The broadcast-join DECIMAL-sum form of [[bigramScoreWithModel]] — kept
    * as the executable specification of the scoring semantics: the exploded
    * (w, w₋₁) rows broadcast-join the vocabulary twice (word and context
    * side) and the bigram table once, then reduce per document; the only
    * shuffle is the per-doc aggregation keyed on `idCol`; no token string
    * ever keys an exchange (PlanGuardSpec pins this). `sum_logp` uses the
    * rounded-DECIMAL discipline of [[lmScore]] — order-independent and
    * oracle-exact. */
  private[graft] def bigramScoreWithModelJoins(df: DataFrame, idCol: String,
                                               textCol: String,
                                               model: BigramLmModel): DataFrame = {
    val toksC = filter(split(trim(col(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    val base = df.select(col(idCol), col(textCol)).withColumn("_toks", toksC)
    val denom = col("_n") + lit(model.alpha * (model.vocabSize + 1))
    val lambda = model.lambda
    val ex = base.filter(size(col("_toks")) > 0)
      .select(col(idCol), explode(transform(
        sequence(lit(1), greatest(size(col("_toks")), lit(1))),
        i => struct(get(col("_toks"), i - 1).as("w"),
          when(i > 1, get(col("_toks"), i - 2)).as("wp")))).as("_t"))
      .select(col(idCol), col("_t.w").as("_w"), col("_t.wp").as("_wp"))
    val perDoc = ex
      .join(broadcast(model.vocab.select(col("token").as("_w"), col("cnt").as("_cw"))),
        Seq("_w"), "left")
      .join(broadcast(model.vocab.select(col("token").as("_wp"), col("cnt").as("_cwp"))),
        Seq("_wp"), "left")
      .join(broadcast(model.bigrams.select(col("_b1").as("_wp"), col("_b2").as("_w"),
        col("_cnt2"))), Seq("_wp", "_w"), "left")
      .crossJoin(broadcast(model.totals))
      .withColumn("_puni", (coalesce(col("_cw"), lit(0L)) + lit(model.alpha)) / denom)
      .withColumn("_pbi",
        when(col("_cnt2").isNotNull, col("_cnt2") / col("_cwp")).otherwise(lit(0.0)))
      .withColumn("_lp",
        when(col("_wp").isNull || col("_cwp").isNull, log(col("_puni")))
          .otherwise(log(lit(lambda) * col("_pbi") + lit(1.0 - lambda) * col("_puni"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(graft.functions.RoundedDecimal.column(col("_lp")))
          .cast(DoubleType).as("sum_logp"))
    base.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_logp"), lit(0.0)).as("sum_logp"))
      .withColumn("mean_logp",
        when(col("n_tokens") > 0, col("sum_logp") / col("n_tokens")))
      .withColumn("perplexity",
        when(col("n_tokens") > 0, exp(-col("sum_logp") / col("n_tokens"))))
  }

  /** Streaming-compatible scoring with EXACT [[bigramScoreWithModel]]
    * parity: the bounded model collects into broadcast lookup maps and each
    * row scores in place — no join, no per-doc aggregation, fully
    * stateless, so the same call gates a streaming micro-batch unchanged
    * (the [[ClassifierOps.nbScoreBroadcast]] shape). Exactness: each
    * token's log-probability is computed with the identical double
    * arithmetic as the batch plan, HALF_UP-rounded to 6 decimals exactly as
    * Spark's `round`, and accumulated as SCALED LONGS — an
    * order-independent integer sum whose final decimal→double conversion
    * matches the batch DECIMAL cast bit for bit. Returns the input rows
    * with `n_tokens`, `sum_logp`, `mean_logp`, `perplexity` appended. */
  def bigramScoreBroadcast(df: DataFrame, textCol: String,
                           model: BigramLmModel): DataFrame = {
    val spark = df.sparkSession
    val vocabMap: Map[String, Long] = model.vocab.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bigramMap: Map[(String, String), Long] = model.bigrams.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = model.totals.collect()(0).getLong(0)
    val denom = n + model.alpha * (model.vocabSize + 1)
    val alpha = model.alpha
    val lambda = model.lambda
    val bcV = spark.sparkContext.broadcast(vocabMap)
    val bcB = spark.sparkContext.broadcast(bigramMap)
    val scoreUdf = udf((toks: Seq[String]) => {
      var s = 0L
      var i = 0
      while (i < toks.length) {
        val w = toks(i)
        val cw = bcV.value.getOrElse(w, 0L)
        val puni = (cw + alpha) / denom
        val cwp = if (i == 0) None else bcV.value.get(toks(i - 1))
        val lp = cwp match {
          case None => math.log(puni)
          case Some(c1) =>
            val pbi = bcB.value.get((toks(i - 1), w)) match {
              case Some(c2) => c2.toDouble / c1.toDouble
              case None => 0.0
            }
            math.log(lambda * pbi + (1.0 - lambda) * puni)
        }
        // Spark's round(double, 6): BigDecimal.valueOf + HALF_UP — mirrored
        // by the guard-banded fast path (exact BigDecimal only at the tie)
        s += graft.functions.RoundedDecimal.scaledLong(lp, 6)
        i += 1
      }
      // exact decimal→double, identical to the DECIMAL(28,6) cast
      new java.math.BigDecimal(java.math.BigInteger.valueOf(s), 6).doubleValue()
    })
    // coalesce: null text tokenizes to the EMPTY document (n_tokens = 0,
    // sum_logp = 0.0) exactly as the batch path's left-join+coalesce does —
    // without it _toks is null and the UDF NPEs on a streaming micro-batch,
    // a batch≡stream parity break
    val toksC = filter(split(trim(coalesce(col(textCol), lit(""))),
      "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    df.withColumn("_toks", toksC)
      .withColumn("n_tokens", size(col("_toks")).cast(LongType))
      .withColumn("sum_logp", scoreUdf(col("_toks")))
      .withColumn("mean_logp",
        when(col("n_tokens") > 0, col("sum_logp") / col("n_tokens")))
      .withColumn("perplexity",
        when(col("n_tokens") > 0, exp(-col("sum_logp") / col("n_tokens"))))
      .drop("_toks")
  }

  /** Persist a fitted bigram LM: `path/vocab`, `path/bigrams`,
    * `path/totals`, `path/meta` (the smoothing/interpolation parameters
    * ride with the counts so a scoring batch can never disagree with the
    * fit) — the [[DsirOps.writeModel]] discipline. */
  def writeBigramLm(model: BigramLmModel, path: String): Unit = {
    val spark = model.vocab.sparkSession
    import spark.implicits._
    model.vocab.write.mode("overwrite").parquet(s"$path/vocab")
    model.bigrams.write.mode("overwrite").parquet(s"$path/bigrams")
    model.totals.write.mode("overwrite").parquet(s"$path/totals")
    Seq((model.vocabSize, model.alpha, model.lambda))
      .toDF("vocab_size", "alpha", "lambda")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[writeBigramLm]] layout. */
  def loadBigramLm(spark: org.apache.spark.sql.SparkSession,
                   path: String): BigramLmModel = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    BigramLmModel(spark.read.parquet(s"$path/vocab"),
      spark.read.parquet(s"$path/bigrams"),
      spark.read.parquet(s"$path/totals"),
      m.getInt(0), m.getDouble(1), m.getDouble(2))
  }

  /** Bigram interpolated-LM self-perplexity (the second-tier CCNet-style
    * quality signal; Jelinek-Mercer interpolation from the classic LM
    * literature): P(w | w₋₁) = λ·c(w₋₁ w)/c(w₋₁) + (1−λ)·P_uni(w), with
    * P_uni the add-alpha unigram of [[trainUnigramLm]], both the context
    * counts and the unigram tier restricted to the `vocabSize` most
    * frequent tokens, the bigram term to the `bigramVocabSize` most
    * frequent in-vocabulary-context bigrams (ties by pair ascending —
    * deterministic), and a token whose context is ABSENT (document start,
    * or an out-of-vocabulary previous token) scored by the unigram alone.
    * Repetitive/templated text scores much higher probability under the
    * bigram term than under unigrams, so this separates
    * fluent-but-templated boilerplate from ordinary prose in a way the
    * unigram tier cannot. Train + score in one call; for recurring ingest
    * fit once with [[trainBigramLm]] (optionally [[writeBigramLm]]) and
    * score each batch with [[bigramScoreWithModel]] or the streaming
    * [[bigramScoreBroadcast]]. Defaults: λ = 0.75 (both λ and 1−λ are
    * exact binary doubles, so any engine reproduces the interpolation
    * bit-for-bit). */
  def bigramPerplexity(df: DataFrame, idCol: String, textCol: String,
                       vocabSize: Int = 65536, bigramVocabSize: Int = 1 << 20,
                       alpha: Double = 0.5, lambda: Double = 0.75): DataFrame =
    bigramScoreWithModel(df, idCol, textCol,
      trainBigramLm(df, textCol, vocabSize, bigramVocabSize, alpha, lambda))

  // ------------------------------------------------ trigram LM (stupid backoff)

  /** A fitted trigram stupid-backoff LM (Brants et al. 2007, "Large
    * Language Models in Machine Translation" §3 — the web-scale recipe:
    * raw count ratios with a constant backoff multiplier instead of
    * normalized discounting, because at corpus scale the ratios dominate
    * and the score is used for RANKING, not sampling). Tables:
    * top-V vocabulary (counts double as unigram numerators and tier-2
    * denominators), top-B bigrams restricted to in-vocab contexts (tier-2
    * numerators AND tier-3 denominators), top-T trigrams restricted to
    * contexts PRESENT in the bigram table (so a stored trigram always has
    * its denominator — the cap discipline that keeps every table bounded
    * and broadcastable), one totals row, and the parameters. */
  final case class TrigramLmModel(vocab: DataFrame, bigrams: DataFrame,
                                  trigrams: DataFrame, totals: DataFrame,
                                  vocabSize: Int, alpha: Double,
                                  backoff: Double)

  /** Fit the trigram stupid-backoff LM. Same scale shape as
    * [[trainBigramLm]]: every count table is a map-side-combined
    * aggregation and every cut is a bounded TakeOrdered (count desc, gram
    * ascending ties) — never a global sort; the trigram table joins the
    * (broadcast) bigram table before its cut so unscorable trigrams can
    * never displace scorable ones. */
  def trainTrigramLm(corpus: DataFrame, textCol: String,
                     vocabSize: Int = 65536, bigramVocabSize: Int = 1 << 20,
                     trigramVocabSize: Int = 1 << 22, alpha: Double = 0.5,
                     backoff: Double = 0.4): TrigramLmModel = {
    require(vocabSize >= 1 && bigramVocabSize >= 1 && trigramVocabSize >= 1,
      "vocab sizes must be >= 1")
    require(alpha > 0.0 && backoff > 0.0 && backoff <= 1.0,
      "alpha > 0 and backoff in (0,1] required")
    val toksC = filter(split(trim(col(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    val base = corpus.select(toksC.as("_toks"))
    val counts = base.select(explode(col("_toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("_n"))
    val vocab = counts.orderBy(col("cnt").desc, col("token").asc).limit(vocabSize)
    // the when-guard against constraint-inlined descending sequence —
    // the Catalyst trap pinned in trainBigramLm/bpeTrain
    def grams(k: Int): DataFrame = base.filter(size(col("_toks")) >= k)
      .select(explode(when(size(col("_toks")) >= k, transform(
        sequence(lit(k - 1), size(col("_toks")) - 1),
        i => struct((0 until k).map(j =>
          get(col("_toks"), i - (k - 1) + j).as(s"_g$j")): _*)))
        .otherwise(array().cast(ArrayType(
          StructType((0 until k).map(j => StructField(s"_g$j", StringType))))))).as("_t"))
      .select((0 until k).map(j => col(s"_t._g$j").as(s"_g$j")): _*)
    val bigrams = grams(2)
      .groupBy(col("_g0").as("_b1"), col("_g1").as("_b2"))
      .agg(count(lit(1)).as("_cnt2"))
      .join(broadcast(vocab.select(col("token").as("_b1"))), Seq("_b1"))
      .orderBy(col("_cnt2").desc, col("_b1").asc, col("_b2").asc)
      .limit(bigramVocabSize)
    val trigrams = grams(3)
      .groupBy(col("_g0").as("_t1"), col("_g1").as("_t2"), col("_g2").as("_t3"))
      .agg(count(lit(1)).as("_cnt3"))
      // a stored trigram must carry its denominator: (t1, t2) ∈ bigrams
      .join(broadcast(bigrams.select(col("_b1").as("_t1"), col("_b2").as("_t2"))),
        Seq("_t1", "_t2"))
      .orderBy(col("_cnt3").desc, col("_t1").asc, col("_t2").asc, col("_t3").asc)
      .limit(trigramVocabSize)
    TrigramLmModel(vocab, bigrams, trigrams, totals, vocabSize, alpha, backoff)
  }

  /** Score documents under a [[trainTrigramLm]] model — stupid backoff:
    * `S(w|w₋₂w₋₁) = c₃/c₂(w₋₂w₋₁)` when the trigram is stored, else
    * `0.4·S(w|w₋₁)`; `S(w|w₋₁) = c₂/c₁(w₋₁)` when stored, else
    * `0.4·P_uni(w)`; first tokens score `P_uni`, second tokens the bigram
    * tier. All five model lookups are UNCONDITIONAL broadcasts (every
    * table bounded by construction); the only shuffle is the per-doc
    * aggregation on `idCol`, and no token string ever keys an exchange
    * (the [[bigramScoreWithModel]] shape). `sum_logp` uses the
    * rounded-DECIMAL discipline — order-independent and oracle-exact; the
    * backoff constant parses to the identical binary double in any
    * engine, so every tier's arithmetic replays bit-for-bit. */
  def trigramScoreWithModel(df: DataFrame, idCol: String, textCol: String,
                            model: TrigramLmModel): DataFrame = {
    val toksC = filter(split(trim(col(textCol)), "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    val base = df.select(col(idCol), col(textCol)).withColumn("_toks", toksC)
    val denom = col("_n") + lit(model.alpha * (model.vocabSize + 1))
    val bo = model.backoff
    val ex = base.filter(size(col("_toks")) > 0)
      .select(col(idCol), explode(transform(
        sequence(lit(1), greatest(size(col("_toks")), lit(1))),
        i => struct(get(col("_toks"), i - 1).as("w"),
          when(i > 1, get(col("_toks"), i - 2)).as("wp"),
          when(i > 2, get(col("_toks"), i - 3)).as("wpp")))).as("_t"))
      .select(col(idCol), col("_t.w").as("_w"), col("_t.wp").as("_wp"),
        col("_t.wpp").as("_wpp"))
    val perDoc = ex
      .join(broadcast(model.vocab.select(col("token").as("_w"), col("cnt").as("_cw"))),
        Seq("_w"), "left")
      .join(broadcast(model.vocab.select(col("token").as("_wp"), col("cnt").as("_cwp"))),
        Seq("_wp"), "left")
      .join(broadcast(model.bigrams.select(col("_b1").as("_wp"), col("_b2").as("_w"),
        col("_cnt2").as("_c2xy"))), Seq("_wp", "_w"), "left")
      .join(broadcast(model.bigrams.select(col("_b1").as("_wpp"), col("_b2").as("_wp"),
        col("_cnt2").as("_c2ctx"))), Seq("_wpp", "_wp"), "left")
      .join(broadcast(model.trigrams.select(col("_t1").as("_wpp"), col("_t2").as("_wp"),
        col("_t3").as("_w"), col("_cnt3"))), Seq("_wpp", "_wp", "_w"), "left")
      .crossJoin(broadcast(model.totals))
      .withColumn("_puni", (coalesce(col("_cw"), lit(0L)) + lit(model.alpha)) / denom)
      .withColumn("_s2",
        when(col("_c2xy").isNotNull && col("_cwp").isNotNull,
          col("_c2xy") / col("_cwp"))
          .otherwise(lit(bo) * col("_puni")))
      .withColumn("_s3",
        when(col("_cnt3").isNotNull, col("_cnt3") / col("_c2ctx"))
          .otherwise(lit(bo) * col("_s2")))
      .withColumn("_lp",
        when(col("_wp").isNull, log(col("_puni")))
          .when(col("_wpp").isNull, log(col("_s2")))
          .otherwise(log(col("_s3"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(graft.functions.RoundedDecimal.column(col("_lp")))
          .cast(DoubleType).as("sum_logp"))
    base.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_logp"), lit(0.0)).as("sum_logp"))
      .withColumn("mean_logp",
        when(col("n_tokens") > 0, col("sum_logp") / col("n_tokens")))
      .withColumn("perplexity",
        when(col("n_tokens") > 0, exp(-col("sum_logp") / col("n_tokens"))))
  }

  /** Persist a fitted trigram LM (`path/vocab|bigrams|trigrams|totals|
    * meta`) — the [[writeBigramLm]] discipline extended one order up. */
  def writeTrigramLm(model: TrigramLmModel, path: String): Unit = {
    val spark = model.vocab.sparkSession
    import spark.implicits._
    model.vocab.write.mode("overwrite").parquet(s"$path/vocab")
    model.bigrams.write.mode("overwrite").parquet(s"$path/bigrams")
    model.trigrams.write.mode("overwrite").parquet(s"$path/trigrams")
    model.totals.write.mode("overwrite").parquet(s"$path/totals")
    Seq((model.vocabSize, model.alpha, model.backoff))
      .toDF("vocab_size", "alpha", "backoff")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[writeTrigramLm]] layout. */
  def loadTrigramLm(spark: org.apache.spark.sql.SparkSession,
                    path: String): TrigramLmModel = {
    val m = spark.read.parquet(s"$path/meta").collect()(0)
    TrigramLmModel(spark.read.parquet(s"$path/vocab"),
      spark.read.parquet(s"$path/bigrams"),
      spark.read.parquet(s"$path/trigrams"),
      spark.read.parquet(s"$path/totals"),
      m.getInt(0), m.getDouble(1), m.getDouble(2))
  }

  /** Trigram stupid-backoff self-perplexity — train + score in one call
    * (the [[bigramPerplexity]] shape, one context order up: templated
    * three-word patterns score higher probability under the trigram tier
    * than the bigram tier can represent). */
  def trigramPerplexity(df: DataFrame, idCol: String, textCol: String,
                        vocabSize: Int = 65536, bigramVocabSize: Int = 1 << 20,
                        trigramVocabSize: Int = 1 << 22, alpha: Double = 0.5,
                        backoff: Double = 0.4): DataFrame =
    trigramScoreWithModel(df, idCol, textCol,
      trainTrigramLm(df, textCol, vocabSize, bigramVocabSize,
        trigramVocabSize, alpha, backoff))

  /** Character n-gram shingles of a normalized text, as a distinct array —
    * building block for MinHash / Jaccard dedup. FULL m−n+1 window
    * coverage, matching the native [[graft.functions.ShingleHashes]] /
    * ShingleHashSet family (an earlier form dropped the FINAL window,
    * which silently disagreed with the native ops on texts differing only
    * at the tail — caught at sf0.001 where two fixture docs differ in
    * exactly one trailing repetition). The when-guard keeps the sequence
    * total for sub-window texts (sequence(0, −1) DESCENDS — the Catalyst
    * constraint-inlining trap in CLAUDE.md). */
  def shingles(textCol: Column, n: Int): Column = {
    val norm = lower(regexp_replace(textCol, "\\s+", " "))
    array_distinct(
      when(length(norm) >= n, transform(
        sequence(lit(0), length(norm) - lit(n)),
        i => norm.substr(i + 1, lit(n))))
        .otherwise(array().cast(ArrayType(StringType))))
  }

  /** Deterministic 64-bit shingle hashes of normalized text (pure Scala —
    * a single compiled pass; the expression-tree version re-extracted all
    * substrings once per hash family, a 60x slowdown at sf0.01). */
  private[graft] def shingleHashSet(text: String, n: Int): Array[Long] = {
    val norm = text.toLowerCase.replaceAll("\\s+", " ")
    if (norm.length < n) return Array.empty
    val seen = new java.util.HashSet[Long]()
    val out = Array.newBuilder[Long]
    var i = 0
    while (i + n <= norm.length) {
      val sh = norm.substring(i, i + n)
      val h1 = scala.util.hashing.MurmurHash3.stringHash(sh, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(sh, 0x85ebca6b)
      val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      if (seen.add(h)) out += h
      i += 1
    }
    out.result()
  }

  /** MinHash signature of the shingle set using k independent hash families
    * h_i(x) = (a_i*hash(x) + b_i) mod p with p = 2^31-1. Deterministic.
    * Computed by the native one-pass codegen expression
    * [[graft.functions.MinHashSignature]] (no per-shingle substring, no
    * boxed dedup set, no UDF conversion layer); [[minHashSignatureUdf]] is
    * the original UDF form, kept as the executable bit-parity reference
    * (MinHashParitySpec). */
  def minHashSignature(df: DataFrame, textCol: String, numHashes: Int = 64,
                       shingleSize: Int = 5, out: String = "minhash"): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    df.withColumn(out, B.column(graft.functions.MinHashSignature(
      B.expression(coalesce(col(textCol), lit(""))), numHashes, shingleSize)))
  }

  /** The UDF form [[minHashSignature]] replaced — the executable
    * specification the native expression is pinned against. */
  private[graft] def minHashSignatureUdf(df: DataFrame, textCol: String,
                                         numHashes: Int = 64, shingleSize: Int = 5,
                                         out: String = "minhash"): DataFrame = {
    val p = 2147483647L
    val rnd = new scala.util.Random(42)
    val as = Array.fill(numHashes)((math.abs(rnd.nextLong()) % (p - 1)) + 1)
    val bs = Array.fill(numHashes)(math.abs(rnd.nextLong()) % p)
    val sigUdf = udf((text: String) => {
      val hs = shingleHashSet(if (text == null) "" else text, shingleSize)
      if (hs.isEmpty) Array.empty[Long] // no shingles → no signature (else every
      else {                            // short doc would collide in every band
      val sig = Array.fill(numHashes)(p)
      var j = 0
      while (j < hs.length) {
        val base = java.lang.Long.remainderUnsigned(hs(j), p)
        var i = 0
        while (i < numHashes) {
          val v = (base * as(i) + bs(i)) % p
          if (v < sig(i)) sig(i) = v
          i += 1
        }
        j += 1
      }
      sig
      }
    })
    df.withColumn(out, sigUdf(col(textCol)))
  }

  /** MinHash-LSH near-duplicate candidate pairs: band the signature, shuffle
    * on (band index, band hash), emit intra-bucket pairs. Scales as
    * sum(bucket²) per band — the classic LSH trade-off; band count tunes
    * recall vs cost. */
  /** The (id, band, bucket) LSH banded table — the shared candidate-generation
    * substrate for the self-join ([[minHashLshPairs]]) and the cross-corpus
    * join ([[crossCorpusCandidates]]). bucket = xxhash64 of the band's
    * signature slice, seeded by the band index so identical slices in
    * different bands never collide into one bucket.
    *
    * The buckets are exploded straight from the expression, never from a
    * named column: the optimizer guards an explode of an ATTRIBUTE with an
    * inferred `size(_) > 0` filter, pushes that filter below the projection
    * and so computes every doc's signature twice (an empty array explodes
    * to no rows anyway). */
  private[graft] def bandedTable(df: DataFrame, idCol: String, textCol: String,
                                 numHashes: Int, bands: Int, shingleSize: Int): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    df.select(col(idCol), posexplode(B.column(graft.functions.MinHashBandBuckets(
        B.expression(coalesce(col(textCol), lit(""))), numHashes, bands,
        shingleSize))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** MinHash-LSH candidate pairs in ONE corpus-sided aggregation: the
    * banded (id, band, bucket) rows reduce through the native
    * [[graft.functions.BoundedIdSet]] aggregate — per bucket, the sorted
    * id array when the bucket population lands in [2, maxBucketSize], the
    * empty array otherwise (the skew cap folded into the aggregation
    * buffer: an over-cap boilerplate bucket stops RETAINING ids past the
    * cap while its count keeps counting, so m² pairs never exist even
    * transiently) — then intra-bucket pairs generate declaratively from
    * each ≤cap array and distinct across bands.
    *
    * This replaces the histogram + cap-semi-join + bucket-self-join
    * pipeline (retained as [[minHashLshPairsJoin]], the executable spec):
    * that shape read a pinned banded table four times across three
    * shuffles, and the pin materialization + extra exchanges measured
    * ~80% of the whole op at the 10× corpus once the signature and
    * banding were native. Identical output by construction — both emit
    * exactly the intra-bucket pairs of buckets with 2..cap members,
    * distinct over bands (spec-pinned equality, incl. over-cap buckets). */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 5,
                      maxBucketSize: Int = 1000): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    val banded = bandedTable(df, idCol, textCol, numHashes, bands, shingleSize)
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(B.column(graft.functions.BoundedIdSet(
        B.expression(col(idCol)), maxBucketSize).toAggregateExpression()).as("_ids"))
      .filter(size(col("_ids")) >= 2)
    // ids sort ascending inside the aggregate, so pairing element i with
    // every later element emits id_a < id_b directly
    val pairStructs = flatten(transform(col("_ids"), (a, i) =>
      transform(slice(col("_ids"), i + 2, size(col("_ids"))),
        b => struct(a.as("id_a"), b.as("id_b")))))
    buckets.select(explode(pairStructs).as("_p"))
      .select(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"))
      .distinct()
  }

  /** The histogram + cap-join + self-join form [[minHashLshPairs]]
    * replaced — the executable specification (LshPairsParitySpec pins
    * pair-set equality, including over-cap and singleton buckets). */
  private[graft] def minHashLshPairsJoin(df: DataFrame, idCol: String, textCol: String,
                                         numHashes: Int = 64, bands: Int = 16,
                                         shingleSize: Int = 5,
                                         maxBucketSize: Int = 1000): DataFrame = {
    // materialize the banded table once (id, band, bucket — rows·bands, no
    // payloads): it feeds the histogram, the cap join, and BOTH sides of the
    // self-join, which would otherwise re-run the signature UDF four times.
    val bandedPin = Pin(bandedTable(df, idCol, textCol, numHashes, bands, shingleSize))
    val banded = bandedPin.df
    // Cap per-(band,bucket) population before the self-join: one boilerplate
    // bucket of m docs otherwise emits m² pairs (the classic LSH skew bomb at
    // corpus scale). Histogram size = distinct non-singleton buckets — often
    // broadcastable, but not bounded, so AQE picks the join strategy.
    val okBuckets = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") <= maxBucketSize && col("_bn") > 1)
      .select(col("band"), col("bucket"))
    val capped = banded.join(okBuckets, Seq("band", "bucket"))
    val a = capped.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val b = capped.select(col(idCol).as("id_b"), col("band").as("_band_b"), col("bucket").as("_bucket_b"))
    val pairs = a.join(b,
        col("band") === col("_band_b") && col("bucket") === col("_bucket_b") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // the candidate-pair set is tiny next to the banded table (ids only,
    // post-distinct): pin it eagerly so the banded blocks can be freed NOW
    val result = Pin(pairs)
    bandedPin.release()
    result.df
  }

  /** Cross-corpus MinHash-LSH candidates: (id_in, id_ref) pairs where an
    * incoming document shares at least one LSH band bucket with a reference
    * document — the candidate stage of deduplicating a NEW crawl against an
    * EXISTING training corpus (the dominant incremental-ingest shape at
    * 100 TB: the reference side's banded table is computed once per corpus
    * version and persisted; only the incoming side is signed per batch).
    *
    * Scale shape mirrors [[minHashLshPairs]]: both sides reduce to slim
    * (id, band, bucket) tables, the join key is (band, bucket), and a bucket
    * whose COMBINED population exceeds `maxBucketSize` is skipped — an
    * over-cap bucket is shared boilerplate that emits |in|·|ref| pairs and
    * belongs to [[removeBoilerplateLines]], not the pair join. Unlike the
    * self-join there is no id_a < id_b constraint: the two sides are
    * distinct corpora. */
  /** Banding choice for an LSH candidate stage targeting Jaccard ≥ t: the
    * fewest bands (longest rows-per-band) whose estimated recall at J = t,
    * 1 − (1 − t^r)^b, stays ≥ 0.98. Fewer/longer bands suppress
    * below-threshold candidates exponentially (r in the exponent), which is
    * what keeps the verify join alive on a self-similar corpus — with the
    * 16×4 default tuned for t ≈ 0.5, a t = 0.9 query on a high-overlap
    * corpus produced 250+ false candidates per document, and the verify
    * join dwarfed everything else. Exact duplicates collide under ANY
    * banding (identical sets ⇒ identical signatures), so threshold-1.0
    * recall is unaffected by the choice. */
  def bandsForThreshold(numHashes: Int, threshold: Double): Int = {
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    divisors.find { b =>
      val r = numHashes / b
      1.0 - math.pow(1.0 - math.pow(threshold, r.toDouble), b.toDouble) >= 0.98
    }.getOrElse(numHashes)
  }

  /** The persisted per-corpus-version half of the cross-corpus dedup index:
    * the reference side's (id, band, bucket) banded table and its 64-bit
    * shingle-hash sets, both pinned. In production these two tables are
    * written once per corpus version (they are exactly what you'd store
    * next to the corpus, ~tens of bytes/doc); every incoming batch then
    * pays only its OWN signatures. */
  final case class CorpusDedupIndex(banded: DataFrame, shingleSets: DataFrame,
                                    bucketHist: DataFrame,
                                    numHashes: Int, bands: Int, shingleSize: Int,
                                    release: () => Unit)

  /** Build (and pin) the reference-side index for [[dedupAgainstIndex]].
    * `bands = 0` (the default) derives the banding from `threshold` via
    * [[bandsForThreshold]] — the index bakes its banding in, so the
    * incoming side reads the parameters back from the index. */
  def buildDedupIndex(reference: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 0,
                      shingleSize: Int = 5,
                      threshold: Double = 0.8): CorpusDedupIndex = {
    val b = if (bands > 0) bands else bandsForThreshold(numHashes, threshold)
    val bandedPin = Pin(
      bandedTable(reference, idCol, textCol, numHashes, b, shingleSize)
        .select(col(idCol).as("id_ref"), col("band"), col("bucket")))
    val shPin = Pin(reference.select(col(idCol).as("id_ref"),
      shingleHashSetCol(col(textCol), shingleSize).as("_sh_ref")))
    // the per-(band, bucket) reference population is a property of the
    // corpus version, not of an incoming batch — computing it here (pinned,
    // ≤ |banded| slim rows) keeps the reference-sized aggregate out of
    // every batch's timed path
    val histPin = Pin(bandedPin.df.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("_nr")))
    CorpusDedupIndex(bandedPin.df, shPin.df, histPin.df, numHashes, b, shingleSize,
      () => { bandedPin.release(); shPin.release(); histPin.release() })
  }

  /** Persist the cross-corpus dedup index to storage: `path/banded`
    * (id_ref, band, bucket), `path/shingles` (id_ref, 64-bit shingle-hash
    * set) and `path/meta` (the signature parameters) — the durable form of
    * [[buildDedupIndex]], written once per corpus version so every
    * subsequent crawl batch deduplicates against it without touching the
    * reference corpus text again (~tens of bytes/doc of index next to the
    * corpus). */
  /** On-disk dedup-index format version. The bucket values in `banded` are
    * derived by [[graft.functions.MinHashBandBuckets]]'s fmix64 fold of the
    * band's signature slice; any change to that derivation (or to the
    * shingle/signature hashing) makes OLD persisted buckets join against
    * NOTHING — zero candidates, so even exact duplicates silently pass the
    * gate. Bumping this constant forces [[loadDedupIndex]] to fail fast on
    * stale indexes instead. v2 = fmix64 band fold (v1, the
    * xxhash64-of-joined-string scheme, predates versioned meta). */
  val DedupIndexFormatVersion: Int = 2

  def writeDedupIndex(reference: DataFrame, idCol: String, textCol: String,
                      path: String, numHashes: Int = 64, bands: Int = 0,
                      shingleSize: Int = 5, threshold: Double = 0.8): Unit = {
    val spark = reference.sparkSession
    val idx = buildDedupIndex(reference, idCol, textCol, numHashes, bands,
      shingleSize, threshold)
    idx.banded.write.mode("overwrite").parquet(s"$path/banded")
    idx.shingleSets.write.mode("overwrite").parquet(s"$path/shingles")
    idx.bucketHist.write.mode("overwrite").parquet(s"$path/bucket_hist")
    import spark.implicits._
    Seq((idx.numHashes, idx.bands, idx.shingleSize, DedupIndexFormatVersion))
      .toDF("num_hashes", "bands", "shingle_size", "format_version")
      .write.mode("overwrite").parquet(s"$path/meta")
    idx.release()
  }

  /** Load a [[writeDedupIndex]] layout. The returned index reads from
    * storage (release is a no-op — disk IS the materialization). Fails fast
    * when the persisted `format_version` is absent (pre-versioning index)
    * or differs from [[DedupIndexFormatVersion]] — a hash-scheme-mismatched
    * index joins zero candidates and silently passes every duplicate. */
  def loadDedupIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String): CorpusDedupIndex = {
    val meta = spark.read.parquet(s"$path/meta")
    require(meta.columns.contains("format_version"),
      s"dedup index at $path has no format_version (written by a build with " +
        s"a different bucket-hash scheme) — rebuild it with writeDedupIndex")
    val m = meta.select(col("num_hashes"), col("bands"), col("shingle_size"),
      col("format_version")).collect()(0)
    require(m.getInt(3) == DedupIndexFormatVersion,
      s"dedup index at $path is format_version ${m.getInt(3)}, this build " +
        s"requires $DedupIndexFormatVersion — rebuild it with writeDedupIndex")
    val banded = spark.read.parquet(s"$path/banded")
    val hist =
      try spark.read.parquet(s"$path/bucket_hist")
      catch { case _: org.apache.spark.sql.AnalysisException =>
        banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("_nr")) }
    CorpusDedupIndex(
      banded,
      spark.read.parquet(s"$path/shingles"),
      hist,
      m.getInt(0), m.getInt(1), m.getInt(2), () => ())
  }

  def crossCorpusCandidates(incoming: DataFrame, reference: DataFrame,
                            idCol: String, textCol: String,
                            numHashes: Int = 64, bands: Int = 16,
                            shingleSize: Int = 5,
                            maxBucketSize: Int = 1000): DataFrame = {
    val index = buildDedupIndex(reference, idCol, textCol, numHashes, bands,
      shingleSize)
    val result = crossCorpusCandidatesWithIndex(incoming, index, idCol, textCol,
      maxBucketSize)
    index.release()
    result
  }

  /** [[crossCorpusCandidates]] against a prepared reference index (the
    * production steady state: only the incoming batch is signed; signature
    * parameters come from the index so the two sides always agree). */
  def crossCorpusCandidatesWithIndex(incoming: DataFrame, index: CorpusDedupIndex,
                                     idCol: String, textCol: String,
                                     maxBucketSize: Int = 1000): DataFrame = {
    val inPin = Pin(bandedTable(incoming, idCol, textCol,
      index.numHashes, index.bands, index.shingleSize))
    val result = Pin(crossCorpusCandidatePairs(inPin.df, index, idCol, maxBucketSize))
    inPin.release()
    result.df
  }

  /** The candidate-pair DAG over an already-pinned incoming banded table —
    * the plan-inspection hook (the bm25TopKUnpinned discipline: the public
    * entry Pins its result, which collapses executedPlan to `Scan
    * ExistingRDD` and blinds PlanGuard). Production calls this through
    * [[crossCorpusCandidatesWithIndex]]; PlanGuard pins the shape here:
    * incoming batch is bounded by contract, so every incoming-derived
    * table broadcasts and the REFERENCE tables are never shuffled per
    * batch (previously the ref banded table re-aggregated AND re-shuffled
    * on (band, bucket) for every incoming batch — reference-sized work in
    * the steady-state path). The cap join keys on the index's persisted
    * per-bucket histogram. */
  private[graft] def crossCorpusCandidatePairs(inBanded: DataFrame,
                                               index: CorpusDedupIndex,
                                               idCol: String,
                                               maxBucketSize: Int): DataFrame = {
    val inB = inBanded.select(col(idCol).as("id_in"), col("band"), col("bucket"))
    val refB = index.banded
    val okBuckets = broadcast(
        inB.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("_ni")))
      .join(index.bucketHist, Seq("band", "bucket"))
      .filter(col("_ni") + col("_nr") <= maxBucketSize)
      .select(col("band"), col("bucket"))
    val inOk = inB.join(broadcast(okBuckets), Seq("band", "bucket"))
    refB.join(broadcast(inOk), Seq("band", "bucket"))
      .select(col("id_in"), col("id_ref"))
      .distinct()
  }

  /** Deduplicate an incoming batch AGAINST a reference corpus: drop incoming
    * documents whose exact n-gram Jaccard similarity to ANY reference
    * document is ≥ `threshold` (candidates from [[crossCorpusCandidates]],
    * every candidate verified — LSH only generates, never decides). Returns
    * the kept incoming rows with their original schema. */
  def dedupAgainstCorpus(incoming: DataFrame, reference: DataFrame,
                         idCol: String, textCol: String,
                         shingleSize: Int = 5, threshold: Double = 0.8,
                         numHashes: Int = 64, bands: Int = 0,
                         maxBucketSize: Int = 1000): DataFrame = {
    val index = buildDedupIndex(reference, idCol, textCol, numHashes, bands,
      shingleSize, threshold)
    val result = dedupAgainstIndex(incoming, index, idCol, textCol,
      threshold, maxBucketSize)
    index.release()
    result
  }

  /** [[dedupAgainstCorpus]] against a prepared reference index — the
    * production steady state (index built once per corpus version; each
    * incoming batch pays only its own signatures + the verify join).
    *
    * Verification runs on the 64-bit shingle-HASH sets (the same compiled
    * one-pass-per-document substrate the signatures use), not on string
    * shingle arrays: materializing ~|text| substring objects per document
    * measured 10× the whole op's cost and a multi-GB pin at 10× scale,
    * while the hash set is one compiled pass and ~8 bytes per shingle.
    * Jaccard over the hash sets equals text-shingle Jaccard up to 64-bit
    * double-murmur collisions (~|set|²/2⁶⁴ per pair — negligible against
    * any realistic threshold). */
  def dedupAgainstIndex(incoming: DataFrame, index: CorpusDedupIndex,
                        idCol: String, textCol: String,
                        threshold: Double = 0.8,
                        maxBucketSize: Int = 1000): DataFrame = {
    val cand = crossCorpusCandidatesWithIndex(incoming, index, idCol, textCol,
      maxBucketSize)
    val shInPin = Pin(incoming.select(col(idCol).as("id_in"),
      shingleHashSetCol(col(textCol), index.shingleSize).as("_sh_in")))
    val dupIds = dedupAgainstDupIds(cand, shInPin.df, index, idCol, threshold)
    // the drop-set is ids-only (tiny); pinning it lets the incoming-side
    // shingle blocks free before the caller's anti-join materializes
    val dropPin = Pin(dupIds)
    shInPin.release()
    incoming.join(dropPin.df, Seq(idCol), "left_anti")
  }

  /** The verify DAG over pinned candidate pairs and the pinned incoming
    * shingle sets — the plan-inspection hook for [[dedupAgainstIndex]]
    * (both batch-derived inputs are bounded by contract and broadcast;
    * the reference shingle-set table is scan-only, never shuffled). */
  private[graft] def dedupAgainstDupIds(cand: DataFrame, shIn: DataFrame,
                                        index: CorpusDedupIndex, idCol: String,
                                        threshold: Double): DataFrame =
    index.shingleSets
      .join(broadcast(cand), Seq("id_ref"))
      .join(broadcast(shIn), Seq("id_in"))
      .withColumn("_j", hashSetJaccard(col("_sh_in"), col("_sh_ref")))
      .filter(col("_j") >= threshold)
      .select(col("id_in").as(idCol)).distinct()

  /** Exact all-pairs n-gram Jaccard self-join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al. — public
    * literature): order every document's shingle set by ascending global
    * document frequency, then two sets with Jaccard ≥ t must share a shingle
    * inside the first |x| − ⌊t·|x|⌋ + 1 entries of that order. Candidates
    * come from joining only those prefix shingles — the globally rarest
    * ones, so fan-out is bounded by rare-shingle frequency rather than by
    * bucket skew — and every candidate is verified with the exact Jaccard.
    * Lossless (unlike LSH) at the price of one extra document-frequency
    * shuffle; the scale-safe choice when exact results are required. */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 5, threshold: Double = 0.8): DataFrame = {
    // explode straight from the expression (see bandedTable); a doc with no
    // shingle yields no row here and so never reaches the verify joins on sh
    val sh = df.select(col(idCol), shingles(col(textCol), shingleSize).as("_sh"))
    val ex = df.select(col(idCol), explode(shingles(col(textCol), shingleSize)).as("_s"))
    val dfreq = ex.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
    // canonical global order = (document frequency, shingle); struct sort
    // gives each document its shingles rarest-first
    val ordered = ex.join(dfreq, Seq("_s"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("_df"), col("_s")))).as("_o"))
      .select(col(idCol),
        transform(col("_o"), x => x.getField("_s")).as("_sho"),
        size(col("_o")).as("_n"))
    // prefix length n − ⌊t·n⌋ + 1 over-covers the required n − ⌈t·n⌉ + 1 by
    // at most one, which keeps the filter lossless under float rounding
    val prefix = ordered.select(col(idCol), col("_n"),
      slice(col("_sho"), lit(1),
        (col("_n") - floor(col("_n") * threshold) + 1).cast(IntegerType)).as("_p"))
    // positions enable PPJoin's pruning: both filters below are implied by
    // J ≥ t, so the candidate set stays lossless while hot shingles stop
    // emitting quadratic garbage (Xiao et al. 2008)
    val pe = prefix.select(col(idCol), col("_n"),
      posexplode(col("_p")).as(Seq("_pos", "_s")))
    val a = pe.select(col(idCol).as("id_a"), col("_n").as("_na"),
      col("_pos").as("_pa"), col("_s"))
    val b = pe.select(col(idCol).as("id_b"), col("_n").as("_nb"),
      col("_pos").as("_pb"), col("_s").as("_s_b"))
    // J ≥ t ⟹ length filter t·max(|a|,|b|) ≤ min(|a|,|b|); the positional
    // filter bounds the still-possible overlap from the match position:
    // 1 + min(|a|−pa−1, |b|−pb−1) ≥ ⌈t/(1+t)·(|a|+|b|)⌉ (the overlap J ≥ t
    // requires). Both prune BEFORE the distinct/verify shuffle.
    val minOverlap = ceil(lit(threshold) / (lit(1.0) + threshold) * (col("_na") + col("_nb")))
    val cand = a.join(b,
      col("_s") === col("_s_b") && col("id_a") < col("id_b") &&
        greatest(col("_na"), col("_nb")) * threshold <= least(col("_na"), col("_nb")) &&
        (lit(1) + least(col("_na") - col("_pa") - 1, col("_nb") - col("_pb") - 1))
          >= minOverlap)
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(sh.select(col(idCol).as("id_a"), col("_sh").as("_sh_a")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("_sh").as("_sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("_sh_a"), col("_sh_b"))).cast(DoubleType) /
          size(array_union(col("_sh_a"), col("_sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact Jaccard similarity of shingle sets for candidate pairs — the
    * verify step after LSH. `pairs` has (id_a, id_b).
    *
    * Verification runs on the native 64-bit shingle-HASH sets
    * ([[graft.functions.ShingleHashSet]] — one compiled pass, ~8 bytes per
    * shingle), exactly as [[dedupAgainstIndex]] does: the string-shingle
    * form materialized ~shingleSize×|text| bytes of substring arrays per
    * document through the interpreted HOF path AND shipped them across the
    * two id-keyed join exchanges (strictly more bytes than the text
    * itself — the one violation of the "text never shuffles" discipline),
    * and `array_intersect`/`array_union` re-hashed every string element.
    * Hash-set Jaccard equals text-shingle Jaccard up to double-murmur
    * collisions (~|set|²/2⁶⁴ per pair — negligible at any threshold). One
    * convention note: this path enumerates the full len−n+1 windows (the
    * substrate the signatures and [[dedupAgainstIndex]] share), while the
    * retained string form's [[shingles]] column enumerates len−n — raw
    * values can differ at the final window, but the set-EQUALITY relation
    * (jaccard == 1.0, what every driver oracle row verifies at) is
    * identical. MinHashParitySpec pins both: value parity against the
    * driver-side hash-set reference, relation parity against
    * [[jaccardVerifyStrings]]. */
  /** Jaccard of two distinct 64-bit hash-set columns via the native
    * one-pass intersect count ([[graft.functions.HashIntersectCount]]):
    * |a∪b| = |a| + |b| − |a∩b| for distinct sets, and the division stays
    * in Spark SQL so the values (and the ANSI empty∩empty behavior) are
    * bit-identical to the size(array_intersect)/size(array_union) form it
    * replaced — without materializing the two intermediate arrays per
    * candidate pair. */
  private[graft] def hashSetJaccard(a: Column, b: Column): Column = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    val inter = B.column(graft.functions.HashIntersectCount(
      B.expression(a), B.expression(b)))
    inter.cast(DoubleType) / (size(a) + size(b) - inter)
  }

  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int = 5, threshold: Double = 0.8): DataFrame = {
    val sh = docs.select(col(idCol),
      shingleHashSetCol(col(textCol), shingleSize).as("_sh"))
    val j = pairs
      .join(sh.withColumnRenamed(idCol, "id_a").withColumnRenamed("_sh", "_sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed(idCol, "id_b").withColumnRenamed("_sh", "_sh_b"), Seq("id_b"))
      .withColumn("jaccard", hashSetJaccard(col("_sh_a"), col("_sh_b")))
      .drop("_sh_a", "_sh_b")
    j.filter(col("jaccard") >= threshold)
  }

  /** Containment verify of candidate pairs — Broder (1997)'s asymmetric
    * relation `C(A,B) = |A∩B| / |A|`: the near-dup class Jaccard
    * structurally misses. A short document quoted whole inside a long one
    * has containment ≈ 1 but Jaccard ≈ |A|/|B| — arbitrarily small — so a
    * Jaccard gate never fires; containment is the right verify for
    * quote-inclusion, boilerplate-wrapped reposts, and
    * subset-crawl detection.
    *
    * Candidates are the caller's (`pairs` = (id_a, id_b)): MinHash-LSH
    * banding recalls pairs by JACCARD, so extreme short-in-long pairs may
    * not band-collide — feed candidates from the cross-corpus gram index
    * ([[dedupAgainstCorpus]]'s shape) or domain pairing when hunting
    * those; the verify itself is candidate-source-agnostic.
    *
    * Same scale shape as [[jaccardVerify]]: native one-pass shingle-hash
    * sets (~8 bytes/shingle) on each side, one compiled intersect count
    * per pair, both directions from the same count. Empty shingle sets
    * (text shorter than the shingle) give containment 0. Output adds
    * `containment_a_in_b`, `containment_b_in_a` (6-decimal grid); keeps
    * pairs whose LARGER direction clears `threshold`. */
  def containmentVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String, shingleSize: Int = 5,
                        threshold: Double = 0.8): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    val sh = docs.select(col(idCol),
      shingleHashSetCol(col(textCol), shingleSize).as("_sh"))
    val inter = B.column(graft.functions.HashIntersectCount(
      B.expression(col("_sh_a")), B.expression(col("_sh_b"))))
    pairs
      .join(sh.withColumnRenamed(idCol, "id_a").withColumnRenamed("_sh", "_sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed(idCol, "id_b").withColumnRenamed("_sh", "_sh_b"), Seq("id_b"))
      .withColumn("_i", inter.cast(DoubleType))
      .withColumn("containment_a_in_b",
        when(size(col("_sh_a")) === 0, lit(0.0))
          .otherwise(round(col("_i") / size(col("_sh_a")), 6)))
      .withColumn("containment_b_in_a",
        when(size(col("_sh_b")) === 0, lit(0.0))
          .otherwise(round(col("_i") / size(col("_sh_b")), 6)))
      .filter(greatest(col("containment_a_in_b"), col("containment_b_in_a"))
        >= lit(threshold))
      .select(col("id_a"), col("id_b"),
        col("containment_a_in_b"), col("containment_b_in_a"))
  }

  /** The string-shingle form [[jaccardVerify]] replaced — kept as the
    * executable specification (it IS the oracle's computation: DuckDB
    * replays string shingle sets, and hash-set sizes match string-set sizes
    * collision-free on real text — the parity MinHashParitySpec pins). */
  private[graft] def jaccardVerifyStrings(pairs: DataFrame, docs: DataFrame,
                                          idCol: String, textCol: String,
                                          shingleSize: Int = 5,
                                          threshold: Double = 0.8): DataFrame = {
    val sh = docs.select(col(idCol), shingles(col(textCol), shingleSize).as("_sh"))
    val j = pairs
      .join(sh.withColumnRenamed(idCol, "id_a").withColumnRenamed("_sh", "_sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed(idCol, "id_b").withColumnRenamed("_sh", "_sh_b"), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("_sh_a"), col("_sh_b"))).cast(DoubleType) /
          size(array_union(col("_sh_a"), col("_sh_b"))))
      .drop("_sh_a", "_sh_b")
    j.filter(col("jaccard") >= threshold)
  }

  /** The native token-n-gram-window column
    * ([[graft.functions.WordGrams]]); null text → no windows. */
  private def wordGramsCol(textCol: Column, n: Int, distinct: Boolean,
                           dropEmpty: Boolean = false): Column = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    B.column(graft.functions.WordGrams(
      B.expression(coalesce(textCol, lit(""))), n, distinct, dropEmpty))
  }

  /** The native distinct shingle-hash-set column
    * ([[graft.functions.ShingleHashSet]]); null text → empty set, matching
    * the UDF guard it replaced. */
  private[graft] def shingleHashSetCol(textCol: Column, shingleSize: Int): Column = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    B.column(graft.functions.ShingleHashSet(
      B.expression(coalesce(textCol, lit(""))), shingleSize))
  }

  /** SimHash (64-bit) over shingles: sign-sum of per-feature hash bits.
    * Near-dups have small Hamming distance. Native codegen expression
    * ([[graft.functions.SimHash64]]); the UDF form it replaced is the
    * bit-parity reference in MinHashParitySpec. */
  def simHash(df: DataFrame, textCol: String, shingleSize: Int = 5,
              out: String = "simhash"): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    df.withColumn(out, B.column(graft.functions.SimHash64(
      B.expression(coalesce(col(textCol), lit(""))), shingleSize)))
  }

  /** Rolling-hash document fingerprint (winnowing-style): min xxhash64 of
    * each w-gram window — cheap content fingerprint for clustering. */
  def fingerprint(df: DataFrame, textCol: String, out: String = "fingerprint"): DataFrame =
    df.withColumn(out, xxhash64(lower(regexp_replace(col(textCol), "\\s+", " "))))

  /** Language-ID heuristic: script detection (CJK) + stopword voting for
    * latin-script European languages. Pure column expressions. */
  def languageId(df: DataFrame, textCol: String, out: String = "lang_pred"): DataFrame = {
    val t = lower(col(textCol))
    def hits(words: Seq[String]): Column =
      words.map(w => when(t.contains(s" $w "), 1).otherwise(0)).reduce(_ + _)
    val en = hits(Seq("the", "and", "of", "to", "is", "that", "with"))
    val de = hits(Seq("der", "die", "und", "das", "ist", "nicht", "ein"))
    val es = hits(Seq("el", "la", "los", "que", "es", "una", "para"))
    val fr = hits(Seq("le", "la", "les", "est", "une", "dans", "pour"))
    val zhChars = length(regexp_replace(col(textCol), "[^\\u4e00-\\u9fff]", ""))
    df.withColumn(out,
      when(zhChars > 0, "zh")
        .when(de >= en && de >= es && de >= fr && de > 0, "de")
        .when(es >= en && es >= fr && es > 0, "es")
        .when(fr >= en && fr > 0, "fr")
        .otherwise("en"))
  }

  /** Composite quality score in [0,1] from textStats-style signals. */
  def qualityScore(df: DataFrame, textCol: String, out: String = "quality_score"): DataFrame = {
    val stats = textStats(df, textCol)
    val lenScore = least(col("n_chars").cast(DoubleType) / 200.0, lit(1.0))
    val alphaScore = col("alpha_ratio")
    val tokenScore = when(col("mean_token_len").between(2.0, 12.0), 1.0).otherwise(0.5)
    stats.withColumn(out, round((lenScore * 0.4 + alphaScore * 0.4 + tokenScore * 0.2), 6))
  }

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    * components over the pair graph by distributed min-label propagation
    * with pointer jumping (label ← label-of-label each round), so chains
    * converge in O(log diameter) rounds rather than O(diameter). Dedup
    * graphs from LSH buckets are near-cliques with tiny diameters, so
    * `maxIters` is a hard safety bound, not a tuning knob.
    *
    * Every iterate is pinned via [[Pin]] (lineage truncation — an iterative
    * plan otherwise re-executes all previous rounds; the storage kind is the
    * `spark.graft.checkpoint.mode` conf) and the edge list is materialized
    * once. Superseded iterates are released each round, so at most one label
    * table plus the edge list hold storage at any time; the final iterate
    * backs the returned plan and stays pinned. Output:
    * (member_id, cluster_id) — cluster_id is the minimum member id, one row
    * per node that appears in any pair. */
  def dedupClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                    maxIters: Int = 10): DataFrame = {
    val e = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val edgesPin = Pin(e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val edges = edgesPin.df
    var labelsPin = Pin(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val labels = labelsPin.df
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("_nl")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("_nl")).as("_mn"))
      val afterNeighbor = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("_mn"), col("label"))).as("label"))
      // pointer jumping: adopt the label of your label
      val jumpedPin = Pin(afterNeighbor
        .join(afterNeighbor.select(col("id").as("label"), col("label").as("_ll")),
          Seq("label"), "left")
        .select(col("id"), least(col("label"), coalesce(col("_ll"), col("label"))).as("label")))
      val changed = jumpedPin.df.join(labels.withColumnRenamed("label", "_old"), Seq("id"))
        .filter(col("label") =!= col("_old")).count()
      labelsPin.release() // superseded iterate — keep only the latest pin
      labelsPin = jumpedPin
      converged = changed == 0
      i += 1
    }
    edgesPin.release()
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupClusters exhausted maxIters=$maxIters without converging: " +
          "components may be split across multiple cluster_ids; raise maxIters " +
          "(rounds needed grow with log(component diameter))")
    labelsPin.df.select(col("id").as("member_id"), col("label").as("cluster_id"))
  }

  /** Keep one canonical row per duplicate cluster (the minimum id) plus all
    * rows that never appeared in a pair — the corpus-level dedup step after
    * candidate generation + verification. */
  def dedupKeepCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
                         idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val losers = dedupClusters(pairs, idA, idB)
      .filter(col("member_id") =!= col("cluster_id"))
      .select(col("member_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // -------------------------------------------- content-defined chunking

  /** Content-defined chunking (Rabin-boundary family; see
    * [[graft.functions.CdcChunks]] for the contract and citations): cut
    * documents where a rolling window hash hits a fixed bit pattern, so
    * boundaries follow content rather than offsets — the shift-resilient
    * sub-document unit for exact chunk-level dedup (a fixed-window
    * n-gram scheme re-hashes everything after an insertion; CDC chunks
    * downstream of it are untouched).
    *
    * Scale design: the whole chunker is ONE native codegen pass per
    * document (constant-work rolling update); text dies map-side and
    * only slim (id, idx, start, len, hash) rows ever shuffle. Output:
    * (idCol, `chunk_idx` 0-based, `start` 1-based codepoint, `len`,
    * `chunk_hash`). Empty/null text emits no rows. */
  def chunkContentDefined(df: DataFrame, idCol: String, textCol: String,
                          window: Int = 8, avgBits: Int = 8,
                          minLen: Int = 32, maxLen: Int = 512,
                          seed: Long = 7L): DataFrame = {
    val B = org.apache.spark.sql.GraftExpressionBridge
    val chunks = B.column(graft.functions.CdcChunks(
      B.expression(col(textCol)), window, avgBits, minLen, maxLen, seed))
    df.select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "_c")))
      .select(col(idCol), col("chunk_idx").cast("int").as("chunk_idx"),
        col("_c.start").as("start"), col("_c.len").as("len"),
        col("_c.hash").as("chunk_hash"))
  }

  /** Cross-document shared-content report over [[chunkContentDefined]]:
    * chunk hashes appearing in at least `minDocs` distinct documents,
    * with their document and occurrence counts — the "which exact
    * passages circulate" audit (quote mining, boilerplate fragments,
    * syndicated paragraphs) at sub-document granularity. The only
    * exchange carries (hash, id) pairs; text never leaves the chunking
    * scan. Output: (`chunk_hash`, `n_docs`, `n_occurrences`). */
  def cdcSharedChunks(df: DataFrame, idCol: String, textCol: String,
                      minDocs: Int = 2, window: Int = 8, avgBits: Int = 8,
                      minLen: Int = 32, maxLen: Int = 512,
                      seed: Long = 7L): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    chunkContentDefined(df, idCol, textCol, window, avgBits, minLen, maxLen, seed)
      .groupBy(col("chunk_hash"))
      .agg(count_distinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Keep the BEST-SCORING row per duplicate cluster (plus every row that
    * never appeared in a pair) — the quality-aware variant of
    * [[dedupKeepCanonical]]: real pipelines keep the cleanest member of a
    * near-dup family (longest extraction, highest classifier score), not
    * the one with the smallest id. Ties on the 6-decimal-rounded score
    * break by id ascending (the house rank discipline), so the kept set
    * is unique and oracle-replayable.
    *
    * Scale shape: clusters come from [[dedupClusters]] (dup-bounded);
    * the winner per cluster is the bounded native
    * [[graft.functions.TopKByScore]] aggregate at k = 1 (map-side
    * partial, no per-cluster window/sort); the only corpus-sized stage is
    * the final id-keyed anti join. Null/NaN scores rank below every real
    * score (the member still loses to any scored sibling but a whole-null
    * cluster keeps its min id). */
  def dedupKeepBest(df: DataFrame, idCol: String, scoreCol: String,
                    pairs: DataFrame, idA: String = "id_a",
                    idB: String = "id_b"): DataFrame = {
    val clusters = dedupClusters(pairs, idA, idB)
    val scored = clusters.join(
      df.select(col(idCol).cast(LongType).as("member_id"),
        round(col(scoreCol).cast(DoubleType), 6).as("_sc")),
      Seq("member_id"))
      // NaN/null sort below every real score; the id tiebreak still holds
      .withColumn("_sc", when(col("_sc").isNull || isnan(col("_sc")),
        lit(Double.MinValue)).otherwise(col("_sc")))
    val B = org.apache.spark.sql.GraftExpressionBridge
    val top1 = B.column(graft.functions.TopKByScore(
      B.expression(col("member_id")), B.expression(col("_sc")), 1)
      .toAggregateExpression()).as("_top")
    val winners = scored.groupBy(col("cluster_id")).agg(top1)
      .select(explode(col("_top")).as("_w"))
      .select(col("_w.vid").as("member_id"))
    val losers = clusters.join(winners, Seq("member_id"), "left_anti")
      .select(col("member_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Line-level boilerplate removal (CCNet-style, Wenzek et al. 2020 §4.1:
    * drop lines duplicated across many documents — headers, nav bars, cookie
    * banners). A line is boilerplate when its trimmed form appears in more
    * than `maxDocs` DISTINCT documents. Two corpus passes:
    *
    *  1. count documents per line: lines are exploded once and reduced by
    *     xxhash64(trimmed line) — the corpus-sized shuffle carries (hash,
    *     doc-partial count), never the line text, and the per-doc `distinct`
    *     before counting is a map-side `array_distinct` on the already-split
    *     array (no extra exchange);
    *  2. rebuild each document, keeping only non-boilerplate lines in their
    *     original order. The boilerplate set (hashes above `maxDocs`) is the
    *     heavy-hitter tail of the line histogram — small by construction —
    *     so the rebuild is a per-row `filter` against its broadcast
    *     (array_contains on a broadcast scalar), NOT an explode + re-group:
    *     document text never shuffles at all.
    *
    * The 64-bit hash is a prefilter-grade identity here (a collision could
    * drop an innocent line); at 2⁻⁶⁴ per pair this is the standard accepted
    * risk of hashed line dedup. Blank lines are never counted or removed.
    * Output: input columns + `{out}` (the cleaned text) +
    * `{out}_lines_removed`. */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             maxDocs: Int, out: String = "text_clean"): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    val lineArr = split(col(textCol), "\n")
    val trimmedHashes =
      transform(lineArr, l => when(length(trim(l)) > 0, xxhash64(trim(l))))
    // per-document distinct line hashes, nulls (blank lines) dropped
    val docLineHashes = array_distinct(filter(trimmedHashes, h => h.isNotNull))
    val counts = df.select(explode(docLineHashes).as("_lh"))
      .groupBy(col("_lh")).agg(count(lit(1)).as("_docs"))
    // the heavy-hitter set is SORTED once at build time so the per-line
    // membership probe is a binary search (SortedArrayContains) instead of
    // an O(|boiler|) array scan per line — lines × log|boiler| total work
    // even if a corpus yields thousands of shared lines
    val boiler = counts.filter(col("_docs") > maxDocs)
      .agg(sort_array(collect_list(col("_lh"))).as("_boiler"))
    def sortedContains(arr: Column, v: Column): Column = {
      val B = org.apache.spark.sql.GraftExpressionBridge
      B.column(graft.functions.SortedArrayContains(B.expression(arr), B.expression(v)))
    }
    val keptLines = filter(lineArr, l =>
      length(trim(l)) === 0 || !sortedContains(col("_boiler"), xxhash64(trim(l))))
    df.crossJoin(broadcast(boiler))
      .withColumn(out, array_join(keptLines, "\n"))
      .withColumn(s"${out}_lines_removed",
        (size(lineArr) - size(keptLines)).cast(LongType))
      .drop("_boiler")
  }

  /** Cross-document paragraph-granularity exact dedup (the Dolma
    * pipeline's paragraph dedup — Soldaini et al. 2024 §2: within a
    * corpus, every duplicated paragraph keeps its FIRST occurrence and
    * every later occurrence is removed from its document). Unlike
    * [[removeBoilerplateLines]] there is no frequency threshold — the
    * second copy is already redundant; unlike [[removeDuplicatedSpans]]
    * the unit is the newline-delimited paragraph, not a token window.
    * Blank/short lines (< `minChars` after trim) are document structure
    * and are always kept.
    *
    * Scale shape (the spans-dedup discipline): paragraph text dies
    * map-side — xxhash64 runs on the exploded lines and only
    * (id, pos, hash) crosses into the keep-first aggregation; "first" is
    * min (idCol, position), deterministic and partition-invariant; the
    * per-doc drop-set joins back as a slim sorted position array (its
    * total size is the number of DUPLICATE occurrences, which AQE
    * broadcasts when it fits) and the rebuild filters positions in place
    * with a binary-search membership probe. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      minChars: Int = 1, out: String = "text_clean"): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    val base = df.select(col(idCol), col(textCol))
      .withColumn("_lines", split(col(textCol), "\n"))
    val occ = base
      .select(col(idCol), posexplode(col("_lines")).as(Seq("_p", "_l")))
      .filter(length(trim(col("_l"))) >= minChars)
      .select(col(idCol), col("_p"), xxhash64(trim(col("_l"))).as("_ph"))
    val repeated = occ.groupBy(col("_ph"))
      .agg(min(struct(col(idCol), col("_p"))).as("_first"),
        count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= 2)
    val drops = occ.join(repeated, Seq("_ph"))
      .filter(struct(col(idCol), col("_p")) =!= col("_first"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("_p").cast(LongType))).as("_drop"))
    def sortedContains(arr: Column, v: Column): Column = {
      val B = org.apache.spark.sql.GraftExpressionBridge
      B.column(graft.functions.SortedArrayContains(B.expression(arr), B.expression(v)))
    }
    base.join(drops, Seq(idCol), "left")
      .withColumn("_kept", when(col("_drop").isNull, col("_lines")).otherwise(
        filter(col("_lines"), (l, i) => !sortedContains(col("_drop"), i.cast(LongType)))))
      .select(col(idCol), array_join(col("_kept"), "\n").as(out),
        (size(col("_lines")) - size(col("_kept"))).cast(LongType)
          .as(s"${out}_paragraphs_removed"))
  }

  /** Global token histogram: the k most frequent whitespace tokens of the
    * corpus (optionally lowercased), with a deterministic total order
    * (count desc, token asc). The classic vocabulary/coverage diagnostic of
    * a training-data pipeline. Scale shape: explode → hash-aggregate with
    * map-side partial combine (hot tokens — 'the' — partial-aggregate
    * inside each task, so the final exchange sees at most
    * partitions × distinct-token rows, not one row per occurrence), then a
    * TakeOrderedAndProject for the top-k — vocabulary-sized, never
    * corpus-sized, and no full sort is materialized. Output:
    * (token, cnt, rank). */
  def topTokens(df: DataFrame, textCol: String, k: Int,
                lowercase: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = if (lowercase) lower(col(textCol)) else col(textCol)
    val toks = filter(split(base, "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    df.select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)
      // the rank window runs over the ALREADY-REDUCED k rows (k ≪ corpus),
      // so one partition is the correct shape; the partition key is a
      // constant-valued but NON-FOLDABLE expression (cnt % 1 — a literal
      // would be optimized away), keeping the spec non-empty so the plan
      // carries no single-partition-window warning
      .withColumn("rank", row_number().over(
        Window.partitionBy(pmod(col("cnt"), lit(1)))
          .orderBy(col("cnt").desc, col("token").asc)))
  }

  /** [[topTokens]]' 100 TB path: corpus-wide top-k tokens via a mergeable
    * Misra-Gries/Space-Saving frequent-items sketch
    * ([[graft.functions.SpaceSavingTopK]]) instead of a vocabulary-keyed
    * groupBy. Scale shape: the exact op's explode→groupBy(token) pushes an
    * exchange whose cardinality is the VOCABULARY — raw web text at 100 TB
    * has 10⁸⁺ token types (hapax-dominated: URLs, hashes, typos), so that
    * shuffle ships per-partition-distinct × partitions rows of junk to
    * compute a k=50 answer. Here each partition folds its documents into
    * one bounded sketch map-side (text never leaves the scan task) and
    * only `capacity` counters cross a single-partition exchange; shuffle
    * volume is independent of both corpus size and vocabulary.
    *
    * Exactness contract: with `capacity` ≥ the true vocabulary the sketch
    * never purges, `max_err` = 0, and the output is IDENTICAL to
    * [[topTokens]] (the driver row runs in this regime and shares its
    * oracle). Below that, counts carry `|est − true| ≤ max_err` with
    * `max_err ≤ ~2·n/capacity` (Agarwal et al. 2012, mergeable
    * summaries), and — like any mergeable sketch — the estimates depend
    * on partition layout; the BOUND is what's guaranteed. Output:
    * (token, cnt, rank, max_err), rank by (cnt DESC, token ASC). */
  def topTokensSketch(df: DataFrame, textCol: String, k: Int,
                      capacity: Int = 4096, lowercase: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(capacity >= k, s"capacity must be >= k, got capacity=$capacity k=$k")
    val B = org.apache.spark.sql.GraftExpressionBridge
    val base = if (lowercase) lower(col(textCol)) else col(textCol)
    val toks = filter(split(base, "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    df.select(toks.as("_toks"))
      .agg(B.column(graft.functions.SpaceSavingTopK(
        B.expression(col("_toks")), k, capacity).toAggregateExpression()).as("_sk"))
      // toks is already in rank order (cnt DESC, token ASC) — posexplode's
      // position IS the rank, no window needed over the k rows
      .select(col("_sk.err").as("_err"), posexplode(col("_sk.toks")).as(Seq("_pos", "e")))
      .select(col("e.token").as("token"), col("e.cnt").as("cnt"),
        (col("_pos") + 1).cast("int").as("rank"), col("_err").as("max_err"))
  }

  /** Per-group [[topTokensSketch]]: top-k tokens within each value of
    * `groupCol` (per-language / per-source vocabulary reports). Same
    * sketch, same exactness contract per group; the exchange is keyed on
    * the GROUP (bounded: languages, sources), carrying one bounded sketch
    * buffer per (partition, group) — token cardinality still never
    * shuffles. Output: (group, token, cnt, rank, max_err). */
  def topTokensSketchBy(df: DataFrame, groupCol: String, textCol: String, k: Int,
                        capacity: Int = 4096, lowercase: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(capacity >= k, s"capacity must be >= k, got capacity=$capacity k=$k")
    val B = org.apache.spark.sql.GraftExpressionBridge
    val base = if (lowercase) lower(col(textCol)) else col(textCol)
    val toks = filter(split(base, "[ \\t\\n\\r\\f]+"), t => length(t) > 0)
    df.select(col(groupCol).as("group"), toks.as("_toks"))
      .groupBy(col("group"))
      .agg(B.column(graft.functions.SpaceSavingTopK(
        B.expression(col("_toks")), k, capacity).toAggregateExpression()).as("_sk"))
      .select(col("group"), col("_sk.err").as("_err"),
        posexplode(col("_sk.toks")).as(Seq("_pos", "e")))
      .select(col("group"), col("e.token").as("token"), col("e.cnt").as("cnt"),
        (col("_pos") + 1).cast("int").as("rank"), col("_err").as("max_err"))
  }

  // ------------------------------------------------- text featurization

  /** Deterministic feature-hashing text embedding (the hashing trick —
    * Weinberger et al. 2009, public): every token hashes to a bucket in
    * [0, dim) with a ±1 sign, the per-bucket signed counts form the vector,
    * L2-normalized. The bridge from raw text into the semantic ops: a corpus
    * without precomputed neural embeddings can still run [[SimilarityOps]]'
    * SemDeDup / kNN-graph / ANN paths over these vectors.
    *
    * The token hash is a polynomial-rolling hash mod P = 2^31−1 over
    * codepoints (seeded; max intermediate P·131 + 1114111 < 2^39 —
    * BIGINT-safe, so the DuckDB oracle replays it exactly). Scale shape:
    * ENTIRELY map-side — per row, tokens map to (bucket, ±1) pairs once,
    * then a dim × tokens higher-order scan assembles the dense vector in
    * place. The alternative (explode → groupBy(id, bucket) → join back)
    * shuffles less arithmetic but re-shuffles the TEXT-carrying corpus on id
    * for the join — at 100 TB, dim× extra integer ops per row are far
    * cheaper than pushing the corpus through an exchange, so for the
    * dims this op targets (≤ a few hundred) map-only wins outright. Zero
    * exchanges, partition-invariant by construction; docs with no tokens
    * get the zero vector (PlanGuardSpec pins the no-shuffle shape). */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String, dim: Int = 64,
                seed: Long = 0L, out: String = "embedding"): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    // one compiled pass: tokenize → hash → scatter signed counts →
    // normalize ([[graft.functions.HashEmbedVector]]). The declarative
    // scatter-accumulate it replaced ([[hashEmbedReference]], the oracle's
    // replay form) evaluated O(dim·tokens) interpreted lambdas per doc —
    // the heaviest map-only op left in the 10×-corpus profile.
    val B = org.apache.spark.sql.GraftExpressionBridge
    df.withColumn(out, B.column(graft.functions.HashEmbedVector(
      B.expression(lower(trim(col(textCol)))), dim, seed)))
  }

  /** The declarative composition [[hashEmbed]] replaced — the executable
    * specification (QualityCurationSpec pins bit equality) and the form the
    * text_hash_embed DuckDB oracle replays. */
  private[graft] def hashEmbedReference(df: DataFrame, idCol: String, textCol: String,
                                        dim: Int = 64, seed: Long = 0L,
                                        out: String = "embedding"): DataFrame = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    // raw token hashes in one native pass (NgramBucketHashes, unigram mode,
    // numBuckets=0 -> no reduction)
    val hashes = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.NgramBucketHashes(
        org.apache.spark.sql.GraftExpressionBridge.expression(
          lower(trim(col(textCol)))), 0, seed, bigrams = false))
    val info = transform(hashes, h =>
      struct(pmod(shiftright(h, 1), lit(dim.toLong)).as("b"),
        when(pmod(h, lit(2L)) === 0, lit(1L)).otherwise(lit(-1L)).as("s")))
    // one fold over the tokens builds the signed-count vector; the
    // single-element-array + transform wrappers are let-bindings (a lambda
    // variable is evaluated once), so neither the fold nor the norm is
    // re-evaluated when referenced twice — CollapseProject would otherwise
    // inline a withColumn chain and recompute the O(dim·tokens) fold per
    // reference
    val zero = transform(sequence(lit(0), lit(dim - 1)), _ => lit(0L))
    val raw = aggregate(info, zero, (acc, ti) =>
      transform(acc, (x, j) =>
        x + when(j.cast(LongType) === ti.getField("b"), ti.getField("s")).otherwise(lit(0L))))
    val emb = element_at(transform(array(raw), r =>
      element_at(transform(
        array(sqrt(aggregate(r, lit(0.0), (a, x) => a + x * x))), n =>
          when(n > 0, transform(r, x => x.cast(DoubleType) / n))
            .otherwise(transform(r, x => x.cast(DoubleType)))), lit(1))), lit(1))
    df.withColumn(out, emb)
  }

  // --------------------------------------------- heuristic quality filters

  /** C4-style document quality signals + keep flag (Raffel et al. 2020,
    * "Exploring the Limits of Transfer Learning…", §2.2 — the public C4
    * cleaning heuristics, evaluated at the document level): sentence count
    * (terminal-punctuation marks), line counts, the fraction of lines that
    * end in terminal punctuation, and the page-level disqualifiers (the
    * placeholder phrase "lorem ipsum", curly braces — code —, and
    * "javascript" boilerplate warnings). keep ⇔ ≥ `minSentences` sentences,
    * ≥ `minWords` words, no disqualifier. Every signal is a codegen column
    * expression on the row alone — no shuffle, no UDF; at 100 TB this is a
    * map-only pass that fuses into whatever scan precedes it. */
  def c4QualityFilter(df: DataFrame, textCol: String,
                      minSentences: Int = 3, minWords: Int = 5): DataFrame = {
    val t = col(textCol)
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val terminal = filter(lines, l => trim(l).rlike("[.!?\"]$"))
    val words = filter(split(trim(t), "[ \\t\\n\\r\\f]+"), w => length(w) > 0)
    val lower_t = lower(t)
    df.withColumn("n_words", size(words).cast(LongType))
      .withColumn("n_sentences",
        (length(t) - length(regexp_replace(t, "[.!?]", ""))).cast(LongType))
      .withColumn("n_lines", size(lines).cast(LongType))
      .withColumn("terminal_line_ratio",
        when(size(lines) > 0,
          size(terminal).cast(DoubleType) / size(lines)).otherwise(0.0))
      .withColumn("has_lorem_ipsum", lower_t.contains("lorem ipsum"))
      .withColumn("has_brace", t.contains("{"))
      .withColumn("has_javascript", lower_t.contains("javascript"))
      .withColumn("c4_keep",
        col("n_sentences") >= minSentences && col("n_words") >= minWords &&
          !col("has_lorem_ipsum") && !col("has_brace") && !col("has_javascript"))
  }

  /** Gopher-style document quality signals + keep flag (Rae et al. 2021,
    * "Scaling Language Models: … Gopher", Table A1 — the public repetition-
    * free quality rules): word count bounds, mean word length bounds,
    * symbol-to-word ratio (# and … as symbols), bullet-line and
    * ellipsis-line fractions, the fraction of words containing ≥1 alphabetic
    * character, and a stop-word requirement. Same scale shape as
    * [[c4QualityFilter]]: pure codegen, map-only. */
  def gopherQualityFilter(df: DataFrame, textCol: String,
                          minWords: Int = 50, maxWords: Int = 100000,
                          minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                          maxSymbolRatio: Double = 0.1,
                          maxBulletLineRatio: Double = 0.9,
                          maxEllipsisLineRatio: Double = 0.3,
                          minAlphaWordRatio: Double = 0.8,
                          minStopwordHits: Int = 2): DataFrame = {
    val t = col(textCol)
    val words = filter(split(trim(t), "[ \\t\\n\\r\\f]+"), w => length(w) > 0)
    val lines = filter(split(t, "\n"), l => length(trim(l)) > 0)
    val nWords = size(words)
    val stopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = stopwords.map(w =>
      when(concat(lit(" "), lower(t), lit(" ")).contains(s" $w "), 1).otherwise(0))
      .reduce(_ + _)
    df.withColumn("n_words", nWords.cast(LongType))
      .withColumn("mean_word_len",
        when(nWords > 0, aggregate(words, lit(0L), (a, w) => a + length(w))
          .cast(DoubleType) / nWords).otherwise(0.0))
      .withColumn("symbol_word_ratio",
        when(nWords > 0,
          (length(t) - length(regexp_replace(t, "[#…]", ""))).cast(DoubleType) / nWords)
          .otherwise(0.0))
      .withColumn("bullet_line_ratio",
        when(size(lines) > 0,
          size(filter(lines, l => trim(l).rlike("^[-*•]"))).cast(DoubleType) / size(lines))
          .otherwise(0.0))
      .withColumn("ellipsis_line_ratio",
        when(size(lines) > 0,
          size(filter(lines, l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast(DoubleType) / size(lines))
          .otherwise(0.0))
      .withColumn("alpha_word_ratio",
        when(nWords > 0,
          size(filter(words, w => w.rlike("[A-Za-z]"))).cast(DoubleType) / nWords)
          .otherwise(0.0))
      .withColumn("stopword_hits", stopHits.cast(LongType))
      .withColumn("gopher_keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen &&
          col("symbol_word_ratio") <= maxSymbolRatio &&
          col("bullet_line_ratio") <= maxBulletLineRatio &&
          col("ellipsis_line_ratio") <= maxEllipsisLineRatio &&
          col("alpha_word_ratio") >= minAlphaWordRatio &&
          col("stopword_hits") >= minStopwordHits)
  }

  /** Partial-overlap decontamination: for every corpus document, the MAX
    * n-gram-SET Jaccard similarity against any benchmark document, plus a
    * keep flag. [[contaminatedIds]] flags only verbatim window hits; this
    * catches paraphrase-shaped leakage — an eval item whose windows are
    * scattered through a training document still accumulates set overlap
    * even when no single 13-gram survives verbatim-threshold triage. The
    * measure is EXACT (gram-hash join + text confirm, no LSH), so the
    * result is deterministic and oracle-replayable.
    *
    * Output: (id, n_grams, max_jaccard, jaccard_keep) — one row per corpus
    * document; documents shorter than `n` tokens carry no windows and score
    * 0.0. keep ⇔ max_jaccard < threshold.
    *
    * Scale shape: each document's distinct gram SET is built map-side
    * (`array_distinct` on the row's own windows) and its size rides along
    * with the exploded gram rows, so the corpus side needs NO distinct
    * shuffle and NO size aggregate — corpus text never crosses an exchange.
    * The benchmark side is eval-set sized (AQE broadcasts it), so the
    * corpus-sized side joins map-side; the only corpus-keyed shuffles carry
    * (corpus id, bench id, count) triples — actual overlaps plus one
    * partial-aggregated size row per document. No m² blowup: a corpus gram
    * matching b benchmark docs contributes b rows, and b is bounded by the
    * eval set. */
  def jaccardContamination(corpus: DataFrame, benchmarks: DataFrame,
                           corpusIdCol: String, benchIdCol: String,
                           textCol: String, n: Int = 13,
                           threshold: Double = 0.8): DataFrame = {
    require(n > 0, s"n-gram size must be positive, got $n")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // (id, per-doc distinct gram-set size, one row per gram) — all
    // map-side, built by the native one-pass WordGrams expression (distinct
    // mode). The explode is OUTER: the optimizer guards a plain explode of
    // the named `_grams` with an inferred `size(_grams) > 0` filter pushed
    // below the projection, which would build every doc's grams twice. A
    // short doc's empty set gives one null gram row, dropped here.
    def gramRows(df: DataFrame, id: Column): DataFrame =
      df.select(id.as("_gid"), wordGramsCol(col(textCol), n, distinct = true).as("_grams"))
        .select(col("_gid"), size(col("_grams")).cast(LongType).as("_ng"),
          explode_outer(col("_grams")).as("_gram"))
        .filter(col("_gram").isNotNull)
    val corpusGrams = gramRows(corpus, col(corpusIdCol))
      .select(col("_gid").as("_cid"), col("_ng").as("_na"),
        xxhash64(col("_gram")).as("_gh"), col("_gram"))
    val benchGrams = gramRows(benchmarks, col(benchIdCol))
      .select(col("_gid").as("_bid"), col("_ng").as("_nb"),
        xxhash64(col("_gram")).as("_gh"), col("_gram").as("_bgram"))
    // LEFT join so every corpus doc's gram rows survive: unmatched grams
    // land in a (_cid, NULL) group that contributes only the doc's gram-set
    // size — the expensive map-side pass (tokenize, gram windows,
    // array_distinct) runs exactly ONCE over the corpus instead of a
    // second full invocation just to recover per-doc sizes
    val best = corpusGrams
      .join(benchGrams, corpusGrams("_gh") === benchGrams("_gh") &&
        corpusGrams("_gram") === benchGrams("_bgram"), "left")
      .groupBy(col("_cid"), col("_bid"))
      .agg(count(col("_bgram")).as("_inter"), max(col("_na")).as("_na"),
        max(col("_nb")).as("_nb"))
      .withColumn("_j", when(col("_bid").isNotNull,
        col("_inter").cast(DoubleType) /
          (col("_na") + col("_nb") - col("_inter"))))
      .groupBy(col("_cid"))
      .agg(max(col("_j")).as("max_jaccard"), max(col("_na")).as("_na"))
    corpus.select(col(corpusIdCol))
      .join(best.withColumnRenamed("_cid", corpusIdCol), Seq(corpusIdCol), "left")
      .select(col(corpusIdCol),
        coalesce(col("_na"), lit(0L)).as("n_grams"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
      .withColumn("jaccard_keep", col("max_jaccard") < threshold)
  }

  /** HTML/markup stripping — the extraction step between a raw web crawl
    * and every text-level curation op in this file (the public pipelines —
    * C4, CCNet, RefinedWeb — all begin with a tag-strip/extract pass).
    * Removes script/style/comment blocks wholesale (their CONTENT is code,
    * not prose), turns block-level boundaries into newlines so downstream
    * line-based signals ([[c4QualityFilter]]'s terminal-line ratio,
    * [[removeBoilerplateLines]]) see the page's visual line structure,
    * strips all remaining tags, decodes the six named entities HTML
    * guarantees (&amp; &lt; &gt; &quot; &#39; &nbsp;), and collapses
    * horizontal whitespace runs. Entity decode runs AFTER tag strip, so
    * `&lt;script&gt;` in running text cannot smuggle a tag past removal.
    *
    * Every step is a codegen `regexp_replace` on the row alone — map-only,
    * no shuffle, no UDF; the patterns avoid backreferences/lookaround so
    * any RE2-class engine (and the DuckDB oracle) evaluates them
    * identically. At 100 TB this fuses into the scan that reads the crawl. */
  def htmlStrip(df: DataFrame, textCol: String, out: String = "text_plain"): DataFrame = {
    val noScript = regexp_replace(col(textCol), "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blockNl = regexp_replace(noComment,
      "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)[^>]*>", "\n")
    val noTag = regexp_replace(blockNl, "<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTag) { case (c, (e, r)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(e),
        java.util.regex.Matcher.quoteReplacement(r))
    }
    val collapsed = regexp_replace(decoded, "[ \\t\\f]+", " ")
    val trimmedLines = regexp_replace(regexp_replace(collapsed,
      "(?m)^ +", ""), "(?m) +$", "")
    df.withColumn(out, trim(regexp_replace(trimmedLines, "\\n{2,}", "\n"), " \n"))
  }
}
