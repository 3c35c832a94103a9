package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dumps the formatted physical plan of each benchmark-headline query to
  * PLANS.md — the scale audit trail: broadcast sides, shuffle keys, pushed
  * filters, read schemas, and whole-stage-codegen spans are all visible in
  * one file without re-running anything.
  *
  * Usage: runMain graft.PlanDump [sfDir] [outFile]
  */
object PlanDump {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val names = Seq(
      "q1_pricing_summary", "q3_segment_revenue", "ann_topk", "ann_ivf_topk",
      "dedup_minhash_pairs", "dedup_exact", "dedup_jaccard_exact",
      "fc_seasonal_naive", "ts_stats_by", "ts_backtest_snaive",
      "ts_fill_gaps_by", "ts_features_by",
      "sample_bernoulli", "doc_chunks", "pack_sequences", "decontaminate",
      "semdedup_pairs", "knn_graph", "boilerplate_strip", "top_tokens",
      "mix_token_budget",
      // round-6 additions
      "dedup_spans", "lm_unigram_score", "dedup_against_corpus",
      "quality_c4", "quality_gopher", "shard_deterministic",
      "text_hash_embed", "url_canonicalize",
      // batch 19: linear quality gate, partial-overlap decon, markup strip
      "classifier_nb_score", "decontaminate_jaccard", "html_strip",
      // batch 21: target-aware selection + lexical retrieval
      "dsir_weights", "bm25_topk", "unimax_select",
      // batch 22: exact quantile gates + distributed ranking
      "top_fraction_score", "exact_rank_score", "quantile_buckets_chars",
      // batch 23: corpus accounting
      "blocklist_flag", "corpus_report",
      // round-7 steady-state model paths + round-8 composition
      "lm_bigram_score", "bigram_broadcast_score", "bpe_encode_fast",
      "lm_model_score", "nb_model_score", "curate_pipeline_e2e",
      // round-9: the Bloom exact-dedup gate (build + persisted steady state)
      "dedup_bloom_gate", "bloom_model_score",
      // round-9: PQ compressed-domain ANN + corpus versioning
      "ann_pq_topk", "ann_pq_index_topk", "ann_ivfpq_index_topk", "corpus_diff",
      "dedup_paragraphs", "mm_phash_dedup",
      // round-9: frequent-items sketch (vocabulary-independent top-k) +
      // KLL quantile sketch (sort-free score distributions)
      "top_tokens_sketch", "score_quantiles_sketch",
      // round-9: training-set construction (leakage-safe split, hard
      // negatives, cluster-balanced sampling)
      "split_leakage_safe", "mine_hard_negatives", "cluster_balanced_sample",
      // round-9: event-timeline ops (join-free as-of, gap sessionization)
      "ts_asof_join", "sessionize", "session_stats",
      // round-9: HLL cardinality sketch (distinct counts without a
      // distinct-keyed exchange)
      "hll_user_days_by_type",
      // round-9: weighted k-sample (A-ES draw, bounded top-k aggregate)
      "sample_weighted_k_by",
      // round-9: edit-distance record linkage (q-gram blocking + banded verify)
      "fuzzy_join_pairs",
      // round-9: event-analytics rollups (ordered funnel, cohort retention)
      "funnel_users", "retention_cohorts",
      // round-9: interval-overlap join (bucketed containment, never a
      // nested loop)
      "interval_join_attrib",
      // round-9: hybrid lexical+dense retrieval (RRF fusion)
      "hybrid_rrf_topk",
      // round-9: per-group percentile calibration (CDF over the
      // distinct-score rollup, never a corpus window)
      "score_percentile_by_group",
      // round-9: MMR diversity rerank (bounded per-query greedy)
      "mmr_rerank",
      // round-9: Count-Min point-frequency sketch (vocabulary-independent
      // counters, the HLL shuffle discipline applied to frequencies)
      "cm_token_freq",
      // round-9: Z-order write layout (multi-dimensional data skipping)
      "zorder_values",
      // round-9: TF-IDF keywords with CM-approximated document frequency
      "tfidf_keywords",
      // round-9: span-level decontamination (broadcast benchmark grams)
      "decontaminate_spans",
      // round-9: cross-corpus similarity join (IVF-bucketed threshold pairs)
      "similarity_join",
      // round-9: scaled-long PageRank over the kNN graph
      "pagerank_knn")
    SparkEntry.requireKnown(names)
    val sb = new StringBuilder
    sb.append("# Physical plans (sf0.01, local[" + cpus + "], AQE on)\n\n")
    sb.append("Generated by `runMain graft.PlanDump` — re-run after any operator change.\n")
    // per-query reading notes for plan shapes that look wrong pre-execution
    val notes = Map(
      "hll_user_days_by_type" -> ("NOTE: the cardinality-sketch path — " +
        "compare with count(distinct), whose exchange cardinality IS the " +
        "answer (every unique key shuffles). Here the scan reads only the " +
        "entity inputs, the partial hll_registers ObjectHashAggregate " +
        "folds each partition into 2^p bytes map-side, one register " +
        "buffer per (partition, group) crosses the group-keyed exchange, " +
        "and the estimate is a bounded fold over ONE register row per " +
        "group (PlanGuardSpec pins no-entity-crosses-exchange)."),
      "sample_weighted_k_by" -> ("NOTE: weighted sampling without " +
        "replacement as one bounded aggregation — the A-ES key is a " +
        "map-side codegen projection (mixer + ln), selection is the " +
        "2k+1-buffer TopKByScore partial/final pair keyed on the bounded " +
        "group column. No window, no corpus sort, no rank exchange — the " +
        "alternatives (row_number over a global sort, or orderBy+limit " +
        "per group) shuffle the corpus by score."),
      "fuzzy_join_pairs" -> ("NOTE: approximate string join without a " +
        "cartesian — Ed-Join prefix filtering (each string joins only " +
        "the positional copies of its d*q+1 RAREST gram values under " +
        "the global (df, hash) order, so hot template grams never join) " +
        "keyed on the (gramHash, positionBand) PAIR (the band is " +
        "simultaneously the position filter and a position salt), and a " +
        "bounded exploded-length-key pool for gram-unprunable short " +
        "strings. The gram frequency is a window count over gh and the " +
        "prefix a dense-rank window over id, both on the gram stream, " +
        "which carries the string: the banded-Levenshtein verify runs " +
        "inside the band join and nothing is joined back on id. The " +
        "windows run in the pinned prefix's own query (the Scan " +
        "ExistingRDD leaves); they and both band-join sides read " +
        "REPARTITION_BY_NUM exchanges, which AQE never coalesces onto one " +
        "task (ops.CpuBound). No " +
        "nested-loop join exists in the plan (PlanGuardSpec pins it; the " +
        "A/B vs the quadratic scan was measured with the retired probe " +
        "harness, last present at 65f6bcd)."),
      "pagerank_knn" -> ("NOTE: the canonical distributed PageRank in " +
        "SCALED-LONG arithmetic — rank mass is an integer in 1e-12 " +
        "units, every update is integer multiply/divide/sum, so the " +
        "result is bit-identical across engines, partitionings, and " +
        "summation orders (no float until the display column; the " +
        "oracle replays all 10 iterations exactly, not approximately). " +
        "Each iteration is one slim edge-to-rank equi join plus one " +
        "destination-keyed map-side-combined sum; each iterate pins so " +
        "lineage stays O(1) (the ivfTrain discipline); node count rides " +
        "one broadcast row."),
      "similarity_join" -> ("NOTE: the all-pairs-above-threshold join " +
        "between TWO corpora (corpus alignment / candidate pairing; " +
        "semdedup is the within-corpus special case) — A assigns to its " +
        "nearest centroid, B probes nProbe lists, the join is EQUI on " +
        "centroid_id and each qualifying pair meets at most once (one " +
        "assignment vs distinct probes — no dedup stage). Per-list cost " +
        "is |A_list| x |B probes into it|, never |A| x |B|; bucketing " +
        "either stored corpus by centroid_id makes its exchange vanish " +
        "(the semdedup discipline). nProbe = nLists reproduces the exact " +
        "brute-force threshold join (IvfSpec pins the identity)."),
      "decontaminate_spans" -> ("NOTE: surgical decontamination — the " +
        "eval-set gram table broadcasts, so window matching is map-side " +
        "with NO gram-keyed exchange (the dedup-spans sibling must " +
        "shuffle every corpus gram hash; here only the benchmark side's " +
        "eval-set-sized distinct shuffles). Gram text is confirmed " +
        "inside the broadcast join so a hash collision cannot scrub an " +
        "innocent span; the covered-position rollup ships slim (id, idx) " +
        "rows and the rebuild joins them back on the document id — the " +
        "one text-carrying exchange (PlanGuardSpec pins one broadcast + " +
        "corpus grams never shuffle)."),
      "tfidf_keywords" -> ("NOTE: keyword salience without the IDF " +
        "table — exact document frequencies are a vocabulary-keyed " +
        "groupBy (the 10^8-type exchange); here the CM sketch of " +
        "(doc, term) incidences broadcasts as d*w longs, df_est >= df " +
        "only damps rare-term scores, and the corpus touches two " +
        "map-side passes off one native TokenTfEntries projection. The " +
        "only corpus exchange is the per-doc rank window's id-keyed " +
        "shuffle of slim (id, term, tf) rows — partitions bounded by a " +
        "document's distinct terms."),
      "zorder_values" -> ("NOTE: the write-layout primitive — the Morton " +
        "value is a pure codegen bit projection over the streamed scan " +
        "plus ONE broadcast one-row min/max aggregate; no sort, no " +
        "window, no driver action. The layout write adds the one shuffle " +
        "it IS (repartitionByRange(zvalue) + in-partition sort), after " +
        "which each parquet file covers a disjoint z-range and its " +
        "per-column row-group min/max stats prune MULTI-dimensional " +
        "predicates — the scan-side payoff every other operator " +
        "inherits at 100 TB (LayoutOpsSpec pins textbook Morton order " +
        "and end-to-end file-range disjointness)."),
      "cm_token_freq" -> ("NOTE: point frequencies without a vocabulary-" +
        "keyed exchange — exact per-token counts shuffle the vocabulary " +
        "(10^8+ types on raw web text); here the text rolling-hashes in " +
        "one native pass per document, every partition folds its " +
        "occurrences into the d*w-long counter buffer map-side, ONE " +
        "buffer per partition crosses the single exchange, and each " +
        "probe's estimate is a bounded in-row min over its d counters " +
        "against the broadcast sketch row. Merge of sharded sketches is " +
        "an elementwise sum - counter-identical to the single pass " +
        "(PlanGuardSpec pins no-token-crosses-exchange; CmSketchSpec " +
        "pins mixer parity and the linearity identity)."),
      "mmr_rerank" -> ("NOTE: the MMR greedy is inherently sequential per " +
        "query (each pick changes the next argmax), so the plan keeps it " +
        "OFF the corpus: the candidate generator's bounded output joins " +
        "the vector table on candidate ids only (slim equi join — the " +
        "corpus never moves), each query's candidates gather into ONE " +
        "bounded in-row list, and the O(k·kCand·dim) greedy runs inside " +
        "one projection per QUERY row. The per-query UDF is " +
        "|Q|-proportional, not corpus-proportional — the one place a UDF " +
        "beats a codegen expression (it executes once per query; " +
        "mmrGreedy is the executable spec the DuckDB recursive-CTE " +
        "oracle replays)."),
      "score_percentile_by_group" -> ("NOTE: per-group cume_dist without " +
        "a corpus window — the corpus aggregates to DISTINCT (group, " +
        "rounded-score) rows (map-side combined), the CDF running-sum and " +
        "group-total windows run over that bounded rollup, and each row " +
        "fetches its percentile through an equi join on (group, score) " +
        "carrying only (id, group, score). The naive window-per-group " +
        "plan sorts the corpus inside each hot domain's single partition; " +
        "here the corpus-sized stages are one aggregate and one slim " +
        "join (PlanGuardSpec pins aggregate-below-window and that the " +
        "text column prunes out of every scan)."),
      "hybrid_rrf_topk" -> ("NOTE: hybrid retrieval = two bounded " +
        "candidate lists fused driver-free — the BM25 list enters as its " +
        "|Q|xkCand pin (the corpus-scan machinery and its broadcasts are " +
        "behind it, guarded by the bm25 pins), the dense list is the " +
        "broadcast-query brute-force scan + a qid-partitioned rank " +
        "window over kCand rows per query, and the fusion is a (qid, " +
        "doc)-keyed full-outer join of the two lists + one more bounded " +
        "qid window. Every post-candidate stage is |Q|-proportional; the " +
        "corpus appears exactly twice, both times as a streamed scan " +
        "(PlanGuardSpec pins the broadcast direction and that every " +
        "window carries a partition spec)."),
      "interval_join_attrib" -> ("NOTE: the range-containment join as an " +
        "EQUI join — a point owns one timeline bucket, an interval emits " +
        "one row per covered bucket, the join keys on (entity, bucket) " +
        "and the exact closed-bound containment rides as a post-filter; " +
        "each qualifying pair meets in exactly the point's bucket, so " +
        "there is no dedup stage. The raw BETWEEN predicate would plan " +
        "as a nested loop (PlanGuardSpec pins its absence; bucket width " +
        "is the caller's span-knowledge knob)."),
      "funnel_users" -> ("NOTE: the ordered funnel as m slim entity-keyed " +
        "aggregations — each step is a map-side-combined min(ts) over the " +
        "step-filtered events joined to the previous anchor; every " +
        "exchange carries one row per CONVERTING entity, never the event " +
        "log, and no per-entity event array is ever materialized " +
        "(PlanGuardSpec pins no-collect_list)."),
      "retention_cohorts" -> ("NOTE: cohort retention as two " +
        "aggregations — distinct entity-days, per-entity min day — plus " +
        "one slim entity-keyed join; shuffle bounded by active " +
        "entity-days. No window anywhere (PlanGuardSpec pin)."),
      "ts_asof_join" -> ("NOTE: the join-free as-of shape — NO join " +
        "operator anywhere in the plan: both timelines union, ONE hash " +
        "exchange on the entity key feeds a sort + a single running-last " +
        "window (O(1) frame), and the left rows project their matched " +
        "payload out of the window state. The naive alternative (per-key " +
        "range join) is O(|L|x|R|) per key; this is shuffle(|L|+|R|) slim " +
        "rows + one linear pass (PlanGuardSpec pins zero-join/one-" +
        "exchange)."),
      "sessionize" -> ("NOTE: one hash exchange on the entity key; the lag " +
        "boundary flag and the running-sum session number share the same " +
        "partitioning+ordering so Catalyst plans both windows without a " +
        "second exchange or sort (PlanGuardSpec pins the single-exchange " +
        "shape)."),
      "session_stats" -> ("NOTE: the native merging session_window " +
        "aggregation — partial-agg friendly and the same call is the " +
        "streaming path (watermark + session_window on readStream). " +
        "Boundaries are pinned identical to the per-event sessionize " +
        "labels in EventOpsSpec."),
      "score_quantiles_sketch" -> ("NOTE: the quantile-sketch path — " +
        "compare with top_fraction_score / exact_rank_score, whose exact " +
        "machinery runs a bit-bucket histogram plus a boundary-refinement " +
        "window over the corpus. Here the scan reads only the score " +
        "inputs, the partial kll_quantile_sketch ObjectHashAggregate " +
        "consumes the corpus map-side, ONE bounded serialized buffer per " +
        "partition (binary `buf`) crosses the SinglePartition merge " +
        "exchange, and the per-q values come from a bounded summary walk " +
        "(a UDF over ONE row per group — streaming-composable, no window, " +
        "no corpus sort; PlanGuardSpec pins the shape)."),
      "top_tokens_sketch" -> ("NOTE: the frequent-items sketch path — " +
        "compare with top_tokens, whose exchange cardinality is the " +
        "VOCABULARY (explode -> hash aggregate keyed on the token). Here " +
        "the scan reads only `text`, the partial " +
        "space_saving_top_k ObjectHashAggregate consumes the corpus " +
        "map-side, and the single exchange ships ONE bounded serialized " +
        "buffer per partition (binary `buf`, no string column) to a " +
        "SinglePartition final merge; rank comes from the sketch's sorted " +
        "output via posexplode, never a window sort (PlanGuardSpec pins " +
        "the shape)."),
      "ts_backtest_snaive" -> ("NOTE: the output plan reads the PINNED " +
        "compact kernel output (a LogicalRDD leaf) and carries NO exchange " +
        "and NO join: fold scores were computed from the compact rows' " +
        "partial sums during the pass that materialized the pin, collected " +
        "(<=nFolds rows, bounded) and stamped on as a literal CASE " +
        "(TsCvOp.scala compactFoldScores; PlanGuardSpec)."),
      "dedup_against_corpus" -> ("NOTE: the plan is an anti-join against a " +
        "pinned drop-set (LogicalRDD): candidate generation and verification " +
        "ran inside the pin builds — banded tables carry (id, band, bucket) " +
        "only and verification joins 64-bit shingle-hash sets, so document " +
        "text never crosses an exchange in any of those stages."),
      "dedup_minhash_pairs" -> ("NOTE: round-8 shape — candidate generation " +
        "is ONE corpus-sided aggregation: the native bounded_id_set " +
        "aggregate folds the per-bucket skew cap into its buffer (an " +
        "over-cap bucket stops retaining ids and evaluates empty), so the " +
        "plan shows banded rows -> hash aggregate on (band, bucket) -> " +
        "generate pairs -> distinct, with NO join and NO pinned " +
        "intermediate. The verify stage joins 64-bit shingle-hash sets and " +
        "computes jaccard through the one-pass hash_intersect_count."),
      "lm_bigram_score" -> ("NOTE: read for the broadcast-model contract. " +
        "This row trains AND scores: the token-keyed exchanges all sit " +
        "inside the FIT side's bounded count aggregations (top-V/top-B " +
        "TakeOrdered cuts). The SCORING path (r10) is ONE map-only project " +
        "over the scan — the bounded model tables collect into broadcast " +
        "lookup maps and each document scores in place through the " +
        "scaled-long scorer: no join, no explode, no per-doc aggregation " +
        "exchange (PlanGuardSpec pins map-only; the broadcast-join DECIMAL-" +
        "sum form survives as bigramScoreWithModelJoins, the executable " +
        "specification, with bit-parity pinned in QualityCurationSpec)."),
      "bigram_broadcast_score" -> ("NOTE: the streaming twin — the model " +
        "collected into broadcast lookup maps, so the plan is ONE map-only " +
        "project over the scan (a scalar UDF carrying the maps): no join, " +
        "no exchange, stateless per micro-batch."),
      "bpe_encode_fast" -> ("NOTE: the merge list rides as a pair->rank " +
        "reference object inside one native expression, so the plan is a " +
        "single project over the scan whose SIZE is independent of the " +
        "vocabulary (the replay form stacks numMerges regex replaces " +
        "instead — compare bpe_encode)."),
      "lm_model_score" -> ("NOTE: the persisted-model path: scoring reads " +
        "the bounded model table from parquet and broadcast-joins it — " +
        "same shape as the in-memory row, the scan source is the only " +
        "difference."),
      "nb_model_score" -> ("NOTE: persisted NB model loaded from parquet " +
        "into the broadcast scorer — map-only project over the corpus " +
        "scan, no exchange (the trained-gate steady state)."),
      "curate_pipeline_e2e" -> ("NOTE: the composed ingest pipeline. " +
        "Reading order: all gates (strip/normalize/C4/Gopher/NB/DSIR/" +
        "bigram) are map-side — broadcast joins against bounded model " +
        "tables at most — and the only corpus-keyed exchange feeds the " +
        "final first-per-fingerprint window, partitioned by xxhash64(text) " +
        "so each sort partition is one duplicate clique."),
      "dedup_bloom_gate" -> ("NOTE: the scoring side is a pure map-only " +
        "project — the bit array rides as a plan reference object inside " +
        "the native bloom_contains expression, so there is NO join and NO " +
        "exchange anywhere in the scored output (the build aggregation ran " +
        "eagerly at model-construction time; its one exchange carried " +
        "fixed-size partial word arrays, never text). Identical shape in " +
        "streaming."),
      "bloom_model_score" -> ("NOTE: the persisted steady state — same " +
        "map-only scoring plan as dedup_bloom_gate; the model was loaded " +
        "from the versioned parquet layout instead of built in-session."),
      "ann_pq_topk" -> ("NOTE: compressed-domain search. The corpus side " +
        "is scan -> native pq_encode_vector projection (codebooks ride as " +
        "a reference object); the query side computes its LUT once and " +
        "BROADCASTS; scoring is the codegen pq_adc_dot (m lookups/pair) " +
        "and the only hash exchange carries qid-keyed bounded top-k " +
        "partials. No vector column crosses any exchange; at 100 TB the " +
        "steady state scans the m-int code table, not the dim-double " +
        "embeddings (see ann_pq_index_topk)."),
      "ann_pq_index_topk" -> ("NOTE: the persisted steady state — the scan " +
        "leaf is the slim (vid, codes) parquet written once per corpus " +
        "version; queries never touch the original embedding table."),
      "ann_ivfpq_index_topk" -> ("NOTE: the composed FAISS-IVFADC shape — " +
        "the code scan's PartitionFilters carry the probed-centroid isin " +
        "(reads nProbe/nLists of the code table from storage), the probe " +
        "side (qid, centroid_id, LUT) broadcasts, and scoring is the same " +
        "codegen pq_adc_dot. This dump probes exhaustively (nProbe = " +
        "nLists) because that is the oracle-replay mode; production sets " +
        "nProbe << nLists and the same plan shows the pruned scan."),
      "corpus_diff" -> ("NOTE: both corpus versions reduce map-side to " +
        "(id, null-flag, xxhash64) before the single id-keyed full-outer " +
        "SortMergeJoin; the unchanged bulk is filtered before leaving the " +
        "join, and document text never appears in any exchange."),
      "dedup_paragraphs" -> ("NOTE: the spans-dedup shape at paragraph " +
        "granularity — exploded paragraph text dies map-side (xxhash64 on " +
        "the generate output; only (id, pos, hash) reaches the keep-first " +
        "aggregation), the per-doc drop-set joins back as a slim sorted " +
        "position array, and the rebuild filters positions in place with " +
        "a binary-search membership probe."))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val note = notes.get(name).map(n => s"\n$n\n").getOrElse("")
      sb.append(s"\n## $name\n$note\n```\n$formatted```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plandump] wrote ${names.size} plans to $outFile")
    spark.stop()
  }
}
