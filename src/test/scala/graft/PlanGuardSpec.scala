package graft

import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType, StructType}

/** Regression guards over the ENTIRE driver surface:
  *
  *  - no query plans a BroadcastNestedLoopJoin / CartesianProduct unless it
  *    is one of the intentional broadcast-small-side scoring cross joins
  *    (ANN / embedding pairs / multimodal features);
  *  - every ORACLE-CHECKED query emits only atomic columns — the driver's
  *    comparator orders rows with pandas, which cannot sort array/struct
  *    cells (the round-1 etl_receipts_nested failure mode);
  *  - the library ships no dev harness: the only mains are the driver
  *    entry points;
  *  - `graft.sources.Tables` is the one reader of the table layout: no
  *    other source file opens a file stream, names a table's file or
  *    converts the events' nanosecond `ts`.
  */
class PlanGuardSpec extends SparkSpec {

  /** Budgets are calibrated against the COLD shared-cache state: an
    * un-executed CachedView prints `isFinalPlan=false` nested plans,
    * while a MATERIALIZED one prints the AQE-finalized cached plan with
    * one extra Exchange line — so `testOnly SinksSpec PlanGuardSpec`
    * (which warms the etl views) used to breach the three etl_receipts*
    * budgets by one (the round-9 documented wart). Pin the calibrated
    * state deterministically by invalidating the shared views HERE,
    * instead of inheriting whatever earlier suites left behind — the
    * guard is now order-independent. */
  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.etl.InvoiceView.invalidate(spark)
    graft.etl.Receipts.invalidate(spark)
  }

  // stream_* execute their query on construction; the batch plans are what
  // this guard is about
  private def batchQueries = SparkEntry.queries.filterNot(_._1.startsWith("stream"))

  private val crossJoinByDesign = Set(
    "ann_brute_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_pq_topk",
    "ann_ivfpq_topk", "diverse_topk_multi",
    "dedup_embedding", "multimodal_similar", "embed_stats",
    // 1-row min/max stats frame broadcast onto the scan (bounded by design)
    "zorder_layout", "value_histogram",
    // two 1-row aggregate sides joined (bounded by design)
    "distinct_incremental",
    // O(segments)² pair join over the O(segments·k) KMV sketch board
    "distinct_theta_ops",
    // 1-row min/max stats frame broadcast onto the scan (bounded by design)
    "hilbert_layout",
    // 1-row stats frame broadcast onto the O(files) audit rollup
    "zorder_prune", "hilbert_prune", "footer_prune", "footer_prune_hilbert",
    "footer_prune3", "footer_prune3_hilbert",
    // both audits' 1-row box frames inside one board
    "layout_compare", "layout_compare3",
    // 1-row min/max stats frame broadcast onto the scan (3-D/4-D keys)
    "zorder3_layout", "hilbert3_layout", "hilbert4_layout",
    // 1-row totals frame broadcast onto the O(lists) occupancy rollup
    "ann_ivf_stats",
    // 1-row mean-weight stats frame broadcast onto the edge list
    "triangle_count",
    // C6's broadcast-anchor scoring cross join feeding the RRF fusion
    "hybrid_search",
    // 4-row targets frame broadcast onto the O(buckets) board
    "quantile_sketch",
    // 1-row corpus-total frame broadcast onto the O(k) cluster masses
    "cluster_sample",
    // 1-row corpus-count frame broadcast onto the 5-row family board
    "dedup_compare",
    // same board, plus the 1-row SLICE-count frame on the sampled C4 row
    "dedup_compare_sampled",
    // 1-row tercile-thresholds frame broadcast onto the scored stream
    "ppl_band_select",
    // 1-row max-ts anchor frame broadcast onto the O(users) rollup
    "rfm_segments",
    // 1-row n_baskets frame broadcast onto the O(frequent pairs) table
    "basket_pairs",
    // two 1-row summary frames (totals, marginal product) broadcast onto
    // the O(langs²) confusion board
    "langid_agreement",
    // 1-row (n, c1..c9, chi2) frame broadcast onto the 9-row digit board
    "benford_audit")

  test("no unintended nested-loop or cartesian joins anywhere") {
    val offenders = batchQueries.keys.toSeq.sorted
      .filterNot(crossJoinByDesign)
      .flatMap { name =>
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.toString
        if (plan.contains("BroadcastNestedLoopJoin") ||
          plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty, s"nested-loop plans in: $offenders")
  }

  /** Documented shuffle budgets (operator scaladocs in Ops/EtlQueries/
    * OlapB) pinned as plan assertions: a future edit that introduces an
    * extra exchange — the unit of cost that survives a 100× scale-up —
    * fails HERE, not in a bench regression three rounds later. Counts
    * include the gate ORDER BY's range partitioning; `curate_pipeline` is
    * excluded because its connected-components tail executes eagerly and
    * checkpoints away its upstream exchanges. */
  private val shuffleBudget = Map(
    "q1_agg" -> 2, // partial+final agg exchange, gate sort
    "q3_topk" -> 1, // broadcast dims; TakeOrderedAndProject needs no sort exchange
    "q5_multijoin" -> 2, // one fact-fact shuffle + agg exchange (dims broadcast)
    "etl_receipts" -> 2, // ONE invoice-key agg exchange + gate sort
    "etl_receipts_nested" -> 2, // shares the receiptsBase aggregation
    "etl_webhook_json" -> 2, // shares the receiptsBase aggregation
    "etl_prices" -> 1, // pure map over cached inv + gate sort
    "dedup_exact" -> 2, // content-hash agg + gate sort
    "dedup_minhash_lsh" -> 3, // spread repartition, band-tuple join, gate sort
    "dedup_simhash" -> 2, // band-bucket join + gate sort (sketch map-side)
    "dedup_ngram_jaccard" -> 3, // shingle join + pair agg + gate sort (fresh build; the shared CachedView hides these once materialized)
    "json_extract" -> 3,
    "events_sessionize" -> 2, // ONE user-key window exchange + gate sort
    "range_join" -> 3, // bucket equi-join + session agg + gate sort
    "window_rank" -> 2,
    "ngram_topk" -> 1, // partial-agg exchange; top-k is a bounded heap
    "line_dedup" -> 6, // line explode map-side; df census (two-phase distinct agg) shrinks to O(boilerplate lines) before the LEFT join back (co-partitioned on line); doc rollup + gate sort (measured 6)
    "events_cube" -> 2, // ONE aggregation exchange over the Expand (all 2^d combinations in the same plan shape) + gate sort
    "token_freq" -> 1, // single MG-buffer merge exchange
    "sample_split" -> 1, // map-only + gate sort
    "text_pii_scrub" -> 1, // map-only + gate sort
    "quality_filter_chain" -> 1, // map-only + gate sort
    "asof_join" -> 2, // union co-partition window + gate sort
    "asof_join_nearest" -> 2, // STILL one union co-partition exchange — both direction carries (backward last / forward first) ride the same window sort; the nearest pick is row-local + gate sort (measured 2)
    "multimodal_meta" -> 1, // decode is a pure map stage + gate sort
    "text_repetition" -> 1, // one-pass kernel, map-only + gate sort
    "decontaminate" -> 3, // bench distinct + per-doc agg + gate sort (bench side broadcast)
    "bm25_search" -> 6, // tf agg, df distinct+agg, score agg, top-k window, gate sort — all over O(matches) rows, never the corpus
    "pack_sequences" -> 2, // per-shard window + gate sort
    "dedup_incremental" -> 1, // bloom prunes before the anti-join; hist hash side broadcast
    "domain_caps" -> 2, // bounded-heap agg on source + gate sort
    "corpus_mixture" -> 2, // per-source mass agg (thr broadcast back) + gate sort
    "funnel" -> 2, // ONE user-key agg + gate sort
    "retention" -> 3, // user agg, cohort-cell agg, gate sort
    "user_ltv" -> 4, // B20's cohort user-agg + the purchase join back (co-partitioned on user) + the (cohort, offset) exact-distinct agg + gate sort (measured 4)
    "kmeans_clusters" -> 1, // final assignment is map-side vs centroid literals + gate sort
    "cluster_sample" -> 4, // assignment map-side; doc-key join, O(k) mass agg (broadcast back), selection filter + gate sort
    "unigram_logprob" -> 2, // bounded vocab broadcast onto the token stream; per-doc rollup + gate sort (corpus never shuffles pre-rollup)
    "decontaminate_fuzzy" -> 4, // bench-side bcast exchange, pair dedup, two verify joins + gate sort share AQE reuse
    "decontaminate_simhash" -> 3, // bench-side bcast exchange + pair dedup + gate sort (train side sketched map-side)
    "scd2_track" -> 2, // ONE user-key exchange feeds lag/version/run-agg/lead + gate sort
    "anomaly_robust" -> 4, // two O(groups) stat aggs (broadcast back) + gate sort
    "export_shards" -> 2, // manifest partial agg + gate sort (assignment map-side)
    "mv_incremental" -> 3, // state+delta partial aggs, merge agg, gate sort — O(view), never the history
    "zorder_layout" -> 3, // 1-row stats agg (broadcast back) + gate sort; interleave map-side
    // iterative: exchange count scales with ITERATIONS (5 × ~5: rank join,
    // contrib agg, node re-join per round), never with data volume — each
    // exchange carries O(edges)/O(nodes) rows
    "pagerank_nations" -> 32,
    "rolling_features" -> 2, // ONE user-key range-frame window + gate sort
    "value_histogram" -> 4, // 1-row stats agg (broadcast back) + bucket agg + gate sort
    "upsert_latest" -> 2, // ONE key shuffle (max-struct agg, partial combine) + gate sort
    "cdc_compact" -> 2, // B29's budget exactly: the op filter rides the post-agg projection, never a second shuffle
    "multimodal_frames" -> 1, // fmt filter below decode, frame loop inside the map stage + gate sort
    "mine_pairs" -> 6, // corpus spread, band join, pair dedup, two verify joins + gate sort — all O(candidates)
    "embedding_quantize" -> 1, // pure map-side array algebra + gate sort
    "table_profile" -> 2, // ONE scan (Expand × #cols for exact distincts) + gate sort
    "prepare_pretrain" -> 6, // gate joins, content-hash dedup, survivor join, shard windows + gate sort
    "token_pmi" -> 6, // vocab agg (driver-bounded), df agg, O(K²) pair agg, two bcast joins + gate sort
    "salted_join" -> 3, // dim distinct agg + (key, salt) join + final agg/gate (hot key spread over buckets)
    "bloom_semi_join" -> 2, // rollup agg + gate sort; the bloom probe is map-side IN the scan stage (the bloom itself aggregates eagerly at build) and the verify semi-join broadcasts the dim at gate scale
    "dedup_edit_distance" -> 5, // C2's spread ×3 branches (corpus + both text join-backs) + gate sort; band join and the O(candidates) verify joins broadcast (measured 5) — the DP itself is a per-row scalar, never an exchange
    "bucketed_join" -> 1, // the join executes eagerly over the co-bucketed tables with ZERO join-key exchanges (SinksSpec pins that plan); the returned O(priorities) board only sorts
    "dpp_prune" -> 5, // dim calendar: day agg (2-phase) + its O(days) rank window's single-partition exchange; rollup agg + gate sort — the fact join itself broadcasts the dim and the pruning subquery REUSES that broadcast (measured 5)
    "event_transitions" -> 3, // ONE user-key window + O(types²) agg + gate sort
    "vocab_oov" -> 1, // vocab is a driver-bounded literal; scoring map-side + gate sort
    "weighted_sample" -> 2, // TakeOrderedAndProject (bounded heaps) + k-row rank window
    "near_dup_eval" -> 8, // detector (band join) + exact-truth audit join + confusion agg — audit op, sampled slice at scale
    "events_sliding" -> 3, // slide-factor expand map-side + distinct agg + gate sort
    "interval_coverage" -> 2, // ONE user-key exchange: running-max, island cumsum, island agg, user agg + gate sort
    "distinct_incremental" -> 5, // daily sketch agg + union agg + direct sketch/exact agg (1-row sides joined)
    "hilbert_layout" -> 3, // 1-row stats agg (broadcast back) + gate sort; the walk is one codegen'd expression
    "phrase_merge" -> 1, // phrase vocab is a driver-bounded literal; the fold is a pure map stage + gate sort
    "semantic_dedup" -> 4, // (cluster, band-bucket) candidate join + dropped-doc agg + gate sort; assignment map-side vs centroid literals
    "substring_dedup" -> 5, // window-df agg + 1:df flag join + doc rollup + gate sort — linear, no pair join
    "chunk_documents" -> 1, // pure map stage (tokenize → sequence → explode → slice) + gate sort
    "table_diff" -> 3, // one co-partitioned key exchange per snapshot + gate sort; digests shrink rows before the join
    "resample_ffill" -> 6, // daily agg, span agg, spine join, fill window, gate sort — all keyed by (user[, day])
    "attribution" -> 2, // ONE user-key carry window + gate sort
    "attribution_linear" -> 5, // bucket equi-join pairs, purchase-key touch window, click-key rollup, gate sort — every exchange carries pairs/touches, never the raw stream twice
    "attribution_time_decay" -> 5, // B72's budget exactly: the weight is a per-pair scalar and Σw rides the same purchase-key window the touch count did
    "activity_streaks" -> 2, // ONE user-key exchange (repartition first; the day distinct, day window, island agg, and user rollup all reuse hash(user)) + gate sort
    "rfm_segments" -> 4, // user-key rollup + ONE pinned exchange feeding all three ntile sorts (the 2nd/3rd re-sort in place) + gate sort; the 1-row anchor broadcasts. +1 vs r12: the r13 pinnedZero sweep costs one bounded-frame exchange — hashpartitioning(_pin) no longer satisfies the gate sort's distribution the way SinglePartition did (measured 4)
    "tfidf_topterms" -> 4, // doc-key spread (tf agg + rank window reuse it), df-table partial agg (bounded by vocab, broadcast back) + gate sort (measured 4)
    "triangle_count" -> 12, // edge agg, degree agg, orientation joins, wedge + closure joins, corner agg, gate sort — every exchange O(|E|) or better
    "interval_overlap" -> 5, // session window (agg reuses its exchange), 1-row span agg, bucket equi-join vs broadcast promos, gate sort
    "unpivot_wide" -> 4, // the pivot's partial/final agg exchanges + gate sort; the melt itself is a map-side Expand
    "phrase_merge_rounds" -> 1, // two vocab literals + two fused codegen'd merge passes + gate sort
    "bigram_logprob" -> 7, // unigram/bigram LM aggs (bounded tables broadcast back), per-doc rollup, gate sort — zero corpus shuffles before the rollup
    "trigram_logprob" -> 10, // + the trigram table agg/cut over C49's budget; the triple stream itself still never shuffles before the rollup
    "fourgram_logprob" -> 2, // per-doc rollup + gate sort; the four bounded LM-table aggs run eagerly at build (checkpointed, broadcast back) and the quad stream never shuffles before the rollup
    "quality_drift" -> 3, // flag chain is map-side; day-counter agg + O(days) single-partition lag window + gate sort
    "window_topk" -> 3, // (day, key) partial agg, per-day heap agg, gate sort — no rank window, no per-day sort
    "dedup_index_probe" -> 3, // batch sketch broadcast onto the index scan (zero history shuffle); pair-dedup exchange + gate sort
    "kn_logprob" -> 8, // vocab agg/cut + projected-bigram agg + 2 tiny derived-table aggs (all broadcast back); per-doc rollup + gate sort — corpus never shuffles pre-rollup
    "simhash_index_probe" -> 3, // batch fingerprints broadcast onto the index scan; pair-dedup exchange + gate sort
    "bpe_encode" -> 1, // merge table + id table are driver-bounded literals (mined eagerly at build); the encode itself is R+1 fused map passes + gate sort
    "bpe_roundtrip" -> 1, // C60's budget exactly: the decode is one more codegen map pass over the same chain (inverse table is the same driver literal) + gate sort
    "dedup_keep_best" -> 14, // C17's edge build + min-label CC rounds, then ONE cluster-key min_by agg + keeper join + gate sort — every exchange O(docs) or O(edges)
    "decontaminate_containment" -> 4, // bench shingles + sizes broadcast (corpus never shuffles into the join); (train,bench) pair partial-agg + gate sort
    "text_entropy" -> 1, // the char histogram is row-local inside the codegen'd kernel (never an exploded per-char exchange); gate sort only
    "embed_pca" -> 1, // the d²-long Gram buffer aggregates eagerly at build (one corpus pass, 32 KiB result); the projection is a pure map vs the v literal + gate sort
    "pack_sequences_bpe" -> 2, // the encoded length rides out of C60's map stage, so the composition matches C26's budget: one per-shard cumsum window + gate sort
    "vocab_fertility" -> 2, // raw + encoded counts ride one fused map pass (merge vocabs are driver literals); one O(languages) partial agg + the gate sort (range vs hash partitioning — not reusable)
    "hybrid_search" -> 6, // BM25 ranks checkpoint eagerly (O(q×k) rows); sem heap agg + full-outer fusion join (both sides O(q×k)) + rank window + gate sort — every exchange past the rankers carries ranks, never the corpus
    "pack_bestfit" -> 2, // ONE shard-key exchange feeds the per-shard FFD kernel + gate sort — the C26 budget with the cumsum window swapped for the greedy kernel
    "quantile_sketch" -> 6, // (day,bucket) partial agg + O(buckets) merge agg + the cum+total window's pinned-key exchange (O(buckets) rows — the price of a DEFINED partition spec) + q_label agg + gate sort — the raw stream is touched exactly once; everything after `daily` is O(buckets)
    "multimodal_dedup" -> 3, // pHash inside the decode map stage; banded self-join (second side reuses the exchange) + pair-dedup exchange + gate sort — candidates O(colliding buckets), never all-pairs
    "footer_prune" -> 3, // O(files) footer reads distributed over the file list; 1-row box agg (broadcast back) + gate sort — no row of the table is ever read, nothing sorts the corpus
    "footer_prune_hilbert" -> 3, // the same layout-agnostic audit core as footer_prune, over the hkey-binned table
    "zorder3_layout" -> 3, // the 2-D budget exactly: 1-row 6-scalar stats agg (broadcast back) + gate sort; the 3-way interleave is map-side
    "hilbert3_layout" -> 3, // same shape; the Skilling walk is one codegen'd expression
    "hilbert4_layout" -> 3, // same shape at d=4 over lineitem (1-row 8-scalar stats agg + gate sort)
    "footer_prune3" -> 3, // the C75 audit core over the zbin3 table — O(files) footer rows, 1-row box agg, gate sort
    "footer_prune3_hilbert" -> 3, // same, over the hbin3 table
    "layout_compare3" -> 4, // D5's budget exactly: two O(files) audits into two 1-row rollups + the 2-row sort
    "dedup_index_admit" -> 3, // band-append is pure write; the probe broadcasts the batch sketch onto the index scan — pair-dedup exchange + est agg + gate sort
    "dedup_index_vacuum" -> 3, // the vacuum rewrite executes eagerly before the returned probe, whose plan is C76's exactly
    "multimodal_containment" -> 8, // raw history frames feed the broadcast clip join MAP-SIDE; every exchange after it carries matches only (countDistinct partials + τ rollup + gate sort), never history frames
    "phash_index_probe" -> 3, // batch decodes+fingerprints map-side and broadcasts onto the index scan (zero history decode); pair-dedup exchange + gate sort
    "compact_plan" -> 3, // O(files) footer stats into ONE single-partition FFD agg (catalog-bounded array) + gate sort; the training/footer scans are behind the eager checkpoint
    "compact_rewrite" -> 3, // the rewrite itself is the memoized scratch build; the audit is O(files) footer rows → per-grp agg + gate sort
    "quality_classifier" -> 2, // token explode feeds the BROADCAST weight join map-side; per-doc partial agg + gate sort — the corpus never shuffles, the model is driver-bounded
    "unigram_encode" -> 1, // training lives on the bounded word histogram behind driver literals; encoding is ONE codegen kernel pass (broadcast costs, zero joins) + the gate sort
    "unigram_vocab" -> 1, // the export is a driver-literal vocab table; the only exchange is its gate sort
    "dsir_select" -> 2, // feature explode feeds the BROADCAST bucket-weight join map-side; per-doc partial agg, then TakeOrderedAndProject + k-row rank window — the corpus is never globally sorted (measured 1)
    "wordpiece_vocab" -> 1, // training is driver-side over the bounded histogram; the export is a WpRounds-row literal — only its gate sort exchanges
    "wordpiece_encode" -> 1, // encoding is ONE codegen kernel pass (membership vocab as a reference object, zero joins) + the gate sort
    "tokenizer_compare" -> 3, // three kernel map passes into three 1-row partial aggs (one single-partition exchange each); the union/sort is 3 rows
    "mixture_temperature" -> 2, // per-source agg is checkpoint-truncated and driver-bounded; the sample is a broadcast join + filter + gate sort (measured 1)
    "epoch_plan" -> 1, // the plan is pure integer arithmetic over the checkpointed O(sources) weight table; only its gate sort exchanges
    "orc_roundtrip" -> 2, // the write is memoized scratch; the board is one partial-agg rollup over the ORC scan + its O(sources) gate sort
    "csv_roundtrip" -> 2, // D4's budget exactly: memoized CSV write, one partial-agg rollup over the CSV scan + gate sort
    "json_roundtrip" -> 2, // D4's budget exactly: memoized JSONL write, one partial-agg rollup over the JSON scan + gate sort
    "skyline_2d" -> 5, // per-bucket max agg over RAW rows (map-side to O(buckets)), its running-max window, the near-frontier per-price dedup + exact sweep, gate sort — pruning runs BEFORE any full-cardinality shuffle. +1 vs r12: the r13 pinnedZero sweep costs one O(near-frontier) exchange where SinglePartition satisfied the gate sort for free (measured 5)
    "linreg_trend" -> 3, // the group×day rollup is checkpoint-truncated (runs once); min-day agg + the sufficient-stats agg + gate sort (measured 3)
    "fd_profile" -> 18, // 6 candidates × (determinant partial agg with an exact COUNT(DISTINCT) two-phase + 1-row rollup) unioned; every exchange carries O(groups) of ONE candidate, the board is 6 rows (measured 18)
    "partition_evolution" -> 2, // the two-layout write is memoized scratch; two era scans union into one partial-agg rollup + its O(eras x langs) gate sort (measured 2)
    "snapshot_read" -> 6, // the log is checkpoint-truncated (one build); 3 snapshots x (upsertLatestOn's one key shuffle + a 1-row rollup's single-partition exchange); the 3-row union needs no sort exchange beyond the gate (measured 6)
    "suffix_array" -> 2, // the Manber-Myers claim, pinned: ONE hash(doc) corpus exchange carries all six doubling rounds (lead + dense_rank re-sort in place, positions dense so the +k rank is a frame shift not a join) + gate sort (measured 2)
    "suffix_lcp" -> 4, // the C99 chain's exchange + the rank-order lag re-sort (one more range exchange for the lag's rank order) + the broadcast window join side + gate sort (measured 4); the LCP kernel itself is a codegen byte loop, zero exchanges
    "lrs_per_doc" -> 4, // C101's plan + the doc-key rollup rides the same hash(doc) partitioning (no new exchange; measured 4)
    "substring_dedup_sa" -> 6, // the C103 generalized-SA census: the doubling rounds are checkpoint-truncated (each round's window re-sort + board exchanges run ONCE, eagerly, at construction — the PageRank discipline); the residual plan is the census itself: per-doc distinct on the final (rank,rank2) key, its df agg, the join back, doc rollup + gate sort — every exchange carries <= 4 longs per position where C44 shuffles window STRINGS (measured 6; the zipWithIndex board ranking never single-partitions)
    "dup_spans_sa" -> 5, // C106: the same checkpoint-truncated SA chain, then per-doc-distinct df board + start join-back + C105's one doc-key island window + gate sort (measured 5)
    "ann_lsh_stats" -> 3, // C107: codegen bucket map, (table, bucket) partial-agg rollup, table rollup, gate sort — never a pair join (measured 3)
    "ann_graph_topk" -> 2, // C117: the graph build + per-hop frames are eagerly checkpointed (build once, search many), so the final plan is the rank window over the O(q × visited) board + gate sort (measured 2)
    "ann_graph_probe" -> 2, // C117b: same search tail over the stored degree-M view (edge re-cut + per-hop frames checkpointed) — rank window + gate sort
    "record_linkage" -> 2, // B126: both blocking passes and the score re-joins broadcast (import feed ≤ |customer|); the only exchanges are the candidate distinct + gate sort (measured 2)
    "linkage_golden" -> 4, // B136: the checkpointed pair table feeds two class rollups (match heap + possible count, one exchange each) joined back onto the master side + gate sort
    "sssp_cost" -> 1, // B128: the frontier Bellman-Ford loop is checkpoint-truncated (B92's discipline), so the final plan is the kind/entity projection + gate sort over the checkpointed dist (measured 1)
    "communities_lpa" -> 3, // B130: the LPA rounds are checkpoint-truncated; the final plan is the community-size rollup + its label-keyed join back + gate sort (measured 3)
    "ab_ttest" -> 3, // B132: one (type, arm) partial-agg exchange shrinks the corpus to the O(types × 2) statistics; the merge re-agg + gate sort ride the board (measured 3)
    "ccf_leadlag" -> 3, // B134: the checkpointed daily board feeds a date-keyed pair join + one (a, b, k) partial agg + gate sort; measured 2 with the join broadcast at guard scale, +1 headroom for the sort-merge shape at corpus scale
    "schema_evolution" -> 2, // the two-era write is memoized scratch; the board is one partial-agg rollup over the merged scan + its 2-row gate sort
    "norm_dedup" -> 3, // C1's one-shuffle group-by on the normalized hash + the count-distinct's two-phase partial agg + gate sort
    "quality_ensemble" -> 5, // gate map-side; NB/LM signals broadcast-join + per-doc partial aggs; the vote LEFT-joins three doc-keyed frames (every doc gets a verdict — the co-partition exchange per side is the price of not dropping tokenless docs) + gate sort
    "dedup_compare" -> 18, // ONE action: the five families' own production plans (each a 1-row census aggregate — exact/norm group-aggs, three band joins + pair distincts) union over the checkpointed corpus + gate sort; every exchange is a family's own audited shape, none carries more than its family already did (measured 16)
    "table_integrity" -> 1, // each check executes eagerly as one count / anti-join census; the returned board is a 7-row literal + its gate sort
    "layout_compare" -> 4, // two O(files) audits (each: 1-row box agg broadcast back) into two 1-row rollups + the 2-row sort (measured 4)
    "uncertainty_sample" -> 2, // C78's broadcast-join score + per-doc rollup; TakeOrderedAndProject + k-row rank window (measured 1)
    "vocab_growth" -> 5, // per-bin token agg + vocab-bounded first-doc agg + the 10-row join/window incl. its pinned-key exchange (10 rows) — no global sort anywhere (measured 5)
    "basket_pairs" -> 10, // per-basket distinct + the basket-key self-join both sides + the pair rollup + two item-count joins (each a partial agg + co-partition pair) + the 1-row n_baskets broadcast side + gate sort; every exchange is pair/item/basket-keyed, none global (measured 10)
    "attribution_shapley" -> 1, // the user-key flag rollup + the 8-row board run EAGERLY at construction (bounded-literal collect, the vocab/codebook precedent); the residual plan is the 3-row local board + gate sort (measured 1)
    "score_calibrate" -> 2, // codegen score map + ONE per-source window exchange (rank + count share it) + gate sort (measured 2)
    "forecast_snaive" -> 4, // the (group, day) partial-agg exchange + the co-partitioned season self-join's two sides + the group error rollup + gate sort (measured 4)
    "time_in_state" -> 3, // ONE user-key window exchange (the lead rides it) + the state-key partial-agg rollup + gate sort (measured 3)
    "dup_spans" -> 4, // the C44-shaped census join (window df partial agg + the start join) + the doc-key island window + the (doc, island) rollup + gate sort; the window numbers DUP STARTS only (measured 4)
    "bfs_hops" -> 1, // the frontier rounds are checkpoint-truncated (each round's join + dedup runs ONCE, eagerly — the PageRank discipline); the residual plan is the kind/entity projection + gate sort (measured 1)
    "changepoint_cusum" -> 3, // B101: the (group, day) partial-agg exchange + ONE group-key exchange shared by the prefix/total/argmax windows + gate sort (measured 3)
    "acf_lags" -> 3, // B102: the daily rollup is checkpoint-truncated (runs once); lag explode joins the board co-keyed on (grp, t), the (grp, lag) rollup, gate sort — the O(groups) stats side broadcasts (measured 3)
    "top_paths" -> 4, // B103: ONE user-key window exchange + the per-user path agg + the O(|types|^len) path-count agg + gate sort; the rank window rides the bounded board's pinned key (measured 4)
    "kcore_parts" -> 1, // B104: peel rounds are checkpoint-truncated (each round's two co-keyed joins + degree agg run ONCE, eagerly — the B26/B92 discipline); the residual plan is the projection + gate sort (measured 1)
    "langid_agreement" -> 5, // C108: the confusion board is checkpoint-truncated (ONE corpus scan); residual = two O(langs) marginal aggs + their full-outer product agg + the 1-row totals agg + gate sort, all over the O(langs²) board (measured 5)
    "benford_audit" -> 2, // B107: the digit board is checkpoint-truncated (one lineitem map + O(9) partial agg run eagerly); residual = the 1-row pivot agg's single-partition exchange + gate sort (measured 2)
    "seasonal_detrend" -> 3, // B110: the (group, day) partial-agg exchange + ONE group-key exchange for the centered window + gate sort (measured 3)
    "skew_audit" -> 12, // B111: 6 candidates × (key partial agg + its 1-row rollup's single-partition exchange) unioned — the B83 FD-census pattern; every exchange carries O(keys) of ONE candidate, the board is 6 rows; the union needs no extra sort beyond the gate (measured 12)
    "rate_wilson" -> 4, // B112: orders distinct agg feeds the semi join (customer side broadcastable at gate; key-partitioned at scale), nation rollup per side + the O(nations) join + gate sort (measured 4)
    "text_readability" -> 1, // C109: pure regexp-count map stage + gate sort (measured 1)
    "winnow_fingerprint" -> 4, // C110: the site board is checkpoint-truncated (gram explode + doc-key window run eagerly); residual = two doc-key rollups + their join + gate sort (measured 4)
    "winnow_overlap" -> 4, // C111: the selected-hash board is checkpoint-truncated; residual = the df-cap census + the hash-keyed self-join + the pair rollup + gate sort (measured 4)
    "winnow_df_census" -> 3, // C115: the per-doc distinct over the stored sites scan + the hash-df partial agg + the 1-row rollup; single-row output, no gate sort (measured 3)
    "leakage_safe_split" -> 3, // C112: C17's cached pair graph + CC (checkpoint-truncated rounds); residual = the cluster join tail + gate sort; the split assignment is a pure map (measured 3)
    "dedup_jaccard_prefix" -> 8, // C113 r15 rewrite: the chain is now hash-df window + doc-key prefix window (3 static exchanges incl. the SMJ side), and the candidate self-join is SORT-MERGE whose two IDENTICAL sides both print statically (3+3) + pair-agg exchange + gate sort = 8 static; at runtime AQE's stage cache reuses the identical side (measured FASTER than the 5-exchange broadcast shape, 4.7 -> 3.6 s at sf0.1, because broadcast recomputed the whole chain on the build side)
    "distinct_theta_ops" -> 5, // B122: the (segment, hash) distinct partial agg + the k-bounded TopK agg print on BOTH nested-loop sides of the pair join (2+2 static; AQE's stage cache reuses the identical subtree at runtime) + gate sort (measured 5)
    "winnow_spans" -> 11 // C114: sites + hash boards checkpoint-truncated; residual = the capped overlap board (df census + pair join + rollup), the two shared-hash joins, the two per-side position joins, the (pair, side) island window, gate sort — every exchange over fingerprint-sparse frames (measured 11)
  )

  test("per-query shuffle budgets hold (exchange-count regression guard)") {
    val offenders = shuffleBudget.toSeq.sortBy(_._1).flatMap { case (name, budget) =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val got = plan.linesIterator.count(
        _.replaceAll("^[^A-Za-z]*", "").startsWith("Exchange"))
      // ceiling, not equality: cached-view materialization order can only
      // HIDE exchanges (InMemoryTableScan), never add them — a regression
      // that introduces an exchange still breaches the ceiling
      if (got <= budget) None else Some(s"$name: $got exchanges (budget $budget)")
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("oracle-checked outputs carry only atomic (comparator-safe) columns") {
    val offenders = SparkEntry.oracleSql.keys.toSeq.sorted
      .filterNot(_.startsWith("stream"))
      .flatMap { name =>
        SparkEntry.queries(name)(spark, sfDir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[StructType] ||
            f.dataType.isInstanceOf[MapType] => s"$name.${f.name}"
          // decimals wider than 18 digits are the driver-hash boundary:
          // the hasher canonicalizes them differently than BIGINT/DOUBLE,
          // so a DECIMAL(38,0) output column hash-fails even when both
          // engines agree on every value (the r13 regression — 9 keys).
          // Fold wide sums mod 2⁶¹−1 (Sinks.censusFingerprint) or emit
          // the canonical digit string instead (changepoint d_stat).
          case f if f.dataType.isInstanceOf[DecimalType] &&
            f.dataType.asInstanceOf[DecimalType].precision > 18 =>
            s"$name.${f.name} (${f.dataType.simpleString} — wide decimal)"
        }
      }
    assert(offenders.isEmpty, s"non-atomic oracle columns: $offenders")
  }

  test("no main under src/main except Bench, Verify and PlanDump") {
    // dev scaffolding (probes, ledgers, audits) lives outside the library;
    // scale runs use the real keys on a tools/replicate.py data dir
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val mains = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => """\bdef\s+main\s*\(""".r.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    finally walk.close()
    assert(mains === Set("Bench", "Verify", "PlanDump"))
  }

  test("only Tables reads the table layout, replays file streams or converts ts") {
    import scala.jdk.CollectionConverters._
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val rules = Seq(
      "spark.readStream" -> """\breadStream\b""".r,
      "a table's file name" -> ("\\b(" + tables.mkString("|") + ")\\.parquet\"").r,
      "ts div 1000" -> """\bts\s+div\s+1000\b""".r)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val offenders = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft/sources/Tables.scala")))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        for {
          (line, i) <- lines.zipWithIndex
          // comments may name the mechanism; code may not use it
          code = line.replaceAll("^\\s*(\\*|/\\*\\*?|//).*", "")
            .replaceAll("//.*", "")
          (what, re) <- rules if re.findFirstIn(code).isDefined
        } yield s"$p:${i + 1} $what"
      }.toList
    finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only Olap spells an exact sum: no sum over a DECIMAL(25,s) cast elsewhere") {
    // Olap.exactSum gives sum(e.cast("decimal(25,s)"))'s value and type
    // without a BigDecimal per row; a hand-written copy would bring it back
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val offenders = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft/operators/Olap.scala")))
      .flatMap { p =>
        val code = java.nio.file.Files.readAllLines(p).asScala
          .map(_.replaceAll("^\\s*(\\*|/\\*\\*?|//).*", "").replaceAll("//.*", ""))
          .mkString("\n")
        """\bsum\(""".r.findAllMatchIn(code).flatMap { m =>
          // the argument list: up to the parenthesis that closes sum(
          val args = code.iterator.drop(m.end).scanLeft(1) {
            case (depth, '(') => depth + 1
            case (depth, ')') => depth - 1
            case (depth, _) => depth
          }.drop(1).takeWhile(_ > 0).size
          val line = code.substring(0, m.start).count(_ == '\n') + 1
          if (code.substring(m.end, m.end + args).contains(".cast(\"decimal(25,"))
            Some(s"$p:$line")
          else None
        }
      }.toList
    finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
