"""Run-to-run determinism: results must be identical under different
physical plans (shuffle partition counts), not just on one lucky execution.

This is the regression guard for the round-2 exact-aggregation sweep: a
plain float sum/avg/stddev merges partials in shuffle order, so the same
query on the same data can hash differently between runs — which the
external gate would catch as a spurious oracle mismatch. Every query here
produced float aggregates that were rewritten onto exact decimal/integer
sums; equality across partition counts proves order-independence.
"""

from __future__ import annotations

import math

import pytest

from stockmarket_bigdata_project_spark import registry

_QUERIES = registry.all_queries()

# Queries whose outputs are float aggregates over shuffled groups — the ones
# that would drift under partial-merge reordering if the sums were inexact.
_SENSITIVE = [
    "orders_daily_rollup",
    "pricing_summary",
    "conditional_agg_ratios",
    "correlation_matrix",
    "vwap_daily",
    "sentiment_features",
    "eval_metrics",
    "corpus_clean_stats",
    "product_profit_q9",
    "national_market_share_q8",
    "idle_rich_customers_q22",
    # round-3 additions with float outputs derived from shuffled aggregates
    "value_zscore_outliers",  # power-sum moments → z per row
    "target_encode_loo",  # (S1 − x)/(n−1) from group sums
    "salient_terms_topk",  # tf/df ranking across two aggregates
    "rolling_median_5row",  # order-statistic window over collected frames
    "quality_weighted_sample",  # score threshold vs hash bucket
    "event_transition_matrix",  # conditional probability from two counts
    "lm_perplexity_bits",  # mean bits/token from shuffled integer sums
    # late-r3 additions with float outputs derived from shuffled aggregates
    "data_drift_report",  # micro-rational rates / 1e6
    "equi_depth_deciles",  # min/max cents / 100 per decile
    "hybrid_retrieval_rrf",  # rrf doubles from channel ranks
    "winsorized_stats",  # clipped mean micros / 1e6
    "incremental_agg_maintenance",  # merged revenue + avg doubles
    "table_fingerprint_orders",  # bit_xor orderless-checksum claim
    "weighted_median_prices",  # range-frame cum-weight rule on exact cents
    # round-4 additions
    "predict_returns",  # floor-quantized genuine-real predictions
    "dashboard_snapshot",  # last/prev window + micro-pct + error sums
    "lm_ccnet_buckets_sampled",  # order-statistic cutoffs from a hash sample
    "bpe_encode_stats",  # trained-vocab join + per-doc integer sums
    "epoch_shuffle_order",  # salted-hash shard/pos under any partitioning
    "retrieval_eval_recall",  # intersection of two ranked top-k sets
    "training_manifest",  # curation + shard hash composition
    "kmeans_exact_assignments",  # unrolled integer Lloyd iterations
    "gopher_quality_flags",  # integer cross-multiplication rules
    # round-5 gate-window tier: float-bearing reference-facing surfaces
    "scale_features",  # fit stats from shuffled sums → per-row z
    "sentiment_score",  # integer-rational lexicon polarity / 1e6
    "pandas_udaf_weighted_price",  # Arrow UDAF partial-merge order
    "feature_importance",  # |corr| ranking from power sums
    "math_functions",  # floor-quantized sqrt/ln surface
    "twap_hourly",  # hourly close picks + exact-cents mean
    "rolling_volatility",  # window stddev from integer power sums
    "rolling_beta",  # cov/var ratio from exact sums
    "max_drawdown",  # running-max drawdown over ordered frames
    "cumulative_return",  # product-as-sum-of-logs alternative path
    "silver_15m_features",  # 15-min bars → forward-filled features
    "medallion_e2e_daily",  # bronze→silver→gold composition
    "exact_price_quantiles",  # exact order statistics at dyadic ranks
    "stateful_running_vwap",  # applyInPandasWithState batch twin
    # round-5 additions (all-integer outputs; guard pins the tie rules)
    "line_dedup_stats",  # first-occurrence keep rule on (doc_id, li)
    "pq_adc_topk",  # packed-BIGINT argmin + ADC tie order
    "ivf_pq_topk",  # coarse-bucket argmin + probe cut + ADC tie order
    "trend_mann_kendall",  # pairwise slope order statistic (float median)
    "winnowing_fingerprints",  # packed (hash, rightmost-pos) window min
    "winnowing_dup_candidates",  # postings self-join over the winnowed index
    "seasonal_residual_outliers",  # MAD rank selection + integer threshold
    "rfm_scores",  # global rank quintiles via the exact _idiv bucket formula
    "association_rules",  # integer confidence/lift over the pair table
    "matryoshka_recall",  # two exact-L2 rankings + integer recall quotient
    "ann_index_build",  # ordered code-word assembly + coarse argmin
    "partition_skew_report",  # packed min_by twin + integer skew ratio
    "kmeans_inertia",  # BIGINT inertia over the exact Lloyd assignments
    "sqrt_temperature_mixture",  # integer-quantized sqrt weights
    "vocab_coverage_curve",  # rank cut + conditional-agg coverage micros
    "ewma_dyadic_close",  # exact dyadic float EWMA (order-independent sums)
    "split_leakage_repair",  # precedence eviction over the leaked-pair set
    "gini_order_values",  # rank-sum Gini as one shared binary64 division
    "rm3_expanded_retrieval",  # two-round posting joins + integer 2:1 mix
    "softdedup_weights",  # cluster-size downweight over the CC relation
    "tokenizer_fertility_by_lang",  # regex segmenter ratio in micros
    "curation_report",  # five 1-row audits unioned (counts only)
    "drawdown_durations",  # islands of the integer drawdown quantizer
    "lorenz_decile_shares",  # rank-cut cumulative shares in micros
    "ivf_pq_eval_recall",  # composed-path recall in integer micros
    "char_class_profile",  # class-count ratios in micros
    "media_storage_report",  # BIGINT byte sums + share micros
    # round-6 sweep: the rest of the r5-added oracle set (r5 verdict task
    # 6) — ranking/tie-sensitive or iterative, pinned under 2 vs 32
    # shuffle partitions before the round-6/7 gate windows land them
    "pq_codes",  # packed-BIGINT per-subspace argmin code assembly
    "pq_rerank_topk",  # ADC candidate cut → exact-L2 rerank tie order
    "pq_eval_recall",  # ADC-vs-exact recall in integer micros
    "induced_stopword_density",  # induced top-K cut + broadcast membership
    "bigram_lm_bits",  # ilog2 conditional bit cost from pair/context counts
    "pagerank_near_dup",  # fixed-point integer PR iterate order-independence
    "near_dup_triangles",  # canonicalized triangle closure over pair graph
    "bpe_train_merges",  # iterative winner picks: UTF-8-byte tie order
    "scd2_event_history",  # validity-interval windows over event order
    # round-7 introductions, pinned before the gate window proved them
    "tws_type_counts_batch_twin",  # slice bucketing + running-sum window
    "source_quality_report",  # corpus-wide dedup window + micro-quality mean
    "corpus_token_histogram",  # integer log2 bucket rollup
    "lateral_topn_orders",  # correlated LATERAL limit: price-then-key ties
    "lsh_eval_precision_recall",  # candidate∩truth counts + two ratios
    "sql_udf_order_tiers",  # catalog-function tiering + decimal sums
    "collated_distinct_counts",  # binary vs UTF8_LCASE distinct counts
    # round-7 second batch, pinned before the gate window proved them
    "minhash_band_skew_report",  # per-(band,sig) bucket-size rollup
    "dup_cluster_size_histogram",  # component sizes from iterative CC
    "simhash_distance_eval",  # bit-majority ties + pair-join rollup
    "atr_bands_exact",  # lag + two rolling sums over the total order
    "source_token_budget_curve",  # ntile cut on (micro, doc_id) order
    "zorder_skipping_report",  # sort-free z-division file envelopes
    "skyline_two_phase_orders",  # two-phase skyline: local prune + global pass
    # round-7 third batch, pinned before the gate window proved them
    "candlestick_patterns",  # lag-pair pattern flags over the total order
    "trading_gap_report",  # lag date gaps + per-supplier rollup
    "leadlag_xcorr",  # six exact sufficient stats → shared binary64 corr
    "unimax_language_budgets",  # driver-side recurrence over collected K rows
    "try_arithmetic_functions",  # map-side error-safe projection
    # round-7 fourth batch, pinned before the gate window proved them
    "sparse_cosine_pairs",  # df-capped posting join + sqrt-normalized dot
    "ngram_novelty_score",  # first-occurrence min over the shingle key
    "rolling_weekly_active_users",  # fan-out distinct count per target day
    # round-7 fifth batch, pinned before the gate window proved them
    "minhash_containment_pairs",  # staged overlap stats + two int÷int ratios
    "edit_distance_verified_pairs",  # levenshtein over LSH candidates
    "obv_indicator",  # signed cumulative BIGINT volume over the total order
    # round-7 scale fix: k = max(8, n // 250) rides a count aggregate —
    # partitioning-independent by construction, pinned here anyway
    "semdedup_survivors",
    # round-8 (r9: argmax windows → partial max(struct) aggregates):
    # ANN (two-level) centroid assignment + within-bucket prune, all
    # id-tie-broken
    "semdedup_survivors_ann",
    # round-8: source-level shingle-set Jaccard in integer micros
    "source_shingle_overlap",
    # round-8: cap-enforcement accounting (pure BIGINT rollup)
    "lsh_capped_buckets_report",
    # round-9: leak-safe bench×train LSH join (bench rank-truncated,
    # train uncapped) + exact verification
    "decontam_fuzzy_pairs",
    # round-8: cluster-colocated md5 shard assignment (r9: unhinted join)
    "dedup_aware_shards",
    # round-8: batch×corpus banded join + capped buckets + exact verify
    "incremental_minhash_new_docs",
    # round-9: stored-index twin (bucketed band table + stored hot set)
    "incremental_minhash_indexed",
    # round-9: co-bucketed shard assignment (values must equal the
    # unhinted form regardless of layout)
    "dedup_aware_shards_bucketed",
    # round-9: ingestion-time semantic dedup — flat argmax + bucket join,
    # and the stored-index two-level twin
    "incremental_semdedup_new_docs",
    "incremental_semdedup_indexed",
    # round-9: per-batch decontamination against the stored bench index
    "incremental_decontam_indexed",
    # round-9: exact dedup against the stored bucketed hash index
    "incremental_dedup_indexed",
    # round-7 scale fix: UnboundedFollowing frames rewritten to reversed
    # running frames (O(rows) not O(rows²)) — values must be unchanged
    "interpolate_daily",
    "asof_join_next_tolerance",
    # round-7 scale fix: Arrow-UDF stages pinned to defaultParallelism
    # (AQE byte-based coalescing serialized the Python pass) — values are
    # per-group, partitioning-independent; pinned anyway
    "suppression_window_dedup",
    "asof_join_merge_pandas",
    # round-13 introductions, pinned before the gate window proved them
    "quality_calibration_buckets",  # micro-score deciles vs keep-rate gaps
    "direction_auc",  # midrank Mann-Whitney from per-score-group counts
    # round-14 introductions: the constructed-skew join
    # twins — the salt (and any AQE skew split) must be invisible in values
    "hot_key_rollup",
    "hot_key_rollup_salted",
]


def _rows(df):
    def canon(v):
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        return v

    return sorted(tuple(canon(v) for v in r) for r in df.collect())


@pytest.mark.parametrize("name", _SENSITIVE)
def test_identical_across_shuffle_partitionings(name, spark, sf_dir):
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        clear_staged_memo,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # the staged-relation memo is keyed on identity, not conf (r9):
        # clear before each run so staged-riding queries genuinely
        # recompute under each partitioning instead of reading the cache
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        clear_staged_memo()
        a = _rows(_QUERIES[name](spark, sf_dir))
        # prime-and-small forces different partial groupings and merge orders
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        clear_staged_memo()
        b = _rows(_QUERIES[name](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        clear_staged_memo()
    assert a == b, f"{name}: result depends on shuffle partitioning"


# round-10: the eight queries whose forced broadcast hints were removed
# (r9 verdict sites 1-6 + the two the broadcast-budget lint found). The
# oracle gate proves each against DuckDB; this pin proves the join-strategy
# axis directly — identical rows whether the de-hinted joins run as
# broadcast (AQE, default threshold) or as shuffle joins (threshold=-1),
# i.e. the hint removal changed WHERE the join runs, never what it returns.
_DEHINTED_R10 = [
    "minhash_lsh_pairs",  # rides the _shingles_df verification semi-join
    "substring_dedup_rewrite",
    "softdedup_weights",
    "split_leakage_repair",
    "decontam_stats",
    "boilerplate_strip",
    "cohort_retention",
    "large_volume_customers",
]


# round-11: the SF-scaling dim-table hint class (r10 verdict What's-wrong
# #1) — every decision-support/star-probe query whose customer/supplier/
# part hints were removed. Same contract as _DEHINTED_R10: identical rows
# whether AQE broadcasts the dims or the joins shuffle. (The streaming
# stream-static twin has its own invariance test in test_plans.py.)
_DEHINTED_R11 = [
    "nation_trade_balance_q7",
    "returned_item_losses_q10",
    "promo_revenue_share_q14",
    "top_revenue_suppliers_q15",
    "big_quantity_orders_q18",
    "brand_size_or_revenue_q19",
    "cheapest_supplier_q2",
    "national_market_share_q8",
    "product_profit_q9",
    "parts_supplier_counts_q16",
    "excess_share_suppliers_q20",
    "blamed_suppliers_q21",
    "revenue_by_brand",
    "shipping_priority",
    "small_quantity_revenue",
]


# round-12: the LSH hot-set hint class (r11 verdict What's-wrong #1) —
# the three F.broadcast(hot) sites in llmdata/dedup.py are de-hinted;
# same contract: identical pairs whether AQE broadcasts the hot-bucket
# set or the anti-join shuffles on (band, sig).
_DEHINTED_R12 = [
    # minhash_lsh_pairs already runs via _DEHINTED_R10 (its r10 semi-join
    # de-hint) — the same sweep now also covers its r12 hot-set de-hint
    "incremental_minhash_new_docs",
    "incremental_minhash_indexed",
]


@pytest.mark.parametrize("name", _DEHINTED_R10 + _DEHINTED_R11 + _DEHINTED_R12)
def test_identical_across_broadcast_thresholds(name, spark, sf_dir):
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        clear_staged_memo,
    )

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        clear_staged_memo()
        a = _rows(_QUERIES[name](spark, sf_dir))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        clear_staged_memo()
        b = _rows(_QUERIES[name](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
        clear_staged_memo()
    assert a == b, f"{name}: result depends on join strategy"
