"""Plan-shape audits for the sampling layer: the scale claims in
PERFORMANCE.md (map-side-only sampling, single-shuffle sharding) asserted
against the actual physical plans, so a refactor that silently adds an
exchange fails here, not at 100 TB."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from stockmarket_bigdata_project_spark.llmdata.sampling import (
    hash_sample_docs,
    hash_split_docs,
    token_budget_shards,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan_simple(df) -> str:
    """Simple-mode physical plan: join operators carry their keys inline
    (`SortMergeJoin [k#1L], [k#2L], Inner`), which formatted mode splits
    into detail blocks — use this for key-specific join-strategy pins."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_hash_sampling_is_map_side_only(spark, sf_dir):
    for fn in (hash_sample_docs, hash_split_docs):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange" not in plan, plan  # pure scan→filter/project


def test_shard_packing_single_shuffle(spark, sf_dir):
    plan = _plan(token_budget_shards(spark, sf_dir))
    # one hash-partitioning exchange (by source) for the window — and no
    # single-partition global sort, which would serialize the corpus
    assert plan.count("Exchange") == 2, plan  # tree line + its detail block
    assert "hashpartitioning(source" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan, plan


# --- round-2 exact-aggregation sweep: the physical shape must not regress ----
def test_decimal_exact_aggs_keep_partial_aggregation(spark, sf_dir):
    """DECIMAL-quantized sums must still run as partial+final hash
    aggregates (map-side combine): the determinism fix may not silently
    turn the 100 TB scan-reduce into a raw-row shuffle."""
    from stockmarket_bigdata_project_spark.operators.aggregates import (
        pricing_summary,
    )
    from stockmarket_bigdata_project_spark.operators.gold import (
        orders_daily_rollup,
    )

    for fn in (pricing_summary, orders_daily_rollup):
        plan = _plan(fn(spark, sf_dir))
        assert plan.count("HashAggregate") >= 4, plan  # partial+final, tree+detail
        assert "partial_sum" in plan.lower() or "partial" in plan.lower(), plan


def test_pricing_summary_scan_is_pruned(spark, sf_dir):
    """Filter pushdown + column pruning must reach the parquet scan even
    through the decimal casts."""
    from stockmarket_bigdata_project_spark.operators.aggregates import (
        pricing_summary,
    )

    plan = _plan(pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan
    # only the 7 referenced columns, not the 16-column table
    assert "l_comment" not in plan, plan
    assert "l_partkey" not in plan, plan


def test_gold_join_broadcasts_daily_rollup(spark, sf_dir):
    """The tiny per-date rollup must broadcast; the fact-side aggregate must
    not shuffle for the join."""
    from stockmarket_bigdata_project_spark.operators.gold import (
        gold_daily_features,
    )

    plan = _plan(gold_daily_features(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


# --- analytics (multi-join + subquery decorrelation) -------------------------
def test_star_join_broadcasts_every_dimension(spark, sf_dir):
    """Q5 star: all five dimension joins must be broadcast — the lineitem
    fact may shuffle exactly once (the final groupBy), never for a join."""
    from stockmarket_bigdata_project_spark.operators.analytics import (
        local_supplier_volume,
    )

    plan = _plan(local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "SortMergeJoin" not in plan, plan
    # tree line + detail block for the single aggregation exchange
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_q3_uses_take_ordered_not_global_sort(spark, sf_dir):
    """Top-10 by revenue must be TakeOrderedAndProject — a global Sort of
    the aggregated stream is wrong at scale."""
    from stockmarket_bigdata_project_spark.operators.analytics import (
        shipping_priority,
    )

    plan = _plan(shipping_priority(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    from stockmarket_bigdata_project_spark.operators.analytics import (
        late_shipment_priority,
    )

    plan = _plan(late_shipment_priority(spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_not_exists_decorrelates_to_anti_join(spark, sf_dir):
    from stockmarket_bigdata_project_spark.operators.analytics import (
        rich_inactive_customers,
    )

    plan = _plan(rich_inactive_customers(spark, sf_dir))
    assert "LeftAnti" in plan, plan


def test_q2_argmin_joinback_no_cartesian(spark, sf_dir):
    """The argmin-per-group decorrelation joins back on (partkey, exact
    BIGINT cost): must stay an equi-join (hash/broadcast), never a
    BNLJ/cartesian — and the top-100 must be TakeOrderedAndProject."""
    from stockmarket_bigdata_project_spark.operators.decision_support import (
        cheapest_supplier_q2,
    )

    plan = _plan(cheapest_supplier_q2(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q22_scalar_subquery_is_single_row_broadcast(spark, sf_dir):
    """The uncorrelated scalar average must broadcast as a 1-row relation
    (BroadcastNestedLoopJoin over a broadcast exchange) — the decorrelation
    must NOT shuffle the customer side or degenerate to a cartesian."""
    from stockmarket_bigdata_project_spark.operators.decision_support import (
        idle_rich_customers_q22,
    )

    plan = _plan(idle_rich_customers_q22(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "LeftAnti" in plan, plan


def test_q16_denylist_is_anti_join(spark, sf_dir):
    from stockmarket_bigdata_project_spark.operators.decision_support import (
        parts_supplier_counts_q16,
    )

    plan = _plan(parts_supplier_counts_q16(spark, sf_dir))
    assert "LeftAnti" in plan, plan
    # part-attribute predicates must push into the part scan
    assert "PushedFilters" in plan, plan


def test_decontam_corpus_never_shuffles_text(spark, sf_dir):
    """The benchmark gram set must broadcast; the only hash exchange is the
    final per-doc overlap count — the training text itself never crosses an
    exchange (at 100 TB the corpus streams map-side through the gram join)."""
    from stockmarket_bigdata_project_spark.llmdata.decontam import (
        decontam_overlap,
    )

    plan = _plan(decontam_overlap(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_partitioned_read_prunes_partitions(registry_surfaces):
    """The date filter over the partitionBy(trade_date) layout must become a
    PartitionFilter (directory skip), not a row-level post-scan filter.
    Reads the shared construction sweep (r15): constructing this query
    executes its ~2,300-directory partitioned write, so it must not be
    re-constructed per test — partition pruning of the read-back is
    conf-independent, the lint-conf plan shows it identically."""
    rec = registry_surfaces["partitioned_gold_write"]
    assert "error" not in rec, rec
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", rec["lint_plan"])
    assert m and "trade_date" in m.group(1), rec["lint_plan"]


def test_lsh_band_checkpoint_is_lazy(spark, sf_dir):
    """Constructing the LSH plan must not materialize anything: the band
    table's localCheckpoint is eager=False, so queries() enumeration /
    explain() stays metadata-only. Parquet READS legitimately run one
    single-task footer/schema job each — the eager checkpoint, by contrast,
    ran the whole multi-stage shingle→minhash pipeline at plan-build time."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        minhash_lsh_pairs,
    )

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = minhash_lsh_pairs(spark, sf_dir)
    assert df.columns == ["doc_a", "doc_b", "jaccard"]
    new_jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(new_jobs) <= 4, f"too many build-time jobs: {sorted(new_jobs)}"
    for jid in new_jobs:
        info = tracker.getJobInfo(jid)
        assert info is not None
        assert len(info.stageIds) == 1, (
            f"job {jid} has stages {info.stageIds}: a multi-stage job at "
            "build time means the band-table checkpoint ran eagerly"
        )
        st = tracker.getStageInfo(info.stageIds[0])
        if st is not None:
            assert st.numTasks <= 2, (
                f"job {jid} ran {st.numTasks} tasks at build time — "
                "that is a materialization, not a schema read"
            )


def test_q11_total_is_broadcast_no_cartesian(spark, sf_dir):
    from stockmarket_bigdata_project_spark.operators.decision_support import (
        important_parts_q11,
    )

    plan = _plan(important_parts_q11(spark, sf_dir))
    # the 1-row (total, n_parts) scalar relation joins by broadcast; the
    # share filter must not become a cartesian over per-part rows
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q21_aggregates_not_fact_semi_joins(spark, sf_dir):
    from stockmarket_bigdata_project_spark.operators.decision_support import (
        blamed_suppliers_q21,
    )

    plan = _plan(blamed_suppliers_q21(spark, sf_dir))
    # the EXISTS/NOT-EXISTS decorrelation is per-order aggregates joined on
    # l_orderkey: top-20 via TakeOrderedAndProject, supplier dim broadcast,
    # and no cartesian / nested-loop anywhere
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_binary_file_catalog_prunes_content(spark, sf_dir):
    from stockmarket_bigdata_project_spark.llmdata.multimodal import (
        _stage_media_files,
    )

    d = _stage_media_files(spark, sf_dir)
    meta_only = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(d)
        .select("path", "length")
    )
    plan = _plan(meta_only)
    # metadata-only projection must not read file bytes
    assert "content" not in plan.split("ReadSchema:")[-1].splitlines()[0], plan


def test_repetition_stats_is_shuffle_free(spark, sf_dir):
    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        repetition_stats,
    )

    plan = _plan(repetition_stats(spark, sf_dir))
    assert "Exchange" not in plan, plan  # per-row map-side expressions only


def test_boilerplate_strip_rewrite_is_map_side(spark, sf_dir):
    """The span-removal rewrite must probe the capped strip list via
    broadcast HASH joins (hit detection and the covered-positions
    join-back): the document text itself may never cross an exchange —
    the only shuffles allowed carry gram-mining or hit-position rows,
    never documents."""
    from stockmarket_bigdata_project_spark.llmdata.decontam import (
        boilerplate_strip,
    )

    plan = _plan(boilerplate_strip(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # no sort-merge anywhere: nothing big ever joins anything big
    assert "SortMergeJoin" not in plan, plan
    # the corpus text column feeds only scan-side projections, never an
    # exchange: every Exchange in the plan carries gram-mining rows
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


def test_source_quota_cap_single_shuffle_no_global_sort(spark, sf_dir):
    """Per-source cap = one hash exchange (by source) + partition-local
    sort; a rangepartitioning/global sort would serialize the corpus."""
    from stockmarket_bigdata_project_spark.llmdata.sampling import (
        source_quota_cap,
    )

    plan = _plan(source_quota_cap(spark, sf_dir))
    assert plan.count("Exchange") == 2, plan  # tree line + detail block
    assert "hashpartitioning(source" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """100 TB lever: with a selective dimension-side filter and a shuffle
    join, Spark injects a runtime bloom filter (bloom_filter_agg on the
    creation side, might_contain on the fact side) so fact rows that
    cannot join are dropped BEFORE the shuffle. Local tables sit under
    the default creation-side threshold, so the test widens it to prove
    the engine configuration supports the rewrite; confs are restored."""
    import pyspark.sql.functions as F

    from stockmarket_bigdata_project_spark.catalog import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "10GB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = _plan(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_context_chunks_is_map_side_only(spark, sf_dir):
    """Chunking must be a single pass: integer chunk arithmetic + explode
    inside the scan stage, zero exchanges."""
    from stockmarket_bigdata_project_spark.llmdata.sampling import (
        context_chunks,
    )

    plan = _plan(context_chunks(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_cohort_retention_broadcasts_first_seen(spark, sf_dir):
    """The per-user first-seen relation must broadcast back onto the fact
    scan — cohort assignment may not shuffle the events twice."""
    from stockmarket_bigdata_project_spark.operators.analytics import (
        cohort_retention,
    )

    plan = _plan(cohort_retention(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_zscore_moments_broadcast_no_fact_shuffle(spark, sf_dir):
    """The |event_type|-sized moments relation broadcasts; the events fact
    never crosses a hash exchange (map-side score + filter)."""
    from stockmarket_bigdata_project_spark.operators.stats import (
        value_zscore_outliers,
    )

    plan = _plan(value_zscore_outliers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The engine must expose all three join-strategy levers: broadcast,
    shuffle_hash, and merge hints on the same equi-join each select their
    physical operator (what a user tunes when AQE's default pick is wrong
    for a known workload)."""
    import pyspark.sql.functions as F

    from stockmarket_bigdata_project_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    for hint, op in (
        ("broadcast", "BroadcastHashJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
        ("merge", "SortMergeJoin"),
    ):
        j = o.join(c.hint(hint), o.o_custkey == c.c_custkey)
        plan = _plan(j)
        assert op in plan, f"{hint}: expected {op}\n{plan}"


def test_dsir_bucket_stats_broadcast_no_sort_merge(spark, sf_dir):
    """DSIR importance scoring: the B-row bucket-bits relation (and the
    1-row totals) broadcast onto the token stream — the token stream itself
    must never be the build side or cross a sort-merge join."""
    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        dsir_importance_bits,
    )

    plan = _plan(dsir_importance_bits(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_lm_perplexity_partial_aggs_and_no_cartesian(spark, sf_dir):
    """Unigram-LM scoring: the vocab aggregate keeps map-side partial
    aggregation (partial_count before the token exchange) and the 1-row
    total joins as broadcast, never a cartesian product."""
    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        lm_perplexity_bits,
    )

    plan = _plan(lm_perplexity_bits(spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the 1-row total attaches as a broadcast nested-loop (scalar pattern,
    # same shape test_q22 pins) — constant work per partition, not O(n²)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_semdedup_pairwise_is_bucket_equi_join(spark, sf_dir):
    """SemDeDup's pairwise stage must be an equi-join on the cluster bucket
    (cost O(Σ cᵢ²)), never an unconstrained cartesian over the corpus; the
    only nested-loop allowed is the K-row centroid broadcast."""
    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        semdedup_survivors,
    )

    plan = _plan(semdedup_survivors(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def _executed_nodes(df) -> list[tuple[int, str, str]]:
    """(depth, operator, detail block) for every node of df's executed AQE
    plan, in tree order. A subtree that ran once and is read again appears
    as a leaf ReusedExchange, so a repeated subtree here ran twice."""
    df.collect()
    plan = _plan(df)
    assert "== Final Plan ==" in plan, plan
    tree, details = plan.split("== Final Plan ==")[1].split("\n\n\n", 1)
    tree = tree.split("== Initial Plan ==")[0]
    detail = {
        m.group(1): m.group(2)
        for m in re.finditer(r"^\((\d+)\) [^\n]*\n(.*?)(?=^\(\d+\) |\Z)",
                             details, re.M | re.S)
    }
    nodes = []
    for line in tree.splitlines():
        m = re.search(r"(?:\* )?([A-Z]\w*(?: \w+)*?)\s+\((\d+)\)", line)
        if m:
            nodes.append((m.start(), m.group(1), detail.get(m.group(2), "")))
    return nodes


def _centroid_cosine_projections(nodes) -> int:
    """Executed projections that score corpus vectors against centroids
    (output vec_id plus a ccos/gcos cosine): one per assignment level."""
    return sum(
        1
        for _, name, det in nodes
        if name == "Project"
        and re.search(r"Output \[\d+\]: \[vec_id#[^\n]*\b[cg]cos#", det)
    )


def test_semdedup_assignment_runs_once(spark, sf_dir):
    """The corpus-wide centroid assignment (cross join of the embeddings
    with the broadcast centroids, then the argmax) runs once per query: the
    prune's two join sides consume the same assignment, so the second reads
    it through a reused exchange, and no join back to the assignment runs
    it again. The flat form assigns in one level, the ANN form in two
    (coarse cell, then fine centroid)."""
    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        semdedup_survivors,
        semdedup_survivors_ann,
    )

    flat = _executed_nodes(semdedup_survivors(spark, sf_dir))
    assert _centroid_cosine_projections(flat) == 1, flat
    ann = _executed_nodes(semdedup_survivors_ann(spark, sf_dir))
    assert _centroid_cosine_projections(ann) == 2, ann


def test_duplicate_spans_partial_counts_no_cartesian(spark, sf_dir):
    """Substring-dedup spans: the gram occurrence count must keep map-side
    partial aggregation before its exchange, and the gram join-back must be
    an equi-join — never a cartesian (the suffix-array replacement stays
    shuffle-linear)."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        duplicate_spans,
    )

    plan = _plan(duplicate_spans(spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_substring_rewrite_cut_list_broadcasts(spark, sf_dir):
    """The rewrite's covered-position relation (∝ duplication, small) must
    broadcast back onto the corpus scan — the document text itself never
    crosses a hash exchange for the final reassembly join."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        substring_dedup_rewrite,
    )

    plan = _plan(substring_dedup_rewrite(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


# --- round-3 late additions: LM/tokenizer/graph plan shapes ------------------
def test_bigram_lm_no_cartesian_partial_aggs(spark, sf_dir):
    """The bigram LM is pure equi-joins over (w1, w2) keys: no cartesian
    anywhere, and the pair/context/per-doc counts keep map-side combine."""
    from stockmarket_bigdata_project_spark.llmdata.lm import bigram_lm_bits

    plan = _plan(bigram_lm_bits(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_bpe_merge_window_is_over_pair_counts_only(spark, sf_dir):
    """The ranking may only see the aggregated pair-count table
    (≤ |charset|² rows): Catalyst folds the rank-filter into a distributed
    TakeOrderedAndProject above the HashAggregate — never a global sort or
    single-partition window over the raw token explosion."""
    from stockmarket_bigdata_project_spark.llmdata.lm import (
        bpe_merge_candidates,
    )

    plan = _plan(bpe_merge_candidates(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # window input is the (pair → weight) aggregate, so the plan carries
    # partial+final aggregation; Catalyst rewrites the rank-filter into a
    # distributed top-k (TakeOrderedAndProject) — per-partition heads merge
    # N_BPE_MERGES rows, no full shuffle of the counts
    assert plan.count("HashAggregate") >= 4, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_pagerank_build_is_lazy_and_no_cartesian(spark, sf_dir):
    """Constructing the PageRank plan must not run the LSH pipeline (no
    checkpoint anywhere in the chain — ReuseExchange carries the edge
    list across iterations instead), and the iteration joins are all
    equi-joins on node ids — the only nested-loop join allowed is the
    1-row n_nodes broadcast (same shape as lm_perplexity's total join)."""
    from stockmarket_bigdata_project_spark.llmdata.graph import (
        pagerank_near_dup,
    )

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = pagerank_near_dup(spark, sf_dir)
    assert df.columns == ["doc_id", "degree", "rank_fp", "pagerank"]
    new_jobs = set(tracker.getJobIdsForGroup(None)) - before
    for jid in new_jobs:
        info = tracker.getJobInfo(jid)
        assert info is not None
        assert len(info.stageIds) == 1, (
            f"job {jid} has stages {list(info.stageIds)}: a multi-stage "
            "job at build time means an eager materialization in the build"
        )
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan


def test_sparse_retrieval_is_posting_list_equi_join(spark, sf_dir):
    """Sparse retrieval must be the inverted-index shape: every join an
    equi-join (term / q_id keys), the top-k window hash-partitioned by
    query id — never a cartesian candidate product or a global sort."""
    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        sparse_retrieval_topk,
    )

    plan = _plan(sparse_retrieval_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(q_id" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_event_pattern_single_user_shuffle(spark, sf_dir):
    """Symbolize→fold→regex must cost exactly one hash exchange on
    user_id (the per-user fold); the regex runs map-side on the folded
    strings — no second shuffle, no cartesian."""
    from stockmarket_bigdata_project_spark.operators.analytics import (
        event_pattern_matches,
    )

    plan = _plan(event_pattern_matches(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # tree+detail


def test_cdc_diff_is_single_full_outer_equi_join(spark, sf_dir):
    """The snapshot diff must be one co-partitioned FULL OUTER equi-join
    on the key — never a broadcast (both snapshots are table-sized at
    production scale) and never a nested loop."""
    from stockmarket_bigdata_project_spark.operators.joins import (
        cdc_snapshot_diff,
    )

    plan = _plan(cdc_snapshot_diff(spark, sf_dir))
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_mad_outliers_broadcast_stats_back(spark, sf_dir):
    """The K-row median/MAD tables must broadcast back onto the fact scan:
    no sort-merge join anywhere (a fact-side join shuffle would dwarf the
    aggregation at scale)."""
    from stockmarket_bigdata_project_spark.operators.stats import (
        robust_outliers_mad,
    )

    plan = _plan(robust_outliers_mad(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_drift_report_single_bin_shuffle(spark, sf_dir):
    """Drift bins are computed map-side: one hash exchange of (bin,
    partial counts); the totals come back as a 1-row broadcast — never a
    sort-merge join."""
    from stockmarket_bigdata_project_spark.operators.stats import (
        data_drift_report,
    )

    plan = _plan(data_drift_report(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # tree+detail


def test_equi_depth_deciles_no_global_sort(spark, sf_dir):
    """Quantile binning must NOT range-partition/sort the fact table (the
    ntile() formulation would): boundaries broadcast back as a 1-row
    relation and the decile is a map-side filter count."""
    from stockmarket_bigdata_project_spark.operators.stats import (
        equi_depth_deciles,
    )

    plan = _plan(equi_depth_deciles(spark, sf_dir))
    assert "rangepartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hybrid_rrf_fusion_plan(spark, sf_dir):
    """RRF fusion: the dense channel's only product is the broadcast
    query-side nested loop (10 rows × corpus — linear); the sparse channel
    and the fusion join stay equi-joins; every window hash-partitions by
    q_id — no unbroadcast cartesian, no global sort."""
    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        hybrid_retrieval_rrf,
    )

    plan = _plan(hybrid_retrieval_rrf(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 10-row query side
    assert "hashpartitioning(q_id" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_sequence_packing_single_source_shuffle(spark, sf_dir):
    """Concat-and-split packing must cost exactly the per-source cumsum
    window: one hash exchange on source, partition-local sort, map-side
    explode — no global sort, no join at all."""
    from stockmarket_bigdata_project_spark.llmdata.sampling import (
        sequence_packing_spans,
    )

    plan = _plan(sequence_packing_spans(spark, sf_dir))
    assert "rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 2, plan  # tree line + its detail block
    assert "hashpartitioning(source" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_entity_resolution_blocked_equi_joins(spark, sf_dir):
    """ER must follow collapse→block→verify: the fact table appears only
    in the linear dictionary groupBy; candidate generation is equi-joined
    on blocking keys — no all-pairs product anywhere."""
    from stockmarket_bigdata_project_spark.operators.linkage import (
        entity_resolution_matches,
    )

    plan = _plan(entity_resolution_matches(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cms_grid_broadcast_point_queries(spark, sf_dir):
    """The CMS grid (≤ CMS_D·CMS_W cells) must come back to the candidate
    side as a broadcast hash join — estimating must never shuffle the
    candidate relation against the grid."""
    from stockmarket_bigdata_project_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    plan = _plan(cms_heavy_hitters(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_zorder_single_aggregate_no_sort(spark, sf_dir):
    """Z-value + file id are map-side integer arithmetic; the envelope
    report is ONE hash aggregate over ZO_FILES groups — no join, no
    range partitioning, no global sort."""
    from stockmarket_bigdata_project_spark.operators.stats import (
        zorder_file_stats,
    )

    plan = _plan(zorder_file_stats(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") == 2, plan  # tree line + detail block


def test_k_anonymity_broadcast_total(spark, sf_dir):
    """Class table is one aggregate; the corpus total returns as a 1-row
    broadcast — no fact-side join shuffle, no sort."""
    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        k_anonymity_audit,
    )

    plan = _plan(k_anonymity_audit(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_winsorized_cuts_broadcast_back(spark, sf_dir):
    """The two global cuts must come back as a 1-row broadcast onto the
    map-side clip — never a shuffle join of the fact table."""
    from stockmarket_bigdata_project_spark.operators.stats import (
        winsorized_stats,
    )

    plan = _plan(winsorized_stats(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_compression_ratio_map_side_only(spark, sf_dir):
    """The deflate scorer is a single Arrow-batched map pass: no Exchange
    anywhere in the plan."""
    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        compression_ratio_scores,
    )

    plan = _plan(compression_ratio_scores(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_triangle_join_no_cartesian(spark, sf_dir):
    """Ordered-edge triangle enumeration must stay an equi-join chain —
    no cartesian/BNLJ anywhere in the 3-way join."""
    from stockmarket_bigdata_project_spark.llmdata.graph import (
        near_dup_triangles,
    )

    plan = _plan(near_dup_triangles(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ks_window_on_domain_table_only(spark, sf_dir):
    """The KS CDF window may single-partition ONLY the domain-sized
    aggregate (distinct lengths) — the fact table must collapse through a
    hash aggregate first, and no join may shuffle it."""
    from stockmarket_bigdata_project_spark.operators.stats import (
        ks_two_sample_lengths,
    )

    plan = _plan(ks_two_sample_lengths(spark, sf_dir))
    assert "SinglePartition" in plan, plan  # the domain-table window
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_runtime_bloom_filter_injects_at_scale_thresholds(spark, sf_dir):
    """Spark's runtime bloom-filter join pruning (the 100 TB shuffle-join
    saver: the dim-side filter hashes into a bloom filter applied inside
    the fact scan) stays dormant at test-data sizes only because of the
    size thresholds. Pin that it INJECTS (`might_contain` in the fact
    scan) once the application-side threshold matches the data — i.e. the
    engine path we rely on at cluster scale actually fires."""
    import pyspark.sql.functions as F

    from stockmarket_bigdata_project_spark.catalog import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert "might_contain" in _plan(j)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_incremental_merge_pushes_cutoff_filters(spark, sf_dir):
    """Both slice aggregates must push their static cutoff predicate into
    the parquet scan (the delta refresh only reads delta files at scale),
    and the merge is a K-row join — no fact-table SMJ."""
    from stockmarket_bigdata_project_spark.operators.aggregates import (
        incremental_agg_maintenance,
    )

    plan = _plan(incremental_agg_maintenance(spark, sf_dir))
    assert "LessThan(o_orderdate" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_perceptual_hash_bucket_equi_join(spark, sf_dir):
    """aHash multi-probe pairing must be a bucket equi-join on the probe
    value — never an all-pairs Hamming comparison (cartesian/BNLJ), and
    the hash itself stays JVM-side (no Python eval in the plan)."""
    from stockmarket_bigdata_project_spark.llmdata.multimodal import (
        media_perceptual_hash_pairs,
    )

    plan = _plan(media_perceptual_hash_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_hhi_single_linear_aggregate(spark, sf_dir):
    """Concentration report: one linear groupBy to K source counts, then
    K-row arithmetic — no join, no sort."""
    from stockmarket_bigdata_project_spark.llmdata.sampling import (
        source_concentration_hhi,
    )

    plan = _plan(source_concentration_hhi(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_forward_asof_single_exchange_no_join(spark, sf_dir):
    """The forward-tolerance as-of must keep the union-asof shape: one
    hash exchange on the join key for the window — no join operator, no
    range partitioning."""
    from stockmarket_bigdata_project_spark.operators.joins import (
        asof_join_next_tolerance,
    )

    plan = _plan(asof_join_next_tolerance(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "hashpartitioning(o_custkey" in plan, plan


def test_frequent_pairs_colocated_basket_join(spark, sf_dir):
    """The market-basket pairing must be a hash equi-join co-located on
    the basket key — never a cartesian across baskets. The only loop join
    allowed is the single-row n_orders broadcast."""
    from stockmarket_bigdata_project_spark.operators.analytics import (
        frequent_item_pairs,
    )

    plan = _plan(frequent_item_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(l_orderkey" in plan, plan
    # formatted plans name each operator twice (tree line + detail block)
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_pareto_frontier_windows_not_self_join(spark, sf_dir):
    """The skyline must be the day-level window form: no NOT-EXISTS
    self-join on orders (which would be |orders|² dominance checks), no
    global sort, segment-partitioned window only."""
    from stockmarket_bigdata_project_spark.operators.analytics import (
        pareto_frontier_orders,
    )

    plan = _plan(pareto_frontier_orders(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(c_mktsegment" in plan, plan


def test_table_fingerprint_single_linear_aggregate(spark, sf_dir):
    """The table checksum must be one scan + partial/final hash aggregate:
    no join, no sort, no global single-partition funnel."""
    from stockmarket_bigdata_project_spark.operators.stats import (
        table_fingerprint_orders,
    )

    plan = _plan(table_fingerprint_orders(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "Sort" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_suppression_dedup_single_key_shuffle(spark, sf_dir):
    """The cooldown dedup must be one hash exchange on the entity key
    feeding the Arrow-grouped pass — no join, no global sort."""
    from stockmarket_bigdata_project_spark.operators.timeseries import (
        suppression_window_dedup,
    )

    plan = _plan(suppression_window_dedup(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "hashpartitioning(o_custkey" in plan, plan


def test_weighted_median_single_group_exchange(spark, sf_dir):
    """The weighted median must stay one hash exchange on the group key
    with a within-group sort for the range-frame window — no join, no
    global range partitioning."""
    from stockmarket_bigdata_project_spark.operators.stats import (
        weighted_median_prices,
    )

    plan = _plan(weighted_median_prices(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "hashpartitioning(l_returnflag" in plan, plan


def test_ccnet_sampled_buckets_no_global_sort(spark, sf_dir):
    """The sampled-cutoff CCNet bucketing must never sort the corpus: the
    only aggregates are hash aggregates (sort_array is an expression, not
    a plan Sort), the cutoff row joins back as a broadcast, and no
    RangePartitioning appears anywhere — the exact global-ntile twin
    (lm_perplexity_buckets) is the form that dies at 100 TB, and this plan
    pin keeps its replacement honest."""
    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        lm_ccnet_buckets_sampled,
    )

    plan = _plan(lm_ccnet_buckets_sampled(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Sort [" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


# --- round-5 additions -------------------------------------------------------
def test_line_dedup_single_line_hash_exchange(spark, sf_dir):
    """line_dedup_stats: lines reduce to md5 map-side; corpus shuffles
    exactly twice (line hash for count+rank, doc_id for the fold) — no
    global sort, no cartesian, and the raw text column never reaches an
    exchange (only the 32-char hash does)."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        line_dedup_stats,
    )

    plan = _plan(line_dedup_stats(spark, sf_dir))
    assert "hashpartitioning(h" in plan, plan
    assert "hashpartitioning(doc_id" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_pq_codes_broadcast_codebook_no_window(spark, sf_dir):
    """pq_codes: the codebook joins by broadcast (never a shuffled join),
    and assignment is a partial-aggregated min(struct) — no window sort,
    no range partitioning."""
    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        pq_codes,
    )

    plan = _plan(pq_codes(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final


def test_pq_adc_search_never_joins_raw_vectors(spark, sf_dir):
    """pq_adc_topk: search cost is codes × broadcast LUT — the only joins
    are broadcasts, the top-k window partitions by query_id (no global
    sort), and no cartesian anywhere."""
    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        pq_adc_topk,
    )

    plan = _plan(pq_adc_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(query_id" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_induced_stopwords_take_ordered_and_broadcast(spark, sf_dir):
    """induced_stopword_density: the stopword cut is a distributed
    TakeOrderedAndProject (never a global sort), membership is a
    broadcast equi-join (never an interpreted per-element HOF or a
    shuffled join), and no range partitioning anywhere."""
    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        induced_stopword_density,
    )

    plan = _plan(induced_stopword_density(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan


def test_ivf_pq_search_prunes_before_codes_join(spark, sf_dir):
    """ivf_pq_topk: the only join allowed to shuffle is the
    candidate × codes equi-join on vec_id (the index-scan the search is
    supposed to pay); probes, centroids, LUT and codebook all broadcast;
    no cartesian on the corpus, no range partitioning, no sort aggregate
    (the coarse argmin stays a packed-BIGINT hash aggregate)."""
    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        ivf_pq_topk,
    )

    plan = _plan(ivf_pq_topk(spark, sf_dir))
    # formatted explain names each operator twice (tree + detail header):
    # one SMJ operator ⇒ two occurrences of the string
    assert plan.count("SortMergeJoin") <= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "SortAggregate" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_winnowing_single_exchange(spark, sf_dir):
    """winnowing_fingerprints: grams explode map-side, the window and the
    closing DISTINCT share ONE hashpartitioning(doc_id) exchange — no
    second shuffle, no range partitioning, no join anywhere."""
    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        winnowing_fingerprints,
    )

    plan = _plan(winnowing_fingerprints(spark, sf_dir))
    assert plan.count("Exchange") <= 2, plan  # tree + detail of ONE node
    assert "hashpartitioning(doc_id" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Join" not in plan, plan


def test_source_quality_report_never_shuffles_text(spark, sf_dir):
    """source_quality_report: hash/quality/token projections happen in the
    scan stage, so the dedup-window and per-source exchanges carry only
    (hash, ids, ints) — at 100 TB the corpus text streams through map-side
    once and never crosses an exchange."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        source_quality_report,
    )

    plan = _plan(source_quality_report(spark, sf_dir))
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)
    assert "CartesianProduct" not in plan, plan
    assert "Join" not in plan, plan  # dedup via window, not self-join


def test_corpus_token_histogram_is_one_tiny_aggregate(spark, sf_dir):
    """corpus_token_histogram: bucket assignment is map-side integer CASE;
    the only exchange carries (bucket, partial agg) rows — ≤ 21 groups at
    any corpus size — and partial aggregation must survive so the shuffle
    stays KB-sized at 100 TB."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        corpus_token_histogram,
    )

    plan = _plan(corpus_token_histogram(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


def test_lateral_topn_decorrelates_to_window_group_limit(spark, sf_dir):
    """lateral_topn_orders: the correlated LATERAL LIMIT must decorrelate
    to a rank window with WindowGroupLimit (the per-group top-k cut applied
    BEFORE the exchange), joined back by broadcast — never a per-customer
    re-scan (BroadcastNestedLoopJoin/CartesianProduct)."""
    from stockmarket_bigdata_project_spark.operators.analytics import (
        lateral_topn_orders,
    )

    plan = _plan(lateral_topn_orders(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_eval_counts_never_shuffle_text(spark, sf_dir):
    """lsh_eval_precision_recall: truth/candidate/hit counting reuses the
    shingle inverted index and the banded candidate join — every exchange
    carries (hash, doc_id, count) rows; the three 1-row count relations
    cross via broadcast, never a data-sized cartesian."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        lsh_eval_precision_recall,
    )

    plan = _plan(lsh_eval_precision_recall(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


# --- round-7 second batch ----------------------------------------------------
def test_zorder_skipping_is_sort_free_single_aggregate(spark, sf_dir):
    """The z-value/file assignment must stay pure map-side arithmetic —
    contiguous z-division, never an ntile/global sort — with one ≤256-group
    hash aggregate on top."""
    from stockmarket_bigdata_project_spark.sources.bucketing import (
        zorder_skipping_report,
    )

    plan = _plan(zorder_skipping_report(spark, sf_dir))
    assert "Sort" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 2, plan  # tree line + detail block


def test_atr_bands_single_key_exchange(spark, sf_dir):
    """lag + both rolling sums must ride ONE hashpartitioning(l_suppkey)
    exchange above the OHLCV aggregate — no extra shuffle per window."""
    from stockmarket_bigdata_project_spark.operators.finance import (
        atr_bands_exact,
    )

    plan = _plan(atr_bands_exact(spark, sf_dir))
    assert plan.lower().count("hashpartitioning(l_suppkey") <= 4, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "SinglePartition" not in plan, plan


def test_band_skew_report_no_text_shuffle(spark, sf_dir):
    """The band-load audit shuffles (band, sig) rows and hashes — document
    text must be consumed in the scan stage, never cross an exchange."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        minhash_band_skew_report,
    )

    plan = _plan(minhash_band_skew_report(spark, sf_dir))
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_token_budget_curve_single_source_exchange(spark, sf_dir):
    """ntile + decile rollup + cumulative sum must all ride the ONE
    hashpartitioning(source) exchange; no global sort of the corpus."""
    from stockmarket_bigdata_project_spark.llmdata.sampling import (
        source_token_budget_curve,
    )

    plan = _plan(source_token_budget_curve(spark, sf_dir))
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.lower().count("hashpartitioning(source") >= 1, plan


def test_skyline_two_phase_global_pass_after_local_prune(spark, sf_dir):
    """The global single-partition window may exist (it runs over the
    pruned sliver), but the FACT table itself must never be globally
    sorted or range-partitioned — and since r11 the plan is join-free:
    both frontier phases are shared-sort window functions, so no
    broadcast/join node of any kind may appear (this deleted the
    broadcast-budget lint's skyline exception)."""
    from stockmarket_bigdata_project_spark.operators.analytics import (
        skyline_two_phase_orders,
    )

    plan = _plan(skyline_two_phase_orders(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    # exactly two Window phases: local (pb-partitioned) then global
    assert plan.count("Window") >= 2, plan


# --- round-7 third batch -----------------------------------------------------
def test_try_arithmetic_is_map_side_only(spark, sf_dir):
    from stockmarket_bigdata_project_spark.functions.scalar import (
        try_arithmetic_functions,
    )

    plan = _plan(try_arithmetic_functions(spark, sf_dir))
    assert "Exchange" not in plan, plan  # pure scan→project


def test_candlestick_and_gaps_share_single_key_exchange(spark, sf_dir):
    """Pattern flags / gap arithmetic must ride the one
    hashpartitioning(l_suppkey) exchange above the OHLCV aggregate; the
    per-supplier rollup reuses the same partitioning map-side."""
    from stockmarket_bigdata_project_spark.operators.finance import (
        candlestick_patterns,
        trading_gap_report,
    )

    for fn in (candlestick_patterns, trading_gap_report):
        plan = _plan(fn(spark, sf_dir))
        assert "rangepartitioning" not in plan.lower(), plan
        assert "SinglePartition" not in plan, plan


def test_leadlag_xcorr_fans_out_dimension_not_fact(spark, sf_dir):
    """The 5-lag fan-out must hit the date DIMENSION (explode over the
    market table), never the fact side; the trading-day index is the only
    single-partition window (dimension-sized); no nested-loop joins."""
    from stockmarket_bigdata_project_spark.operators.finance import (
        leadlag_xcorr,
    )

    plan = _plan(leadlag_xcorr(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the explode (Generate) must sit above the market aggregate, which
    # consumes only (trade_date, m_units) — never the lineitem fact scan
    assert "Generate" in plan, plan


# --- round-7 fourth batch ----------------------------------------------------
def test_sparse_cosine_text_never_shuffles(spark, sf_dir):
    """The posting join carries (doc_id, term-hash-sized strings, tf);
    document text must be consumed in the scan stage — and the pair join
    must be an equi-join on term, never a cartesian."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        sparse_cosine_pairs,
    )

    plan = _plan(sparse_cosine_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_novelty_reuses_single_shingle_exchange(spark, sf_dir):
    """first-occurrence aggregate and the join back ride the SAME shingle
    partitioning; no global sort, no text in any exchange."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        ngram_novelty_score,
    )

    plan = _plan(ngram_novelty_score(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower(), plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_wau_fans_out_pairs_not_events(spark, sf_dir):
    """The 7-day fan-out must sit ABOVE the (user, day) dedup aggregate —
    the Generate's input is the deduped pair relation, so the explode cost
    is |pairs|·7, never |events|·7 — and the observed-days filter is a
    broadcast semi-join."""
    from stockmarket_bigdata_project_spark.operators.analytics import (
        rolling_weekly_active_users,
    )

    plan = _plan(rolling_weekly_active_users(spark, sf_dir))
    assert "Generate" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the explode consumes the aggregated pair relation, not the raw scan:
    # a HashAggregate must appear BELOW the Generate in the tree (higher id)
    import re

    gen = re.search(r"\((\d+)\) Generate", plan)
    aggs = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) HashAggregate", plan)]
    assert gen and any(a > int(gen.group(1)) for a in aggs), plan


def test_containment_and_ed_reuse_staged_candidates(spark, sf_dir):
    """Both second-opinion verifiers (containment, edit distance) must
    consume the STAGED candidate/overlap relations (InMemoryRelation in
    the plan) — never rebuild the shingle→minhash→band pipeline — and the
    pair-onto-dimension joins must stay hash/broadcast (no cartesian)."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        edit_distance_verified_pairs,
        minhash_containment_pairs,
    )

    for fn in (minhash_containment_pairs, edit_distance_verified_pairs):
        plan = _plan(fn(spark, sf_dir))
        assert "InMemoryRelation" in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_obv_rides_supplier_partitioning(spark, sf_dir):
    """OBV's lag + running sum share the (l_suppkey) window partitioning:
    no global sort (rangepartitioning/SinglePartition) anywhere — at scale
    the running sum is per-supplier state, never a total order."""
    from stockmarket_bigdata_project_spark.operators.finance import (
        obv_indicator,
    )

    plan = _plan(obv_indicator(spark, sf_dir))
    assert "rangepartitioning" not in plan.lower(), plan
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(l_suppkey" in plan, plan


# --- round-8 additions --------------------------------------------------------
def test_semdedup_ann_no_unbounded_cartesian(spark, sf_dir):
    """The ANN twin's cross joins touch only BOUNDED relations (the 1-row
    k/g and the g ≈ √k coarse centroids); the corpus side must never
    enter an unbounded cartesian, and both argmax stages must be
    partial+final max(struct) aggregates (map-side collapse of the probe
    fan-out), not windows."""
    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        semdedup_survivors_ann,
    )

    plan = _plan(semdedup_survivors_ann(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "partial_max" in plan, plan


def test_semdedup_ann_fine_map_join_not_hint_broadcast(spark, sf_dir):
    """The k-row fine-centroid map grows linearly with the corpus
    (k ∝ n), so its join onto the vectors must NOT be a hint-forced
    broadcast (the r8-verdict scale bug). With auto-broadcast disabled,
    a hint would still produce a BroadcastHashJoin keyed on coarse_id;
    the unhinted plan must fall back to a shuffle join on coarse_id."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        semdedup_survivors_ann,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan_simple(semdedup_survivors_ann(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert not re.search(r"BroadcastHashJoin \[coarse_id", plan), plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin) \[coarse_id", plan
    ), plan


def test_dedup_aware_shards_component_join_not_hint_broadcast(spark, sf_dir):
    """The near-dup component relation is ∝ duplicated docs — a large
    corpus fraction on dup-heavy crawls — so the doc_id equi-join must
    not be hint-forced broadcast (the r8-verdict scale bug): with
    auto-broadcast disabled the plan must fall back to a shuffle join on
    doc_id (AQE may still choose broadcast at runtime from actual sizes,
    which is the intended behavior)."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.sampling import (
        dedup_aware_shards,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan_simple(dedup_aware_shards(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    m = re.search(r"BroadcastHashJoin \[doc_id[^\n]*LeftOuter", plan)
    assert not m, plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin) \[doc_id[^\n]*LeftOuter", plan
    ), plan


def test_capped_buckets_report_no_text_shuffle(spark, sf_dir):
    """Same contract as the skew report it twins: exchanges carry (band,
    sig) rows and counts — document text never crosses an exchange."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        lsh_capped_buckets_report,
    )

    plan = _plan(lsh_capped_buckets_report(spark, sf_dir))
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_fuzzy_decontam_leak_safe_shape(spark, sf_dir):
    """decontam_fuzzy_pairs (r9 leak-safe form) builds its own bench×train
    candidate join rather than riding the capped dedup pair relation: the
    plan must contain no cartesian, the only row_number window must
    partition on the (band, sig) bucket of the BENCH side (the rank
    truncation), and document text must never cross an exchange."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.decontam import (
        decontam_fuzzy_pairs,
    )

    plan = _plan(decontam_fuzzy_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "row_number" in plan, plan  # the bench-side rank truncation
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_source_overlap_bounded_fanout_shape(spark, sf_dir):
    """source_shingle_overlap: the shingle self-join must be a hash join
    on the shingle key (fan-out bounded by |sources| per shingle), the
    per-source totals must reach the result via broadcast, and no global
    sort/cartesian may appear."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        source_shingle_overlap,
    )

    plan = _plan(source_shingle_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_minhash_indexed_reads_stored_index(spark, sf_dir):
    """The stored-index twin's per-batch plan must (a) read the corpus
    band table from the BUCKETED index and the hot set from its stored
    table — never rebuild them; (b) build minhash signatures for the
    batch slice only: every modulo filter in the plan is the batch
    predicate, and the corpus-complement filter (NOT batch — the index
    builder's signature) must be absent; (c) keep document text out of
    every exchange."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        _indexed_candidates,
        incremental_minhash_indexed,
    )

    # candidate subplan (pre-checkpoint): the index-vs-rebuild property
    plan = _plan(_indexed_candidates(spark, sf_dir))
    assert "lsh_band_idx" in plan, plan
    assert "lsh_hot_idx" in plan, plan
    assert "Bucketed: true" in plan, plan
    assert "SelectedBucketsCount" in plan, plan
    mods = re.findall(r"Condition : [^\n]*% 10\)[^\n]*", plan)
    assert mods and all("= 7" in c for c in mods), mods
    assert all("NOT" not in c for c in mods), mods
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)
    # full query: text still never crosses an exchange
    full = _plan(incremental_minhash_indexed(spark, sf_dir))
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", full):
        assert "text" not in m.group(1), m.group(0)


def test_incremental_minhash_no_text_shuffle(spark, sf_dir):
    """The incremental near-dedup join moves (band, sig) rows and shingle
    hashes — document text must stay in the scan stage (the per-batch-cost
    claim dies if the corpus text ever crosses an exchange)."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        incremental_minhash_new_docs,
    )

    plan = _plan(incremental_minhash_new_docs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_incremental_semdedup_indexed_reads_stored_index(spark, sf_dir):
    """The stored-index SemDeDup twin's per-batch plan must (a) read the
    coarse/fine-map/corpus-assignment tables — never re-run the corpus
    embedding pipeline (every embeddings-scan modulo filter is the batch
    predicate, the index builder's corpus-complement filter is absent);
    (b) scan the corpus assignment through its BUCKETED layout; (c) not
    hint-broadcast the k-row fine map (k ∝ n): with auto-broadcast
    disabled the coarse_id join must fall back to a shuffle join —
    only the √k-row coarse table is legitimately hint-broadcast."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        incremental_semdedup_indexed,
    )

    plan = _plan(incremental_semdedup_indexed(spark, sf_dir))
    assert "sem_coarse_" in plan, plan
    assert "sem_fmap_" in plan, plan
    assert "sem_corpus_" in plan, plan
    mods = re.findall(r"Condition : [^\n]*% 10\)[^\n]*", plan)
    assert mods and all("= 7" in c for c in mods), mods
    assert all("NOT" not in c for c in mods), mods
    assert "partial_max" in plan, plan  # argmaxes collapse map-side

    # at toy SF the tiny batch side broadcasts, so the planner rightly
    # disables the bucketed scan; the 100 TB shape — bucketed corpus scan
    # feeding a sort-merge join with the exchange on the BATCH side only —
    # must appear once size-based broadcast is off
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fmt = _plan(incremental_semdedup_indexed(spark, sf_dir))
        simple = _plan_simple(incremental_semdedup_indexed(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in fmt, fmt
    assert not re.search(r"BroadcastHashJoin \[coarse_id", simple), simple
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin) \[coarse_id", simple
    ), simple
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[bucket", simple), simple


def test_incremental_decontam_indexed_reads_stored_index(spark, sf_dir):
    """Per-batch decontamination must read the STORED benchmark gram
    index — the benchmark n-gram pipeline must not run in the per-batch
    plan: the index table is scanned, every bench-modulo condition in the
    plan is the NEGATED batch-side exclusion (NOT % 13 = 0), and the
    batch slice filter is the family's % 10 = 7 predicate. The broadcast
    of the gram index is sound at any corpus size (payload ∝ the fixed
    benchmark suite) — asserted present so a future edit doesn't silently
    turn it into a corpus shuffle."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.decontam import (
        incremental_decontam_indexed,
    )

    plan = _plan(incremental_decontam_indexed(spark, sf_dir))
    assert "bench_grams_" in plan, plan
    mods10 = re.findall(r"% 10\)[^\n]*", plan)
    assert mods10 and all("= 7" in c for c in mods10), mods10
    for m in re.finditer(r"[^\n]*% 13\)[^\n]*", plan):
        assert "NOT" in m.group(0), m.group(0)
    assert "BroadcastHashJoin" in plan, plan


def test_incremental_dedup_indexed_reads_stored_index(spark, sf_dir):
    """The exact-dedup stored-index twin's per-batch plan must read the
    bucketed corpus hash index — never re-hash the corpus: the index
    table is scanned, every modulo filter is the batch predicate (= 7,
    no corpus-complement NOT), and with size-based broadcast off the
    text_hash join is a sort-merge join over the BUCKETED index scan
    with no exchange on the index side."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        incremental_dedup_indexed,
    )

    plan = _plan(incremental_dedup_indexed(spark, sf_dir))
    assert "exact_hash_idx_" in plan, plan
    mods = re.findall(r"Condition : [^\n]*% 10\)[^\n]*", plan)
    assert mods and all("= 7" in c for c in mods), mods
    assert all("NOT" not in c for c in mods), mods

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fmt = _plan(incremental_dedup_indexed(spark, sf_dir))
        simple = _plan_simple(incremental_dedup_indexed(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in fmt, fmt
    assert "BroadcastHashJoin" not in simple, simple
    assert re.search(r"SortMergeJoin \[text_hash", simple), simple


def test_incremental_semdedup_new_docs_plan_shape(spark, sf_dir):
    """The flat shape-proof form: centroid argmaxes must collapse
    map-side (partial max(struct), never a window over the n·k fan-out),
    the only cross joins are the documented broadcast ones (k-row
    centroids + 1-row count), and the batch/corpus modulo split reaches
    the embeddings scan."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        incremental_semdedup_new_docs,
    )

    plan = _plan(incremental_semdedup_new_docs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "partial_max" in plan, plan
    assert re.search(r"% 10\)[^\n]*= 7", plan), plan  # batch side
    assert re.search(r"NOT [^\n]*% 10\)[^\n]*= 7", plan), plan  # corpus side


# --- round-10 additions: the r9-verdict corpus-fraction broadcast class ------
def _no_hint_broadcast(spark, df_fn, key: str, join_type: str) -> None:
    """Shared pin for the r9-verdict class: with auto-broadcast disabled a
    hint-forced broadcast would STILL plan BroadcastHashJoin, so the
    unhinted site must fall back to a shuffle join on ``key`` — AQE may
    re-choose broadcast at runtime from actual sizes, which is the
    intended behavior for payloads that are only SOMETIMES small.

    The staged memo is cleared first: if an earlier test materialized a
    staged relation, Spark's CacheManager substitutes the cached
    InMemoryRelation into the fresh plan, and the cached entry's FROZEN
    final plan can embed a runtime-AQE-chosen BroadcastHashJoin from a
    broadcast-enabled run — a legitimate size-based decision this pin
    must not read as a hint."""
    import re

    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        clear_staged_memo,
    )

    clear_staged_memo()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan_simple(df_fn())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    bad = re.search(
        rf"BroadcastHashJoin \[{key}[^\n]*{join_type}", plan
    )
    assert not bad, plan
    assert re.search(
        rf"(SortMergeJoin|ShuffledHashJoin) \[{key}[^\n]*{join_type}", plan
    ), plan


def test_shingle_verification_semi_join_not_hint_broadcast(spark, sf_dir):
    """_shingles_df(doc_filter): the candidate-doc semi-filter feeding
    every near-dedup verification stage is ∝ near-dup docs — a corpus
    fraction on dup-heavy crawls — so it must not be hint-forced
    broadcast (r9-verdict What's-wrong #6)."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        _build_candidate_overlap,
    )

    _no_hint_broadcast(
        spark, lambda: _build_candidate_overlap(spark, sf_dir),
        "doc_id", "LeftSemi",
    )


def test_substring_rewrite_covered_join_not_hint_broadcast(spark, sf_dir):
    """substring_dedup_rewrite: the covered-position relation is
    ∝ duplicated spans with integer-set payloads — the heaviest
    corpus-fraction broadcast in the repo (r9-verdict #1)."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        substring_dedup_rewrite,
    )

    _no_hint_broadcast(
        spark, lambda: substring_dedup_rewrite(spark, sf_dir),
        "doc_id", "LeftOuter",
    )


def test_softdedup_membership_join_not_hint_broadcast(spark, sf_dir):
    """softdedup_weights: near-dup membership is commonly 20-50 % of real
    crawls — never hint-broadcast it (r9-verdict #2)."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        softdedup_weights,
    )

    _no_hint_broadcast(
        spark, lambda: softdedup_weights(spark, sf_dir),
        "doc_id", "LeftOuter",
    )


def test_leakage_repair_loser_join_not_hint_broadcast(spark, sf_dir):
    """split_leakage_repair: the loser set is ∝ |val∪test ∩ near-dup
    docs| — a corpus fraction under fractional hash splits (r9-verdict
    #3)."""
    from stockmarket_bigdata_project_spark.llmdata.sampling import (
        split_leakage_repair,
    )

    _no_hint_broadcast(
        spark, lambda: split_leakage_repair(spark, sf_dir),
        "doc_id", "LeftOuter",
    )


def test_decontam_stats_join_not_hint_broadcast(spark, sf_dir):
    """decontam_stats: contamination is the quantity being measured — on
    leak-heavy corpora it is unbounded (r9-verdict #4)."""
    from stockmarket_bigdata_project_spark.llmdata.decontam import (
        decontam_stats,
    )

    _no_hint_broadcast(
        spark, lambda: decontam_stats(spark, sf_dir),
        "doc_id", "LeftOuter",
    )


def test_boilerplate_strip_covered_join_not_hint_broadcast(spark, sf_dir):
    """boilerplate_strip: the K-gram cap bounds the strip LIST, not the
    hit set — boilerplate grams hit a large doc fraction by definition
    (r9-verdict #5)."""
    from stockmarket_bigdata_project_spark.llmdata.decontam import (
        boilerplate_strip,
    )

    _no_hint_broadcast(
        spark, lambda: boilerplate_strip(spark, sf_dir),
        "doc_id", "LeftOuter",
    )


# --- round-11 additions: the r10-verdict SF-scaling dim-table hint class -----
def test_q7_dim_joins_not_hint_broadcast(spark, sf_dir):
    """nation_trade_balance_q7: customer and supplier scale linearly with
    SF (≈150k/10k × SF — multi-billion-row at 100 TB), so neither may be
    hint-forced broadcast; AQE re-chooses broadcast from actual sizes
    (r10-verdict What's-wrong #1)."""
    from stockmarket_bigdata_project_spark.operators.decision_support import (
        nation_trade_balance_q7,
    )

    _no_hint_broadcast(
        spark, lambda: nation_trade_balance_q7(spark, sf_dir),
        "l_suppkey", "Inner",
    )
    _no_hint_broadcast(
        spark, lambda: nation_trade_balance_q7(spark, sf_dir),
        "o_custkey", "Inner",
    )


def test_q10_customer_join_not_hint_broadcast(spark, sf_dir):
    """returned_item_losses_q10: the customer dim join must fall back to a
    shuffle join when broadcast is disabled (r10-verdict #1)."""
    from stockmarket_bigdata_project_spark.operators.decision_support import (
        returned_item_losses_q10,
    )

    _no_hint_broadcast(
        spark, lambda: returned_item_losses_q10(spark, sf_dir),
        "o_custkey", "Inner",
    )


def test_star_probe_part_join_not_hint_broadcast(spark, sf_dir):
    """revenue_by_brand / small_quantity_revenue: part is an SF-scaling dim
    (≈200k × SF rows) — the star probe joins unhinted (r10-verdict #1)."""
    from stockmarket_bigdata_project_spark.operators.analytics import (
        small_quantity_revenue,
    )
    from stockmarket_bigdata_project_spark.operators.joins import (
        revenue_by_brand,
    )

    _no_hint_broadcast(
        spark, lambda: revenue_by_brand(spark, sf_dir), "l_partkey", "Inner"
    )
    _no_hint_broadcast(
        spark, lambda: small_quantity_revenue(spark, sf_dir),
        "l_partkey", "Inner",
    )


def test_q3_customer_join_not_hint_broadcast(spark, sf_dir):
    from stockmarket_bigdata_project_spark.operators.analytics import (
        shipping_priority,
    )

    _no_hint_broadcast(
        spark, lambda: shipping_priority(spark, sf_dir), "o_custkey", "Inner"
    )


def test_decision_support_dim_dehint_join_strategy_invariance(spark, sf_dir):
    """The two heaviest de-hinted decision-support queries must return
    bit-identical rows whether AQE broadcasts the dims (default) or the
    joins run as shuffle joins (broadcast disabled) — the de-hint changed
    the physical strategy space only, never values (r10-verdict task 1
    spot-check)."""
    from stockmarket_bigdata_project_spark.operators.decision_support import (
        nation_trade_balance_q7,
        returned_item_losses_q10,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for fn in (nation_trade_balance_q7, returned_item_losses_q10):
        base = sorted(map(tuple, fn(spark, sf_dir).collect()))
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            shuffled = sorted(map(tuple, fn(spark, sf_dir).collect()))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert shuffled == base, f"{fn.__name__}: join strategy changed values"


def test_streaming_static_join_strategy_invariance(spark, sf_dir):
    """streaming_static_join lost its forced customer broadcast (r10-verdict
    #1: customer ∝ SF). Micro-batch planning under disabled auto-broadcast
    must produce the same joined rows — the stream-static join is
    strategy-invariant, and at SFs where the dim fits AQE still broadcasts
    it per batch without the hint."""
    from stockmarket_bigdata_project_spark.streaming.pipelines import (
        streaming_static_join,
    )

    base = sorted(map(tuple, streaming_static_join(spark, sf_dir).collect()))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffled = sorted(
            map(tuple, streaming_static_join(spark, sf_dir).collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert shuffled == base


def test_incremental_dedup_joins_are_runtime_bloom_eligible(spark, sf_dir):
    """At 100 TB Spark's runtime bloom-filter injection (on by default,
    gated on spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold
    = 10 GB) pre-filters the corpus-index scan with a bloom built from the
    BATCH side's join keys — the classic bloom-gated incremental-dedup
    shape, for free. The toy-SF scans never reach the gate, so this pin
    lowers it to 0 and asserts the optimizer actually injects
    bloom_filter_agg → might_contain into BOTH incremental exact-dedup
    plans (rebuild form and stored-index form), and that the bloom's
    creation side is the batch slice (the modulo-7 filter), not the
    corpus. Values must be unchanged by the injection."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        incremental_dedup_indexed,
        incremental_dedup_new_docs,
    )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        baseline = {
            fn.__name__: sorted(map(tuple, fn(spark, sf_dir).collect()))
            for fn in (incremental_dedup_new_docs, incremental_dedup_indexed)
        }
        for k, v in confs.items():
            spark.conf.set(k, v)
        for fn in (incremental_dedup_new_docs, incremental_dedup_indexed):
            plan = _plan_simple(fn(spark, sf_dir))
            assert "might_contain" in plan, plan
            assert "bloom_filter_agg" in plan, plan
            filtered = sorted(map(tuple, fn(spark, sf_dir).collect()))
            assert filtered == baseline[fn.__name__], (
                f"{fn.__name__}: runtime bloom filter changed values"
            )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_minhash_indexed_join_is_runtime_bloom_eligible(spark, sf_dir):
    """r10-verdict task 3, minhash family: under the lowered scan gate the
    stored-index batch join (batch band structs ⋈ bucketed corpus band
    index on (band, sig)) must receive runtime bloom injection — at
    production scan sizes the batch-built bloom pre-filters the
    corpus-index scan before the join, so the per-batch index touch drops
    from "scan the whole compact index" to "scan ∝ batch buckets".
    Values must be unchanged by the injection."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        incremental_minhash_indexed,
    )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        baseline = sorted(
            map(tuple, incremental_minhash_indexed(spark, sf_dir).collect())
        )
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = _plan_simple(incremental_minhash_indexed(spark, sf_dir))
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        filtered = sorted(
            map(tuple, incremental_minhash_indexed(spark, sf_dir).collect())
        )
        assert filtered == baseline, "runtime bloom filter changed values"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_semdedup_and_decontam_indexed_bloom_ineligible_by_shape(spark, sf_dir):
    """r10-verdict task 3, the two families whose stored-index joins do NOT
    qualify for runtime bloom injection — pinned so the written cause
    stays true if Spark's InjectRuntimeFilter ever widens:

    * incremental_semdedup_indexed — the creation-side join key (bucket)
      is COMPUTED by the two-level ANN argmax aggregate over the batch,
      not a filtered scan attribute, and InjectRuntimeFilter only builds
      blooms from simple selective-scan creation sides (verified: raising
      creationSideThreshold to 100 GB still injects nothing, so the
      rejection is structural, not a size estimate). The scale story
      doesn't need the bloom: the corpus side is a bucketed table joined
      with no exchange, and per-batch probe cost is |batch|·E[cluster]
      by the k ∝ n rule.
    * incremental_decontam_indexed — the application-side key (gram) is
      produced by the n-gram EXPLODE over batch text, so there is no
      scan column a bloom could prune; and the index side is the
      corpus-independent bench-gram broadcast, which already filters
      map-side at probe time — a bloom would be redundant with the
      broadcast hash join itself."""
    from stockmarket_bigdata_project_spark.llmdata.decontam import (
        incremental_decontam_indexed,
    )
    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        incremental_semdedup_indexed,
    )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for fn in (incremental_semdedup_indexed, incremental_decontam_indexed):
            plan = _plan_simple(fn(spark, sf_dir))
            assert "might_contain" not in plan, (
                f"{fn.__name__}: InjectRuntimeFilter now fires on this shape "
                "— delete this pin and add a positive bloom pin instead\n"
                + plan
            )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


# --- round-13 introductions: the scale claims in their docstrings -------------
def test_quality_calibration_single_bucket_exchange(spark, sf_dir):
    """quality_calibration_buckets claims one map-side expression pass and
    a single ≤10-group hash aggregate: exactly one exchange (on bucket),
    no join, no Python stage, no global sort — the whole query must stay
    scan-bound at 100 TB."""
    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        quality_calibration_buckets,
    )

    plan = _plan(quality_calibration_buckets(spark, sf_dir))
    assert plan.count("Exchange") == 2, plan  # tree line + detail block
    assert "hashpartitioning(bucket" in plan, plan
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_direction_auc_no_joins_no_global_sort(spark, sf_dir):
    """direction_auc claims a join-free, global-sort-free shape: every
    exchange hashpartitions the DAILY (per-key aggregated) relation on
    l_suppkey-led keys — never the fact table a second time, never a
    range partitioning (which would serialize a global sort). Three
    exchanges today: the OHLCV aggregate's (key, day), the feature
    window's (key), and one (key) re-shuffle after the Arrow inference
    stage (ArrowEvalPython does not propagate child partitioning); if
    Spark learns to propagate it, this pin's count drops — tighten it."""
    from stockmarket_bigdata_project_spark.ml import direction_auc

    plan = _plan(direction_auc(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") == 6, plan  # 3 exchanges × (tree+detail)
    import re

    for args in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert args.startswith("l_suppkey"), plan


def test_stored_hot_set_shuffle_anti_executes_when_nonempty(
    spark, sf_dir, monkeypatch
):
    """Wave-9b closure (PERFORMANCE.md r13): at every bench SF the STORED
    hot set is empty, so under forced no-broadcast AQE empty-relation-
    propagates the de-hinted anti-join away before it can demonstrate the
    fallback. Shrink the cap so the stored hot set is NON-empty (sf0.001
    corpus side has 7 buckets above cap=2), then prove the fallback on
    the real stored-index path: with broadcast disabled at BOTH planner
    and AQE level, the hot-set anti-join EXECUTES as a non-broadcast
    LeftAnti against the stored table, and the candidate rows are
    IDENTICAL to the default-regime run (strategy invariance)."""
    from stockmarket_bigdata_project_spark import scratch
    from stockmarket_bigdata_project_spark.llmdata import dedup

    monkeypatch.setattr(dedup, "LSH_BUCKET_CAP", 2)
    scratch.clear_prepared_indexes()
    dedup.clear_staged_memo()
    try:
        _bt, ht = dedup._ensure_lsh_index(spark, sf_dir)
        assert spark.table(ht).count() > 0, "cap=2 must mint hot buckets"

        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        base = rows(dedup._indexed_candidates(spark, sf_dir))
        assert base, "candidates must survive the cap for a non-trivial pin"
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        }
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            forced_df = dedup._indexed_candidates(spark, sf_dir)
            forced = rows(forced_df)
            plan = forced_df._jdf.queryExecution().executedPlan().toString()
            anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
            assert anti, f"anti-join eliminated despite non-empty hot set\n{plan}"
            assert not any("BroadcastHashJoin" in ln for ln in anti), plan
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert forced == base, "anti-join strategy changed the rows"
    finally:
        # drop the cap=2 memo so any later caller rebuilds the real index
        scratch.clear_prepared_indexes()
        dedup.clear_staged_memo()


def _with_confs(spark, confs):
    """(set, restore) runtime confs around a block — returns the restore
    closure so callers can try/finally without repeating the dance."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)

    def restore():
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    return restore


def test_hot_key_rollup_aqe_skew_split_executes(spark, tmp_path):
    """Wave-10 pin (r13 verdict task 1): the AQE skew-join split EXECUTES
    on hot_key_rollup's constructed input, and splitting does not change
    the values. AQE splits a skewed reduce partition by MAPPER ranges, so
    the fact side must arrive through >1 scan split — the testdata
    parquet is one row group (hence one mapper, unsplittable no matter
    the thresholds; measured in tools_scale_study.py --skew-join); this
    pin rewrites sf0.01 events into 500-row row groups to give the
    shuffle the mapper structure a production scan has, then forces the
    thresholds low enough that the ~50%-hot cell qualifies."""
    import pyarrow.parquet as pq

    from stockmarket_bigdata_project_spark.operators.skew import (
        hot_key_rollup,
    )

    d = str(tmp_path)
    for t, rg in (("events", 500), ("customer", 1 << 20)):
        pq.write_table(
            pq.read_table(f"/root/testdata/sf0.01/{t}.parquet"),
            f"{d}/{t}.parquet",
            row_group_size=rg,
        )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    base = rows(hot_key_rollup(spark, d))  # default regime: no forcing
    assert base, "constructed input must produce a non-empty rollup"
    restore = _with_confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.files.maxPartitionBytes": "32k",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "16k",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        },
    )
    try:
        df = hot_key_rollup(spark, d)
        split = rows(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin(skew=true)" in final, final
        assert any(
            "AQEShuffleRead" in ln and "skewed" in ln
            for ln in final.splitlines()
        ), final
    finally:
        restore()
    assert split == base, "skew split changed the rollup values"


def test_hot_key_rollup_salted_joins_on_salt(spark, sf_dir):
    """The salted twin's whole point is the shuffle key: under forced
    no-broadcast the join must be a SortMergeJoin whose keys include the
    salt (so the hot key's rows spread over HOT_SALT reducers), and no
    hint-forced broadcast may appear anywhere (the dim side is corpus-∝;
    tests/test_broadcast_budget.py lints the same statically)."""
    from stockmarket_bigdata_project_spark.operators.skew import (
        hot_key_rollup_salted,
    )

    restore = _with_confs(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        plan = _plan_simple(hot_key_rollup_salted(spark, sf_dir))
        join_lines = [
            ln for ln in plan.splitlines() if "SortMergeJoin" in ln
        ]
        assert join_lines, plan
        assert all("salt" in ln for ln in join_lines), plan
        assert "BroadcastExchange" not in plan, plan
    finally:
        restore()


def _op_count(plan: str, op: str) -> int:
    # operator-list entries look like "+- Generate (9)"; details repeat the
    # name as "(9) Generate" — count only the operator-list form
    return len(re.findall(rf"\b{op} \(\d+\)", plan))


def test_duplicate_spans_single_gram_pass(spark, sf_dir):
    """The positional gram explode must appear ONCE (window count), not once
    per side of an aggregate + join-back (the former shape had 2)."""
    from stockmarket_bigdata_project_spark.llmdata.dedup import duplicate_spans

    plan = _plan(duplicate_spans(spark, sf_dir))
    assert _op_count(plan, "Generate") == 1
    assert _op_count(plan, "Window") >= 1


def test_winnowing_candidates_two_fingerprint_passes(spark, sf_dir):
    """winnowing_dup_candidates: the fingerprint pipeline feeds the df-cap
    window ONCE and the self-join references that same capped relation on
    both sides (2 Generate total — one per self-join side; the former
    agg+join-back shape carried a third for the df count)."""
    from stockmarket_bigdata_project_spark.llmdata.textstats import (
        winnowing_dup_candidates,
    )

    plan = _plan(winnowing_dup_candidates(spark, sf_dir))
    assert _op_count(plan, "Generate") == 2
    assert _op_count(plan, "Window") >= 1
