"""The plan property bucketing exists for: a sort-merge join over co-bucketed
scans with ZERO shuffle exchanges anywhere in the plan (values are covered by
the oracle harness)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from stockmarket_bigdata_project_spark.sources.bucketing import (
    bucketed_join_orders_lineitem,
)


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    df = bucketed_join_orders_lineitem(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    # the whole point: no hash-partitioning exchange for join OR final agg —
    # both reuse the bucket layout
    assert "Exchange hashpartitioning" not in plan, plan
    assert df.count() > 0


def test_bucketed_join_rebuilds_after_cache_clear_and_drop(spark, sf_dir):
    """The bucketed pair goes through the shared stored-index cache: after
    clear_prepared_indexes() and a DROP TABLE of both tables, the next call
    rebuilds them instead of trusting a stale memo."""
    from stockmarket_bigdata_project_spark import scratch

    n = bucketed_join_orders_lineitem(spark, sf_dir).count()
    tag = scratch.table_tag(sf_dir)
    scratch.clear_prepared_indexes()
    for t in (f"orders_b_{tag}", f"lineitem_b_{tag}"):
        spark.sql(f"DROP TABLE {t}")
    assert bucketed_join_orders_lineitem(spark, sf_dir).count() == n


def test_dedup_aware_shards_bucketed_has_no_shuffle(spark, sf_dir):
    """The r8-verdict layout fix, pinned: shard assignment over co-bucketed
    (doc_id) tables must be a sort-merge join with ZERO exchanges — no
    broadcast of the component relation (the 100 TB OOM the hint forced)
    and no corpus shuffle either."""
    from stockmarket_bigdata_project_spark.llmdata.sampling import (
        dedup_aware_shards_bucketed,
    )

    df = dedup_aware_shards_bucketed(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert df.count() > 0


def test_compaction_reduces_files(spark, sf_dir, tmp_path):
    """The compaction rewrite must leave exactly ONE parquet file per month
    partition where the fragmented write left several."""
    import pyspark.sql.functions as F

    from stockmarket_bigdata_project_spark.catalog import load_table
    from stockmarket_bigdata_project_spark.functions.exact import dec_sum

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").alias("n_orders"), dec_sum("o_totalprice").alias("t"))
    )
    monthly = daily.withColumn("month", F.date_trunc("month", "day").cast("date"))
    frag = str(tmp_path / "frag")
    compacted = str(tmp_path / "compact")
    monthly.repartition(8).write.mode("overwrite").partitionBy("month").parquet(frag)
    spark.read.parquet(frag).repartition("month").write.mode("overwrite").partitionBy(
        "month"
    ).parquet(compacted)

    def files_per_partition(root):
        import pathlib

        counts = {}
        for p in pathlib.Path(root).glob("month=*/*.parquet"):
            counts[p.parent.name] = counts.get(p.parent.name, 0) + 1
        return counts

    before = files_per_partition(frag)
    after = files_per_partition(compacted)
    assert before and after and set(before) == set(after)
    assert max(before.values()) > 1, before  # fragmentation really happened
    assert set(after.values()) == {1}, after  # one file per partition
    # data unchanged
    assert (
        spark.read.parquet(compacted).agg(F.sum("n_orders")).collect()[0][0]
        == daily.agg(F.sum("n_orders")).collect()[0][0]
    )
