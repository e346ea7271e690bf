"""catalog.load_table: the schema cache (a cached read has the types an
inferred read has, starts no Spark job, and a rewritten file is inferred
again) and the conditional scan fan-out (catalog._maybe_fanout fires exactly
for sub-split files above the dimension floor, never at production split
sizes, and keeps the scan's pushdown)."""

from __future__ import annotations

import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from stockmarket_bigdata_project_spark import catalog
from tests.conftest import SF_DIR_CORRECTNESS
from tests.test_plans import _plan

_groups = itertools.count()


def _jobs_started(spark, fn) -> int:
    """Number of Spark jobs fn() starts on this thread."""
    sc = spark.sparkContext
    group = f"schema_cache_test_{next(_groups)}"
    sc.setJobGroup(group, "catalog schema cache test")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cached_reads_keep_inferred_types(spark, sf_dir):
    for name in catalog.TABLES:
        raw = spark.read.parquet(catalog.table_path(sf_dir, name)).dtypes
        if name == "events":  # load_table's ts normalization
            raw = [(c, "timestamp" if c == "ts" else t) for c, t in raw]
        first = catalog.load_table(spark, sf_dir, name).dtypes
        second = catalog.load_table(spark, sf_dir, name).dtypes
        assert first == raw, name
        assert second == raw, name


def test_second_load_starts_no_job(spark, sf_dir, tmp_path):
    sf = str(tmp_path)
    shutil.copy(catalog.table_path(sf_dir, "orders"), catalog.table_path(sf, "orders"))
    # the first read infers the schema with a job (this also shows that the
    # job count sees the read's jobs)
    assert _jobs_started(spark, lambda: catalog.load_table(spark, sf, "orders")) >= 1
    assert _jobs_started(spark, lambda: catalog.load_table(spark, sf, "orders")) == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    sf = str(tmp_path)
    path = catalog.table_path(sf, "region")
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int64()), "r_name": ["A", "B"]}),
        path,
    )
    assert catalog.load_table(spark, sf, "region").dtypes == [
        ("r_regionkey", "bigint"), ("r_name", "string"),
    ]
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array([7], pa.int32()),
            "r_comment": ["x"],
            "r_weight": [0.5],
        }),
        path,
    )
    df = catalog.load_table(spark, sf, "region")
    assert df.dtypes == [
        ("r_regionkey", "int"), ("r_comment", "string"), ("r_weight", "double"),
    ]
    assert [tuple(r) for r in df.collect()] == [(7, "x", 0.5)]


# --- scan fan-out -----------------------------------------------------------

# sf0.1 sits next to the correctness SF; its lineitem is a sub-split fact file
SF01 = os.path.join(os.path.dirname(SF_DIR_CORRECTNESS), "sf0.1")


def test_size_conf_bytes_parses_spark_size_strings():
    f = catalog._size_conf_bytes
    assert f("134217728") == 134217728
    assert f("128m") == 128 * 1024 * 1024
    assert f("128MB") == 128 * 1024 * 1024
    assert f("1g") == 1024**3
    assert f("64k") == 64 * 1024
    assert f("garbage", default=7) == 7


def test_fanout_fires_only_between_floor_and_split(spark, tmp_path):
    """Floor ≤ size < one split → RoundRobin repartition; outside → no-op."""
    # supplier at sf0.1 is ~22 KiB (dimension floor) -> no fan-out
    small = catalog.load_table(spark, SF01, "supplier")
    assert "RoundRobinPartitioning" not in _plan(small)
    # lineitem at sf0.1 is ~10 MiB (sub-split fact) -> fan-out fires
    big = catalog.load_table(spark, SF01, "lineitem")
    plan = _plan(big)
    assert "RoundRobinPartitioning" in plan
    # ... to the cluster's parallelism
    assert f"RoundRobinPartitioning({spark.sparkContext.defaultParallelism})" in plan


def test_fanout_is_a_noop_at_production_split_sizes(spark, monkeypatch):
    """A file at least one split wide must NOT be repartitioned — the scan
    parallelizes itself at scale; this pins the no-op branch the 100 TB
    deployment rides."""
    path = catalog.table_path(SF01, "lineitem")
    real_getsize = os.path.getsize
    monkeypatch.setattr(
        os.path,
        "getsize",
        lambda p: 200 * 1024 * 1024 if p == path else real_getsize(p),
    )
    df = catalog.load_table(spark, SF01, "lineitem")
    assert "RoundRobinPartitioning" not in _plan(df)


def test_fanout_preserves_scan_pushdown(spark):
    """Filters and pruning must still reach the parquet scan below the
    fan-out exchange (guide §6: PushedFilters / ReadSchema)."""
    df = (
        catalog.load_table(spark, SF01, "lineitem")
        .filter(F.col("l_suppkey") == 7)
        .select("l_suppkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_suppkey), EqualTo(l_suppkey,7)]" in plan
    assert "l_extendedprice" not in plan  # pruned at the scan
