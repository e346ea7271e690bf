"""The schema cache of catalog.load_table: a cached read has the types an
inferred read has, starts no Spark job, and a rewritten file is inferred
again."""

from __future__ import annotations

import itertools
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from stockmarket_bigdata_project_spark import catalog

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
