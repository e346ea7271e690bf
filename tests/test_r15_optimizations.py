"""Pins for the round-15 optimizations (guide §2.2 / §2.6).

Covers the scale-adaptive streaming state-partition derivation and the
parallel, mtime-stamped replay-dir build — the two internals the r15
streaming optimization changed. Streaming RESULTS are proven elsewhere
(every streaming query is value-level oracle-checked in test_oracle.py);
these tests pin the mechanics.
"""

from __future__ import annotations

import os

from stockmarket_bigdata_project_spark.streaming import pipelines as P


def test_stream_shuffle_partitions_derivation(spark, sf_dir):
    """Byte-derived count: floored for parallelism, capped by the session's
    configured (cluster-sized) value — a tiny replay shrinks state
    partitions, a 100 TB stream keeps the session count."""
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = P._stream_shuffle_partitions(spark, sf_dir)
    assert P._STREAM_MIN_PARTITIONS <= n
    assert n <= max(P._STREAM_MIN_PARTITIONS, session_parts)
    # the sf0.001 replay is KBs — far below one 64 MiB advisory partition —
    # so the byte derivation must bottom out at the floor, not the session
    # value (the whole point: state-store commits cost per partition)
    assert n == min(
        max(P._STREAM_MIN_PARTITIONS, 1), max(P._STREAM_MIN_PARTITIONS, session_parts)
    )


def test_stream_shuffle_partitions_python_stateful_floor(spark, sf_dir):
    """Python-stateful runs (applyInPandasWithState) are CPU-bound at the
    Arrow boundary: their floor scales with cores (cores//2), still capped
    by the session's configured count."""
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cores = spark.sparkContext.defaultParallelism
    n = P._stream_shuffle_partitions(spark, sf_dir, python_stateful=True)
    expected_floor = max(
        P._STREAM_MIN_PARTITIONS, min(cores // 2, session_parts)
    )
    assert n >= expected_floor
    assert n <= max(expected_floor, session_parts)


def test_replay_dir_slices_are_mtime_ordered_and_complete(spark, sf_dir):
    """The parallel build must preserve the replay contract: N_SLICES
    parquet files whose modification times strictly increase in slice
    (= event-time) order, together covering the whole events table."""
    from stockmarket_bigdata_project_spark.catalog import load_table

    rd = P.replay_dir(spark, sf_dir)
    files = sorted(
        f for f in os.listdir(rd) if f.endswith(".parquet")
    )
    assert len(files) == P.N_SLICES
    mtimes = [os.path.getmtime(os.path.join(rd, f)) for f in files]
    assert mtimes == sorted(mtimes)
    assert len(set(mtimes)) == P.N_SLICES, "mtimes must be strictly distinct"
    # slice files in mtime order carry non-overlapping, increasing event
    # time: max(ts) of slice i < min(ts) of slice i+1 (half-open spans)
    import pyspark.sql.functions as F

    bounds = []
    for f in files:
        df = spark.read.parquet(os.path.join(rd, f))
        lo, hi = df.agg(F.min("ts"), F.max("ts")).first()
        bounds.append((lo, hi))
    for (_, hi_prev), (lo_next, _) in zip(bounds, bounds[1:]):
        if hi_prev is not None and lo_next is not None:
            assert hi_prev < lo_next, (hi_prev, lo_next)
    total = sum(
        spark.read.parquet(os.path.join(rd, f)).count() for f in files
    )
    assert total == load_table(spark, sf_dir, "events").count()
