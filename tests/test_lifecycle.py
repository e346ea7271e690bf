"""T9 multi-query lifecycle mechanics: concurrent queries, listener events,
bronze/source parity (the oracle harness covers the silver values)."""

from __future__ import annotations

import time

from stockmarket_bigdata_project_spark.catalog import load_table
from stockmarket_bigdata_project_spark.streaming.lifecycle import (
    run_concurrent_bronze_silver,
)


def test_concurrent_queries_and_listener(spark, sf_dir):
    bronze, silver, listener = run_concurrent_bronze_silver(spark, sf_dir)
    # bronze raw append preserved every source row exactly once
    assert bronze.count() == load_table(spark, sf_dir, "events").count()
    assert silver.count() > 0
    # listener saw both queries start and progress (push-based monitor, T9);
    # names are unique per call, so overlapping calls never collide
    bronze_name, silver_name = sorted(listener.started)
    assert bronze_name.startswith("bronze_raw_")
    assert silver_name.startswith("silver_agg_t9_")
    names_progressed = {n for n, _ in listener.progressed}
    assert {bronze_name, silver_name} <= names_progressed
    # termination events are delivered asynchronously
    deadline = time.time() + 15
    while len(listener.terminated) < 2 and time.time() < deadline:
        time.sleep(0.2)
    assert len(listener.terminated) >= 2


def test_transform_with_state_gated(spark, sf_dir, duck):
    """transformWithStateInPandas (Spark 4 arbitrary-stateful API): runs the
    MapState running-type-counts query against its oracle where the
    protobuf dependency exists; in the sandbox image (no protobuf wheel)
    the query must be cleanly absent from the registry, not broken."""
    import pytest

    from stockmarket_bigdata_project_spark import registry
    from stockmarket_bigdata_project_spark.streaming import lifecycle as L

    if not L.HAS_TWS_DEPS:
        assert "transform_with_state_type_counts" not in registry.all_queries()
        pytest.skip("google.protobuf not installed (sandbox image)")
    from .oracle_compare import compare

    df = L.transform_with_state_type_counts(spark, sf_dir)
    compare(
        df,
        duck,
        L._TWS_ORACLE["transform_with_state_type_counts"],
        name="transform_with_state_type_counts",
    )


def test_tws_batch_twin_shares_the_gated_oracle():
    """The batch twin's oracle IS the gated stateful query's oracle — same
    string object, so the twin's value-level proof (which runs in every
    environment, protobuf or not) certifies the exact SQL the gated API
    path will be checked against on a real cluster (r6 verdict task 4)."""
    from stockmarket_bigdata_project_spark.streaming import lifecycle as L

    assert (
        L.ORACLE["tws_type_counts_batch_twin"]
        is L._TWS_ORACLE["transform_with_state_type_counts"]
    )
