"""Streaming-specific semantics tests (SURVEY §5.2(3,5)).

The oracle harness already checks every streaming query end-to-end against
DuckDB (including watermark/session eviction encoded as SQL predicates); this
file pins the *mechanics* the oracle can't see: watermark state eviction and
the exact late-row drop rule.

Empirically pinned semantics (matters for anyone extending the engine):
the watermark does NOT strictly filter late input — a late row is still
merged if its window's state is live (Spark guarantees only that data newer
than the watermark is never dropped). A late row is dropped exactly when its
window was already evicted in a PRIOR micro-batch.
"""

from __future__ import annotations

import datetime as dt
import time

import pyspark.sql.functions as F


def test_watermark_drops_late_rows(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    replay = tmp_path / "replay"
    slice_no = iter(range(100))

    def write_slice(rows):
        # explicit strictly-increasing mtimes (the r15 replay_dir mechanism)
        # instead of 1.05 s sleeps: arrival order is the stamped order
        import os

        before = set(os.listdir(replay)) if replay.exists() else set()
        spark.createDataFrame(
            [(ts, float(v)) for ts, v in rows], "ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(str(replay))
        stamp = time.time() - 100 + next(slice_no)
        for f in set(os.listdir(replay)) - before:
            if f.endswith(".parquet"):
                os.utime(str(replay / f), (stamp, stamp))

    # batch 0: window [10:00,10:15) gets 2 rows; 10:59 row → wm 10:49 next
    write_slice(
        [(base, 1), (base + dt.timedelta(minutes=5), 2), (base + dt.timedelta(minutes=59), 4)]
    )
    # batch 1 (wm=10:49): [10:00,10:15) evicted+emitted with n=2; 11:30 row
    # pushes wm to 11:20 for the next batch
    write_slice([(base + dt.timedelta(minutes=90), 8)])
    # batch 2 (wm=11:20): 10:07 is late AND its window state is gone → dropped
    write_slice([(base + dt.timedelta(minutes=7), 100)])

    agg = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(replay))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
    )
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")  # 3-row slices: state-commit cost/partition
    try:
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("late_test")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(key, prev)
    got = {
        r["window"]["start"].minute: (r["n"], r["total"])
        for r in spark.table("late_test").collect()
    }
    # [10:00,10:15): n=2 — the late 100 arrived after eviction, dropped.
    # [10:45,11:00): the 10:59 row, emitted once wm (11:20) passed 11:00.
    # [11:30,11:45): withheld — final wm 11:20 hasn't passed 11:45.
    assert got == {0: (2, 3.0), 45: (1, 4.0)}


def test_windowed_agg_state_bounded_by_key_space(spark, tmp_path):
    """The 100 TB streaming claim, verified on the runtime metric rather
    than asserted in prose (r7 verdict task 6 'state-bound verification'):
    a watermarked tumbling-window aggregation holds state keyed by
    (window, event_type) — PEAK state rows (stateOperators numRowsTotal
    across every micro-batch) must be bounded by the distinct key space
    and therefore independent of replay VOLUME (the x1→x4 blow-ups
    replicate rows within the same time span: rows 4×, key space fixed —
    which is why the wave-4 scale study measured slope ≈ 0 for this
    family). Run at sf0.01, where keys (7 206) << rows (10 000) so the
    bound is informative, not vacuous."""
    import pyspark.sql.functions as F

    from stockmarket_bigdata_project_spark.catalog import load_table
    from stockmarket_bigdata_project_spark.streaming.pipelines import (
        WATERMARK, WINDOW, _stream_conf, replay_dir,
    )
    from tests.conftest import SF_DIR_CORRECTNESS as SF

    ev = load_table(spark, SF, "events")
    n_rows = ev.count()
    n_keys = (
        ev.select(F.window("ts", WINDOW), "event_type").distinct().count()
    )
    assert n_keys < n_rows  # the bound must be informative at this SF

    agg = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir(spark, SF))
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    with _stream_conf(spark, SF):  # the engine's own state-partition count
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("state_bound_test")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    peaks = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in (p["stateOperators"] or [])
    ]
    rows_in = sum(
        p["numInputRows"] for p in q.recentProgress
    )
    assert rows_in == n_rows  # the whole corpus replayed
    assert peaks, "no stateOperators metrics recorded"
    assert max(peaks) <= n_keys, (
        f"state rows {max(peaks)} exceed the key space {n_keys} — "
        "state is growing with volume, not with keys"
    )


def test_stream_stream_join_state_bounded_by_watermark(spark, tmp_path):
    """Runtime state-bound proof for the stream-stream join (r8 verdict
    task 6) — the stateful operator most sensitive to watermark mistakes
    at scale. The time-bounded join condition lets Spark derive eviction
    predicates: a click is droppable once the watermark passes
    click_ts + 1h (no future purchase can match it), a purchase once the
    watermark passes purchase_ts (future clicks are all too new). So at
    the end of every micro-batch,

        numRowsTotal  ≤  |clicks: click_ts + 1h ≥ wm|
                       + |purchases: purchase_ts ≥ wm|

    where wm is the watermark in effect at the START of the batch (the
    previous progress entry's watermark — eviction can lag one batch, so
    the older watermark is the safe bound). If state ever exceeds this,
    buffered rows are outliving their match window and a 100 TB run OOMs
    on join state; slope ≈ 0 in the wave-4 scale study becomes a runtime
    METRIC here, mirroring test_windowed_agg_state_bounded_by_key_space.
    """
    import datetime as dtm

    import pyspark.sql.functions as F

    from stockmarket_bigdata_project_spark.catalog import load_table
    from stockmarket_bigdata_project_spark.streaming.pipelines import (
        WATERMARK, _click_purchase_sides, _stream_conf,
    )
    from tests.conftest import SF_DIR_CORRECTNESS as SF

    ev = load_table(spark, SF, "events")
    click_deadline = sorted(  # click evictable once wm > click_ts + 1h
        r[0] + dtm.timedelta(hours=1)
        for r in ev.filter(F.col("event_type") == "click").select("ts").collect()
    )
    purchase_ts = sorted(
        r[0]
        for r in ev.filter(F.col("event_type") == "purchase").select("ts").collect()
    )
    total = len(click_deadline) + len(purchase_ts)
    assert total > 0

    left, right = _click_purchase_sides(spark, SF)
    joined = left.join(
        right,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("click_id", "purchase_id", "user_id")
    with _stream_conf(spark, SF):  # the engine's own state-partition count
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ss_join_state_bound_test")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert WATERMARK == "10 minutes"  # the docstring's derivation assumes it

    def parse_wm(p):
        w = (p["eventTime"] or {}).get("watermark")
        if not w:
            return None
        # session tz is UTC (session.py) → collected ts are naive UTC
        return dtm.datetime.fromisoformat(w.replace("Z", "+00:00")).replace(
            tzinfo=None
        )

    import bisect

    progresses = q.recentProgress
    assert progresses, "no progress recorded"
    checked_informative = 0
    for i, p in enumerate(progresses):
        ops = p["stateOperators"] or []
        if not ops:
            continue
        state_rows = sum(op["numRowsTotal"] for op in ops)
        wm_prev = parse_wm(progresses[i - 1]) if i > 0 else None
        if wm_prev is None or wm_prev.year <= 1970:
            bound = total  # batch 0: nothing evictable yet
        else:
            live_clicks = len(click_deadline) - bisect.bisect_left(
                click_deadline, wm_prev
            )
            live_purchases = len(purchase_ts) - bisect.bisect_left(
                purchase_ts, wm_prev
            )
            bound = live_clicks + live_purchases
            if bound < total:
                checked_informative += 1
        assert state_rows <= bound, (
            f"batch {i}: join state {state_rows} rows exceeds the "
            f"watermark-derived bound {bound} (wm at batch start "
            f"{wm_prev}) — state outlives its match window"
        )
    # the proof must bite: at least one batch's bound was strictly below
    # the full stream volume (i.e., eviction was actually required)
    assert checked_informative >= 1, "watermark never advanced; bound vacuous"


def test_streaming_dedup_state_bounded_by_watermark(spark, tmp_path):
    """Third stateful-operator state-bound proof (after the windowed agg
    and the stream-stream join): dropDuplicatesWithinWatermark keeps an
    event_id's state entry only until the watermark passes its event time
    plus the dedup delay — so at the end of every micro-batch,

        numRowsTotal ≤ |{events: ts + delay ≥ wm}|

    with the previous batch's watermark as the lag-safe bound. Without
    this eviction the dedup state grows with the stream (every id ever
    seen) and a 100 TB replay OOMs the state store; with it, state is
    bounded by the event rate × delay window regardless of stream
    length."""
    import bisect
    import datetime as dtm

    from stockmarket_bigdata_project_spark.catalog import load_table
    from stockmarket_bigdata_project_spark.streaming.pipelines import (
        WATERMARK, _events_stream, _stream_conf,
    )
    from tests.conftest import SF_DIR_CORRECTNESS as SF

    assert WATERMARK == "10 minutes"
    delay = dtm.timedelta(minutes=10)
    ev = load_table(spark, SF, "events")
    expiry = sorted(r[0] + delay for r in ev.select("ts").collect())
    total = len(expiry)

    dedup = (
        _events_stream(spark, SF)
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    with _stream_conf(spark, SF):  # the engine's own state-partition count
        q = (
            dedup.writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_state_bound_test")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def parse_wm(p):
        w = (p["eventTime"] or {}).get("watermark")
        if not w:
            return None
        return dtm.datetime.fromisoformat(w.replace("Z", "+00:00")).replace(
            tzinfo=None
        )

    progresses = q.recentProgress
    assert progresses, "no progress recorded"
    checked_informative = 0
    for i, p in enumerate(progresses):
        ops = p["stateOperators"] or []
        if not ops:
            continue
        state_rows = sum(op["numRowsTotal"] for op in ops)
        wm_prev = parse_wm(progresses[i - 1]) if i > 0 else None
        if wm_prev is None or wm_prev.year <= 1970:
            bound = total
        else:
            bound = total - bisect.bisect_left(expiry, wm_prev)
            if bound < total:
                checked_informative += 1
        assert state_rows <= bound, (
            f"batch {i}: dedup state {state_rows} rows exceeds the "
            f"watermark-derived bound {bound} (wm at batch start "
            f"{wm_prev}) — ids outlive their dedup window"
        )
    assert checked_informative >= 1, "watermark never advanced; bound vacuous"


def test_replay_dir_leaves_only_the_replay_dir(spark, sf_dir, tmp_path):
    """A fresh replay writes each slice through its own staging dir and
    removes it after moving the part file out: the only new entry in the
    temp dir is the replay dir, holding exactly the slice files."""
    import os
    import shutil
    import tempfile

    from stockmarket_bigdata_project_spark import catalog
    from stockmarket_bigdata_project_spark.streaming import pipelines

    sf = str(tmp_path)
    shutil.copy(catalog.table_path(sf_dir, "events"), catalog.table_path(sf, "events"))

    def ours() -> set[str]:
        return {
            e for e in os.listdir(tempfile.gettempdir())
            if e.startswith("spark_graft_")
        }

    before = ours()
    out = pipelines.replay_dir(spark, sf, n_slices=3)
    try:
        assert ours() - before == {os.path.basename(out)}
        assert sorted(os.listdir(out)) == [
            "slice_00.parquet", "slice_01.parquet", "slice_02.parquet"
        ]
        total = spark.read.parquet(out).count()
        assert total == catalog.load_table(spark, sf, "events").count()
    finally:
        pipelines._replay_cache.pop((sf, 3), None)
        shutil.rmtree(out, ignore_errors=True)
