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
import os
import time

import pyspark.sql.functions as F

from stockmarket_bigdata_project_spark.streaming import pipelines as P


def test_watermark_drops_late_rows(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    replay = tmp_path / "replay"
    slice_no = iter(range(100))

    def write_slice(rows):
        # explicit strictly-increasing mtimes (the r15 replay_dir mechanism)
        # instead of 1.05 s sleeps: arrival order is the stamped order
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


def test_windowed_agg_state_bounded_by_key_space(spark):
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
        WATERMARK, WINDOW, _run_stream, replay_dir,
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
    q = _run_stream(  # the engine's own start path and state-partition count
        agg,
        SF,
        lambda w: w.outputMode("append").format("memory").queryName("state_bound_test"),
    )
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


def test_stream_stream_join_state_bounded_by_watermark(spark):
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
        WATERMARK, _click_purchase_join, _run_stream,
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

    joined = _click_purchase_join(spark, SF, "inner").select(
        "click_id", "purchase_id", "user_id"
    )
    q = _run_stream(  # the engine's own start path and state-partition count
        joined,
        SF,
        lambda w: w.outputMode("append")
        .format("memory")
        .queryName("ss_join_state_bound_test"),
    )
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


def test_streaming_dedup_state_bounded_by_watermark(spark):
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
        WATERMARK, _events_stream, _run_stream,
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
    q = _run_stream(  # the engine's own start path and state-partition count
        dedup,
        SF,
        lambda w: w.outputMode("append")
        .format("memory")
        .queryName("dedup_state_bound_test"),
    )

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
        shutil.rmtree(out, ignore_errors=True)


def test_run_stream_scopes_confs_to_start(spark, sf_dir):
    """The runner sets the derived shuffle-partition count and the extra
    conf only around start(): code in a foreachBatch reads the outer
    session's own values, while the stream's state operators run at the
    derived count on the requested state-store provider."""
    part_key = "spark.sql.shuffle.partitions"
    (prov_key,) = P._ROCKSDB_CONF
    session_parts, session_prov = spark.conf.get(part_key), spark.conf.get(prov_key, None)
    derived = P._stream_shuffle_partitions(spark, sf_dir)
    assert str(derived) != session_parts  # the check must be informative
    seen: list[tuple[str, str | None]] = []

    def record(batch_df, batch_id):
        seen.append((spark.conf.get(part_key), spark.conf.get(prov_key, None)))
        batch_df.write.format("noop").mode("overwrite").save()  # commit state

    agg = (
        P._events_stream(spark, sf_dir)
        .withWatermark("ts", P.WATERMARK)
        .groupBy(F.window("ts", P.WINDOW), "event_type")
        .count()
    )
    q = P._run_stream(
        agg,
        sf_dir,
        lambda w: w.outputMode("update").foreachBatch(record),
        conf=P._ROCKSDB_CONF,
    )
    assert seen and set(seen) == {(session_parts, session_prov)}
    ops = [op for p in q.recentProgress for op in p["stateOperators"] or []]
    assert ops
    assert {op["numShufflePartitions"] for op in ops} == {derived}
    assert any(
        k.startswith("rocksdb") for op in ops for k in op["customMetrics"] or {}
    )
    assert spark.conf.get(part_key) == session_parts
    assert spark.conf.get(prov_key, None) == session_prov


def test_streaming_runs_remove_their_checkpoints(spark, sf_dir, tmp_path, monkeypatch):
    """Each run's checkpoint dir is removed once the query has terminated;
    only sink output, which the returned DataFrames read lazily, stays."""
    import tempfile

    from stockmarket_bigdata_project_spark.streaming import lifecycle as L

    P.replay_dir(spark, sf_dir)  # the shared replay corpus stays where it is
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for fn in (
        P.streaming_window_counts,
        P.streaming_static_join,
        L.stateful_running_vwap,
    ):
        assert fn(spark, sf_dir).count() > 0
    assert list(tmp_path.glob("spark_graft_sink_*"))  # the redirect took effect
    assert not list(tmp_path.glob("spark_graft_chk_*"))


def test_concurrent_streams_and_batch_keep_session_conf(spark, sf_dir):
    """Two streaming queries and a batch query on three threads of one
    session: the session conf ends as it started and every result equals
    its sequential run."""
    from concurrent.futures import ThreadPoolExecutor

    from stockmarket_bigdata_project_spark.registry import all_queries

    queries = all_queries()
    names = ["streaming_window_counts", "streaming_rocksdb_window", "revenue_by_brand"]
    keys = ["spark.sql.shuffle.partitions", "spark.sql.streaming.stateStore.providerClass"]
    before = {k: spark.conf.get(k, None) for k in keys}

    def rows(name):
        return sorted(queries[name](spark, sf_dir).collect())

    sequential = [rows(n) for n in names]
    with ThreadPoolExecutor(max_workers=3) as pool:
        concurrent = list(pool.map(rows, names))
    assert {k: spark.conf.get(k, None) for k in keys} == before
    assert concurrent == sequential


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


# one query per site that creates scratch: the streaming sinks and memory
# views, the Python-datasource stream, the sources sinks and fixtures, and
# the staged media files
_SCRATCH_SWEEP = (
    "streaming_window_counts",
    "streaming_static_join",
    "streaming_upsert_view",
    "streaming_cms_merge",
    "streaming_multi_query",
    "python_datasource_stream_ticks",
    "single_file_export",
    "partitioned_gold_write",
    "compact_small_files",
    "schema_evolution_read",
    "csv_scan_events",
    "binary_file_scan",
)


def test_release_gives_back_every_dir_and_view(spark, sf_dir, tmp_path, monkeypatch):
    """Every result of the sweep is readable; release(spark) then leaves the
    temp dir's spark_graft_* entries and the session's tables as they were
    before it. A rerun after the release rebuilds its replay and fixture
    dirs and returns the same rows."""
    import tempfile

    from stockmarket_bigdata_project_spark import scratch
    from stockmarket_bigdata_project_spark.registry import all_queries

    queries = all_queries()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    scratch.release(spark)  # handles built before the redirect point elsewhere

    def ours() -> list[str]:
        return sorted(e for e in os.listdir(tmp_path) if e.startswith("spark_graft_"))

    def tables() -> list[str]:
        return sorted(t.name for t in spark.catalog.listTables())

    dirs_before, tables_before = ours(), tables()
    counts = {n: queries[n](spark, sf_dir).count() for n in _SCRATCH_SWEEP}
    assert all(counts.values()), counts
    assert len(ours()) > len(dirs_before) and len(tables()) > len(tables_before)
    scratch.release(spark)
    assert ours() == dirs_before
    assert tables() == tables_before
    for name, prefix in (
        ("streaming_window_counts", "spark_graft_replay_"),
        ("csv_scan_events", "spark_graft_csv_"),
    ):
        assert queries[name](spark, sf_dir).count() == counts[name]
        assert any(e.startswith(prefix) for e in ours())
    scratch.release(spark)


def test_process_exit_removes_scratch_dirs(sf_dir, tmp_path):
    """A process that ran a query and exited leaves no spark_graft_* entry
    in its temp dir."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os, tempfile\n"
        "from stockmarket_bigdata_project_spark.session import get_spark\n"
        "from stockmarket_bigdata_project_spark.sources.sinks import single_file_export\n"
        f"assert single_file_export(get_spark(), {sf_dir!r}).count() > 0\n"
        "print(sum(e.startswith('spark_graft_') for e in os.listdir(tempfile.gettempdir())))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=root)
    run = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=root, capture_output=True,
        text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert int(run.stdout.split()[-1]) > 0  # the query did write scratch
    assert not [e for e in os.listdir(tmp_path) if e.startswith("spark_graft_")]
