"""Structured Streaming pipelines (SURVEY §2.9).

Reference parity cites (into /root/reference):
  T1 event-time watermark        reddit_pipeline.py:170
  T2 tumbling window agg         reddit_pipeline.py:169-181
  T3 triggers                    reddit_pipeline.py:149,226; stock_pipeline.py:129
  T4 foreachBatch sink           reddit_pipeline.py:110-151,193-228
  T5 checkpointing               reddit_pipeline.py:15-16,148,225
  T11 replay/simulation source   relayer_simulator.py (CSV → Kafka pacing)
  J1 stream-static join          spark_consumer.py:111-115

The reference replays historical CSVs through Kafka; here the replay source is
a directory of time-ordered parquet slices consumed by the file source with
``maxFilesPerTrigger=1`` (one slice per micro-batch — the file-source analog of
``maxOffsetsPerTrigger`` backpressure, T6). Kafka would be a one-line source
swap; the transformation DAG is identical.

Every query runs with ``trigger(availableNow=True)`` to completion and returns
the materialized result as a batch DataFrame, which makes streaming semantics
oracle-checkable:

  * availableNow runs a final no-data micro-batch (verified empirically —
    spark.sql.streaming.noDataMicroBatches.enabled default), so the final
    watermark is ``max(event_ts) - delay`` and an append-mode windowed agg
    emits exactly the windows with ``window_end <= max_ts - delay``. That
    predicate is plain SQL, so even watermark-eviction semantics get a full
    DuckDB oracle, not a rows-only check.
  * complete-mode aggs equal their batch groupBy — checked both here (oracle)
    and in tests/test_streaming.py (stream/batch consistency, SURVEY §5.2(3)).

Scale notes (100 TB): the streaming state store only ever holds open windows
(watermark evicts), so state is bounded by (windows in delay horizon ×
group cardinality), not by stream length; foreachBatch parquet appends are
partitioned writes, one file per executor task, no driver collect.

Scratch: the replay dir, sink dirs and memory-sink views belong to
``scratch`` and live until ``scratch.release(spark)`` or process exit; a
run's checkpoint is removed as soon as the run ends.
"""

from __future__ import annotations

import math
import os
import tempfile
import threading
import time
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..catalog import load_table
from ..functions.exact import dec_sum
from ..scratch import get_or_build, scratch_dir, sink_name
from ..session import ROCKSDB_STATE_STORE_PROVIDER

WATERMARK = "10 minutes"
WINDOW = "15 minutes"
SLIDE_WINDOW = "30 minutes"
SESSION_GAP = "30 minutes"
N_SLICES = 4


def replay_dir(spark: SparkSession, sf_dir: str, n_slices: int = N_SLICES) -> str:
    """Write `events` as n_slices time-ordered parquet files (T11 replay
    source). File modification times — the file source's processing order —
    are stamped explicitly in event-time order (strictly increasing, 1 s
    apart), like the reference's paced Kafka replay. The slice writes
    themselves are independent jobs and run concurrently (guide §2.6);
    arrival order comes from the stamped mtimes, not from write timing, so
    the replay is deterministic without the former per-slice mtime sleeps.
    Built once per (application, sf_dir, n_slices) in a scratch dir: every
    streaming query replays the same corpus."""

    def build() -> str:
        ev = load_table(spark, sf_dir, "events")
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
        span = (hi - lo) / n_slices
        out = scratch_dir(spark, "replay")

        def write_slice(i: int) -> str:
            start = lo + span * i
            end = hi if i == n_slices - 1 else lo + span * (i + 1)
            cond = (F.col("ts") >= F.lit(start)) & (
                (F.col("ts") <= F.lit(end)) if i == n_slices - 1 else (F.col("ts") < F.lit(end))
            )
            # own staging dir per slice: concurrent appends into ONE dir
            # would race on the shared _temporary commit dir
            with tempfile.TemporaryDirectory(
                prefix="spark_graft_replay_slice_", ignore_cleanup_errors=True
            ) as stage:
                ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(stage)
                parts = [f for f in os.listdir(stage) if f.endswith(".parquet")]
                if len(parts) != 1:
                    raise RuntimeError(
                        f"replay slice {i} of {sf_dir!r} wrote {len(parts)}"
                        f" parquet part files, expected 1: {sorted(parts)}"
                    )
                dst = os.path.join(out, f"slice_{i:02d}.parquet")
                os.replace(os.path.join(stage, parts[0]), dst)
                return dst

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=n_slices) as pool:
            slices = list(pool.map(write_slice, range(n_slices)))
        now = time.time()
        for i, dst in enumerate(slices):
            mtime = now - (n_slices - i)  # strictly increasing, all past
            os.utime(dst, (mtime, mtime))
        return out

    return get_or_build(spark, f"replay_{n_slices}", sf_dir, build)


# Scale-adaptive streaming shuffle/state partitioning (guide §2.2 "fewer,
# larger partitions"). Streaming state has a FIXED per-partition per-batch
# cost — every state store commits a delta file per partition per
# micro-batch (a stream-stream join runs 4 stores/partition) — and AQE
# cannot coalesce a streaming plan, so the session's batch-sized
# shuffle.partitions over-partitions small per-batch state by orders of
# magnitude. Measured (r15, sf0.1 replay, local[32]):
# streaming_stream_stream_join wall 16-20 s at 32 partitions vs 4.8 s at 4,
# identical 371 rows; per-batch summed state commitTimeMs ~50 s across
# 32x4 store-partitions. The count is derived from bytes per micro-batch
# and clamps UP to the session value, so a cluster-scale stream keeps the
# cluster-sized count and only tiny replays shrink.
_STREAM_STATE_PARTITION_BYTES = 64 << 20  # advisory per-partition batch input
_STREAM_MIN_PARTITIONS = 4  # parallelism floor for state ops
_start_lock = threading.Lock()
_ROCKSDB_CONF = {
    "spark.sql.streaming.stateStore.providerClass": ROCKSDB_STATE_STORE_PROVIDER
}


def _stream_shuffle_partitions(
    spark: SparkSession, sf_dir: str, python_stateful: bool = False
) -> int:
    """Streaming shuffle-partition (= state-partition) count for the replay
    streams: ceil(bytes-per-micro-batch / 64 MiB), clamped to
    [_STREAM_MIN_PARTITIONS, session shuffle.partitions]. Production keeps
    the session/cluster value because the byte-derived count exceeds it.

    python_stateful: applyInPandasWithState/transformWithStateInPandas runs
    are CPU-bound at the Python boundary (per-group pandas calls), so their
    parallelism floor scales with the session's cores, not with bytes —
    measured (sf0.1, local[32]): stateful_running_vwap 10-14.6 s at 4
    partitions, 6.6-6.8 s at 16 (= cores/2), 9.3-14.2 s at 32 (state-commit
    fixed cost re-dominates past the boundary's useful parallelism)."""
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        rd = replay_dir(spark, sf_dir)
        total = sum(
            e.stat().st_size
            for e in os.scandir(rd)
            if e.name.endswith(".parquet")
        )
    except OSError:
        return session_parts
    per_batch = max(1, total // N_SLICES)
    derived = math.ceil(per_batch / _STREAM_STATE_PARTITION_BYTES)
    floor = _STREAM_MIN_PARTITIONS
    if python_stateful:
        # never above the session's configured count (the cluster ceiling)
        cores = spark.sparkContext.defaultParallelism
        floor = max(floor, min(cores // 2, session_parts))
    return max(floor, min(session_parts, derived))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_schema = load_table(spark, sf_dir, "events").schema
    return (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)  # T6 backpressure, one slice per batch
        .parquet(replay_dir(spark, sf_dir))
    )


def _run_stream(
    stream_df: DataFrame,
    sf_dir: str,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    python_stateful: bool = False,
    conf: dict[str, str] | None = None,
) -> StreamingQuery:
    """Run ``stream_df`` availableNow to completion: the one start path of
    the engine's streams (T3, T5). ``sink`` configures the writer (format,
    mode, query name or foreachBatch). The run's fresh checkpoint is removed
    once the query has terminated; sink output stays, since the returned
    DataFrames read it lazily. Returns the terminated query, so callers can
    read ``recentProgress``.

    The derived ``spark.sql.shuffle.partitions`` (_stream_shuffle_partitions)
    and ``conf`` are set only around ``start()``, under a module lock, and
    restored right after: confs are captured at ``start()``, where the query
    clones the session for its micro-batches, so the stream keeps them while
    the session (batch work on other threads, foreachBatch code reading the
    outer session) sees its own values. A per-run ``spark.newSession()``
    would need no swap, but a listener on the parent session gets none of
    its progress events and its memory tables are invisible to the parent.
    Results do not depend on the partition count (exact decimal sums), only
    the state-commit overhead does."""
    spark = stream_df.sparkSession
    with tempfile.TemporaryDirectory(
        prefix="spark_graft_chk_", ignore_cleanup_errors=True
    ) as chk:
        writer = (
            sink(stream_df.writeStream)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
        )
        with _start_lock:
            run_conf = {
                "spark.sql.shuffle.partitions": str(
                    _stream_shuffle_partitions(spark, sf_dir, python_stateful)
                ),
                **(conf or {}),
            }
            prev = {k: spark.conf.get(k, None) for k in run_conf}
            for k, v in run_conf.items():
                spark.conf.set(k, v)
            try:
                q = writer.start()
            finally:
                for k, v in prev.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
        q.awaitTermination()
        return q


def _run_to_memory(
    stream_df: DataFrame,
    mode: str,
    sf_dir: str,
    python_stateful: bool = False,
    conf: dict[str, str] | None = None,
) -> DataFrame:
    """Run a streaming DF to completion into a memory sink under a fresh
    query name; return the result as a batch DF."""
    name = sink_name(stream_df.sparkSession)
    _run_stream(
        stream_df,
        sf_dir,
        lambda w: w.outputMode(mode).format("memory").queryName(name),
        python_stateful,
        conf,
    )
    return stream_df.sparkSession.table(name)


# --- T1+T2: tumbling window agg with watermark, append mode -----------------
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's silver feature agg (reddit_pipeline.py:169-181):
    15-min tumbling windows per event_type, 10-min watermark, append mode.
    Emits exactly the watermark-expired windows (see module docstring)."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact decimal sums — also immune to micro-batch state-merge
            # order, not just shuffle order (value is 2-decimal)
            (
                dec_sum("value")
                / F.count("value")
            ).alias("avg_value"),
            dec_sum("value").alias(
                "total_value"
            ),
            F.max("value").alias("max_value"),
        )
    )
    out = _run_to_memory(agg, "append", sf_dir)
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
        "avg_value",
        "total_value",
        "max_value",
    )


# --- T2 (complete mode): stream == batch equivalence -------------------------
def streaming_window_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same window agg in complete mode — no watermark eviction, the final
    result table equals the batch groupBy(window) exactly."""
    return _complete_window_counts(spark, sf_dir)


def _complete_window_counts(
    spark: SparkSession, sf_dir: str, conf: dict[str, str] | None = None
) -> DataFrame:
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias("total_value"),
        )
    )
    out = _run_to_memory(agg, "complete", sf_dir, conf=conf)
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )


# --- T2 extension: sliding window --------------------------------------------
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min windows sliding every 15 min (each event lands in 2 windows),
    complete mode."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.window("ts", SLIDE_WINDOW, WINDOW), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    out = _run_to_memory(agg, "complete", sf_dir)
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
    )


# --- T2 extension: session window -------------------------------------------
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-min inactivity gap — the streaming
    twin of the batch gaps-and-islands `sessionize_events`. Append mode: a
    session's window end is last_event + gap, and it is emitted once the
    watermark passes that point (nothing can merge anymore):
    ``last_event + gap <= max_ts - delay`` — verified empirically and encoded
    in the oracle, so even session eviction is fully DuckDB-checked."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum("value").alias(
                "session_value"
            ),
        )
    )
    out = _run_to_memory(agg, "append", sf_dir)
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
        "session_value",
    )


# --- J1: stream-static join + T4 foreachBatch parquet sink ------------------
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events ⋈ static customer dim (spark_consumer.py:111-115
    shape), persisted per micro-batch via foreachBatch parquet append (the
    reference's Mongo append sink S8, re-expressed columnar). The static
    side is loaded once and cached (§4.1); the join is UNHINTED — customer
    scales linearly with SF (r10 verdict), so AQE broadcasts the cached dim
    per micro-batch at every SF where it fits and falls back to a shuffle
    join where it doesn't, instead of a forced OOM."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
        )
        .cache()
    )
    joined = (
        _events_stream(spark, sf_dir)
        .select("event_id", "user_id", "ts", "event_type", "value")
        .join(cust, "user_id")
    )
    sink = scratch_dir(spark, "sink")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # isEmpty() not count(): count() is a full extra job (SURVEY §4.1)
        if not batch_df.isEmpty():
            batch_df.write.mode("append").parquet(sink)

    _run_stream(joined, sf_dir, lambda w: w.foreachBatch(write_batch))
    return spark.read.parquet(sink).select(
        "event_id", "user_id", "ts", "event_type", "value", "c_name", "c_mktsegment"
    )


# --- extension: streaming materialized-view maintenance ----------------------
def streaming_upsert_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance: an update-mode global
    aggregate whose CHANGED keys are merged into a keyed parquet view each
    micro-batch — the S12 upsert sink lifted to streaming (what a
    `MERGE INTO` against a lakehouse table does on a cluster). Update mode
    re-emits a key only when a batch changes it, carrying the full
    recomputed state, so replace-by-key per batch converges to the batch
    aggregate over the whole feed — which is exactly the oracle. Each
    micro-batch writes a new view GENERATION directory (read-modify-write
    into a fresh path; the previous generation is the read side), the
    multi-batch replay (maxFilesPerTrigger=1) exercises repeated merges."""
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    base = scratch_dir(spark, "view")
    state: dict[str, str | None] = {"dir": None}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_dir = os.path.join(base, f"gen_{batch_id}")
        if state["dir"] is None:
            batch_df.write.mode("overwrite").parquet(new_dir)
        else:
            prev = spark.read.parquet(state["dir"])
            keep = prev.join(
                batch_df.select("day", "event_type"),
                ["day", "event_type"],
                "left_anti",
            )
            keep.unionByName(batch_df).write.mode("overwrite").parquet(new_dir)
        state["dir"] = new_dir

    _run_stream(
        agg, sf_dir, lambda w: w.outputMode("update").foreachBatch(merge_batch)
    )
    assert state["dir"] is not None, "replay produced no batches"
    return spark.read.parquet(state["dir"])


# --- extension: stream-stream join (absent from the reference) --------------
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: 'click' events matched to the
    same user's 'purchase' events within the following hour. Both sides carry
    watermarks and the join condition time-bounds the buffered state
    (Spark's requirement for state cleanup in stream-stream joins). With a
    full availableNow replay every qualifying pair is eventually emitted, so
    the oracle is the plain SQL range join — streaming buffering semantics
    checked value-level."""
    return _run_to_memory(
        _click_purchase_join(spark, sf_dir, "inner"), "append", sf_dir
    )


def _click_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Clicks joined to the same user's purchases within the following hour,
    both sides watermarked so the time bound lets Spark evict join state."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select(
        "click_id", "purchase_id", "user_id", "click_ts", "purchase_ts", "purchase_value"
    )


def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the state-EVICTION
    semantic the inner join doesn't exercise: an unmatched click emits its
    null-extended row only when the global watermark passes the end of its
    match window (click_ts + 1h), i.e. when the engine can prove no future
    purchase can match. Clicks whose window is still open when the bounded
    replay ends are never emitted. The oracle encodes exactly that rule:
    matched pairs unconditionally, plus unmatched clicks with
    click_ts + 1h < min(max click_ts, max purchase_ts) − 10min (the final
    global watermark = min over sources of per-source max − delay)."""
    return _run_to_memory(
        _click_purchase_join(spark, sf_dir, "leftOuter"), "append", sf_dir
    )


# --- extension: streaming dedup within watermark -----------------------------
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on event_id — the streaming exactly-once
    dedup the reference approximates with Mongo upserts (S12). event_ids are
    unique in testdata, so the oracle is the identity projection; the operator
    still exercises the dedup state store."""
    dedup = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return _run_to_memory(dedup, "append", sf_dir)


# --- T8: RocksDB state store — same agg, different state backend -------------
def streaming_rocksdb_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete-mode window agg run on the RocksDB state store
    (session.ROCKSDB_STATE_STORE_PROVIDER, set for this query's start only).
    State backends must be result-invisible, so this shares
    streaming_window_complete's oracle — a value-level check that switching
    the 100 TB state backend changes nothing but capacity."""
    return _complete_window_counts(spark, sf_dir, _ROCKSDB_CONF)


# --- S11: console sink (debug surface) ---------------------------------------
def console_sink_debug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's console sink (test_spark.py:22) — debug-only output.
    The stream runs availableNow into format('console'); since the console
    itself is not queryable, the observable contract is the query's input
    cardinality: total rows fed through the sink == count(*) of the replay
    corpus, returned as a 1-row DataFrame (value-checked against the
    events table)."""
    sdf = _events_stream(spark, sf_dir).select("event_id", "ts", "event_type")
    q = _run_stream(
        sdf,
        sf_dir,
        lambda w: w.outputMode("append")
        .format("console")
        .option("numRows", 3)
        .option("truncate", "true"),
    )
    total = sum(
        int(p["numInputRows"]) for p in (q.recentProgress or []) if p
    )
    return spark.createDataFrame(
        [(total,)], "total_input_rows bigint"
    )


QUERIES = {
    "streaming_window_counts": streaming_window_counts,
    "streaming_window_complete": streaming_window_complete,
    "streaming_rocksdb_window": streaming_rocksdb_window,
    "console_sink_debug": console_sink_debug,
    "streaming_sliding_window": streaming_sliding_window,
    "streaming_session_window": streaming_session_window,
    "streaming_static_join": streaming_static_join,
    "streaming_upsert_view": streaming_upsert_view,
    "streaming_stream_stream_join": streaming_stream_stream_join,
    "streaming_stream_stream_left_join": streaming_stream_stream_left_join,
    "streaming_dedup": streaming_dedup,
}

_TUMBLING_SQL = f"""
SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
       time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes' AS window_end,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) / count(value) AS avg_value,
       CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS total_value,
       max(value) AS max_value
FROM events GROUP BY 1, 2, 3
"""

ORACLE = {
    # append mode: exactly the windows expired by the final watermark
    "streaming_window_counts": f"""
WITH agg AS ({_TUMBLING_SQL})
SELECT * FROM agg
WHERE window_end <= (SELECT max(ts) FROM events) - INTERVAL '10 minutes'
""",
    # complete mode: plain batch equivalence
    "streaming_window_complete": """
SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
       time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes' AS window_end,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2, 3
""",
    # S11: the console sink's observable contract is input cardinality
    "console_sink_debug": """
SELECT count(*) AS total_input_rows FROM events
""",
    # each event covers the two 30-min windows starting at bucket and bucket-15m
    "streaming_sliding_window": """
SELECT ws AS window_start,
       ws + INTERVAL '30 minutes' AS window_end,
       event_type,
       count(*) AS n_events
FROM (
  SELECT unnest([time_bucket(INTERVAL '15 minutes', ts),
                 time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes']) AS ws,
         event_type
  FROM events
) GROUP BY 1, 2, 3
""",
    # session emitted iff watermark passed last_event + gap (see docstring)
    "streaming_session_window": """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes'
                   OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS session_value
FROM sess GROUP BY user_id, sid
HAVING max(ts) + INTERVAL '30 minutes'
       <= (SELECT max(ts) FROM events) - INTERVAL '10 minutes'
""",
    "streaming_static_join": """
SELECT e.event_id, e.user_id, e.ts, e.event_type, e.value, c.c_name, c.c_mktsegment
FROM events e JOIN customer c ON c.c_custkey = e.user_id
""",
    # inner stream-stream join over a full replay emits every qualifying
    # pair (watermarks only bound buffered state; time-ordered slices keep
    # cross-batch matches inside the 1h horizon alive) → plain range join
    "streaming_stream_stream_join": """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
""",
    # left outer: matched pairs unconditionally; null rows only for clicks
    # whose 1h match window closed under the FINAL global watermark
    # (min over sources of per-source max event time, minus the 10min delay)
    "streaming_stream_stream_left_join": """
WITH wm AS (
  SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
               (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL '10 minutes' AS final_wm
), matched AS (
  SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
         c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
  FROM events c
  JOIN events p
    ON p.user_id = c.user_id
   AND c.event_type = 'click' AND p.event_type = 'purchase'
   AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL '1 hour'
)
SELECT * FROM matched
UNION ALL
SELECT c.event_id AS click_id, NULL AS purchase_id, c.user_id,
       c.ts AS click_ts, NULL AS purchase_ts, NULL AS purchase_value
FROM events c, wm
WHERE c.event_type = 'click'
  AND c.event_id NOT IN (SELECT click_id FROM matched)
  AND c.ts + INTERVAL '1 hour' < wm.final_wm
""",
    "streaming_dedup": """
SELECT event_id, user_id, event_type, value FROM events
""",
}

# T8: the state backend must be result-invisible — same oracle as the
# default-provider complete-mode agg
ORACLE["streaming_rocksdb_window"] = ORACLE["streaming_window_complete"]

ORACLE["streaming_upsert_view"] = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS total_value
FROM events GROUP BY day, event_type
"""


def streaming_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built INCREMENTALLY across micro-batches — the
    mergeability proof for the batch cms_heavy_hitters: each replay
    micro-batch folds only its own rows into a partial CMS_D×CMS_W grid
    (foreachBatch appends the partial cells), the partials merge by
    cell-wise SUM after the run, and the merged grid answers the same
    point queries. Because CMS cells are plain counters, merge order is
    irrelevant and the streamed sketch is IDENTICAL to the one-pass batch
    sketch — so this streaming query is value-level checked against the
    very same DuckDB oracle as the batch query (most streaming ops need a
    batch twin; a mergeable sketch IS its own twin). This is the daily-
    sketch → weekly-rollup pattern (sketch once, merge everywhere) with
    the merge made exact and observable.

    Scale shape: per batch, map-side partial counts collapse to ≤1024
    cells before the append; the merge aggregates K·n_batches tiny rows;
    candidate estimation is the broadcast grid join of the batch query."""
    from ..operators.sketches import CMS_D, CMS_T, _cms_bucket

    stream = _events_stream(spark, sf_dir).select("user_id")
    sink = scratch_dir(spark, "cms")

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        occ = batch_df.select(
            "user_id",
            F.explode(F.array([F.lit(j) for j in range(CMS_D)])).alias("j"),
        ).select("j", _cms_bucket(F.col("j")).alias("bucket"))
        partial = occ.groupBy("j", "bucket").agg(F.count("*").alias("cnt"))
        partial.write.mode("append").parquet(sink)

    _run_stream(stream, sf_dir, lambda w: w.foreachBatch(write_partial))
    grid = (
        spark.read.parquet(sink)
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    cand = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
    )
    cand_cells = cand.select(
        "user_id",
        "exact_n",
        F.explode(F.array([F.lit(j) for j in range(CMS_D)])).alias("j"),
    ).select(
        "user_id", "exact_n", "j", _cms_bucket(F.col("j")).alias("bucket")
    )
    est = (
        cand_cells.join(F.broadcast(grid), ["j", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("est"))
    )
    return est.filter(F.col("est") >= CMS_T).select(
        "user_id",
        "est",
        "exact_n",
        (F.col("est") - F.col("exact_n")).alias("overcount"),
    )


QUERIES["streaming_cms_merge"] = streaming_cms_merge

from ..operators.sketches import ORACLE as _SK_ORACLE  # noqa: E402

# the merged streaming sketch is value-identical to the one-pass batch
# sketch, so it shares the batch query's oracle verbatim
ORACLE["streaming_cms_merge"] = _SK_ORACLE["cms_heavy_hitters"]
