"""Custom connector via the Python DataSource API (pyspark.sql.datasource).

The reference's only non-file source is Kafka + MongoDB through packaged
connectors (spark_consumer.py:69-84, build_training_dataset.py:21-48). This
module shows the engine's EXTENSION point for sources Spark has no built-in
for: a `DataSource` subclass with

  * partition planning (`partitions()`): the generator range is split into
    `n_partitions` independent slices, so a 1000-executor cluster reads 1000
    slices concurrently — the source itself defines its parallelism, exactly
    like parquet row-groups or Kafka topic partitions;
  * filter pushdown (`pushFilters`): tick_id range predicates are absorbed
    into the partition planner (slices outside the range are never
    generated), the Python-source equivalent of parquet row-group pruning —
    Spark re-evaluates every filter on the rows anyway, so absorbing a
    filter is an optimization, never a correctness risk;
  * Arrow-vectorized reads: `read()` yields pyarrow RecordBatches built from
    numpy arrays — the columnar fast path (no per-row Python tuples).

The payload is a deterministic synthetic tick feed (the stand-in for a
market-data firehose): every value is integer arithmetic or an exact /100.0,
so a DuckDB `range()` oracle reproduces it bit-for-bit and the connector is
value-checked end to end, not rows-only.
"""

from __future__ import annotations

import ast
import json
import math
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

# 1996-01-01 00:00:00 UTC — aligned with the testdata's order-date era
_EPOCH_US = 820_454_400 * 1_000_000
_SYMBOLS = [f"S{i}" for i in range(8)]

_TICK_SCHEMA = "tick_id bigint, ts timestamp, symbol string, px double, qty bigint"


class _TickSlice(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _TickReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", 100_000))
        self.n_partitions = int(options.get("n_partitions", 8))
        # pushed-down tick_id bounds, narrowed by pushFilters
        self.lo = 0
        self.hi = self.n_rows

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Absorb tick_id range predicates into the slice planner; everything
        else is returned (= Spark keeps evaluating it)."""
        for f in filters:
            if isinstance(
                f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ) and f.attribute == ("tick_id",) and isinstance(f.value, int):
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, f.value + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, f.value)
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, f.value)
                else:
                    self.hi = min(self.hi, f.value + 1)
                continue  # absorbed (Spark still re-checks rows — safe)
            yield f

    def partitions(self) -> list[_TickSlice]:
        lo, hi = self.lo, max(self.lo, self.hi)
        chunk = max(1, math.ceil((hi - lo) / self.n_partitions))
        return [
            _TickSlice(s, min(hi, s + chunk)) for s in range(lo, hi, chunk)
        ]

    def read(self, partition: _TickSlice):
        # Arrow-vectorized generation: one RecordBatch per slice, all columns
        # materialized as numpy arrays (no per-row Python objects).
        import numpy as np
        import pyarrow as pa

        i = np.arange(partition.start, partition.end, dtype=np.int64)
        ts = (_EPOCH_US + i * 1_000_000).view("datetime64[us]")
        px = (1000 + (i * 37) % 5000) / 100.0  # 2-dec exact doubles
        qty = 1 + (i * 17) % 99
        symbol = pa.DictionaryArray.from_arrays(
            pa.array((i % 8).astype(np.int32)), pa.array(_SYMBOLS)
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(i),
                pa.array(ts),
                symbol.cast(pa.string()),
                pa.array(px),
                pa.array(qty),
            ],
            names=["tick_id", "ts", "symbol", "px", "qty"],
        )


class _TickStreamReader(DataSourceStreamReader):
    """Streaming face of the same feed: offset = row watermark into the
    deterministic tick sequence. Each microbatch advances the offset by
    `rows_per_batch` (the backpressure cap — the Python-source analog of
    Kafka's maxOffsetsPerTrigger, T6), `partitions()` splits the offset
    range into independent slices exactly like the batch planner, and
    `read()` reuses the batch reader's Arrow generation. The feed is bounded
    at `n_rows` so replay queries terminate; a live source would return its
    real high-water mark from latestOffset() instead."""

    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", 100_000))
        self.rows_per_batch = int(options.get("rows_per_batch", 25_000))
        self.n_partitions = int(options.get("n_partitions", 8))
        self._latest = 0

    def initialOffset(self) -> dict:
        return {"tick": 0}

    def latestOffset(self) -> dict:
        self._latest = min(self._latest + self.rows_per_batch, self.n_rows)
        return {"tick": self._latest}

    def partitions(self, start: dict, end: dict) -> list[_TickSlice]:
        lo, hi = start["tick"], end["tick"]
        # restart-from-checkpoint: Spark seeds (start, end) from the offset
        # log WITHOUT calling initialOffset, so a fresh reader instance
        # (_latest = 0) would otherwise report the next latestOffset()
        # behind the replayed range and regress the offset log. Ratchet
        # here (the replayed batch runs before any new latestOffset call)
        # and in commit() — both paths keep the high-water mark monotonic.
        self._latest = max(self._latest, lo, hi)
        if hi <= lo:
            return [_TickSlice(lo, lo)]
        step = max(1, math.ceil((hi - lo) / self.n_partitions))
        return [_TickSlice(s, min(s + step, hi)) for s in range(lo, hi, step)]

    def read(self, partition: _TickSlice):
        # identical Arrow-batch generation as the batch reader — offsets are
        # absolute row indices, so batch and stream agree value-for-value
        yield from _TickReader({}).read(partition)

    def commit(self, end: dict) -> None:
        # the generator is stateless, so there is no data to release — but
        # ratchet the high-water mark to the committed offset so a query
        # restarted from an existing checkpoint (where initialOffset is NOT
        # called and _latest would restart at 0) never reports latestOffset
        # behind what is already committed
        self._latest = max(self._latest, int(end["tick"]))


class TickDataSource(DataSource):
    """`spark.read.format("ticks")` — deterministic synthetic market feed,
    batch and streaming."""

    @classmethod
    def name(cls) -> str:
        return "ticks"

    def schema(self) -> str:
        return _TICK_SCHEMA

    def reader(self, schema) -> _TickReader:
        return _TickReader(self.options)

    def streamReader(self, schema) -> _TickStreamReader:
        return _TickStreamReader(self.options)


# --- registered queries ------------------------------------------------------
def _register(spark):
    # idempotent: later registrations overwrite (same class, so a no-op).
    # Python-source filter pushdown is opt-in; it's a runtime SQL conf, so
    # set it here — callers (the driver included) hand us arbitrary sessions.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TickDataSource)


def python_datasource_ticks(spark, sf_dir):
    """Full scan of the custom source: per-symbol tick stats. sf_dir is
    unused — the source generates its own (fixed, deterministic) volume."""
    import pyspark.sql.functions as F

    _register(spark)
    df = spark.read.format("ticks").option("n_rows", 100_000).load()
    return df.groupBy("symbol").agg(
        F.count("*").alias("n_ticks"),
        F.sum(F.col("px").cast("decimal(27,2)")).cast("double").alias("total_px"),
        F.sum("qty").alias("total_qty"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def python_datasource_pushdown(spark, sf_dir):
    """Range-filtered scan: the tick_id bounds reach pushFilters and shrink
    the generated slices (asserted in test_pyds); Spark still re-evaluates
    the predicate per row, so absorption is purely an optimization."""
    import pyspark.sql.functions as F

    _register(spark)
    df = spark.read.format("ticks").option("n_rows", 100_000).load()
    return (
        df.filter((F.col("tick_id") >= 90_000) & (F.col("tick_id") < 95_000))
        .groupBy("symbol")
        .agg(
            F.count("*").alias("n_ticks"),
            F.sum(F.col("px").cast("decimal(27,2)")).cast("double").alias("total_px"),
        )
    )


def python_datasource_stream_ticks(spark, sf_dir):
    """The custom source consumed as a STREAM: 4 genuine microbatches
    (25k-row offset advances over the bounded 100k feed, the
    maxOffsetsPerTrigger analog), appended to a memory sink, aggregated
    after the feed drains. Python streaming sources don't support
    Trigger.AvailableNow (Spark falls back to one batch), so the query runs
    on a tight processing-time trigger and stops once the offset log reaches
    the end of the feed — the bounded-replay idiom for a custom source.
    Batch/stream parity: read() is the same Arrow generator, so the result
    equals python_datasource_ticks and shares its oracle shape."""
    import tempfile
    import time

    import pyspark.sql.functions as F

    from ..scratch import sink_name

    _register(spark)
    sdf = (
        spark.readStream.format("ticks")
        .option("n_rows", 100_000)
        .option("rows_per_batch", 25_000)
        .load()
    )
    name = sink_name(spark, "pyds_stream_")
    with tempfile.TemporaryDirectory(
        prefix="spark_graft_pyds_chk_", ignore_cleanup_errors=True
    ) as chk:
        q = (
            sdf.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", chk)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                p = q.lastProgress
                if p and p.get("sources"):
                    end = p["sources"][0].get("endOffset")
                    if isinstance(end, str):
                        # progress offsets arrive serialized; Python-source
                        # offsets render as a dict repr ({'tick': N}), not JSON
                        try:
                            end = json.loads(end)
                        except json.JSONDecodeError:
                            end = ast.literal_eval(end)
                    if end and end.get("tick") == 100_000:
                        break
                time.sleep(0.2)
            else:
                raise TimeoutError("tick stream did not drain within 120s")
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name).groupBy("symbol").agg(
        F.count("*").alias("n_ticks"),
        F.sum(F.col("px").cast("decimal(27,2)")).cast("double").alias("total_px"),
        F.sum("qty").alias("total_qty"),
    )


_TICKS_SQL = """
SELECT CAST(i AS BIGINT) AS tick_id,
       TIMESTAMP '1996-01-01 00:00:00' + INTERVAL (i) SECOND AS ts,
       'S' || CAST(i % 8 AS VARCHAR) AS symbol,
       (1000 + (i * 37) % 5000) / 100.0 AS px,
       CAST(1 + (i * 17) % 99 AS BIGINT) AS qty
FROM range(100000) t(i)
"""

QUERIES = {
    "python_datasource_ticks": python_datasource_ticks,
    "python_datasource_pushdown": python_datasource_pushdown,
    "python_datasource_stream_ticks": python_datasource_stream_ticks,
}

ORACLE = {
    "python_datasource_ticks": f"""
WITH ticks AS ({_TICKS_SQL})
SELECT symbol, count(*) AS n_ticks,
       CAST(sum(CAST(px AS DECIMAL(27,2))) AS DOUBLE) AS total_px,
       CAST(sum(qty) AS BIGINT) AS total_qty,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM ticks GROUP BY symbol
""",
    "python_datasource_pushdown": f"""
WITH ticks AS ({_TICKS_SQL})
SELECT symbol, count(*) AS n_ticks,
       CAST(sum(CAST(px AS DECIMAL(27,2))) AS DOUBLE) AS total_px
FROM ticks WHERE tick_id >= 90000 AND tick_id < 95000
GROUP BY symbol
""",
    "python_datasource_stream_ticks": f"""
WITH ticks AS ({_TICKS_SQL})
SELECT symbol, count(*) AS n_ticks,
       CAST(sum(CAST(px AS DECIMAL(27,2))) AS DOUBLE) AS total_px,
       CAST(sum(qty) AS BIGINT) AS total_qty
FROM ticks GROUP BY symbol
""",
}
