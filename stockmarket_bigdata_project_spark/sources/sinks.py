"""Sinks (SURVEY §2.1): partitioned medallion writes, overwrite/append,
single-file export, upsert-as-merge.

Reference parity cites (into /root/reference):
  S8  append sink per micro-batch   reddit_pipeline.py:110-131 (Mongo append)
  S9  overwrite sink (gold)         build_training_dataset.py:70-72
  S10 single-file CSV export        build_training_dataset.py:77-79
  S12 upsert                        predictor_service.py:124-126
      (update_one(..., upsert=True)) — no Spark-native upsert without a
      table format; re-expressed as merge = new-keys ∪ (old anti new)

Scale notes (100 TB): the gold table is written partitionBy(trade_date) so
date-range queries prune partitions at the file listing (the manual Mongo
find() pushdown of app.py:71 becomes free); the merge rewrites only the
union of touched partitions in a real deployment (here: whole-table, the
testdata is one day-partitioned toy); coalesce(1) is kept ONLY as the
documented single-file export — it serializes the write through one task
and must never be used on large outputs.
"""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..functions.exact import dec_sum
from ..operators.gold import GOLD_ORACLE_SQL, SUPPLIER_DAILY_SQL, gold_daily_features
from ..scratch import scratch_dir

_lock = threading.Lock()


# --- S9 + partition pruning: partitioned gold write, pruned read ------------
def partitioned_gold_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the gold table partitioned by trade_date, read it back with a
    date filter — the filter must prune partitions (directory-level skip),
    which .explain() shows as PartitionFilters. Returns the pruned slice."""
    gold = gold_daily_features(spark, sf_dir)
    out = scratch_dir(spark, "gold")
    with _lock:
        # r14 (guide §6 output sizing): cluster rows by the partition column
        # before the partitioned write — without this every upstream task
        # holds rows of ~every trade_date and the dynamic-partition write
        # fans out to |dates|·|tasks| KB-sized files (~2,400 dates × 32
        # tasks here; measured 116–180 s per call, dominated by file
        # create/commit). With the repartition each date lands in exactly
        # one task → one file per partition (the compact_small_files
        # rule applied at write time).
        #
        # r15: the count must be EXPLICIT — a keyless-count
        # repartition("trade_date") is subject to AQE partition coalescing,
        # which collapsed the KB-sized shuffle to ONE task that then wrote
        # all ~2,300 files sequentially (~12 ms of parquet writer init per
        # file, single-threaded; statusTracker showed tasks=1 on the write
        # stage). An explicit (N, key) repartition is exempt from
        # coalescing, so N tasks create files concurrently while each date
        # still lands in exactly one task. Measured 36 s → 7.7 s per call,
        # identical 2,289 dirs / 2,289 files (layout-identical).
        n = spark.sparkContext.defaultParallelism
        gold.repartition(n, "trade_date").write.mode("overwrite").partitionBy(
            "trade_date"
        ).parquet(out)
    back = spark.read.parquet(out)
    return back.filter(
        (F.col("trade_date") >= "1998-08-01") & (F.col("trade_date") <= "1998-08-07")
    ).select(
        "trade_date",
        "l_suppkey",
        "open_px",
        "close_px",
        "volume",
        "order_count",
    )


# --- S12: upsert as merge ----------------------------------------------------
def upsert_merge_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge semantics without a table format: updates = recomputed rows for
    the last 7 days (the reference's predictor upserts current-day docs);
    result = updates ∪ (base ⟻anti updates). Keyed by (l_suppkey,
    trade_date). At scale this is dynamic-partition-overwrite of touched
    dates only."""
    base = gold_daily_features(spark, sf_dir).select(
        "l_suppkey", "trade_date", "close_px", "volume"
    )
    cutoff = "1998-11-24"
    # +1% in exact integer cents (half-up), not round(close_px*1.01, 2):
    # 34882.50*1.01 = 35231.325 lands exactly on a half-cent, where Spark's
    # HALF_UP on the exact binary expansion and DuckDB's round() disagree.
    # Integer (cents*101+50) DIV 100 is bit-identical on both engines.
    updates = base.filter(F.col("trade_date") > cutoff).withColumn(
        "close_px",
        F.expr(
            "((CAST(round(close_px * 100) AS BIGINT) * 101 + 50) DIV 100) / 100.0"
        ),
    )
    keep = base.filter(F.col("trade_date") <= cutoff)
    return keep.unionByName(updates).withColumn(
        "updated", (F.col("trade_date") > cutoff).cast("int")
    )


# --- S10: single-file export -------------------------------------------------
def single_file_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce(1) CSV export of a small aggregate (API parity with the
    reference's gold CSV dump). Returns the re-read file so the roundtrip is
    checked. Documented driver-bottleneck: one task writes the file."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum("o_totalprice")
            .alias("day_total"),
        )
    )
    out = scratch_dir(spark, "csv1")
    with _lock:
        daily.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    return (
        spark.read.option("header", True)
        .schema("day date, n_orders bigint, day_total double")
        .csv(out)
    )


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every long-lived
    100 TB table needs (streaming appends and fine-grained backfills leave
    thousands of KB-sized files per partition; scan cost then tracks file
    COUNT, not bytes). Simulate the degraded state (8-way fragmented write
    per date partition), compact by rewriting with one file per partition
    (repartition on the partition column so each lands in one task), and
    return the compacted table's per-month rollup so the oracle value-checks
    that compaction changed LAYOUT, not data. The file-count drop itself is
    pinned in tests/test_bucketing.py::test_compaction_reduces_files."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum("o_totalprice").alias("day_total"),
        )
    )
    monthly = daily.withColumn(
        "month", F.date_trunc("month", "day").cast("date")
    )
    frag = scratch_dir(spark, "frag")
    compacted = scratch_dir(spark, "compact")
    with _lock:
        # fragmented state: round-robin repartition scatters each month's
        # ~30 daily rows across 8 tasks → up to 8 small files per partition
        monthly.repartition(8).write.mode("overwrite").partitionBy("month").parquet(
            frag
        )
        # compaction: cluster rows by partition key → one file per partition.
        # Explicit count (r15, same fix as partitioned_gold_write): a
        # keyless-count repartition is REPARTITION_BY_COL and AQE coalesces
        # the tiny shuffle to ONE task, serializing the per-month file
        # creates; (N, key) is exempt and each month still lands in exactly
        # one task.
        spark.read.parquet(frag).repartition(
            spark.sparkContext.defaultParallelism, "month"
        ).write.mode("overwrite").partitionBy("month").parquet(compacted)
    back = spark.read.parquet(compacted)
    return back.groupBy("month").agg(
        F.count("*").alias("n_days"),
        F.sum("n_orders").alias("n_orders"),
        F.sum(F.col("day_total").cast("decimal(27,2)")).cast("double").alias(
            "month_total"
        ),
    )


QUERIES = {
    "partitioned_gold_write": partitioned_gold_write,
    "upsert_merge_daily": upsert_merge_daily,
    "single_file_export": single_file_export,
    "compact_small_files": compact_small_files,
}

ORACLE = {
    "partitioned_gold_write": f"""
SELECT trade_date, l_suppkey, open_px, close_px, volume, order_count
FROM ({GOLD_ORACLE_SQL})
WHERE trade_date BETWEEN DATE '1998-08-01' AND DATE '1998-08-07'
""",
    "upsert_merge_daily": f"""
SELECT l_suppkey, trade_date,
       CASE WHEN trade_date > DATE '1998-11-24'
            THEN ((CAST(round(close_px * 100) AS BIGINT) * 101 + 50) // 100) / 100.0
            ELSE close_px END AS close_px,
       volume,
       CASE WHEN trade_date > DATE '1998-11-24' THEN 1 ELSE 0 END AS updated
FROM ({SUPPLIER_DAILY_SQL})
""",
    "single_file_export": """
SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS day_total
FROM orders GROUP BY 1
""",
    "compact_small_files": """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS day_total
  FROM orders GROUP BY 1
)
SELECT CAST(date_trunc('month', day) AS DATE) AS month,
       count(*) AS n_days,
       CAST(sum(n_orders) AS BIGINT) AS n_orders,
       CAST(sum(CAST(day_total AS DECIMAL(27,2))) AS DOUBLE) AS month_total
FROM daily GROUP BY 1
""",
}
