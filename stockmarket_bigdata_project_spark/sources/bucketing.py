"""Bucketed tables: co-located joins with zero exchange (100 TB lever #1).

The single biggest shuffle eliminator for a recurring big-big join is
bucketing both sides on the join key: `bucketBy(N, key).sortBy(key)` at
write time pre-shuffles the data ONCE; every later join on that key runs
with NO Exchange on either side (SortMergeJoin directly over bucketed
scans). At 100 TB this turns the nightly fact⋈fact join from the dominant
cost into a map-side merge.

`bucketed_join_orders_lineitem` writes both tables bucketed on the order
key into a session warehouse, joins them, and returns the aggregate. The
companion test asserts the plan property that matters: no Exchange above
either bucketed scan. The oracle asserts the result is identical to the
plain join — bucketing must be invisible in the values.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..scratch import drop_table, get_or_build, table_tag

N_BUCKETS = 8


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/lineitem bucketed on the order key (once per session's
    application and sf_dir, through the shared stored-index cache)."""
    tag = table_tag(sf_dir)
    ot, lt = f"orders_b_{tag}", f"lineitem_b_{tag}"

    def build() -> tuple[str, str]:
        for t in (ot, lt):
            drop_table(spark, t)
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        ).write.mode("overwrite").bucketBy(N_BUCKETS, "o_orderkey").sortBy(
            "o_orderkey"
        ).saveAsTable(ot)
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_quantity"
        ).write.mode("overwrite").bucketBy(N_BUCKETS, "l_orderkey").sortBy(
            "l_orderkey"
        ).saveAsTable(lt)
        return ot, lt

    return get_or_build(spark, "orders_lineitem_b", sf_dir, build)


def bucketed_join_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big join over co-bucketed tables: per-order revenue vs order
    total. Both scans are bucketed on the key → no Exchange (asserted in
    tests/test_bucketing.py)."""
    ot, lt = _ensure_bucketed_tables(spark, sf_dir)
    # merge hint: at toy SF the dimension fits a broadcast, which would hide
    # the property this query demonstrates; at 100 TB SMJ is the natural pick
    o = spark.table(ot).hint("merge")
    li = spark.table(lt)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_quantity")).cast(
                    "decimal(27,2)"
                )
            ).cast("double").alias(
                "line_revenue"
            ),
            F.count("*").alias("n_lines"),
        )
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_totalprice",
            "line_revenue",
            "n_lines",
        )
    )


QUERIES = {
    "bucketed_join_orders_lineitem": bucketed_join_orders_lineitem,
}

ORACLE = {
    # bucketing must not change the answer: plain join + agg
    "bucketed_join_orders_lineitem": """
SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
       o.o_totalprice,
       CAST(sum(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS line_revenue,
       count(*) AS n_lines
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2, 3
""",
}


# --- Z-order clustering / data-skipping audit (100 TB lever #2) --------------
Z_BITS = 8  # bits per dimension (z-values use 2*Z_BITS bits -> 256 files)
Z_CUST_DIV = 64  # cust bucket width: covers custkey < 16384 in 8 bits
Z_DAY_DIV = 16  # day bucket width: covers ~11 years of days in 8 bits
Z_EPOCH = "1995-01-01"  # day-index origin (earliest o_orderdate in testdata)
# the two probe predicates the report scores skipping against (RAW values)
Z_CUST_LO, Z_CUST_HI = 20, 40
Z_DAY_LO, Z_DAY_HI = 365, 395


def _morton_terms(x: str, y: str, intdiv: str) -> str:
    """Bit-interleave SQL shared by both engines: Morton code of (x, y)
    over Z_BITS bits each, built from pure integer arithmetic
    ((v div 2^b) % 2 — no engine-specific shift operators)."""
    terms = []
    for b in range(Z_BITS):
        terms.append(f"(({x} {intdiv} {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"(({y} {intdiv} {1 << b}) % 2) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


def zorder_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-skipping DECISION audit over a Z-ordered layout of orders:
    interleave the bits of (custkey bucket, order-day bucket), assign each
    row to its contiguous curve segment (file_id = z div 2^Z_BITS — the
    same sort-free assignment zorder_file_stats uses for layout PLANNING
    on events), keep each file's min/max envelope on the RAW dimensions,
    and evaluate — with exactly the min/max arithmetic Delta/Iceberg run
    at planning time — whether each of two single-dimension probe
    predicates (a customer range, a date range) skips the file. A
    date-sorted layout prunes date probes and nothing else; the measured
    point of the curve is that BOTH probes prune here. Complements
    zorder_file_stats (which reports envelope spans): this one emits the
    actual per-file skip verdicts a scan planner would act on. Output:
    ≤ 2^(2*Z_BITS−Z_BITS) rows of BIGINTs/INTs.

    Scale: the z-value and file id are pure map-side integer arithmetic
    in the scan stage — NO sort anywhere (contiguous z-division replaces
    ntile; at 100 TB the same z-value feeds repartitionByRange in the
    clustering write, a one-off cost the skipping amortizes); the stats
    rollup is one ≤256-group hash aggregate. Keys beyond the bucket
    budget saturate via least() — locality degrades gracefully,
    correctness of the min/max envelopes never depends on it.
    [extension]"""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("cust"),
        F.expr(
            f"CAST(datediff(to_date(o_orderdate), DATE '{Z_EPOCH}') AS BIGINT)"
        ).alias("day"),
    ).select(
        "cust",
        "day",
        F.expr(f"least(cust div {Z_CUST_DIV}, {(1 << Z_BITS) - 1})").alias("xb"),
        F.expr(f"least(day div {Z_DAY_DIV}, {(1 << Z_BITS) - 1})").alias("yb"),
    )
    z = o.withColumn("zval", F.expr(_morton_terms("xb", "yb", "div")))
    stats = (
        z.groupBy(
            F.expr(f"zval div {1 << Z_BITS}").cast("int").alias("file_id")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cust").alias("min_cust"),
            F.max("cust").alias("max_cust"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
    )
    skip_cust = (
        (F.col("max_cust") < Z_CUST_LO) | (F.col("min_cust") > Z_CUST_HI)
    ).cast("int")
    skip_date = (
        (F.col("max_day") < Z_DAY_LO) | (F.col("min_day") > Z_DAY_HI)
    ).cast("int")
    return stats.select(
        "file_id",
        "n_rows",
        "min_cust",
        "max_cust",
        "min_day",
        "max_day",
        skip_cust.alias("skip_cust_pred"),
        skip_date.alias("skip_date_pred"),
    )


QUERIES["zorder_skipping_report"] = zorder_skipping_report

ORACLE["zorder_skipping_report"] = f"""
WITH zo AS (
  SELECT CAST(o_custkey AS BIGINT) AS cust,
         CAST(CAST(o_orderdate AS DATE) - DATE '{Z_EPOCH}' AS BIGINT) AS day
  FROM orders
), zb AS (
  SELECT cust, day,
         least(cust // {Z_CUST_DIV}, {(1 << Z_BITS) - 1}) AS xb,
         least(day // {Z_DAY_DIV}, {(1 << Z_BITS) - 1}) AS yb
  FROM zo
), zv AS (
  SELECT cust, day,
         {_morton_terms("xb", "yb", "//")} AS zval
  FROM zb
), stats AS (
  SELECT CAST(zval // {1 << Z_BITS} AS INTEGER) AS file_id,
         count(*) AS n_rows,
         min(cust) AS min_cust, max(cust) AS max_cust,
         min(day) AS min_day, max(day) AS max_day
  FROM zv GROUP BY 1
)
SELECT file_id, n_rows, min_cust, max_cust, min_day, max_day,
       CAST(max_cust < {Z_CUST_LO} OR min_cust > {Z_CUST_HI} AS INTEGER)
         AS skip_cust_pred,
       CAST(max_day < {Z_DAY_LO} OR min_day > {Z_DAY_HI} AS INTEGER)
         AS skip_date_pred
FROM stats
"""
