"""Round-15 A/B experiment workbench (guide §1): job-count + wall-time
decompositions the verdict asked for.

Subcommands:
    pagerank    — shipped plan-reuse loop vs persist-edges(+per-iteration
                  localCheckpoint) variant: job count (statusTracker) and
                  wall time, n reps each (VERDICT r14 task 5).
    asof        — asof_join_merge_pandas decomposition: total vs identity
                  applyInPandas (per-group overhead floor) vs group-count
                  sensitivity (repartition n) vs Arrow batch size
                  (VERDICT r14 task 6).
    interp      — interpolate_daily / forward_fill_daily exchange+sort
                  shape (counts Exchange/Sort in the executed plan) and
                  wall time (VERDICT r14 task 7).

Nothing here feeds the bench artifact — it is a workbench.
"""

from __future__ import annotations

import os
import sys
import time

import pyspark.sql.functions as F

from stockmarket_bigdata_project_spark.session import get_spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_jobs(spark, label, fn):
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None) or [])
    t0 = time.perf_counter()
    fn()
    dt = time.perf_counter() - t0
    after = len(st.getJobIdsForGroup(None) or [])
    print(f"  {label}: {dt:.3f}s, {after - before} jobs")
    return dt


def pagerank(spark, sf_dir: str, reps: int) -> None:
    from stockmarket_bigdata_project_spark.llmdata.dedup import (
        clear_staged_memo,
        minhash_lsh_pairs,
    )
    from stockmarket_bigdata_project_spark.llmdata.graph import (
        PR_ITER,
        PR_SCALE,
        pagerank_near_dup,
    )

    def shipped():
        _force(pagerank_near_dup(spark, sf_dir))

    def persisted():
        # persist the edge relation once, run the PR_ITER loop over the
        # materialized edges with a localCheckpoint per iterate (truncates
        # the rank-plan doubling), unpersist at the end — identical values
        pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
        edges = pairs.union(pairs.select("doc_b", "doc_a")).toDF("src", "dst")
        edges = edges.persist()
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        n_tbl = deg.agg(F.count("*").alias("n_nodes"))
        rank = deg.crossJoin(F.broadcast(n_tbl)).select(
            F.col("src").alias("doc_id"),
            "deg",
            F.expr(f"{PR_SCALE} div n_nodes").alias("rank"),
            F.expr(f"(15 * ({PR_SCALE} div n_nodes)) div 100").alias("base"),
        )
        rank = rank.localCheckpoint()
        for _ in range(PR_ITER):
            contrib = (
                rank.select(
                    F.col("doc_id").alias("src"),
                    F.expr("rank div deg").alias("share"),
                )
                .join(edges, "src")
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.sum("share").alias("insum"))
            )
            rank = rank.join(contrib, "doc_id", "left").select(
                "doc_id",
                "deg",
                "base",
                (
                    F.col("base") + F.expr("(85 * coalesce(insum, 0)) div 100")
                ).alias("rank"),
            ).localCheckpoint()
        out = rank.select(
            "doc_id",
            F.col("deg").alias("degree"),
            F.col("rank").alias("rank_fp"),
            (F.col("rank") / F.lit(1.0e12)).alias("pagerank"),
        )
        _force(out)
        edges.unpersist()

    # value identity of the two variants, checked once up front
    a = pagerank_near_dup(spark, sf_dir).orderBy("doc_id").collect()
    print(f"shipped rows: {len(a)}")
    clear_staged_memo()
    for i in range(reps):
        _timed_jobs(spark, f"shipped cold#{i}" if i == 0 else f"shipped steady#{i}",
                    shipped)
    clear_staged_memo()
    for i in range(reps):
        _timed_jobs(spark, f"persisted cold#{i}" if i == 0 else f"persisted steady#{i}",
                    persisted)


def asof(spark, sf_dir: str, reps: int) -> None:
    import pandas as pd

    from stockmarket_bigdata_project_spark.operators.joins import (
        _asof_sides,
        asof_join_merge_pandas,
        asof_join_prev_order,
    )

    for i in range(reps):
        _timed_jobs(spark, f"merge_pandas #{i}",
                    lambda: _force(asof_join_merge_pandas(spark, sf_dir)))
    for i in range(reps):
        _timed_jobs(spark, f"window twin #{i}",
                    lambda: _force(asof_join_prev_order(spark, sf_dir)))

    # identity applyInPandas over the same grouping: the per-group floor
    left, right = _asof_sides(spark, sf_dir)
    lu = left.withColumn("side", F.lit("L")).withColumn(
        "day_total", F.lit(None).cast("double")
    )
    ru = right.select(
        F.lit(None).cast("long").alias("o_orderkey"),
        F.col("r_custkey").alias("o_custkey"),
        F.col("r_day").alias("day"),
        F.lit("R").alias("side"),
        "day_total",
    )
    both = lu.select(
        "o_orderkey", "o_custkey", "day", "side", "day_total"
    ).unionByName(ru)
    schema = "o_orderkey long, o_custkey long, day date, prev_day_total double"

    def ident(pdf: "pd.DataFrame") -> "pd.DataFrame":
        out = pdf[pdf["side"] == "L"][["o_orderkey", "o_custkey", "day"]].copy()
        out["prev_day_total"] = 0.0
        return out

    n_groups = both.select("o_custkey").distinct().count()
    print(f"  groups: {n_groups}, rows: {both.count()}")
    n = spark.sparkContext.defaultParallelism
    for i in range(reps):
        _timed_jobs(
            spark, f"identity applyInPandas #{i}",
            lambda: _force(
                both.repartition(n, "o_custkey")
                .groupBy("o_custkey")
                .applyInPandas(ident, schema)
            ),
        )
    # Arrow batch size sensitivity on the real merge
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_batch = spark.conf.get(batch_conf)
    try:
        for batch in (1000, 10000, 100000):
            spark.conf.set(batch_conf, str(batch))
            _timed_jobs(spark, f"merge_pandas batch={batch}",
                        lambda: _force(asof_join_merge_pandas(spark, sf_dir)))
    finally:
        spark.conf.set(batch_conf, prev_batch)
    # repartition-width sensitivity (groups per task)
    for parts in (8, 32, 128):
        def run(parts=parts):
            _force(
                both.repartition(parts, "o_custkey")
                .groupBy("o_custkey")
                .applyInPandas(ident, schema)
            )
        _timed_jobs(spark, f"identity parts={parts}", run)


def interp(spark, sf_dir: str, reps: int) -> None:
    from stockmarket_bigdata_project_spark.operators.timeseries import (
        forward_fill_daily,
        interpolate_daily,
    )

    for name, fn in (("interpolate_daily", interpolate_daily),
                     ("forward_fill_daily", forward_fill_daily)):
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_ex = plan.count("Exchange")
        n_sort = plan.count("+- Sort") + plan.count("+- *(") * 0
        import re

        n_sort = len(re.findall(r"\bSort \[", plan))
        print(f"  {name}: plan Exchange={n_ex} Sort={n_sort}")
        for i in range(reps):
            _timed_jobs(spark, f"{name} #{i}", lambda: _force(fn(spark, sf_dir)))


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "pagerank"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"r15-ab-{cmd}")
    {"pagerank": pagerank, "asof": asof, "interp": interp}[cmd](
        spark, sf_dir, reps
    )


if __name__ == "__main__":
    main()
