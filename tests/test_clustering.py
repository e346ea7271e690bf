"""Iterative k-means contracts: monotone cost, full coverage, determinism."""

from __future__ import annotations

from stockmarket_bigdata_project_spark.llmdata.clustering import (
    K,
    kmeans_cluster_sizes,
    kmeans_fit,
)


def test_kmeans_cost_monotone_nonincreasing(spark, sf_dir):
    _, costs = kmeans_fit(spark, sf_dir)
    assert all(b <= a * (1 + 1e-9) for a, b in zip(costs, costs[1:])), costs


def test_kmeans_partitions_all_vectors(spark, sf_dir):
    from stockmarket_bigdata_project_spark.catalog import load_table

    sizes = kmeans_cluster_sizes(spark, sf_dir)
    total = load_table(spark, sf_dir, "embeddings").count()
    rows = sizes.collect()
    assert sum(r.n_members for r in rows) == total
    assert len(rows) <= K


def test_semdedup_removals_subset_of_bruteforce_near_dups(spark, sf_dir):
    """SemDeDup prunes within clusters only, so anything it removes must
    also be removable under the unrestricted all-pairs rule at the same τ
    (approximation can only MISS duplicates, never invent them) — and it
    must keep at least one member of every near-dup pair it acts on."""
    import pyspark.sql.functions as F

    from stockmarket_bigdata_project_spark.llmdata.similarity import (
        SEMDEDUP_TAU,
        _cosine,
        _emb,
        semdedup_survivors,
    )

    out = semdedup_survivors(spark, sf_dir)
    removed = {r["vec_id"] for r in out.filter(F.col("kept") == 0).collect()}
    assert removed, "threshold should remove something at every SF"

    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("mvec").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("mvec").alias("vb"))
    full = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(_cosine("va", "vb") >= SEMDEDUP_TAU)
        .select("vec_a", "vec_b")
        .collect()
    )
    bruteforce_removable = {r["vec_b"] for r in full}
    assert removed <= bruteforce_removable
    # survivorship: the smaller id of every acted-on pair is kept
    kept = {r["vec_id"] for r in out.filter(F.col("kept") == 1).collect()}
    min_ids = {r["vec_a"] for r in full} - bruteforce_removable
    assert min_ids <= kept
