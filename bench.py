"""Benchmark harness: time the HEADLINE and CURATION queries at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test catalog) on the session from
`session.get_spark` (local[$SPARK_GRAFT_CPUS]) and print ONE JSON record as
the last stdout line:

    {"metric": "headline_queries_total", "value": N, "unit": "sec",
     "sf": ..., "cpus": ..., "queries": {...}, "queries_cold": {...},
     "curation_queries_total": N}

Each query is forced with a noop-format write: every partition executes,
nothing is collected or written to disk, so a timing is the end-to-end plan
cost including the parquet scan.

Each query runs twice in one session. The cold pass pays per-process costs
(Python worker spin-up for Arrow UDF stages, codegen, the parquet footer
cache); the steady pass is the marginal cost of the plan. `queries` holds
the steady time, except for STAGED queries, whose steady pass only reads a
memoized relation: they report their cold time. `value` is the sum of
`queries` over HEADLINE, `curation_queries_total` the same over CURATION.
`queries` and `queries_cold` carry all HEADLINE + CURATION names.

Per-query progress goes to stderr. Each run appends one entry
`{code, sf, cpus, queries_cold, queries_steady}` to .bench_history.json.
Judging a code change against box noise is the job of `perfbench/`
(alternating A/B pairs plus deterministic per-layer counters); this file
only reports.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

from stockmarket_bigdata_project_spark import registry
from stockmarket_bigdata_project_spark.llmdata.dedup import clear_staged_memo
from stockmarket_bigdata_project_spark.session import get_spark

# One headline per engine layer (SURVEY §2 / §7.1 build order): medallion
# gold build, group-agg + join, interval join, window/time-series, top-k,
# text extraction, minhash dedup, embedding similarity. The composition is
# frozen so totals stay comparable across runs.
HEADLINE = [
    "gold_daily_features",
    "revenue_by_brand",
    "local_supplier_volume",
    "join_daily_market_activity",
    "interval_join_48h",
    "asof_join_prev_order",
    "rolling_mean",
    "topk_per_group",
    "sequence_assembly",
    "extract_tickers_v2",
    "predict_returns",
    "minhash_lsh_pairs",
    "corpus_clean",
    "knn_bruteforce",
    "dedup_exact",
    "lang_id_scores",
    "media_catalog",
    "image_features",
    "hybrid_retrieval_rrf",
    "sequence_packing_spans",
]

# The heaviest curation-tier queries absent from HEADLINE, recorded as a
# second block so a regression there shows in the record too.
CURATION = [
    "substring_dedup_rewrite",
    "boilerplate_strip",
    "semdedup_survivors",
    "bpe_train_merges",
    "lm_ccnet_buckets_sampled",
    "training_manifest",
    "winnowing_dup_candidates",
    "ivf_pq_topk",
]

# Queries built on session-memoized staged relations (persist + memo in
# llmdata.dedup: the LSH candidate/verified-pair relations and the resolved
# dup components). Their second execution is a memo hit, not the pipeline,
# so the cold time is the honest number. The memo is cleared before each
# one's cold pass, or a later staged query would read relations an earlier
# one memoized.
STAGED = {"minhash_lsh_pairs", "corpus_clean", "training_manifest"}

HISTORY_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".bench_history.json"
)


def _force(df) -> None:
    """Execute the full plan without materializing to the driver or disk."""
    df.write.format("noop").mode("overwrite").save()


def _code_fingerprint() -> str:
    """md5 over the engine + bench source bytes: identifies "same code"
    across sessions regardless of commit state, so history entries of
    identical code can be pooled."""
    root = os.path.dirname(os.path.abspath(__file__))
    paths = [os.path.join(root, "bench.py"), os.path.join(root, "__spark_entry__.py")]
    pkg = os.path.join(root, "stockmarket_bigdata_project_spark")
    for dirpath, _dirnames, filenames in os.walk(pkg):
        paths.extend(
            os.path.join(dirpath, f) for f in filenames if f.endswith(".py")
        )
    h = hashlib.md5()
    for p in sorted(paths):
        # relpath, not absolute: the same code checked out at another path
        # or on another box must fingerprint identically
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _time_queries(
    spark, sf_dir: str, queries: dict, names: list[str]
) -> tuple[dict[str, float], dict[str, float]]:
    """(cold, steady) seconds per name; an unknown name raises KeyError."""
    cold: dict[str, float] = {}
    steady: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        if name in STAGED:
            clear_staged_memo()  # cold must pay the full pipeline
        start = time.perf_counter()
        _force(fn(spark, sf_dir))
        cold[name] = round(time.perf_counter() - start, 3)
        start = time.perf_counter()
        _force(fn(spark, sf_dir))
        steady[name] = round(time.perf_counter() - start, 3)
        print(
            f"  {name}: {steady[name]:.3f}s steady ({cold[name]:.3f}s cold)",
            file=sys.stderr,
        )
    return cold, steady


def _record_line(
    sf: float, cpus: int, cold: dict[str, float], steady: dict[str, float]
) -> str:
    """The bench record as one JSON line. At 28 names and 999.999 s in
    both per-query dicts it stays under 1,900 chars, so it fits in the
    last 2,000 chars of stdout that a caller may keep."""
    names = HEADLINE + CURATION
    timings = {n: cold[n] if n in STAGED else steady[n] for n in names}
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "value": round(sum(timings[n] for n in HEADLINE), 3),
            "unit": "sec",
            "sf": sf,
            "cpus": cpus,
            "queries": timings,
            "queries_cold": {n: cold[n] for n in names},
            "curation_queries_total": round(
                sum(timings[n] for n in CURATION), 3
            ),
        }
    )


def _append_history(path: str, entry: dict) -> None:
    """Append `entry` to the JSON list at `path`. A missing or malformed
    file starts a new list; a failed write is reported, not raised, so the
    run still prints its record."""
    try:
        with open(path) as fh:
            hist = json.load(fh)
    except (OSError, ValueError):
        hist = []
    if not isinstance(hist, list):
        hist = []
    hist.append(entry)
    try:
        with open(path, "w") as fh:
            json.dump(hist, fh, indent=1)
    except OSError as exc:
        print(f"  bench history not written: {exc}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark(app_name="stockmarket-bigdata-bench")
    # session.py sets no spark.default.parallelism, so this is the n of the
    # local[n] master the queries run on
    cpus = spark.sparkContext.defaultParallelism
    queries = registry.all_queries()

    # warm the JVM + parquet footer cache once so the first query doesn't
    # pay session startup
    _force(queries[HEADLINE[0]](spark, sf_dir).limit(1))

    cold, steady = _time_queries(spark, sf_dir, queries, HEADLINE + CURATION)
    _append_history(
        HISTORY_PATH,
        {
            "code": _code_fingerprint(),
            "sf": sf,
            "cpus": cpus,
            "queries_cold": cold,
            "queries_steady": steady,
        },
    )
    # stray stdout before the record must not break a json.loads of the
    # last 2,000 chars of stdout, so a whitespace line pushes it out
    print(" " * 2000)
    print(_record_line(sf, cpus, cold, steady))


if __name__ == "__main__":
    main()
