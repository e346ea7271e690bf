"""Registry order invariants. The gate checks the first 50 names of
registry.all_queries(): they come from the committed query_order.txt, with
the latest record's red oracle queries moved to the front."""

from __future__ import annotations

import glob
import json
import os

import pytest

from stockmarket_bigdata_project_spark import registry

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _order_file() -> list[str]:
    with open(registry._ORDER_FILE) as f:
        return f.read().split()


def _red(record: dict) -> set[str]:
    """Oracle queries whose row in `record` failed its hash or errored."""
    oracle = registry.all_oracle_sql()
    return {
        n for n, row in record.items()
        if n in oracle and (row.get("hash_match") is False or row.get("err"))
    }


def test_order_file_is_a_permutation_of_registered_names():
    order = _order_file()
    dupes = sorted({n for n in order if order.count(n) > 1})
    assert dupes == [], f"query_order.txt lists names twice: {dupes}"
    # merged straight from the modules: all_queries() itself fails on a
    # registered name the file lacks
    registered = {n for m in registry._modules() for n in getattr(m, "QUERIES", {})}
    assert set(order) - registered == set(), "query_order.txt names unknown queries"
    assert registered - set(order) == set(), "registered queries missing from query_order.txt"


def test_rotation_tiers_are_ordered():
    """On the recorded state: the latest record's red oracle queries come
    first, then every other name in query_order.txt order."""
    names = list(registry.all_queries())
    red = _red(registry._latest_record())
    assert set(names[: len(red)]) == red
    assert names[len(red):] == [n for n in _order_file() if n not in red]


def test_red_oracle_row_fronts_only_the_oracle_query(monkeypatch):
    """A hash-failed oracle row moves its query to position 0; a rows-only
    row (err "no_oracle") has no fix to prove and keeps its place."""
    order = _order_file()
    oracle = registry.all_oracle_sql()
    red = next(n for n in reversed(order) if n in oracle)
    rows_only = next(n for n in reversed(order) if n not in oracle)
    record = {
        red: {"hash_match": False, "err": None},
        rows_only: {"hash_match": None, "err": "no_oracle"},
    }
    monkeypatch.setattr(registry, "_latest_record", lambda: record)
    names = list(registry.all_queries())
    assert names[0] == red
    assert names[1:] == [n for n in order if n != red]


def test_latest_record_is_highest_round_numerically(tmp_path, monkeypatch):
    # unpadded names: "r9" sorts after "r10" as text, before it as a number
    for n in (2, 9, 10):
        (tmp_path / f"CORRECTNESS_r{n}.json").write_text(
            json.dumps({"q": {"round": n}})
        )
    monkeypatch.setattr(
        registry, "_RECORD_GLOB", str(tmp_path / "CORRECTNESS_r*.json")
    )
    assert registry._latest_record() == {"q": {"round": 10}}


def test_round5_window_recorded_green():
    """The round-5 must-have surfaces (sources, ml, text/scalar functions,
    finance, streaming lifecycle, serving) are recorded hash-green in
    CORRECTNESS_r05. File-based on purpose: a form asserted against the
    live order would go stale once those queries are proven and moved."""
    path = os.path.join(_ROOT, "CORRECTNESS_r05.json")
    if not os.path.exists(path):
        # a lost/missing record must surface as a visible skip, not pass
        pytest.skip("no round-5 record (CORRECTNESS_r05.json missing)")
    with open(path) as f:
        recorded = json.load(f)
    must_have = {
        "extract_tickers_v1", "extract_tickers_v2", "sentiment_score",
        "predict_returns", "eval_metrics", "csv_scan_events",
        "json_payload_decode", "vwap_daily", "twap_hourly",
        "dashboard_snapshot", "upsert_merge_daily",
        "bucketed_join_orders_lineitem", "python_datasource_ticks",
        "stateful_running_vwap",
    }
    missing = must_have - set(recorded)
    assert not missing, f"r5 record lacks required surfaces: {missing}"
    not_green = [n for n in must_have if recorded[n].get("hash_match") is not True]
    assert not_green == [], f"r5 must-have surfaces not hash-green: {not_green}"


def test_window_composition_round_agnostic():
    """Whatever round was recorded last, no oracle query waits outside the
    gate window for its proof: each either has a hash-green row in some
    recorded round and is not red in the latest one, or sits in the first
    50 names of query_order.txt, where the next window proves it."""
    proven: set[str] = set()
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        with open(path) as f:
            proven |= {n for n, row in json.load(f).items() if row.get("hash_match") is True}
    proven -= _red(registry._latest_record())
    window = set(_order_file()[:50])
    waiting = sorted(set(registry.all_oracle_sql()) - proven - window)
    assert waiting == [], f"unproven oracle queries outside the window: {waiting}"


def test_every_query_name_is_unique_and_resolvable():
    qs = registry.all_queries()
    assert len(qs) == len(set(qs))
    for name, fn in qs.items():
        assert callable(fn), name


def test_no_query_name_shadowing_within_modules():
    """registry.all_queries() raises on CROSS-module duplicate names, but a
    `QUERIES["x"] = ...` later in the SAME module silently overwrites a
    dict-literal "x" — which is how a new query nearly shadowed the
    hash-proven pareto_frontier_orders in round 7 (caught in review,
    renamed to skyline_two_phase_orders). Lint the source: no name may be
    both a QUERIES/ORACLE literal key and a later bracket assignment, nor
    bracket-assigned twice, in one module."""
    import glob
    import os
    import re

    root = os.path.join(os.path.dirname(__file__), "..",
                        "stockmarket_bigdata_project_spark")
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        with open(path) as f:
            src = f.read()
        for kind in ("QUERIES", "ORACLE"):
            m = re.search(rf"^{kind}\s*=\s*\{{(.*?)^\}}", src, re.M | re.S)
            lit = re.findall(r'^\s*"([^"]+)":', m.group(1), re.M) if m else []
            assigns = re.findall(rf'^{kind}\["([^"]+)"\]\s*=', src, re.M)
            overlap = set(lit) & set(assigns)
            doubles = {k for k in assigns if assigns.count(k) > 1}
            if overlap or doubles:
                offenders.append((path, kind, overlap | doubles))
    assert not offenders, offenders
