"""Pins for bench.py's record and history append: the record is the last
stdout line, preceded by a 2,000-space flush line, so both that line and
the last 2,000 chars of stdout parse as the record."""

from __future__ import annotations

import json

import pytest

import bench
from stockmarket_bigdata_project_spark import registry

NAMES = bench.HEADLINE + bench.CURATION
RECORD_KEYS = {
    "metric",
    "value",
    "unit",
    "sf",
    "cpus",
    "queries",
    "queries_cold",
    "curation_queries_total",
}


def test_bench_names_are_registered():
    assert len(NAMES) == len(set(NAMES)) == 28
    assert bench.STAGED <= set(NAMES)
    missing = [n for n in NAMES if n not in registry.all_queries()]
    assert not missing, missing


def test_record_fits_stdout_tail_and_parses():
    worst = {n: 999.999 for n in NAMES}
    line = bench._record_line(0.01, 32, worst, worst)
    assert len(line) <= 1900, len(line)
    junk = '{"stray": "output"}' * 200 + "\n"
    stdout = junk + " " * 2000 + "\n" + line + "\n"
    obj = json.loads(stdout[-2000:])
    assert json.loads(stdout.strip().splitlines()[-1]) == obj
    assert set(obj) == RECORD_KEYS
    assert obj["metric"] == "headline_queries_total"
    assert obj["unit"] == "sec"
    assert (obj["sf"], obj["cpus"]) == (0.01, 32)
    assert list(obj["queries"]) == NAMES
    assert list(obj["queries_cold"]) == NAMES
    assert obj["value"] == round(sum(obj["queries"][n] for n in bench.HEADLINE), 3)
    assert obj["curation_queries_total"] == round(
        sum(obj["queries"][n] for n in bench.CURATION), 3
    )


def test_staged_queries_report_their_cold_time():
    cold = {n: 2.0 + i for i, n in enumerate(NAMES)}
    steady = {n: 0.5 for n in NAMES}
    obj = json.loads(bench._record_line(0.1, 8, cold, steady))
    for n in NAMES:
        want = cold[n] if n in bench.STAGED else steady[n]
        assert obj["queries"][n] == want, n
    assert obj["queries_cold"] == cold
    assert obj["value"] == round(
        sum(cold[n] if n in bench.STAGED else 0.5 for n in bench.HEADLINE), 3
    )


def test_record_fails_loud_on_a_missing_name():
    timings = {n: 1.0 for n in NAMES[:-1]}
    with pytest.raises(KeyError, match=NAMES[-1]):
        bench._record_line(0.1, 8, timings, timings)


def _entry(i: int) -> dict:
    return {
        "code": f"c{i}",
        "sf": 0.1,
        "cpus": 8,
        "queries_cold": {"q": 1.0},
        "queries_steady": {"q": 0.5},
    }


def test_history_append_writes_the_entry(tmp_path):
    path = tmp_path / "hist.json"
    bench._append_history(str(path), _entry(0))
    bench._append_history(str(path), _entry(1))
    hist = json.loads(path.read_text())
    assert hist == [_entry(0), _entry(1)]
    assert set(hist[0]) == {"code", "sf", "cpus", "queries_cold", "queries_steady"}


def test_history_append_survives_missing_or_malformed_file(tmp_path):
    missing = tmp_path / "absent" / "hist.json"
    bench._append_history(str(missing), _entry(0))  # unwritable: no raise
    assert not missing.exists()
    for bad in ("{not json", '{"a": 1}'):
        path = tmp_path / "hist.json"
        path.write_text(bad)
        bench._append_history(str(path), _entry(2))
        assert json.loads(path.read_text()) == [_entry(2)]
