"""Central query registry.

Every operator module exposes ``QUERIES`` (name → (spark, sf_dir) → DataFrame)
and ``ORACLE`` (name → equivalent DuckDB SQL; absent for genuinely
non-SQL-expressible operators → driver records a rows-only check).
This module merges them and is the single source for ``__spark_entry__``.

The external correctness gate checks the first 50 names of the registry each
round. Their order is data: ``query_order.txt`` holds every registered name,
one per line, so adding a query is a one-line diff (a registered name missing
from it fails loud, like a broken module). The one dynamic rule is
red-fronting: an oracle query whose row in the latest ``CORRECTNESS_r{N}.json``
failed its hash or errored moves to the front, so the next window proves its
fix. Rows-only queries (``err: "no_oracle"``) have no fix to prove and keep
their place.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Extended as the build widens (SURVEY §7.1 build order). Imports fail loud:
# a broken module must break the harness, not silently drop its queries.
_MODULE_PATHS = [
    "operators.gold",
    "operators.relational",
    "operators.aggregates",
    "operators.timeseries",
    "operators.joins",
    "operators.analytics",
    "operators.skew",
    "operators.decision_support",
    "operators.stats",
    "operators.linkage",
    "operators.finance",
    "operators.features",
    "operators.sketches",
    "sources.readers",
    "sources.pyds",
    "functions.pyudf",
    "sources.sinks",
    "sources.bucketing",
    "functions.scalar",
    "functions.text",
    "ml",
    "serving",
    "streaming.pipelines",
    "streaming.lifecycle",
    "llmdata.dedup",
    "llmdata.similarity",
    "llmdata.clustering",
    "llmdata.textstats",
    "llmdata.multimodal",
    "llmdata.corpus",
    "llmdata.lm",
    "llmdata.graph",
    "llmdata.sampling",
    "llmdata.decontam",
]


def _modules():
    return [
        importlib.import_module(f"{__package__}.{path}") for path in _MODULE_PATHS
    ]


_HERE = os.path.dirname(os.path.abspath(__file__))
_ORDER_FILE = os.path.join(_HERE, "query_order.txt")
_RECORD_GLOB = os.path.join(os.path.dirname(_HERE), "CORRECTNESS_r*.json")


def _latest_record() -> dict:
    """Rows of the highest-numbered CORRECTNESS_r{N}.json ({} when none)."""
    rounds = {
        int(m.group(1)): path
        for path in glob.glob(_RECORD_GLOB)
        if (m := re.search(r"_r(\d+)\.json$", path))
    }
    if not rounds:
        return {}
    try:
        with open(rounds[max(rounds)]) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}  # a malformed record must not break the harness
    return data if isinstance(data, dict) else {}


def all_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for mod in _modules():
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in out:
                raise ValueError(f"duplicate query name {name!r} in {mod.__name__}")
            out[name] = fn
    with open(_ORDER_FILE) as f:
        rank = {name: i for i, name in enumerate(f.read().split())}
    oracle = all_oracle_sql()
    red = {
        name
        for name, row in _latest_record().items()
        if name in oracle
        and isinstance(row, dict)
        and (row.get("hash_match") is False or row.get("err"))
    }
    order = sorted(out, key=lambda name: (name not in red, rank[name]))
    return {name: out[name] for name in order}


def all_oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _modules():
        for name, sql in getattr(mod, "ORACLE", {}).items():
            if name in out:
                raise ValueError(f"duplicate oracle name {name!r} in {mod.__name__}")
            out[name] = sql.strip()
    return out
