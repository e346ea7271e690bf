"""Shared cache + naming discipline for the stored-index builders.

The four stored-index families (exact-hash, LSH band, SemDeDup, bench-gram)
and both co-bucketed layouts each write catalog tables once per corpus
and memoize the handle. Two hazards the r9 ADVICE flagged live here so they
are fixed once for all six:

* **Cache key**: sf_dir alone is NOT identity — a second SparkSession in the
  same process has a fresh in-memory catalog, so an sf_dir-only memo would
  claim the table exists and fail with TABLE_OR_VIEW_NOT_FOUND (or read a
  stale index from a shared warehouse). Keys are (family, applicationId,
  sf_dir) — the same identity rule as dedup._staged (the r8 staged-memo
  precedent) — and clear_prepared_indexes() is the explicit invalidation
  hook for data-changed / rebuild-measurement callers.
* **Table tags**: unquoted Spark SQL identifiers admit [A-Za-z0-9_] only; a
  path like /data/sf-0.1 must not leak a '-' into DROP TABLE / saveAsTable.
  table_tag() collapses every non-word character.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# Global lock guards only the two dicts (microseconds); each key gets its
# own lock for the build itself, so (r10 ADVICE) unrelated families/corpora
# build concurrently and a build() that re-enters get_or_build for a
# DIFFERENT key (sampling's shard layout builds on the dedup index) cannot
# deadlock on a single non-reentrant global lock held across Spark jobs.
_LOCK = threading.Lock()
_KEY_LOCKS: dict[tuple[str, str, str], threading.Lock] = {}
_PREPARED: dict[tuple[str, str, str], object] = {}


def table_tag(sf_dir: str) -> str:
    """Identifier-safe tag for per-corpus table names: every character
    outside [A-Za-z0-9_] becomes '_', so the name parses unquoted."""
    return re.sub(r"\W", "_", sf_dir.strip("/"))


def drop_table(spark: SparkSession, name: str) -> None:
    """DROP the catalog entry AND its warehouse directory — saveAsTable
    refuses to overwrite a directory left behind by a dropped managed
    table from an earlier session."""
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if wh:
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)


def get_or_build(
    spark: SparkSession, family: str, sf_dir: str, build: Callable[[], T]
) -> T:
    """Memoized stored-index handle. ``build()`` runs at most once per
    (family, applicationId, sf_dir) — the nightly index job; every later
    call is a dict read. A PER-KEY lock spans the build, so two callers of
    one key never race two writers onto one table name, while builds for
    different keys run concurrently and nested get_or_build calls from
    inside a build() (a different key) don't deadlock."""
    key = (family, spark.sparkContext.applicationId, sf_dir)
    with _LOCK:
        klock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with klock:
        # one _LOCK acquisition for check + read (r11 ADVICE): a
        # clear_prepared_indexes() landing between a separate membership
        # check and a later read would drop the key and raise KeyError
        with _LOCK:
            if key in _PREPARED:
                return _PREPARED[key]  # type: ignore[return-value]
        result = build()
        with _LOCK:
            _PREPARED[key] = result
        # return the local build result directly — never re-read the dict,
        # which a concurrent clear may have emptied again
        return result


def clear_prepared_indexes() -> None:
    """Forget every prepared-index handle (tables stay on disk; the next
    call drops and rebuilds them) — the stored-index analog of
    dedup.clear_staged_memo(), for data-changed invalidation and for
    tooling that needs a true cold index build. Scope (r11 ADVICE): the
    clear affects COMPLETED builds only — it takes _LOCK, not the key
    locks, so an in-flight build writes its handle after the clear and
    that key resurrects warm; a caller needing a guaranteed cold rebuild
    must quiesce its own builders first (every in-repo caller —
    tests/tools — is single-threaded at clear time, where this holds
    trivially). Key locks are kept so later builds of the same key still
    serialize."""
    with _LOCK:
        _PREPARED.clear()
