"""Per-application scratch: the one owner of what a query leaves behind.

Each item is recorded under the Spark application id:

* ``scratch_dir(spark, kind)``, the package's only mkdtemp
  (``spark_graft_<kind>_*``): sink outputs the returned DataFrames read
  lazily, replay slices, reader fixtures, staged media files;
* ``sink_name(spark, prefix)``: memory-sink query names, each of which
  becomes a session temp view;
* ``get_or_build(spark, family, sf_dir, build)``: once-per-corpus handles
  (stored-index tables, replay dir, fixtures, media files). The key holds
  the application id: a second session has a fresh catalog, and an
  sf_dir-only memo would hand it a table it never wrote.

``release(spark)`` drops the temp views, removes the dirs, forgets the
handles (index tables stay on disk and are rebuilt on the next call) and
clears the staged dedup relations. At process exit one ``atexit`` hook
removes every recorded dir. One-run dirs (checkpoints, slice staging) are
a ``TemporaryDirectory`` at their call site.
"""

from __future__ import annotations

import atexit
import itertools
import os
import re
import shutil
import tempfile
import threading
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# _LOCK guards only the dicts; each key gets its own lock for the build, so
# a build() may call get_or_build for a DIFFERENT key without deadlock.
_LOCK = threading.Lock()
_KEY_LOCKS: dict[tuple[str, str, str], threading.Lock] = {}
_PREPARED: dict[tuple[str, str, str], object] = {}
_DIRS: dict[str, list[str]] = {}  # applicationId -> recorded dirs
_VIEWS: dict[str, list[str]] = {}  # applicationId -> memory-sink names
_SEQ = itertools.count()


def scratch_dir(spark: SparkSession, kind: str) -> str:
    """A fresh ``spark_graft_<kind>_*`` dir, removed by ``release`` or at
    process exit."""
    d = tempfile.mkdtemp(prefix=f"spark_graft_{kind}_")
    with _LOCK:
        _DIRS.setdefault(spark.sparkContext.applicationId, []).append(d)
    return d


def sink_name(spark: SparkSession, prefix: str = "q") -> str:
    """A process-unique query name, dropped as a temp view by ``release``."""
    name = f"{prefix}{next(_SEQ)}_{os.getpid()}"
    with _LOCK:
        _VIEWS.setdefault(spark.sparkContext.applicationId, []).append(name)
    return name


def release(spark: SparkSession) -> None:
    """Drop this application's temp views, dirs and handles, and the
    staged dedup relations. DataFrames returned before the call must not
    be read after it; callers quiesce their own queries first."""
    from .llmdata.dedup import clear_staged_memo

    app = spark.sparkContext.applicationId
    with _LOCK:
        views, dirs = _VIEWS.pop(app, []), _DIRS.pop(app, [])
        for key in [k for k in _PREPARED if k[1] == app]:
            del _PREPARED[key]
    for name in views:
        spark.catalog.dropTempView(name)
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    clear_staged_memo()


@atexit.register
def _remove_dirs() -> None:
    for d in itertools.chain.from_iterable(_DIRS.values()):
        shutil.rmtree(d, ignore_errors=True)


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
    """Memoized once-per-corpus handle. ``build()`` runs at most once per
    (family, applicationId, sf_dir); every later call is a dict read. A
    PER-KEY lock spans the build, so two callers of one key never race two
    writers onto one table name or dir, while builds for different keys
    run concurrently and nested get_or_build calls from inside a build()
    (a different key) don't deadlock."""
    key = (family, spark.sparkContext.applicationId, sf_dir)
    with _LOCK:
        klock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with klock:
        # one _LOCK acquisition for check + read: a clear landing between
        # a separate membership check and a later read would drop the key
        # and raise KeyError
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
    """Forget every prepared handle of every application; tables and dirs
    stay, and the next call rebuilds them. Like ``release``, it affects
    COMPLETED builds only: it takes _LOCK, not the key locks, so a build in
    flight writes its handle after the clear. Callers that need a cold
    rebuild quiesce their own builders first."""
    with _LOCK:
        _PREPARED.clear()
