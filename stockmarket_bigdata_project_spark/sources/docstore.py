"""Pluggable document-store connector abstraction (S8/S12 generalized).

The reference talks to MongoDB directly — per-batch appends
(reddit_pipeline.py:110-131), `replace_one(..., upsert=True)` per document
(reddit_pipeline.py:126), and the predictor's `update_one(..., upsert=True)`
(predictor_service.py:124-126). The engine re-expresses those semantics over
parquet (sources/sinks.py), but a user pointing the same pipelines at a real
document store needs a seam, not a rewrite. This module is that seam:

* ``DocumentStore`` — the minimal keyed-upsert protocol every sink in the
  engine writes against (upsert / append / read);
* ``ParquetDocumentStore`` — the shipped implementation: upsert = merge
  (updates ∪ base⟻anti updates) rewrite, the same shape as
  sinks.upsert_merge_daily, written DISTRIBUTED to a staging directory and
  swapped into place (never collected to the driver). At scale the same
  merge runs with dynamic partition overwrite so only affected partitions
  rewrite — the staging swap is the unpartitioned local-store form;
* ``mongo_write_options`` / ``mongo_upsert_writer`` — builder-level support
  for the official Spark-MongoDB connector (format "mongodb"): the exact
  option mapping for the reference's upsert semantics. Builder-only here
  (no connector JAR or broker in this sandbox — same policy as
  sources/kafka.py), drop-in where the connector is on the classpath;
* ``foreach_batch_upsert`` — adapter from any DocumentStore to a Structured
  Streaming ``foreachBatch`` sink: per-microbatch keyed upsert, the
  streaming shape of the reference's per-batch Mongo writes (T4/S8).

Distributed-writes note: ``DocumentStore.upsert`` takes the WHOLE batch
DataFrame, so implementations write executor-side (Mongo connector, JDBC,
parquet) — the reference's per-document driver-side ``replace_one`` loop is
exactly the scale-killer this interface forbids.
"""

from __future__ import annotations

import os
import shutil
import threading
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

_lock = threading.Lock()


class DocumentStore(Protocol):
    """Minimal keyed document-store contract the engine's sinks target."""

    def upsert(self, df: DataFrame, keys: list[str]) -> None:
        """Insert-or-replace by key columns (replace_one(upsert=True))."""
        ...

    def append(self, df: DataFrame) -> None:
        """Unkeyed insert_many."""
        ...

    def read(self, spark: SparkSession) -> DataFrame:
        """Full collection scan."""
        ...


class ParquetDocumentStore:
    """The shipped DocumentStore: a parquet-backed collection with merge
    upserts. Empty-store upsert == append, matching Mongo's upsert=True.

    Collection state is derived from the FILES AT ``path``, never from
    instance flags — constructing a second store over an existing path
    (reattach) merges against the documents already there instead of
    silently truncating them. The same-path read-then-overwrite hazard is
    broken distributively: the merge plan writes to a staging directory
    executor-side while the base files are still readable, then the
    directories swap — nothing is ever collected to the driver, so the
    store scales to collections the driver could not hold."""

    def __init__(self, path: str):
        self.path = path

    @property
    def _staging(self) -> str:
        return self.path.rstrip("/") + "__staging"

    @property
    def _old(self) -> str:
        return self.path.rstrip("/") + "__old"

    def _recover(self) -> None:
        """Finish an interrupted swap. The swap order (write staging →
        move live aside → move staging in → drop aside) means a crash at
        any point leaves a complete copy of the collection on disk:

        * live path present → nothing to do (stray staging/old are from a
          crash BEFORE the aside-move: the live dir is still authoritative);
        * live path missing, COMMITTED staging present → the staging write
          completed (it precedes the aside-move), so staging IS the merged
          result. Committed = Spark's ``_SUCCESS`` job-commit marker: a
          Spark writer KILLED mid-staging (executor OOM, driver kill) leaves
          part-files without the marker, and promoting such a partial merge
          would silently drop documents — an uncommitted staging dir is
          garbage, never state;
        * live path missing otherwise → the aside copy (``__old``) is the
          last known-good state — restore it and discard any partial
          staging."""
        if os.path.isdir(self.path):
            return
        if os.path.isdir(self._staging) and os.path.exists(
            os.path.join(self._staging, "_SUCCESS")
        ):
            os.rename(self._staging, self.path)
            shutil.rmtree(self._old, ignore_errors=True)
        elif os.path.isdir(self._old):
            shutil.rmtree(self._staging, ignore_errors=True)
            os.rename(self._old, self.path)

    def _base(self, spark: SparkSession) -> DataFrame | None:
        """Existing collection, or None when path holds no parquet yet.

        Only the genuinely-empty cases (no directory, or a directory with
        no data files — schema not inferable) classify as "empty store";
        any other read failure (corruption, permissions, transient FS
        error) re-raises so the following upsert cannot take the
        overwrite branch and destroy the existing collection."""
        from pyspark.errors import AnalysisException

        if not os.path.isdir(self.path):
            return None
        try:
            return spark.read.parquet(self.path)
        except AnalysisException as exc:
            if "UNABLE_TO_INFER_SCHEMA" in str(exc) or not any(
                not n.startswith(("_", ".")) for n in os.listdir(self.path)
            ):
                return None  # directory exists but holds no data files
            raise

    def upsert(self, df: DataFrame, keys: list[str]) -> None:
        """Single-writer keyed merge. Concurrent upsert/append/read from
        other PROCESSES is out of contract (``_lock`` serializes writers
        within this one); a reader racing the swap can observe a missing
        path for the instant between the two renames — the recovery rules
        in ``_recover`` bound the damage of a crash in that window."""
        with _lock:
            self._recover()
            base = self._base(df.sparkSession)
            if base is None:
                df.write.mode("overwrite").parquet(self.path)
                return
            merged = df.unionByName(
                base.join(df.select(*keys).distinct(), keys, "left_anti")
            )
            merged.write.mode("overwrite").parquet(self._staging)
            shutil.rmtree(self._old, ignore_errors=True)
            os.rename(self.path, self._old)
            os.rename(self._staging, self.path)
            shutil.rmtree(self._old, ignore_errors=True)

    def append(self, df: DataFrame) -> None:
        with _lock:
            self._recover()
            df.write.mode("append").parquet(self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        # spark.read.parquet infers schema EAGERLY, so it must stay inside
        # the lock: released earlier, a concurrent in-process upsert could
        # rename the live dir away during its two-rename swap window and
        # fail the read the lock exists to serialize.
        with _lock:
            self._recover()
            return spark.read.parquet(self.path)


def mongo_write_options(
    uri: str, database: str, collection: str, id_fields: list[str]
) -> dict[str, str]:
    """Option set reproducing the reference's upsert semantics on the
    official Spark-MongoDB connector: operationType=replace with
    idFieldList == the upsert key is exactly replace_one(filter={keys},
    replacement=doc, upsert=True) per document, executed executor-side."""
    return {
        "connection.uri": uri,
        "database": database,
        "collection": collection,
        "operationType": "replace",
        "upsertDocument": "true",
        "idFieldList": ",".join(id_fields),
    }


def mongo_upsert_writer(
    df: DataFrame, uri: str, database: str, collection: str,
    id_fields: list[str],
):
    """S12 on a real document store: configured DataFrameWriter for
    format("mongodb"). Requires the mongo-spark connector on the classpath;
    builder-only in this sandbox (tests assert the option mapping)."""
    writer = df.write.format("mongodb").mode("append")
    for k, v in mongo_write_options(uri, database, collection, id_fields).items():
        writer = writer.option(k, v)
    return writer


def foreach_batch_upsert(store: DocumentStore, keys: list[str]):
    """Adapter: any DocumentStore → a foreachBatch sink performing keyed
    upserts per microbatch (the reference's per-batch Mongo write loop,
    reddit_pipeline.py:110-131, minus its per-document driver round-trips).
    Retried microbatches re-upsert the same keys idempotently, so the sink
    is effectively exactly-once for keyed state."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        store.upsert(batch_df, keys)

    return _sink
