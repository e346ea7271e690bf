"""Document-store connector seam (S8/S12 generalized): parquet
implementation semantics, the foreachBatch streaming adapter, and the
Mongo builder's option mapping (builder-only — no connector JAR here,
same policy as the Kafka builders)."""

from __future__ import annotations

import pyspark.sql.functions as F

from stockmarket_bigdata_project_spark.sources.docstore import (
    ParquetDocumentStore,
    foreach_batch_upsert,
    mongo_upsert_writer,
    mongo_write_options,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


def test_parquet_store_upsert_replaces_by_key(spark, tmp_path):
    store = ParquetDocumentStore(str(tmp_path / "store"))
    store.upsert(_df(spark, [(1, "a"), (2, "b")]), keys=["k"])
    # replace k=2, insert k=3 — k=1 must survive untouched
    store.upsert(_df(spark, [(2, "B"), (3, "c")]), keys=["k"])
    got = {(r.k, r.v) for r in store.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_parquet_store_reattach_preserves_existing_docs(spark, tmp_path):
    """State is derived from the files at path, not an instance flag: a
    FRESH store constructed over a path that already holds documents must
    merge against them — the first upsert through the new handle may not
    truncate the collection (the keyed-upsert contract under reattach)."""
    first = ParquetDocumentStore(str(tmp_path / "store"))
    first.upsert(_df(spark, [(1, "a"), (2, "b")]), keys=["k"])
    reattached = ParquetDocumentStore(path=first.path)
    reattached.upsert(_df(spark, [(2, "B"), (3, "c")]), keys=["k"])
    got = {(r.k, r.v) for r in reattached.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_parquet_store_upsert_never_collects_to_driver(spark, monkeypatch, tmp_path):
    """The merge rewrite must stay executor-side (staging write + swap):
    any DataFrame.collect() during upsert is the driver-OOM shape the
    DocumentStore contract forbids."""
    from pyspark.sql import DataFrame as _DF

    def _banned(self, *a, **kw):  # pragma: no cover - fails the test
        raise AssertionError("upsert() collected a DataFrame to the driver")

    store = ParquetDocumentStore(str(tmp_path / "store"))
    store.upsert(_df(spark, [(1, "a"), (2, "b")]), keys=["k"])
    monkeypatch.setattr(_DF, "collect", _banned)
    store.upsert(_df(spark, [(2, "B"), (3, "c")]), keys=["k"])
    monkeypatch.undo()
    got = {(r.k, r.v) for r in store.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_parquet_store_append_is_unkeyed(spark, tmp_path):
    store = ParquetDocumentStore(str(tmp_path / "store"))
    store.append(_df(spark, [(1, "a")]))
    store.append(_df(spark, [(1, "a2")]))
    assert store.read(spark).count() == 2


def test_foreach_batch_upsert_is_idempotent_per_batch(spark, tmp_path):
    """A retried microbatch (same data, new batch_id) must not duplicate
    keyed state — the exactly-once property the reference's per-document
    replace_one(upsert=True) loop relied on."""
    store = ParquetDocumentStore(str(tmp_path / "store"))
    sink = foreach_batch_upsert(store, keys=["k"])
    batch = _df(spark, [(1, "a"), (2, "b")])
    sink(batch, 0)
    sink(batch, 1)  # retry
    sink(_df(spark, [(2, "B")]), 2)
    got = {(r.k, r.v) for r in store.read(spark).collect()}
    assert got == {(1, "a"), (2, "B")}


def test_parquet_store_read_failure_does_not_truncate(spark, tmp_path):
    """A non-empty-store read failure (here: a corrupt file posing as
    parquet) must RAISE out of upsert, not classify as 'empty store' and
    take the overwrite branch that would destroy the collection."""
    import pytest as _pytest

    store = ParquetDocumentStore(path=str(tmp_path / "col"))
    store.upsert(_df(spark, [(1, "a")]), keys=["k"])
    (tmp_path / "col" / "part-corrupt.parquet").write_bytes(b"not parquet")
    with _pytest.raises(Exception):
        store.upsert(_df(spark, [(2, "b")]), keys=["k"])
    # the original data file is still on disk — nothing was overwritten
    import glob as _glob

    survivors = [
        p
        for p in _glob.glob(str(tmp_path / "col" / "*.parquet"))
        if "corrupt" not in p
    ]
    assert survivors, "read failure truncated the existing collection"


def test_parquet_store_recovers_interrupted_swap(spark, tmp_path):
    """Crash window between the two swap renames: live path missing, the
    completed merge stranded in __staging. The next operation through any
    handle must finish the swap and serve the merged state."""
    import os
    import shutil

    store = ParquetDocumentStore(str(tmp_path / "store"))
    store.upsert(_df(spark, [(1, "a"), (2, "b")]), keys=["k"])
    # simulate the crash: merged result staged, live dir moved aside
    shutil.copytree(store.path, store._staging)
    os.rename(store.path, store._old)
    reattached = ParquetDocumentStore(path=store.path)
    got = {(r.k, r.v) for r in reattached.read(spark).collect()}
    assert got == {(1, "a"), (2, "b")}
    assert os.path.isdir(store.path) and not os.path.isdir(store._staging)
    # aside copy from the recovered swap must not shadow future recovery
    assert not os.path.isdir(store._old)


def test_parquet_store_survives_spark_write_killed_mid_staging(spark, tmp_path):
    """A Spark writer killed DURING the staging write (executor OOM / driver
    kill) leaves part-files in __staging with no _SUCCESS commit marker —
    unlike the os-level crash points between renames, the staging content is
    a PARTIAL merge. The store must never promote it: with the live dir
    present it is overwritten by the next upsert; with the live dir lost to
    a later crash, recovery must restore the __old aside copy, not the
    partial staging (r6 verdict task 6)."""
    import os
    import shutil

    store = ParquetDocumentStore(str(tmp_path / "store"))
    store.upsert(_df(spark, [(1, "a"), (2, "b")]), keys=["k"])

    # simulate a killed mid-staging write: a lone part-file, no _SUCCESS
    def stage_partial():
        shutil.rmtree(store._staging, ignore_errors=True)
        os.makedirs(store._staging)
        src = next(
            n for n in os.listdir(store.path) if n.endswith(".parquet")
        )
        shutil.copy(os.path.join(store.path, src),
                    os.path.join(store._staging, src))

    # case 1: live dir intact — partial staging is garbage; the next upsert
    # must merge against LIVE and succeed
    stage_partial()
    store.upsert(_df(spark, [(2, "B"), (3, "c")]), keys=["k"])
    got = {(r.k, r.v) for r in store.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    assert not os.path.isdir(store._staging)

    # case 2: live dir lost with a known-good aside copy present — recovery
    # must restore __old and DISCARD the uncommitted partial staging
    stage_partial()
    os.rename(store.path, store._old)
    reattached = ParquetDocumentStore(path=store.path)
    got = {(r.k, r.v) for r in reattached.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    assert not os.path.isdir(store._staging)
    assert not os.path.isdir(store._old)


def test_mongo_builder_option_mapping(spark):
    opts = mongo_write_options(
        "mongodb://h:27017", "mkt", "predictions", ["ticker", "timestamp"]
    )
    # replace_one(filter=keys, upsert=True) semantics, executor-side
    assert opts["operationType"] == "replace"
    assert opts["upsertDocument"] == "true"
    assert opts["idFieldList"] == "ticker,timestamp"
    df = _df(spark, [(1, "a")])
    writer = mongo_upsert_writer(
        df, "mongodb://h:27017", "mkt", "predictions", ["k"]
    )
    # builder must be configured (source + options live JVM-side); saving
    # without the connector JAR must fail with DATA_SOURCE_NOT_FOUND, not
    # a mis-built writer
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)mongodb|not.*found|failed"):
        writer.save()


def test_streaming_upsert_into_docstore_end_to_end(spark, sf_dir, tmp_path):
    """The seam under a REAL micro-batch stream: replay the events corpus
    (one slice per trigger), aggregate per event_type, and upsert every
    micro-batch into a ParquetDocumentStore via foreach_batch_upsert.
    Terminal state must equal the batch aggregate over the whole corpus —
    the exactly-once-for-keyed-state property, proven through the actual
    foreachBatch machinery rather than manual sink calls."""
    import pyspark.sql.functions as F

    from stockmarket_bigdata_project_spark.catalog import load_table
    from stockmarket_bigdata_project_spark.streaming.pipelines import (
        _events_stream,
    )

    store = ParquetDocumentStore(str(tmp_path / "store"))
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(foreach_batch_upsert(store, keys=["event_type"]))
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            str(tmp_path / "ckpt"),
        )
        .start()
    )
    q.awaitTermination(300)
    got = {(r.event_type, r.n) for r in store.read(spark).collect()}
    expect = {
        (r.event_type, r.n)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expect


# --- broker-backed smoke (gated: runs only where real Mongo infra exists) ----
import os as _os

import pytest as _pt


@_pt.mark.skipif(
    not _os.environ.get("SPARK_GRAFT_MONGO_URI"),
    reason="no MongoDB / mongo-spark connector in this environment "
    "(set SPARK_GRAFT_MONGO_URI=mongodb://host:port to enable)",
)
def test_mongo_upsert_roundtrip_against_real_server(spark):
    """Integration smoke for the S12 Mongo builders: write a batch through
    mongo_upsert_writer, then upsert a second batch sharing keys — the
    read-back must show replace_one(filter=keys, upsert=True) semantics
    (new keys inserted, shared keys replaced, nothing duplicated). Keeps
    the builder's option mapping EXECUTED against real infra wherever it
    exists (the Kafka S1/S2/S13 smoke precedent); skipped-clean in the
    sandbox, which ships neither a server nor the connector JAR."""
    uri = _os.environ["SPARK_GRAFT_MONGO_URI"]
    db = _os.environ.get("SPARK_GRAFT_MONGO_DB", "spark_graft_smoke")
    coll = _os.environ.get("SPARK_GRAFT_MONGO_COLLECTION", "upsert_smoke")

    from stockmarket_bigdata_project_spark.sources.docstore import (
        mongo_upsert_writer,
    )

    first = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string"
    )
    mongo_upsert_writer(first, uri, db, coll, ["k"]).save()
    second = spark.createDataFrame(
        [(5, "V5"), (99, "v99")], "k long, v string"
    )
    mongo_upsert_writer(second, uri, db, coll, ["k"]).save()

    got = {
        (r.k, r.v)
        for r in spark.read.format("mongodb")
        .option("connection.uri", uri)
        .option("database", db)
        .option("collection", coll)
        .load()
        .select("k", "v")
        .collect()
    }
    expected = {(i, f"v{i}") for i in range(10) if i != 5} | {(5, "V5"), (99, "v99")}
    assert expected <= got
