"""Table catalog over the driver's parquet testdata.

The reference stores bronze/silver/gold layers in MongoDB collections
(reddit_raw, stock_raw, reddit_features_15m, training_daily_features —
reference build_training_dataset.py:21-48, README.md:446-451). Here the
storage layer is columnar parquet; tables are registered as Spark temp views
so both the DataFrame and SQL APIs reach them, and Catalyst gets filter
pushdown + column pruning into the scans for free.

Schema cache: ``spark.read.parquet(path)`` infers its schema by running a
Spark job that reads the file footer, on every call: a median 76 ms per
table read against 14 ms with the schema given (4-core host, sf0.01).
``load_table`` therefore keeps the inferred ``StructType`` per file and
reads through ``spark.read.schema(cached)``. The key is the path, the file's inode, size
and mtime (ns), plus the values of the parquet confs that change inferred
types (``_SCHEMA_CONFS``; ``nanosAsLong`` is pinned by ``load_table``
itself), so a rewritten file or a changed conf is re-inferred. Only regular
files are cached: a directory's stat does not change when a part file in it
is rewritten in place.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# --- scan fan-out for sub-split inputs (r14; optimization guide §2.5/§6) ----
# A table whose whole file is smaller than ONE scan split
# (spark.sql.files.maxPartitionBytes, 128 MiB here) arrives as a SINGLE scan
# task — parquet splits at row-group granularity and the testdata ships one
# row group per table — so every compute-heavy map stage downstream (the
# shingle explode + 4 md5/shingle, the integer-micros cosine folds, the
# 600k-row OHLCV partial aggregates) runs on ONE core of a 32-core box until
# the first exchange. Measured r14: the minhash signature build executed as
# a 1-task stage, 2.0 s steady, <0.2 s after fan-out.
#
# The fan-out is deliberately CONDITIONAL so it is scale-adaptive, not a
# local[32] constant: at production scale input files exceed one split, the
# scan parallelizes itself, and this is a no-op by construction. When it does
# fire, the shuffled bytes are < one split by definition — bounded at any
# scale. Dimension-sized files under _FANOUT_MIN_BYTES stay single-partition:
# they feed broadcast sides where an extra exchange is pure stage overhead.
# Round-robin placement is deterministic (sortBeforeRepartition, on by
# default since SPARK-23207) and every declared query is proven
# partitioning-independent (test_determinism's 32-vs-7 sweep + the value
# oracle), so fan-out cannot change any result.
_FANOUT_MIN_BYTES = 256 * 1024


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _size_conf_bytes(value: str, default: int = 134217728) -> int:
    """Parse a Spark byte-size conf ('128m', '1g', '134217728', '128MB')."""
    v = value.strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if v.endswith(suffix):
            v, mult = v[:-1], m
            break
    try:
        return int(v) * mult
    except ValueError:
        return default


def _maybe_fanout(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    max_split = _size_conf_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if not (_FANOUT_MIN_BYTES <= size < max_split):
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


# Parquet confs that change the types schema inference produces.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# One entry per file version read by this process. Unlocked: two threads
# racing on a miss both infer the same schema and store equal values.
_schemas: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file
    version (see the module docstring)."""
    try:
        st = os.stat(path)
    except OSError:  # missing: Spark raises its own error for the path
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (path, st.st_ino, st.st_size, st.st_mtime_ns) + tuple(
        spark.conf.get(c) for c in _SCHEMA_CONFS
    )
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _schemas[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan; schema is self-describing (SURVEY §1.3).

    ``events.ts`` has shipped in two physical flavors across testdata
    generations: TIMESTAMP(NANOS) (unreadable by Spark's parquet reader —
    handled via nanosAsLong + µs truncation, matching DuckDB's ns→µs) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark surfaces as
    TIMESTAMP_NTZ. NTZ breaks event-time operators (watermarks demand
    TimestampType), so it is normalized to TimestampType under a pinned UTC
    session timezone: the NTZ→LTZ cast then preserves the stored wall-clock
    values bit-for-bit and collected values equal DuckDB's naive timestamps.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Runtime SQL confs, set here rather than at session build — callers
    # (the driver included) hand us an arbitrary SparkSession that won't
    # have them preconfigured. UTC makes the NTZ→LTZ normalization below
    # (and every to_date/window over ts) engine-portable. Pinned on EVERY
    # load, not just events, so session semantics never depend on which
    # table happened to load first (order-independent global state).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = table_path(sf_dir, name)
    df = _maybe_fanout(spark, _read_parquet(spark, path), path)
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # nanos generation, read as raw longs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

