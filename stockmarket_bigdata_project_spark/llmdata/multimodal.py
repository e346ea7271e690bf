"""Multimodal columns (north-star extension): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched Pandas
UDFs.

The reference has no media handling; this layer is the driver-mandated
extension (BASELINE.json north star) shaped the way a 100 TB training-data
pipeline stores media: one parquet row per asset, a ``payload binary``
column, a typed metadata struct, and decode / feature-extract / resize /
frame-sample as ``mapInPandas`` stages.

The container has no image/audio libraries, so the REAL decoders are stubbed
behind import-guards (``decode_image_real`` raises NotImplementedError with
the intended implementation documented); the *Spark plumbing* — schema,
partitioning, UDF signature, Arrow batch shape — is real and tested, and the
deterministic fake decode makes everything verifiable:

  * payload bytes are ASCII md5-hex chains derived from `documents.text`, so
    DuckDB can recompute byte-exact expectations on the STRING domain while
    Spark operates on the BINARY domain — even the frame-slicing and
    payload-hash queries get full value-level oracles.

Scale notes (100 TB): media rows are large and skew-prone — repartition by
media_id before Python stages so Arrow batches are balanced;
spark.sql.execution.arrow.maxRecordsPerBatch bounds decoder memory (payloads
arrive batch-at-a-time, not table-at-a-time); metadata-only queries
(media_catalog) never touch the payload column thanks to parquet column
pruning — check ReadSchema in .explain().

The media files binary_file_scan reads are a ``scratch`` dir staged once
per (application, sf_dir), removed by ``scratch.release`` or process exit.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..scratch import get_or_build, scratch_dir

N_FRAMES = 8
FRAME_LEN = 32  # bytes per frame = one md5 hex string


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged media table: (media_id, kind, meta struct, payload binary).

    payload = utf-8 bytes of 8 chained md5 hexes of the source text (256
    ASCII bytes) — opaque to the engine, deterministic for the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    payload_hex = F.concat(
        *[F.md5(F.concat(F.col("text"), F.lit(str(i)))) for i in range(N_FRAMES)]
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.struct(
            (F.lit(16) + F.col("doc_id") % 64).cast("int").alias("width"),
            (F.lit(16) + F.col("n_chars") % 64).cast("int").alias("height"),
            F.lit(N_FRAMES).cast("int").alias("n_frames"),
            (F.lit(8000) + (F.col("doc_id") % 4) * 4000).cast("int").alias("sample_rate"),
        ).alias("meta"),
        F.encode(payload_hex, "utf-8").alias("payload"),
    )


# --- real decoder (the gated slow path) --------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png_gray8(payload: bytes):
    """Minimal pure-Python PNG reader (PNG spec, RFC 2083): 8-bit
    GRAYSCALE, non-interlaced only — the subset the engine's media tests
    stage. Chunk walk → IHDR geometry → zlib-inflated IDAT → per-scanline
    unfilter (types 0-4). Exists so the REAL-decode seam executes even in
    containers that ship no imaging stack (stdlib zlib only); PIL remains
    the preferred, full-format path in decode_image_real."""
    import struct
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width = 8, None
    idat = b""
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, color, interlace) != (8, 0, 0):
                raise ValueError(
                    f"pure-Python PNG fallback supports 8-bit grayscale "
                    f"non-interlaced only (got depth={depth} color={color} "
                    f"interlace={interlace}); install PIL for full decode"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(idat)
    stride = width  # bpp=1 for gray8
    out = np.empty((height, width), dtype=np.uint8)
    prev = np.zeros(width, dtype=np.uint8)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) % 256
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth need left neighbor
            cur = np.zeros(width, dtype=np.int32)
            a = 0
            for x in range(width):
                b, c = int(prev[x]), int(prev[x - 1]) if x else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                a = (int(line[x]) + pred) % 256
                cur[x] = a
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = out[y]
    return out


def decode_image_real(payload: bytes, width: int, height: int):
    """Decode a real image payload: bytes → grayscale → (width, height)
    resize → uint8 ndarray of shape (height, width). PIL where present
    (full format coverage); otherwise the vendored pure-Python gray8-PNG
    reader (_decode_png_gray8) so the real-decode slot still EXECUTES in
    imaging-stack-free containers. BOTH paths resize with nearest-neighbor
    (PIL gets Resampling.NEAREST explicitly) so mean_px is environment-
    independent even when source dims differ from the requested dims.
    Formats outside the fallback's subset fail loud (ValueError) — never a
    silent wrong answer. The deterministic fake path (image_features)
    remains the oracle-checked plumbing twin."""
    try:
        import PIL.Image
    except ImportError:
        arr = _decode_png_gray8(bytes(payload))
        if arr.shape != (height, width):  # nearest-neighbor resize
            ih, iw = arr.shape
            rows = (np.arange(height) * ih) // height
            cols = (np.arange(width) * iw) // width
            arr = arr[rows][:, cols]
        return arr
    import io

    img = PIL.Image.open(io.BytesIO(payload)).convert("L")
    if img.size != (width, height):
        img = img.resize((width, height), PIL.Image.Resampling.NEAREST)
    return np.asarray(img, dtype=np.uint8)


def real_image_features(df: DataFrame) -> DataFrame:
    """image_features' mapInPandas slot with the REAL decoder in the batch
    loop: (media_id, payload, width, height) → decoded dims + mean pixel.
    Decoding is per-image by nature (PIL), but rows arrive Arrow-batched
    and the loop never leaves the executor — same partitioning contract as
    the fake path (repartition by media_id, AQE picks the fan-out)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for media_id, payload, w, h in zip(
                pdf["media_id"], pdf["payload"], pdf["width"], pdf["height"]
            ):
                arr = decode_image_real(bytes(payload), int(w), int(h))
                rows.append(
                    (
                        int(media_id),
                        arr.shape[1],
                        arr.shape[0],
                        float(round(float(arr.mean()), 6)),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "mean_px"]
            )

    schema = "media_id long, width int, height int, mean_px double"
    return (
        df.select("media_id", "payload", "width", "height")
        .repartition("media_id")
        .mapInPandas(feats, schema)
    )


# --- metadata catalog (column pruning: payload only touched for hash/len) ---
def media_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir)
    return m.select(
        "media_id",
        "kind",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.sample_rate").alias("sample_rate"),
        F.length("payload").alias("payload_len"),
        F.md5("payload").alias("payload_md5"),
    )


# --- video: frame sampling (binary slicing, no Python) ----------------------
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample every frame of each 'video': binary substring slicing — stays
    in codegen; at scale this is the cheap pre-filter before a Python
    decoder sees any bytes."""
    m = media_table(spark, sf_dir).filter(F.col("kind") == "video")
    frames = m.select(
        "media_id",
        F.posexplode(F.sequence(F.lit(0), F.lit(N_FRAMES - 1))).alias("frame_idx", "_"),
        "payload",
    )
    frame_bytes = F.expr(f"substring(payload, frame_idx * {FRAME_LEN} + 1, {FRAME_LEN})")
    return frames.select(
        "media_id",
        "frame_idx",
        F.md5(frame_bytes).alias("frame_md5"),
        F.length(frame_bytes).alias("frame_len"),
    )


# --- image: deterministic fake decode → feature vector (mapInPandas) --------
def image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched fake 'decode': mean byte value per FRAME_LEN-wide bucket,
    8 features per image. The real decoder drops into the same loop (see
    decode_image_real). Repartition by media_id → balanced Arrow batches."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # fixed-width payloads → one vectorized reshape per Arrow batch;
            # the output schema hard-codes N_FRAMES columns, so a payload of
            # any other size is a contract violation — fail loud, not mid-stack
            bad = {len(p) for p in pdf["payload"]} - {N_FRAMES * FRAME_LEN}
            if bad:
                raise ValueError(
                    f"image payloads must be exactly {N_FRAMES * FRAME_LEN} "
                    f"bytes for the {N_FRAMES}-feature schema; got sizes {bad}"
                )
            arr = np.stack(
                [np.frombuffer(bytes(p), dtype=np.uint8) for p in pdf["payload"]]
            ).astype(np.float64)
            means = arr.reshape(len(pdf), N_FRAMES, FRAME_LEN).mean(axis=2).round(6)
            out = pd.DataFrame(means, columns=[f"f{b}" for b in range(N_FRAMES)])
            out.insert(0, "media_id", pdf["media_id"].to_numpy())
            yield out

    m = media_table(spark, sf_dir).filter(F.col("kind") == "image")
    schema = "media_id long, " + ", ".join(f"f{b} double" for b in range(N_FRAMES))
    # repartition WITHOUT an explicit count: REPARTITION_BY_COL lets AQE pick
    # the partition count from runtime bytes — 1000-executor fan-out at 100 TB,
    # a handful of Python workers at test scale.
    return (
        m.select("media_id", "payload").repartition("media_id").mapInPandas(feats, schema)
    )


def image_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same feature extraction via mapInArrow — the zero-pandas Arrow
    path (RecordBatch in, RecordBatch out). For fixed-width binary payloads
    pandas adds only conversion overhead; operating on the Arrow buffers
    directly skips the Series round-trip, which matters when the payload
    column dominates batch bytes (images/audio at 100 TB). Same oracle as
    image_features: the two must agree value-for-value."""

    def feats(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            payloads = batch.column("payload")
            bad = {len(p.as_py()) for p in payloads} - {N_FRAMES * FRAME_LEN}
            if bad:
                raise ValueError(
                    f"image payloads must be exactly {N_FRAMES * FRAME_LEN} "
                    f"bytes for the {N_FRAMES}-feature schema; got sizes {bad}"
                )
            arr = np.frombuffer(
                b"".join(p.as_py() for p in payloads), dtype=np.uint8
            ).astype(np.float64)
            means = arr.reshape(batch.num_rows, N_FRAMES, FRAME_LEN).mean(
                axis=2
            ).round(6)
            yield pa.RecordBatch.from_arrays(
                [batch.column("media_id")]
                + [pa.array(means[:, b]) for b in range(N_FRAMES)],
                names=["media_id"] + [f"f{b}" for b in range(N_FRAMES)],
            )

    m = media_table(spark, sf_dir).filter(F.col("kind") == "image")
    schema = "media_id long, " + ", ".join(f"f{b} double" for b in range(N_FRAMES))
    return (
        m.select("media_id", "payload").repartition("media_id").mapInArrow(feats, schema)
    )


# --- audio: windowed RMS over byte chunks (mapInPandas) ----------------------
def audio_chunk_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fake DSP: RMS of byte values per FRAME_LEN chunk — the shape of a real
    feature extractor (librosa etc.) without the library. One output row per
    (media_id, chunk)."""

    def rms(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # Group by payload length before stacking: real audio is
            # variable-length, and np.stack over ragged rows (or deriving one
            # n_chunks for a mixed batch) would either raise mid-batch or
            # silently truncate. Each length-group is still fully vectorized.
            for _plen, sub in pdf.groupby(pdf["payload"].map(len), sort=True):
                arr = np.stack(
                    [np.frombuffer(bytes(p), dtype=np.uint8) for p in sub["payload"]]
                ).astype(np.float64)
                n_chunks = arr.shape[1] // FRAME_LEN
                if n_chunks == 0:
                    continue
                windows = arr[:, : n_chunks * FRAME_LEN].reshape(
                    len(sub), n_chunks, FRAME_LEN
                )
                vals = np.sqrt((windows**2).mean(axis=2)).round(6)
                yield pd.DataFrame(
                    {
                        "media_id": np.repeat(sub["media_id"].to_numpy(), n_chunks),
                        "chunk": np.tile(np.arange(n_chunks, dtype=np.int32), len(sub)),
                        "rms": vals.ravel(),
                    }
                )

    m = media_table(spark, sf_dir).filter(F.col("kind") == "audio")
    return (
        m.select("media_id", "payload")
        .repartition("media_id")
        .mapInPandas(rms, "media_id long, chunk int, rms double")
    )


# --- resize (metadata + payload truncation, no Python) -----------------------
def image_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Resize' the opaque payload: halve the typed dimensions and truncate
    the payload proportionally — the metadata/byte plumbing of a resize
    stage; a real resampler plugs into the image_features loop."""
    m = media_table(spark, sf_dir).filter(F.col("kind") == "image")
    half = F.expr("substring(payload, 1, cast(length(payload) / 2 AS INT))")
    return m.select(
        "media_id",
        (F.col("meta.width") / 2).cast("int").alias("width"),
        (F.col("meta.height") / 2).cast("int").alias("height"),
        F.length(half).alias("payload_len"),
        F.md5(half).alias("payload_md5"),
    )


def _stage_media_files(spark: SparkSession, sf_dir: str) -> str:
    """Write each media payload as its own file (media_<id>.bin) — the
    on-disk shape raw media actually arrives in. Distributed write: each
    task writes its partition's assets (at scale the target is object
    storage; locally a scratch dir). Staged once per (application, sf_dir)."""
    import os

    def build() -> str:
        out = scratch_dir(spark, "mediafiles")

        def write_partition(rows) -> None:
            for r in rows:
                path = os.path.join(out, f"media_{r.media_id}.bin")
                tmp = f"{path}.tmp{os.getpid()}"
                with open(tmp, "wb") as f:
                    f.write(bytes(r.payload))
                os.replace(tmp, path)

        media_table(spark, sf_dir).select(
            "media_id", "payload"
        ).foreachPartition(write_partition)
        return out

    return get_or_build(spark, "mediafiles", sf_dir, build)


def binary_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's binaryFile source over a directory of raw media files — the
    ingest path for media that does NOT arrive in parquet. pathGlobFilter
    prunes non-media files at listing time; the `content` column is pruned
    from the read when a query selects only path/length metadata, so a
    catalog pass over 100 TB of media reads bytes proportional to the file
    LISTING, not the corpus. Value-level oracle: file name, byte length and
    content md5 are all recomputable from `documents` (the payload is a
    deterministic md5-hex chain, ASCII ⇒ byte==char)."""
    d = _stage_media_files(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(d)
    )
    return files.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("payload_len"),
        F.md5("content").alias("payload_md5"),
    )


def media_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed index over the binary media column: every payload
    grouped by md5(payload) with its copy count — the binary twin of
    dedup_exact, and the first pass any multimodal curation pipeline runs
    (hashing is cheap; decoding is not). Duplicates are the n_copies > 1
    rows; the full index is emitted so the check is value-bearing at every
    SF (the planted dups only appear from sf0.1 up). Only (hash, media_id)
    rows shuffle — the payload bytes never leave the scan stage."""
    m = media_table(spark, sf_dir)
    return (
        m.select("media_id", F.md5("payload").alias("payload_md5"))
        .groupBy("payload_md5")
        .agg(
            F.min("media_id").alias("canonical_media_id"),
            F.count("*").alias("n_copies"),
        )
    )


QUERIES = {
    "media_catalog": media_catalog,
    "video_frame_sample": video_frame_sample,
    "image_features": image_features,
    "image_features_arrow": image_features_arrow,
    "audio_chunk_rms": audio_chunk_rms,
    "image_resize_meta": image_resize_meta,
    "binary_file_scan": binary_file_scan,
    "media_dedup_groups": media_dedup_groups,
}

# payload reconstructed on the STRING domain (ASCII ⇒ char==byte)
_PAYLOAD_SQL = " || ".join(f"md5(text || '{i}')" for i in range(N_FRAMES))
_MEDIA_SQL = f"""
media AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
         (16 + doc_id % 64)::INT AS width,
         (16 + n_chars % 64)::INT AS height,
         (8000 + (doc_id % 4) * 4000)::INT AS sample_rate,
         {_PAYLOAD_SQL} AS payload_hex
  FROM documents
)
"""

ORACLE = {
    "media_catalog": f"""
WITH {_MEDIA_SQL}
SELECT media_id, kind, width, height, sample_rate,
       length(payload_hex) AS payload_len,
       md5(payload_hex) AS payload_md5
FROM media
""",
    "video_frame_sample": f"""
WITH {_MEDIA_SQL}
SELECT media_id, frame_idx::INT AS frame_idx,
       md5(substring(payload_hex, frame_idx * {FRAME_LEN} + 1, {FRAME_LEN})) AS frame_md5,
       {FRAME_LEN} AS frame_len
FROM media, generate_series(0, {N_FRAMES - 1}) AS t(frame_idx)
WHERE kind = 'video'
""",
    # byte buckets of ASCII hex == avg of character codes per slice
    "image_features": f"""
WITH {_MEDIA_SQL}
SELECT media_id,
       {", ".join(
           f"round(list_aggregate(list_transform(string_split_regex("
           f"substring(payload_hex, {b * FRAME_LEN + 1}, {FRAME_LEN}), ''), "
           f"c -> ascii(c)), 'sum') / {FRAME_LEN}.0, 6) AS f{b}"
           for b in range(N_FRAMES)
       )}
FROM media WHERE kind = 'image'
""",
    "image_features_arrow": f"""
WITH {_MEDIA_SQL}
SELECT media_id,
       {", ".join(
           f"round(list_aggregate(list_transform(string_split_regex("
           f"substring(payload_hex, {b * FRAME_LEN + 1}, {FRAME_LEN}), ''), "
           f"c -> ascii(c)), 'sum') / {FRAME_LEN}.0, 6) AS f{b}"
           for b in range(N_FRAMES)
       )}
FROM media WHERE kind = 'image'
""",
    "image_resize_meta": f"""
WITH {_MEDIA_SQL}
SELECT media_id, (width // 2)::INT AS width, (height // 2)::INT AS height,
       length(payload_hex) // 2 AS payload_len,
       md5(substring(payload_hex, 1, length(payload_hex) // 2)) AS payload_md5
FROM media WHERE kind = 'image'
""",
    # rms over ASCII hex bytes: sum of squared char codes is exact in
    # float64 (ints < 103² · 32), so sqrt(round 6) matches numpy bit-for-bit
    "audio_chunk_rms": f"""
WITH {_MEDIA_SQL}
SELECT media_id, chunk::INT AS chunk,
       round(sqrt(list_aggregate(list_transform(
                string_split_regex(
                  substring(payload_hex, chunk * {FRAME_LEN} + 1, {FRAME_LEN}), ''),
                c -> ascii(c) * ascii(c)), 'sum') / {FRAME_LEN}.0), 6) AS rms
FROM media, generate_series(0, {N_FRAMES - 1}) AS t(chunk)
WHERE kind = 'audio'
""",
    # the staged file-per-asset tree is bit-derivable from documents, so the
    # oracle never touches the filesystem
    "binary_file_scan": f"""
WITH {_MEDIA_SQL}
SELECT 'media_' || media_id || '.bin' AS file_name,
       CAST(length(payload_hex) AS BIGINT) AS payload_len,
       md5(payload_hex) AS payload_md5
FROM media
""",
}

ORACLE["media_dedup_groups"] = f"""
WITH hashed AS (
  SELECT doc_id AS media_id, md5({_PAYLOAD_SQL}) AS payload_md5
  FROM documents
)
SELECT payload_md5, min(media_id) AS canonical_media_id,
       count(*) AS n_copies
FROM hashed GROUP BY payload_md5
"""


def _frame_sum_expr(b: int) -> str:
    """Exact integer byte-sum of frame b of the payload (SQL-side twin of
    the Python decode loop: ASCII payload ⇒ char==byte)."""
    return (
        f"aggregate(transform(sequence(1, {FRAME_LEN}),"
        f" i -> ascii(substring(cast(payload as string),"
        f" {b * FRAME_LEN} + i, 1))), 0, (a, v) -> a + v)"
    )


def media_perceptual_hash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate pairs over the image payloads — the
    average-hash (aHash) tier above media_dedup_groups' exact-md5 tier:
    bit b of the 8-bit hash = [frame b's byte sum above the image mean]
    (8·s_b > Σs, exact integers), then candidate pairs at Hamming
    distance ≤ 1 via MULTI-PROBE bucketing: each image probes its own
    hash plus all 8 one-bit flips, so a dist-≤1 pair meets in exactly
    one probe bucket — an equi-join, never an all-pairs Hamming scan.
    On real images the identical plan runs on a decoder-derived aHash;
    here the deterministic fake decode keeps it value-level checkable.

    Scale shape: hashing is map-side JVM codegen over the payload (no
    Python); the probe explode is ×9; the join is bucket-equi on the
    hash value. [extension]"""
    m = media_table(spark, sf_dir).filter(F.col("kind") == "image")
    sums = " + ".join(f"s{b}" for b in range(N_FRAMES))
    hashed = m.selectExpr(
        "media_id",
        *[f"{_frame_sum_expr(b)} AS s{b}" for b in range(N_FRAMES)],
    ).selectExpr(
        "media_id",
        "("
        + " + ".join(
            f"(CASE WHEN {N_FRAMES} * s{b} > ({sums}) THEN {1 << b}"
            f" ELSE 0 END)"
            for b in range(N_FRAMES)
        )
        + ") AS ahash",
    )
    probes = hashed.select(
        F.col("media_id").alias("media_a"),
        F.col("ahash").alias("ahash_a"),
        F.explode(
            F.array(
                *[F.expr(f"ahash ^ {1 << k}") for k in range(N_FRAMES)],
                F.col("ahash"),
            )
        ).alias("probe"),
    )
    right = hashed.select(
        F.col("media_id").alias("media_b"), F.col("ahash").alias("probe"),
        F.col("ahash").alias("ahash_b"),
    )
    return (
        probes.join(right, "probe")
        .filter(F.col("media_a") < F.col("media_b"))
        .select(
            "media_a",
            "media_b",
            "ahash_a",
            "ahash_b",
            F.expr("bit_count(ahash_a ^ ahash_b)").alias("hamming"),
        )
    )


QUERIES["media_perceptual_hash_pairs"] = media_perceptual_hash_pairs

_FRAME_SUM_SQL = [
    f"list_aggregate(list_transform(string_split_regex("
    f"substring(payload_hex, {b * FRAME_LEN + 1}, {FRAME_LEN}), ''), "
    f"c -> ascii(c)), 'sum')"
    for b in range(N_FRAMES)
]

_AHASH_SQL = "(" + " + ".join(
    f"(CASE WHEN {N_FRAMES} * s{b} > ({' + '.join(f's{i}' for i in range(N_FRAMES))})"
    f" THEN {1 << b} ELSE 0 END)"
    for b in range(N_FRAMES)
) + ")"

ORACLE["media_perceptual_hash_pairs"] = f"""
WITH {_MEDIA_SQL},
sums AS (
  SELECT media_id,
         {", ".join(f"{e} AS s{b}" for b, e in enumerate(_FRAME_SUM_SQL))}
  FROM media WHERE kind = 'image'
), hashed AS (
  SELECT media_id, {_AHASH_SQL} AS ahash FROM sums
), probes AS (
  SELECT media_id AS media_a, ahash AS ahash_a,
         unnest([{", ".join(f"xor(ahash, {1 << k})" for k in range(N_FRAMES))},
                 ahash]) AS probe
  FROM hashed
)
SELECT p.media_a, h.media_id AS media_b, p.ahash_a, h.ahash AS ahash_b,
       CAST(bit_count(xor(p.ahash_a, h.ahash)) AS INTEGER) AS hamming
FROM probes p JOIN hashed h ON h.ahash = p.probe AND p.media_a < h.media_id
"""


def media_storage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-media-kind storage footprint: asset count, total/max payload
    bytes, and each kind's share of the corpus payload in round-half-up
    micros — the capacity-planning table a 100 TB multimodal lake reads
    before choosing compaction targets. Payload bytes come from
    length() on the binary column; the scan prunes the payload content
    for every other column (the media_catalog plan argument), and the
    output is |kinds| rows.

    The share denominator is the corpus total (a 1-row broadcast),
    numerators are per-kind BIGINT sums — all integer. [extension]"""
    m = media_table(spark, sf_dir)
    per = m.groupBy("kind").agg(
        F.count("*").alias("n_assets"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.max(F.length("payload")).alias("max_bytes"),
    )
    tot = per.agg(F.sum("total_bytes").alias("corpus_bytes"))
    return per.join(F.broadcast(tot)).select(
        "kind",
        "n_assets",
        "total_bytes",
        "max_bytes",
        F.expr(
            "(2 * 1000000 * total_bytes + corpus_bytes)"
            " DIV (2 * corpus_bytes)"
        ).alias("share_micro"),
    )


QUERIES["media_storage_report"] = media_storage_report

ORACLE["media_storage_report"] = f"""
WITH {_MEDIA_SQL},
per AS (
  SELECT kind, count(*) AS n_assets,
         CAST(sum(length(payload_hex)) AS BIGINT) AS total_bytes,
         CAST(max(length(payload_hex)) AS BIGINT) AS max_bytes
  FROM media GROUP BY kind
), tot AS (SELECT CAST(sum(total_bytes) AS BIGINT) AS corpus_bytes FROM per)
SELECT kind, n_assets, total_bytes, max_bytes,
       (2 * 1000000 * total_bytes + corpus_bytes) // (2 * corpus_bytes)
         AS share_micro
FROM per, tot
"""
