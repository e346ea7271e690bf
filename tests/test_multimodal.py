"""Multimodal plumbing tests: Arrow batch shape, determinism, stub gating.

The value-level correctness of the binary pipeline is oracle-checked in
test_oracle.py (payload hashes, frame slices, feature buckets); this file
pins what the oracle can't see — the mapInPandas batch mechanics and the
real-decoder stub contract.
"""

from __future__ import annotations

import os

import pytest

from stockmarket_bigdata_project_spark.llmdata import multimodal as M


def test_payload_is_binary_and_opaque(spark, sf_dir):
    m = M.media_table(spark, sf_dir)
    assert dict(m.dtypes)["payload"] == "binary"
    row = m.select("payload", "meta").first()
    assert isinstance(bytes(row.payload), bytes)
    assert len(bytes(row.payload)) == M.N_FRAMES * M.FRAME_LEN
    assert set(row.meta.asDict()) == {"width", "height", "n_frames", "sample_rate"}


def test_image_features_deterministic_across_runs(spark, sf_dir):
    a = {r.media_id: r.f0 for r in M.image_features(spark, sf_dir).collect()}
    b = {r.media_id: r.f0 for r in M.image_features(spark, sf_dir).collect()}
    assert a == b and a


def test_audio_rms_chunk_fanout(spark, sf_dir):
    """Each audio asset yields exactly payload_len // FRAME_LEN chunks."""
    n_audio = M.media_table(spark, sf_dir).filter("kind = 'audio'").count()
    rms = M.audio_chunk_rms(spark, sf_dir)
    assert rms.count() == n_audio * M.N_FRAMES
    assert rms.select("media_id").distinct().count() == n_audio


def test_real_decoder_fails_loud_on_garbage():
    """Non-image bytes through the real-decode seam must raise (ValueError
    from the vendored PNG reader, PIL's UnidentifiedImageError where PIL
    exists) — never a silent wrong answer."""
    with pytest.raises(Exception, match="(?i)png|image|identif"):
        M.decode_image_real(b"\x00" * 16, 4, 4)


def test_fallback_decoder_rejects_unsupported_png_subset():
    """The pure-Python fallback decodes 8-bit grayscale non-interlaced
    only; anything else must fail loud naming the constraint, not decode
    wrong."""
    import struct
    import zlib

    # well-formed PNG header but RGB (color type 2)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    with pytest.raises(ValueError, match="grayscale"):
        M._decode_png_gray8(b"\x89PNG\r\n\x1a\n" + chunk)


def _encode_png_gray8(arr) -> bytes:
    """Test-side gray8 PNG encoder (pure stdlib): filter type 0 scanlines,
    one IDAT — the writing half of the vendored reader's subset."""
    import struct
    import zlib

    h, w = arr.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(arr[y].tobytes()) for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_real_image_features_runs_without_pil(spark):
    """The REAL-decoder slot executes in THIS sandbox (r5 verdict task 7):
    genuine PNG payloads staged from a stdlib encoder, decoded through the
    same mapInPandas batch loop as image_features, dims + mean pixel
    matched against a numpy twin computed outside Spark. Passes under
    either backend (vendored reader here; PIL decodes the same subset
    identically where present)."""
    import numpy as np

    staged, expect = [], {}
    for media_id, (w, h, fill) in enumerate(
        [(4, 3, 17), (8, 8, 200), (5, 2, 0)]
    ):
        arr = ((np.arange(w * h, dtype=np.int64) + fill) % 256).astype(
            np.uint8
        ).reshape(h, w)
        staged.append((media_id, bytearray(_encode_png_gray8(arr)), w, h))
        expect[media_id] = (w, h, float(round(float(arr.mean()), 6)))
    df = spark.createDataFrame(
        staged, "media_id long, payload binary, width int, height int"
    )
    got = {
        r.media_id: (r.width, r.height, r.mean_px)
        for r in M.real_image_features(df).collect()
    }
    assert got == expect


def test_fallback_decoder_unfilters_all_filter_types():
    """Round-trip every PNG scanline filter (0/1/2/3/4) through the
    vendored reader: encode with the chosen filter per row, expect the
    original pixels back."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(5, 6), dtype=np.uint8)

    def filt(ftype: int, cur, prev):
        cur, prev = cur.astype(np.int32), prev.astype(np.int32)
        out = np.empty(len(cur), dtype=np.uint8)
        for x in range(len(cur)):
            a = int(cur[x - 1]) if x else 0
            b = int(prev[x])
            c = int(prev[x - 1]) if x else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out[x] = (int(cur[x]) - pred) % 256
        return out

    h, w = arr.shape
    prev = np.zeros(w, dtype=np.uint8)
    raw = b""
    for y in range(h):
        ftype = y % 5
        raw += bytes([ftype]) + filt(ftype, arr[y], prev).tobytes()
        prev = arr[y]

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    got = M._decode_png_gray8(png)
    assert (got == arr).all()


def test_real_image_features_with_pil(spark):
    """PIL-gated (the protobuf-gate pattern from transformWithState): stage
    tiny real PNGs, decode them through the SAME mapInPandas batch loop as
    image_features, and match dims + mean pixel against a PIL-side
    metadata twin computed outside Spark. Skips clean where PIL is absent;
    green where it exists."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    staged = []
    expect = {}
    for media_id, (w, h, fill) in enumerate(
        [(4, 3, 17), (8, 8, 200), (5, 2, 0)]
    ):
        arr = (np.arange(w * h, dtype=np.uint8).reshape(h, w) + fill) % 256
        buf = io.BytesIO()
        PIL_Image.fromarray(arr, mode="L").save(buf, format="PNG")
        staged.append((media_id, bytearray(buf.getvalue()), w, h))
        expect[media_id] = (w, h, float(round(float(arr.mean()), 6)))
    df = spark.createDataFrame(
        staged, "media_id long, payload binary, width int, height int"
    )
    got = {
        r.media_id: (r.width, r.height, r.mean_px)
        for r in M.real_image_features(df).collect()
    }
    assert got == expect


def test_binary_file_scan_stages_each_catalog_apart(spark, sf_dir, tmp_path):
    """Two catalogs whose dirs share a basename but hold different
    documents stage their media files apart: each scan reads the payloads
    of its own catalog."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from stockmarket_bigdata_project_spark.catalog import table_path

    a, b = str(tmp_path / "a" / "sf"), str(tmp_path / "b" / "sf")
    for d in (a, b):
        os.makedirs(d)
    shutil.copy(table_path(sf_dir, "documents"), table_path(a, "documents"))
    docs = pq.read_table(table_path(sf_dir, "documents"))
    i = docs.schema.get_field_index("text")
    edited = pc.binary_join_element_wise(docs["text"], "!", "")
    pq.write_table(docs.set_column(i, "text", edited), table_path(b, "documents"))

    def scanned(d):
        return sorted(r.payload_md5 for r in M.binary_file_scan(spark, d).collect())

    def expected(d):
        m = M.media_table(spark, d).select(F.md5("payload").alias("h"))
        return sorted(r.h for r in m.collect())

    got_a, got_b = scanned(a), scanned(b)
    assert got_a and got_a != got_b
    assert got_a == expected(a) and got_b == expected(b)
