"""Multimodal plumbing tests: binary columns, Arrow-batched mapInPandas
feature extraction, per-row decode-error isolation, binary-column
metadata extraction and the PNG codec."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def assets(spark):
    """Deterministic 64-row asset table: the ``image/png`` third carries
    REAL PNG files (deterministic pixel ramp, encoded by ``PngCodec``),
    wav/mp4 assets carry synthetic raw bytes, and every 13th asset is
    empty (the decode error channel)."""
    import numpy as np

    from unicargo_medallion_data_pipeline_spark.textops.multimodal import (
        ASSET_SCHEMA,
        PngCodec,
    )

    rows = []
    png = PngCodec()
    for i in range(64):
        media = ["image/png", "audio/wav", "video/mp4"][i % 3]
        w, h = 64 + i % 128, 64 + (i * 3) % 128
        if media == "image/png":
            yy, xx = np.mgrid[0:h, 0:w]
            arr = np.stack(
                [(yy + i) % 256, (xx * 3 + i) % 256, (yy + xx) % 256], axis=-1
            ).astype(np.uint8)
            content = png.encode(arr)
        else:
            content = bytes((i * 7 + j) % 256 for j in range(100 + (i % 5) * 50))
        if i % 13 == 0:
            content = b""  # corrupt asset → decode error channel
        meta = (w, h, 3, (i % 10) * 1000 if media == "video/mp4" else None)
        rows.append((i, media, content, meta))
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def test_asset_schema_roundtrip(spark, assets, tmp_path_factory):
    """binary + struct metadata survives a parquet round trip."""
    path = str(tmp_path_factory.mktemp("assets"))
    assets.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 64
    assert dict(back.dtypes)["content"] == "binary"
    row = back.filter(F.col("asset_id") == 1).collect()[0]
    assert isinstance(row["content"], (bytes, bytearray))
    assert row["meta"]["n_channels"] == 3


def test_extract_features_batched(spark, assets):
    from unicargo_medallion_data_pipeline_spark.textops.multimodal import extract_features

    feats = extract_features(assets.repartition(4))
    rows = {r["asset_id"]: r for r in feats.collect()}
    assert len(rows) == 64
    ok = [r for r in rows.values() if r["decode_status"] == "ok"]
    errs = [r for r in rows.values() if r["decode_status"].startswith("error")]
    # i % 13 == 0 assets are corrupt (empty) → exactly 5 of 64
    assert len(errs) == 5 and len(ok) == 59
    # non-PNG asset: raw-byte statistics, the mean of asset 1's bytes
    import statistics

    expected = statistics.mean((1 * 7 + j) % 256 for j in range(150))
    assert abs(rows[1]["mean_byte"] - expected) < 1e-9
    assert rows[1]["content_hash"] and rows[1]["n_bytes"] == 150


def test_decode_errors_do_not_kill_stage(spark, assets):
    from unicargo_medallion_data_pipeline_spark.textops.multimodal import extract_features

    # all-corrupt partition still completes
    corrupt = assets.filter(F.col("asset_id") % 13 == 0)
    out = extract_features(corrupt).collect()
    assert len(out) == 5
    assert all(r["decode_status"].startswith("error") for r in out)


# ---------------------------------------------------------------------------
# Binary-column metadata extraction (r13 verdict task 2): sniff / dims /
# hash over REAL files through the binaryFile source.
# ---------------------------------------------------------------------------


def test_asset_metadata_rows_on_real_binary_files(spark, binary_dir):
    """read_binary_files → asset_metadata_rows: sniffed container types,
    header-parsed PNG dims, and md5 content hashes are value-exact
    against independent (hashlib/struct) recomputation."""
    import hashlib
    import os

    from unicargo_medallion_data_pipeline_spark.sources.readers import read_binary_files
    from unicargo_medallion_data_pipeline_spark.textops.multimodal import (
        asset_metadata_rows,
    )

    meta = {
        os.path.basename(r.path): r
        for r in asset_metadata_rows(read_binary_files(spark, binary_dir)).collect()
    }
    assert set(meta) == {"a.png", "b.wav", "c.mp4", "d.pdf", "junk.bin", "a_copy.png"}
    assert meta["a.png"].media_type == "image/png"
    assert (meta["a.png"].width, meta["a.png"].height) == (7, 9)
    assert meta["b.wav"].media_type == "audio/wav"
    assert meta["c.mp4"].media_type == "video/mp4"
    assert meta["d.pdf"].media_type == "application/pdf"
    assert meta["junk.bin"].media_type == "application/octet-stream"
    # non-PNG assets parse no dims
    assert meta["b.wav"].width is None and meta["c.mp4"].height is None
    # hash + byte count match an independent recomputation
    from conftest import real_png

    expected = hashlib.md5(real_png(7, 9)).hexdigest()
    assert meta["a.png"].content_hash == expected
    assert meta["a.png"].n_bytes == len(real_png(7, 9))
    # exact dedup: duplicate content at a second path shares the hash
    assert meta["a_copy.png"].content_hash == expected


def test_sniff_does_not_misread_short_or_empty_content(spark):
    """Content shorter than any magic number (or empty) classifies as
    octet-stream; NULL content stays NULL — no slice-out-of-range
    failures at the byte boundaries."""
    from unicargo_medallion_data_pipeline_spark.textops.multimodal import (
        png_width,
        sniff_media_type,
    )

    df = spark.createDataFrame(
        [(1, b""), (2, b"\x89PN"), (3, b"RIFF"), (4, None)],
        "id int, content binary",
    )
    rows = {
        r.id: (r.t, r.w)
        for r in df.select(
            "id",
            sniff_media_type(F.col("content")).alias("t"),
            png_width(F.col("content")).alias("w"),
        ).collect()
    }
    assert rows[1] == ("application/octet-stream", None)
    assert rows[2] == ("application/octet-stream", None)
    assert rows[3] == ("application/octet-stream", None)
    assert rows[4] == (None, None)


def test_wav_le_parsers_roundtrip_against_struct_pack(spark):
    """The little-endian pack/parse pair is verified against an
    INDEPENDENT construction (struct.pack '<'): a genuine PCM WAV
    header built in Python parses to the same channels/rates the
    engine's pack_wav_header-built content does."""
    import struct

    from unicargo_medallion_data_pipeline_spark.textops.multimodal import (
        WAV_HEADER_LEN,
        pack_wav_header,
        wav_byte_rate,
        wav_channels,
        wav_sample_rate,
    )

    def py_wav(ch: int, rate: int) -> bytes:
        return (
            b"RIFF" + struct.pack("<I", 0) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16)
        )

    rows = [(1, 2, 44100), (2, 1, 8000), (3, 6, 192000)]
    df = spark.createDataFrame(rows, "id int, ch int, rate long")
    packed = df.select(
        "id", "ch", "rate",
        pack_wav_header(F.col("ch"), F.col("rate")).alias("content"),
    )
    got = {
        r.id: (bytes(r.content), r.pch, r.prate, r.pbr)
        for r in packed.select(
            "id", "content",
            wav_channels(F.col("content")).alias("pch"),
            wav_sample_rate(F.col("content")).alias("prate"),
            wav_byte_rate(F.col("content")).alias("pbr"),
        ).collect()
    }
    for i, ch, rate in rows:
        content, pch, prate, pbr = got[i]
        assert content == py_wav(ch, rate)  # byte-identical to struct.pack
        assert len(content) == WAV_HEADER_LEN
        assert (pch, prate, pbr) == (ch, rate, rate * ch * 2)


def test_streaming_binary_ingestion_into_assets_table(spark, binary_dir, tmp_path):
    """Multimodal streaming ingest: a binaryFile readStream feeds
    apply_corpus_batch per micro-batch (foreachBatch) — the assets
    silver table accumulates exactly-once even when the stream replays
    paths across batches."""
    import os

    from unicargo_medallion_data_pipeline_spark.pipelines import corpus
    from unicargo_medallion_data_pipeline_spark.sources.readers import read_binary_files
    from unicargo_medallion_data_pipeline_spark.streaming.readers import (
        read_streaming_path,
    )

    out_dir = str(tmp_path / "stream_assets")
    schema = read_binary_files(spark, binary_dir).schema
    stream = read_streaming_path(
        spark,
        binary_dir,
        schema,
        file_format="binaryFile",
        options={"maxFilesPerTrigger": "2", "recursiveFileLookup": "true"},
    )
    admitted = []

    def _apply(batch_df, batch_id):
        res = corpus.apply_corpus_batch(
            batch_df.sparkSession, out_dir, new_assets=batch_df
        )
        admitted.append(res.admitted_assets)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(admitted) == 6 and len(admitted) >= 3  # 6 files, ≤2 per batch
    table = spark.read.parquet(os.path.join(out_dir, f"{corpus.ASSETS_TABLE}.parquet"))
    assert table.count() == 6
    # batch-path result equals the one-shot ingest, row for row
    batch_dir = str(tmp_path / "batch_assets")
    corpus.apply_corpus_batch(
        spark, batch_dir, new_assets=read_binary_files(spark, binary_dir)
    )
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(table) == key(
        spark.read.parquet(os.path.join(batch_dir, f"{corpus.ASSETS_TABLE}.parquet"))
    )


def test_truncated_png_dims_are_null_not_garbage(spark):
    """r14 ADVICE item 1: an intact PNG signature on a file truncated
    below 24 bytes must yield NULL dims everywhere — including the
    maintained corpus_assets path (asset_metadata_rows), which has no
    query-level length guard."""
    from unicargo_medallion_data_pipeline_spark.textops.multimodal import (
        PNG_SIGNATURE,
        asset_metadata_rows,
        png_height,
        png_width,
    )

    sig = PNG_SIGNATURE
    full = sig + (13).to_bytes(4, "big") + b"IHDR" + (64).to_bytes(4, "big") + (48).to_bytes(4, "big")
    rows = [
        (1, sig),                 # signature only (8B)
        (2, full[:20]),           # cut mid-width field
        (3, full[:23]),           # one byte short of the height field
        (4, full),                # exactly 24B: dims must parse
    ]
    df = spark.createDataFrame(rows, "id int, content binary")
    got = {
        r.id: (r.w, r.h)
        for r in df.select(
            "id",
            png_width(F.col("content")).alias("w"),
            png_height(F.col("content")).alias("h"),
        ).collect()
    }
    assert got[1] == (None, None)
    assert got[2] == (None, None)
    assert got[3] == (None, None)
    assert got[4] == (64, 48)

    # and through the production silver extractor
    bin_like = df.select(
        F.concat(F.lit("mem://"), F.col("id").cast("string")).alias("path"),
        F.length("content").cast("long").alias("length"),
        F.current_timestamp().alias("modificationTime"),
        "content",
    )
    meta = {r.path: (r.width, r.height) for r in asset_metadata_rows(bin_like).collect()}
    assert meta["mem://1"] == (None, None)
    assert meta["mem://2"] == (None, None)
    assert meta["mem://4"] == (64, 48)


def test_byte_packers_wrap_out_of_range_inputs(spark):
    """r14 ADVICE item 3: be32/le16/le32 are exported building blocks —
    values above the field width (or negative longs) must wrap mod
    2^32 / 2^16 like two's-complement packing, not keep their HIGH
    nibbles via lpad truncation."""
    import struct

    from unicargo_medallion_data_pipeline_spark.textops.multimodal import be32, le16, le32

    df = spark.createDataFrame(
        [(1, (1 << 32) + 5), (2, -1), (3, 0x1_0001), (4, 7)], "id int, v long"
    )
    got = {
        r.id: (bytes(r.b32), bytes(r.l32), bytes(r.l16))
        for r in df.select(
            "id",
            be32(F.col("v")).alias("b32"),
            le32(F.col("v")).alias("l32"),
            le16(F.col("v")).alias("l16"),
        ).collect()
    }
    for i, v in [(1, (1 << 32) + 5), (2, -1), (3, 0x1_0001), (4, 7)]:
        assert got[i][0] == struct.pack(">I", v & 0xFFFFFFFF), f"be32({v})"
        assert got[i][1] == struct.pack("<I", v & 0xFFFFFFFF), f"le32({v})"
        assert got[i][2] == struct.pack("<H", v & 0xFFFF), f"le16({v})"


def test_png_codec_roundtrip_real_pixels():
    """r14 verdict task 4: pack → encode → decode round-trips REAL pixel
    data bit-exactly for every supported channel count, with no media
    library — IDAT is stdlib zlib, unfilter is numpy."""
    import numpy as np

    from unicargo_medallion_data_pipeline_spark.textops.multimodal import (
        PNG_SIGNATURE,
        PngCodec,
    )

    png = PngCodec()
    for ch in (1, 2, 3, 4):
        rng = np.random.default_rng(ch)
        arr = (rng.random((13, 17, ch)) * 255).astype(np.uint8)
        enc = png.encode(arr)
        assert enc[:8] == PNG_SIGNATURE and enc.endswith(b"IEND\xaeB`\x82")
        dec = png.decode(enc)
        assert dec.shape == (13, 17, ch)
        assert np.array_equal(dec, arr)


def test_png_codec_decodes_all_five_filters():
    """A foreign encoder may use any per-line filter; decode a
    hand-built PNG exercising filters 0-4 against the reference
    filtering math run in reverse."""
    import zlib

    import numpy as np

    from unicargo_medallion_data_pipeline_spark.textops.multimodal import PngCodec

    def chunk(t, d):
        return (
            len(d).to_bytes(4, "big") + t + d
            + (zlib.crc32(t + d) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    w, h, ch = 5, 5, 3
    rng = np.random.default_rng(0)
    img = (rng.random((h, w, ch)) * 255).astype(np.uint8)
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int16)
    for y in range(h):
        line = img[y].reshape(-1).astype(np.int16)
        f = y % 5
        raw.append(f)
        left = np.concatenate([np.zeros(ch, np.int16), line[:-ch]])
        ul = np.concatenate([np.zeros(ch, np.int16), prev[:-ch]])
        if f == 0:
            filt = line
        elif f == 1:
            filt = (line - left) % 256
        elif f == 2:
            filt = (line - prev) % 256
        elif f == 3:
            filt = (line - ((left + prev) >> 1)) % 256
        else:
            p = left + prev - ul
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            filt = (line - pred) % 256
        raw.extend(int(v) for v in filt)
        prev = line
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(PngCodec().decode(data), img)


def test_png_codec_error_channel():
    import numpy as np
    import pytest as _pytest

    from unicargo_medallion_data_pipeline_spark.textops.multimodal import PngCodec

    png = PngCodec()
    good = png.encode(np.zeros((4, 4, 3), dtype=np.uint8))
    for bad in (b"", b"notapng", good[:20], good[:40]):
        with _pytest.raises(ValueError):
            png.decode(bad)


def test_extract_features_real_png_mean_is_pixel_mean(spark, assets):
    """The PNG quarter's mean_byte is now the mean of DECODED pixels
    (not of the compressed file bytes) — verified against a driver-side
    numpy recomputation of the same deterministic image."""
    import numpy as np

    from unicargo_medallion_data_pipeline_spark.textops.multimodal import (
        extract_features,
    )

    i = 3  # image/png, not corrupt (3 % 13 != 0)
    w, h = 64 + i % 128, 64 + (i * 3) % 128
    yy, xx = np.mgrid[0:h, 0:w]
    arr = np.stack(
        [(yy + i) % 256, (xx * 3 + i) % 256, (yy + xx) % 256], axis=-1
    ).astype(np.uint8)
    row = (
        extract_features(assets.filter(F.col("asset_id") == i)).collect()[0]
    )
    assert row["decode_status"] == "ok"
    assert abs(row["mean_byte"] - float(arr.mean())) < 1e-9
