"""Multimodal columns: images/audio/video as opaque binary + typed metadata
(north-star multimodal surface).

Data model: a multimodal asset is a row with
  - ``content: binary``  — the raw encoded bytes (opaque to the engine)
  - ``media_type: string`` — MIME-ish discriminator (image/png, audio/wav…)
  - ``meta: struct<width int, height int, n_channels int, duration_ms int>``
    — typed, nullable per modality

Two processing shapes:

* Feature extraction (:func:`extract_features`) runs as an
  **Arrow-batched Pandas function over mapInPandas**: each task pulls one
  Arrow batch, decodes in bulk and emits an Arrow batch, so Python
  crossing cost is per batch, not per row.  Genuine PNG bytes decode
  through :class:`PngCodec`, a stdlib-only PNG implementation (IDAT zlib
  inflate + all five scanline filters in numpy; encode emits
  spec-complete files any viewer opens) — the only decoder.  Other
  modalities get raw-byte statistics, and a per-row error channel
  (``decode_status``) keeps one corrupt asset from failing the stage.
* Container sniffing and header parsing (PNG dims, WAV fmt fields) are
  JVM-side Column expressions over the binary content, with no Python
  at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

ASSET_META = StructType(
    [
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_channels", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", IntegerType(), False),
        StructField("media_type", StringType(), False),
        StructField("content", BinaryType(), False),
        StructField("meta", ASSET_META, True),
    ]
)

#: Output schema of the feature-extraction stage.
FEATURES_SCHEMA = StructType(
    [
        # every field nullable: a non-nullable Arrow field holding a
        # NULL (e.g. a NULL asset id flowing through mapInPandas)
        # crashes the downstream ColumnVector reader with an
        # IllegalStateException instead of behaving like data
        # (r11 robustness sweep)
        StructField("asset_id", IntegerType(), True),
        StructField("media_type", StringType(), True),
        StructField("n_bytes", IntegerType(), True),
        StructField("content_hash", StringType(), True),
        StructField("mean_byte", DoubleType(), True),  # null on decode error
        StructField("decode_status", StringType(), True),
    ]
)


def _decode_image_stub(content: bytes) -> dict:
    """Byte-level 'decode' for the feature stage: raw-byte statistics only
    (no pixel fabrication needed).  Raises on empty content (exercises the
    per-row error channel)."""
    if not content:
        raise ValueError("empty asset: nothing to decode")
    return {
        "mean_byte": float(sum(content) / len(content)),
    }


def extract_features(assets: DataFrame) -> DataFrame:
    """Decode + feature-extract every asset via Arrow-batched mapInPandas.

    Per-row decode failures are captured in ``decode_status`` instead of
    failing the task — at 100 TB a single corrupt file must not kill a
    stage."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {
                "asset_id": pdf["asset_id"],
                "media_type": pdf["media_type"],
                # NULL content is a missing asset, not a task killer:
                # NULL features + an error status, same per-row error
                # philosophy as a corrupt asset (r11 robustness sweep —
                # .map(len) on None aborted the whole Arrow batch)
                "n_bytes": pdf["content"].map(
                    lambda b: None if b is None else len(b)
                ),
                "content_hash": pdf["content"].map(
                    lambda b: None if b is None else hashlib.md5(bytes(b)).hexdigest()
                ),
            }
            means, statuses = [], []
            for content in pdf["content"]:
                if content is None:
                    means.append(None)
                    statuses.append("error: missing content")
                    continue
                try:
                    raw = bytes(content)
                    if raw[:8] == PNG_SIGNATURE:
                        # r15: REAL pixels for the PNG quarter — IDAT
                        # inflate + unfilter (PngCodec, stdlib zlib);
                        # mean over decoded pixel values, and a corrupt/
                        # truncated PNG lands in the error channel
                        # instead of fabricating statistics.
                        import zlib  # noqa: PLC0415

                        try:
                            arr = PngCodec().decode(raw)
                        except zlib.error as e:  # bad IDAT stream
                            raise ValueError(f"bad PNG deflate: {e}") from e
                        means.append(float(arr.mean()))
                    else:
                        feat = _decode_image_stub(raw)
                        means.append(feat["mean_byte"])
                    statuses.append("ok")
                except (ValueError, NotImplementedError) as e:
                    means.append(None)
                    statuses.append(f"error: {e}")
            out["mean_byte"] = means
            out["decode_status"] = statuses
            yield pd.DataFrame(out)

    return assets.mapInPandas(_batches, schema=FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Binary-column expressions (r13 verdict task 2): JVM-side, whole-stage-
# codegen byte arithmetic over opaque `binary` content — magic-number
# container sniffing and image-dims-from-header parsing.  These are the
# metadata-extraction half of the multimodal pillar that needs NO codec
# at all: at 100 TB the type/dims/hash profile of an asset lake is
# computed from the first bytes of each object, never a full decode, so
# it must stay out of Python entirely (pyspark.sql.functions only).
# ---------------------------------------------------------------------------

#: Container magic numbers (public file-format specs).
PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"  # PNG spec §5.2, 8 bytes
RIFF_MAGIC = b"RIFF"  # WAV: RIFF container, bytes 1-4
WAVE_FORM = b"WAVE"  # WAV form type, bytes 9-12
FTYP_BOX = b"ftyp"  # MP4/ISO-BMFF: first box type, bytes 5-8
PDF_MAGIC = b"%PDF-"  # PDF header, bytes 1-5


def be32(col) -> "F.Column":
    """Pack an int column into 4 big-endian bytes (binary), codegen-side:
    wrap mod 2^32 → hex → zero-pad to 8 nibbles → unhex.  The pmod mask
    (r14 ADVICE item 3) makes out-of-range and negative inputs wrap to
    their two's-complement field value instead of being silently
    corrupted — ``lpad`` TRUNCATES a too-long hex string to its FIRST n
    chars, which would keep the high-order nibbles."""
    return F.unhex(F.lpad(F.hex(F.pmod(col.cast("long"), F.lit(1 << 32))), 8, "0"))


def read_be32(content, pos: int) -> "F.Column":
    """Parse the 4 bytes at 1-indexed ``pos`` as a big-endian unsigned
    int (codegen: binary slice → hex → base-16 conv)."""
    return F.conv(F.hex(F.substring(content, pos, 4)), 16, 10).cast("int")


def pack_png_header(width, height) -> "F.Column":
    """A well-formed PNG signature + IHDR prefix with the given dims:
    signature (8B) · IHDR length 13 (4B) · 'IHDR' (4B) · width BE32 ·
    height BE32 — dims land at byte offsets 17-24 exactly as in a real
    PNG, so :func:`png_width`/``png_height`` parse genuine files too."""
    return F.concat(
        F.lit(PNG_SIGNATURE), be32(F.lit(13)), F.lit(b"IHDR"), be32(width), be32(height)
    )


def is_png(content) -> "F.Column":
    return F.substring(content, 1, 8) == F.lit(PNG_SIGNATURE)


def png_width(content) -> "F.Column":
    """IHDR width (bytes 17-20, big-endian); NULL for non-PNG content
    AND for content too short to hold the IHDR dims (r14 ADVICE item 1:
    an intact signature on a <24-byte truncated file would otherwise
    parse a short hex slice into a garbage non-NULL value — the
    maintained ``corpus_assets`` path has no query-level length guard,
    so the floor must live in the parser)."""
    return F.when(is_png(content) & (F.length(content) >= 24), read_be32(content, 17))


def png_height(content) -> "F.Column":
    """IHDR height (bytes 21-24, big-endian); NULL for non-PNG or
    truncated (<24B) content — see :func:`png_width`."""
    return F.when(is_png(content) & (F.length(content) >= 24), read_be32(content, 21))


def sniff_media_type(content) -> "F.Column":
    """Magic-number container sniff over the first bytes: PNG, WAV
    (RIFF····WAVE), MP4 (····ftyp), PDF, else application/octet-stream
    (NULL content → NULL).  Pure codegen byte compares — the scan reads
    only the leading bytes' worth of work per asset, no Python."""
    return (
        F.when(content.isNull(), F.lit(None).cast("string"))
        .when(is_png(content), F.lit("image/png"))
        .when(
            (F.substring(content, 1, 4) == F.lit(RIFF_MAGIC))
            & (F.substring(content, 9, 4) == F.lit(WAVE_FORM)),
            F.lit("audio/wav"),
        )
        .when(F.substring(content, 5, 4) == F.lit(FTYP_BOX), F.lit("video/mp4"))
        .when(F.substring(content, 1, 5) == F.lit(PDF_MAGIC), F.lit("application/pdf"))
        .otherwise(F.lit("application/octet-stream"))
    )


def read_u8(content, pos: int) -> "F.Column":
    """The byte at 1-indexed ``pos`` as an int (codegen slice → hex →
    conv); NULL-safe (slice past the end yields empty → NULL conv)."""
    return F.conv(F.hex(F.substring(content, pos, 1)), 16, 10).cast("long")


def read_le32(content, pos: int) -> "F.Column":
    """Parse the 4 bytes at 1-indexed ``pos`` as a little-endian
    unsigned int — RIFF/WAV (and most audio/video containers) store
    sizes and rates little-endian, the opposite of PNG's network
    order.  Four byte slices recombined with shifts, all codegen."""
    return (
        read_u8(content, pos)
        + read_u8(content, pos + 1) * F.lit(1 << 8)
        + read_u8(content, pos + 2) * F.lit(1 << 16)
        + read_u8(content, pos + 3) * F.lit(1 << 24)
    ).cast("long")


def read_le16(content, pos: int) -> "F.Column":
    return (read_u8(content, pos) + read_u8(content, pos + 1) * F.lit(1 << 8)).cast(
        "int"
    )


def le16(col) -> "F.Column":
    """Pack an int column into 2 little-endian bytes (binary); input
    wraps mod 2^16 (see :func:`be32` on why the mask must precede
    ``lpad``)."""
    padded = F.lpad(F.hex(F.pmod(col.cast("long"), F.lit(1 << 16))), 4, "0")
    return F.unhex(F.concat(F.substring(padded, 3, 2), F.substring(padded, 1, 2)))


def le32(col) -> "F.Column":
    """Pack an int column into 4 little-endian bytes (binary); input
    wraps mod 2^32."""
    padded = F.lpad(F.hex(F.pmod(col.cast("long"), F.lit(1 << 32))), 8, "0")
    return F.unhex(
        F.concat(
            F.substring(padded, 7, 2),
            F.substring(padded, 5, 2),
            F.substring(padded, 3, 2),
            F.substring(padded, 1, 2),
        )
    )


def pack_wav_header(n_channels, sample_rate) -> "F.Column":
    """A spec-layout WAV prefix: RIFF size placeholder · WAVE · fmt
    chunk (PCM) with channels/rates at their real offsets — channels
    LE16 @23, sample rate LE32 @25, byte rate LE32 @29, block align
    LE16 @33, bits-per-sample LE16 @35 — so the ``wav_*`` parsers below
    read genuine files identically."""
    byte_rate = (sample_rate * n_channels * F.lit(2)).cast("long")
    return F.concat(
        F.lit(RIFF_MAGIC),
        le32(F.lit(0)),  # riff size: unused by the parsers
        F.lit(WAVE_FORM),
        F.lit(b"fmt "),
        le32(F.lit(16)),  # PCM fmt chunk length
        le16(F.lit(1)),  # audio format: PCM
        le16(n_channels),
        le32(sample_rate),
        le32(byte_rate),
        le16((n_channels * F.lit(2)).cast("int")),  # block align
        le16(F.lit(16)),  # bits per sample
    )


#: Total bytes of the pack_wav_header prefix (RIFF..bits-per-sample).
WAV_HEADER_LEN = 36


def is_wav(content) -> "F.Column":
    return (F.substring(content, 1, 4) == F.lit(RIFF_MAGIC)) & (
        F.substring(content, 9, 4) == F.lit(WAVE_FORM)
    )


def wav_channels(content) -> "F.Column":
    return F.when(is_wav(content), read_le16(content, 23))


def wav_sample_rate(content) -> "F.Column":
    return F.when(is_wav(content), read_le32(content, 25))


def wav_byte_rate(content) -> "F.Column":
    return F.when(is_wav(content), read_le32(content, 29))


def asset_metadata_rows(binfiles: DataFrame) -> DataFrame:
    """Silver metadata rows for a ``read_binary_files`` frame: one row
    per object with ``(path, n_bytes, content_hash, media_type, width,
    height)`` — hash for exact dedup, sniffed container type, and
    header-parsed image dims.  The bytes themselves are NOT stored:
    at lake scale the silver table is metadata-only (a few hundred
    bytes/asset), the blobs stay in object storage addressed by path.
    Narrow codegen map over the binary scan; no shuffle, no Python."""
    c = F.col("content")
    return binfiles.select(
        F.col("path"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(c).alias("content_hash"),
        sniff_media_type(c).alias("media_type"),
        png_width(c).alias("width"),
        png_height(c).alias("height"),
    )


# ---------------------------------------------------------------------------
# Real PNG codec (r14 verdict task 4): stdlib-only decode/encode — PNG
# needs nothing beyond zlib (IDAT is a zlib stream; scanline unfilter is
# byte arithmetic), so the PNG quarter of the asset lake gets GENUINE
# pixels (wav/mp4 have no decoder here and keep raw-byte statistics).
# Format reference: the public PNG specification (RFC 2083 / ISO 15948)
# — 8-byte signature, length-type-data-crc chunks, IHDR layout, filter
# types 0-4 with per-byte mod-256 arithmetic.
# ---------------------------------------------------------------------------

#: channels per PNG color type (bit depth 8, non-interlaced).
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class PngCodec:
    """Real PNG decode/encode on stdlib ``zlib`` + numpy.

    ``decode`` parses the chunk stream (IHDR dims/color type — the FILE
    is the truth, not the row's metadata), inflates the
    concatenated IDATs, and unfilters scanlines (all five filter types)
    with mod-256 numpy arithmetic into a ``(h, w, channels)`` uint8
    array.  ``encode`` emits a spec-complete PNG (signature, IHDR,
    filter-0 scanlines deflated into one IDAT, IEND, CRCs) that decodes
    back bit-identically — and that any external viewer can open.

    Supported: bit depth 8, color types 0/2/4/6, non-interlaced — the
    shapes a training-data lake normalizes to.  Palette (3), 16-bit and
    interlaced files raise ``ValueError`` into the per-row error
    channel rather than fabricating pixels.
    """

    def decode(self, content: bytes):
        import zlib

        import numpy as np

        content = bytes(content)
        if not content:
            raise ValueError("empty asset: nothing to decode")
        if content[:8] != PNG_SIGNATURE:
            raise ValueError("not a PNG: bad signature")
        pos, ihdr, idats = 8, None, []
        while pos + 8 <= len(content):
            clen = int.from_bytes(content[pos : pos + 4], "big")
            ctyp = content[pos + 4 : pos + 8]
            data = content[pos + 8 : pos + 8 + clen]
            if len(data) < clen:
                raise ValueError("truncated PNG chunk")
            if ctyp == b"IHDR":
                ihdr = data
            elif ctyp == b"IDAT":
                idats.append(data)
            elif ctyp == b"IEND":
                break
            pos += 12 + clen  # len + type + data + crc
        if ihdr is None or len(ihdr) < 13:
            raise ValueError("PNG missing IHDR")
        w = int.from_bytes(ihdr[0:4], "big")
        h = int.from_bytes(ihdr[4:8], "big")
        depth, color, _comp, _filt, interlace = ihdr[8:13]
        if depth != 8 or interlace != 0 or color not in _PNG_CHANNELS:
            raise ValueError(
                f"unsupported PNG (depth={depth}, color={color}, "
                f"interlace={interlace})"
            )
        ch = _PNG_CHANNELS[color]
        if not idats:
            raise ValueError("PNG missing IDAT")
        raw = np.frombuffer(zlib.decompress(b"".join(idats)), dtype=np.uint8)
        stride = w * ch
        if raw.size != h * (stride + 1):
            raise ValueError("PNG pixel data length mismatch")
        raw = raw.reshape(h, stride + 1)
        filters, lines = raw[:, 0], raw[:, 1:]
        out = np.empty((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        for y in range(h):
            f, line = int(filters[y]), lines[y]
            if f == 0:  # None
                rec = line.copy()
            elif f == 1:  # Sub: uint8 accumulate wraps mod 256 per spec
                rec = np.add.accumulate(
                    line.reshape(w, ch), axis=0, dtype=np.uint8
                ).reshape(stride)
            elif f == 2:  # Up
                rec = line + prev  # uint8 wrap
            elif f == 3:  # Average: sequential in x (needs left pixel)
                rec = np.empty(stride, dtype=np.uint8)
                lp = line.reshape(w, ch).astype(np.int16)
                pp = prev.reshape(w, ch).astype(np.int16)
                left = np.zeros(ch, dtype=np.int16)
                rv = rec.reshape(w, ch)
                for x in range(w):
                    left = (lp[x] + ((left + pp[x]) >> 1)) & 0xFF
                    rv[x] = left
            elif f == 4:  # Paeth: sequential in x
                rec = np.empty(stride, dtype=np.uint8)
                lp = line.reshape(w, ch).astype(np.int16)
                pp = prev.reshape(w, ch).astype(np.int16)
                left = np.zeros(ch, dtype=np.int16)
                ul = np.zeros(ch, dtype=np.int16)
                rv = rec.reshape(w, ch)
                for x in range(w):
                    p = left + pp[x] - ul
                    pa, pb, pc = (
                        np.abs(p - left),
                        np.abs(p - pp[x]),
                        np.abs(p - ul),
                    )
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, pp[x], ul)
                    )
                    left = (lp[x] + pred) & 0xFF
                    rv[x] = left
                    ul = pp[x]
            else:
                raise ValueError(f"unknown PNG filter {f}")
            out[y] = rec
            prev = rec
        return out.reshape(h, w, ch)

    def encode(self, arr) -> bytes:
        import zlib

        import numpy as np

        a = np.ascontiguousarray(arr, dtype=np.uint8)
        if a.ndim == 2:
            a = a[:, :, None]
        if a.ndim != 3:
            raise ValueError(f"expected (h, w[, ch]) array, got shape {arr.shape}")
        h, w, ch = a.shape
        color = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
        if color is None:
            raise ValueError(f"unsupported channel count {ch}")
        ihdr = (
            w.to_bytes(4, "big")
            + h.to_bytes(4, "big")
            + bytes([8, color, 0, 0, 0])
        )
        scan = np.zeros((h, w * ch + 1), dtype=np.uint8)
        scan[:, 1:] = a.reshape(h, w * ch)  # filter byte 0 per line
        idat = zlib.compress(scan.tobytes(), 6)
        return (
            PNG_SIGNATURE
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b"")
        )


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        len(data).to_bytes(4, "big")
        + typ
        + data
        + (zlib.crc32(typ + data) & 0xFFFFFFFF).to_bytes(4, "big")
    )
