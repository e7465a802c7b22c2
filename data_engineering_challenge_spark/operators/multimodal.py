"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched mapInPandas.

North-star extension: image/audio/video columns are `binary` payloads
with struct metadata. The Spark-side plumbing — schema, Arrow batch
shape, partition-parallel UDF execution — is real and oracle-tested.
Decode is REAL for two formats via pure-stdlib codecs: 24-bit BMP
(struct only, r7) and zlib-compressed truecolor PNG (r8, all five
scanline filters + chunk CRCs). Formats that genuinely need external
codec libraries (JPEG/audio/video — absent in this container) route to
:func:`decode_media`'s NotImplementedError gate unless the
deterministic fake decoder is requested.

Scale posture: payloads never leave executors; mapInPandas streams
Arrow batches (spark.sql.execution.arrow.maxRecordsPerBatch controls
batch size → memory per task is bounded regardless of payload sizes);
metadata extraction is embarrassingly parallel with zero shuffle.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from functools import lru_cache

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.text import NORM_SQL as _NORM_SQL
from ..registry import register
from .banding import (
    FP_CHUNK_BITS,
    FP_CHUNKS,
    banded_self_pairs,
    fp_pairs_cte,
    incremental_fp_pairs,
    landing_fp_transform,
)
from .dedup import _INCR_PAIR_FILTER_SQL, is_delta_doc

META_SCHEMA = (
    "doc_id bigint, payload_bytes bigint, payload_md5 string, "
    "fake_width int, fake_height int"
)


def decode_media(payload: bytes, kind: str = "image", fake: bool = False) -> dict:
    """STUB decode step. Real implementation needs PIL/ffmpeg (absent
    here). `fake=True` derives deterministic pseudo-metadata from the
    first bytes so the pipeline shape is testable end-to-end."""
    if not fake:
        raise NotImplementedError(
            f"media decode for kind={kind!r} requires codec libraries "
            "not present in this environment; pass fake=True for the "
            "deterministic test decoder"
        )
    return {
        "fake_width": payload[0] if payload else 0,
        "fake_height": payload[1] if len(payload) > 1 else 0,
    }


def extract_payload_meta(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """mapInPandas metadata extraction over a binary payload column.

    One Arrow-batched pass per partition; the pandas function sees
    pd.Series of bytes objects — the exact shape a real decoder needs.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            metas = [decode_media(p, fake=True) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload_bytes": [len(p) for p in payloads],
                    "payload_md5": [hashlib.md5(p).hexdigest() for p in payloads],
                    "fake_width": [m["fake_width"] for m in metas],
                    "fake_height": [m["fake_height"] for m in metas],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(op, schema=META_SCHEMA)


@register(
    "multimodal_meta",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
               md5(text) AS payload_md5,
               ascii(substr(text, 1, 1)) AS fake_width,
               ascii(substr(text, 2, 1)) AS fake_height
        FROM documents
        ORDER BY doc_id
    """,
    doc="Binary-payload metadata extraction via Arrow mapInPandas: the "
    "documents' text bytes stand in for media payloads; byte length, "
    "md5, and the fake decoder's first-byte metadata are recomputed "
    "relationally by the oracle (ASCII text ⇒ byte i == ascii(char i)).",
    tags=("multimodal", "udf", "extension"),
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return extract_payload_meta(payloads, "doc_id", "payload").orderBy("doc_id")


FRAMES_PER_DOC = 3
FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_md5 string"
RESIZE_SCHEMA = (
    "doc_id bigint, orig_width int, orig_height int, new_width int, new_height int"
)


def sample_frames(df: DataFrame, id_col: str, payload_col: str, n_frames: int) -> DataFrame:
    """Frame sampling over 'video' payloads: one input row → n output
    rows, the 1→N shape a real frame extractor has. The frame decode is
    the deterministic fake (md5 of payload + index); the Spark plumbing
    — mapInPandas emitting more rows than it consumes, bounded Arrow
    batches — is the real thing.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                for i in range(n_frames):
                    ids.append(did)
                    idxs.append(i)
                    hashes.append(
                        hashlib.md5(bytes(payload) + b":" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_md5": hashes})

    return df.select(id_col, payload_col).mapInPandas(op, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Real decode path (round 7): a pure-stdlib 24-bit BMP codec. The
# container ships no PIL/ffmpeg, but uncompressed BMP needs only
# `struct` — so decode → transform → re-encode runs END TO END here,
# not as a stub. Compressed formats (JPEG/PNG/video) still route to
# decode_media's NotImplementedError gate; the Spark-side plumbing is
# identical either way (Arrow-batched mapInPandas, payloads never
# leave executors).


def encode_bmp(width: int, height: int, pix) -> bytes:
    """Encode a 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up
    rows, 4-byte row padding). `pix(x, y) -> (b, g, r)`."""
    import struct

    row_size = (3 * width + 3) // 4 * 4
    img_size = row_size * height
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up storage order
        row = bytearray()
        for x in range(width):
            b, g, r = pix(x, y)
            row += bytes((b, g, r))
        row += b"\x00" * (row_size - 3 * width)
        rows.append(bytes(row))
    return header + info + b"".join(rows)


def decode_bmp(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode a 24-bit uncompressed BMP to (width, height, grid) with
    grid[y][x] = (b, g, r), y=0 at the top."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    width = struct.unpack_from("<i", payload, 18)[0]
    height = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    row_size = (3 * width + 3) // 4 * 4
    grid: list[list[tuple[int, int, int]]] = []
    for y in range(height):
        base = off + (height - 1 - y) * row_size
        grid.append(
            [
                (payload[base + 3 * x], payload[base + 3 * x + 1], payload[base + 3 * x + 2])
                for x in range(width)
            ]
        )
    return width, height, grid


# ---------------------------------------------------------------------------
# PNG codec (round 8): the COMPRESSED-format sibling of the BMP codec.
# The media gate exists because codec *libraries* are absent — but
# zlib is stdlib, and PNG is zlib + per-row filters + CRC-framed
# chunks. Encode cycles all five filter types (None/Sub/Up/Average/
# Paeth) across rows, so a decoder with a broken unfilter path cannot
# round-trip: the audit's pixel sums would diverge from the oracle.

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(width: int, height: int, pix) -> bytes:
    """Encode an 8-bit truecolor (RGB) PNG. `pix(x, y) -> (r, g, b)`.
    Row y uses filter type y % 5 — every unfilter path in decode_png
    is exercised by any image of height >= 5."""
    import struct
    import zlib

    stride = 3 * width
    filtered = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = bytearray()
        for x in range(width):
            r, g, b = pix(x, y)
            row += bytes((r, g, b))
        row = bytes(row)
        ft = y % 5
        if ft == 0:
            out = row
        elif ft == 1:  # Sub
            out = bytes(
                (row[i] - (row[i - 3] if i >= 3 else 0)) & 0xFF for i in range(stride)
            )
        elif ft == 2:  # Up
            out = bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ft == 3:  # Average
            out = bytes(
                (row[i] - (((row[i - 3] if i >= 3 else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            out = bytes(
                (
                    row[i]
                    - _paeth(
                        row[i - 3] if i >= 3 else 0,
                        prev[i],
                        prev[i - 3] if i >= 3 else 0,
                    )
                )
                & 0xFF
                for i in range(stride)
            )
        filtered += bytes((ft,)) + out
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode an 8-bit truecolor PNG to (width, height, grid) with
    grid[y][x] = (r, g, b). Verifies chunk CRCs; implements all five
    scanline unfilters."""
    import struct
    import zlib

    if payload[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(PNG_SIG)
    idat = bytearray()
    width = height = None
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {typ!r} chunk")
        if typ == b"IHDR":
            width, height, depth, ctype, comp, filt, ilace = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, ctype, comp, filt, ilace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    f"unsupported PNG: depth={depth} color={ctype} interlace={ilace}"
                )
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = 3 * width
    grid: list[list[tuple[int, int, int]]] = []
    prev = bytearray(stride)
    for y in range(height):
        ft = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ft == 1:  # Sub
            for i in range(stride):
                line[i] = (line[i] + (line[i - 3] if i >= 3 else 0)) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                line[i] = (
                    line[i] + (((line[i - 3] if i >= 3 else 0) + prev[i]) >> 1)
                ) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                line[i] = (
                    line[i]
                    + _paeth(
                        line[i - 3] if i >= 3 else 0,
                        prev[i],
                        prev[i - 3] if i >= 3 else 0,
                    )
                ) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown filter type {ft}")
        grid.append(
            [tuple(line[3 * x : 3 * x + 3]) for x in range(width)]
        )
        prev = line
    return width, height, grid


def resize_nearest(
    width: int, height: int, grid: list, scale: float = 0.5
) -> tuple[int, int, list]:
    """Nearest-neighbor resize; output dims floor-scaled with a 1px
    minimum."""
    nw = max(1, int(width * scale))
    nh = max(1, int(height * scale))
    ngrid = [
        [
            grid[min(height - 1, int(y / scale))][min(width - 1, int(x / scale))]
            for x in range(nw)
        ]
        for y in range(nh)
    ]
    return nw, nh, ngrid


def resize_media(df: DataFrame, id_col: str, payload_col: str, scale: float = 0.5) -> DataFrame:
    """Resize stage over binary payloads. BMP payloads (b'BM' magic)
    and PNG payloads (PNG signature) take the REAL path: stdlib decode
    → nearest-neighbor resize → re-encode → re-decode, so the reported
    dimensions come from actual pixel work. Other formats fall back to
    the deterministic fake decoder (codec libraries absent in this
    container)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ow, oh, nws, nhs = [], [], [], []
            for p in pdf[payload_col]:
                p = bytes(p)
                codec = (
                    (decode_bmp, encode_bmp)
                    if p[:2] == b"BM"
                    else (decode_png, encode_png)
                    if p[: len(PNG_SIG)] == PNG_SIG
                    else None
                )
                if codec:
                    dec, enc = codec
                    w, h, grid = dec(p)
                    nw, nh, ngrid = resize_nearest(w, h, grid, scale)
                    # re-encode and re-decode: the reported dims are
                    # read back out of the resized FILE, proving the
                    # round trip, not echoing the arithmetic
                    rw, rh, _ = dec(enc(nw, nh, lambda x, y: ngrid[y][x]))
                    ow.append(w), oh.append(h), nws.append(rw), nhs.append(rh)
                else:
                    m = decode_media(p, fake=True)
                    ow.append(m["fake_width"]), oh.append(m["fake_height"])
                    nws.append(int(m["fake_width"] * scale))
                    nhs.append(int(m["fake_height"] * scale))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "orig_width": ow,
                    "orig_height": oh,
                    "new_width": nws,
                    "new_height": nhs,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(op, schema=RESIZE_SCHEMA)


BMP_AUDIT_SCHEMA = (
    "doc_id bigint, width int, height int, new_width int, new_height int, "
    "pixel_sum bigint"
)


@register(
    "bmp_roundtrip_audit",
    oracle="""
        WITH dims AS (
            SELECT doc_id,
                   CAST(1 + doc_id % 16 AS INT) AS width,
                   CAST(1 + (doc_id // 16) % 16 AS INT) AS height
            FROM documents
        ),
        rdims AS (
            SELECT doc_id, width, height,
                   CAST(GREATEST(1, width // 2) AS INT) AS new_width,
                   CAST(GREATEST(1, height // 2) AS INT) AS new_height
            FROM dims
        ),
        ex AS (
            SELECT doc_id, width, height, new_width, new_height,
                   unnest(range(0, new_width)) AS x
            FROM rdims
        ),
        ey AS (
            SELECT doc_id, width, height, new_width, new_height, x,
                   unnest(range(0, new_height)) AS y
            FROM ex
        )
        SELECT doc_id, width, height, new_width, new_height,
               CAST(SUM((doc_id + 6 * x + 14 * y) % 256
                      + (doc_id + 10 * x + 22 * y) % 256
                      + (doc_id + 2 * x + 26 * y) % 256) AS BIGINT)
                   AS pixel_sum
        FROM ey
        GROUP BY doc_id, width, height, new_width, new_height
        ORDER BY doc_id
    """,
    doc="END-TO-END image decode audit on the pure-stdlib BMP codec: "
    "per doc, synthesize a real 24-bit BMP (dims and pixels derived "
    "from doc_id), DECODE it, nearest-neighbor resize 0.5x, re-encode, "
    "re-decode, and report the dimensions plus the BGR pixel sum of "
    "the re-decoded resized file. Every reported value has passed "
    "through actual BMP bytes twice (padding, bottom-up rows, header "
    "offsets), while staying relationally replayable: resized pixel "
    "(x,y) is source pixel (2x,2y), so the oracle reproduces the sum "
    "from the generation formula alone. Arrow-batched mapInPandas, "
    "zero shuffle, payloads never leave executors.",
    tags=("multimodal", "udf", "extension"),
)
def bmp_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread_scan

    # r10: the per-doc codec pass is compute-dense Python; the
    # single-file test scan ran it on ONE task (see spread_scan)
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "width": [], "height": [],
                "new_width": [], "new_height": [], "pixel_sum": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 1 + did % 16, 1 + (did // 16) % 16

                def pix(x: int, y: int, _d: int = did) -> tuple[int, int, int]:
                    return (
                        (_d + 3 * x + 7 * y) % 256,
                        (_d + 5 * x + 11 * y) % 256,
                        (_d + x + 13 * y) % 256,
                    )

                payload = encode_bmp(w, h, pix)
                dw, dh, grid = decode_bmp(payload)
                nw, nh, ngrid = resize_nearest(dw, dh, grid, 0.5)
                rw, rh, rgrid = decode_bmp(
                    encode_bmp(nw, nh, lambda x, y: ngrid[y][x])
                )
                out["doc_id"].append(did)
                out["width"].append(dw)
                out["height"].append(dh)
                out["new_width"].append(rw)
                out["new_height"].append(rh)
                out["pixel_sum"].append(
                    sum(c for row in rgrid for px_ in row for c in px_)
                )
            yield pd.DataFrame(out)

    return (
        d.select("doc_id").mapInPandas(op, schema=BMP_AUDIT_SCHEMA).orderBy("doc_id")
    )


PNG_AUDIT_SCHEMA = (
    "doc_id bigint, width int, height int, new_width int, new_height int, "
    "pixel_sum bigint"
)


def _png_audit_columns(doc_ids) -> dict[str, list]:
    """Per-doc synthesize→decode→resize→re-encode→re-decode loop shared
    by the pandas and Arrow batch adapters (the codec IS the cost; the
    adapters differ only in batch (de)serialization)."""
    out: dict[str, list] = {
        "doc_id": [], "width": [], "height": [],
        "new_width": [], "new_height": [], "pixel_sum": [],
    }
    for did in doc_ids:
        did = int(did)
        w, h = 1 + did % 13, 5 + (did // 13) % 12

        def pix(x: int, y: int, _d: int = did) -> tuple[int, int, int]:
            return (
                (_d + 3 * x + 7 * y) % 256,
                (_d + 5 * x + 11 * y) % 256,
                (_d + x + 13 * y) % 256,
            )

        payload = encode_png(w, h, pix)
        dw, dh, grid = decode_png(payload)
        nw, nh, ngrid = resize_nearest(dw, dh, grid, 0.5)
        rw, rh, rgrid = decode_png(encode_png(nw, nh, lambda x, y: ngrid[y][x]))
        out["doc_id"].append(did)
        out["width"].append(dw)
        out["height"].append(dh)
        out["new_width"].append(rw)
        out["new_height"].append(rh)
        out["pixel_sum"].append(sum(c for row in rgrid for px_ in row for c in px_))
    return out



@register(
    "png_roundtrip_audit",
    oracle="""
        WITH dims AS (
            SELECT doc_id,
                   CAST(1 + doc_id % 13 AS INT) AS width,
                   CAST(5 + (doc_id // 13) % 12 AS INT) AS height
            FROM documents
        ),
        rdims AS (
            SELECT doc_id, width, height,
                   CAST(GREATEST(1, width // 2) AS INT) AS new_width,
                   CAST(GREATEST(1, height // 2) AS INT) AS new_height
            FROM dims
        ),
        ex AS (
            SELECT doc_id, width, height, new_width, new_height,
                   unnest(range(0, new_width)) AS x
            FROM rdims
        ),
        ey AS (
            SELECT doc_id, width, height, new_width, new_height, x,
                   unnest(range(0, new_height)) AS y
            FROM ex
        )
        SELECT doc_id, width, height, new_width, new_height,
               CAST(SUM((doc_id + 6 * x + 14 * y) % 256
                      + (doc_id + 10 * x + 22 * y) % 256
                      + (doc_id + 2 * x + 26 * y) % 256) AS BIGINT)
                   AS pixel_sum
        FROM ey
        GROUP BY doc_id, width, height, new_width, new_height
        ORDER BY doc_id
    """,
    doc="END-TO-END decode audit on the COMPRESSED stdlib codec: per "
    "doc, synthesize a real zlib-compressed PNG (dims/pixels derived "
    "from doc_id; heights >= 5 so the per-row filter cycle exercises "
    "ALL FIVE unfilter paths — None/Sub/Up/Average/Paeth), decode it, "
    "nearest-neighbor resize 0.5x, re-encode, re-decode, and report "
    "dims plus the RGB pixel sum of the re-decoded file. A broken "
    "unfilter, CRC, or inflate path cannot produce the oracle's "
    "formula-derived sums (compressed byte COUNTS are deliberately not "
    "compared: zlib output is library-version-dependent, pixel VALUES "
    "are not). Arrow-batched mapInPandas, zero shuffle.",
    tags=("multimodal", "udf", "extension"),
)
def png_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RecordBatch-native (mapInArrow). Against a mapInPandas bridge the
    # difference is noise-level (CODEC_BENCH_r09.json: best-of-3 ratio
    # 1.03x at sf0.1, 0.96x at sf1) because the zlib codec dominates
    # the batch adapter; Arrow keeps one fewer conversion layer and no
    # pandas in the hot loop.
    import pyarrow as pa

    from ..catalog import spread_scan

    # zlib encode/decode per doc is compute-dense Python; a single-file
    # scan would run it on ONE task (see spread_scan)
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    out_schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("width", pa.int32()),
            ("height", pa.int32()),
            ("new_width", pa.int32()),
            ("new_height", pa.int32()),
            ("pixel_sum", pa.int64()),
        ]
    )

    def op(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            cols = _png_audit_columns(batch.column(0).to_pylist())
            yield pa.RecordBatch.from_pydict(cols, schema=out_schema)

    return (
        d.select("doc_id").mapInArrow(op, schema=PNG_AUDIT_SCHEMA).orderBy("doc_id")
    )


@register(
    "multimodal_frames",
    oracle=f"""
        SELECT doc_id, CAST(i AS INT) AS frame_idx,
               md5(text || ':' || CAST(i AS VARCHAR)) AS frame_md5
        FROM documents, range(0, {FRAMES_PER_DOC}) r(i)
        ORDER BY doc_id, frame_idx
    """,
    doc="Frame sampling (1 row → 3 frame rows) via mapInPandas over "
    "binary payloads; the oracle recomputes the deterministic fake "
    "frame hashes relationally (payload bytes == UTF-8 text bytes).",
    tags=("multimodal", "udf", "extension"),
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return sample_frames(payloads, "doc_id", "payload", FRAMES_PER_DOC).orderBy(
        "doc_id", "frame_idx"
    )


USER_TREND_SCHEMA = "user_id bigint, n bigint, slope double"


def user_value_trend(df: DataFrame, min_points: int = 2) -> DataFrame:
    """applyInPandas grouped-map: per-user OLS slope of value over
    time — the custom-Python-stat-per-group shape (a real pipeline
    fits per-group models here). Each group arrives as one pandas
    frame; the slope uses the closed-form sum formula so the oracle
    (SQL regr_slope) computes the same expression.
    """

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < min_points:
            return pd.DataFrame({"user_id": pdf["user_id"].iloc[:1], "n": [n], "slope": [None]})
        x = pdf["x"].astype("float64")
        y = pdf["value"].astype("float64")
        sx, sy = x.sum(), y.sum()
        sxy, sxx = (x * y).sum(), (x * x).sum()
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        return pd.DataFrame({"user_id": pdf["user_id"].iloc[:1], "n": [n], "slope": [slope]})

    return df.groupBy("user_id").applyInPandas(fit, schema=USER_TREND_SCHEMA)


@register(
    "user_value_trend",
    oracle="""
        SELECT user_id,
               COUNT(*) AS n,
               round(regr_slope(value, epoch(ts)), 6) + 0.0 AS slope
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    doc="Per-group custom model fit via applyInPandas (grouped-map "
    "pandas UDF): OLS slope of event value over time per user, checked "
    "against SQL regr_slope. Rounded to 6 decimals on both sides — the "
    "two engines accumulate the same closed-form sums in different "
    "orders.",
    tags=("udf", "extension"),
)
def user_value_trend_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # timestamp → fractional epoch seconds (microsecond-exact, matching
    # DuckDB's epoch(); unix_timestamp would truncate to whole seconds)
    pts = e.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("double").alias("x"),
        F.col("value"),
    )
    # grouped-map tasks pay a fixed Python-worker + Arrow-stream cost;
    # with O(100) small groups, fewer/fatter tasks win (hash
    # partitioning on the key at ANY partition count satisfies the
    # required clustering, so no second shuffle). A cluster-scale run
    # with millions of groups raises this.
    n_cpus = max(2, (os.cpu_count() or 8) // 4)
    out = user_value_trend(pts.repartition(n_cpus, "user_id"))
    # + 0.0 canonicalizes IEEE -0.0 (a slope rounding to zero keeps its
    # sign otherwise, and the two engines can disagree on it)
    return out.select(
        "user_id", "n", (F.round("slope", 6) + F.lit(0.0)).alias("slope")
    ).orderBy("user_id")


def extract_payload_meta_arrow(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """mapInArrow twin of :func:`extract_payload_meta`: the same
    metadata pass staying in pyarrow RecordBatches end to end — no
    pandas materialization, no copy of the binary payloads into Python
    objects until the per-row decode itself. For wide binary columns
    this halves peak batch memory vs the pandas bridge; semantics are
    asserted identical in tests."""
    import pyarrow as pa

    def op(batches):
        for batch in batches:
            ids = batch.column(0)
            payloads = batch.column(1)
            raw = [p.as_py() for p in payloads]
            metas = [decode_media(p, fake=True) for p in raw]
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array([len(p) for p in raw], type=pa.int64()),
                    pa.array([hashlib.md5(p).hexdigest() for p in raw]),
                    pa.array([m["fake_width"] for m in metas], type=pa.int32()),
                    pa.array([m["fake_height"] for m in metas], type=pa.int32()),
                ],
                names=["doc_id", "payload_bytes", "payload_md5", "fake_width", "fake_height"],
            )

    return df.select(id_col, payload_col).mapInArrow(op, schema=META_SCHEMA)


# ---------------------------------------------------------------------------
# WAV codec (round 8): the AUDIO sibling of the BMP/PNG codecs. RIFF
# framing + 16-bit little-endian PCM is pure `struct` — no codec
# library involved — so the decode -> resample -> re-encode path is
# REAL bytes end-to-end while the brief's env gate stays honest for
# genuinely compressed audio (mp3/aac remain NotImplementedError via
# decode_media).


def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Encode mono 16-bit PCM WAV (RIFF/WAVE, fmt + data chunks)."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, list[int]]:
    """Decode mono 16-bit PCM WAV to (sample_rate, samples). Walks the
    chunk list (chunks are word-aligned), so encoders that emit extra
    chunks (LIST/fact) still parse."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        typ = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + size > len(payload):
            # a declared chunk size past the buffer would silently
            # truncate body and then struct.unpack's element count no
            # longer matches the slice — surface the documented error
            raise ValueError("truncated chunk")
        body = payload[pos + 8 : pos + 8 + size]
        if typ == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if (audio_fmt, channels, bits) != (1, 1, 16):
                raise ValueError(
                    f"unsupported WAV: fmt={audio_fmt} ch={channels} bits={bits}"
                )
        elif typ == b"data":
            samples = list(struct.unpack(f"<{size // 2}h", body[: size // 2 * 2]))
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return rate, samples


def resample_nearest(samples: list[int], ratio: float = 0.5) -> list[int]:
    """Nearest-neighbor downsample: output i takes input floor(i/ratio)
    (the 1-D twin of resize_nearest: out[i] = in[2*i] at ratio 0.5)."""
    n = max(1, int(len(samples) * ratio))
    step = len(samples) / n
    return [samples[int(i * step)] for i in range(n)]


WAV_AUDIT_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples int, new_rate int, "
    "new_n_samples int, abs_sum bigint, peak bigint"
)


@register(
    "wav_roundtrip_audit",
    oracle="""
        WITH params AS (
            SELECT doc_id,
                   CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
                   CAST(16 + doc_id % 241 AS INT) AS n_samples,
                   257 + doc_id % 64 AS step
            FROM documents
        ),
        ex AS (
            SELECT doc_id, sample_rate, n_samples, step,
                   unnest(range(0, n_samples // 2)) AS i
            FROM params
        ),
        vals AS (
            SELECT doc_id, sample_rate, n_samples,
                   (doc_id * 131 + (2 * i) * step) % 65536 - 32768 AS s
            FROM ex
        )
        SELECT doc_id, sample_rate, n_samples,
               CAST(sample_rate // 2 AS INT) AS new_rate,
               CAST(n_samples // 2 AS INT) AS new_n_samples,
               CAST(SUM(ABS(s)) AS BIGINT) AS abs_sum,
               CAST(MAX(ABS(s)) AS BIGINT) AS peak
        FROM vals
        GROUP BY doc_id, sample_rate, n_samples
        ORDER BY doc_id
    """,
    doc="END-TO-END audio decode audit on the pure-stdlib WAV codec: "
    "per doc, synthesize a real mono 16-bit PCM WAV (rate, length and "
    "an integer sawtooth waveform derived from doc_id), DECODE it, "
    "nearest-neighbor downsample 0.5x, re-encode at half the rate, "
    "re-decode, and report the rates/lengths plus abs-sum and peak of "
    "the re-decoded samples. Every value passes through actual RIFF "
    "bytes twice (chunk walk, word alignment, int16 packing), while "
    "staying relationally replayable: resampled sample i is source "
    "sample 2i, an integer formula the oracle reproduces. Arrow-"
    "batched mapInPandas, zero shuffle, payloads never leave executors.",
    tags=("multimodal", "udf", "extension"),
)
def wav_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import spread_scan

    # r10: the per-doc codec pass is compute-dense Python; the
    # single-file test scan ran it on ONE task (see spread_scan)
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "sample_rate": [], "n_samples": [],
                "new_rate": [], "new_n_samples": [], "abs_sum": [], "peak": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                rate = 8000 + (did % 4) * 4000
                n = 16 + did % 241
                step = 257 + did % 64
                wave = [(did * 131 + i * step) % 65536 - 32768 for i in range(n)]
                drate, dsamples = decode_wav(encode_wav(rate, wave))
                down = resample_nearest(dsamples, 0.5)
                rrate, rsamples = decode_wav(encode_wav(drate // 2, down))
                out["doc_id"].append(did)
                out["sample_rate"].append(drate)
                out["n_samples"].append(len(dsamples))
                out["new_rate"].append(rrate)
                out["new_n_samples"].append(len(rsamples))
                out["abs_sum"].append(sum(abs(s) for s in rsamples))
                out["peak"].append(max(abs(s) for s in rsamples))
            yield pd.DataFrame(out)

    return (
        d.select("doc_id").mapInPandas(op, schema=WAV_AUDIT_SCHEMA).orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Media near-dup detection: the stage that CONNECTS the real stdlib
# codecs above to the banded-Hamming dedup machinery
# (operators/banding.py) — the image (pHash) and audio (wavhash)
# near-duplicate detectors every production multimodal corpus pipeline
# runs before training. No reference analogue (the reference is
# text/tabular only); north-star extension per SURVEY.md §7.4.
#
# Both kinds share one corpus model and one hash shape; an FpKind
# (below) holds only what differs — the codec and the oracle's replay
# of it. Docs come in groups of FP_GROUP sharing a base content: v0 the
# original, v1 a resized/resampled copy (the planted Hamming-0 pin),
# v2 a 2-value-perturbed copy (small-but-nonzero Hamming), v3 unrelated
# content (the precision foil). The hash is an average threshold over
# FP_BITS per-cell features: bit i iff FP_BITS * x_i > sum(x). 60 bits,
# not 64, so the fingerprint fits a signed BIGINT exactly in both
# engines (same reasoning as SIMHASH_BITS); 4x15-bit chunk banding is
# pigeonhole-complete for Hamming <= FP_MAX_HAMMING.
#
# Scale posture (100 TB): the per-doc synth→decode→hash runs in one
# Arrow-batched mapInPandas pass (payloads never leave executors); the
# only shuffle is the 4-rows-per-doc band table keyed on (c, chunk),
# with the Hamming verify inside the band join (banding.banded_self_pairs).
# The nightly lifecycle keeps a frozen versioned index (sinks/versioned.py)
# of ONE 16-byte (doc_id, fp) row per corpus doc: the corpus side of the
# nightly dedup is a fingerprint-table scan, never a decode; only the
# delta pays the synth/decode/hash pass.

FP_GROUP = 4  # docs per synthetic dup group (bounds pairs linearly)
FP_BITS = FP_CHUNKS * FP_CHUNK_BITS  # 60
FP_MAX_HAMMING = 3
_FOIL_CID = 1_000_000_007  # v3's content id offset (unrelated content)
FP_SCHEMA = "doc_id bigint, fp bigint"


def _doc_content(doc_id: int) -> tuple[int, int]:
    """(content id, variant) of a doc under the FP_GROUP corpus model."""
    g, v = divmod(doc_id, FP_GROUP)
    return (g + _FOIL_CID if v == 3 else g), v


def _average_bits(xs: list[int]) -> int:
    """Bit i set iff FP_BITS * xs[i] > sum(xs) — integer arithmetic,
    bit-identical to the oracle's threshold CTE."""
    total = sum(xs)
    fp = 0
    for i, x in enumerate(xs):
        if FP_BITS * x > total:
            fp |= 1 << i
    return fp


# -- image: average-hash over a 60-cell luma grid of a real 24-bit BMP

PHASH_BASE = 16          # base image is 16x16 — a multiple of 8, so every
#                          integer upscale samples back to the SAME 8x8 grid
PHASH_SCALES = (1, 2, 1, 1)  # per-variant upscale: v1 is a 2x resized copy


def _phash_base_pixel(cid: int, i: int, j: int) -> tuple[int, int, int]:
    """(r, g, b) of base-image pixel (i, j) for content id `cid` —
    md5-derived so distinct contents give independent hashes (a linear
    formula would repeat mod 256 and mint giant cross-group dup
    clusters, the quadratic blowup the group structure exists to
    avoid). The oracle replays the same hex slices relationally."""
    h = hashlib.md5(f"px:{cid}:{i}:{j}".encode()).hexdigest()
    return int(h[0:2], 16), int(h[2:4], 16), int(h[4:6], 16)


@lru_cache(maxsize=4096)
def _phash_base_grid(cid: int) -> tuple:
    """Memoized base-image grid (grid[j][i] = (r,g,b)): the 3-4 docs of
    a group share 256 md5-derived pixels, and partition-ordered doc_ids
    make the per-worker hit rate ~3/4 of base-grid computations."""
    return tuple(
        tuple(_phash_base_pixel(cid, i, j) for i in range(PHASH_BASE))
        for j in range(PHASH_BASE)
    )


@lru_cache(maxsize=4096)
def _phash_grid_rows(cid: int) -> tuple[bytes, ...]:
    """Per-row BGR byte strings of the 16x16 base image — the encode
    path's unit of work. Building rows as bytes once per cid and
    splicing them is ~10x less Python per doc than a per-pixel encode
    while producing byte-identical BMPs (pinned by the roundtrip test)."""
    return tuple(
        b"".join(bytes((b_, g_, r_)) for (r_, g_, b_) in row)
        for row in _phash_base_grid(cid)
    )


def _phash_doc_image(doc_id: int) -> tuple[int, int, bytes]:
    """Synthesize the doc's image as REAL 24-bit BMP bytes: v1 is a 2x
    nearest-neighbor resized copy (same 8x8 grid, Hamming 0), v2 has
    two sampled pixels blown to white/black (pairs only if the mean
    shift flips <= 3 grid bits). Returns (W, H, bmp).

    Byte-identical to encode_bmp over the per-pixel grid (pinned by
    test_phash), but assembled from cached per-row BGR byte strings:
    nearest-neighbor upscale is pixel-block repetition within a row
    plus row repetition, both bytes-level splices."""
    import struct

    cid, v = _doc_content(doc_id)
    s = PHASH_SCALES[v]
    rows = list(_phash_grid_rows(cid))
    if v == 2:
        r0 = bytearray(rows[0])
        r0[0:3] = b"\xff\xff\xff"  # (i=0, j=0) blown to white
        r0[42:45] = b"\x00\x00\x00"  # (i=14, j=0) blown to black
        rows[0] = bytes(r0)
    if s > 1:
        rows = [
            b"".join(row[i : i + 3] * s for i in range(0, len(row), 3))
            for row in rows
        ]
    w = h = PHASH_BASE * s
    row_size = (3 * w + 3) // 4 * 4
    pad = b"\x00" * (row_size - 3 * w)
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    body = b"".join(rows[y // s] + pad for y in range(h - 1, -1, -1))
    return w, h, header + info + body


def ahash60_of_bmp(payload: bytes) -> int:
    """60-bit average-hash of a BMP payload: read the real bytes
    (header offsets, bottom-up row order, row padding), nearest-
    neighbor sample to 8x8, take integer luma (77r+150g+29b)>>8 per
    cell, and set bit idx=8y+x (idx < 60) iff 60*luma > sum(luma over
    the 60 cells). Integer arithmetic end to end — bit-identical in
    the SQL oracle.

    Samples the 60 needed pixels DIRECTLY at their payload offsets
    instead of materializing the full pixel grid through decode_bmp +
    resize_nearest, which built up to 1024 tuples per doc to read 60 of
    them. Header validation and the sample-coordinate arithmetic
    (int(y/scale) float division) are copied verbatim from
    decode_bmp/resize_nearest; equality with the generic-codec path is
    pinned by test_phash."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    w = struct.unpack_from("<i", payload, 18)[0]
    h = struct.unpack_from("<i", payload, 22)[0]
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    # the direct-offset sampler applies scale=8/w to BOTH axes, which is
    # only the decode_bmp+resize_nearest equivalent for square grids
    # >= 8px; keep malformed inputs loud instead of returning a clamped,
    # silently wrong hash (codec-path strictness)
    if w != h or w < 8:
        raise ValueError(f"ahash60_of_bmp expects a square BMP >= 8px, got {w}x{h}")
    row_size = (3 * w + 3) // 4 * 4
    scale = 8.0 / w
    lumas = []
    for y in range(8):
        sy = min(h - 1, int(y / scale))
        base = off + (h - 1 - sy) * row_size
        for x in range(8):
            if 8 * y + x >= FP_BITS:
                continue
            p = base + 3 * min(w - 1, int(x / scale))
            lumas.append(
                (77 * payload[p + 2] + 150 * payload[p + 1] + 29 * payload[p]) >> 8
            )
    return _average_bits(lumas)


def _phash_feat_ctes(pfx: str) -> str:
    """Oracle replay of the image pixels: {pfx}p -> {pfx}feat(doc_id,
    idx, val = luma of grid cell idx)."""
    return f"""
        {pfx}cells AS (
            SELECT doc_id, cid, v, 8 * y + x AS idx, 2 * x AS i, 2 * y AS j
            FROM {pfx}p, range(0, 8) rx(x), range(0, 8) ry(y)
            WHERE 8 * y + x < {FP_BITS}
        ),
        {pfx}feat AS (
            SELECT doc_id, idx,
                   CASE WHEN v = 2 AND i = 0 AND j = 0 THEN 255
                        WHEN v = 2 AND i = 14 AND j = 0 THEN 0
                        ELSE (77 * ('0x' || substr(m, 1, 2))::INT
                            + 150 * ('0x' || substr(m, 3, 2))::INT
                            + 29 * ('0x' || substr(m, 5, 2))::INT) // 256
                   END AS val
            FROM (
                SELECT doc_id, v, idx, i, j,
                       md5('px:' || CAST(cid AS VARCHAR) || ':'
                           || CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS m
                FROM {pfx}cells
            )
        )"""


# -- audio: average-energy hash over 60 frames of a real mono PCM WAV.
# The production scenario is "the same clip ingested twice at different
# sample rates": a nearest-neighbor-resampled copy has every frame
# energy scaled by the resample ratio, so the average-energy threshold
# is exactly invariant under integer nearest resampling — the 1-D twin
# of the aHash upscale invariance.

WAVHASH_FRAME = 4        # base samples per frame -> 240-sample base clip
WAVHASH_RATES = (8000, 16000, 8000, 8000)  # v1 is the same clip at 2x rate
_WAVHASH_BASE_N = FP_BITS * WAVHASH_FRAME


def _wavhash_base_sample(cid: int, k: int) -> int:
    """int16 sample k of the base clip for content id `cid` —
    md5-derived for the same reason as _phash_base_pixel (independent
    hashes across contents; the oracle replays the hex slice)."""
    h = hashlib.md5(f"au:{cid}:{k}".encode()).hexdigest()
    return int(h[0:4], 16) - 32768


@lru_cache(maxsize=4096)
def _wavhash_base_clip(cid: int) -> tuple:
    """Memoized 240-sample base clip (the _phash_base_grid rule: the
    3-4 docs of a group share it, and partition-ordered doc_ids make
    the per-worker hit rate ~3/4)."""
    return tuple(_wavhash_base_sample(cid, k) for k in range(_WAVHASH_BASE_N))


def _wavhash_doc_audio(doc_id: int) -> tuple[int, bytes]:
    """Synthesize the doc's clip as REAL mono 16-bit PCM WAV bytes: v0
    at 8 kHz, v1 the SAME clip nearest-resampled 2x and stored at
    16 kHz (every frame's energy doubles, Hamming 0), v2 with two
    samples blown to full-scale/silence. Returns (sample_rate,
    wav_bytes)."""
    cid, v = _doc_content(doc_id)
    base = list(_wavhash_base_clip(cid))
    if v == 2:
        base[0] = 32767   # frame 0 energy up
        base[13] = 0      # frame 3 energy down — both at sampled coords
    samples = resample_nearest(base, 2.0) if v == 1 else base
    rate = WAVHASH_RATES[v]
    return rate, encode_wav(rate, samples)


def wavhash60_of_wav(payload: bytes) -> int:
    """60-bit average-energy hash of a WAV payload: DECODE the real
    RIFF bytes, split into FP_BITS equal frames, take the integer
    energy E_f = sum(|sample|) per frame, and set bit f iff FP_BITS *
    E_f > total energy. Integer arithmetic end to end — bit-identical
    in the SQL oracle — and exactly invariant under integer
    nearest-neighbor resampling (E_f scales uniformly)."""
    _, samples = decode_wav(payload)
    flen = len(samples) // FP_BITS
    return _average_bits(
        [
            sum(abs(s) for s in samples[f * flen : (f + 1) * flen])
            for f in range(FP_BITS)
        ]
    )


def _wavhash_feat_ctes(pfx: str) -> str:
    """Oracle replay of the audio clip: {pfx}p -> {pfx}feat(doc_id,
    idx, val = energy of frame idx)."""
    return f"""
        {pfx}s AS (
            SELECT doc_id, v, k, k // {WAVHASH_FRAME} AS f,
                   md5('au:' || CAST(cid AS VARCHAR) || ':'
                       || CAST(k AS VARCHAR)) AS m
            FROM {pfx}p, range(0, {_WAVHASH_BASE_N}) r(k)
        ),
        {pfx}vals AS (
            SELECT doc_id, f,
                   CASE WHEN v = 2 AND k = 0 THEN 32767
                        WHEN v = 2 AND k = 13 THEN 0
                        ELSE ('0x' || substr(m, 1, 4))::INT - 32768
                   END AS sv
            FROM {pfx}s
        ),
        {pfx}feat AS (
            SELECT doc_id, f AS idx, SUM(ABS(sv)) AS val
            FROM {pfx}vals GROUP BY doc_id, f
        )"""


@dataclass(frozen=True)
class FpKind:
    """One media near-dup family. The fields are what pHash and wavhash
    do differently; each lifecycle step is one method shared by both."""

    name: str
    # index snapshot dir prefix: renaming it orphans every built index
    index_prefix: str
    # doc_id -> fingerprint, synthesized and hashed through real codec bytes
    doc_fp: Callable[[int], int]
    # oracle CTEs from {pfx}p(doc_id, cid, v) to {pfx}feat(doc_id, idx, val)
    feat_ctes: Callable[[str], str]

    def pairs_ctes(self, pfx: str = "") -> str:
        """DuckDB replay of the fingerprint table ``{pfx}f(doc_id, fp)``
        and its pair table ``{pfx}pairs(doc_a, doc_b, hamming)``.
        Prefixed so two kinds' chains can coexist in one oracle."""
        return f"""
        {pfx}p AS (
            SELECT doc_id,
                   CASE WHEN doc_id % {FP_GROUP} = 3
                        THEN doc_id // {FP_GROUP} + {_FOIL_CID}
                        ELSE doc_id // {FP_GROUP} END AS cid,
                   doc_id % {FP_GROUP} AS v
            FROM documents
        ),{self.feat_ctes(pfx)},
        {pfx}tot AS (
            SELECT doc_id, SUM(val) AS total FROM {pfx}feat GROUP BY doc_id
        ),
        {pfx}f AS (
            SELECT {pfx}feat.doc_id,
                   CAST(SUM(CASE WHEN {FP_BITS} * val > total
                                 THEN (1::BIGINT << idx) ELSE 0 END) AS BIGINT) AS fp
            FROM {pfx}feat JOIN {pfx}tot USING (doc_id)
            GROUP BY {pfx}feat.doc_id
        ),{fp_pairs_cte(pfx, FP_MAX_HAMMING)}"""

    def fp_of_rows(self, df: DataFrame, id_col: str = "doc_id") -> DataFrame:
        """(doc_id, fp) of an arbitrary doc frame via the synth -> REAL
        decode -> hash pass — streaming-safe (stateless mapInPandas),
        shared by the batch fingerprint pass and the landing filter."""
        doc_fp = self.doc_fp

        def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ids = [int(x) for x in pdf[id_col]]
                yield pd.DataFrame({"doc_id": ids, "fp": [doc_fp(d) for d in ids]})

        return df.select(id_col).mapInPandas(op, schema=FP_SCHEMA)

    def fingerprints(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """(doc_id, fp) of the documents table: one Arrow-batched pass,
        zero shuffle (the spread only redistributes the single-file scan
        at test SFs — a multi-file 100-TB layout is already parallel)."""
        # spread keyed on the dup GROUP: a group's docs land in one
        # partition, so the per-worker base-content lru_cache hits
        return self.fp_of_rows(
            spread_scan(
                load_table(spark, sf_dir, "documents"), spark, f"doc_id div {FP_GROUP}"
            )
        )

    def pairs(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..registry import track_persist

        # persist: the band SELF-join consumes the fingerprint frame
        # twice, and Spark does not CSE across self-join sides —
        # unpersisted, the decode/hash Arrow pass would run once per side
        # (at cluster scale this is the stored-fingerprint stage a
        # production run would write to parquet anyway)
        f_ = track_persist(self.fingerprints(spark, sf_dir))
        return banded_self_pairs(f_, FP_MAX_HAMMING)

    def index_dir(self, sf_dir: str) -> str:
        from ..sinks.versioned import fingerprint_dir

        return fingerprint_dir(sf_dir, "documents", prefix=self.index_prefix)

    def build_index(self, spark: SparkSession, sf_dir: str, table_dir: str) -> int:
        """Fingerprint the corpus slice and publish (doc_id, fp) as a
        versioned snapshot."""
        from ..sinks.versioned import write_corpus_snapshot

        fps = self.fingerprints(spark, sf_dir).filter(~is_delta_doc("doc_id"))
        return write_corpus_snapshot(fps, table_dir)

    def extend_index(self, spark: SparkSession, sf_dir: str, table_dir: str) -> int:
        """Fold the delta batch's fingerprints into snapshot v+1."""
        from ..sinks.versioned import fold_delta_snapshot

        delta = self.fingerprints(spark, sf_dir).filter(is_delta_doc("doc_id"))
        return fold_delta_snapshot(spark, table_dir, delta)

    def incremental_pairs(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return incremental_fp_pairs(
            spark, sf_dir, self.index_dir(sf_dir), self.build_index,
            self.fingerprints, FP_MAX_HAMMING,
        )

    def landing_transform(
        self, spark: SparkSession, sf_dir: str, raw: DataFrame
    ) -> DataFrame:
        """Landing-zone near-dup filter over an arbitrary documents
        stream: arriving delta docs are fingerprinted per row (stateless
        Arrow pass) and probed against the FROZEN index via a
        stream-static band join — 'is this incoming doc a near-dup of
        anything we already hold?'. Stream scope is corpus-delta pairs
        only (delta-delta pairs within the stream are the batch
        incremental_pairs' job — the same stream/batch split
        landing_dedup_transform documents)."""
        return landing_fp_transform(
            spark, sf_dir, raw, self.index_dir(sf_dir), self.build_index,
            self.fp_of_rows, FP_MAX_HAMMING,
        )

    def stream(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """readStream wiring of the landing-zone filter (file-drop
        source; production swaps in kafka options)."""
        from ..streaming.pipelines import _read_parquet_stream

        return self.landing_transform(
            spark, sf_dir, _read_parquet_stream(spark, f"{sf_dir}/documents.parquet")
        )


PHASH = FpKind(
    "phash", "phash2_", lambda d: ahash60_of_bmp(_phash_doc_image(d)[2]), _phash_feat_ctes
)
WAVHASH = FpKind(
    "wavhash", "wavhash2_", lambda d: wavhash60_of_wav(_wavhash_doc_audio(d)[1]),
    _wavhash_feat_ctes,
)
FP_KINDS = (PHASH, WAVHASH)


def _pairs_oracle(kind: FpKind, where: str = "TRUE") -> str:
    return f"""
        WITH {kind.pairs_ctes()}
        SELECT doc_a, doc_b, hamming FROM pairs
        WHERE {where}
        ORDER BY doc_a, doc_b
    """

@register(
    "phash_pairs",
    oracle=_pairs_oracle(PHASH),
    doc="Perceptual-hash image near-dup pairs: per doc, synthesize a "
    "REAL 24-bit BMP (md5-derived pixels; docs come in groups of 4 "
    "sharing a base image — original, 2x nearest-neighbor resized "
    "copy, 2-pixel-perturbed copy, unrelated foil), DECODE the bytes, "
    "nearest-neighbor resize to 8x8, 60-bit luma average-hash "
    "(integer (77r+150g+29b)>>8, bit set iff 60*luma > grid total), "
    "then 4x15-bit chunk banding (pigeonhole-complete for Hamming<=3) "
    "with the popcount verify evaluated inside the band join. The "
    "resized copy reproduces the original's 8x8 grid exactly (base "
    "dims are a multiple of 8), so every (v0,v1) group pair is a "
    "planted Hamming-0 recall pin; the oracle replays pixel "
    "generation, luma, thresholding, banding and popcount "
    "relationally from the same md5 slices — the engine's values have "
    "additionally passed through actual BMP bytes (header offsets, "
    "bottom-up rows, row padding).",
    tags=("multimodal", "dedup", "lsh", "udf", "extension"),
)
def phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return PHASH.pairs(spark, sf_dir)


@register(
    "incremental_phash_pairs",
    oracle=_pairs_oracle(PHASH, _INCR_PAIR_FILTER_SQL),
    doc="Incremental image dedup: the NEW batch's images (incremental "
    "buckets >= 90, the standard salted split) are fingerprinted fresh "
    "(synth -> BMP decode -> 8x8 luma aHash) and probed against the "
    "FROZEN phash index of the other 90% — read back as a 16-byte-row "
    "snapshot scan, never a corpus re-decode. Candidates come from "
    "joining the delta's band rows against the union of index and "
    "delta bands with the Hamming verify inside the join condition; "
    "results are pair-identical to a full-corpus phash_pairs run "
    "restricted to delta-involved pairs, which is what the oracle "
    "replays. Nightly cost is O(delta) decode plus a fingerprint scan.",
    tags=("multimodal", "dedup", "lsh", "incremental", "udf", "extension"),
)
def incremental_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return PHASH.incremental_pairs(spark, sf_dir)


@register(
    "wavhash_pairs",
    oracle=_pairs_oracle(WAVHASH),
    doc="Audio-fingerprint near-dup pairs: per doc, synthesize a REAL "
    "mono 16-bit PCM WAV (md5-derived int16 clip; docs come in groups "
    "of 4 sharing a base clip — original at 8 kHz, the SAME clip "
    "nearest-resampled 2x at 16 kHz, a 2-sample-perturbed copy, an "
    "unrelated foil), DECODE the RIFF bytes, split into 60 equal "
    "frames, 60-bit average-energy hash (bit f set iff 60 * E_f > "
    "total), then the shared 4x15-bit chunk banding (pigeonhole-"
    "complete for Hamming<=3) with the popcount verify inside the band "
    "join. Nearest resampling scales every frame energy uniformly, so "
    "the resampled copy is a planted Hamming-0 recall pin; the oracle "
    "replays clip generation, framing, energies, thresholding, banding "
    "and popcount relationally from the same md5 slices — the engine's "
    "values have additionally passed through actual RIFF bytes (chunk "
    "walk, word alignment, int16 packing) for EVERY variant, including "
    "the 480-sample resampled copy whose doubled energies the oracle "
    "proves out via the invariance, not by re-deriving them.",
    tags=("multimodal", "dedup", "lsh", "udf", "extension"),
)
def wavhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return WAVHASH.pairs(spark, sf_dir)


@register(
    "incremental_wavhash_pairs",
    oracle=_pairs_oracle(WAVHASH, _INCR_PAIR_FILTER_SQL),
    doc="Incremental audio dedup: the NEW batch's clips (incremental "
    "buckets >= 90, the standard salted split) are fingerprinted fresh "
    "(synth -> RIFF decode -> 60-frame energy hash) and probed against "
    "the FROZEN wavhash index of the other 90% — read back as a "
    "16-byte-row snapshot scan, never a corpus re-decode. Candidates "
    "come from joining the delta's band rows against the union of "
    "index and delta bands with the Hamming verify inside the join "
    "condition; results are pair-identical to a full-corpus "
    "wavhash_pairs run restricted to delta-involved pairs, which is "
    "what the oracle replays. Nightly cost is O(delta) decode plus a "
    "fingerprint scan. Shares the generic _fp_index lifecycle with "
    "the image family (build / idempotent extend / landing stream).",
    tags=("multimodal", "dedup", "lsh", "incremental", "udf", "extension"),
)
def incremental_wavhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return WAVHASH.incremental_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# Cross-modal retention: the decision layer above the
# per-modality near-dup detectors. A production corpus pipeline runs
# text, image, and audio dedup side by side and then has to answer ONE
# question per document: does any modality give a reason to drop it?
# This operator materializes that answer — per dropped doc, the
# smallest partner that dominates it and the per-modality evidence
# counts — under the greedy keep-first policy (drop a doc iff it has a
# near-dup partner with a smaller doc_id). Keep-first over pair lists
# is deliberately NOT connected components: Hamming near-duplication
# is not transitive, so a doc is only dropped on DIRECT evidence
# against a surviving-or-smaller doc, never by transitive chains (the
# components-based alternative lives in dedup_clusters /
# dedup_retention_plan for the text family).


@register(
    "multimodal_retention_plan",
    oracle=f"""
        WITH {PHASH.pairs_ctes("i")},
        {WAVHASH.pairs_ctes("au")},
        tn AS (
            SELECT doc_id, md5({_NORM_SQL}) AS cfp FROM documents
        ),
        tt AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY cfp ORDER BY doc_id)
                        - 1 AS BIGINT) AS text_partners,
                   MIN(doc_id) OVER (PARTITION BY cfp) AS text_min
            FROM tn WHERE cfp IS NOT NULL
        ),
        t AS (
            SELECT doc_id, text_partners, text_min
            FROM tt WHERE text_partners > 0
        ),
        img AS (
            SELECT doc_b AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS img_partners,
                   MIN(doc_a) AS img_min
            FROM ipairs GROUP BY doc_b
        ),
        aud AS (
            SELECT doc_b AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS audio_partners,
                   MIN(doc_a) AS audio_min
            FROM aupairs GROUP BY doc_b
        )
        SELECT doc_id,
               LEAST(text_min, img_min, audio_min) AS min_partner,
               COALESCE(text_partners, 0) AS text_partners,
               COALESCE(img_partners, 0) AS img_partners,
               COALESCE(audio_partners, 0) AS audio_partners
        FROM t
        FULL JOIN img USING (doc_id)
        FULL JOIN aud USING (doc_id)
        ORDER BY doc_id
    """,
    doc="Cross-modal retention plan: one row per DROPPED doc under the "
    "greedy keep-first policy — a doc is dropped iff some modality "
    "(exact text fingerprint, image phash pair, audio wavhash pair) "
    "pairs it with a smaller doc_id — reporting the smallest "
    "dominating partner and per-modality evidence counts. Text "
    "evidence is rank-within-exact-fp-group (never a quadratic pair "
    "expansion; NULL-normalized docs are singletons); image/audio "
    "evidence aggregates the banded pair tables by the dropped side. "
    "Keep-first over pair lists is deliberately not transitive "
    "closure: a doc is dropped only on direct Hamming evidence (see "
    "section note). The oracle replays all three evidence chains "
    "relationally from the shared fingerprint CTE builders.",
    tags=("multimodal", "dedup", "extension"),
)
def multimodal_retention_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.text import normalize_text

    # text: rank within exact-content-fp group (partition-bounded
    # window, no global order, no pair expansion)
    d = load_table(spark, sf_dir, "documents")
    tn = d.select(
        "doc_id",
        F.md5(normalize_text(F.col("text")).cast("binary")).alias("cfp"),
    ).filter(F.col("cfp").isNotNull())
    t = (
        tn.select(
            "doc_id",
            (F.row_number().over(Window.partitionBy("cfp").orderBy("doc_id")) - 1)
            .cast("bigint")
            .alias("text_partners"),
            F.min("doc_id").over(Window.partitionBy("cfp")).alias("text_min"),
        )
        .filter(F.col("text_partners") > 0)
    )
    # image / audio: aggregate the banded pair tables by the dropped
    # (greater) side — dropped-doc-sized frames on 8-byte keys
    img = (
        phash_pairs(spark, sf_dir)
        .groupBy("doc_b")
        .agg(
            F.count(F.lit(1)).alias("img_partners"),
            F.min("doc_a").alias("img_min"),
        )
        .withColumnRenamed("doc_b", "doc_id")
    )
    aud = (
        wavhash_pairs(spark, sf_dir)
        .groupBy("doc_b")
        .agg(
            F.count(F.lit(1)).alias("audio_partners"),
            F.min("doc_a").alias("audio_min"),
        )
        .withColumnRenamed("doc_b", "doc_id")
    )
    return (
        t.join(img, "doc_id", "full")
        .join(aud, "doc_id", "full")
        .select(
            "doc_id",
            # least() skips NULLs in both engines (NULL only if all are)
            F.least("text_min", "img_min", "audio_min").alias("min_partner"),
            F.coalesce("text_partners", F.lit(0).cast("bigint")).alias("text_partners"),
            F.coalesce("img_partners", F.lit(0).cast("bigint")).alias("img_partners"),
            F.coalesce("audio_partners", F.lit(0).cast("bigint")).alias("audio_partners"),
        )
        .orderBy("doc_id")
    )


def apply_multimodal_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the kept corpus under the cross-modal keep-first
    policy: documents anti-joined against the plan's drop set (the
    drop set is dropped-doc-sized — the corpus is never widened)."""
    d = load_table(spark, sf_dir, "documents")
    dropped = multimodal_retention_plan(spark, sf_dir).select("doc_id")
    return d.join(dropped, "doc_id", "anti")


@register(
    "multimodal_retention_apply",
    oracle=f"""
        WITH {PHASH.pairs_ctes("i")},
        {WAVHASH.pairs_ctes("au")},
        tn AS (
            SELECT doc_id, md5({_NORM_SQL}) AS cfp FROM documents
        ),
        tt AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (PARTITION BY cfp ORDER BY doc_id) - 1
                       AS text_rank
            FROM tn WHERE cfp IS NOT NULL
        ),
        drops AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_id FROM tt WHERE text_rank > 0
                UNION ALL SELECT doc_b AS doc_id FROM ipairs
                UNION ALL SELECT doc_b AS doc_id FROM aupairs
            )
        )
        SELECT d.source,
               COUNT(*) AS docs_total,
               CAST(COUNT(*) FILTER (WHERE dr.doc_id IS NULL) AS BIGINT)
                   AS docs_kept,
               CAST(COUNT(*) FILTER (WHERE dr.doc_id IS NOT NULL) AS BIGINT)
                   AS docs_dropped,
               CAST(COALESCE(SUM(n_chars) FILTER (WHERE dr.doc_id IS NULL), 0)
                    AS BIGINT) AS chars_kept,
               CAST(COALESCE(SUM(('0x' || substr(md5(text), 1, 15))::BIGINT
                                 ::DECIMAL(38,0))
                             FILTER (WHERE dr.doc_id IS NULL), 0)
                    % 1099511627776 AS BIGINT) AS kept_content_sum
        FROM documents d LEFT JOIN drops dr USING (doc_id)
        GROUP BY d.source ORDER BY d.source
    """,
    doc="The APPLY half of cross-modal retention (closing the "
    "plan→apply loop the other dedup families have): materialize the "
    "kept corpus under the keep-first policy — documents anti-joined "
    "against the plan's drop set — and report, per source, kept/"
    "dropped doc counts, kept chars, and an order-independent content "
    "checksum of the kept set (sum of 60-bit text hashes mod 2^40, "
    "exact decimal accumulation — the dedup_retention_apply pattern): "
    "the checksum pins WHICH docs survived, not just how many. The "
    "oracle replays the drop set from the shared fingerprint CTE "
    "builders plus the text-rank chain.",
    tags=("multimodal", "dedup", "extension"),
)
def multimodal_retention_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    kept = apply_multimodal_retention(spark, sf_dir)
    gh = (
        F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 15), 16, 10)
        .cast("bigint")
        .cast("decimal(38,0)")
    )
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
        (F.coalesce(F.sum(gh), F.lit(0).cast("decimal(38,0)")) % F.lit(1099511627776))
        .cast("bigint")
        .alias("kept_content_sum"),
    )
    totals = d.groupBy("source").agg(F.count(F.lit(1)).alias("docs_total"))
    return (
        totals.join(kept_agg, "source", "left")
        .select(
            "source",
            "docs_total",
            F.coalesce("docs_kept", F.lit(0)).cast("bigint").alias("docs_kept"),
            (F.col("docs_total") - F.coalesce("docs_kept", F.lit(0)))
            .cast("bigint")
            .alias("docs_dropped"),
            F.coalesce("chars_kept", F.lit(0)).cast("bigint").alias("chars_kept"),
            F.coalesce("kept_content_sum", F.lit(0))
            .cast("bigint")
            .alias("kept_content_sum"),
        )
        .orderBy("source")
    )
