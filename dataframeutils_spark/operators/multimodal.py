"""Multimodal (image/audio/video) column plumbing.

North-star operators (SURVEY §2.3): media payloads ride through the
engine as opaque ``binary`` columns with typed metadata — the pattern a
100 TB training-data pipeline needs: parquet stores the bytes, Spark
moves them, and decode/feature-extraction runs as Arrow-batched
``mapInPandas`` stages so the payload never round-trips through
driver-side Python.

Decode comes in two tiers. ``use_real_codecs=True`` runs REAL
pure-Python header parsers for the public container formats whose
metadata lives in a fixed-layout header — PNG (IHDR), JPEG (SOF scan),
GIF (logical screen descriptor + frame walk), WAV (fmt/data chunks) —
no external library needed; pixel/sample DECODING (not needed for
metadata) would require PIL/soundfile/av, which this environment lacks,
so unknown containers raise with that note. The default tier is a
*deterministic fake* decode (dimensions derived from a content hash)
for payloads that are arbitrary test bytes rather than valid media.
Everything around decode — schema contract, binary column handling,
batch iteration shape, partition sizing — is identical in both tiers,
and both are hash-deterministic so the whole pipeline is
oracle-checkable end-to-end (:func:`real_media_table` synthesizes
VALID PNG/WAV payloads whose header fields are hash-derived, so the
real parsers are exactly checkable too).

Every real-codec tier is built from two Arrow-batched scaffolds:

* :func:`_synth_table` — the fixture side. Each ``*_media_table``
  builder selects ``(media_id, text)``, derives a seed from the text
  (the first 15 hex digits of its md5, the same arithmetic the SQL
  oracles spell as ``_SEED_SQL``) and synthesizes one valid payload per
  document inside ``mapInPandas`` — scan-side, no driver round-trip,
  payload bytes never shuffle. Builders whose codec is slow pure Python
  first spread the narrow ``(media_id, text)`` rows over the cores.
* :func:`_map_payloads` — the decode side. Each decoder keeps one
  media type and maps every payload to 0..n narrow output rows inside
  ``mapInPandas``, so only those rows ever flow downstream.

Scale notes: media rows are fat (MBs); the mapInPandas stages set no
per-group boundary (pure per-row map → no shuffle at all), and callers
should keep ``spark.sql.files.maxPartitionBytes`` at its default so a
task holds O(100) media rows, not O(100k). Feature outputs are narrow
(metadata + small vectors), so everything downstream of decode shuffles
cheap columns only.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataframeutils_spark.operators import local_solve
from dataframeutils_spark.operators.dedup import (
    portable_hash60,
    portable_hash60_sql,
)

# deterministic-fake dimension ranges (documented contract of the stub)
_DIM_MOD = 577
_FRAME_MOD = 24

# Hot-bucket occupancy cap for the perceptual Hamming-near band join —
# the same 100×-scale bound the text-LSH path applies engine-wide
# (similarity.DEFAULT_BUCKET_CAP): a visually near-identical corpus
# puts a large fraction of images into one dHash band bucket and would
# make the band self-join quadratic; with the cap, candidates per
# bucket are bounded at cap²/2 at ANY corpus size. Deterministic
# (portable-hash order) in both engines → the capped path stays
# exactly oracle-checkable.
DEFAULT_IMG_BUCKET_CAP = 64

METADATA_SCHEMA = (
    "media_id long, media_type string, n_bytes long, content_md5 string, "
    "width int, height int, n_frames int"
)

# the fixture seed in SQL: first 15 hex digits of md5(text) as a bigint
_SEED_SQL = "CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)"


def _synth_table(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    make: Callable[[int, int], tuple[str, bytes]],
    spread: bool,
) -> DataFrame:
    """Fixture scaffold: one synthesized payload per document.

    ``make(media_id, h)`` returns ``(media_type, payload)``, where ``h``
    is the document's seed (first 15 hex digits of md5(text)). With
    ``spread`` the narrow ``(media_id, text)`` rows first go through
    ``local_solve.spread`` by media_id, so pure-Python codec work uses
    every core even when the documents arrive as one small file.
    """

    def synth_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            types, payloads = [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                h = int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)
                media_type, payload = make(mid, h)
                types.append(media_type)
                payloads.append(payload)
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "media_type": types, "content": payloads}
            )

    src = docs.select(F.col(id_col).alias("media_id"), F.col(text_col).alias("text"))
    if spread:
        src = local_solve.spread(src, F.col("media_id"))
    return src.mapInPandas(
        synth_batches, schema="media_id long, media_type string, content binary"
    )


def _map_payloads(
    media: DataFrame,
    media_type: str,
    rows_of: Callable[[int, bytes], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """Decode scaffold: keep ``media_type`` rows and map each payload
    to the 0..n output rows ``rows_of(media_id, payload)`` yields, as
    tuples in ``schema`` column order."""
    cols = [f.split()[0] for f in schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                row
                for mid, c in zip(pdf["media_id"], pdf["content"])
                for row in rows_of(mid, bytes(c))
            ]
            yield pd.DataFrame(rows, columns=cols)

    return media.filter(F.col("media_type") == media_type).mapInPandas(
        batches, schema=schema
    )


def media_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture builder: wrap a text corpus as a media table
    ``(media_id, media_type, content: binary)``.

    In production the binary column comes straight from
    ``spark.read.format("binaryFile")`` or parquet with BYTE_ARRAY —
    this builder exists so the multimodal plumbing has a deterministic
    testdata-derived input.
    """
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col(id_col) % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
    )


def _fake_decode(media_type: str, content: bytes) -> tuple[str, int, int, int]:
    """Deterministic fake decode: (md5_hex, width, height, n_frames).

    Dimensions are pseudo-random functions of the content hash — stable
    across engines and runs, so tests and oracles can pin exact values.
    """
    md5_hex = hashlib.md5(content).hexdigest()
    h = int(md5_hex[:15], 16)
    width = 64 + h % _DIM_MOD
    height = 64 + (h // _DIM_MOD) % _DIM_MOD
    n_frames = 1 + h % _FRAME_MOD if media_type == "video" else 1
    return md5_hex, width, height, n_frames


# SOF markers that carry frame dimensions (baseline/progressive/
# lossless/arithmetic variants; C4=DHT, C8=JPG, CC=DAC are NOT frames)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _parse_png(b: bytes) -> tuple[int, int, int]:
    """PNG: 8-byte signature, then the IHDR chunk MUST come first —
    width/height are big-endian uint32 at fixed offsets 16/20."""
    if b[12:16] != b"IHDR":
        raise ValueError("PNG missing leading IHDR chunk")
    return (
        int.from_bytes(b[16:20], "big"),
        int.from_bytes(b[20:24], "big"),
        1,
    )


def _parse_jpeg(b: bytes) -> tuple[int, int, int]:
    """JPEG: walk marker segments from SOI until a Start-Of-Frame;
    height/width are big-endian uint16 after the segment's precision
    byte."""
    pos = 2  # past SOI
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("JPEG marker stream desynced")
        marker = b[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: dims must precede scan
            break
        seglen = int.from_bytes(b[pos + 2 : pos + 4], "big")
        if marker in _JPEG_SOF:
            height = int.from_bytes(b[pos + 5 : pos + 7], "big")
            width = int.from_bytes(b[pos + 7 : pos + 9], "big")
            return width, height, 1
        pos += 2 + seglen
    raise ValueError("JPEG has no SOF segment before scan data")


def _parse_gif(b: bytes) -> tuple[int, int, int]:
    """GIF: canvas size from the logical screen descriptor (little-
    endian uint16 at 6/8); n_frames by walking the block stream and
    counting image descriptors (0x2C)."""
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    flags = b[10]
    pos = 13
    if flags & 0x80:  # global color table: 3·2^(depth+1) bytes
        pos += 3 * (2 << (flags & 0x07))
    frames = 0
    while pos < len(b):
        block = b[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label byte + data sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += b[pos] + 1
            pos += 1
        elif block == 0x2C:  # image descriptor
            frames += 1
            lflags = b[pos + 9]
            pos += 10
            if lflags & 0x80:  # local color table
                pos += 3 * (2 << (lflags & 0x07))
            pos += 1  # LZW minimum code size
            while pos < len(b) and b[pos] != 0:
                pos += b[pos] + 1
            pos += 1
        else:
            raise ValueError(f"GIF block stream desynced at 0x{block:02x}")
    return width, height, max(frames, 1)


def _parse_wav(b: bytes) -> tuple[int, int, int]:
    """WAV: RIFF chunk walk; (sample_rate, n_channels, n_samples) from
    the fmt and data chunks — the audio analogue of (width, height,
    n_frames), and that is how the metadata schema carries it."""
    if b[8:12] != b"WAVE":
        raise ValueError("RIFF container is not WAVE")
    rate = channels = block_align = None
    data_size = None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if cid == b"fmt ":
            channels = int.from_bytes(b[pos + 10 : pos + 12], "little")
            rate = int.from_bytes(b[pos + 12 : pos + 16], "little")
            block_align = int.from_bytes(b[pos + 20 : pos + 22], "little")
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data_size is None or not block_align:
        raise ValueError("WAV missing fmt or data chunk")
    return rate, channels, data_size // block_align


def _real_decode(media_type: str, content: bytes) -> tuple[str, int, int, int]:
    """Production metadata decode: sniff the container from its magic
    bytes (never trust the type column) and parse the REAL header.

    PNG/JPEG/GIF/WAV are fixed-layout public formats parseable without
    any library; audio maps (sample_rate, n_channels, n_samples) onto
    the (width, height, n_frames) metadata slots. Pixel/sample decoding
    and other containers (MP4/WebM/FLAC…) need PIL/soundfile/av, which
    this environment does not ship — those raise rather than guess.
    """
    md5_hex = hashlib.md5(content).hexdigest()
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, n = _parse_png(content)
    elif content[:2] == b"\xff\xd8":
        w, h, n = _parse_jpeg(content)
    elif content[:6] in (b"GIF87a", b"GIF89a"):
        w, h, n = _parse_gif(content)
    elif content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        w, h, n = _parse_wav(content)
    elif content[4:8] == b"ftyp":
        w, h, n = _parse_mp4(content)
    else:
        raise NotImplementedError(
            "unrecognized media container (not PNG/JPEG/GIF/WAV/MP4); "
            "full decoding would require PIL/soundfile/av, which this "
            "environment ships none of"
        )
    return md5_hex, w, h, n


# real-codec fixture dimension ranges: small enough that a synthesized
# PNG stays a few KB at oracle scale, spread enough to catch endian or
# offset mistakes in the parsers
_PNG_W_MOD, _PNG_H_MOD = 57, 57
_WAV_RATE_MOD, _WAV_N_MOD = 8000, 97


def synthesize_png(width: int, height: int) -> bytes:
    """A minimal VALID grayscale PNG (signature + IHDR + zlib IDAT +
    IEND, correct CRCs) — stdlib only, deterministic bytes."""
    import struct
    import zlib

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    # deterministic gradient raster (filter 0 rows): pixel(x, y) =
    # (7x + 13y) mod 251 — SQL-reproducible, so pixel-level operators
    # (decode → resize → reduce) are exactly oracle-checkable too
    raster = b"".join(
        b"\x00" + bytes(_gradient_pixel(x, y) for x in range(width))
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster, 9))
        + chunk(b"IEND", b"")
    )


def _gradient_pixel(x: int, y: int) -> int:
    return (7 * x + 13 * y) % 251


def decode_png_pixels(b: bytes):
    """REAL pixel decode for 8-bit greyscale/RGB/RGBA PNG — stdlib
    only: IDAT concat → zlib → per-row unfilter (all five spec filter
    types, so real files decode too, not just the filter-0 fixtures).
    Returns (width, height, numpy array of shape (h, w[, c]))."""
    import struct
    import zlib

    import numpy as np

    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        payload = b[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype not in (0, 2, 6):
                raise NotImplementedError("only 8-bit gray/RGB/RGBA PNG")
            nch = {0: 1, 2: 3, 6: 4}[ctype]
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = w * nch
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], dtype=np.uint8
        ).astype(np.int32)
        if ft == 0:
            cur = row
        elif ft == 2:  # Up
            cur = (row + prev) % 256
        elif ft in (1, 3, 4):  # Sub / Average / Paeth need a scan
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - nch] if i >= nch else 0
                up = int(prev[i])
                c = int(prev[i - nch]) if i >= nch else 0
                if ft == 1:
                    cur[i] = (row[i] + a) % 256
                elif ft == 3:
                    cur[i] = (row[i] + (a + up) // 2) % 256
                else:
                    p = a + up - c
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                    cur[i] = (row[i] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter {ft}")
        out[y] = cur.astype(np.uint8)
        prev = out[y].astype(np.uint8)
    img = out.reshape(h, w, nch)
    return w, h, (img[:, :, 0] if nch == 1 else img)


def resize_nearest(img, out_w: int, out_h: int):
    """Nearest-neighbor resample via integer index maps:
    src = (dst · src_dim) // dst_dim — exact in any engine."""
    import numpy as np

    h, w = img.shape[:2]
    xs = (np.arange(out_w) * w) // out_w
    ys = (np.arange(out_h) * h) // out_h
    return img[np.ix_(ys, xs)] if img.ndim == 2 else img[np.ix_(ys, xs)]


def synthesize_wav(sample_rate: int, n_channels: int, n_samples: int) -> bytes:
    """A minimal VALID PCM16 WAV with a deterministic sawtooth payload."""
    import struct

    block_align = 2 * n_channels
    data = b"".join(
        struct.pack("<h", (i * 257) % 32768 - 16384)
        for i in range(n_samples * n_channels)
    )
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align, block_align, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def real_media_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture builder for the REAL codec path: synthesize a valid PNG
    (even ids) or WAV (odd ids) per document, header fields derived
    from the text's md5 — the same arithmetic a SQL oracle can compute,
    so :func:`decode_metadata` with ``use_real_codecs=True`` is exactly
    checkable: the parser must recover precisely the fields the
    generator embedded.
    """

    def make(mid: int, h: int) -> tuple[str, bytes]:
        if mid % 2 == 0:
            return "image", synthesize_png(
                8 + h % _PNG_W_MOD, 8 + (h // _PNG_W_MOD) % _PNG_H_MOD
            )
        return "audio", synthesize_wav(
            8000 + h % _WAV_RATE_MOD, 1 + h % 2, 16 + (h // 7) % _WAV_N_MOD
        )

    return _synth_table(docs, text_col, id_col, make, spread=False)


def real_decode_metadata_sql(table: str = "documents") -> str:
    """DuckDB oracle for real_media_table → decode_metadata(real):
    predicts the header fields the generator embedded from the same md5
    arithmetic — the Spark side must PARSE them back out of the real
    container bytes, so any endian/offset bug in the parsers shows as a
    hash mismatch. content_md5/n_bytes are md5-of-generated-bytes and
    are not SQL-expressible, so the checked projection excludes them.
    """
    h = _SEED_SQL
    return f"""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
       CASE WHEN doc_id % 2 = 0 THEN 8 + {h} % {_PNG_W_MOD}
            ELSE 8000 + {h} % {_WAV_RATE_MOD} END::INT AS width,
       CASE WHEN doc_id % 2 = 0 THEN 8 + ({h} // {_PNG_W_MOD}) % {_PNG_H_MOD}
            ELSE 1 + {h} % 2 END::INT AS height,
       CASE WHEN doc_id % 2 = 0 THEN 1
            ELSE 16 + ({h} // 7) % {_WAV_N_MOD} END::INT AS n_frames
FROM {table}
"""


def decode_metadata(media: DataFrame, use_real_codecs: bool = False) -> DataFrame:
    """Decode each payload's metadata: one Arrow-batched map stage.

    Output: ``(media_id, media_type, n_bytes, content_md5, width,
    height, n_frames)``. No shuffle — runs inside the scan stage.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = _real_decode if use_real_codecs else _fake_decode
        for pdf in batches:
            metas = [decode(t, bytes(c)) for t, c in zip(pdf["media_type"], pdf["content"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "media_type": pdf["media_type"].to_numpy(),
                    "n_bytes": [len(bytes(c)) for c in pdf["content"]],
                    "content_md5": [m[0] for m in metas],
                    "width": [m[1] for m in metas],
                    "height": [m[2] for m in metas],
                    "n_frames": [m[3] for m in metas],
                }
            )

    return media.mapInPandas(decode_batches, schema=METADATA_SCHEMA)


def decode_metadata_sql(table: str = "documents") -> str:
    """DuckDB oracle for media_table → decode_metadata over documents:
    the fake decode is pure hash arithmetic, so the whole multimodal
    pipeline (binary encode → batch decode → metadata) is checkable."""
    h = _SEED_SQL
    return f"""
SELECT doc_id AS media_id,
       ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       (64 + {h} % {_DIM_MOD})::INT AS width,
       (64 + ({h} // {_DIM_MOD}) % {_DIM_MOD})::INT AS height,
       CASE WHEN doc_id % 3 = 2 THEN (1 + {h} % {_FRAME_MOD})::INT ELSE 1 END AS n_frames
FROM {table}
"""


def sample_frames_sql(table: str = "documents", every_k: int = 8) -> str:
    """DuckDB oracle for media_table → sample_frames over documents:
    the fake frame count is hash arithmetic, so the frame fan-out is
    exactly checkable."""
    h = _SEED_SQL
    return f"""
WITH v AS (
  SELECT doc_id AS media_id, (1 + {h} % {_FRAME_MOD})::INT AS n_frames
  FROM {table} WHERE doc_id % 3 = 2
)
SELECT media_id, unnest(range(0, n_frames, {every_k}))::INT AS frame_idx
FROM v
"""


def resize_images_real(
    media: DataFrame, target_w: int = 16, target_h: int = 16
) -> DataFrame:
    """REAL pixel pipeline: decode PNG bytes → nearest-neighbor resize
    → per-image audit row (media_id, src_w, src_h, out_w, out_h,
    px_sum).

    ``px_sum`` (the resized raster's pixel total) proves actual pixel
    work happened: for the gradient fixtures it equals a pure-SQL
    double sum the oracle computes independently, so a wrong filter
    implementation, index map, or channel order shows as a value
    mismatch, not just a shape difference.
    """

    def rows_of(mid: int, b: bytes):
        w, h, img = decode_png_pixels(b)
        small = resize_nearest(img, target_w, target_h)
        yield mid, w, h, target_w, target_h, int(small.sum())

    return _map_payloads(
        media,
        "image",
        rows_of,
        "media_id long, src_w int, src_h int, out_w int, out_h int, px_sum long",
    )


def resize_real_sql(
    table: str = "documents", target_w: int = 16, target_h: int = 16
) -> str:
    """DuckDB oracle for real_media_table → :func:`resize_images_real`:
    recomputes the nearest-neighbor-resized gradient sum from the same
    md5 arithmetic that sized the synthesized PNG —
    Σ_{x,y} (7·((x·w)//ow) + 13·((y·h)//oh)) mod 251."""
    h = _SEED_SQL
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8 + {h} % {_PNG_W_MOD} AS BIGINT) AS w,
         CAST(8 + ({h} // {_PNG_W_MOD}) % {_PNG_H_MOD} AS BIGINT) AS hgt
  FROM {table} WHERE doc_id % 2 = 0
)
SELECT media_id,
       CAST(w AS INT) AS src_w, CAST(hgt AS INT) AS src_h,
       {target_w} AS out_w, {target_h} AS out_h,
       CAST(list_sum(list_transform(range({target_h}), y ->
         list_sum(list_transform(range({target_w}), x ->
           (7 * ((x * w) // {target_w})
            + 13 * ((y * hgt) // {target_h})) % 251)))) AS BIGINT)
         AS px_sum
FROM dims
"""


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash) — near-duplicate images at 100 TB
# ---------------------------------------------------------------------------
# Exact/byte dedup misses re-encoded, re-scaled, or metadata-stripped
# copies of the same picture — the dominant duplicate class in crawled
# image corpora. The standard cheap answer is a perceptual difference
# hash (dHash, Krawetz): decode → downscale to a tiny fixed raster →
# keep only the horizontal gradient SIGNS. Re-scaling and re-encoding
# preserve gradient signs almost everywhere, so perceptual duplicates
# land on equal (or near-equal) 64-bit hashes, and dedup becomes the
# same one-shuffle hash-groupBy shape as exact_dedup — on hashes
# computed scan-side from payloads that never leave their task.
# The hash is packed as FOUR 16-bit bands (two 8-pixel rows each):
# no 64-bit sign-overflow anywhere, and the bands double as the
# LSH keys for Hamming-near matching (pairs sharing ≥1 band), the
# same banding trick MinHash and the ANN paths use.

_DHASH_W, _DHASH_H = 9, 8  # 9 columns → 8 horizontal comparisons


def _dhash_bands(img) -> tuple[int, int, int, int]:
    """dHash of a decoded raster: nearest-resample to 9×8, bit(y,x) =
    1 iff pixel(y, x+1) > pixel(y, x), two 8-bit rows per band."""
    import numpy as np

    if img.ndim == 3:
        # integer BT.601 luma — deterministic across engines/platforms
        rgb = img[:, :, :3].astype(np.int64)
        img = (77 * rgb[:, :, 0] + 150 * rgb[:, :, 1] + 29 * rgb[:, :, 2]) >> 8
    small = resize_nearest(img.astype(np.int64), _DHASH_W, _DHASH_H)
    rows = []
    for y in range(_DHASH_H):
        byte = 0
        for x in range(_DHASH_W - 1):
            if small[y, x + 1] > small[y, x]:
                byte |= 1 << x
        rows.append(byte)
    return tuple(
        (rows[2 * k] << 8) | rows[2 * k + 1] for k in range(4)
    )


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash per image: (media_id, width, height,
    b0..b3) with the 64-bit dHash packed as four 16-bit bands. REAL
    pixel decode (PNG, all filter types) per payload."""

    def rows_of(mid: int, b: bytes):
        w, h, img = decode_png_pixels(b)
        yield (mid, w, h) + _dhash_bands(img)

    return _map_payloads(
        media,
        "image",
        rows_of,
        "media_id long, width int, height int, b0 int, b1 int, b2 int, b3 int",
    )


def image_dhash_dedup(media: DataFrame) -> DataFrame:
    """Perceptual dedup groups: images sharing the FULL 64-bit dHash —
    which re-scaled copies of the same visual content do, while their
    byte hashes differ (the class exact_dedup cannot catch). One
    combinable groupBy over the four 16-bit band columns (≤ 8 bytes of
    key per row through the exchange, exactly exact_dedup's scale
    shape): (b0..b3, n_images, n_distinct_dims, canonical_id) for
    groups of ≥ 2, canonical = min media_id, n_distinct_dims counts the
    (w, h) variants collapsed into the group — > 1 means the group
    holds genuinely re-scaled copies, not byte twins. Hamming-NEAR
    matching (pairs differing in ≤ d bits) reuses b0..b3 as LSH band
    keys — pairs sharing ≥ 1 band, the MinHash banding trick — and
    stays subquadratic the same way."""
    hashes = image_dhash(media)
    return (
        hashes.groupBy("b0", "b1", "b2", "b3")
        .agg(
            F.count("*").alias("n_images"),
            F.countDistinct("width", "height").alias("n_distinct_dims"),
            F.min("media_id").alias("canonical_id"),
        )
        .filter(F.col("n_images") >= 2)
    )


def _dhash_bands_sql() -> str:
    """SQL fragment: the four dHash bands of the gradient fixture,
    computed from (w, hgt) via the same nearest-resample index map and
    gradient formula the synthesizer embeds. Requires a relation with
    (w, hgt) in scope; emits b0..b3 select expressions."""
    px = (
        f"(7 * ((_x * w) // {_DHASH_W}) + 13 * ((_y * hgt) // {_DHASH_H})) % 251"
    )
    bit = (
        f"CASE WHEN {px.replace('_x', '(x+1)').replace('_y', 'y')} > "
        f"{px.replace('_x', 'x').replace('_y', 'y')} "
        f"THEN 1 << x ELSE 0 END"
    )
    row_byte = (
        f"list_sum(list_transform(range({_DHASH_W - 1}), x -> {bit}))"
    )
    return ", ".join(
        f"CAST(({row_byte.replace('y', str(2 * k))}) * 256 "
        f"+ ({row_byte.replace('y', str(2 * k + 1))}) AS INT) AS b{k}"
        for k in range(4)
    )


def image_dhash_sql(table: str = "documents") -> str:
    """DuckDB oracle for real_media_table → :func:`image_dhash`: the
    gradient fixture's dHash in closed form (resize_real_sql pattern).
    The ENGINE decodes real PNG bytes and resamples real pixels; the
    oracle predicts the result from the generator arithmetic, so any
    decode/resample/packing bug shows as a hash mismatch."""
    h = _SEED_SQL
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8 + {h} % {_PNG_W_MOD} AS BIGINT) AS w,
         CAST(8 + ({h} // {_PNG_W_MOD}) % {_PNG_H_MOD} AS BIGINT) AS hgt
  FROM {table} WHERE doc_id % 2 = 0
)
SELECT media_id, CAST(w AS INT) AS width, CAST(hgt AS INT) AS height,
       {_dhash_bands_sql()}
FROM dims
"""


def image_hamming_pairs(
    media: DataFrame,
    max_dist: int = 3,
    bucket_cap: int | None = DEFAULT_IMG_BUCKET_CAP,
    max_rows: int | None = None,
) -> DataFrame:
    """Hamming-NEAR perceptual duplicates: (img_a, img_b, hamming) for
    image pairs whose 64-bit dHashes differ in ≤ ``max_dist`` bits —
    slightly-cropped/re-compressed copies whose hashes are close but
    not equal (the tier between :func:`image_dhash_dedup`'s
    equal-hash groups and genuinely different images).

    Banded with the PIGEONHOLE GUARANTEE: the hash is stored as 4
    16-bit bands, so any pair within Hamming distance ≤ 3 < 4 agrees
    exactly on ≥ 1 band and is FOUND by the band equi-join — for
    ``max_dist`` ≤ 3 this subquadratic path returns provably the same
    pairs as the brute-force cross join whenever no band bucket
    overflows ``bucket_cap`` (pinned in pytest). Above 3 the band join
    becomes a recall-bounded candidate generator (the standard
    multi-index Hamming trade).

    ``bucket_cap`` is the 100×-scale knob, ported from the text-LSH
    path (similarity.DEFAULT_BUCKET_CAP): at most ``bucket_cap``
    hash-ordered entries survive per (band, bucket), so a corpus of
    visually near-identical images (hot dHash buckets — this repo's
    gradient FIXTURES are exactly that) degrades to a BOUNDED
    candidate set (≤ 4 × cap²/2 pairs per hot bucket group) instead of
    going quadratic or refusing. The cap is a deterministic
    portable-hash order, identical in both engines, so the capped path
    stays exactly oracle-checkable (:func:`image_hamming_pairs_sql`
    mirrors it). ``bucket_cap=None`` opts in to exact-bucket
    semantics; the legacy ``max_rows`` guard remains available for
    that uncapped path only (refuses inputs where the uncapped join
    would be a scale-killer; ``None`` skips the guard and its count()
    job).
    """
    # eager localCheckpoint: one narrow row per image, reused by the
    # size-guard count, the band explode, and BOTH hash-lookup joins —
    # without it each consumer re-runs the full decode pipeline
    hashes = image_dhash(media).localCheckpoint()
    if max_rows is not None:
        n = hashes.count()
        if n > max_rows:
            raise ValueError(
                f"image_hamming_pairs: {n} images > max_rows={max_rows}; "
                "near-identical corpora make the uncapped band join "
                "quadratic — raise max_rows explicitly or use the "
                "default bucket_cap"
            )
    bands = hashes.select(
        "media_id",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "bv"),
    )
    if bucket_cap is not None:
        # occupancy cap (similarity._bucketed_topk_from_sigs pattern):
        # deterministic hash-ordered sample of ≤ bucket_cap entries per
        # (band, bucket); the window partitions on the join keys, so
        # its exchange is the same hash partitioning the self-join
        # needs — no extra shuffle shape.
        order = portable_hash60(
            F.concat(F.lit("icap:"), F.col("media_id").cast("string"))
        )
        w_cap = Window.partitionBy("band", "bv").orderBy(order, "media_id")
        bands = (
            bands.withColumn("_rn", F.row_number().over(w_cap))
            .filter(F.col("_rn") <= bucket_cap)
            .drop("_rn")
        )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("img_a"),
            F.col("b.media_id").alias("img_b"),
        )
        .distinct()
    )
    ha = hashes.select(
        F.col("media_id").alias("img_a"),
        *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)],
    )
    hb = hashes.select(
        F.col("media_id").alias("img_b"),
        *[F.col(f"b{k}").alias(f"bb{k}") for k in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"bb{k}")).cast("long"))
        for k in range(4)
    )
    return (
        cand.join(ha, "img_a")
        .join(hb, "img_b")
        .select("img_a", "img_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_dist)
    )


def image_hamming_pairs_sql(
    table: str = "documents",
    max_dist: int = 3,
    bucket_cap: int | None = DEFAULT_IMG_BUCKET_CAP,
) -> str:
    """DuckDB oracle for :func:`image_hamming_pairs` over the
    fixture-formula hashes. Mirrors the engine's banded path INCLUDING
    the deterministic occupancy cap (same portable-hash order), so the
    capped scale path is exactly oracle-checkable at any bucket
    occupancy. With ``bucket_cap=None`` it reduces to the brute-force
    threshold join, which for max_dist ≤ 3 the uncapped banded engine
    path must match EXACTLY (pigeonhole: ≤ 3 differing bits across 4
    bands leaves one band equal)."""
    ham = " + ".join(
        f"bit_count(xor(CAST(a.b{k} AS BIGINT), CAST(b.b{k} AS BIGINT)))"
        for k in range(4)
    )
    if bucket_cap is None:
        return f"""
WITH hashes AS ({image_dhash_sql(table)})
SELECT a.media_id AS img_a, b.media_id AS img_b,
       CAST({ham} AS INT) AS hamming
FROM hashes a JOIN hashes b ON a.media_id < b.media_id
WHERE {ham} <= {max_dist}
"""
    caph = portable_hash60_sql("('icap:' || media_id::VARCHAR)")
    return f"""
WITH hashes AS ({image_dhash_sql(table)}),
bands AS (
  SELECT media_id, f.band,
         CASE f.band WHEN 0 THEN b0 WHEN 1 THEN b1
                     WHEN 2 THEN b2 ELSE b3 END AS bv
  FROM hashes, range(0, 4) f(band)
),
capped AS (
  SELECT media_id, band, bv FROM bands
  QUALIFY row_number() OVER (PARTITION BY band, bv
                             ORDER BY {caph}, media_id) <= {bucket_cap}
),
cand AS (
  SELECT DISTINCT ca.media_id AS img_a, cb.media_id AS img_b
  FROM capped ca JOIN capped cb
    ON ca.band = cb.band AND ca.bv = cb.bv
   AND ca.media_id < cb.media_id
)
SELECT c.img_a, c.img_b, CAST({ham} AS INT) AS hamming
FROM cand c
JOIN hashes a ON a.media_id = c.img_a
JOIN hashes b ON b.media_id = c.img_b
WHERE {ham} <= {max_dist}
"""


def image_dhash_dedup_sql(table: str = "documents") -> str:
    """DuckDB oracle for :func:`image_dhash_dedup`."""
    return f"""
WITH hashes AS ({image_dhash_sql(table)})
SELECT b0, b1, b2, b3,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(count(DISTINCT (width, height)) AS BIGINT) AS n_distinct_dims,
       min(media_id) AS canonical_id
FROM hashes
GROUP BY b0, b1, b2, b3
HAVING count(*) >= 2
"""


def sample_frames(media: DataFrame, every_k: int = 8) -> DataFrame:
    """Frame-sampling stage for video payloads: one output row per
    sampled frame index (the fan-out a real frame extractor produces).

    Frame count comes from the deterministic fake decode; the payload
    is NOT duplicated per frame — only (media_id, frame_idx) fan out,
    which is the memory-correct shape at scale.
    """

    def rows_of(mid: int, b: bytes):
        for k in range(0, _fake_decode("video", b)[3], every_k):
            yield mid, k

    return _map_payloads(media, "video", rows_of, "media_id long, frame_idx int")


def image_features(media: DataFrame) -> DataFrame:
    """REAL pixel feature extraction — the feature-extract verb of the
    multimodal pipeline: decode PNG bytes → per-image intensity
    features (media_id, src_w, src_h, px_mean, px_min, px_max,
    hist_0..hist_3 — counts of pixels in [0,64), [64,128), [128,192),
    [192,256)).

    ``px_mean`` is computed as (integer pixel sum) / (w·h) so both
    engines divide identical integers — exactly comparable without a
    rounding contract. At 100 TB the feature rows (a few ints per
    image) are what shuffles, never rasters.
    """
    import numpy as np

    def rows_of(mid: int, b: bytes):
        w, h, img = decode_png_pixels(b)
        flat = np.asarray(img, dtype=np.int64).ravel()
        hist = np.bincount(flat // 64, minlength=4)[:4]
        yield (
            mid, w, h,
            float(int(flat.sum()) / flat.size),
            int(flat.min()), int(flat.max()),
            int(hist[0]), int(hist[1]), int(hist[2]), int(hist[3]),
        )

    return _map_payloads(
        media,
        "image",
        rows_of,
        "media_id long, src_w int, src_h int, px_mean double, "
        "px_min int, px_max int, hist_0 long, hist_1 long, "
        "hist_2 long, hist_3 long",
    )


def image_features_sql(table: str = "documents") -> str:
    """DuckDB oracle for real_media_table → :func:`image_features`:
    recomputes every feature from the generator's gradient arithmetic
    pixel(x,y) = (7x+13y) mod 251 — the decoder must recover exactly
    this raster for the histogram and extrema to match."""
    h = _SEED_SQL
    px = "(7 * x + 13 * y) % 251"
    hist_col = (
        "CAST(list_sum(list_transform(range(hgt), y -> "
        "list_sum(list_transform(range(w), x -> "
        "CASE WHEN ({px}) // 64 = {k} THEN 1 ELSE 0 END)))) AS BIGINT)"
    )
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8 + {h} % {_PNG_W_MOD} AS BIGINT) AS w,
         CAST(8 + ({h} // {_PNG_W_MOD}) % {_PNG_H_MOD} AS BIGINT) AS hgt
  FROM {table} WHERE doc_id % 2 = 0
)
SELECT media_id,
       CAST(w AS INT) AS src_w, CAST(hgt AS INT) AS src_h,
       CAST(list_sum(list_transform(range(hgt), y ->
         list_sum(list_transform(range(w), x -> {px}))))
         AS DOUBLE) / (w * hgt) AS px_mean,
       CAST(list_min(list_transform(range(hgt), y ->
         list_min(list_transform(range(w), x -> {px})))) AS INT) AS px_min,
       CAST(list_max(list_transform(range(hgt), y ->
         list_max(list_transform(range(w), x -> {px})))) AS INT) AS px_max,
       {hist_col.format(px=px, k=0)} AS hist_0,
       {hist_col.format(px=px, k=1)} AS hist_1,
       {hist_col.format(px=px, k=2)} AS hist_2,
       {hist_col.format(px=px, k=3)} AS hist_3
FROM dims
"""


# ---------------------------------------------------------------------------
# Animated-GIF pixel tier: real LZW codec, stdlib only.
#
# Extends the real-codec path beyond PNG (VERDICT r4 #6): frame
# sampling backed by REAL pixel decode for an animated container. GIF's
# raster is palette indices compressed with the GIF variant of LZW
# (variable 9→12-bit codes, LSB-first packing, clear/end codes — the
# public algorithm from the GIF89a specification, Appendix F); with a
# greyscale identity palette the decoded index IS the intensity, so the
# gradient arithmetic pixel(x, y, f) = (7x + 13y + 11f) mod 251 is
# exactly recomputable by a SQL oracle, frame by frame — the same
# hash-derived oracle pattern as the PNG tier.
# ---------------------------------------------------------------------------

# GIF fixture dimension ranges: small frames keep the pure-Python LZW
# encode affordable at oracle scale while still exercising multi-byte
# sub-block boundaries and at least one code-width growth (w·h > 256
# pixels → dictionary passes 512 entries on most frames)
_GIF_W_MOD, _GIF_H_MOD, _GIF_F_MOD = 25, 25, 5


def _lzw_encode_gif(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-LZW encode with the STANDARD (giflib) code-width schedule:
    each code is written at the current width, and the width grows
    only AFTER a write finds next_code >= 2^width — i.e. the boundary
    code itself is emitted at the old width ("late change"), matching
    every compliant GIF89a decoder. At 4096 a clear code resets the
    dictionary.

    Hot-loop representation (r14, guide §4.2 make per-task work fast):
    sequences are keyed as ``(prefix_code << 8) | next_byte`` ints
    instead of growing ``bytes`` objects — a single byte's code IS its
    value, so the int key chain reproduces the byte-keyed table
    exactly; output is byte-identical (pinned in
    tests/test_multimodal.py against the byte-keyed reference).
    Measured 4.6 → 1.3 ms/doc on the fixture shapes."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = 0
    nacc = 0
    width = min_code_size + 1
    next_code = end + 1

    def emit(code: int) -> None:
        # write at the current width, THEN widen if the table has
        # outgrown it (giflib EGifCompressOutput ordering)
        nonlocal acc, nacc, width
        acc |= code << nacc
        nacc += width
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
        if next_code >= (1 << width) and width < 12:
            width += 1

    # (prefix_code, byte) -> code; singles are implicit (code == byte)
    table: dict[int, int] = {}
    emit(clear)
    prev = -1
    for ch in data:
        if prev < 0:
            prev = ch
            continue
        key = (prev << 8) | ch
        code = table.get(key)
        if code is not None:
            prev = code
            continue
        emit(prev)
        if next_code == 4096:
            emit(clear)
            table.clear()
            next_code = end + 1
            width = min_code_size + 1
        else:
            table[key] = next_code
            next_code += 1
        prev = ch
    if prev >= 0:
        emit(prev)
    emit(end)
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


_LZW_SINGLES = [bytes([i]) for i in range(256)]


def _lzw_decode_gif(data: bytes, min_code_size: int = 8) -> bytes:
    """GIF-LZW decode with the STANDARD (giflib) code-width schedule:
    the decoder appends one table entry per data code after the first
    since a clear, and widens when the table length reaches 2^width —
    exactly one entry behind the encoder's next_code, so both sides
    cross each width boundary at the same bit position. Tolerates
    "deferred clear" streams (full table, no appends past 4096)."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    width = min_code_size + 1
    singles = _LZW_SINGLES[:clear] + [b"", b""]
    table: list[bytes] = singles[:]
    out = bytearray()
    acc = 0
    nacc = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nacc
        nacc += 8
        while nacc >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nacc -= width
            if code == clear:
                table = singles[:]
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError(
                        f"LZW code {code} beyond table {len(table)}"
                    )
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table):  # the KwKwK special case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} beyond table {len(table)}")
            if len(table) == (1 << width) and width < 12:
                width += 1
            out.extend(entry)
            prev = entry
    raise ValueError("LZW stream ended without end code")


def _gif_gradient_pixel(x: int, y: int, f: int) -> int:
    return (7 * x + 13 * y + 11 * f) % 251


def synthesize_gif(
    width: int, height: int, n_frames: int, interlaced: bool = False
) -> bytes:
    """A minimal VALID animated GIF89a: logical screen descriptor,
    256-entry greyscale global color table, one full-frame image per
    frame, REAL LZW-compressed rasters, trailer. Deterministic bytes
    (no extensions, no timing metadata — structure only). With
    ``interlaced`` the rasters are emitted in the GIF89a 4-pass row
    order and the image descriptors carry the interlace flag — the
    decoded pixels are identical, which is exactly what lets the
    fixture mix interlaced frames under the same SQL oracle."""
    import struct

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0xF7, 0, 0])  # GCT present, 256 entries; bg 0; aspect 0
    for i in range(256):
        out += bytes([i, i, i])  # greyscale identity palette
    row_order = list(range(0, height, 8)) + list(range(4, height, 8)) \
        + list(range(2, height, 4)) + list(range(1, height, 2))
    for f in range(n_frames):
        flags = 0x40 if interlaced else 0x00
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
        out += bytes([flags])
        rows = row_order if interlaced else range(height)
        raster = bytes(
            _gif_gradient_pixel(x, y, f) for y in rows for x in range(width)
        )
        lzw = _lzw_encode_gif(raster)
        out.append(8)  # LZW minimum code size
        for i in range(0, len(lzw), 255):
            block = lzw[i : i + 255]
            out.append(len(block))
            out += block
        out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif_frames(b: bytes):
    """REAL frame decode for GIF87a/89a with a global color table:
    walks the block stream, LZW-decodes every image descriptor's
    raster, maps palette indices to grey intensity (palette luminance
    via integer (r+g+b)//3 — identity for the greyscale fixtures, and
    well-defined for arbitrary palettes). Returns (width, height,
    [numpy (h, w) uint8 per frame]). Frames smaller than the canvas
    are returned at their own size (no compositing — frame-sampling
    feature extraction wants the frame raster, not the canvas)."""
    import numpy as np

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    flags = b[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        raw = b[pos : pos + 3 * n]
        gct = np.frombuffer(raw, dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    frames = []
    while pos < len(b):
        block = b[pos]
        if block == 0x3B:
            break
        if block == 0x21:  # extension
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += b[pos] + 1
            pos += 1
        elif block == 0x2C:
            fw = int.from_bytes(b[pos + 5 : pos + 7], "little")
            fh = int.from_bytes(b[pos + 7 : pos + 9], "little")
            lflags = b[pos + 9]
            pos += 10
            pal = gct
            if lflags & 0x80:
                n = 2 << (lflags & 0x07)
                pal = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
                pos += 3 * n
            interlaced = bool(lflags & 0x40)
            if pal is None:
                raise ValueError("GIF frame without any color table")
            min_code = b[pos]
            pos += 1
            lzw = bytearray()
            while pos < len(b) and b[pos] != 0:
                ln = b[pos]
                lzw += b[pos + 1 : pos + 1 + ln]
                pos += ln + 1
            pos += 1
            idx = np.frombuffer(
                _lzw_decode_gif(bytes(lzw), min_code), dtype=np.uint8
            )[: fw * fh].reshape(fh, fw)
            if interlaced:
                # GIF89a 4-pass interlace: rows arrive as passes
                # 0,8,16… / 4,12… / 2,6,10… / 1,3,5… — reorder back
                order = np.concatenate(
                    [
                        np.arange(0, fh, 8),
                        np.arange(4, fh, 8),
                        np.arange(2, fh, 4),
                        np.arange(1, fh, 2),
                    ]
                )
                deinterlaced = np.empty_like(idx)
                deinterlaced[order] = idx
                idx = deinterlaced
            grey = (pal.astype(np.int32).sum(axis=1) // 3).astype(np.uint8)
            frames.append(grey[idx])
        else:
            raise ValueError(f"GIF block stream desynced at 0x{block:02x}")
    return width, height, frames


def gif_media_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture builder for the animated-GIF pixel tier: one valid GIF
    per document, header fields and rasters hash-derived (same md5
    arithmetic as :func:`real_media_table`)."""

    def make(mid: int, h: int) -> tuple[str, bytes]:
        return "video", synthesize_gif(
            8 + h % _GIF_W_MOD,
            8 + (h // _GIF_W_MOD) % _GIF_H_MOD,
            2 + (h // 11) % _GIF_F_MOD,
            # every 3rd doc interlaced: decoded pixels are identical,
            # so the oracle also pins the de-interlace path
            interlaced=(h % 3 == 0),
        )

    return _synth_table(docs, text_col, id_col, make, spread=True)


def _frame_stats(media: DataFrame, every_k: int, decode_frames) -> DataFrame:
    """Per-frame intensity stats of every ``every_k``-th frame, for a
    ``decode_frames(payload) -> (width, height, frames)`` video codec."""
    import numpy as np

    def rows_of(mid: int, b: bytes):
        w, h, frames = decode_frames(b)
        for fi in range(0, len(frames), every_k):
            flat = frames[fi].astype(np.int64).ravel()
            yield mid, fi, w, h, int(flat.sum()), int(flat.min()), int(flat.max())

    return _map_payloads(
        media,
        "video",
        rows_of,
        "media_id long, frame_idx int, src_w int, src_h int, "
        "px_sum long, px_min int, px_max int",
    )


def gif_frame_stats(media: DataFrame, every_k: int = 2) -> DataFrame:
    """REAL-pixel frame sampling: decode every ``every_k``-th frame of
    each GIF payload and reduce it to per-frame intensity stats —
    (media_id, frame_idx, src_w, src_h, px_sum, px_min, px_max).
    At 100 TB the frame fan-out multiplies ROW COUNT, never payload
    bytes."""
    return _frame_stats(media, every_k, decode_gif_frames)


def gif_frame_stats_sql(table: str = "documents", every_k: int = 2) -> str:
    """DuckDB oracle for gif_media_table → :func:`gif_frame_stats`:
    recomputes every sampled frame's stats from the generator's
    gradient pixel(x, y, f) = (7x + 13y + 11f) mod 251 — the LZW
    decoder must recover exactly this raster for every checked frame,
    so any codec bug (width schedule, sub-block reassembly, palette
    mapping) shows as a value mismatch, not just a row-count drift."""
    h = _SEED_SQL
    px = "(7 * x + 13 * y + 11 * f) % 251"
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8 + {h} % {_GIF_W_MOD} AS BIGINT) AS w,
         CAST(8 + ({h} // {_GIF_W_MOD}) % {_GIF_H_MOD} AS BIGINT) AS hgt,
         CAST(2 + ({h} // 11) % {_GIF_F_MOD} AS BIGINT) AS nf
  FROM {table}
), sampled AS (
  SELECT media_id, w, hgt, unnest(range(0, nf, {every_k})) AS f FROM dims
)
SELECT media_id, CAST(f AS INT) AS frame_idx,
       CAST(w AS INT) AS src_w, CAST(hgt AS INT) AS src_h,
       CAST(list_sum(list_transform(range(hgt), y ->
         list_sum(list_transform(range(w), x -> {px})))) AS BIGINT) AS px_sum,
       CAST(list_min(list_transform(range(hgt), y ->
         list_min(list_transform(range(w), x -> {px})))) AS INT) AS px_min,
       CAST(list_max(list_transform(range(hgt), y ->
         list_max(list_transform(range(w), x -> {px})))) AS INT) AS px_max
FROM sampled
"""


# ---------------------------------------------------------------------------
# REAL-codec tier 4: baseline JPEG (operators/jpeg.py — pure-Python
# Huffman + exact IDCT; cross-validated against Java ImageIO in
# tests/test_jpeg.py). Fixtures are block-constant rasters, which
# survive JPEG quantization EXACTLY (DC-only blocks, q00 = 8), so the
# per-pixel oracle is pixel(x, y) = (11*(x//8) + 17*(y//8) + s) % 256
# — the same hash-derived-oracle pattern as the PNG and GIF tiers, with
# the real DC-prediction chain, Huffman tables, and byte stuffing in
# the decode path.
# ---------------------------------------------------------------------------

# non-multiples of 8 on purpose: edge blocks exercise the pad-and-crop
# path of both codec sides
_JPEG_W_MOD, _JPEG_H_MOD, _JPEG_S_MOD = 48, 48, 251


def jpeg_media_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture builder for the baseline-JPEG pixel tier: one valid
    grayscale JFIF per document, dimensions and gradient shift
    hash-derived (same md5 arithmetic as :func:`real_media_table`)."""
    from dataframeutils_spark.operators.jpeg import synthesize_jpeg

    def make(mid: int, h: int) -> tuple[str, bytes]:
        return "image", synthesize_jpeg(
            9 + h % _JPEG_W_MOD,
            9 + (h // _JPEG_W_MOD) % _JPEG_H_MOD,
            (h // 7) % _JPEG_S_MOD,
        )

    return _synth_table(docs, text_col, id_col, make, spread=True)


def jpeg_block_stats(media: DataFrame) -> DataFrame:
    """REAL JPEG pixel decode reduced to per-image intensity stats —
    (media_id, src_w, src_h, px_sum, px_min, px_max). At 100 TB the
    decode cost is embarrassingly parallel and the shuffle volume is
    rows, not bytes."""
    import numpy as np

    from dataframeutils_spark.operators.jpeg import decode_jpeg_pixels

    def rows_of(mid: int, b: bytes):
        w, h, img = decode_jpeg_pixels(b)
        flat = img.astype(np.int64).ravel()
        yield mid, w, h, int(flat.sum()), int(flat.min()), int(flat.max())

    return _map_payloads(
        media,
        "image",
        rows_of,
        "media_id long, src_w int, src_h int, px_sum long, px_min int, px_max int",
    )


def jpeg_block_stats_sql(table: str = "documents") -> str:
    """DuckDB oracle for jpeg_media_table → :func:`jpeg_block_stats`:
    recomputes every image's stats from the block gradient
    pixel(x, y) = (11*(x//8) + 17*(y//8) + s) % 256. The Huffman
    decoder must recover exactly this raster — any entropy-decode,
    DC-prediction, dequant, or IDCT bug shows as a value mismatch."""
    h = _SEED_SQL
    px = "(11 * (x // 8) + 17 * (y // 8) + s) % 256"
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(9 + {h} % {_JPEG_W_MOD} AS BIGINT) AS w,
         CAST(9 + ({h} // {_JPEG_W_MOD}) % {_JPEG_H_MOD} AS BIGINT) AS hgt,
         CAST(({h} // 7) % {_JPEG_S_MOD} AS BIGINT) AS s
  FROM {table}
)
SELECT media_id,
       CAST(w AS INT) AS src_w, CAST(hgt AS INT) AS src_h,
       CAST(list_sum(list_transform(range(hgt), y ->
         list_sum(list_transform(range(w), x -> {px})))) AS BIGINT) AS px_sum,
       CAST(list_min(list_transform(range(hgt), y ->
         list_min(list_transform(range(w), x -> {px})))) AS INT) AS px_min,
       CAST(list_max(list_transform(range(hgt), y ->
         list_max(list_transform(range(w), x -> {px})))) AS INT) AS px_max
FROM dims
"""


# ---------------------------------------------------------------------------
# REAL-codec tier 5: WAV PCM16 sample decode. PCM needs no external
# library — the data chunk IS the samples — so the audio analogue of
# the pixel tiers is fully real: parse the RIFF layout, lift the
# little-endian int16 stream, and reduce it to the integer audio
# features a training-data pipeline filters on (energy, zero-crossing
# rate, clipping extrema). The synthesized payload is the sawtooth
# s(i) = (i*257) % 32768 - 16384 (synthesize_wav above), so every
# feature is exactly recomputable by the SQL oracle.
# ---------------------------------------------------------------------------

_WAV_AUDIO_RATE_MOD, _WAV_AUDIO_N_MOD = 8000, 1793


def decode_wav_samples(b: bytes):
    """REAL sample decode for PCM16 WAV: RIFF chunk walk, then the data
    chunk as a little-endian int16 array. Returns (sample_rate,
    n_channels, numpy int16 array of shape (n_frames, n_channels)).
    Non-PCM or non-16-bit formats raise."""
    import numpy as np

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos = 12
    rate = nch = bits = None
    data = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        ln = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            fmt_tag = int.from_bytes(body[0:2], "little")
            if fmt_tag != 1:
                raise NotImplementedError(f"only PCM WAV (fmt tag {fmt_tag})")
            nch = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if bits != 16:
                raise NotImplementedError(f"only 16-bit PCM (got {bits})")
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    return rate, nch, samples.reshape(-1, nch)


def wav_audio_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture builder for the PCM sample tier: one valid PCM16 WAV per
    document (mono or stereo, hash-derived rate/length)."""

    def make(mid: int, h: int) -> tuple[str, bytes]:
        return "audio", synthesize_wav(
            8000 + h % _WAV_AUDIO_RATE_MOD,
            1 + h % 2,
            256 + (h // 3) % _WAV_AUDIO_N_MOD,
        )

    return _synth_table(docs, text_col, id_col, make, spread=True)


def audio_features(media: DataFrame) -> DataFrame:
    """REAL PCM feature extraction: decode every payload's int16 stream
    and reduce it to integer-exact audio features — (media_id,
    sample_rate, n_channels, n_frames, sq_sum, zero_crossings, s_min,
    s_max). sq_sum is the energy numerator (RMS = sqrt(sq_sum/N) —
    kept as the exact integer so the oracle compares without float
    drift); zero_crossings counts strict sign flips along the
    interleaved stream."""
    import numpy as np

    def rows_of(mid: int, b: bytes):
        rate, nch, samples = decode_wav_samples(b)
        flat = samples.ravel().astype(np.int64)  # interleaved order
        zc = int(((flat[:-1] * flat[1:]) < 0).sum())
        yield (
            mid, rate, nch, samples.shape[0],
            int((flat * flat).sum()), zc,
            int(flat.min()), int(flat.max()),
        )

    return _map_payloads(
        media,
        "audio",
        rows_of,
        "media_id long, sample_rate int, n_channels int, n_frames int, "
        "sq_sum long, zero_crossings int, s_min int, s_max int",
    )


# ---------------------------------------------------------------------------
# REAL-metadata tier: MP4 / ISO BMFF (ISO/IEC 14496-12 public box
# layout). No MP4 files ship in this environment and no independent
# parser exists here, so — per the GIF width-schedule lesson — the
# tests validate against a HAND-BUILT byte vector with offsets
# computed from the spec, not against the repo's own synthesizer.
# Pixel decode of the embedded streams (H.264 etc.) stays stubbed
# until av exists.
# ---------------------------------------------------------------------------

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _mp4_boxes(b: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for the boxes in [start, end):
    size==1 → 64-bit largesize, size==0 → box extends to `end`."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(b[pos : pos + 4], "big")
        btype = b[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            size = int.from_bytes(b[pos + 8 : pos + 16], "big")
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError("MP4 box size out of bounds")
        yield btype, body, pos + size
        pos += size


def _parse_mp4(b: bytes) -> tuple[int, int, int]:
    """MP4/ISO-BMFF metadata walk: recurse moov→trak→mdia→minf→stbl,
    read the presentation size from the first video `tkhd` (16.16
    fixed point, version 0 or 1 layouts) and the TRUE sample count
    from `stts` (sum of entry sample_counts — the actual number of
    frames, not a duration-derived guess). Returns
    (width, height, n_frames)."""
    if b[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF / MP4 container")
    width = height = 0
    n_frames = 0

    def walk(start: int, end: int) -> None:
        nonlocal width, height, n_frames
        for btype, body, box_end in _mp4_boxes(b, start, end):
            if btype in _MP4_CONTAINERS:
                walk(body, box_end)
            elif btype == b"tkhd" and not width:
                ver = b[body]
                # ver/flags(4) + times/id/dur (v0 20, v1 32) +
                # reserved(8) + layer/group/volume/reserved(8) +
                # matrix(36) → width/height as 16.16 fixed
                off = body + 4 + (32 if ver else 20) + 52
                w = int.from_bytes(b[off : off + 4], "big") >> 16
                h = int.from_bytes(b[off + 4 : off + 8], "big") >> 16
                if w and h:  # skip audio tracks (0x0 presentation)
                    width, height = w, h
            elif btype == b"stts" and not n_frames:
                n_entries = int.from_bytes(b[body + 4 : body + 8], "big")
                total = 0
                for e in range(n_entries):
                    total += int.from_bytes(
                        b[body + 8 + 8 * e : body + 12 + 8 * e], "big"
                    )
                n_frames = total

    walk(0, len(b))
    if not (width and height):
        raise ValueError("MP4 missing a video tkhd")
    return width, height, max(n_frames, 1)


def synthesize_mp4(width: int, height: int, n_frames: int) -> bytes:
    """A minimal structurally valid ISO BMFF skeleton: ftyp + moov
    (mvhd, trak(tkhd + mdia(minf(stbl(stts))))) with the presentation
    size in tkhd (16.16 fixed) and the frame count as one stts entry.
    No media data — this tier is metadata plumbing; the codec payloads
    need av."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mvhd = box(
        b"mvhd",
        bytes(4)  # version 0 + flags
        + struct.pack(">IIII", 0, 0, 25, n_frames)  # times, timescale, dur
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)  # rate, volume, res
        + bytes(8)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + bytes(24)
        + struct.pack(">I", 2),
    )
    tkhd = box(
        b"tkhd",
        bytes(3) + b"\x07"  # version 0, flags: enabled|in-movie|preview
        + struct.pack(">IIIII", 0, 0, 1, 0, n_frames)
        + bytes(8)
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    stts = box(
        b"stts", bytes(4) + struct.pack(">III", 1, n_frames, 1)
    )
    moov = box(b"moov", mvhd + box(b"trak", tkhd + box(b"mdia", box(b"minf", box(b"stbl", stts)))))
    return ftyp + moov


_MP4_W_MOD, _MP4_H_MOD, _MP4_F_MOD = 1264, 688, 2400


def mp4_media_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture builder for the MP4 metadata tier: one structurally
    valid ISO BMFF skeleton per document, presentation size and frame
    count hash-derived."""

    def make(mid: int, h: int) -> tuple[str, bytes]:
        return "video", synthesize_mp4(
            16 + h % _MP4_W_MOD,
            16 + (h // 13) % _MP4_H_MOD,
            1 + (h // 7) % _MP4_F_MOD,
        )

    return _synth_table(docs, text_col, id_col, make, spread=True)


def mp4_meta(media: DataFrame) -> DataFrame:
    """REAL ISO-BMFF box walk over MP4 payloads → (media_id, width,
    height, n_frames, n_bytes)."""

    def rows_of(mid: int, b: bytes):
        w, h, n = _parse_mp4(b)
        yield mid, w, h, n, len(b)

    return _map_payloads(
        media,
        "video",
        rows_of,
        "media_id long, width int, height int, n_frames int, n_bytes long",
    )


def mp4_meta_sql(table: str = "documents") -> str:
    """DuckDB oracle for mp4_media_table → :func:`mp4_meta`: recompute
    the embedded header fields AND the exact container size — the byte
    total pins every box length in the skeleton (ftyp 28 + moov 8 +
    mvhd 108 + trak 8 + tkhd 92 + mdia 8 + minf 8 + stbl 8 + stts 24
    = 292), so a parser/synthesizer layout drift fails the hash."""
    h = _SEED_SQL
    return f"""
SELECT doc_id AS media_id,
       CAST(16 + {h} % {_MP4_W_MOD} AS INT) AS width,
       CAST(16 + ({h} // 13) % {_MP4_H_MOD} AS INT) AS height,
       CAST(1 + ({h} // 7) % {_MP4_F_MOD} AS INT) AS n_frames,
       CAST(292 AS BIGINT) AS n_bytes
FROM {table}
"""


# REAL-codec tier 7: MP4 sample-table frame index. AVC/VP8 pixel
# decode is formally OUT OF SCOPE (SURVEY N16, settled r13: MJPEG-AVI
# is the supported real-video pixel tier; no codec library ships in
# this environment), but the operation a 100 TB video pipeline actually
# runs FIRST is sample-table resolution: parse the stbl tables
# (stsz sample sizes, stco chunk offsets, stsc sample→chunk mapping,
# stss sync samples) and emit one narrow row per frame with its byte
# offset, size and keyframe flag — that is how a trainer samples
# keyframes out of petabytes of video WITHOUT decoding anything (read
# the index, range-read just the keyframe bytes). The resolution
# algorithm below is the general ISO 14496-12 one (walk stsc runs,
# accumulate sizes within each chunk), not a fixture shortcut.

_MP4X_W_MOD, _MP4X_H_MOD, _MP4X_F_MOD = 1264, 688, 48
_MP4X_SZ_MOD, _MP4X_KEY_EVERY = 191, 8


def synthesize_mp4_indexed(
    width: int, height: int, n_frames: int, shift: int
) -> bytes:
    """A structurally valid fragmentless MP4 WITH media data: ftyp +
    moov (mvhd, trak(tkhd, mdia(mdhd, hdlr'vide', minf(vmhd,
    stbl(stsd/avc1, stts, stsc, stsz, stco, stss))))) + mdat. Frame f
    (0-based) has size 64 + (shift + 17·f) % 191 bytes, all samples in
    one chunk, sync samples every 8 frames — everything hash-derivable,
    so the frame index is exactly oracle-checkable."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    sizes = [64 + (shift + 17 * f) % _MP4X_SZ_MOD for f in range(n_frames)]
    keyframes = list(range(1, n_frames + 1, _MP4X_KEY_EVERY))  # 1-based

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mvhd = box(
        b"mvhd",
        bytes(4)
        + struct.pack(">IIII", 0, 0, 30000, n_frames * 1001)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + bytes(8)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + bytes(24)
        + struct.pack(">I", 2),
    )
    tkhd = box(
        b"tkhd",
        bytes(3) + b"\x07"
        + struct.pack(">IIIII", 0, 0, 1, 0, n_frames * 1001)
        + bytes(8)
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = box(
        b"mdhd",
        bytes(4) + struct.pack(">IIII", 0, 0, 30000, n_frames * 1001)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = box(
        b"hdlr", bytes(4) + bytes(4) + b"vide" + bytes(12) + b"\x00"
    )
    vmhd = box(b"vmhd", b"\x00\x00\x00\x01" + bytes(8))
    avc1 = box(
        b"avc1",
        bytes(6) + struct.pack(">H", 1)  # reserved + data_ref_index
        + bytes(16)
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + bytes(4)
        + struct.pack(">H", 1)  # frame_count
        + bytes(32)  # compressorname
        + struct.pack(">Hh", 24, -1),
    )
    stsd = box(b"stsd", bytes(4) + struct.pack(">I", 1) + avc1)
    stts = box(b"stts", bytes(4) + struct.pack(">III", 1, n_frames, 1001))
    stsc = box(b"stsc", bytes(4) + struct.pack(">IIII", 1, 1, n_frames, 1))
    stsz = box(
        b"stsz",
        bytes(4)
        + struct.pack(">II", 0, n_frames)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    stss = box(
        b"stss",
        bytes(4)
        + struct.pack(">I", len(keyframes))
        + b"".join(struct.pack(">I", s) for s in keyframes),
    )
    # stco needs the absolute mdat data offset, which depends on the
    # header size — compute with a placeholder, then rebuild
    def build(chunk_ofs: int) -> bytes:
        stco = box(b"stco", bytes(4) + struct.pack(">II", 1, chunk_ofs))
        stbl = box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
        minf = box(b"minf", vmhd + stbl)
        mdia = box(b"mdia", mdhd + hdlr + minf)
        moov = box(b"moov", mvhd + box(b"trak", tkhd + mdia))
        return ftyp + moov

    header = build(0)
    data_start = len(header) + 8  # + mdat box header
    frames = b"".join(
        bytes([(shift + f) % 256]) * sizes[f] for f in range(n_frames)
    )
    return build(data_start) + box(b"mdat", frames)


def mp4_indexed_media_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture builder for the frame-index tier: one indexed MP4 (with
    mdat) per document, all parameters md5-derived from the text."""

    def make(mid: int, h: int) -> tuple[str, bytes]:
        return "video", synthesize_mp4_indexed(
            16 + h % _MP4X_W_MOD,
            16 + (h // 13) % _MP4X_H_MOD,
            1 + (h // 7) % _MP4X_F_MOD,
            h % 256,
        )

    return _synth_table(docs, text_col, id_col, make, spread=True)


def _walk_boxes(b: bytes, start: int, end: int):
    """Yield (box_type, payload_start, payload_end) for the top-level
    boxes in b[start:end] (32-bit sizes; size==1/64-bit not needed for
    the sub-4GB payloads this tier handles)."""
    import struct

    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", b[pos : pos + 4])
        btype = b[pos + 4 : pos + 8]
        if size < 8:
            break
        yield btype, pos + 8, pos + size
        pos += size


def _find_box(b: bytes, start: int, end: int, path: list[bytes]):
    """Descend a box path (e.g. [moov, trak, mdia, minf, stbl]) with
    BACKTRACKING: if the first child matching a segment does not
    contain the rest of the path, the next matching sibling is tried.
    Returns (payload_start, payload_end) or None."""
    for btype, ps, pe in _walk_boxes(b, start, end):
        if btype == path[0]:
            if len(path) == 1:
                return ps, pe
            found = _find_box(b, ps, pe, path[1:])
            if found is not None:
                return found
    return None


def _video_stbl(b: bytes):
    """The stbl of the VIDEO track: walk every moov/trak, prefer the
    one whose mdia/hdlr handler is 'vide' (real multi-track files
    commonly mux audio first), falling back to the first trak that has
    a sample table at all."""
    moov = _find_box(b, 0, len(b), [b"moov"])
    if moov is None:
        return None
    fallback = None
    for btype, ps, pe in _walk_boxes(b, moov[0], moov[1]):
        if btype != b"trak":
            continue
        mdia = _find_box(b, ps, pe, [b"mdia"])
        if mdia is None:
            continue
        stbl = _find_box(b, mdia[0], mdia[1], [b"minf", b"stbl"])
        if stbl is None:
            continue
        hdlr = _find_box(b, mdia[0], mdia[1], [b"hdlr"])
        handler = (
            b[hdlr[0] + 8 : hdlr[0] + 12] if hdlr is not None else b""
        )
        if handler == b"vide":
            return stbl
        if fallback is None:
            fallback = stbl
    return fallback


def parse_mp4_frame_index(b: bytes) -> list[tuple[int, int, int, bool]]:
    """REAL ISO 14496-12 sample-table resolution: (sample_no_0based,
    byte_offset, size, is_sync) per frame, derived from stsz + stco +
    stsc + stss exactly the way a player resolves sample positions —
    walk the stsc runs chunk by chunk, accumulate sizes within each
    chunk. General over any chunking AND any track order (the video
    trak is selected by its hdlr handler type), not just the
    fixture's."""
    import struct

    stbl = _video_stbl(b)
    if stbl is None:
        raise ValueError("MP4 missing moov/trak/mdia/minf/stbl")
    tables: dict[bytes, tuple[int, int]] = {}
    for btype, ps, pe in _walk_boxes(b, stbl[0], stbl[1]):
        tables[btype] = (ps, pe)
    if b"stsz" not in tables or b"stsc" not in tables or (
        b"stco" not in tables and b"co64" not in tables
    ):
        raise ValueError("MP4 stbl missing stsz/stsc/stco")

    def u32(at: int) -> int:
        return struct.unpack(">I", b[at : at + 4])[0]

    ps, _ = tables[b"stsz"]
    fixed, n_samples = u32(ps + 4), u32(ps + 8)
    sizes = (
        [fixed] * n_samples
        if fixed
        else [u32(ps + 12 + 4 * i) for i in range(n_samples)]
    )
    if b"stco" in tables:
        ps, _ = tables[b"stco"]
        n_chunks = u32(ps + 4)
        chunk_ofs = [u32(ps + 8 + 4 * i) for i in range(n_chunks)]
    else:
        ps, _ = tables[b"co64"]
        n_chunks = u32(ps + 4)
        chunk_ofs = [
            struct.unpack(">Q", b[ps + 8 + 8 * i : ps + 16 + 8 * i])[0]
            for i in range(n_chunks)
        ]
    ps, _ = tables[b"stsc"]
    n_runs = u32(ps + 4)
    runs = [
        (u32(ps + 8 + 12 * i), u32(ps + 12 + 12 * i))  # (first_chunk, per)
        for i in range(n_runs)
    ]
    sync: set[int] = set()
    if b"stss" in tables:
        ps, _ = tables[b"stss"]
        sync = {u32(ps + 8 + 4 * i) for i in range(u32(ps + 4))}

    out = []
    sample = 0  # 0-based
    for ri, (first_chunk, per) in enumerate(runs):
        last_chunk = (
            runs[ri + 1][0] - 1 if ri + 1 < len(runs) else n_chunks
        )
        for chunk in range(first_chunk, last_chunk + 1):
            ofs = chunk_ofs[chunk - 1]
            for _ in range(per):
                if sample >= n_samples:
                    break
                out.append(
                    (sample, ofs, sizes[sample], (sample + 1) in sync)
                )
                ofs += sizes[sample]
                sample += 1
    return out


def _frame_index(media: DataFrame, parse_index) -> DataFrame:
    """One (media_id, frame, offset, n_bytes, keyframe) row per frame,
    for a ``parse_index(payload) -> [(frame, offset, size, key)]``
    container walker."""

    def rows_of(mid: int, b: bytes):
        for frame, ofs, size, key in parse_index(b):
            yield mid, frame, ofs, size, key

    return _map_payloads(
        media,
        "video",
        rows_of,
        "media_id long, frame int, offset long, n_bytes int, keyframe boolean",
    )


def mp4_frame_index(media: DataFrame) -> DataFrame:
    """Per-frame byte index over MP4 payloads: (media_id, frame,
    offset, n_bytes, keyframe) — only the narrow index rows flow on,
    which is the whole point: at 100 TB the downstream keyframe sampler
    range-reads exactly the bytes this index names."""
    return _frame_index(media, parse_mp4_frame_index)


def mp4_frame_index_sql(table: str = "documents") -> str:
    """DuckDB oracle for mp4_indexed_media_table → :func:`mp4_frame_index`:
    re-derive frame sizes from the md5 hash, offsets as header size +
    prefix sum (the header size formula pins every box length in the
    synthesizer — moov grows 4 bytes per frame in stsz plus 4 per sync
    sample in stss), keyframes as the every-8 grid."""
    h = _SEED_SQL
    return f"""
WITH params AS (
  SELECT doc_id AS media_id,
         1 + ({h} // 7) % {_MP4X_F_MOD} AS n_frames,
         {h} % 256 AS shift
  FROM {table}
), frames AS (
  SELECT media_id, n_frames, shift,
         unnest(range(0, n_frames)) AS frame
  FROM params
), sized AS (
  SELECT media_id, frame,
         CAST(64 + (shift + 17 * frame) % {_MP4X_SZ_MOD} AS INT) AS n_bytes,
         -- header: ftyp 28 + moov skeleton 535 + stsz 4/frame
         --         + stss 4/sync + mdat box header 8 (the constant
         --         pins every box length in the synthesizer; verified
         --         against parse_mp4_frame_index in tests)
         535 + 28 + 4 * n_frames
             + 4 * ((n_frames + {_MP4X_KEY_EVERY} - 1) // {_MP4X_KEY_EVERY})
             + 8 AS data_start,
         frame % {_MP4X_KEY_EVERY} = 0 AS keyframe
  FROM frames
)
SELECT media_id, CAST(frame AS INT) AS frame,
       CAST(data_start
            + COALESCE(sum(n_bytes) OVER (PARTITION BY media_id
                                          ORDER BY frame
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0)
            AS BIGINT) AS offset,
       n_bytes, keyframe
FROM sized
"""


# ---------------------------------------------------------------------------
# WebM/Matroska frame index — the EBML twin of the MP4 sample-table walk
# ---------------------------------------------------------------------------
# The other half of web video ships in Matroska containers (WebM =
# Matroska restricted to VP8/VP9/AV1 + Vorbis/Opus). Unlike MP4 there is
# no central sample table: frame positions live inline as SimpleBlock
# elements inside Clusters, each carrying its own keyframe flag — so the
# codec-free index a trainer range-reads keyframes with comes from
# walking the EBML element tree, not from stsz/stsc/stco arithmetic.
# The walker below is a general EBML parser (variable-length IDs and
# sizes, any cluster layout, any element order), not a fixture shortcut;
# lacing and BlockGroup/Block are rejected by name (the synthesizer
# never emits them, and silently mis-indexing laced frames would be
# worse than failing loudly).

_WEBM_FPC = 12  # frames per Cluster in the synthesizer
_WEBM_FRAME_MS = 40  # per-frame timestamp step (25 fps)


def _ebml_uint(val: int, width: int) -> bytes:
    return val.to_bytes(width, "big")


def _ebml_size(val: int, width: int) -> bytes:
    """EBML size varint of a FIXED width (marker bit in the first
    byte): fixed widths keep every synthesized element length a
    closed-form function of the frame count, which is what makes the
    oracle's offset formula possible."""
    if val >= (1 << (7 * width)) - 1:
        raise ValueError(f"size {val} does not fit a {width}-byte varint")
    return ((1 << (7 * width)) | val).to_bytes(width, "big")


def _ebml_elem(eid: bytes, payload: bytes, size_width: int = 1) -> bytes:
    return eid + _ebml_size(len(payload), size_width) + payload


def _webm_static_parts(width: int, height: int) -> tuple[bytes, bytes, bytes]:
    """(ebml_header, info, tracks) — every element fixed-length by
    construction (PixelWidth/PixelHeight always 2-byte uints)."""
    ebml = _ebml_elem(
        b"\x1a\x45\xdf\xa3",
        _ebml_elem(b"\x42\x86", b"\x01")  # EBMLVersion
        + _ebml_elem(b"\x42\xf7", b"\x01")  # EBMLReadVersion
        + _ebml_elem(b"\x42\xf2", b"\x04")  # EBMLMaxIDLength
        + _ebml_elem(b"\x42\xf3", b"\x08")  # EBMLMaxSizeLength
        + _ebml_elem(b"\x42\x82", b"webm")  # DocType
        + _ebml_elem(b"\x42\x87", b"\x02")  # DocTypeVersion
        + _ebml_elem(b"\x42\x85", b"\x02"),  # DocTypeReadVersion
    )
    info = _ebml_elem(
        b"\x15\x49\xa9\x66",
        _ebml_elem(b"\x2a\xd7\xb1", _ebml_uint(1_000_000, 3))  # TimestampScale
        + _ebml_elem(b"\x4d\x80", b"dfu")  # MuxingApp
        + _ebml_elem(b"\x57\x41", b"dfu"),  # WritingApp
    )
    video = _ebml_elem(
        b"\xe0",
        _ebml_elem(b"\xb0", _ebml_uint(width, 2))  # PixelWidth
        + _ebml_elem(b"\xba", _ebml_uint(height, 2)),  # PixelHeight
    )
    track = _ebml_elem(
        b"\xae",
        _ebml_elem(b"\xd7", b"\x01")  # TrackNumber
        + _ebml_elem(b"\x73\xc5", b"\x01")  # TrackUID
        + _ebml_elem(b"\x83", b"\x01")  # TrackType: video
        + _ebml_elem(b"\x86", b"V_VP8")  # CodecID
        + video,
    )
    tracks = _ebml_elem(b"\x16\x54\xae\x6b", track)
    return ebml, info, tracks


# Constant byte count before the first Cluster: EBML header + Segment
# ID (4) + Segment 8-byte size varint + Info + Tracks. Width/height only
# change VALUES of fixed-width fields, never lengths, so any arguments
# give the same total.
_WEBM_HDR_LEN = (
    len(_webm_static_parts(16, 16)[0])
    + 4 + 8
    + len(_webm_static_parts(16, 16)[1])
    + len(_webm_static_parts(16, 16)[2])
)
# Per-cluster overhead: Cluster ID (4) + 4-byte size varint + Timestamp
# element (ID 0xE7 + 1-byte size + 2-byte value) = 12. Per-frame
# overhead inside a SimpleBlock: ID 0xA3 (1) + 2-byte size varint +
# track varint 0x81 (1) + 2-byte relative timestamp + flags (1) = 7.
_WEBM_CLUSTER_OVH = 12
_WEBM_FRAME_OVH = 7


def synthesize_webm_indexed(
    width: int, height: int, n_frames: int, shift: int
) -> bytes:
    """A structurally valid WebM with media data: EBML header +
    Segment(Info, Tracks(TrackEntry V_VP8), Cluster*). Frame f
    (0-based) has size 64 + (shift + 17·f) % {sz} bytes of the fill
    byte (shift+f) % 256, packed {fpc} SimpleBlocks per Cluster, the
    keyframe flag set every {key} frames — everything hash-derivable,
    so the frame index is exactly oracle-checkable (the MP4
    synthesize_mp4_indexed contract, EBML container)."""
    sizes = [64 + (shift + 17 * f) % _MP4X_SZ_MOD for f in range(n_frames)]
    ebml, info, tracks = _webm_static_parts(width, height)
    clusters = b""
    for c0 in range(0, n_frames, _WEBM_FPC):
        blocks = b""
        for f in range(c0, min(c0 + _WEBM_FPC, n_frames)):
            flags = 0x80 if f % _MP4X_KEY_EVERY == 0 else 0x00
            payload = (
                b"\x81"  # track number varint (track 1)
                + ((f - c0) * _WEBM_FRAME_MS).to_bytes(2, "big")
                + bytes([flags])
                + bytes([(shift + f) % 256]) * sizes[f]
            )
            blocks += b"\xa3" + _ebml_size(len(payload), 2) + payload
        cluster_payload = (
            _ebml_elem(b"\xe7", _ebml_uint(c0 * _WEBM_FRAME_MS, 2)) + blocks
        )
        clusters += (
            b"\x1f\x43\xb6\x75" + _ebml_size(len(cluster_payload), 4)
            + cluster_payload
        )
    segment_payload = info + tracks + clusters
    return (
        ebml
        + b"\x18\x53\x80\x67"
        + _ebml_size(len(segment_payload), 8)
        + segment_payload
    )


synthesize_webm_indexed.__doc__ = synthesize_webm_indexed.__doc__.format(
    sz=_MP4X_SZ_MOD, fpc=_WEBM_FPC, key=_MP4X_KEY_EVERY
)


def webm_indexed_media_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture builder for the WebM frame-index tier: one WebM per
    document, parameters md5-derived from the text exactly like
    :func:`mp4_indexed_media_table`."""

    def make(mid: int, h: int) -> tuple[str, bytes]:
        return "video", synthesize_webm_indexed(
            16 + h % _MP4X_W_MOD,
            16 + (h // 13) % _MP4X_H_MOD,
            1 + (h // 7) % _MP4X_F_MOD,
            h % 256,
        )

    return _synth_table(docs, text_col, id_col, make, spread=True)


def _ebml_read_id(b: bytes, pos: int) -> tuple[int, int]:
    """EBML element ID at pos → (id_as_int_with_marker, next_pos)."""
    first = b[pos]
    if first == 0:
        raise ValueError("invalid EBML ID (leading zero byte)")
    length, mask = 1, 0x80
    while not (first & mask):
        mask >>= 1
        length += 1
        if length > 4:
            raise ValueError("EBML ID longer than 4 bytes")
    return int.from_bytes(b[pos : pos + length], "big"), pos + length


def _ebml_read_size(b: bytes, pos: int) -> tuple[int, int]:
    """EBML size varint at pos → (value, next_pos); rejects the
    all-ones "unknown size" form (streaming Matroska — an index over a
    finite blob never needs it)."""
    first = b[pos]
    if first == 0:
        raise ValueError("invalid EBML size (leading zero byte)")
    length, mask = 1, 0x80
    while not (first & mask):
        mask >>= 1
        length += 1
        if length > 8:
            raise ValueError("EBML size longer than 8 bytes")
    val = first & (mask - 1)
    for i in range(1, length):
        val = (val << 8) | b[pos + i]
    if val == (1 << (7 * length)) - 1:
        raise ValueError("unknown-size EBML element not supported")
    return val, pos + length


def _ebml_children(b: bytes, start: int, end: int):
    """Yield (element_id, payload_start, payload_end) for the EBML
    elements in b[start:end] — variable-length IDs and sizes, any
    order."""
    pos = start
    while pos < end:
        eid, p = _ebml_read_id(b, pos)
        size, p = _ebml_read_size(b, p)
        if p + size > end:
            raise ValueError("EBML element overruns its parent")
        yield eid, p, p + size
        pos = p + size


def parse_webm_frame_index(b: bytes) -> list[tuple[int, int, int, bool]]:
    """REAL Matroska/WebM resolution: (frame_no_0based, byte_offset,
    size, is_keyframe) per video frame, derived by walking the EBML
    tree — Segment → Cluster* → SimpleBlock* in storage order, the
    keyframe bit read from each SimpleBlock\'s flags byte, the offset
    pointing at the frame PAYLOAD (after the block\'s track/timestamp/
    flags header), exactly the bytes a keyframe sampler range-reads.
    General over any cluster layout and element order; laced blocks and
    BlockGroup/Block are rejected by name rather than mis-indexed."""
    segment = None
    for eid, ps, pe in _ebml_children(b, 0, len(b)):
        if eid == 0x18538067:  # Segment
            segment = (ps, pe)
            break
    if segment is None:
        raise ValueError("WebM missing Segment element")
    out: list[tuple[int, int, int, bool]] = []
    frame = 0
    for eid, ps, pe in _ebml_children(b, segment[0], segment[1]):
        if eid != 0x1F43B675:  # Cluster
            continue
        for ceid, cps, cpe in _ebml_children(b, ps, pe):
            if ceid == 0xA0:
                raise ValueError(
                    "Matroska BlockGroup/Block not supported (only "
                    "SimpleBlock); keyframe flags would need "
                    "ReferenceBlock resolution"
                )
            if ceid != 0xA3:  # SimpleBlock
                continue
            _, p = _ebml_read_size(b, cps)  # track number varint
            p += 2  # relative timestamp (signed 16-bit)
            flags = b[p]
            if flags & 0x06:
                raise ValueError(
                    "laced SimpleBlock not supported (lacing bits set)"
                )
            p += 1
            out.append((frame, p, cpe - p, bool(flags & 0x80)))
            frame += 1
    return out


def webm_frame_index(media: DataFrame) -> DataFrame:
    """Per-frame byte index over WebM payloads: (media_id, frame,
    offset, n_bytes, keyframe) — the EBML twin of
    :func:`mp4_frame_index`."""
    return _frame_index(media, parse_webm_frame_index)


def webm_frame_index_sql(table: str = "documents") -> str:
    """DuckDB oracle for webm_indexed_media_table →
    :func:`webm_frame_index`: re-derive frame sizes from the md5 hash;
    offset(f) = header + cluster overhead × (f // fpc + 1) + per-frame
    block overhead × (f + 1) + prefix sum of earlier frame sizes (the
    fixed-width EBML encodings in the synthesizer pin every element
    length; verified against parse_webm_frame_index in tests)."""
    h = _SEED_SQL
    return f"""
WITH params AS (
  SELECT doc_id AS media_id,
         1 + ({h} // 7) % {_MP4X_F_MOD} AS n_frames,
         {h} % 256 AS shift
  FROM {table}
), frames AS (
  SELECT media_id, shift,
         unnest(range(0, n_frames)) AS frame
  FROM params
), sized AS (
  SELECT media_id, frame,
         CAST(64 + (shift + 17 * frame) % {_MP4X_SZ_MOD} AS INT) AS n_bytes,
         frame % {_MP4X_KEY_EVERY} = 0 AS keyframe
  FROM frames
)
SELECT media_id, CAST(frame AS INT) AS frame,
       CAST({_WEBM_HDR_LEN}
            + {_WEBM_CLUSTER_OVH} * (frame // {_WEBM_FPC} + 1)
            + {_WEBM_FRAME_OVH} * (frame + 1)
            + COALESCE(sum(n_bytes) OVER (PARTITION BY media_id
                                          ORDER BY frame
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0)
            AS BIGINT) AS offset,
       n_bytes, keyframe
FROM sized
"""


# ---------------------------------------------------------------------------
# Perceptual audio fingerprinting — the WAV twin of the image dHash
# ---------------------------------------------------------------------------

_AFP_WINDOWS = 32  # energy windows per clip → 31 delta-sign bits


def _audio_fp(samples) -> int:
    """Windowed-energy delta-sign fingerprint of a decoded PCM stream
    (chromaprint-style, radically simplified): split the interleaved
    int16 stream into 32 equal windows by the integer index map
    lo_k = (k·total)//32, take sum(|x|) per window, keep only the SIGNS
    of consecutive energy deltas — 31 bits, packed into an int. Gain
    changes scale all energies equally and re-encodings perturb them
    slightly, but the delta signs survive — same robustness argument
    as the image gradient-sign hash."""
    import numpy as np

    flat = np.abs(samples.astype(np.int64)).ravel()
    total = flat.shape[0]
    bounds = [(k * total) // _AFP_WINDOWS for k in range(_AFP_WINDOWS + 1)]
    e = [int(flat[bounds[k]:bounds[k + 1]].sum()) for k in range(_AFP_WINDOWS)]
    fp = 0
    for k in range(_AFP_WINDOWS - 1):
        if e[k + 1] > e[k]:
            fp |= 1 << k
    return fp


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Perceptual fingerprint per audio clip: (media_id, sample_rate,
    n_channels, n_frames, fp) — REAL PCM16 WAV decode inside the scan
    task, one int fingerprint out; the audio member of the perceptual
    dedup family next to :func:`image_dhash`."""

    def rows_of(mid: int, b: bytes):
        rate, nch, samples = decode_wav_samples(b)
        yield mid, rate, nch, samples.shape[0], _audio_fp(samples)

    return _map_payloads(
        media,
        "audio",
        rows_of,
        "media_id long, sample_rate int, n_channels int, n_frames int, fp long",
    )


def audio_fingerprint_dedup(media: DataFrame) -> DataFrame:
    """Perceptual audio dedup groups: clips sharing the fingerprint —
    which re-sampled/re-tagged copies of the same signal do while their
    byte hashes differ. One combinable groupBy over an 8-byte key
    (exact_dedup's scale shape): (fp, n_clips, n_distinct_rates,
    canonical_id) for groups of ≥ 2; n_distinct_rates > 1 marks groups
    that collapse genuinely re-sampled copies."""
    fps = audio_fingerprint(media)
    return (
        fps.groupBy("fp")
        .agg(
            F.count("*").alias("n_clips"),
            F.countDistinct("sample_rate").alias("n_distinct_rates"),
            F.min("media_id").alias("canonical_id"),
        )
        .filter(F.col("n_clips") >= 2)
    )


def audio_fingerprint_sql(table: str = "documents") -> str:
    """DuckDB oracle for real_media_table → :func:`audio_fingerprint`:
    the sawtooth fixture's windowed energies in closed form — sample i
    of the interleaved stream is (i·257) % 32768 − 16384, windows by
    the same integer index map. The ENGINE decodes real RIFF bytes; the
    oracle predicts the result from the generator arithmetic."""
    h = _SEED_SQL
    W = _AFP_WINDOWS
    # COALESCE: clips shorter than 32 samples leave some windows empty,
    # and DuckDB's list_sum([]) is NULL where the engine's empty-slice
    # sum is 0
    energy = (
        f"list_transform(range({W}), k -> COALESCE(list_sum(list_transform("
        f"range((k * total) // {W}, ((k + 1) * total) // {W}), "
        f"i -> abs((i * 257) % 32768 - 16384))), 0))"
    )
    fp = (
        f"list_sum(list_transform(range({W - 1}), "
        f"k -> CASE WHEN e[k + 2] > e[k + 1] THEN 1 << k ELSE 0 END))"
    )
    return f"""
WITH params AS (
  SELECT doc_id AS media_id,
         CAST(8000 + {h} % {_WAV_RATE_MOD} AS INT) AS sample_rate,
         CAST(1 + {h} % 2 AS INT) AS n_channels,
         CAST(16 + ({h} // 7) % {_WAV_N_MOD} AS INT) AS n_frames
  FROM {table} WHERE doc_id % 2 = 1
), with_e AS (
  SELECT media_id, sample_rate, n_channels, n_frames, {energy} AS e
  FROM (SELECT *, n_frames * n_channels AS total FROM params)
)
SELECT media_id, sample_rate, n_channels, n_frames,
       CAST(COALESCE({fp}, 0) AS BIGINT) AS fp
FROM with_e
"""


def audio_fingerprint_dedup_sql(table: str = "documents") -> str:
    """DuckDB oracle for :func:`audio_fingerprint_dedup`."""
    return f"""
WITH fps AS ({audio_fingerprint_sql(table)})
SELECT fp, CAST(count(*) AS BIGINT) AS n_clips,
       CAST(count(DISTINCT sample_rate) AS BIGINT) AS n_distinct_rates,
       min(media_id) AS canonical_id
FROM fps GROUP BY fp HAVING count(*) >= 2
"""


def audio_window_features(media: DataFrame, window: int = 512) -> DataFrame:
    """Windowed PCM feature extraction — the audio segmentation shape a
    training pipeline needs (silence trimming, VAD-ish gating, chunked
    captioning): split each decoded int16 stream into fixed
    non-overlapping windows of ``window`` frames and emit one feature
    row per window — (media_id, win_idx, n_in_window, sq_sum,
    zero_crossings, s_min, s_max). Same scale shape as GIF frame
    sampling: the fan-out multiplies ROW COUNT, never payload bytes."""
    import numpy as np

    def rows_of(mid: int, b: bytes):
        rate, nch, samples = decode_wav_samples(b)
        n = samples.shape[0]
        for wi in range(-(-n // window)):
            seg = samples[wi * window : (wi + 1) * window]
            flat = seg.ravel().astype(np.int64)  # interleaved
            zc = int(((flat[:-1] * flat[1:]) < 0).sum())
            yield (
                mid, wi, seg.shape[0],
                int((flat * flat).sum()), zc,
                int(flat.min()), int(flat.max()),
            )

    return _map_payloads(
        media,
        "audio",
        rows_of,
        "media_id long, win_idx int, n_in_window int, "
        "sq_sum long, zero_crossings int, s_min int, s_max int",
    )


def audio_window_features_sql(table: str = "documents", window: int = 512) -> str:
    """DuckDB oracle for :func:`audio_window_features`: per window,
    recompute the sawtooth over the interleaved index range
    [win*window*nch, min((win+1)*window, nfr)*nch) — all integer."""
    h = _SEED_SQL
    s = "((i * 257) % 32768 - 16384)"
    s1 = "(((i + 1) * 257) % 32768 - 16384)"
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(1 + {h} % 2 AS BIGINT) AS nch,
         CAST(256 + ({h} // 3) % {_WAV_AUDIO_N_MOD} AS BIGINT) AS nfr
  FROM {table}
), wins AS (
  SELECT media_id, nch, nfr, unnest(range(0, (nfr + {window} - 1) // {window}))
         AS win
  FROM dims
), spans AS (
  SELECT media_id, CAST(win AS INT) AS win_idx, nch,
         win * {window} * nch AS lo,
         least((win + 1) * {window}, nfr) * nch AS hi
  FROM wins
)
SELECT media_id, win_idx,
       CAST((hi - lo) // nch AS INT) AS n_in_window,
       CAST(list_sum(list_transform(range(lo, hi), i ->
         {s} * {s})) AS BIGINT) AS sq_sum,
       CAST(len(list_filter(range(lo, hi - 1), i ->
         {s} * {s1} < 0)) AS INT) AS zero_crossings,
       CAST(list_min(list_transform(range(lo, hi), i -> {s})) AS INT) AS s_min,
       CAST(list_max(list_transform(range(lo, hi), i -> {s})) AS INT) AS s_max
FROM spans
"""


def audio_features_sql(table: str = "documents") -> str:
    """DuckDB oracle for wav_audio_table → :func:`audio_features`:
    recomputes every feature from the sawtooth s(i) = (i*257) % 32768
    - 16384 over the interleaved stream — all integer arithmetic, so
    the compare is exact."""
    h = _SEED_SQL
    s = "((i * 257) % 32768 - 16384)"
    s1 = "(((i + 1) * 257) % 32768 - 16384)"
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(8000 + {h} % {_WAV_AUDIO_RATE_MOD} AS BIGINT) AS rate,
         CAST(1 + {h} % 2 AS BIGINT) AS nch,
         CAST(256 + ({h} // 3) % {_WAV_AUDIO_N_MOD} AS BIGINT) AS nfr
  FROM {table}
)
SELECT media_id,
       CAST(rate AS INT) AS sample_rate, CAST(nch AS INT) AS n_channels,
       CAST(nfr AS INT) AS n_frames,
       CAST(list_sum(list_transform(range(nfr * nch), i ->
         {s} * {s})) AS BIGINT) AS sq_sum,
       CAST(len(list_filter(range(nfr * nch - 1), i ->
         {s} * {s1} < 0)) AS INT) AS zero_crossings,
       CAST(list_min(list_transform(range(nfr * nch), i -> {s})) AS INT) AS s_min,
       CAST(list_max(list_transform(range(nfr * nch), i -> {s})) AS INT) AS s_max
FROM dims
"""


# ---------------------------------------------------------------------------
# REAL-codec tier 6: MJPEG-in-AVI frame decode. The reference decodes
# video into per-frame features (DataFrameUtils media handlers; cf.
# reference time_series_study.py-style per-group fan-out); here the
# container is a structurally valid RIFF/AVI (public spec: MSDN
# 'AVI RIFF File Reference') whose '00dc' chunks are baseline JPEGs
# from operators/jpeg.py — so the FRAME PIXELS are real decoder output
# (Huffman + dequant + IDCT, ImageIO-cross-validated in tests/
# test_jpeg.py) and the container walk reuses the same RIFF chunk
# discipline as the WAV tier. Fan-out multiplies rows, never payload
# bytes — the 100 TB shape of every pixel tier above.
# ---------------------------------------------------------------------------

# non-multiples of 8 exercise edge-block crop; shift step 29 is coprime
# with 256 so consecutive frames never alias
_AVI_W_MOD, _AVI_H_MOD, _AVI_F_MOD, _AVI_S_MOD = 40, 40, 5, 251
_AVI_FRAME_STEP = 29


def synthesize_avi(width: int, height: int, n_frames: int, shift: int) -> bytes:
    """A minimal VALID MJPEG AVI: RIFF('AVI ') with a full 'hdrl'
    (avih main header + one 'vids'/'MJPG' stream with strh/strf
    BITMAPINFOHEADER), a 'movi' LIST of one '00dc' JPEG chunk per
    frame (word-aligned per RIFF), and a standard 'idx1' keyframe
    index. Frame f's pixels are block(x//8, y//8) =
    (11*bx + 17*by + shift + 29*f) % 256 — exact through JPEG
    quantization, so the whole chain is value-checkable."""
    import struct as _struct

    from dataframeutils_spark.operators.jpeg import synthesize_jpeg

    def chunk(cid: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) & 1 else b""
        return cid + _struct.pack("<I", len(payload)) + payload + pad

    def lst(ltype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", ltype + payload)

    frames = [
        synthesize_jpeg(width, height, (shift + _AVI_FRAME_STEP * f) % 256)
        for f in range(n_frames)
    ]
    max_len = max(len(fr) for fr in frames)
    avih = _struct.pack(
        "<10I4I",
        100_000,  # dwMicroSecPerFrame (10 fps)
        max_len * 10,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        n_frames, 0, 1, max_len,  # totalFrames, initialFrames, streams, bufSize
        width, height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = (
        b"vids" + b"MJPG"
        + _struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 10, 0, n_frames, max_len, 0xFFFFFFFF, 0)
        + _struct.pack("<4h", 0, 0, width, height)
    )
    strf = _struct.pack(
        "<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_payload = bytearray()
    idx = bytearray()
    for fr in frames:
        # idx1 offsets count from the 'movi' fourcc (the common
        # convention players expect)
        idx += b"00dc" + _struct.pack("<III", 0x10, 4 + len(movi_payload), len(fr))
        movi_payload += chunk(b"00dc", fr)
    movi = lst(b"movi", bytes(movi_payload))
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + _struct.pack("<I", len(body)) + body


def decode_avi_frames(b: bytes):
    """REAL frame decode for MJPEG AVI: RIFF walk to 'hdrl' (avih gives
    the canvas dims and declared frame count) and the 'movi' LIST, then
    every '00dc'/'00db' chunk through the from-scratch baseline-JPEG
    decoder. Returns (width, height, [numpy (h, w) uint8 per frame]).
    The avih frame count is cross-checked against the chunk walk so a
    desynced container raises instead of silently truncating."""
    import struct as _struct

    from dataframeutils_spark.operators.jpeg import decode_jpeg_pixels

    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    width = height = declared = None
    frames = []

    def walk(start: int, end: int) -> None:
        nonlocal width, height, declared
        pos = start
        while pos + 8 <= end:
            cid = b[pos : pos + 4]
            ln = _struct.unpack("<I", b[pos + 4 : pos + 8])[0]
            body_start = pos + 8
            if cid == b"LIST":
                walk(body_start + 4, body_start + ln)
            elif cid == b"avih":
                (_, _, _, _, declared, _, _, _, width, height) = _struct.unpack(
                    "<10I", b[body_start : body_start + 40]
                )
            elif cid in (b"00dc", b"00db"):
                _, _, img = decode_jpeg_pixels(b[body_start : body_start + ln])
                frames.append(img)
            pos = body_start + ln + (ln & 1)  # RIFF chunks are word-aligned

    walk(12, 8 + _struct.unpack("<I", b[4:8])[0])
    if width is None:
        raise ValueError("AVI missing avih header")
    if declared != len(frames):
        raise ValueError(
            f"AVI frame count desync: avih declares {declared}, movi has {len(frames)}"
        )
    return width, height, frames


def avi_media_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fixture builder for the MJPEG-AVI pixel tier: one valid AVI per
    document, dims / frame count / gradient shift hash-derived (same
    md5 arithmetic as :func:`real_media_table`)."""

    def make(mid: int, h: int) -> tuple[str, bytes]:
        return "video", synthesize_avi(
            9 + h % _AVI_W_MOD,
            9 + (h // _AVI_W_MOD) % _AVI_H_MOD,
            2 + (h // 11) % _AVI_F_MOD,
            (h // 7) % _AVI_S_MOD,
        )

    return _synth_table(docs, text_col, id_col, make, spread=True)


def avi_frame_stats(media: DataFrame, every_k: int = 2) -> DataFrame:
    """REAL-pixel video frame sampling: decode every ``every_k``-th
    MJPEG frame of each AVI payload and reduce it to per-frame
    intensity stats — (media_id, frame_idx, src_w, src_h, px_sum,
    px_min, px_max); the AVI twin of :func:`gif_frame_stats`."""
    return _frame_stats(media, every_k, decode_avi_frames)


def avi_frame_stats_sql(table: str = "documents", every_k: int = 2) -> str:
    """DuckDB oracle for avi_media_table → :func:`avi_frame_stats`:
    recomputes every sampled frame's stats from the block gradient
    pixel(x, y, f) = (11*(x//8) + 17*(y//8) + s + 29*f) % 256 — the
    container walk AND the JPEG entropy/DC/IDCT chain must recover
    exactly this raster for every checked frame."""
    h = _SEED_SQL
    px = f"(11 * (x // 8) + 17 * (y // 8) + s + {_AVI_FRAME_STEP} * f) % 256"
    return f"""
WITH dims AS (
  SELECT doc_id AS media_id,
         CAST(9 + {h} % {_AVI_W_MOD} AS BIGINT) AS w,
         CAST(9 + ({h} // {_AVI_W_MOD}) % {_AVI_H_MOD} AS BIGINT) AS hgt,
         CAST(2 + ({h} // 11) % {_AVI_F_MOD} AS BIGINT) AS nf,
         CAST(({h} // 7) % {_AVI_S_MOD} AS BIGINT) AS s
  FROM {table}
), sampled AS (
  SELECT media_id, w, hgt, s, unnest(range(0, nf, {every_k})) AS f FROM dims
)
SELECT media_id, CAST(f AS INT) AS frame_idx,
       CAST(w AS INT) AS src_w, CAST(hgt AS INT) AS src_h,
       CAST(list_sum(list_transform(range(hgt), y ->
         list_sum(list_transform(range(w), x -> {px})))) AS BIGINT) AS px_sum,
       CAST(list_min(list_transform(range(hgt), y ->
         list_min(list_transform(range(w), x -> {px})))) AS INT) AS px_min,
       CAST(list_max(list_transform(range(hgt), y ->
         list_max(list_transform(range(w), x -> {px})))) AS INT) AS px_max
FROM sampled
"""
