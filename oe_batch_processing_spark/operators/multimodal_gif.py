"""GIF89a container + LZW codec — the ninth hand-written format grammar.

Unlike JPEG, GIF is LOSSLESS, so the ENTIRE corpus hash-oracles (no
flat-block subspace needed): encoder and decoder are both hand-written
from the public spec (GIF89a + the GIF variant of LZW), and the DuckDB
oracle recomputes every statistic from the raster generation rule — any
defect anywhere (LZW dict growth, variable code widths, sub-block
framing, palette indexing, interlace reordering) shifts the decoded
pixels and fails the hash.

Grammar implemented for real:
* header + logical screen descriptor (packed global-color-table flags),
* 256-entry grayscale identity global color table,
* a Graphic Control Extension and a Comment extension (0x21 blocks with
  sub-block walking — ancillary data the decoder must skip correctly),
* image descriptor with the INTERLACE flag: every 3rd file is written in
  the 4-pass interlaced row order (rows 0::8, 4::8, 2::4, 1::2) and the
  decoder de-interlaces — a wrong pass order scrambles rows and breaks
  the vertical-gradient statistic,
* LZW image data: variable code width starting at min_code_size+1,
  Clear/EOI codes, dict growth to 4095 with mid-stream Clear re-emission
  (the encoder clears whenever the table fills, so multi-KB rasters
  exercise the reset path), LSB-first bit packing (the OPPOSITE bit
  order of JPEG's entropy stream) through the shared ``LsbWriter`` /
  ``LsbReader`` of ``functions/bitio.py``, 255-byte sub-block framing.

Reference scope note: the reference engine (SURVEY.md §2.1) has no media
path; this extends the §2.2 multimodal family. Since round 9 no codec
stub remains: H.264 I-PCM, TIFF and literal-only-VP8L WebP all decode
for real (multimodal_h264.py, multimodal_tiff.py, multimodal_webp.py).

Scale: identical shape to the PNG/BMP/JPEG transcodes — two chained
mapInPandas stages over a bounded fan-out of raw rows; per-file work is
O(pixels) dict operations. A real corpus enters at the decode stage from
a binaryFile scan of .gif blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oe_batch_processing_spark.functions.bitio import LsbReader, LsbWriter
from oe_batch_processing_spark.registry import query
from oe_batch_processing_spark.tables import load_table

_MCS = 8  # LZW minimum code size for a 256-color table


def _interlace_order(h: int) -> list[int]:
    """GIF 4-pass interlace: the file stores rows in this source order."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def _lzw_compress(data: bytes, mcs: int = _MCS) -> bytes:
    """GIF-variant LZW: emits Clear first, re-emits Clear when the table
    reaches 4096 entries, ends with EOI; variable code width grows when
    the next code would not fit."""
    clear = 1 << mcs
    eoi = clear + 1
    w = LsbWriter()

    def reset():
        return {bytes([i]): i for i in range(clear)}, eoi + 1, mcs + 1

    table, next_code, width = reset()
    w.put(clear, width)
    prefix = b""
    for byte in data:
        cand = prefix + bytes([byte])
        if cand in table:
            prefix = cand
            continue
        w.put(table[prefix], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code > 4095:
            w.put(clear, width)
            table, next_code, width = reset()
        prefix = bytes([byte])
    if prefix:
        w.put(table[prefix], width)
    w.put(eoi, width)
    return w.flush()


def _lzw_decompress(data: bytes, mcs: int = _MCS) -> bytes:
    """Inverse of :func:`_lzw_compress`, rebuilt from the spec: the
    decoder's table lags the encoder's by one entry (the classic
    KwKwK case is the `code == next_code` branch)."""
    clear = 1 << mcs
    eoi = clear + 1
    out = bytearray()
    r = LsbReader(data)
    width = mcs + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None
    while True:
        code = r.get(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table) or not table[code]:
                raise ValueError("first code after clear must be literal")
            entry = table[code]
        elif code < len(table) and table[code]:
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    raise AssertionError  # unreachable


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)  # block terminator
    return bytes(out)


def encode_gif(raster: bytes, w: int, h: int, interlace: bool) -> bytes:
    """Encode an 8-bit grayscale raster as a REAL GIF89a with a 256-entry
    identity-grayscale global color table, a GCE + Comment extension,
    optional interlacing, and hand-written LZW image data."""
    import struct

    if len(raster) != w * h:
        raise ValueError("raster length mismatch")
    out = bytearray(b"GIF89a")
    # logical screen descriptor: GCT present, 8 bits/color, size 256
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    for i in range(256):
        out += bytes((i, i, i))  # identity grayscale palette
    # Graphic Control Extension (ancillary; decoder must sub-block walk)
    out += b"\x21\xf9" + _sub_blocks(b"\x00\x00\x00\x00")
    # Comment extension
    out += b"\x21\xfe" + _sub_blocks(b"oebp-spark")
    # image descriptor
    packed = 0x40 if interlace else 0x00
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, packed)
    if interlace:
        rows = _interlace_order(h)
        body = b"".join(raster[r * w:(r + 1) * w] for r in rows)
    else:
        body = raster
    out.append(_MCS)
    out += _sub_blocks(_lzw_compress(body))
    out += b"\x3b"  # trailer
    return bytes(out)


def parse_gif(b: bytes) -> tuple:
    """Decode a GIF -> (w, h, raster bytes, interlaced, n_extensions).

    Walks the real grammar: header version check, logical screen
    descriptor, global color table (validated identity-grayscale here —
    the corpus contract), extension blocks skipped by sub-block walking,
    image descriptor (interlace flag honored, de-interlacing applied),
    LZW decode with dict rebuild and mid-stream Clear support, raster
    length validation, trailer check. Raises ValueError on malformed
    structure."""
    import struct

    if b[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("bad GIF signature")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    i = 13
    palette = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        palette = b[i:i + 3 * size]
        if len(palette) != 3 * size:
            raise ValueError("truncated global color table")
        i += 3 * size
    n_ext = 0
    while True:
        if i >= len(b):
            raise ValueError("missing trailer")
        sep = b[i]
        i += 1
        if sep == 0x3B:  # trailer before any image
            raise ValueError("no image data")
        if sep == 0x21:  # extension: label + sub-blocks
            n_ext += 1
            i += 1  # label
            while True:
                if i >= len(b):
                    raise ValueError("truncated extension")
                n = b[i]
                i += 1 + n
                if n == 0:
                    break
            continue
        if sep == 0x2C:  # image descriptor
            left, top, w, h, ipacked = struct.unpack("<HHHHB", b[i:i + 9])
            i += 9
            if ipacked & 0x80:  # local color table
                size = 2 << (ipacked & 0x07)
                palette = b[i:i + 3 * size]
                i += 3 * size
            interlaced = bool(ipacked & 0x40)
            mcs = b[i]
            i += 1
            if not (2 <= mcs <= 8):
                raise ValueError(f"bad LZW min code size {mcs}")
            lzw = bytearray()
            while True:
                if i >= len(b):
                    raise ValueError("truncated image data")
                n = b[i]
                i += 1
                if n == 0:
                    break
                lzw += b[i:i + n]
                i += n
            if i >= len(b) or b[i] != 0x3B:
                raise ValueError("missing trailer after image")
            if palette is None:
                raise ValueError("no color table")
            idx = _lzw_decompress(bytes(lzw), mcs)
            if len(idx) != w * h:
                raise ValueError(
                    f"decoded {len(idx)} pixels for {w}x{h} image"
                )
            # map indices through the palette (grayscale: r==g==b)
            lut = palette
            for j in range(0, len(lut), 3):
                if not (lut[j] == lut[j + 1] == lut[j + 2]):
                    raise ValueError("non-grayscale palette in gray corpus")
            gray = bytes(lut[3 * px] for px in idx)
            if interlaced:
                rows = _interlace_order(h)
                out = bytearray(w * h)
                for srow, drow in enumerate(rows):
                    out[drow * w:(drow + 1) * w] = gray[srow * w:(srow + 1) * w]
                gray = bytes(out)
            return w, h, gray, interlaced, n_ext
        raise ValueError(f"unexpected block separator 0x{sep:02X}")


_GIF_ORACLE = """
    WITH g AS (
      SELECT doc_id AS media_id,
             CAST(10 + doc_id % 13 AS BIGINT) AS w,
             hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    ),
    dims AS (
      SELECT media_id, w, n_bytes // w AS h
      FROM g WHERE n_bytes // w >= 2
    ),
    px AS (
      SELECT d.media_id, d.w, d.h,
             [ (instr('0123456789ABCDEF', g.hx[2*i+1]) - 1) * 16
             + (instr('0123456789ABCDEF', g.hx[2*i+2]) - 1)
               FOR i IN range(d.w * d.h)] AS l
      FROM dims d JOIN g USING (media_id)
    )
    SELECT media_id,
           CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
           CAST(media_id % 3 = 0 AS BOOLEAN) AS interlaced,
           CAST(2 AS INTEGER) AS n_extensions,
           CAST(LIST_SUM(l) // (w * h) AS INTEGER) AS mean_lum,
           CAST(COALESCE(LIST_SUM([
             CASE WHEN i % w <> 0 THEN ABS(l[i+1] - l[i]) ELSE 0 END
             FOR i IN range(1, w * h)]), 0) AS BIGINT) AS hgrad,
           CAST(COALESCE(LIST_SUM([
             ABS(l[i + w + 1] - l[i + 1])
             FOR i IN range(w * (h - 1))]), 0) AS BIGINT) AS vgrad
    FROM px
"""


@query("multimodal_gif_decode", oracle=_GIF_ORACLE)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS compressed-image roundtrip with a full hash oracle over
    the ENTIRE corpus: build grayscale rasters from the documents table
    (w = 10 + doc_id % 13, raster = leading w*h utf-8 bytes), encode as
    genuine GIF89a (:func:`encode_gif` — identity palette, GCE + Comment
    extensions, every 3rd file INTERLACED, hand-written LZW with
    mid-stream Clear), decode with :func:`parse_gif` (grammar walk,
    sub-block skipping, LZW dict rebuild, de-interlacing, palette
    mapping), and emit the same luminance/gradient statistics as the
    netpbm/PNG decodes plus the interlace flag and extension count. GIF
    is lossless, so — unlike JPEG — arbitrary pixel data is exact and no
    subspace restriction is needed; the vertical gradient statistic is
    scrambled by any interlace-pass mistake.

    Scale: two chained mapInPandas stages over one bounded round-robin
    fan-out (same plan contract as the JPEG pipelines, asserted in
    tests/test_plans.py); per-file work is O(pixels) LZW dict ops.
    """
    docs = load_table(spark, sf_dir, "documents")
    raw = F.encode(F.col("text"), "UTF-8")
    w = (F.lit(10) + F.col("doc_id") % 13).cast("long")
    h = (F.octet_length(raw) / w).cast("long")
    corpus = (
        docs.filter(h >= 2)
        .select(
            F.col("doc_id").alias("media_id"),
            w.alias("w"),
            h.alias("h"),
            F.expr(
                "substring(encode(text, 'UTF-8'), 1, cast("
                "(octet_length(encode(text, 'UTF-8')) div (10 + doc_id % 13))"
                " * (10 + doc_id % 13) as int))"
            ).alias("raster"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def transcode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for media_id, w_, h_, raster in zip(
                pdf["media_id"], pdf["w"], pdf["h"], pdf["raster"]
            ):
                rows.append({
                    "media_id": media_id,
                    "gif": encode_gif(
                        bytes(raster), int(w_), int(h_),
                        interlace=(int(media_id) % 3 == 0),
                    ),
                })
            yield pd.DataFrame(rows, columns=["media_id", "gif"])

    gifs = corpus.mapInPandas(transcode, schema="media_id long, gif binary")

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["gif"]):
                w_, h_, gray, interlaced, n_ext = parse_gif(bytes(payload))
                a = np.frombuffer(gray, dtype=np.uint8).astype(np.int64)
                a = a.reshape(h_, w_)
                rows.append({
                    "media_id": media_id,
                    "w": w_,
                    "h": h_,
                    "interlaced": interlaced,
                    "n_extensions": n_ext,
                    "mean_lum": int(a.sum() // (w_ * h_)),
                    "hgrad": int(np.abs(np.diff(a, axis=1)).sum()),
                    "vgrad": int(np.abs(np.diff(a, axis=0)).sum()),
                })
            yield pd.DataFrame(
                rows,
                columns=["media_id", "w", "h", "interlaced", "n_extensions",
                         "mean_lum", "hgrad", "vgrad"],
            )

    return gifs.mapInPandas(
        run,
        schema="media_id long, w int, h int, interlaced boolean, "
               "n_extensions int, mean_lum int, hgrad long, vgrad long",
    )
