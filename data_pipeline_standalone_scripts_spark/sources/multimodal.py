"""Multimodal (image/video/audio) column plumbing.

Driver mandate (BASELINE.json:6): treat media as opaque ``binary``
payload columns with typed metadata, and implement decode /
feature-extract / resize / frame-sample as Arrow-batched pandas
functions over ``mapInPandas``.

Decode reality, by format class:

- PGM raster images (``pgm_table``) and RIFF/PCM WAV audio
  (``wav_table``) are REAL standards-compliant files, generated with
  materialized pixel/sample data and decoded by REAL parsers
  (q_pgm_decode / q_wav_decode) — no codec library needed for either
  format, so nothing is stubbed.
- PNG (``png_table``) is ALSO real — DEFLATE ships in the Python
  stdlib (zlib), so q_png_decode implements the full codec: chunk
  CRCs, inflate, and all five scanline filters, value-verified
  pixel-for-pixel against the arithmetic oracle.
- JPEG (``jpeg_table``) is ALSO real as of round 3 — a
  baseline-sequential stdlib+numpy codec (Annex-K Huffman, bitstream
  de-stuffing, dequant + IDCT), written so the lossy pipeline is
  bit-exact on the flat-tile corpus and q_jpeg_decode's oracle can
  verify every pixel.
- VIDEO is ALSO real as of round 4 — ``avi_table`` writes
  standards-compliant RIFF AVI containers wrapping an MJPG stream
  (one X44 baseline JPEG per frame) and ``avi_demux_mjpeg`` walks the
  chunks generically; q_avi_decode verifies every demuxed frame's
  pixels against the arithmetic oracle. Nothing in this module is
  stubbed any more: every format ships a complete stdlib(+numpy)
  codec. Formats that genuinely require external codec libraries
  (e.g. H.264 in MP4) are out of scope rather than faked.

Synthetic payload format (media built 1:1 from ``documents``):

  image (doc_id % 3 < 2):
      bytes 0–3   width  (uint32 big-endian) = 64 + n_chars % 192
      bytes 4–7   height (uint32 big-endian) = 48 + doc_id % 144
      bytes 8–23  md5 digest of the document text (16 raw bytes)
  video (doc_id % 3 == 2):
      bytes 0–3   n_frames (uint32 BE) = 4 + doc_id % 28
      bytes 4–7   fps      (uint32 BE) = 24
      then n_frames × 4-byte frame markers, marker_i = frame index i

Because every field is an arithmetic function of (doc_id, n_chars,
text), the DuckDB oracle can verify the *decoded* outputs without
touching binary — the Spark side must round-trip the real bytes to
match it (T2), which is exactly the plumbing under test.

Reference capability: the reference's FITS load + per-image metadata
bundling (datapipe/io/images.py [UNVERIFIED-PK, SURVEY.md §2.12]) is
this same shape — opaque pixel payload + typed metadata record.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load

FPS = 24


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the synthetic media table from ``documents``.

    Columns: media_id (= doc_id), kind ('image'|'video'),
    payload (binary, format above), meta (struct declared_width,
    declared_height, n_frames — nullable per kind).

    Payload assembly is pure JVM column algebra (hex strings →
    ``unhex``): no UDF, no collect; at 100 TB this is a narrow map
    stage over the parquet scan.
    """
    d = load(spark, sf_dir, "documents")
    width = (F.lit(64) + F.col("n_chars") % 192).cast("int")
    height = (F.lit(48) + F.col("doc_id") % 144).cast("int")
    n_frames = (F.lit(4) + F.col("doc_id") % 28).cast("int")
    hex4 = lambda c: F.lpad(F.hex(c), 8, "0")  # noqa: E731 — uint32 BE hex
    image_payload = F.unhex(F.concat(hex4(width), hex4(height), F.md5("text")))
    frame_markers = F.array_join(
        F.transform(F.sequence(F.lit(0), n_frames - 1), lambda i: F.lpad(F.hex(i), 8, "0")),
        "",
    )
    video_payload = F.unhex(F.concat(hex4(n_frames), hex4(F.lit(FPS)), frame_markers))
    is_image = F.col("doc_id") % 3 < 2
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.when(is_image, F.lit("image")).otherwise(F.lit("video")).alias("kind"),
        F.when(is_image, image_payload).otherwise(video_payload).alias("payload"),
        F.struct(
            F.when(is_image, width).alias("declared_width"),
            F.when(is_image, height).alias("declared_height"),
            F.when(~is_image, n_frames).alias("n_frames"),
        ).alias("meta"),
    )


def pgm_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) — REAL PGM (netpbm P5) images, one per doc.

    Unlike the synthetic header format above, these are complete,
    standards-compliant raster files (any netpbm/PIL/ImageMagick
    reader opens them): ``P5\\n<w> <h>\\n255\\n`` followed by w×h raw
    grayscale bytes. Dimensions and pixels are arithmetic in
    (doc_id, n_chars) — pixel(x, y) = (x + 31·y + 7·doc_id) mod 256 —
    so the DuckDB oracle can verify DECODED pixel statistics without
    any codec (q_pgm_decode).

    Generation is an Arrow-batched ``mapInPandas`` numpy kernel: the
    pixel raster is genuinely materialized (up to 127×95 bytes per
    record), not just a header. Stateless per row — a narrow stage.
    """
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w = 64 + int(n_chars) % 64
                h = 48 + int(doc_id) % 48
                px = (
                    np.arange(w, dtype=np.int64)[None, :]
                    + 31 * np.arange(h, dtype=np.int64)[:, None]
                    + 7 * int(doc_id)
                ) % 256
                payloads.append(
                    b"P5\n%d %d\n255\n" % (w, h) + px.astype(np.uint8).tobytes()
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return d.mapInPandas(gen, schema="media_id bigint, payload binary")


WAV_RATE = 8000


def wav_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) — REAL WAV (RIFF PCM16 mono) clips, one per
    doc: the standard 44-byte header + little-endian int16 samples.
    sample_i = ((7·doc_id + 13·i) mod 4001) − 2000, n = 800 + doc_id
    mod 800 — fully arithmetic, so q_wav_decode's oracle verifies the
    decoded waveform statistics with no audio library.
    """
    import struct as _struct

    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                n = 800 + int(doc_id) % 800
                i = np.arange(n, dtype=np.int64)
                samples = ((7 * int(doc_id) + 13 * i) % 4001 - 2000).astype("<i2")
                data = samples.tobytes()
                header = _struct.pack(
                    "<4sI4s4sIHHIIHH4sI",
                    b"RIFF",
                    36 + len(data),
                    b"WAVE",
                    b"fmt ",
                    16,
                    1,  # PCM
                    1,  # mono
                    WAV_RATE,
                    WAV_RATE * 2,
                    2,
                    16,
                    b"data",
                    len(data),
                )
                payloads.append(header + data)
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(gen, schema="media_id bigint, payload binary")


def png_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) — REAL PNG images (8-bit grayscale,
    non-interlaced), one per doc, built with only stdlib zlib.

    Full spec compliance: 8-byte signature; IHDR/IDAT/IEND chunks each
    with big-endian length, type, payload and CRC-32; IDAT holds the
    zlib-compressed filtered scanline stream. Scanline filters CYCLE
    through all five spec types (None/Sub/Up/Average/Paeth, row % 5)
    so a decoder must implement the whole filter suite, not just
    invert one writer choice. Any standards PNG reader opens these.

    pixel(x, y) = (x + 31·y + 7·doc_id) mod 256, w = 48 + n_chars
    mod 80, h = 32 + doc_id mod 64 — arithmetic, so q_png_decode's
    oracle verifies every DECODED pixel with no codec.
    """
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w = 48 + int(n_chars) % 80
                h = 32 + int(doc_id) % 64
                px = (
                    (
                        np.arange(w, dtype=np.int64)[None, :]
                        + 31 * np.arange(h, dtype=np.int64)[:, None]
                        + 7 * int(doc_id)
                    )
                    % 256
                ).astype(np.uint8)
                payloads.append(png_encode(px))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return d.mapInPandas(gen, schema="media_id bigint, payload binary")


def png_encode(px: "object") -> bytes:
    """Encode a 2-D uint8 numpy array as a real grayscale PNG.

    Scanline filters cycle through all five spec types (row % 5) so
    any decoder of these files must implement the full suite. Used by
    ``png_table`` and round-trip-tested on random rasters in
    tests/test_new_families.py.
    """
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    def _chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            _struct.pack(">I", len(data))
            + ctype
            + data
            + _struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    h, w = px.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.uint8)
    for y in range(h):
        cur = px[y]
        ft = y % 5
        if ft == 0:
            filt = cur
        elif ft == 1:  # Sub
            left = np.concatenate(([0], cur[:-1])).astype(np.uint8)
            filt = cur - left
        elif ft == 2:  # Up
            filt = cur - prev
        elif ft == 3:  # Average
            left = np.concatenate(([0], cur[:-1])).astype(np.int64)
            filt = (
                cur.astype(np.int64) - (left + prev.astype(np.int64)) // 2
            ) % 256
        else:  # Paeth
            left = np.concatenate(([0], cur[:-1])).astype(np.int64)
            up = prev.astype(np.int64)
            ul = np.concatenate(([0], prev[:-1])).astype(np.int64)
            p = left + up - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
            )
            filt = (cur.astype(np.int64) - pred) % 256
        raw.append(ft)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = cur
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def png_decode_pixels(payload: bytes) -> "object":
    """Decode a grayscale non-interlaced PNG back to a 2-D uint8
    array — full codec: signature, chunk walk with CRC-32
    verification, multi-IDAT inflate, and reconstruction of all five
    scanline filter types. Raises ValueError on any structural or
    checksum corruption. The exact inverse of ``png_encode`` (proved
    on random rasters in tests) and a spec-conforming reader of any
    8-bit grayscale PNG.
    """
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    idx, w, h = 8, None, None
    idat = bytearray()
    while idx < len(payload):
        if idx + 8 > len(payload):
            raise ValueError("truncated chunk header")
        (length,) = _struct.unpack(">I", payload[idx : idx + 4])
        if idx + 12 + length > len(payload):
            raise ValueError("chunk length exceeds payload")
        ctype = payload[idx + 4 : idx + 8]
        data = payload[idx + 8 : idx + 8 + length]
        (crc,) = _struct.unpack(">I", payload[idx + 8 + length : idx + 12 + length])
        if _zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in chunk {ctype!r}")
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, inter = _struct.unpack(">IIBBBBB", data)
            if (depth, color, comp, filt, inter) != (8, 0, 0, 0, 0):
                raise ValueError("unsupported PNG variant")
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        idx += 12 + length
    if w is None:
        raise ValueError("missing IHDR")
    raw = _zlib.decompress(bytes(idat))
    if len(raw) != h * (w + 1):
        raise ValueError("scanline stream length mismatch")
    img = np.zeros((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.uint8)
    for y in range(h):
        line = np.frombuffer(raw, dtype=np.uint8, count=w, offset=y * (w + 1) + 1)
        ft = raw[y * (w + 1)]
        if ft == 0:
            cur = line.copy()
        elif ft == 1:  # Sub: wrapping cumulative sum
            cur = np.cumsum(line, dtype=np.uint8)
        elif ft == 2:  # Up
            cur = line + prev
        elif ft == 3:  # Average
            cur = np.zeros(w, dtype=np.uint8)
            left = 0
            for i in range(w):
                left = (line[i] + ((left + int(prev[i])) >> 1)) & 0xFF
                cur[i] = left
        elif ft == 4:  # Paeth
            cur = np.zeros(w, dtype=np.uint8)
            left = ul = 0
            for i in range(w):
                up = int(prev[i])
                pa, pb, pc = abs(up - ul), abs(left - ul), abs(left + up - 2 * ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                left = (line[i] + pred) & 0xFF
                cur[i] = left
                ul = up
        else:
            raise ValueError(f"bad filter type {ft}")
        img[y] = cur
        prev = cur
    return img


def bmp_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) — REAL 24-bit BMP (BITMAPINFOHEADER) images,
    one per doc. Complete, standards-compliant bitmaps: 14-byte file
    header + 40-byte info header, then BGR pixel rows stored
    BOTTOM-UP, each row padded to a 4-byte boundary — the three
    format quirks (little-endian struct fields, channel order, row
    direction/padding) that make BMP a genuinely different parse from
    PGM's text header or PNG's chunk walk.

    Channels are arithmetic in (x, y, doc_id) —
    B=(x+3y+d)%256, G=(2x+5y+d)%256, R=(x+7y+3d)%256 with y the
    LOGICAL (top-down) row — so the oracle verifies decoded channel
    sums and a position-weighted checksum without a codec. A decoder
    that forgets the bottom-up flip reproduces the channel sums but
    NOT the weighted checksum.
    """
    import struct

    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                d = int(doc_id)
                w = 16 + int(n_chars) % 32
                h = 12 + d % 24
                xs = np.arange(w, dtype=np.int64)[None, :]
                ys = np.arange(h, dtype=np.int64)[:, None]
                b = (xs + 3 * ys + d) % 256
                g = (2 * xs + 5 * ys + d) % 256
                r = (xs + 7 * ys + 3 * d) % 256
                px = np.stack([b, g, r], axis=2).astype(np.uint8)  # h,w,3 BGR
                row_bytes = w * 3
                pad = (-row_bytes) % 4
                body = b"".join(
                    px[y].tobytes() + b"\x00" * pad
                    for y in range(h - 1, -1, -1)  # bottom-up storage
                )
                img_size = (row_bytes + pad) * h
                info = struct.pack(
                    "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
                )
                file_hdr = struct.pack(
                    "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 54
                )
                payloads.append(file_hdr + info + body)
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return d.mapInPandas(gen, schema="media_id bigint, payload binary")


# ---------------------------------------------------------------- JPEG
# Baseline-sequential JFIF, single 8-bit grayscale component, stdlib +
# numpy only. The encoder writes flat 8×8 tiles with DC quantizer step
# 8, which makes the lossy pipeline EXACTLY invertible (a flat block
# has only a DC coefficient, 8·(p−128)/8 = p−128 rides the bitstream
# as an integer), so the DuckDB oracle can verify every decoded pixel
# arithmetically while the decoder still exercises the full baseline
# machinery: marker walk, DQT/DHT/SOF0/SOS parse, MSB-first bit
# reader with 0xFF00 de-stuffing, canonical Huffman decode (standard
# Annex-K DC+AC luminance tables), magnitude-category EXTEND, DC
# prediction, run-length AC loop (EOB/ZRL), de-zigzag, dequantize,
# separable float64 IDCT, level shift.

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# ITU-T T.81 Annex K.3 typical luminance Huffman tables
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_JPEG_QTABLE = [8] + [16] * 63  # natural order; Q[0,0]=8 ⇒ exact DC


def _jpeg_huff_codes(bits, vals):
    """Canonical Huffman (code, length) per symbol, T.81 C.2 order."""
    codes, code = {}, 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)


def jpeg_encode_tiles(tiles: "object") -> bytes:
    """Baseline JFIF for an image of FLAT 8×8 tiles (tiles[y][x] =
    gray value 0..255). Emits real DC Huffman coding (category +
    magnitude bits, DC prediction) and an AC EOB per block."""
    import struct as _struct

    th, tw = tiles.shape
    w, h = 8 * tw, 8 * th
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    out = bytearray(b"\xff\xd8")  # SOI
    # DQT payload is in ZIGZAG order: byte i holds natural index zz[i]
    zz_q = bytes(_JPEG_QTABLE[_JPEG_ZIGZAG[i]] for i in range(64))
    out += b"\xff\xdb" + _struct.pack(">HB", 67, 0x00) + zz_q
    out += b"\xff\xc0" + _struct.pack(">HBHHB", 11, 8, h, w, 1)
    out += _struct.pack(">BBB", 1, 0x11, 0)  # comp 1, 1×1 sampling, Tq0
    for cls, bits, vals in (
        (0x00, _JPEG_DC_BITS, _JPEG_DC_VALS),
        (0x10, _JPEG_AC_BITS, _JPEG_AC_VALS),
    ):
        out += b"\xff\xc4" + _struct.pack(">HB", 3 + 16 + len(vals), cls)
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + _struct.pack(">HBBBBBB", 8, 1, 1, 0x00, 0, 63, 0)

    bw = _BitWriter()
    prev_dc = 0
    for ty in range(th):
        for tx in range(tw):
            dc = int(tiles[ty, tx]) - 128  # Q[0,0]=8 ⇒ quantized DC
            diff = dc - prev_dc
            prev_dc = dc
            mag = abs(diff)
            cat = mag.bit_length()
            code, ln = dc_codes[cat]
            bw.write(code, ln)
            if cat:
                bw.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
            eob, eln = ac_codes[0x00]
            bw.write(eob, eln)
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def jpeg_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) — REAL baseline JPEGs (grayscale, flat
    8×8 tiles), one per doc. tile(tx, ty) = (tx + 31·ty + 7·doc_id)
    mod 256, tw = 6 + n_chars mod 10, th = 4 + doc_id mod 8. Any
    standards JPEG reader opens these; the flat-tile + Q₀₀=8 design
    makes decode exact so the oracle can verify pixels."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                tw = 6 + int(n_chars) % 10
                th = 4 + int(doc_id) % 8
                tiles = (
                    (
                        np.arange(tw, dtype=np.int64)[None, :]
                        + 31 * np.arange(th, dtype=np.int64)[:, None]
                        + 7 * int(doc_id)
                    )
                    % 256
                ).astype(np.uint8)
                payloads.append(jpeg_encode_tiles(tiles))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return d.mapInPandas(gen, schema="media_id bigint, payload binary")


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("jpeg: bitstream exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    # trailing 0xFF at end of scan: malformed stream,
                    # not an internal IndexError (ADVICE r03 #3)
                    raise ValueError("jpeg: truncated stream after 0xFF")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # de-stuff
                else:
                    raise ValueError(f"jpeg: marker 0xFF{nxt:02X} in scan")
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v


def _jpeg_huff_decoder(bits, vals):
    """symbol lookup {(length, code): symbol}, canonical order."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_read(br: "_BitReader", table) -> int:
    code, ln = 0, 0
    while ln <= 16:
        code = (code << 1) | br.read(1)
        ln += 1
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("jpeg: invalid Huffman code")


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def jpeg_decode_pixels(payload: bytes) -> "object":
    """Full baseline-sequential JPEG decode (single grayscale
    component, no subsampling, no restart markers) → uint8 (h, w)
    numpy array. Handles arbitrary baseline streams within that
    profile: general DC/AC Huffman tables from DHT, run-length AC
    (EOB/ZRL), dequantize, de-zigzag, separable float64 IDCT."""
    import struct as _struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables, dc_tabs, ac_tabs = {}, {}, {}
    w = h = None
    comp_q = 0
    scan_data = None
    while pos < len(payload):
        assert payload[pos] == 0xFF, "jpeg: lost marker sync"
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        seglen = _struct.unpack(">H", payload[pos : pos + 2])[0]
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 15
                n = 65 if pq == 0 else 129
                raw = seg[o + 1 : o + n]
                tab = [0] * 64
                for i in range(64):
                    v = raw[i] if pq == 0 else _struct.unpack(
                        ">H", raw[2 * i : 2 * i + 2]
                    )[0]
                    tab[_JPEG_ZIGZAG[i]] = v
                qtables[tq] = tab
                o += n
        elif marker == 0xC0:  # SOF0 baseline
            _prec, h, w, ncomp = _struct.unpack(">BHHB", seg[:6])
            if ncomp != 1:
                raise ValueError("jpeg: only 1-component grayscale supported")
            if seg[7] != 0x11:
                raise ValueError("jpeg: subsampling unsupported")
            comp_q = seg[8]
        elif marker == 0xC4:  # DHT (possibly several tables)
            o = 0
            while o < len(seg):
                tc, tid = seg[o] >> 4, seg[o] & 15
                bits = list(seg[o + 1 : o + 17])
                nv = sum(bits)
                vals = list(seg[o + 17 : o + 17 + nv])
                (dc_tabs if tc == 0 else ac_tabs)[tid] = _jpeg_huff_decoder(
                    bits, vals
                )
                o += 17 + nv
        elif marker == 0xDA:  # SOS: entropy data follows the header
            scan_dc, scan_ac = seg[2] >> 4, seg[2] & 15
            scan_data = payload[pos + seglen :]
            break
        pos += seglen
    if scan_data is None or w is None:
        raise ValueError("jpeg: missing SOS/SOF0")
    # strip EOI from the scan tail
    eoi = scan_data.rfind(b"\xff\xd9")
    if eoi != -1:
        scan_data = scan_data[:eoi]

    q = np.array(qtables[comp_q], dtype=np.float64)
    dct, act = dc_tabs[scan_dc], ac_tabs[scan_ac]
    tw, th = (w + 7) // 8, (h + 7) // 8
    img = np.zeros((th * 8, tw * 8), dtype=np.uint8)
    # separable IDCT basis: B[u, x] = c(u)/2 · cos((2x+1)uπ/16)
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    B = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    B[0, :] *= 1 / np.sqrt(2)

    br = _BitReader(scan_data)
    prev_dc = 0
    for by in range(th):
        for bx in range(tw):
            coef = np.zeros(64, dtype=np.float64)
            cat = _huff_read(br, dct)
            diff = _extend(br.read(cat), cat) if cat else 0
            prev_dc += diff
            coef[0] = prev_dc
            k = 1
            while k < 64:
                rs = _huff_read(br, act)
                r, s = rs >> 4, rs & 15
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += r
                if k >= 64:
                    # malformed AC run past block end: loud codec error,
                    # not an IndexError (ADVICE r03 #3)
                    raise ValueError("jpeg: AC run exceeds block")
                coef[_JPEG_ZIGZAG[k]] = _extend(br.read(s), s)
                k += 1
            block = (coef * q).reshape(8, 8)
            px = B.T @ block @ B + 128.0
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                np.rint(px), 0, 255
            ).astype(np.uint8)
    return img[:h, :w]


# --- AVI / MJPEG (round 4: retires the last video stub) ---------------------

AVI_FPS = 12  # dwRate with dwScale=1; dwMicroSecPerFrame = 1e6 / AVI_FPS


def _avi_frame_tiles(doc_id: int, n_chars: int, f: int) -> "object":
    """Flat 8×8 tile grid for frame f of doc doc_id — the same
    arithmetic family as jpeg_table, shifted 97·f per frame so every
    frame decodes to different (oracle-computable) pixels."""
    import numpy as np

    tw = 4 + int(n_chars) % 6
    th = 3 + int(doc_id) % 5
    return (
        (
            np.arange(tw, dtype=np.int64)[None, :]
            + 31 * np.arange(th, dtype=np.int64)[:, None]
            + 7 * int(doc_id)
            + 97 * int(f)
        )
        % 256
    ).astype("uint8")


def avi_encode_mjpeg(frames: "list[bytes]", w: int, h: int) -> bytes:
    """Minimal standards-compliant AVI (RIFF 'AVI ') wrapping an MJPG
    video stream: hdrl(avih + strl(strh 'vids'/'MJPG' + strf
    BITMAPINFOHEADER)) + movi('00dc' chunks, even-padded) + idx1.
    Any AVI demuxer opens these; WAV's RIFF sibling (wav_table)."""
    import struct as _struct

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + _struct.pack("<I", len(payload)) + payload + pad

    def lst(listtype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", listtype + payload)

    n = len(frames)
    maxbuf = max((len(f) for f in frames), default=0)
    avih = _struct.pack(
        "<14I",
        1_000_000 // AVI_FPS,  # dwMicroSecPerFrame
        maxbuf * AVI_FPS,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        maxbuf,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved
    )
    # strh is exactly 56 bytes per the spec: fccType + fccHandler +
    # dwFlags, wPriority + wLanguage, 8 DWORDs (InitialFrames, Scale,
    # Rate, Start, Length, SuggestedBufferSize, Quality, SampleSize),
    # rcFrame as 4 shorts
    strh = (
        _struct.pack("<4s4sI", b"vids", b"MJPG", 0)
        + _struct.pack("<HH", 0, 0)
        + _struct.pack(
            "<IIIIIIII", 0, 1, AVI_FPS, 0, n, maxbuf, 0xFFFFFFFF, 0
        )
        + _struct.pack("<4h", 0, 0, w, h)
    )
    strf = _struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        w,
        h,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",  # biCompression
        w * h * 3,  # biSizeImage (uncompressed bound)
        0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks = b"".join(chunk(b"00dc", f) for f in frames)
    movi = lst(b"movi", movi_chunks)
    # idx1: one entry per frame; dwChunkOffset is relative to the
    # start of the 'movi' list type fourcc (the common convention)
    idx_entries = []
    off = 4  # past the 'movi' fourcc
    for f in frames:
        idx_entries.append(
            _struct.pack("<4sII I", b"00dc", 0x10, off, len(f))
        )
        off += 8 + len(f) + (len(f) % 2)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    import struct as _s

    return b"RIFF" + _s.pack("<I", len(body)) + body


def avi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) — REAL AVI/MJPEG clips, one per doc:
    n_frames = 3 + doc_id mod 6 baseline JPEGs (flat-tile family,
    frame-shifted) in a RIFF AVI container with hdrl/movi/idx1.
    Fully arithmetic content, so q_avi_decode's oracle verifies the
    demuxed + decoded output with no codec library."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                nf = 3 + int(doc_id) % 6
                frames = [
                    jpeg_encode_tiles(_avi_frame_tiles(doc_id, n_chars, f))
                    for f in range(nf)
                ]
                tiles0 = _avi_frame_tiles(doc_id, n_chars, 0)
                th, tw = tiles0.shape
                payloads.append(avi_encode_mjpeg(frames, 8 * tw, 8 * th))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return d.mapInPandas(gen, schema="media_id bigint, payload binary")


def avi_demux_mjpeg(payload: bytes):
    """RIFF walk over an AVI payload → (micro_sec_per_frame,
    total_frames, width, height, [jpeg_frame_bytes...]).

    Generic chunk iteration (not offset assumptions): every chunk is
    even-padded per RIFF; LISTs recurse. Raises ValueError loudly on
    malformed containers — same convention as the JPEG codec."""
    import struct as _struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("avi: not a RIFF AVI payload")
    (riff_size,) = _struct.unpack_from("<I", payload, 4)
    if 8 + riff_size > len(payload):
        raise ValueError("avi: truncated RIFF")

    meta = {}
    frames: list[bytes] = []

    def walk(start: int, end: int) -> None:
        pos = start
        while pos + 8 <= end:
            fourcc = payload[pos : pos + 4]
            (size,) = _struct.unpack_from("<I", payload, pos + 4)
            data_start = pos + 8
            data_end = data_start + size
            if data_end > end:
                raise ValueError("avi: chunk overruns parent")
            if fourcc == b"LIST":
                walk(data_start + 4, data_end)  # skip list-type fourcc
            elif fourcc == b"avih":
                vals = _struct.unpack_from("<10I", payload, data_start)
                meta["uspf"], meta["n_frames"] = vals[0], vals[4]
                meta["width"], meta["height"] = vals[8], vals[9]
            elif fourcc == b"strh":
                if payload[data_start : data_start + 4] != b"vids":
                    raise ValueError("avi: first stream is not video")
                if payload[data_start + 4 : data_start + 8] != b"MJPG":
                    raise ValueError("avi: not an MJPG stream")
            elif fourcc == b"00dc":
                frames.append(bytes(payload[data_start:data_end]))
            pos = data_end + (size % 2)  # even padding

    walk(12, 8 + riff_size)
    if "uspf" not in meta:
        raise ValueError("avi: missing avih header")
    if len(frames) != meta["n_frames"]:
        raise ValueError(
            f"avi: header declares {meta['n_frames']} frames, "
            f"movi carries {len(frames)}"
        )
    return meta["uspf"], meta["n_frames"], meta["width"], meta["height"], frames


FITS_BLOCK = 2880  # FITS logical record size (NASA FITS standard 4.0)
FITS_BZERO = 32768  # unsigned-16bit convention: physical = raw + BZERO


def fits_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) — REAL FITS files (the reference pipeline's
    native format: datapipe/io/images.py loads CTA camera images from
    FITS [UNVERIFIED-PK, SURVEY.md §2.12]), one single-HDU image per
    document, built from the PUBLIC NASA FITS 4.0 standard: 2880-byte
    logical records, 80-char ASCII header cards (SIMPLE/BITPIX/NAXIS/
    NAXISn/BZERO/BSCALE/OBJECT/END), then big-endian BITPIX=16 pixel
    data zero-padded to the block boundary. The unsigned-short
    convention is exercised for real: physical = raw + 32768 with the
    raw stored as signed int16 — exactly how astronomy cameras ship
    12-bit counts.

    Dimensions and pixels are arithmetic in (doc_id, n_chars):
    w = 32 + n_chars % 32, h = 24 + doc_id % 24,
    physical(x, y) = (3·x + 17·y + 11·doc_id) mod 4096 — so the
    DuckDB oracle verifies DECODED pixel statistics and header fields
    with no codec anywhere (q_fits_decode), same contract as PGM/PNG.

    Generation is an Arrow-batched mapInPandas numpy kernel; stateless
    per row — a narrow stage.
    """
    import numpy as np
    import pandas as pd

    def _card(key: str, val: str, comment: str = "") -> bytes:
        body = f"{key:<8}= {val:>20}"
        if comment:
            body += f" / {comment}"
        return body.ljust(80)[:80].encode("ascii")

    def gen(batches):
        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                doc_id, n_chars = int(doc_id), int(n_chars)
                w = 32 + n_chars % 32
                h = 24 + doc_id % 24
                phys = (
                    3 * np.arange(w, dtype=np.int64)[None, :]
                    + 17 * np.arange(h, dtype=np.int64)[:, None]
                    + 11 * doc_id
                ) % 4096
                raw = (phys - FITS_BZERO).astype(">i2")
                header = b"".join(
                    [
                        _card("SIMPLE", "T", "conforms to FITS standard"),
                        _card("BITPIX", "16", "16-bit signed integers"),
                        _card("NAXIS", "2"),
                        _card("NAXIS1", str(w)),
                        _card("NAXIS2", str(h)),
                        _card("BZERO", str(FITS_BZERO), "unsigned short"),
                        _card("BSCALE", "1"),
                        _card("OBJECT", f"'DOC{doc_id}'", "source document"),
                        "END".ljust(80).encode("ascii"),
                    ]
                )
                header += b" " * (-len(header) % FITS_BLOCK)
                data = raw.tobytes()
                data += b"\x00" * (-len(data) % FITS_BLOCK)
                payloads.append(header + data)
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # Parallelism crutch (same contract as q_bpe_merge's): the FITS
    # gen+parse is CPU-heavy Python, so a single-file local fixture
    # must not serialize it onto one core. On a real cluster the scan
    # always has enough splits and this never fires. MEASURED at
    # sf0.1: 7.5 s median (spiky 1.1-14.2 s) on the 1-split scan vs
    # sub-second spread across 32.
    from ..operators.common import scan_splits_hint

    par = spark.sparkContext.defaultParallelism
    if scan_splits_hint(spark, sf_dir, "documents") < par:
        d = d.repartition(par, "doc_id")
    return d.mapInPandas(gen, schema="media_id bigint, payload binary")


def _fits_card_value(rest: str) -> str:
    """Value field of one FITS card (the 70 chars after ``KEY     = ``),
    honoring the standard's character-string rules (ADVICE r08): a
    value that starts with a single quote runs to the CLOSING quote
    (``''`` escapes a literal quote) and may legally contain ``/``;
    only AFTER the string does a ``/`` start the comment. Non-string
    values cannot contain ``/``, so everything before the first ``/``
    is the value. The quoted token is returned verbatim (quotes kept,
    escapes not collapsed) — callers strip, matching the previous
    storage format."""
    i = 0
    while i < len(rest) and rest[i] == " ":
        i += 1
    if i < len(rest) and rest[i] == "'":
        j = i + 1
        while j < len(rest):
            if rest[j] == "'":
                if j + 1 < len(rest) and rest[j + 1] == "'":
                    j += 2
                    continue
                break
            j += 1
        return rest[i : j + 1].strip()
    return rest.split("/")[0].strip()


def fits_parse(payload: bytes):
    """Astropy-free FITS primary-HDU parser: walk 80-char cards to END,
    honor BITPIX/NAXISn/BZERO/BSCALE, return (header_dict, ndarray of
    PHYSICAL values). Raises on structural violations (non-blocked
    file, missing mandatory cards, short data) rather than guessing.
    Card values are parsed with the standard's quoted-string rules
    (see _fits_card_value) — a string value containing ``' / '``
    survives intact."""
    import numpy as np

    if len(payload) % FITS_BLOCK != 0:
        raise ValueError(f"fits: length {len(payload)} not 2880-blocked")
    hdr: dict[str, str] = {}
    pos = 0
    while True:
        if pos >= len(payload):
            raise ValueError("fits: no END card")
        card = payload[pos : pos + 80].decode("ascii")
        pos += 80
        key = card[:8].strip()
        if key == "END":
            break
        if card[8:10] == "= ":
            hdr[key] = _fits_card_value(card[10:])
    if hdr.get("SIMPLE") != "T":
        raise ValueError("fits: not a SIMPLE primary HDU")
    bitpix = int(hdr["BITPIX"])
    naxis = int(hdr["NAXIS"])
    dims = [int(hdr[f"NAXIS{i}"]) for i in range(1, naxis + 1)]
    bzero = float(hdr.get("BZERO", "0"))
    bscale = float(hdr.get("BSCALE", "1"))
    data_start = ((pos + FITS_BLOCK - 1) // FITS_BLOCK) * FITS_BLOCK
    n_el = 1
    for d in dims:
        n_el *= d
    dt = {8: ">u1", 16: ">i2", 32: ">i4", -32: ">f4", -64: ">f8"}[bitpix]
    nbytes = n_el * abs(bitpix) // 8
    if len(payload) < data_start + nbytes:
        raise ValueError("fits: data unit shorter than NAXISn declare")
    raw = np.frombuffer(payload, dtype=dt, count=n_el, offset=data_start)
    # NAXIS1 varies fastest (FORTRAN order): shape is reversed dims
    arr = raw.reshape(tuple(reversed(dims))) if dims else raw
    phys = arr.astype(np.float64) * bscale + bzero
    return hdr, phys


def fits_encode(hdr: dict[str, str], phys) -> bytes:
    """Write side of the FITS contract (the reference SAVES cleaned
    images back to FITS — datapipe/io/images.py [UNVERIFIED-PK]; this
    closes the I/O loop fits_parse opened): serialize a (header dict,
    PHYSICAL ndarray) pair back to a standards-blocked single-HDU file.

    Cards are written fixed-format per the FITS 4.0 standard's layout
    — quoted STRINGS left-justified from column 11, non-string values
    right-justified to column 30 — in the dict's insertion order
    (fits_parse preserves card order, so parse∘encode∘parse is the
    identity on every header FIELD; card comments are not
    round-tripped, they are presentation). A value too long for the
    80-char card raises ValueError instead of silently truncating
    (ADVICE r09 #2 — the old ``.ljust(80)[:80]`` corrupted long
    values). Data is stored as raw = (physical - BZERO) / BSCALE in
    the declared BITPIX big-endian type, zero-padded to the 2880-byte
    boundary, exactly inverting fits_parse's physical transform."""
    import numpy as np

    bitpix = int(hdr["BITPIX"])
    bzero = float(hdr.get("BZERO", "0"))
    bscale = float(hdr.get("BSCALE", "1"))
    dt = {8: ">u1", 16: ">i2", 32: ">i4", -32: ">f4", -64: ">f8"}[bitpix]
    raw = (np.asarray(phys, dtype=np.float64) - bzero) / bscale
    if bitpix > 0:
        raw = np.rint(raw)
    raw = raw.astype(dt)

    def _card(k: str, v: str) -> bytes:
        # FITS fixed-format: strings open with a quote at column 11
        # (left-justified, closing quote at column 20 or beyond);
        # everything else right-justifies to column 30.
        body = f"{k:<8}= " + (f"{v:<20}" if v.startswith("'") else f"{v:>20}")
        if len(body) > 80:
            raise ValueError(
                f"fits: card {k!r} formats to {len(body)} chars (max 80)"
            )
        return body.ljust(80).encode("ascii")

    cards = [_card(k, v) for k, v in hdr.items()]
    cards.append(b"END".ljust(80))
    header = b"".join(cards)
    header += b" " * (-len(header) % FITS_BLOCK)
    data = raw.tobytes()
    data += b"\x00" * (-len(data) % FITS_BLOCK)
    return header + data


# --- WARC / WET (ISO 28500 — the Common Crawl interchange format) -----------

WARC_RECORDS_PER_BLOB = 8  # documents per generated .warc.gz blob


def warc_record(doc_id: int, body: bytes) -> bytes:
    """One standards-shaped WARC 1.0 ``response`` record: named headers,
    Content-Length framing, and the mandatory CRLF CRLF record
    terminator (ISO 28500 / WARC 1.0 §4 — public spec; Common Crawl's
    WET extracts use exactly this layout with ``conversion`` records).
    The body is framed by Content-Length ONLY — it may legally contain
    CRLF CRLF or even the string ``WARC/1.0`` (pytest pins this)."""
    headers = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        + b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-%012d>\r\n"
        % doc_id
        + b"WARC-Target-URI: https://example-%d.test/doc/%d\r\n"
        % (doc_id % 50, doc_id)
        + b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Type: text/plain\r\n"
        + b"Content-Length: %d\r\n" % len(body)
    )
    return headers + b"\r\n" + body + b"\r\n\r\n"


def warc_gz_member(record: bytes) -> bytes:
    """Gzip-compress ONE record as its own gzip member — the
    ``.warc.gz`` convention (one member per record, members
    concatenated) that lets readers seek to a record without
    decompressing the file. wbits=31 = gzip container, and the
    compressobj path writes no mtime/filename, keeping the bytes
    deterministic for the round-trip tests."""
    import zlib

    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(record) + co.flush()


def warc_split_members(payload: bytes) -> "list[bytes]":
    """Split a concatenated-gzip-member blob into decompressed records
    via decompressobj(wbits=47) + unused_data chaining — the standard
    multi-member walk (gzip readers that stop at the first member
    silently drop every record after the first; this is the classic
    .warc.gz consumer bug)."""
    import zlib

    out = []
    rest = payload
    while rest:
        dec = zlib.decompressobj(47)
        out.append(dec.decompress(rest) + dec.flush())
        rest = dec.unused_data
    return out


def warc_parse_record(rec: bytes) -> dict:
    """Parse one WARC record: version magic, header map, Content-Length
    body framing, terminator check. Raises on structural violations
    (wrong magic, missing Content-Length, short body, bad terminator)
    rather than guessing."""
    eoh = rec.find(b"\r\n\r\n")
    if eoh < 0:
        raise ValueError("warc: no end-of-headers")
    head = rec[:eoh].decode("ascii").split("\r\n")
    if head[0] != "WARC/1.0":
        raise ValueError(f"warc: bad magic {head[0]!r}")
    hdr = {}
    for line in head[1:]:
        k, _, v = line.partition(":")
        hdr[k.strip()] = v.strip()
    clen = int(hdr["Content-Length"])
    body = rec[eoh + 4 : eoh + 4 + clen]
    if len(body) != clen:
        raise ValueError("warc: body shorter than Content-Length")
    if rec[eoh + 4 + clen : eoh + 4 + clen + 4] != b"\r\n\r\n":
        raise ValueError("warc: missing record terminator")
    return {"headers": hdr, "body": body}


def warc_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(blob_id, payload) — REAL ``.warc.gz``-layout blobs: one gzip
    member per WARC 1.0 response record, WARC_RECORDS_PER_BLOB
    documents per blob (blob_id = doc_id // 8, records in doc_id
    order), bodies = the document text. Everything a record carries
    (URI host, Content-Length, body) is re-derivable from
    ``documents`` arithmetically, so q_warc_extract gets a full value
    oracle with no codec on the DuckDB side.

    Generation pays ONE blob_id exchange to co-locate each blob's
    records (generator-only: at 100 TB the blobs are real crawl files
    on object storage read via binaryFile — zero shuffle); the build
    is a batched mapInPandas kernel assembling many blobs per Arrow
    batch (see the r12 note below)."""
    import pandas as pd

    from pyspark.sql import functions as F

    # r12 (guide §4.1): the original groupBy().applyInPandas built one
    # pandas frame PER BLOB — 625 eight-row groups at sf0.1 — and the
    # per-group FlatMapGroupsInPandas overhead (~2.2 ms/group) cost
    # ~1.4 s while the actual record gzip work is 0.14 s single-core.
    # Same exchange, different kernel shape: repartition by blob_id +
    # sort within partitions, then ONE mapInPandas that assembles many
    # blobs per Arrow batch. A blob whose rows straddle a batch
    # boundary is carried into the next batch (rows of one partition
    # arrive in order), so every blob is built from its full doc set
    # exactly once. Measured at sf0.1: generator 1.64 → 0.71 s,
    # q_warc_extract 1.91 → 0.86 s; payload bytes are identical (same
    # per-blob doc_id order, same encoder).
    def _assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, payloads = [], []
        for bid, grp in pdf.groupby("blob_id", sort=True):
            payloads.append(
                b"".join(
                    warc_gz_member(warc_record(int(i), t.encode("utf-8")))
                    for i, t in zip(grp["doc_id"], grp["text"])
                )
            )
            ids.append(int(bid))
        return pd.DataFrame({"blob_id": ids, "payload": payloads})

    def build(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last = pdf["blob_id"].iloc[-1]
            tail = pdf["blob_id"] == last
            carry = pdf[tail]
            head = pdf[~tail]
            if len(head):
                yield _assemble(head)
        if carry is not None and len(carry):
            yield _assemble(carry)

    # Integer `div` keeps blob_id = doc_id // 8 exact for the full
    # BIGINT range (a double-division detour loses exactness past
    # 2^53); doc_ids are nonnegative, so div == floor division here.
    d = load(spark, sf_dir, "documents").select(
        F.expr(f"doc_id div {WARC_RECORDS_PER_BLOB}").cast("long").alias("blob_id"),
        "doc_id",
        "text",
    )
    return (
        d.repartition(spark.sparkContext.defaultParallelism, "blob_id")
        .sortWithinPartitions("blob_id", "doc_id")
        .mapInPandas(build, schema="blob_id bigint, payload binary")
    )


# --- hexagonal camera geometry (X68) ----------------------------------------
#
# The reference's CTA cameras are HEXAGONAL pixel grids; its
# geometry_converter modules map camera geometries to the arrays the
# cleaners consume (datapipe/io/geometry_converter* [UNVERIFIED-PK,
# SURVEY.md §1.1/§2.12]). Axial coordinates (public hex-grid math):
# a camera of ring count R holds every (q, r) with |q| <= R, |r| <= R,
# |q + r| <= R  —  3R(R+1)+1 pixels; each pixel has up to 6 neighbors
# at (±1,0), (0,±1), (+1,−1), (−1,+1).

HEXCAM_MAGIC = b"HEX1"
# Hex pixel-value multipliers — defined HERE, next to the payload
# writer, and imported by every raster2d hex oracle (one source, no
# writer-vs-oracle drift). Under the hex membership constraint
# (q+R)+(r+R) is confined to [R, 3R], so the intra-image value span is
# 2*HEX_MR*R + HEX_MQ*R - HEX_MQ*R = 422R >= 4220 ADU at the smallest
# camera (R=10) — every image wraps the 4096 modulus and has pixels on
# both sides of both thresholds. (A 5/13 first cut spanned ~360 ADU
# and a 37/101 cut ~2020: no core pixel anywhere — degenerate
# fixtures; pytest guards non-degeneracy now.)
HEX_MQ = 101
HEX_MR = 211
HEXCAM_R_RANGE = range(10, 16)  # ring count R = 10 + doc_id % 6


def hex_geometry(R: int):
    """(pixels, neighbor_index_map) for a ring-R hex camera.

    pixels: list of (q, r) axial coords enumerated in (r, q) order —
    the canonical pix_id order used by the payload writer AND the
    kernel, so one definition serves both. nb: int32 array (npix, 6)
    of neighbor pix_ids, -1 where the neighbor falls outside the
    camera — the index-mapped adjacency table the cleaners consume
    (rect_geometry gives the square grid the same form)."""
    import numpy as np

    pts = [
        (q, r)
        for r in range(-R, R + 1)
        for q in range(max(-R, -r - R), min(R, -r + R) + 1)
    ]
    index = {p: i for i, p in enumerate(pts)}
    nb = np.full((len(pts), 6), -1, np.int32)
    for i, (q, r) in enumerate(pts):
        for k, (dq, dr) in enumerate(
            ((1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1))
        ):
            j = index.get((q + dq, r + dr))
            if j is not None:
                nb[i, k] = j
    return pts, nb


def hexcam_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) — one hex-camera image per document:
    ``HEX1`` magic, uint8 ring count R = 10 + doc_id % 6, then
    3R(R+1)+1 big-endian uint16 pixel values in (r, q) axial order
    (hex_geometry's canonical enumeration). Values are arithmetic in
    (doc_id, q, r): v = (HEX_MQ·(q+R) + HEX_MR·(r+R) + 11·doc_id)
    mod 4096 (multipliers sized so every image wraps the modulus —
    the HEX_MQ/HEX_MR note above) —
    so the DuckDB oracle re-derives every pixel AND every hex
    neighbor with no codec and no join, the fits_table contract on a
    hexagonal grid.

    Generation is a stateless Arrow-batched mapInPandas kernel (same
    shape as fits_table, same parallelism crutch)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                R = 10 + doc_id % 6
                _, _, qs, rs, _ = hex_geometry_tables()[R]
                v = (
                    HEX_MQ * (qs + R) + HEX_MR * (rs + R) + 11 * doc_id
                ) % 4096
                payloads.append(
                    HEXCAM_MAGIC
                    + bytes([R])
                    + v.astype(">u2").tobytes()
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    d = load(spark, sf_dir, "documents").select("doc_id")
    from ..operators.common import scan_splits_hint

    par = spark.sparkContext.defaultParallelism
    if scan_splits_hint(spark, sf_dir, "documents") < par:
        d = d.repartition(par, "doc_id")
    return d.mapInPandas(gen, schema="media_id bigint, payload binary")


@functools.cache
def hex_geometry_tables() -> dict[int, tuple]:
    """{R: (tail_nb, conn_nb, qs, rs, order_key)} for every camera size
    the fixture family ships (HEXCAM_R_RANGE) — the hex camera's
    geometry in the shape rect_geometry gives the square grid, built
    once per process (workers call it too: ~10 ms cold, no broadcast,
    nothing left on disk). On the hex lattice both rules use the same
    6-neighbor table. order_key = (r+R)*4096 + (q+R): the
    deterministic (r, q) tie-break every hex op uses (matches the
    oracles' first_px)."""
    import numpy as np

    tables = {}
    for R in HEXCAM_R_RANGE:
        pts, nb = hex_geometry(R)
        qr = np.array(pts, dtype=np.int64)
        key = (qr[:, 1] + R) * 4096 + (qr[:, 0] + R)
        tables[R] = _read_only(nb, nb, qr[:, 0], qr[:, 1], key)
    return tables


@functools.cache
def rect_geometry(w: int, h: int) -> tuple:
    """(tail_nb, conn_nb, xs, ys, order_key) for a w×h square-grid
    image flattened row-major (pixel y*w + x — ``phys.ravel()`` of a
    FITS raster): tail_nb is the (w*h, 8) 8-neighbor table tailcut
    rescues over, conn_nb its first four columns (the 4-neighbors the
    island labelling joins over), -1 where a neighbor falls off the
    grid; order_key = y*64 + x is the row-major tie-break the oracles'
    first_px uses. Cached per size like hex_geometry_tables, so a
    worker builds each raster shape once: int16 entries (int32 past
    their range) keep the ~770 FITS shapes of an sf0.1 run at ~27 MiB
    per worker, at no measured cost to the kernels over int32."""
    import numpy as np

    dt = np.int16 if max(w, 64) * h <= np.iinfo(np.int16).max else np.int32
    ys, xs = np.divmod(np.arange(w * h, dtype=dt), dt(w))
    steps = ((1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (1, -1), (-1, 1), (-1, -1))
    nb = np.full((w * h, len(steps)), -1, dt)
    for k, (dx, dy) in enumerate(steps):
        xx, yy = xs + dx, ys + dy
        ok = (xx >= 0) & (xx < w) & (yy >= 0) & (yy < h)
        nb[ok, k] = (yy * w + xx)[ok]
    return _read_only(nb, nb[:, :4], xs, ys, ys * 64 + xs)


def _read_only(*arrays) -> tuple:
    """The cached geometry arrays, frozen: every caller in the process
    shares them, so a write would corrupt later images' results."""
    for a in arrays:
        a.flags.writeable = False
    return arrays


def hexcam_parse(payload: bytes):
    """(R, values) from a HEX1 payload; raises on bad magic or a
    length that disagrees with 3R(R+1)+1."""
    import numpy as np

    if payload[:4] != HEXCAM_MAGIC:
        raise ValueError(f"hexcam: bad magic {payload[:4]!r}")
    R = payload[4]
    npix = 3 * R * (R + 1) + 1
    vals = np.frombuffer(payload, dtype=">u2", offset=5)
    if len(vals) != npix:
        raise ValueError(f"hexcam: {len(vals)} values, expected {npix}")
    return R, vals.astype(np.int64)


def _warc_fields(rec: bytes):
    """(doc_id, host, body) of ONE parsed record — the single copy of
    the record-ID/URI extraction both walkers and both WARC ops share
    (so the parsing can never drift between q_warc_extract and
    q_web_curation_e2e). Raises like warc_parse_record on malformed
    records; the tolerant walker catches."""
    r = warc_parse_record(rec)
    rid = r["headers"]["WARC-Record-ID"]
    uri = r["headers"]["WARC-Target-URI"]
    return (
        int(rid.rstrip(">").split("-")[-1]),
        uri.split("/")[2],
        r["body"],
    )


def warc_record_fields(payload: bytes):
    """Yield (doc_id, host, body_bytes) for every record in a blob —
    the ONE extraction walk (warc_split_members ∘ _warc_fields)
    shared by q_web_curation_e2e and, via the tolerant wrapper below,
    q_warc_extract. STRICT: raises on any malformed record — correct
    for the generator-controlled parity path, where a violation is a
    bug, not data."""
    for rec in warc_split_members(payload):
        yield _warc_fields(rec)


def warc_record_fields_tolerant(payload: bytes):
    """Yield (doc_id, host, body_bytes, ok) per record, TOLERANT of
    malformed input — the ingestion-path walk for q_warc_extract.
    Same member walk and same _warc_fields extraction as the strict
    path, with try/except added: a per-record parse failure yields
    (-1, "", b"", 0) instead of killing the whole Spark task. A
    corrupt DEFLATE stream ends the blob walk with one such row:
    gzip-member chaining frames the next member by the previous one's
    unused_data, so there is no resync point past a bad stream (same
    recovery posture as real WARC readers, which skip to the next
    *file*, not the next record)."""
    import zlib

    rest = payload
    while rest:
        dec = zlib.decompressobj(47)
        try:
            rec = dec.decompress(rest) + dec.flush()
            rest = dec.unused_data
        except zlib.error:
            yield (-1, "", b"", 0)
            return
        try:
            yield _warc_fields(rec) + (1,)
        except (ValueError, KeyError, IndexError, UnicodeDecodeError):
            yield (-1, "", b"", 0)
