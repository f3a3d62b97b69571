"""REAL GIF codec (pure numpy + stdlib) + decode driver entry under a
full value-hash oracle.

Third compressed image family after PNG (deflate) and JPEG (DCT +
Huffman): GIF87a/89a is DICTIONARY coding — variable-width LZW with an
in-band growing code table. Everything is parsed from the actual
bytes:

  * header + logical screen descriptor + global color table,
  * extension blocks (0x21) skipped by walking their length-prefixed
    sub-blocks (as any real GIF with GCE/comment blocks requires),
  * image descriptor, optional interlace flag (the four-pass row
    shuffle is undone), local color table precedence over the global,
  * the LZW stream: sub-block reassembly, LSB-first variable-width
    code reading, CLEAR/END codes, dictionary growth to 4096 with the
    width-bump rule, and the KwKwK self-referencing-code case.

The encoder half is a genuine greedy-longest-match LZW compressor
(dictionary of (prefix_code, symbol) pairs, width bumps as the table
grows, CLEAR when it fills), so the decoder's table-growth path is
exercised by real compressed data, not literal-only streams. Encoder
and decoder are pinned against each other by random-palette-stream
round-trips plus hand-built vectors (tests/test_gifcodec.py) — the
KwKwK vector is constructed explicitly.

Scale notes (100 TB): identical plumbing to the other codecs — bytes
cross into Python once per Arrow batch; per-image work is numpy +
tight-loop LZW (O(pixels)); only typed stats return to the JVM.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import ordered, spread
from hive_clone_spark.registry import register

_GIF_MAX_CODE = 4096


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first packing, variable width 3..12 bits)
# ---------------------------------------------------------------------------
class _LSBWriter:
    def __init__(self) -> None:
        self.bytes = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, width: int) -> None:
        self._acc |= code << self._n
        self._n += width
        while self._n >= 8:
            self.bytes.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def flush(self) -> bytes:
        if self._n:
            self.bytes.append(self._acc & 0xFF)
            self._acc = 0
            self._n = 0
        return bytes(self.bytes)


class _LSBReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def read(self, width: int) -> int:
        while self._n < width:
            if self.pos >= len(self.data):
                raise ValueError("gif: LZW stream exhausted")
            self._acc |= self.data[self.pos] << self._n
            self.pos += 1
            self._n += 8
        v = self._acc & ((1 << width) - 1)
        self._acc >>= width
        self._n -= width
        return v


def lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Greedy longest-match GIF LZW. Emits CLEAR up front, grows the
    (prefix_code, symbol) dictionary to 4096 then CLEARs, bumps the
    code width when the next code to be ADDED would not fit."""
    clear = 1 << min_code_size
    end = clear + 1
    wr = _LSBWriter()

    def reset():
        return {}, end + 1, min_code_size + 1

    table, next_code, width = reset()
    wr.write(clear, width)
    prefix = -1
    for sym in indices:
        if prefix < 0:
            prefix = sym
            continue
        key = (prefix, sym)
        if key in table:
            prefix = table[key]
            continue
        wr.write(prefix, width)
        table[key] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        if next_code >= _GIF_MAX_CODE:
            wr.write(clear, width)
            table, next_code, width = reset()
        prefix = sym
    if prefix >= 0:
        wr.write(prefix, width)
    wr.write(end, width)
    return wr.flush()


def lzw_decode(data: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    end = clear + 1
    rd = _LSBReader(data)

    def reset():
        return [bytes([i]) for i in range(clear)] + [b"", b""], min_code_size + 1

    table, width = reset()
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = rd.read(width)
        if code == clear:
            table, width = reset()
            prev = None
            continue
        if code == end:
            return bytes(out)
        if code < len(table) and (code < clear or code > end):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"gif: bad LZW code {code}")
        out += entry
        if prev is not None and len(table) < _GIF_MAX_CODE:
            table.append(prev + entry[:1])
            if len(table) >= (1 << width) and width < 12:
                width += 1
        prev = entry


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    return order


def encode_gif(
    indices: np.ndarray, palette: np.ndarray, interlace: bool = False
) -> bytes:
    """(h, w) uint8 index raster + (n, 3) palette -> GIF89a bytes with
    one image, real LZW compression, optional interlaced row order."""
    h, w = indices.shape
    n = len(palette)
    bits = max(2, int(n - 1).bit_length())
    gct_bits = bits - 1
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | gct_bits, 0, 0])  # GCT flag + size, bg, aspect
    pal = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal[:n] = palette
    out += pal.tobytes()
    # a GCE extension block, as real 89a files carry (decoder must skip)
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00])  # no local table
    rows = indices[_interlace_order(h)] if interlace else indices
    mcs = max(2, bits)
    out += bytes([mcs])
    stream = lzw_encode(rows.tobytes(), mcs)
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def decode_gif(payload: bytes) -> np.ndarray:
    """First image of a GIF87a/89a file -> HxWx3 uint8 RGB."""
    data = bytes(payload)
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad signature")
    sw, sh = struct.unpack("<HH", data[6:10])
    flags, _bg, _aspect = data[10], data[11], data[12]
    pos = 13
    gct = None
    if flags & 0x80:
        size = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * size], dtype=np.uint8).reshape(
            size, 3
        )
        pos += 3 * size
    while True:
        block = data[pos]
        pos += 1
        if block == 0x3B:
            raise ValueError("gif: trailer before image data")
        if block == 0x21:  # extension: label + length-prefixed sub-blocks
            pos += 1
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unknown block 0x{block:02x}")
        left, top, w, h = struct.unpack("<HHHH", data[pos : pos + 8])
        iflags = data[pos + 8]
        pos += 9
        pal = gct
        if iflags & 0x80:
            size = 2 << (iflags & 0x07)
            pal = np.frombuffer(
                data[pos : pos + 3 * size], dtype=np.uint8
            ).reshape(size, 3)
            pos += 3 * size
        if pal is None:
            raise ValueError("gif: no color table")
        mcs = data[pos]
        pos += 1
        stream = bytearray()
        while data[pos] != 0:
            ln = data[pos]
            stream += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        indices = np.frombuffer(lzw_decode(bytes(stream), mcs), dtype=np.uint8)
        if len(indices) != w * h:
            raise ValueError("gif: decoded size mismatch")
        raster = indices.reshape(h, w)
        if iflags & 0x40:  # undo interlacing
            out = np.empty_like(raster)
            out[_interlace_order(h)] = raster
            raster = out
        return pal[raster]


# ---------------------------------------------------------------------------
# deterministic fixtures (SQL-predictable):
#   w(doc) = 1 + doc_id % 48, h(doc) = 1 + (doc_id * 5) % 32
#   index(y, x) = (doc_id + 3*y) % 256 for x > 0       (row-constant)
#   index(y, 0) = (doc_id + 3*y + 91) % 256            (left edge differs:
#                                                       catches x/y flips)
#   palette = identity grayscale (v, v, v); interlace on odd doc_ids
# ---------------------------------------------------------------------------
def synth_gif(doc_id: int) -> bytes:
    w = 1 + doc_id % 48
    h = 1 + (doc_id * 5) % 32
    y = np.arange(h, dtype=np.int64)[:, None]
    idx = np.broadcast_to((doc_id + 3 * y) % 256, (h, w)).copy()
    idx[:, 0] = (doc_id + 3 * y[:, 0] + 91) % 256
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    return encode_gif(idx.astype(np.uint8), pal, interlace=bool(doc_id % 2))


@register(
    "p_gif_decode",
    # sum_v = per-channel pixel sum (palette is identity grayscale):
    # row-constant body + distinct left edge — any row-order,
    # interlace, or left/right bug shifts the sum and fails the hash.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
        CAST(1 + doc_id % 48 AS BIGINT) AS w,
        CAST(1 + (doc_id * 5) % 32 AS BIGINT) AS h
      FROM documents),
    sums AS (
      SELECT doc_id, w, h,
        list_sum(list_transform(generate_series(0, h - 1),
          y -> (w - 1) * ((doc_id + 3 * y) % 256)
               + (doc_id + 3 * y + 91) % 256)) AS sv
      FROM dims)
    SELECT doc_id,
      (doc_id % 2 = 1) AS interlaced,
      CAST(w AS INT) AS width,
      CAST(h AS INT) AS height,
      CAST(sv AS BIGINT) AS sum_v
    FROM sums ORDER BY doc_id
    """,
)
def p_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode under the full oracle: synthesize genuine
    GIF89a files (real LZW compression, GCE extension blocks, odd docs
    interlaced), then parse the actual bytes back to pixels."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.gifcodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def synth_batches(batches):
        for pdf in batches:
            payloads = [synth_gif(int(i)) for i in pdf["doc_id"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payloads = ids.mapInPandas(synth_batches, "doc_id BIGINT, payload BINARY")

    def decode_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                rgb = decode_gif(bytes(p)).astype(np.int64)
                h, w = rgb.shape[:2]
                # identity-gray palette: all three channels equal; sum
                # one channel (the oracle's sum_v)
                rows.append(
                    (int(doc_id), int(doc_id) % 2 == 1, w, h, int(rgb[:, :, 0].sum()))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "interlaced", "width", "height", "sum_v"]
            )

    return payloads.mapInPandas(
        decode_batches,
        "doc_id BIGINT, interlaced BOOLEAN, width INT, height INT, sum_v BIGINT",
    ).transform(ordered, "doc_id")
