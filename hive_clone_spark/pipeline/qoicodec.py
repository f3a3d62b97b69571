"""Clean-room QOI codec (the "Quite OK Image" format — public spec,
qoiformat.org/qoi-specification.pdf): a byte-oriented lossless RGB/RGBA
format whose six ops are a masterclass in cheap redundancy capture —
RUN (repeat previous pixel), INDEX (64-slot rolling hash array), DIFF
(2-bit per-channel deltas), LUMA (green-anchored deltas), RGB/RGBA
literals — all decodable in one linear pass with 64 ints of state.

The encoder follows the reference priority order (run → index → diff →
luma → literal), which makes its output canonical and deterministic —
the property the tests pin. The registered entry generates REAL pixel
grids from the corpus (the imagecodec synthesis discipline: every
value a closed-form function of doc_id, so the decoded-pixel checksum
sits under the DuckDB value hash), encodes, decodes, and checksums the
round trip.

Scale design: one Arrow mapInPandas pass; codec shipped by value into
the closure; per-row cost linear in pixel count; the only shuffles
are spread() before it and the single-partition final sort
(`common.ordered`, which runs the pass once) after it.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.registry import register

_QOI_MAGIC = b"qoif"
_END = b"\x00" * 7 + b"\x01"


def _hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def encode_qoi(pixels: np.ndarray) -> bytes:
    """pixels: (h, w, 3|4) uint8 -> QOI byte stream (canonical greedy)."""
    h, w, ch = pixels.shape
    out = bytearray(_QOI_MAGIC)
    out += w.to_bytes(4, "big") + h.to_bytes(4, "big")
    out += bytes([ch, 0])  # colorspace 0 = sRGB w/ linear alpha
    index = [(0, 0, 0, 0)] * 64
    pr, pg, pb, pa = 0, 0, 0, 255
    run = 0
    flat = pixels.reshape(-1, ch)
    for px in flat:
        if ch == 4:
            r, g, b, a = int(px[0]), int(px[1]), int(px[2]), int(px[3])
        else:
            r, g, b, a = int(px[0]), int(px[1]), int(px[2]), pa
        if (r, g, b, a) == (pr, pg, pb, pa):
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        pos = _hash(r, g, b, a)
        if index[pos] == (r, g, b, a):
            out.append(pos)  # QOI_OP_INDEX (top bits 00)
        else:
            index[pos] = (r, g, b, a)
            if a == pa:
                # wrapping int8 channel diffs
                dr = ((r - pr + 128) & 0xFF) - 128
                dg = ((g - pg + 128) & 0xFF) - 128
                db = ((b - pb + 128) & 0xFF) - 128
                if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                    out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
                elif (
                    -32 <= dg <= 31
                    and -8 <= dr - dg <= 7
                    and -8 <= db - dg <= 7
                ):
                    out.append(0x80 | (dg + 32))
                    out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                else:
                    out += bytes([0xFE, r, g, b])
            else:
                out += bytes([0xFF, r, g, b, a])
        pr, pg, pb, pa = r, g, b, a
    if run:
        out.append(0xC0 | (run - 1))
    out += _END
    return bytes(out)


def decode_qoi(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """QOI bytes -> (w, h, channels, (h, w, ch) uint8)."""
    if data[:4] != _QOI_MAGIC:
        raise ValueError("qoi: bad magic")
    w = int.from_bytes(data[4:8], "big")
    h = int.from_bytes(data[8:12], "big")
    ch = data[12]
    if ch not in (3, 4):
        raise ValueError(f"qoi: channels {ch}")
    if data[-8:] != _END:
        raise ValueError("qoi: missing end marker")
    n = w * h
    px = np.empty((n, 4), dtype=np.uint8)
    index = [(0, 0, 0, 0)] * 64
    r, g, b, a = 0, 0, 0, 255
    pos, i = 14, 0  # header is exactly 14 bytes
    body_end = len(data) - 8
    while i < n:
        if pos >= body_end:
            raise ValueError("qoi: truncated stream")
        tag = data[pos]
        pos += 1
        if tag == 0xFE:  # RGB
            r, g, b = data[pos], data[pos + 1], data[pos + 2]
            pos += 3
        elif tag == 0xFF:  # RGBA
            r, g, b, a = data[pos], data[pos + 1], data[pos + 2], data[pos + 3]
            pos += 4
        else:
            top = tag >> 6
            if top == 0b00:  # INDEX
                r, g, b, a = index[tag & 0x3F]
            elif top == 0b01:  # DIFF
                r = (r + ((tag >> 4) & 0x03) - 2) & 0xFF
                g = (g + ((tag >> 2) & 0x03) - 2) & 0xFF
                b = (b + (tag & 0x03) - 2) & 0xFF
            elif top == 0b10:  # LUMA
                dg = (tag & 0x3F) - 32
                nxt = data[pos]
                pos += 1
                r = (r + dg + ((nxt >> 4) & 0x0F) - 8) & 0xFF
                g = (g + dg) & 0xFF
                b = (b + dg + (nxt & 0x0F) - 8) & 0xFF
            else:  # RUN
                run = (tag & 0x3F) + 1
                if i + run > n:
                    raise ValueError("qoi: run past end")
                px[i : i + run] = (r, g, b, a)
                i += run
                continue
        index[_hash(r, g, b, a)] = (r, g, b, a)
        px[i] = (r, g, b, a)
        i += 1
    if pos != body_end:  # over-read into the marker (truncated body)
        raise ValueError("qoi: stream length mismatch")
    out = px[:, :ch].reshape(h, w, ch)
    return w, h, ch, np.ascontiguousarray(out)


# ---------------------------------------------------------------------------
# Synthesis rule (closed-form in doc_id so the oracle can brute-force
# the decoded-pixel checksum):
#   w = 1 + doc_id % 48,  h = 1 + (doc_id*5) % 40
#   channels = 4 when doc_id % 4 == 3 else 3
#   pix(y,x,c) = (doc_id + 3y + 7c + 2x*(doc_id % 5 = 0)) % 256
#   alpha(y)   = 255 - ((doc_id + 5y) % 64)
# Row-constant docs exercise RUN; the %5==0 horizontal gradient
# exercises DIFF/LUMA/INDEX; RGBA rows exercise the alpha lanes.
# checksum = Σ (1*r + 2*g + 3*b [+ 4*a]) over all pixels.
# ---------------------------------------------------------------------------
def synth_qoi_pixels(doc_id: int) -> np.ndarray:
    w = 1 + doc_id % 48
    h = 1 + (doc_id * 5) % 40
    y = np.arange(h, dtype=np.int64)[:, None, None]
    x = np.arange(w, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    grad = 2 * x if doc_id % 5 == 0 else 0 * x
    rgb = ((doc_id + 3 * y + 7 * c + grad) % 256).astype(np.uint8)
    if doc_id % 4 == 3:
        a = (255 - ((doc_id + 5 * y) % 64)).astype(np.uint8)  # (h,1,1)
        a4 = np.broadcast_to(a, (h, w, 1))
        return np.concatenate([rgb, a4], axis=2)
    return rgb


@register(
    "p_qoi_roundtrip",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 48 AS w, 1 + (doc_id * 5) % 40 AS h,
        CASE WHEN doc_id % 4 = 3 THEN 4 ELSE 3 END AS ch
      FROM documents),
    px AS (
      SELECT d.doc_id, d.w, d.h, d.ch, yy.y, xx.x,
        (d.doc_id + 3 * yy.y + 0
           + CASE WHEN d.doc_id % 5 = 0 THEN 2 * xx.x ELSE 0 END) % 256 AS r,
        (d.doc_id + 3 * yy.y + 7
           + CASE WHEN d.doc_id % 5 = 0 THEN 2 * xx.x ELSE 0 END) % 256 AS g,
        (d.doc_id + 3 * yy.y + 14
           + CASE WHEN d.doc_id % 5 = 0 THEN 2 * xx.x ELSE 0 END) % 256 AS b,
        255 - ((d.doc_id + 5 * yy.y) % 64) AS a
      FROM d
      JOIN LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) yy
        ON TRUE
      JOIN LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xx
        ON TRUE)
    SELECT doc_id,
      CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
      CAST(MAX(ch) AS INT) AS channels,
      CAST(COUNT(*) AS BIGINT) AS n_pixels,
      CAST(SUM(r + 2 * g + 3 * b
               + CASE WHEN ch = 4 THEN 4 * a ELSE 0 END) AS BIGINT)
        AS pixel_checksum,
      TRUE AS roundtrip_ok
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
)
def p_qoi_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark import cloudpickle as _cp

    import hive_clone_spark.pipeline.qoicodec as _mod
    from hive_clone_spark.pipeline.common import ordered, spread

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def codec_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                pix = synth_qoi_pixels(doc_id)
                blob = encode_qoi(pix)
                w, h, ch, back = decode_qoi(blob)
                weights = np.arange(1, ch + 1, dtype=np.int64)
                checksum = int(
                    (back.astype(np.int64) * weights[None, None, :]).sum()
                )
                rows.append(
                    (
                        doc_id,
                        w,
                        h,
                        ch,
                        w * h,
                        checksum,
                        bool(np.array_equal(back, pix)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "channels",
                    "n_pixels",
                    "pixel_checksum",
                    "roundtrip_ok",
                ],
            )

    return ids.mapInPandas(
        codec_batches,
        "doc_id BIGINT, width INT, height INT, channels INT, "
        "n_pixels BIGINT, pixel_checksum BIGINT, roundtrip_ok BOOLEAN",
    ).transform(ordered, "doc_id")
