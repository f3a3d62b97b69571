"""EXIF (APP1/TIFF) metadata — clean-room encoder + parser over the
real JPEG fixtures, under a full value-hash oracle.

Every camera JPEG carries an APP1 segment holding a TIFF 6.0 byte
stream (CIPA DC-008 / EXIF 2.3): byte-order mark (II little-endian /
MM big-endian), the 42 magic, then linked IFDs of 12-byte tag entries
whose values live inline (when they fit in 4 bytes) or at an offset
into the same TIFF stream. Orientation + pixel dimensions from this
segment drive every image-preprocessing pipeline (rotate-before-crop),
so parsing it is pipeline table stakes, not a nicety.

What is REAL here: the APP1 payload is a genuine TIFF stream — both
byte orders (doc_id parity picks II vs MM), inline SHORT/LONG values,
offset-addressed ASCII and RATIONAL values, and a chained Exif sub-IFD
reached through the 0x8769 pointer tag. The segment is spliced into
the actual JFIF files synth_jpeg builds, and the pixel decoder walks
OVER it (unknown APPn skipped by length) — the entry cross-checks the
EXIF-declared pixel dimensions against the REAL decode of the same
bytes, so a marker walk that corrupts offsets breaks both columns.

Reference parity: the reference engine has no media IO (SURVEY.md §2);
this extends the codec family of the pipeline surface.

Scale notes (100 TB): APP1 sits in the first kilobytes of the file —
production pipelines parse EXIF from a ranged read of the object head
without fetching the image body. Per-file work, no cross-file state;
mapInPandas rows fan out like every codec entry.
"""

from __future__ import annotations

import struct

import pandas as pd  # noqa: F401  (worker-side import parity)
from pyspark.sql import DataFrame, SparkSession

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import ordered, spread
from hive_clone_spark.pipeline.jpegcodec import decode_jpeg, synth_jpeg
from hive_clone_spark.registry import register

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL

TAG_MAKE = 0x010F
TAG_ORIENTATION = 0x0112
TAG_XRES = 0x011A
TAG_EXIF_IFD = 0x8769
TAG_PIXEL_X = 0xA002
TAG_PIXEL_Y = 0xA003


# ---------------------------------------------------------------------------
# encoder: one APP1 segment with IFD0 -> Exif sub-IFD
# ---------------------------------------------------------------------------
def build_exif_app1(
    byte_order_le: bool,
    orientation: int,
    x_res: int,
    make: str,
    pixel_x: int,
    pixel_y: int,
) -> bytes:
    """A spec-layout TIFF stream wrapped in an APP1 marker segment.

    Fixed layout (offsets from the TIFF header): IFD0 at 8 with four
    entries (Orientation SHORT inline, XResolution RATIONAL by offset,
    Make ASCII by offset, ExifIFD pointer), value area, then the Exif
    sub-IFD with the two pixel-dimension LONGs inline."""
    e = "<" if byte_order_le else ">"
    make_b = make.encode() + b"\x00"

    def entry(tag: int, typ: int, count: int, value_bytes: bytes) -> bytes:
        assert len(value_bytes) <= 4
        return struct.pack(e + "HHI", tag, typ, count) + value_bytes.ljust(
            4, b"\x00"
        )

    ifd0_off = 8
    n0 = 4
    ifd0_end = ifd0_off + 2 + 12 * n0 + 4
    xres_off = ifd0_end
    make_off = xres_off + 8
    exif_off = make_off + len(make_b) + (len(make_b) % 2)  # even-align
    ifd0 = struct.pack(e + "H", n0)
    ifd0 += entry(
        TAG_ORIENTATION, 3, 1, struct.pack(e + "H", orientation)
    )  # SHORT fits inline (first 2 bytes of the value field)
    ifd0 += entry(TAG_XRES, 5, 1, struct.pack(e + "I", xres_off))
    ifd0 += entry(TAG_MAKE, 2, len(make_b), struct.pack(e + "I", make_off))
    ifd0 += entry(TAG_EXIF_IFD, 4, 1, struct.pack(e + "I", exif_off))
    ifd0 += struct.pack(e + "I", 0)  # no IFD1
    sub = struct.pack(e + "H", 2)
    sub += entry(TAG_PIXEL_X, 4, 1, struct.pack(e + "I", pixel_x))
    sub += entry(TAG_PIXEL_Y, 4, 1, struct.pack(e + "I", pixel_y))
    sub += struct.pack(e + "I", 0)
    tiff = (
        (b"II" if byte_order_le else b"MM")
        + struct.pack(e + "H", 42)
        + struct.pack(e + "I", ifd0_off)
        + ifd0
        + struct.pack(e + "II", x_res, 1)  # RATIONAL num/den
        + make_b
        + (b"\x00" if len(make_b) % 2 else b"")
        + sub
    )
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", 2 + len(payload)) + payload


def splice_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Insert the APP1 right after SOI — where cameras put it."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("exif: not a JPEG (missing SOI)")
    return jpeg[:2] + app1 + jpeg[2:]


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------
def _parse_ifd(tiff: bytes, e: str, off: int) -> dict[int, tuple]:
    """One IFD -> {tag: (type, count, raw_value_bytes)} with offset
    values resolved against the TIFF stream."""
    (n,) = struct.unpack_from(e + "H", tiff, off)
    out: dict[int, tuple] = {}
    for i in range(n):
        base = off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(e + "HHI", tiff, base)
        size = _TYPE_SIZE.get(typ, 1) * count
        if size <= 4:
            raw = tiff[base + 8 : base + 8 + size]
        else:
            (voff,) = struct.unpack_from(e + "I", tiff, base + 8)
            raw = tiff[voff : voff + size]
        out[tag] = (typ, count, raw)
    return out


def parse_exif(jpeg: bytes) -> dict:
    """Walk the JPEG markers to APP1/Exif, then parse the TIFF stream:
    byte order, IFD0 tags, and the 0x8769-linked Exif sub-IFD. Returns
    {byte_order, orientation, x_res, make, pixel_x, pixel_y}."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("exif: missing SOI")
    pos = 2
    tiff = None
    while pos + 4 <= len(jpeg):
        if jpeg[pos] != 0xFF:
            raise ValueError("exif: expected marker")
        marker = jpeg[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seg_len,) = struct.unpack_from(">H", jpeg, pos + 2)
        if marker == 0xE1 and jpeg[pos + 4 : pos + 10] == b"Exif\x00\x00":
            tiff = jpeg[pos + 10 : pos + 2 + seg_len]
            break
        if marker == 0xDA:  # entropy data follows; EXIF must precede it
            break
        pos += 2 + seg_len
    if tiff is None:
        raise ValueError("exif: no APP1/Exif segment")
    order = tiff[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError(f"exif: bad byte-order mark {order!r}")
    if struct.unpack_from(e + "H", tiff, 2)[0] != 42:
        raise ValueError("exif: bad TIFF magic")
    (ifd0_off,) = struct.unpack_from(e + "I", tiff, 4)
    ifd0 = _parse_ifd(tiff, e, ifd0_off)
    out = {"byte_order": order.decode()}
    typ, _, raw = ifd0[TAG_ORIENTATION]
    out["orientation"] = struct.unpack(e + "H", raw)[0]
    typ, _, raw = ifd0[TAG_XRES]
    num, den = struct.unpack(e + "II", raw)
    out["x_res"] = num // den
    typ, _, raw = ifd0[TAG_MAKE]
    out["make"] = raw.rstrip(b"\x00").decode()
    (sub_off,) = struct.unpack(e + "I", ifd0[TAG_EXIF_IFD][2])
    sub = _parse_ifd(tiff, e, sub_off)
    out["pixel_x"] = struct.unpack(e + "I", sub[TAG_PIXEL_X][2])[0]
    out["pixel_y"] = struct.unpack(e + "I", sub[TAG_PIXEL_Y][2])[0]
    return out


# ---------------------------------------------------------------------------
# fixture rule (mirrored by the oracle; dims match synth_jpeg's rule)
#   byte order  : II when doc_id even, MM when odd
#   orientation : 1 + doc_id % 8        (all 8 EXIF orientations)
#   x_res       : 72 + doc_id % 4
#   make        : 'CAM-' || (doc_id % 5)
#   pixel_x/y   : the REAL image dims (8*wb, 8*hb per synth_jpeg)
# ---------------------------------------------------------------------------
def synth_exif_jpeg(doc_id: int) -> bytes:
    if doc_id % 4 == 3:
        wb = 2 * (1 + doc_id % 3)
        hb = 2 * (1 + (doc_id // 4) % 3)
    else:
        wb = 1 + doc_id % 8
        hb = 1 + (doc_id * 3) % 6
    app1 = build_exif_app1(
        byte_order_le=doc_id % 2 == 0,
        orientation=1 + doc_id % 8,
        x_res=72 + doc_id % 4,
        make=f"CAM-{doc_id % 5}",
        pixel_x=8 * wb,
        pixel_y=8 * hb,
    )
    return splice_app1(synth_jpeg(doc_id), app1)


@register(
    "p_jpeg_exif",
    # Every column predicted from the synthesis rule; exif_matches_px
    # pins the cross-check between the APP1-declared dimensions and
    # the REAL pixel decode of the same file (the decoder must skip the
    # APP1 correctly AND the TIFF offsets must resolve correctly for
    # this to hold on both byte orders).
    oracle="""
    WITH dims AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 3 THEN 2 * (1 + doc_id % 3)
             ELSE 1 + doc_id % 8 END AS wb,
        CASE WHEN doc_id % 4 = 3 THEN 2 * (1 + (doc_id // 4) % 3)
             ELSE 1 + (doc_id * 3) % 6 END AS hb
      FROM documents)
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
      CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
      CAST(72 + doc_id % 4 AS BIGINT) AS x_res,
      'CAM-' || (doc_id % 5) AS make,
      CAST(8 * wb AS INTEGER) AS pixel_x,
      CAST(8 * hb AS INTEGER) AS pixel_y,
      TRUE AS exif_matches_px
    FROM dims ORDER BY doc_id
    """,
)
def p_jpeg_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize camera-style JPEGs (EXIF APP1 spliced after SOI, both
    TIFF byte orders), parse the APP1 TIFF stream, and cross-check the
    declared pixel dimensions against the real decode."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.exif as _mod
    import hive_clone_spark.pipeline.jpegcodec as _jmod

    _cp.register_pickle_by_value(_mod)
    _cp.register_pickle_by_value(_jmod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def exif_batches(batches):
        # decode_jpeg/synth_exif_jpeg reach the worker as module
        # globals pickled by value (register_pickle_by_value above) —
        # executors do NOT have the repo on sys.path, so a runtime
        # import inside this closure would fail there
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                payload = synth_exif_jpeg(doc_id)
                meta = parse_exif(payload)
                pix = decode_jpeg(payload)
                h, w = pix.shape[:2]
                rows.append(
                    (
                        doc_id,
                        meta["byte_order"],
                        meta["orientation"],
                        meta["x_res"],
                        meta["make"],
                        meta["pixel_x"],
                        meta["pixel_y"],
                        meta["pixel_x"] == w and meta["pixel_y"] == h,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "byte_order", "orientation", "x_res", "make",
                    "pixel_x", "pixel_y", "exif_matches_px",
                ],
            )

    schema = (
        "doc_id BIGINT, byte_order STRING, orientation INT, x_res BIGINT, "
        "make STRING, pixel_x INT, pixel_y INT, exif_matches_px BOOLEAN"
    )
    return ids.mapInPandas(exif_batches, schema).transform(ordered, "doc_id")
