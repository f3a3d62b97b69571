"""WebDataset-style TAR shard ingestion: the standard container for
large-scale multimodal training data (a corpus ships as .tar shards
whose members group by key — `000042.jpg` + `000042.txt` +
`000042.json` form one sample; loaders stream samples straight off
the tar).

This module implements the POSIX ustar layer byte-for-byte (no
`tarfile` import — the parser is the operator under test):

  * 512-byte header blocks: name, octal size/mtime, typeflag, the
    8-space-seeded header CHECKSUM (verified per member), magic
    "ustar",
  * content rounded up to 512-byte blocks, two zero blocks as EOT,
  * member grouping by key prefix into samples.

The driver entry `p_webdataset` synthesizes genuine shards — each
sample holds a REAL baseline JPEG (jpegcodec's DC-exact fixtures) and
a caption .txt member — walks the tar bytes back, verifies every
header checksum, pairs members into samples, decodes the JPEG through
the full Huffman/IDCT path, and emits per-sample stats the DuckDB
oracle predicts from the synthesis rules. A wrong size field, a
mis-rounded block offset, a checksum bug, or any JPEG decode defect
shifts the output and fails the value hash.

Scale notes (100 TB): shard-per-row is exactly how WebDataset scales —
shards are the unit of parallelism (here one tar per 8 docs; in
production ~1 GB each), the walk is O(bytes) with no cross-shard
state, and only typed sample stats leave Python. Composition matters:
this entry exercises container parsing AND media decoding in one
pipeline, the actual shape of a multimodal ingest job.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import ordered, spread
from hive_clone_spark.pipeline.jpegcodec import decode_jpeg, synth_jpeg
from hive_clone_spark.registry import register

_BLK = 512
_DOCS_PER_SHARD = 8


# ---------------------------------------------------------------------------
# ustar writer/parser
# ---------------------------------------------------------------------------
def _octal(n: int, width: int) -> bytes:
    return (f"%0{width - 1}o" % n).encode() + b"\x00"


def tar_member(name: str, content: bytes) -> bytes:
    """One ustar member: header block (with computed checksum) +
    content padded to 512-byte blocks."""
    hdr = bytearray(_BLK)
    nb = name.encode()
    if len(nb) > 100:
        raise ValueError("tar: name too long")
    hdr[0 : len(nb)] = nb
    hdr[100:108] = _octal(0o644, 8)  # mode
    hdr[108:116] = _octal(0, 8)  # uid
    hdr[116:124] = _octal(0, 8)  # gid
    hdr[124:136] = _octal(len(content), 12)
    hdr[136:148] = _octal(0, 12)  # mtime (deterministic fixtures)
    hdr[148:156] = b" " * 8  # checksum seed
    hdr[156] = 0x30  # typeflag '0' regular file
    hdr[257:263] = b"ustar\x00"
    hdr[263:265] = b"00"
    chk = sum(hdr)
    hdr[148:156] = (b"%06o" % chk) + b"\x00 "
    pad = (-len(content)) % _BLK
    return bytes(hdr) + content + b"\x00" * pad


def tar_build(members: list[tuple[str, bytes]]) -> bytes:
    out = bytearray()
    for name, content in members:
        out += tar_member(name, content)
    out += b"\x00" * (2 * _BLK)  # end-of-archive
    return bytes(out)


def tar_walk(data: bytes) -> list[tuple[str, bytes]]:
    """Walk a ustar stream, verifying each header checksum. Returns
    [(name, content), ...]."""
    out = []
    pos = 0
    data = bytes(data)
    while pos + _BLK <= len(data):
        hdr = data[pos : pos + _BLK]
        if hdr == b"\x00" * _BLK:  # first EOT block
            break
        stored = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
        summed = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if stored != summed:
            raise ValueError(f"tar: header checksum mismatch at {pos}")
        if hdr[257:262] != b"ustar":
            raise ValueError("tar: bad magic")
        name = hdr[0:100].split(b"\x00")[0].decode()
        size = int(hdr[124:136].split(b"\x00")[0].strip(), 8)
        start = pos + _BLK
        out.append((name, data[start : start + size]))
        pos = start + size + ((-size) % _BLK)
    else:
        raise ValueError("tar: missing end-of-archive")
    return out


# ---------------------------------------------------------------------------
# driver entry
# ---------------------------------------------------------------------------
@register(
    "p_webdataset",
    # Per sample: the caption rule and the jpeg pixel rule are both
    # mirrored from their synthesizers (jpegcodec's DC-only fixture —
    # same expressions as p_jpeg_decode's oracle, reduced to the luma
    # sum; captions are "caption for doc {id}: {n_chars} chars").
    oracle="""
    WITH dims AS (
      SELECT doc_id, n_chars,
        CASE WHEN doc_id % 4 = 3 THEN CAST(2 * (1 + doc_id % 3) AS BIGINT)
             ELSE CAST(1 + doc_id % 8 AS BIGINT) END AS wb,
        CASE WHEN doc_id % 4 = 3
             THEN CAST(2 * (1 + (doc_id // 4) % 3) AS BIGINT)
             ELSE CAST(1 + (doc_id * 3) % 6 AS BIGINT) END AS hb,
        CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS d
      FROM documents),
    blocks AS (
      SELECT doc_id, wb, hb, d, k % wb AS bx, k // wb AS by
      FROM (SELECT doc_id, wb, hb, d,
              unnest(generate_series(0, wb * hb - 1)) AS k
            FROM dims)),
    -- 4:2:0 rows read chroma from the subsampled grid (replication)
    px AS (
      SELECT doc_id,
        128 + 2 * (((doc_id + 11 * bx + 5 * by) % 17) - 8) AS y,
        128 + 2 * (((doc_id * 5 + 3 * (bx // d) + 4 * (by // d)) % 7) - 3)
          AS cr
      FROM blocks),
    rsum AS (
      SELECT doc_id,
        CAST(64 * SUM(CASE WHEN doc_id % 2 = 0 THEN y
          ELSE CAST(floor(y + 1.402 * (cr - 128) + 0.5) AS BIGINT) END)
          AS BIGINT) AS sum_r
      FROM px GROUP BY doc_id)
    SELECT d.doc_id,
      CAST(d.doc_id // 8 AS BIGINT) AS shard,
      CAST(8 * d.wb AS INT) AS width,
      CAST(8 * d.hb AS INT) AS height,
      CAST((CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END) AS INT)
        AS channels,
      CAST(length('caption for doc ' || d.doc_id || ': '
             || d.n_chars || ' chars') AS INTEGER) AS caption_len,
      r.sum_r
    FROM dims d JOIN rsum r USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def p_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset ingest: build genuine tar shards of (jpg, txt)
    sample pairs (stage A), then walk the ustar bytes — checksum
    verification, octal size fields, block rounding — regroup members
    into samples, and decode each sample's REAL JPEG (stage B)."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.webdataset as _mod
    import hive_clone_spark.pipeline.jpegcodec as _jc

    _cp.register_pickle_by_value(_mod)
    _cp.register_pickle_by_value(_jc)

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        (F.col("doc_id") / _DOCS_PER_SHARD).cast("long").alias("shard"),
    )

    def build_shards(pdf):
        members = []
        for doc_id, n_chars in sorted(zip(pdf["doc_id"], pdf["n_chars"])):
            key = f"{int(doc_id):09d}"
            members.append((f"{key}.jpg", synth_jpeg(int(doc_id))))
            caption = f"caption for doc {int(doc_id)}: {int(n_chars)} chars"
            members.append((f"{key}.txt", caption.encode()))
        return pd.DataFrame(
            {"shard": [pdf["shard"].iloc[0]], "payload": [tar_build(members)]}
        )

    shards = (
        spread(docs, "shard")
        .groupBy("shard")
        .applyInPandas(build_shards, "shard BIGINT, payload BINARY")
    )

    def parse_batches(batches):
        for pdf in batches:
            rows = []
            for shard, payload in zip(pdf["shard"], pdf["payload"]):
                samples: dict[str, dict[str, bytes]] = {}
                for name, content in tar_walk(bytes(payload)):
                    key, _, ext = name.partition(".")
                    samples.setdefault(key, {})[ext] = content
                for key, parts in samples.items():
                    pix = decode_jpeg(parts["jpg"]).astype(np.int64)
                    h, w, c = pix.shape
                    rows.append(
                        (
                            int(key),
                            int(shard),
                            w,
                            h,
                            c,
                            len(parts["txt"]),
                            # channel 0: gray luma or the R plane —
                            # both SQL-predicted from the fixture rule
                            int(pix[:, :, 0].sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "shard", "width", "height", "channels",
                    "caption_len", "sum_r",
                ],
            )

    parsed = shards.mapInPandas(
        parse_batches,
        "doc_id BIGINT, shard BIGINT, width INT, height INT, channels INT, "
        "caption_len INT, sum_r BIGINT",
    )
    return parsed.transform(ordered, "doc_id")
