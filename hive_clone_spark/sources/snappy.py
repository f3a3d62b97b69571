"""Clean-room Snappy block-format codec (google/snappy
format_description.txt — the public spec): uvarint uncompressed-length
preamble, then a sequence of elements tagged in the low 2 bits of the
first byte — 00 literal, 01 copy with 11-bit offset / 4-11 length,
10 copy with 16-bit little-endian offset / 1-64 length (the general
workhorse), 11 copy with 32-bit offset.

Snappy is THE parquet/ORC page codec a warehouse actually runs
(spark.sql.parquet.compression.codec defaults to it), so the engine
owning a transparent implementation matters the same way the LZ4 and
DEFLATE modules do: the byte format sits under tests (spec vectors +
hypothesis roundtrips), and the distributed entry proves decode
bit-exactness under the DuckDB value hash.

Encoder: greedy, deterministic — a dict of 4-byte prefixes, most
recent occurrence wins, matches extended byte-wise to the 64-byte
element cap, emitted as 2-byte-offset copies (offsets <= 65535; the
fixture payloads are far smaller). Determinism is the contract the
tests pin: same input -> same bytes, every run, every worker.

Scale design (p_snappy_roundtrip): one Arrow mapInPandas pass, the
whole codec by-value in the closure (workers have no repo sys.path);
per-row cost linear in payload; the only shuffles are spread() before
it and the final sort after it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.registry import register

_MAX_COPY_LEN = 64
_MAX_OFFSET = 65535  # 2-byte-offset copies only (tag 10)


def _emit_uvarint(out: bytearray, n: int) -> None:
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def _read_uvarint(data: bytes, pos: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7
        if shift > 35:
            raise ValueError("snappy: uvarint too long")


def _emit_literal(out: bytearray, chunk: bytes) -> None:
    n = len(chunk)
    if n == 0:
        return
    if n <= 60:
        out.append((n - 1) << 2)
    elif n <= 0x100:
        out.append(60 << 2)
        out.append(n - 1)
    elif n <= 0x10000:
        out.append(61 << 2)
        out += (n - 1).to_bytes(2, "little")
    elif n <= 0x1000000:
        out.append(62 << 2)
        out += (n - 1).to_bytes(3, "little")
    else:
        out.append(63 << 2)
        out += (n - 1).to_bytes(4, "little")
    out += chunk


def _emit_copy2(out: bytearray, offset: int, length: int) -> None:
    # tag 10: length 1..64 encoded as len-1 in the upper 6 bits
    out.append(((length - 1) << 2) | 0x02)
    out += offset.to_bytes(2, "little")


def snappy_compress(data: bytes) -> bytes:
    n = len(data)
    out = bytearray()
    _emit_uvarint(out, n)
    if n == 0:
        return bytes(out)
    table: dict[bytes, int] = {}
    i = lit_start = 0
    while i + 4 <= n:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is not None and i - cand <= _MAX_OFFSET:
            mlen = 4
            limit = min(n - i, _MAX_COPY_LEN)
            while mlen < limit and data[cand + mlen] == data[i + mlen]:
                mlen += 1
            _emit_literal(out, data[lit_start:i])
            _emit_copy2(out, i - cand, mlen)
            i += mlen
            lit_start = i
        else:
            i += 1
    _emit_literal(out, data[lit_start:n])
    return bytes(out)


def snappy_decompress(data: bytes) -> bytes:
    expected, pos = _read_uvarint(data, 0)
    out = bytearray()
    n = len(data)
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 0x03
        if kind == 0x00:  # literal
            ln = tag >> 2
            if ln < 60:
                ln += 1
            else:
                extra = ln - 59  # 60..63 -> 1..4 length bytes
                ln = int.from_bytes(data[pos : pos + extra], "little") + 1
                pos += extra
            out += data[pos : pos + ln]
            pos += ln
            continue
        if kind == 0x01:  # 11-bit offset, length 4..11
            length = ((tag >> 2) & 0x07) + 4
            offset = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 0x02:  # 16-bit offset, length 1..64
            length = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 2], "little")
            pos += 2
        else:  # 32-bit offset
            length = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        if offset == 0 or offset > len(out):
            raise ValueError("snappy: copy offset out of range")
        src = len(out) - offset
        for k in range(length):  # byte-wise: overlapping copies legal
            out.append(out[src + k])
    if len(out) != expected:
        raise ValueError(
            f"snappy: decoded {len(out)} bytes, preamble said {expected}"
        )
    return bytes(out)


@register(
    "p_snappy_roundtrip",
    oracle="""
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS orig_len,
      CAST(octet_length(encode(text)) AS BIGINT) AS decoded_len,
      md5(text) AS decoded_md5,
      TRUE AS roundtrip_ok
    FROM documents ORDER BY doc_id
    """,
)
def p_snappy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> distributed Snappy encode -> distributed decode ->
    per-doc census (p_lz4_roundtrip's contract: the oracle pins decode
    bit-exactness via byte length + md5 of every decoded payload; the
    compressed size is encoder-defined and asserted in tests)."""
    import hashlib

    import pandas as pd

    from pyspark import cloudpickle as _cp

    import hive_clone_spark.sources.snappy as _mod
    from hive_clone_spark.pipeline.common import spread

    _cp.register_pickle_by_value(_mod)

    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))

    def codec_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = str(text).encode("utf-8")
                comp = snappy_compress(raw)
                back = snappy_decompress(comp)
                rows.append(
                    (
                        int(doc_id),
                        len(raw),
                        len(back),
                        hashlib.md5(back).hexdigest(),
                        back == raw,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "orig_len",
                    "decoded_len",
                    "decoded_md5",
                    "roundtrip_ok",
                ],
            )

    return d.mapInPandas(
        codec_batches,
        "doc_id BIGINT, orig_len BIGINT, decoded_len BIGINT, "
        "decoded_md5 STRING, roundtrip_ok BOOLEAN",
    ).orderBy("doc_id")
