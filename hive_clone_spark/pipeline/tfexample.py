"""Clean-room tf.Example (protobuf wire format) encode/parse.

TFRecord framing (sources/tfrecord.py) moves opaque payloads; the
payloads a training pipeline actually ships are `tf.Example` protos —
a Features map of named Int64List / BytesList / FloatList features.
This module implements the PUBLIC protobuf wire format (LEB128
varints, tag = field_number << 3 | wire_type, length-delimited
submessages, packed repeated scalars) and the public tensorflow
Example schema on top of it:

    Example    { Features features = 1; }
    Features   { map<string, Feature> feature = 1; }
    Feature    { oneof { BytesList bytes_list = 1;
                         FloatList float_list = 2;
                         Int64List int64_list = 3; } }
    Int64List  { repeated int64 value = 1 [packed]; }
    FloatList  { repeated float value = 1 [packed]; }  // 4-byte LE
    BytesList  { repeated bytes value = 1; }

Written from the protobuf encoding documentation and the tensorflow
example.proto schema (both public); no protobuf/tensorflow library is
imported anywhere. The parser is a full wire walker: it dispatches on
wire type (so unknown fields skip correctly — the forward-compat
property protobuf exists for), recurses into submessages, and
collects the feature map.

Float determinism: the fixture float feature is quarters
(doc_id % 100 / 4.0) — exactly representable in float32, so the
float32 -> float64 widening at parse time is exact and the DuckDB
oracle's DOUBLE arithmetic matches bit for bit.

Scale notes: encode and parse are separate Arrow stages (the proto
bytes demonstrably cross the JVM boundary as a `binary` column,
imagecodec's two-stage pattern); both are per-row vectorized walks
with no shuffle until the final sort.

Reference parity: none (1.4k-line game engine, SURVEY.md §0); this is
the training-data interchange surface of the driver contract.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import spread
from hive_clone_spark.registry import register


# --- wire primitives -------------------------------------------------------
def write_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def _tag(field: int, wire: int) -> bytes:
    return write_varint((field << 3) | wire)


def _ld(field: int, payload: bytes) -> bytes:  # length-delimited
    return _tag(field, 2) + write_varint(len(payload)) + payload


# --- tf.Example encode -----------------------------------------------------
def encode_int64_list(vals: list[int]) -> bytes:
    packed = b"".join(write_varint(v) for v in vals)
    return _ld(1, packed)


def encode_float_list(vals: list[float]) -> bytes:
    packed = b"".join(struct.pack("<f", v) for v in vals)
    return _ld(1, packed)


def encode_bytes_list(vals: list[bytes]) -> bytes:
    return b"".join(_ld(1, v) for v in vals)


def encode_feature(kind: int, payload: bytes) -> bytes:
    # Feature: oneof field 1/2/3 wraps the list submessage
    return _ld(kind, payload)


def encode_example(features: dict[str, tuple[int, bytes]]) -> bytes:
    """features: name -> (oneof field number, encoded list payload)."""
    body = bytearray()
    for name, (kind, payload) in features.items():
        entry = _ld(1, name.encode("utf-8")) + _ld(
            2, encode_feature(kind, payload)
        )
        body += _ld(1, entry)  # Features.feature map entry
    return _ld(1, bytes(body))  # Example.features


def synth_example(doc_id: int) -> bytes:
    n = 1 + doc_id % 7
    toks = [(doc_id * 13 + 7 * j) % 1000 for j in range(n)]
    return encode_example(
        {
            "id": (3, encode_int64_list([doc_id])),
            "toks": (3, encode_int64_list(toks)),
            "txt": (1, encode_bytes_list([f"doc-{doc_id}".encode()])),
            "q": (2, encode_float_list([(doc_id % 100) / 4.0])),
        }
    )


# --- tf.Example parse (full wire walker) -----------------------------------
def _skip(buf: bytes, pos: int, wire: int) -> int:
    if wire == 0:
        _, pos = read_varint(buf, pos)
    elif wire == 1:
        pos += 8
    elif wire == 2:
        ln, pos = read_varint(buf, pos)
        pos += ln
    elif wire == 5:
        pos += 4
    else:
        raise ValueError(f"tfexample: unsupported wire type {wire}")
    return pos


def _fields(buf: bytes):
    """Yield (field_number, wire_type, value_or_span) over a message."""
    pos = 0
    while pos < len(buf):
        tag, pos = read_varint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            val, pos = read_varint(buf, pos)
            yield field, wire, val
        elif wire == 2:
            ln, pos = read_varint(buf, pos)
            yield field, wire, buf[pos : pos + ln]
            pos += ln
        else:
            start = pos
            pos = _skip(buf, pos - 0, wire)
            yield field, wire, buf[start:pos]


def parse_example(buf: bytes) -> dict[str, list]:
    """Example bytes -> {name: python list} (int64 / float / bytes)."""
    out: dict[str, list] = {}
    for f, w, v in _fields(buf):
        if f != 1 or w != 2:
            continue  # unknown field: skipped by the walker
        for ef, ew, ev in _fields(v):  # Features.feature entries
            if ef != 1 or ew != 2:
                continue
            name, feat = None, None
            for mf, mw, mv in _fields(ev):  # map entry
                if mf == 1 and mw == 2:
                    name = mv.decode("utf-8")
                elif mf == 2 and mw == 2:
                    feat = mv
            if name is None or feat is None:
                continue
            for kf, kw, kv in _fields(feat):  # Feature oneof
                if kf == 3 and kw == 2:  # Int64List
                    vals, pos = [], 0
                    for lf, lw, lv in _fields(kv):
                        if lf == 1 and lw == 2:  # packed
                            p = 0
                            while p < len(lv):
                                x, p = read_varint(lv, p)
                                vals.append(x)
                        elif lf == 1 and lw == 0:  # unpacked writer
                            vals.append(lv)
                    out[name] = vals
                elif kf == 2 and kw == 2:  # FloatList
                    vals = []
                    for lf, lw, lv in _fields(kv):
                        if lf == 1 and lw == 2:
                            vals.extend(
                                struct.unpack(f"<{len(lv) // 4}f", lv)
                            )
                        elif lf == 1 and lw == 5:
                            vals.append(struct.unpack("<f", lv)[0])
                    out[name] = list(vals)
                elif kf == 1 and kw == 2:  # BytesList
                    out[name] = [
                        lv
                        for lf, lw, lv in _fields(kv)
                        if lf == 1 and lw == 2
                    ]
    return out


# ---------------------------------------------------------------------------
# p_tfexample_parse — the end-to-end entry: encode one tf.Example per
# document (stage A: ids -> proto bytes as a binary column), parse
# them back with the wire walker (stage B), and census the extracted
# features. The oracle predicts every extracted value from the
# fixture arithmetic — so a wrong varint continuation bit, a missed
# packed encoding, a bad submessage length, or a float byte-order
# slip all shift the hash.
# ---------------------------------------------------------------------------
@register(
    "p_tfexample_parse",
    oracle="""
    WITH feats AS (
      SELECT doc_id, 1 + doc_id % 7 AS n,
        list_sum(list_transform(generate_series(0, doc_id % 7), j ->
          (doc_id * 13 + 7 * j) % 1000)) AS sum_toks
      FROM documents)
    SELECT doc_id,
      CAST(n AS BIGINT) AS n_toks,
      CAST(sum_toks AS BIGINT) AS sum_toks,
      CAST(length('doc-' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS txt_len,
      CAST((doc_id % 100) AS DOUBLE) / 4.0 AS q
    FROM feats ORDER BY doc_id
    """,
)
def p_tfexample_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.tfexample as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def encode_batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        synth_example(int(i)) for i in pdf["doc_id"]
                    ],
                }
            )

    protos = ids.mapInPandas(
        encode_batches, "doc_id BIGINT, payload BINARY"
    )

    def parse_batches(batches):
        for pdf in batches:
            rows = []
            for i, buf in zip(pdf["doc_id"], pdf["payload"]):
                feats = parse_example(bytes(buf))
                rows.append(
                    (
                        int(i),
                        len(feats["toks"]),
                        sum(feats["toks"]),
                        len(feats["txt"][0]),
                        float(feats["q"][0]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_toks", "sum_toks", "txt_len", "q"],
            )

    schema = (
        "doc_id BIGINT, n_toks BIGINT, sum_toks BIGINT, "
        "txt_len BIGINT, q DOUBLE"
    )
    return protos.mapInPandas(parse_batches, schema).orderBy("doc_id")
