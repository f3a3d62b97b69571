"""Clean-room DEFLATE (RFC 1951) decoder + driver entry: the other
half of the compression layer — LZ4 (sources/lz4.py) covers the
speed-codec family; DEFLATE is the density family every gzip WARC,
PNG IDAT, and zip-based shard sits on. The ENCODER here is stdlib
zlib (spec-compliant by definition); the DECODER is implemented from
the RFC with no zlib involvement, so the roundtrip proves the
clean-room reader against an independent writer — the strongest
cross-implementation evidence a codec test can have.

Implements all three block types:

    00  stored (LEN/NLEN, byte-aligned)
    01  fixed Huffman (the RFC's hardwired code lengths)
    10  dynamic Huffman (code-length code with 16/17/18 repeats,
        then the literal/length + distance trees)

plus the full length/distance symbol tables with extra bits and the
LZ77 sliding-window copy (byte-by-byte, so overlapping distances
replicate per spec). Huffman decoding is canonical-code based: codes
are assigned per RFC 1951 3.2.2 from the length vector alone.

Scale design: one payload per row through Arrow mapInPandas, the
codec-family shape (spread() pins parallelism past the 1-split
testdata scan). Reference parity: the reference engine has no
storage/compression layer (SURVEY.md §0); this belongs to the driver
contract's ingestion surface (gzip WARC members currently decode via
stdlib zlib in pipeline/warc.py — this module is the from-spec
implementation of exactly that wire format).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import ordered
from hive_clone_spark.registry import register

# RFC 1951 3.2.5: length codes 257..285 -> (extra bits, base length)
_LEN_TABLE = [
    (0, 3), (0, 4), (0, 5), (0, 6), (0, 7), (0, 8), (0, 9), (0, 10),
    (1, 11), (1, 13), (1, 15), (1, 17), (2, 19), (2, 23), (2, 27),
    (2, 31), (3, 35), (3, 43), (3, 51), (3, 59), (4, 67), (4, 83),
    (4, 99), (4, 115), (5, 131), (5, 163), (5, 195), (5, 227), (0, 258),
]
# distance codes 0..29 -> (extra bits, base distance)
_DIST_TABLE = [
    (0, 1), (0, 2), (0, 3), (0, 4), (1, 5), (1, 7), (2, 9), (2, 13),
    (3, 17), (3, 25), (4, 33), (4, 49), (5, 65), (5, 97), (6, 129),
    (6, 193), (7, 257), (7, 385), (8, 513), (8, 769), (9, 1025),
    (9, 1537), (10, 2049), (10, 3073), (11, 4097), (11, 6145),
    (12, 8193), (12, 12289), (13, 16385), (13, 24577),
]
_CLC_ORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15]


class _BitReader:
    """LSB-first bit reader over bytes (DEFLATE's bit order)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def bits(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("inflate: out of input")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << i
            self.pos += 1
        return v

    def align_byte(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _canonical_decoder(lengths: list[int]):
    """RFC 1951 3.2.2: build {(len, code) -> symbol} from the code
    lengths. Returns a dict keyed by (nbits, code-read-MSB-first)."""
    max_len = max(lengths) if lengths else 0
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for b in range(1, max_len + 1):
        code = (code + bl_count[b - 1]) << 1
        next_code[b] = code
    table: dict[tuple[int, int], int] = {}
    for sym, ln in enumerate(lengths):
        if ln:
            table[(ln, next_code[ln])] = sym
            next_code[ln] += 1
    return table


def _read_symbol(br: _BitReader, table) -> int:
    """Huffman codes are packed MSB-first within the LSB-first stream
    (RFC 1951 3.1.1): accumulate bit-by-bit."""
    code = 0
    ln = 0
    while ln <= 15:
        code = (code << 1) | br.bits(1)
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("inflate: bad Huffman code")


_FIXED_LIT = _canonical_decoder(
    [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8
)
_FIXED_DIST = _canonical_decoder([5] * 30)


def inflate(comp: bytes) -> bytes:
    """Decode a raw DEFLATE stream (no zlib/gzip wrapper)."""
    br = _BitReader(comp)
    out = bytearray()
    while True:
        bfinal = br.bits(1)
        btype = br.bits(2)
        if btype == 0:  # stored
            br.align_byte()
            byte = br.pos >> 3
            if byte + 4 > len(comp):
                raise ValueError("inflate: truncated stored header")
            ln = comp[byte] | (comp[byte + 1] << 8)
            nlen = comp[byte + 2] | (comp[byte + 3] << 8)
            if ln ^ 0xFFFF != nlen:
                raise ValueError("inflate: LEN/NLEN mismatch")
            start = byte + 4
            if start + ln > len(comp):
                raise ValueError("inflate: truncated stored block")
            out += comp[start : start + ln]
            br.pos = (start + ln) << 3
        elif btype in (1, 2):
            if btype == 1:
                lit_tab, dist_tab = _FIXED_LIT, _FIXED_DIST
            else:  # dynamic: read the code-length code, then both trees
                hlit = br.bits(5) + 257
                hdist = br.bits(5) + 1
                hclen = br.bits(4) + 4
                clc_len = [0] * 19
                for i in range(hclen):
                    clc_len[_CLC_ORDER[i]] = br.bits(3)
                clc = _canonical_decoder(clc_len)
                lens: list[int] = []
                while len(lens) < hlit + hdist:
                    sym = _read_symbol(br, clc)
                    if sym < 16:
                        lens.append(sym)
                    elif sym == 16:
                        if not lens:
                            raise ValueError("inflate: repeat before code")
                        lens += [lens[-1]] * (3 + br.bits(2))
                    elif sym == 17:
                        lens += [0] * (3 + br.bits(3))
                    else:
                        lens += [0] * (11 + br.bits(7))
                if len(lens) != hlit + hdist:
                    raise ValueError("inflate: code length overflow")
                lit_tab = _canonical_decoder(lens[:hlit])
                dist_tab = _canonical_decoder(lens[hlit:])
            while True:
                sym = _read_symbol(br, lit_tab)
                if sym < 256:
                    out.append(sym)
                elif sym == 256:
                    break
                else:
                    if sym - 257 >= len(_LEN_TABLE):
                        raise ValueError("inflate: bad length symbol")
                    eb, base = _LEN_TABLE[sym - 257]
                    mlen = base + (br.bits(eb) if eb else 0)
                    dsym = _read_symbol(br, dist_tab)
                    if dsym >= len(_DIST_TABLE):
                        raise ValueError("inflate: bad distance symbol")
                    deb, dbase = _DIST_TABLE[dsym]
                    dist = dbase + (br.bits(deb) if deb else 0)
                    if dist > len(out):
                        raise ValueError("inflate: distance past start")
                    src = len(out) - dist
                    for k in range(mlen):
                        out.append(out[src + k])
        else:
            raise ValueError("inflate: reserved block type")
        if bfinal:
            return bytes(out)


def inflate_zlib(comp: bytes) -> bytes:
    """Decode a zlib-wrapped stream (RFC 1950): 2-byte header, raw
    DEFLATE body, Adler-32 trailer — VERIFIED."""
    if len(comp) < 6:
        raise ValueError("inflate: short zlib stream")
    cmf, flg = comp[0], comp[1]
    if cmf & 0x0F != 8:
        raise ValueError("inflate: not deflate")
    if (cmf * 256 + flg) % 31 != 0:
        raise ValueError("inflate: bad zlib header check")
    if flg & 0x20:
        raise ValueError("inflate: preset dictionary unsupported")
    raw = inflate(comp[2:-4])
    a, b = 1, 0
    for byte in raw:
        a = (a + byte) % 65521
        b = (b + a) % 65521
    want = int.from_bytes(comp[-4:], "big")
    if ((b << 16) | a) != want:
        raise ValueError("inflate: Adler-32 mismatch")
    return raw


@register(
    "p_inflate_roundtrip",
    oracle="""
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS orig_len,
      CAST(octet_length(encode(text)) AS BIGINT) AS decoded_len,
      md5(text) AS decoded_md5,
      TRUE AS roundtrip_ok,
      CASE doc_id % 3 WHEN 0 THEN 'stored' WHEN 1 THEN 'fast'
        ELSE 'best' END AS zlevel
    FROM documents ORDER BY doc_id
    """,
)
def p_inflate_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> stdlib-zlib compress (level rotated per doc:
    stored / fastest / best, so all block-type paths are exercised by
    real encoder output) -> CLEAN-ROOM inflate with Adler-32 verify ->
    per-doc census. The oracle predicts byte length and md5 of every
    decoded payload; compressed sizes are zlib-version-defined and
    therefore checked only structurally in tests."""
    import hashlib
    import zlib

    import pandas as pd

    from pyspark import cloudpickle as _cp

    import hive_clone_spark.sources.inflate as _mod
    from hive_clone_spark.pipeline.common import spread

    _cp.register_pickle_by_value(_mod)

    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))

    def codec_batches(batches):
        levels = {0: 0, 1: 1, 2: 9}
        names = {0: "stored", 1: "fast", 2: "best"}
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = str(text).encode("utf-8")
                m = int(doc_id) % 3
                comp = zlib.compress(raw, levels[m])
                back = inflate_zlib(comp)
                rows.append(
                    (
                        int(doc_id),
                        len(raw),
                        len(back),
                        hashlib.md5(back).hexdigest(),
                        back == raw,
                        names[m],
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
                    "zlevel",
                ],
            )

    return d.mapInPandas(
        codec_batches,
        "doc_id BIGINT, orig_len BIGINT, decoded_len BIGINT, "
        "decoded_md5 STRING, roundtrip_ok BOOLEAN, zlevel STRING",
    ).transform(ordered, "doc_id")
