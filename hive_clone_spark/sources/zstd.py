"""Clean-room Zstandard codec (RFC 8878 — the public spec).

zstd is the modern default codec for parquet at rest and for web-scale
corpus distribution (Common Crawl WET/WAT), so at 100 TB it is the
codec a user actually configures; the engine owning a transparent
implementation completes the compression family next to Snappy
(sources/snappy.py), LZ4 (sources/lz4.py) and DEFLATE
(sources/inflate.py).

Decoder — full RFC 8878 frame + block format:

  * frames: magic 0xFD2FB528, frame-header descriptor (single-segment,
    frame-content-size 0/1/2/4/8, dictionary-id fields, content
    checksum = low 32 bits of XXH64), window descriptor, skippable
    frames, multiple concatenated frames;
  * blocks: Raw, RLE, Compressed;
  * literals: Raw, RLE, Huffman-compressed (1-stream and 4-stream with
    jump table), Treeless (table reuse across blocks in a frame);
    Huffman tree descriptions in both direct 4-bit-weight form and
    FSE-compressed form (two interleaved states, overflow-terminated,
    RFC 4.2.1);
  * sequences: Predefined / RLE / FSE_Compressed / Repeat modes per
    channel, FSE table descriptions (variable-bit normalized counts
    with the low-bit peek trick and 2-bit zero-repeat flags, RFC
    4.1.1), the interleaved backward bitstream (init LL->OF->ML; per
    sequence OF-extra, ML-extra, LL-extra; update LL->ML->OF), the
    three repeat offsets with the literals_length==0 shift and the
    Repeated_Offset1 - 1 corner (RFC 3.1.1.5), offsets reaching across
    blocks within a frame.

Encoder — deterministic subset (every output byte a pure function of
the input, the contract all clean-room codecs here pin in tests):

  * single frame, single-segment, explicit content size, XXH64
    content checksum;
  * per <=128 KiB block: RLE when uniform; else greedy hash-chain
    matches (4-byte prefixes, most recent occurrence, in-block
    offsets) emitted as sequences under the PREDEFINED FSE
    distributions, literals Huffman-coded (direct weights, 1 or 4
    streams) when that wins, raw otherwise; whole block falls back to
    Raw when compression does not pay.

Scale design (p_zstd_roundtrip): one Arrow mapInPandas pass, the
whole codec shipped by-value in the closure (workers have no repo
sys.path); per-row cost linear in payload; the only shuffles are
spread() before it and the single-partition final sort
(`common.ordered`, which runs the pass once) after it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import ordered
from hive_clone_spark.registry import register

_MAGIC = 0xFD2FB528
_SKIP_MAGIC_LO = 0x184D2A50  # ..5F: skippable frames
_BLOCK_MAX = 128 * 1024

_MASK64 = (1 << 64) - 1


class ZstdError(ValueError):
    pass


# ---------------------------------------------------------------------------
# XXH64 (public algorithm; zstd content checksum = low 32 bits, seed 0)
# ---------------------------------------------------------------------------
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rol(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _xxh_round(acc: int, lane: int) -> int:
    return (_rol((acc + lane * _P2) & _MASK64, 31) * _P1) & _MASK64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _MASK64
        a2 = (seed + _P2) & _MASK64
        a3 = seed & _MASK64
        a4 = (seed - _P1) & _MASK64
        while i + 32 <= n:
            a1 = _xxh_round(a1, int.from_bytes(data[i : i + 8], "little"))
            a2 = _xxh_round(a2, int.from_bytes(data[i + 8 : i + 16], "little"))
            a3 = _xxh_round(a3, int.from_bytes(data[i + 16 : i + 24], "little"))
            a4 = _xxh_round(a4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        acc = (_rol(a1, 1) + _rol(a2, 7) + _rol(a3, 12) + _rol(a4, 18)) & _MASK64
        for a in (a1, a2, a3, a4):
            acc = ((acc ^ _xxh_round(0, a)) * _P1 + _P4) & _MASK64
    else:
        acc = (seed + _P5) & _MASK64
    acc = (acc + n) & _MASK64
    while i + 8 <= n:
        acc ^= _xxh_round(0, int.from_bytes(data[i : i + 8], "little"))
        acc = (_rol(acc, 27) * _P1 + _P4) & _MASK64
        i += 8
    if i + 4 <= n:
        acc ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK64
        acc = (_rol(acc, 23) * _P2 + _P3) & _MASK64
        i += 4
    while i < n:
        acc ^= (data[i] * _P5) & _MASK64
        acc = (_rol(acc, 11) * _P1) & _MASK64
        i += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _MASK64
    acc ^= acc >> 29
    acc = (acc * _P3) & _MASK64
    acc ^= acc >> 32
    return acc


# ---------------------------------------------------------------------------
# bitstreams: FSE table descriptions are FORWARD (LSB-first); everything
# else (FSE states, Huffman streams) is the zstd REVERSE stream — written
# forward LSB-first, terminated by a 1-bit marker, read from the top down
# ---------------------------------------------------------------------------
class _FwdBits:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit index, LSB-first

    def read(self, n: int) -> int:
        v = 0
        for k in range(n):
            idx = (self.pos + k) >> 3
            bit = (self.data[idx] >> ((self.pos + k) & 7)) & 1 if idx < len(self.data) else 0
            v |= bit << k
        self.pos += n
        return v

    def peek(self, n: int) -> int:
        save = self.pos
        v = self.read(n)
        self.pos = save
        return v


class _RevBits:
    """Backward reader: bit `pos` counts remaining content bits; fields
    are the next `n` bits below `pos`, missing low bits read as 0."""

    def __init__(self, data: bytes):
        if not data or data[-1] == 0:
            raise ZstdError("reverse bitstream: missing end marker")
        self.B = int.from_bytes(data, "little")
        self.pos = (len(data) - 1) * 8 + data[-1].bit_length() - 1

    def _field(self, p: int, n: int) -> int:
        if n == 0:
            return 0
        if p >= 0:
            return (self.B >> p) & ((1 << n) - 1)
        if p + n <= 0:
            return 0
        return ((self.B & ((1 << (p + n)) - 1)) << (-p)) & ((1 << n) - 1)

    def read(self, n: int) -> int:
        self.pos -= n
        return self._field(self.pos, n)

    def peek(self, n: int) -> int:
        return self._field(self.pos - n, n)

    def skip(self, n: int) -> None:
        self.pos -= n


class _BitWriter:
    """Forward LSB-first writer; close() appends the 1-bit marker and
    zero-pads to a byte. Fields written in REVERSE decode order come
    back out of a _RevBits reader in decode order."""

    def __init__(self):
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits if n else 0
        self.nbits += n

    def close(self) -> bytes:
        self.acc |= 1 << self.nbits
        self.nbits += 1
        return self.acc.to_bytes((self.nbits + 7) // 8, "little")


# ---------------------------------------------------------------------------
# FSE: normalized-count reader (RFC 4.1.1), decode-table builder, and the
# inverse (encode) view used for the predefined sequence tables
# ---------------------------------------------------------------------------
def _fse_read_ncount(fb: _FwdBits, max_symbol: int, max_al: int):
    al = fb.read(4) + 5
    if al > max_al:
        raise ZstdError(f"FSE accuracy log {al} > max {max_al}")
    remaining = (1 << al) + 1
    threshold = 1 << al
    nbbits = al + 1
    counts: list[int] = []
    while remaining > 1:
        if len(counts) > max_symbol:
            raise ZstdError("FSE: too many symbols")
        cap = 2 * threshold - 1 - remaining
        val = fb.peek(nbbits)
        low = val & (threshold - 1)
        if low < cap:
            fb.read(nbbits - 1)
            count = low
        else:
            val &= 2 * threshold - 1
            fb.read(nbbits)
            count = val if val < threshold else val - cap
        count -= 1  # -1 encodes the "less than 1" probability
        counts.append(count)
        if count == 0:
            while True:
                rep = fb.read(2)
                counts.extend([0] * rep)
                if rep != 3:
                    break
        else:
            remaining -= count if count > 0 else 1
            while remaining < threshold:
                nbbits -= 1
                threshold >>= 1
    return counts, al


class _FseTable:
    __slots__ = ("al", "sym", "nb", "base", "enc")

    def __init__(self, counts: list[int], al: int):
        size = 1 << al
        self.al = al
        sym = [0] * size
        high = size - 1
        for s, c in enumerate(counts):
            if c == -1:
                sym[high] = s
                high -= 1
        pos = 0
        step = (size >> 1) + (size >> 3) + 3
        mask = size - 1
        for s, c in enumerate(counts):
            for _ in range(max(c, 0)):
                sym[pos] = s
                pos = (pos + step) & mask
                while pos > high:
                    pos = (pos + step) & mask
        if pos != 0:
            raise ZstdError("FSE: corrupted normalized counts")
        nxt = [c if c > 0 else 1 for c in counts]
        nb = [0] * size
        base = [0] * size
        for p in range(size):
            s = sym[p]
            x = nxt[s]
            nxt[s] += 1
            nb[p] = al - (x.bit_length() - 1)
            base[p] = (x << nb[p]) - size
        self.sym, self.nb, self.base = sym, nb, base
        # encode view: per symbol, the cells whose (baseline, nbBits)
        # ranges tile [0, size) — the unique predecessor lookup
        enc: dict[int, list[tuple[int, int, int]]] = {}
        for p in range(size):
            enc.setdefault(sym[p], []).append((base[p], nb[p], p))
        for lst in enc.values():
            lst.sort()
        self.enc = enc

    @classmethod
    def rle(cls, symbol: int) -> "_FseTable":
        t = cls.__new__(cls)
        t.al = 0
        t.sym = [symbol]
        t.nb = [0]
        t.base = [0]
        t.enc = {symbol: [(0, 0, 0)]}
        return t

    def first_cell(self, s: int) -> int:
        return self.enc[s][0][2]

    def enc_step(self, s: int, next_state: int) -> tuple[int, int, int]:
        for b, nb, p in self.enc[s]:
            if b <= next_state < b + (1 << nb):
                return p, next_state - b, nb
        raise ZstdError("FSE encode: no predecessor cell")  # unreachable


# predefined distributions (RFC 8878 §3.1.1.3.2.2)
_LL_DEFAULTS = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
     2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1],
    6,
)
_ML_DEFAULTS = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1, -1, -1],
    6,
)
_OF_DEFAULTS = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1],
    5,
)
_LL_TABLE = _FseTable(*_LL_DEFAULTS)
_ML_TABLE = _FseTable(*_ML_DEFAULTS)
_OF_TABLE = _FseTable(*_OF_DEFAULTS)

# literals-length / match-length code tables (RFC 3.1.1.3.2.1)
_LL_BASE = list(range(16)) + [
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048,
    4096, 8192, 16384, 32768, 65536,
]
_LL_BITS = [0] * 16 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]
_ML_BASE = list(range(3, 35)) + [
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539,
]
_ML_BITS = [0] * 32 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16]


def _ll_code(v: int) -> int:
    if v < 16:
        return v
    for c in range(len(_LL_BASE) - 1, 15, -1):
        if v >= _LL_BASE[c]:
            return c
    raise ZstdError("literal length out of range")


def _ml_code(v: int) -> int:
    if v < 3:
        raise ZstdError("match length < 3")
    if v < 35:
        return v - 3
    for c in range(len(_ML_BASE) - 1, 31, -1):
        if v >= _ML_BASE[c]:
            return c
    raise ZstdError("match length out of range")


# ---------------------------------------------------------------------------
# Huffman (RFC 4.2): weights -> canonical table; both tree-description
# forms on decode, direct form on encode
# ---------------------------------------------------------------------------
class _HufTable:
    __slots__ = ("maxbits", "slots", "code_of")

    def __init__(self, weights: list[int]):
        total = sum(1 << (w - 1) for w in weights if w > 0)
        if total == 0 or total & (total - 1):
            raise ZstdError("huffman: weights do not complete a power of 2")
        maxbits = total.bit_length() - 1
        if maxbits > 11:
            raise ZstdError("huffman: max code length 11 exceeded")
        entries = sorted((w, s) for s, w in enumerate(weights) if w > 0)
        slots: list[tuple[int, int]] = []
        code_of: dict[int, tuple[int, int]] = {}
        pos = 0
        for w, s in entries:
            nb = maxbits + 1 - w
            if nb < 1 or nb > maxbits:
                raise ZstdError("huffman: weight out of range for table")
            span = 1 << (maxbits - nb)
            code_of[s] = (pos >> (maxbits - nb), nb)
            slots.extend([(s, nb)] * span)
            pos += span
        if pos != 1 << maxbits:
            raise ZstdError("huffman: table not full")
        self.maxbits = maxbits
        self.slots = slots
        self.code_of = code_of


def _complete_weights(listed: list[int]) -> list[int]:
    """Append the RFC's implicit last weight (completes to a power of 2)."""
    total = sum(1 << (w - 1) for w in listed if w > 0)
    if total == 0:
        raise ZstdError("huffman: empty weights")
    nxt = 1 << total.bit_length()
    left = nxt - total
    if left & (left - 1):
        raise ZstdError("huffman: leftover weight not a power of 2")
    return listed + [left.bit_length()]


def _read_tree_description(data: bytes) -> tuple[_HufTable, int]:
    header = data[0]
    if header >= 128:
        n = header - 127
        nbytes = (n + 1) // 2
        raw = data[1 : 1 + nbytes]
        listed = []
        for i in range(n):
            b = raw[i >> 1]
            listed.append((b >> 4) if i % 2 == 0 else (b & 0x0F))
        return _HufTable(_complete_weights(listed)), 1 + nbytes
    # FSE-compressed weights: two interleaved states, overflow-terminated
    comp = data[1 : 1 + header]
    fb = _FwdBits(comp)
    counts, al = _fse_read_ncount(fb, max_symbol=255, max_al=6)
    tbl = _FseTable(counts, al)
    descr = (fb.pos + 7) // 8
    rb = _RevBits(comp[descr:])
    s1 = rb.read(al)
    s2 = rb.read(al)
    listed: list[int] = []
    while True:
        if len(listed) > 255:
            raise ZstdError("huffman: too many weights")
        listed.append(tbl.sym[s1])
        s1 = tbl.base[s1] + rb.read(tbl.nb[s1])
        if rb.pos < 0:
            listed.append(tbl.sym[s2])
            break
        listed.append(tbl.sym[s2])
        s2 = tbl.base[s2] + rb.read(tbl.nb[s2])
        if rb.pos < 0:
            listed.append(tbl.sym[s1])
            break
    return _HufTable(_complete_weights(listed)), 1 + header


def _huf_decode_stream(data: bytes, count: int, tbl: _HufTable) -> bytes:
    rb = _RevBits(data)
    out = bytearray()
    for _ in range(count):
        idx = rb.peek(tbl.maxbits)
        s, nb = tbl.slots[idx]
        rb.skip(nb)
        out.append(s)
    if rb.pos != 0:
        raise ZstdError("huffman: stream not fully consumed")
    return bytes(out)


def _huf_encode_stream(chunk: bytes, tbl: _HufTable) -> bytes:
    bw = _BitWriter()
    for b in reversed(chunk):  # reverse decode order
        code, nb = tbl.code_of[b]
        bw.write(code, nb)
    return bw.close()


def _huffman_weights_for(literals: bytes) -> list[int] | None:
    """Deterministic Huffman weights, or None when the direct-weight
    header cannot express them (symbol > 128, single symbol, depth > 11)."""
    freqs: dict[int, int] = {}
    for b in literals:
        freqs[b] = freqs.get(b, 0) + 1
    if len(freqs) < 2 or max(freqs) > 128:
        return None
    import heapq

    heap = [(f, s, [s]) for s, f in sorted(freqs.items())]
    heapq.heapify(heap)
    depth = {s: 0 for s in freqs}
    while len(heap) > 1:
        f1, t1, s1 = heapq.heappop(heap)
        f2, t2, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, min(t1, t2), s1 + s2))
    maxbits = max(depth.values())
    if maxbits > 11:
        return None
    weights = [0] * (max(freqs) + 1)
    for s, d in depth.items():
        weights[s] = maxbits + 1 - d
    return weights


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------
def _decode_literals(data: bytes, ctx: dict) -> tuple[bytes, int]:
    h0 = data[0]
    ltype = h0 & 3
    sf = (h0 >> 2) & 3
    if ltype in (0, 1):  # Raw / RLE
        if sf in (0, 2):
            size, hdr = h0 >> 3, 1
        elif sf == 1:
            size, hdr = (int.from_bytes(data[:2], "little") >> 4), 2
        else:
            size, hdr = (int.from_bytes(data[:3], "little") >> 4), 3
        if ltype == 0:
            return bytes(data[hdr : hdr + size]), hdr + size
        return bytes([data[hdr]]) * size, hdr + 1
    # Compressed / Treeless
    if sf == 0:
        H = int.from_bytes(data[:3], "little")
        re, co, hdr, streams = (H >> 4) & 0x3FF, (H >> 14) & 0x3FF, 3, 1
    elif sf == 1:
        H = int.from_bytes(data[:3], "little")
        re, co, hdr, streams = (H >> 4) & 0x3FF, (H >> 14) & 0x3FF, 3, 4
    elif sf == 2:
        H = int.from_bytes(data[:4], "little")
        re, co, hdr, streams = (H >> 4) & 0x3FFF, (H >> 18) & 0x3FFF, 4, 4
    else:
        H = int.from_bytes(data[:5], "little")
        re, co, hdr, streams = (H >> 4) & 0x3FFFF, (H >> 22) & 0x3FFFF, 5, 4
    body = data[hdr : hdr + co]
    if ltype == 2:
        tbl, used = _read_tree_description(body)
        ctx["huf"] = tbl
        body = body[used:]
    else:
        tbl = ctx.get("huf")
        if tbl is None:
            raise ZstdError("treeless literals with no previous table")
    if streams == 1:
        return _huf_decode_stream(body, re, tbl), hdr + co
    if len(body) < 6:
        raise ZstdError("4-stream literals: missing jump table")
    s1 = int.from_bytes(body[0:2], "little")
    s2 = int.from_bytes(body[2:4], "little")
    s3 = int.from_bytes(body[4:6], "little")
    parts = []
    off = 6
    n123 = (re + 3) // 4
    for size, cnt in ((s1, n123), (s2, n123), (s3, n123), (len(body) - 6 - s1 - s2 - s3, re - 3 * n123)):
        parts.append(_huf_decode_stream(body[off : off + size], cnt, tbl))
        off += size
    return b"".join(parts), hdr + co


def _resolve_offset(value: int, ll: int, rep: list[int]) -> int:
    if value > 3:
        off = value - 3
        rep[2], rep[1], rep[0] = rep[1], rep[0], off
        return off
    idx = value - 1 + (1 if ll == 0 else 0)
    if idx == 0:
        return rep[0]
    if idx == 1:
        off = rep[1]
        rep[1], rep[0] = rep[0], off
        return off
    if idx == 2:
        off = rep[2]
        rep[2], rep[1], rep[0] = rep[1], rep[0], off
        return off
    off = rep[0] - 1  # ll == 0, value 3
    if off == 0:
        raise ZstdError("repeat offset underflow")
    rep[2], rep[1], rep[0] = rep[1], rep[0], off
    return off


def _seq_table(mode: int, data: bytes, pos: int, ch: str, ctx: dict,
               predefined: _FseTable, max_symbol: int, max_al: int):
    if mode == 0:
        ctx[ch] = predefined
        return ctx[ch], pos
    if mode == 1:
        ctx[ch] = _FseTable.rle(data[pos])
        return ctx[ch], pos + 1
    if mode == 2:
        fb = _FwdBits(data[pos:])
        counts, al = _fse_read_ncount(fb, max_symbol, max_al)
        ctx[ch] = _FseTable(counts, al)
        return ctx[ch], pos + (fb.pos + 7) // 8
    if ctx.get(ch) is None:
        raise ZstdError(f"repeat mode for {ch} with no previous table")
    return ctx[ch], pos


def _decode_block(data: bytes, out: bytearray, ctx: dict) -> None:
    lits, used = _decode_literals(data, ctx)
    data = data[used:]
    b0 = data[0]
    if b0 == 0:
        out += lits
        return
    if b0 < 128:
        nbseq, pos = b0, 1
    elif b0 < 255:
        nbseq, pos = ((b0 - 128) << 8) + data[1], 2
    else:
        nbseq, pos = int.from_bytes(data[1:3], "little") + 0x7F00, 3
    modes = data[pos]
    pos += 1
    if modes & 3:
        raise ZstdError("sequence modes: reserved bits set")
    ll_t, pos = _seq_table((modes >> 6) & 3, data, pos, "ll", ctx, _LL_TABLE, 35, 9)
    of_t, pos = _seq_table((modes >> 4) & 3, data, pos, "of", ctx, _OF_TABLE, 31, 8)
    ml_t, pos = _seq_table((modes >> 2) & 3, data, pos, "ml", ctx, _ML_TABLE, 52, 9)
    rb = _RevBits(data[pos:])
    s_ll = rb.read(ll_t.al)
    s_of = rb.read(of_t.al)
    s_ml = rb.read(ml_t.al)
    rep = ctx["rep"]
    lit_pos = 0
    for i in range(nbseq):
        of_code = of_t.sym[s_of]
        if of_code > 31:
            raise ZstdError("offset code > 31")
        value = (1 << of_code) + rb.read(of_code)
        ml = _ML_BASE[ml_t.sym[s_ml]] + rb.read(_ML_BITS[ml_t.sym[s_ml]])
        ll = _LL_BASE[ll_t.sym[s_ll]] + rb.read(_LL_BITS[ll_t.sym[s_ll]])
        if i < nbseq - 1:
            s_ll = ll_t.base[s_ll] + rb.read(ll_t.nb[s_ll])
            s_ml = ml_t.base[s_ml] + rb.read(ml_t.nb[s_ml])
            s_of = of_t.base[s_of] + rb.read(of_t.nb[s_of])
        if rb.pos < 0:
            raise ZstdError("sequence bitstream exhausted")
        off = _resolve_offset(value, ll, rep)
        out += lits[lit_pos : lit_pos + ll]
        lit_pos += ll
        if off > len(out):
            raise ZstdError("match offset beyond output")
        src = len(out) - off
        for k in range(ml):  # byte-wise: overlapping matches legal
            out.append(out[src + k])
    out += lits[lit_pos:]


def zstd_decompress(data: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while pos < len(data):
        if pos + 4 > len(data):
            raise ZstdError("truncated magic")
        magic = int.from_bytes(data[pos : pos + 4], "little")
        pos += 4
        if _SKIP_MAGIC_LO <= magic <= _SKIP_MAGIC_LO + 15:
            size = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4 + size
            continue
        if magic != _MAGIC:
            raise ZstdError(f"bad magic 0x{magic:08x}")
        fhd = data[pos]
        pos += 1
        if fhd & 0x08:
            raise ZstdError("reserved frame-header bit set")
        single = bool(fhd & 0x20)
        checksum = bool(fhd & 0x04)
        did_size = (0, 1, 2, 4)[fhd & 3]
        fcs_flag = fhd >> 6
        if not single:
            pos += 1  # window descriptor (bounds not enforced here)
        if did_size:
            if int.from_bytes(data[pos : pos + did_size], "little"):
                raise ZstdError("dictionaries not supported")
            pos += did_size
        fcs = None
        if fcs_flag == 0:
            if single:
                fcs = data[pos]
                pos += 1
        elif fcs_flag == 1:
            fcs = int.from_bytes(data[pos : pos + 2], "little") + 256
            pos += 2
        elif fcs_flag == 2:
            fcs = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        else:
            fcs = int.from_bytes(data[pos : pos + 8], "little")
            pos += 8
        ctx = {"rep": [1, 4, 8], "huf": None, "ll": None, "of": None, "ml": None}
        frame_start = len(out)
        while True:
            bh = int.from_bytes(data[pos : pos + 3], "little")
            pos += 3
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            if btype == 0:
                out += data[pos : pos + bsize]
                pos += bsize
            elif btype == 1:
                out += bytes([data[pos]]) * bsize
                pos += 1
            elif btype == 2:
                _decode_block(data[pos : pos + bsize], out, ctx)
                pos += bsize
            else:
                raise ZstdError("reserved block type")
            if last:
                break
        content = bytes(out[frame_start:])
        if fcs is not None and len(content) != fcs:
            raise ZstdError(f"content size {len(content)} != header {fcs}")
        if checksum:
            want = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
            if xxh64(content) & 0xFFFFFFFF != want:
                raise ZstdError("content checksum mismatch")
    return bytes(out)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------
def _find_sequences(block: bytes) -> tuple[list[tuple[int, int, int]], bytes]:
    """Greedy 4-byte-prefix matcher (in-block offsets only); returns
    (ll, offset, ml) sequences plus the concatenated literals."""
    n = len(block)
    seqs: list[tuple[int, int, int]] = []
    lits = bytearray()
    tbl: dict[bytes, int] = {}
    i = lit_start = 0
    while i + 4 <= n:
        key = block[i : i + 4]
        cand = tbl.get(key)
        tbl[key] = i
        if cand is not None:
            mlen = 4
            limit = min(n - i, 131074)
            while mlen < limit and block[cand + mlen] == block[i + mlen]:
                mlen += 1
            lits += block[lit_start:i]
            seqs.append((i - lit_start, i - cand, mlen))
            i += mlen
            lit_start = i
        else:
            i += 1
    lits += block[lit_start:]
    return seqs, bytes(lits)


def _encode_sequences(seqs: list[tuple[int, int, int]]) -> bytes:
    n = len(seqs)
    if n < 128:
        head = bytes([n])
    elif n < 0x7F00:
        head = bytes([(n >> 8) + 128, n & 0xFF])
    else:
        head = bytes([255]) + (n - 0x7F00).to_bytes(2, "little")
    head += bytes([0])  # modes: predefined for LL, OF, ML
    codes = []
    for ll, off, ml in seqs:
        value = off + 3  # never a repeat offset: deterministic, stateless
        of_code = value.bit_length() - 1
        codes.append((
            _ll_code(ll), ll - _LL_BASE[_ll_code(ll)],
            of_code, value - (1 << of_code),
            _ml_code(ml), ml - _ML_BASE[_ml_code(ml)],
        ))
    # FSE states backward: x_i = predecessor cell of x_{i+1} for symbol i
    x_ll = _LL_TABLE.first_cell(codes[-1][0])
    x_of = _OF_TABLE.first_cell(codes[-1][2])
    x_ml = _ML_TABLE.first_cell(codes[-1][4])
    upd: list[tuple[tuple[int, int], tuple[int, int], tuple[int, int]]] = [None] * (n - 1)
    for i in range(n - 2, -1, -1):
        x_ll, d_ll, nb_ll = _LL_TABLE.enc_step(codes[i][0], x_ll)
        x_ml, d_ml, nb_ml = _ML_TABLE.enc_step(codes[i][4], x_ml)
        x_of, d_of, nb_of = _OF_TABLE.enc_step(codes[i][2], x_of)
        upd[i] = ((d_ll, nb_ll), (d_ml, nb_ml), (d_of, nb_of))
    fields: list[tuple[int, int]] = [
        (x_ll, _LL_TABLE.al), (x_of, _OF_TABLE.al), (x_ml, _ML_TABLE.al),
    ]
    for i, (llc, llx, ofc, ofx, mlc, mlx) in enumerate(codes):
        fields.append((ofx, ofc))
        fields.append((mlx, _ML_BITS[mlc]))
        fields.append((llx, _LL_BITS[llc]))
        if i < n - 1:
            fields.extend(upd[i])
    bw = _BitWriter()
    for value, nb in reversed(fields):
        bw.write(value, nb)
    return head + bw.close()


def _encode_literals(lits: bytes) -> bytes:
    def raw_section() -> bytes:
        size = len(lits)
        if size <= 31:
            return bytes([0 | (size << 3)]) + lits
        if size <= 4095:
            return (0 | (1 << 2) | (size << 4)).to_bytes(2, "little") + lits
        return (0 | (3 << 2) | (size << 4)).to_bytes(3, "little") + lits

    size = len(lits)
    if size == 0:
        return bytes([0])
    if size >= 2 and lits.count(lits[0]) == size:
        if size <= 31:
            return bytes([1 | (size << 3), lits[0]])
        if size <= 4095:
            return (1 | (1 << 2) | (size << 4)).to_bytes(2, "little") + lits[:1]
        return (1 | (3 << 2) | (size << 4)).to_bytes(3, "little") + lits[:1]
    weights = None if size < 16 else _huffman_weights_for(lits)
    if weights is None:
        return raw_section()
    tbl = _HufTable(weights)
    # direct tree description: weights for symbols 0..last-1 (zeros
    # included — the implicit deduced weight belongs to symbol
    # Number_of_Weights exactly, so nothing may be trimmed)
    listed = weights[:-1]
    if not listed or len(listed) > 128:
        return raw_section()
    packed = bytearray([127 + len(listed)])
    for i in range(0, len(listed), 2):
        hi = listed[i]
        lo = listed[i + 1] if i + 1 < len(listed) else 0
        packed.append((hi << 4) | lo)
    if size <= 1023:
        stream = _huf_encode_stream(lits, tbl)
        co = len(packed) + len(stream)
        if co > 1023 or co + 3 >= size:
            return raw_section()
        H = 2 | (0 << 2) | (size << 4) | (co << 14)
        return H.to_bytes(3, "little") + bytes(packed) + stream
    n123 = (size + 3) // 4
    chunks = [lits[0:n123], lits[n123 : 2 * n123], lits[2 * n123 : 3 * n123], lits[3 * n123 :]]
    streams = [_huf_encode_stream(c, tbl) for c in chunks]
    jump = b"".join(len(s).to_bytes(2, "little") for s in streams[:3])
    if any(len(s) > 0xFFFF for s in streams[:3]):
        return raw_section()
    co = len(packed) + 6 + sum(len(s) for s in streams)
    if co + 5 >= size:
        return raw_section()
    body = bytes(packed) + jump + b"".join(streams)
    # (SF 01 — 4 streams with 10-bit sizes — is unreachable here: the
    # single-stream path above already claims every size <= 1023)
    if size <= 16383 and co <= 16383:
        H = 2 | (2 << 2) | (size << 4) | (co << 18)
        return H.to_bytes(4, "little") + body
    H = 2 | (3 << 2) | (size << 4) | (co << 22)
    return H.to_bytes(5, "little") + body


def _block_header(last: int, btype: int, size: int) -> bytes:
    return (last | (btype << 1) | (size << 3)).to_bytes(3, "little")


def zstd_compress(data: bytes) -> bytes:
    out = bytearray()
    out += _MAGIC.to_bytes(4, "little")
    n = len(data)
    if n < 256:
        out.append((0 << 6) | 0x20 | 0x04)  # 1-byte FCS, single-segment, checksum
        out.append(n)
    elif n < 65536 + 256:
        out.append((1 << 6) | 0x20 | 0x04)
        out += (n - 256).to_bytes(2, "little")
    elif n < 1 << 32:
        out.append((2 << 6) | 0x20 | 0x04)
        out += n.to_bytes(4, "little")
    else:
        out.append((3 << 6) | 0x20 | 0x04)
        out += n.to_bytes(8, "little")
    if n == 0:
        out += _block_header(1, 0, 0)
    for start in range(0, n, _BLOCK_MAX):
        block = data[start : start + _BLOCK_MAX]
        last = 1 if start + _BLOCK_MAX >= n else 0
        if len(block) >= 2 and block.count(block[0]) == len(block):
            out += _block_header(last, 1, len(block)) + block[:1]
            continue
        payload = None
        seqs, lits = _find_sequences(block)
        lit_sec = _encode_literals(lits)
        seq_sec = _encode_sequences(seqs) if seqs else bytes([0])
        cand = lit_sec + seq_sec
        if len(cand) < len(block):
            payload = cand
        if payload is None:
            out += _block_header(last, 0, len(block)) + block
        else:
            out += _block_header(last, 2, len(payload)) + payload
    out += (xxh64(data) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)


@register(
    "p_zstd_roundtrip",
    oracle="""
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS orig_len,
      CAST(octet_length(encode(text)) AS BIGINT) AS decoded_len,
      md5(text) AS decoded_md5,
      TRUE AS roundtrip_ok
    FROM documents ORDER BY doc_id
    """,
)
def p_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> distributed zstd encode -> distributed decode ->
    per-doc census (p_snappy_roundtrip's contract: the oracle pins
    decode bit-exactness via byte length + md5 of every decoded
    payload; the compressed size is encoder-defined and asserted in
    tests)."""
    import hashlib

    import pandas as pd

    from pyspark import cloudpickle as _cp

    import hive_clone_spark.sources.zstd as _mod
    from hive_clone_spark.pipeline.common import spread

    _cp.register_pickle_by_value(_mod)

    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))

    def codec_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = str(text).encode("utf-8")
                comp = zstd_compress(raw)
                back = zstd_decompress(comp)
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
    ).transform(ordered, "doc_id")
