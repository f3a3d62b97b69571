"""REAL audio codec (pure numpy, RIFF/WAVE PCM) + decode driver entry
with a full value-hash oracle — the audio leg of the multimodal
north-star, built exactly like pipeline/imagecodec.py's image leg.

`decode_wav` is a byte-level parser of the public RIFF/WAVE container:
it validates the RIFF/WAVE magics, WALKS the chunk list (skipping
non-fmt/data chunks such as LIST — real WAV files carry them), reads
the PCM fmt block (format tag 1, 16-bit), and returns the interleaved
samples as an (n_frames, n_channels) int16 array. The driver entry
synthesizes genuine WAV files (some with a junk LIST chunk to force
the chunk walk), ships them through Arrow `mapInPandas` as a binary
column, decodes by parsing the actual bytes, and emits integer
per-channel sample sums + exact container sizes that the DuckDB
oracle predicts independently from the synthesis rule. A decoder that
mis-walks chunks, mis-reads the header, or de-interleaves wrongly
fails the value hash.

Scale notes: identical plumbing to the image path — bytes cross into
Python once per Arrow batch, numpy de-interleaves vectorized, only
narrow typed stats flow back. Closures reach this module's functions
via cloudpickle register_pickle_by_value (see imagecodec.py).
p_audio_decode, p_audio_framestats and p_audio_tone_detect end in
`common.ordered`, a single-partition sort: an `orderBy` would first
run a range-sampling job over the synth + decode stage, so each clip
would be synthesized and decoded twice. The other entries here still
end in `orderBy` (PYRESAMPLE_OK in tests/test_plan_audit.py).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import ordered, spread
from hive_clone_spark.registry import register


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Encode an (n_frames, n_channels) int16 array as PCM WAV."""
    if samples.ndim != 2 or samples.dtype != np.int16:
        raise ValueError(f"expected (frames, channels) int16, got {samples.shape} {samples.dtype}")
    n, c = samples.shape
    data = samples.tobytes()  # C-order == interleaved frames
    fmt = struct.pack("<HHIIHH", 1, c, sample_rate, sample_rate * c * 2, c * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode PCM16 WAV to (sample_rate, (n_frames, n_channels) int16),
    walking the chunk list so containers with extra chunks (LIST,
    fact, ...) in any position before/after data still parse."""
    payload = bytes(payload)
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_chunk, data_chunk = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        start = pos + 8
        if start + size > len(payload):
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt_chunk = payload[start : start + size]
        elif cid == b"data":
            data_chunk = payload[start : start + size]
        pos = start + size + (size & 1)  # chunks are word-aligned
    if fmt_chunk is None or data_chunk is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt_chunk) < 16:
        raise ValueError("short fmt chunk")
    tag, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", fmt_chunk, 0)
    if tag != 1 or bits != 16:
        raise ValueError(f"only PCM16 supported (tag={tag}, bits={bits})")
    if channels < 1:
        raise ValueError("bad channel count")
    n = len(data_chunk) // (2 * channels)
    samples = np.frombuffer(data_chunk, dtype="<i2", count=n * channels)
    return rate, samples.reshape(n, channels).copy()


# ---------------------------------------------------------------------------
# deterministic synthetic audio (SQL-predictable rule):
#   channels(doc) = 1 + doc_id % 2
#   n_frames(doc) = 1 + (doc_id * 13) % 256
#   sample(i, ch) = ((doc_id * 31 + i * 7 + ch * 97) % 4001) - 2000
#   doc_id % 3 == 0 -> a 12-byte junk LIST chunk precedes data
# ---------------------------------------------------------------------------
_RATE = 8000


def synth_wav(doc_id: int) -> bytes:
    """Generate one REAL WAV file for a doc_id."""
    c = 1 + doc_id % 2
    n = 1 + (doc_id * 13) % 256
    i = np.arange(n, dtype=np.int64)[:, None]
    ch = np.arange(c, dtype=np.int64)[None, :]
    samples = (((doc_id * 31 + i * 7 + ch * 97) % 4001) - 2000).astype(np.int16)
    payload = encode_wav(samples, _RATE)
    if doc_id % 3 == 0:
        # splice a junk chunk between fmt and data: RIFF(4+4+4=12 hdr)
        # + "WAVE" + fmt(8+16) = byte 36; keep RIFF size consistent
        junk = b"LIST" + struct.pack("<I", 4) + b"ANTX"
        body = payload[8:36] + junk + payload[36:]
        payload = b"RIFF" + struct.pack("<I", len(body)) + body
    return payload


@register(
    "p_audio_decode",
    # n_bytes pins the exact container layout (44-byte canonical header
    # + optional 12-byte junk chunk + 2*c*n PCM bytes); sum_ch0/ch1 pin
    # every decoded sample against the synthesis rule per channel.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
        CAST(1 + doc_id % 2 AS INT) AS n_channels,
        CAST(1 + (doc_id * 13) % 256 AS INT) AS n_frames
      FROM documents),
    sums AS (
      SELECT doc_id,
        list_sum(list_transform(generate_series(0, n_frames - 1),
          i -> ((doc_id * 31 + i * 7) % 4001) - 2000)) AS sum_ch0,
        CASE WHEN n_channels = 2 THEN
          list_sum(list_transform(generate_series(0, n_frames - 1),
            i -> ((doc_id * 31 + i * 7 + 97) % 4001) - 2000))
        END AS sum_ch1
      FROM dims)
    SELECT d.doc_id, 8000 AS sample_rate, d.n_channels, d.n_frames,
      CAST(d.n_frames AS BIGINT) * 125 AS duration_us,
      CAST(44 + CASE WHEN d.doc_id % 3 = 0 THEN 12 ELSE 0 END
           + 2 * d.n_channels * d.n_frames AS BIGINT) AS n_bytes,
      CAST(s.sum_ch0 AS BIGINT) AS sum_ch0,
      CAST(s.sum_ch1 AS BIGINT) AS sum_ch1
    FROM dims d JOIN sums s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def p_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode under the full oracle: synthesize genuine PCM16
    WAV containers (stage A, junk chunks included), then parse the
    actual bytes — RIFF walk, fmt block, de-interleave — and reduce to
    per-channel integer sample sums (stage B)."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.audiocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def synth_batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [synth_wav(int(i)) for i in pdf["doc_id"]],
                }
            )

    payloads = ids.mapInPandas(synth_batches, "doc_id BIGINT, payload BINARY")

    def decode_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = decode_wav(p)
                n, c = samples.shape
                sums = samples.sum(axis=0, dtype=np.int64)
                rows.append(
                    (
                        int(doc_id),
                        rate,
                        c,
                        n,
                        n * 1_000_000 // rate,
                        len(bytes(p)),
                        int(sums[0]),
                        int(sums[1]) if c > 1 else None,
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_channels", "n_frames",
                    "duration_us", "n_bytes", "sum_ch0", "sum_ch1",
                ],
            )
            # mono rows have NULL sum_ch1 — keep it integral (a plain
            # float column would NaN-ify and fail the BIGINT cast)
            out["sum_ch1"] = pd.array(
                [r[7] for r in rows], dtype="Int64"
            )
            yield out

    schema = (
        "doc_id BIGINT, sample_rate INT, n_channels INT, n_frames INT, "
        "duration_us BIGINT, n_bytes BIGINT, sum_ch0 BIGINT, sum_ch1 BIGINT"
    )
    return payloads.mapInPandas(decode_batches, schema).transform(ordered, "doc_id")


# ---------------------------------------------------------------------------
# per-window frame analysis over REAL decoded PCM: 64-sample windows of
# channel 0 reduced to mean-absolute-amplitude (energy) and
# zero-crossing counts — the integer front-end features of every
# voice-activity / silence-trim pass an audio curation pipeline runs.
# The oracle predicts both from the synthesis rule independently, so a
# decoder that drops samples, mis-aligns windows, or de-interleaves
# wrongly fails the value hash. All-integer arithmetic — no float
# determinism surface at all.
#
# Scale: same single-Arrow-crossing shape as p_audio_decode; output is
# ~n_frames/64 narrow rows per clip.
# ---------------------------------------------------------------------------
_WIN = 64


@register(
    "p_audio_framestats",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, CAST(1 + (doc_id * 13) % 256 AS INT) AS n_frames
      FROM documents),
    wins AS (
      SELECT doc_id, n_frames,
        unnest(generate_series(0,
          CAST(ceil(n_frames / {_WIN}.0) AS INT) - 1)) AS win_id
      FROM dims),
    spans AS (
      SELECT doc_id, CAST(win_id AS INT) AS win_id,
        win_id * {_WIN} AS ws,
        least(n_frames, (win_id + 1) * {_WIN}) AS we
      FROM wins)
    SELECT doc_id, win_id,
      CAST(ws AS INT) AS win_start,
      CAST(we - ws AS INT) AS win_len,
      CAST(list_sum(list_transform(generate_series(ws, we - 1),
        i -> abs(((doc_id * 31 + i * 7) % 4001) - 2000))) AS BIGINT)
        AS sum_abs,
      CAST(COALESCE(list_sum(list_transform(generate_series(ws + 1, we - 1),
        i -> CASE WHEN (((doc_id * 31 + (i-1) * 7) % 4001) - 2000)
                     * (((doc_id * 31 + i * 7) % 4001) - 2000) < 0
             THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_zc
    FROM spans ORDER BY doc_id, win_id
    """,
)
def p_audio_framestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed energy/ZCR over REAL decoded WAV bytes."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.audiocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def synth_batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [synth_wav(int(i)) for i in pdf["doc_id"]],
                }
            )

    payloads = ids.mapInPandas(synth_batches, "doc_id BIGINT, payload BINARY")

    def stats_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                _, samples = decode_wav(p)
                ch0 = samples[:, 0].astype(np.int64)
                n = len(ch0)
                for w in range((n + _WIN - 1) // _WIN):
                    seg = ch0[w * _WIN : (w + 1) * _WIN]
                    zc = int(((seg[:-1] * seg[1:]) < 0).sum())
                    rows.append(
                        (
                            int(doc_id),
                            w,
                            w * _WIN,
                            len(seg),
                            int(np.abs(seg).sum()),
                            zc,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "win_id", "win_start", "win_len",
                    "sum_abs", "n_zc",
                ],
            )

    schema = (
        "doc_id BIGINT, win_id INT, win_start INT, win_len INT, "
        "sum_abs BIGINT, n_zc BIGINT"
    )
    return payloads.mapInPandas(stats_batches, schema).transform(
        ordered, "doc_id", "win_id"
    )


# ---------------------------------------------------------------------------
# G.711 mu-law companding — the audio family's COMPRESSED format
# (8-bit logarithmic telephony coding; every callcenter/VoIP corpus
# arrives in it). Pure integer algorithm, so the full
# encode→decode→error loop sits under the exact value-hash oracle:
#
#   encode: sign, clip |x| at 32635, bias +132, exponent = segment
#           index (how many of 256,512,...,16384 the biased value
#           reaches), mantissa = (b >> (e+3)) & 15, byte = ~(s|e<<4|m)
#   decode: b = ((m*8 + 132) << e) - 132, signed
#
# The oracle reproduces BOTH directions with integer CASE/boolean-sum
# arithmetic (no log2 — float edges at powers of two would be a
# correctness trap). Quantization error is bounded by 2^e * 8, which
# the max_abs_err column demonstrates per doc.
#
# Scale: same Arrow plumbing as decode_wav; numpy-vectorized
# searchsorted segments, zero Python loops per sample.
# ---------------------------------------------------------------------------
_MU_BIAS = 132
_MU_CLIP = 32635
_MU_SEGS = np.array([256, 512, 1024, 2048, 4096, 8192, 16384], dtype=np.int64)


def mulaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 PCM -> uint8 mu-law bytes (vectorized G.711)."""
    x = x.astype(np.int64)
    sign = np.where(x < 0, 0x80, 0)
    a = np.minimum(np.abs(x), _MU_CLIP) + _MU_BIAS
    e = (a[:, None] >= _MU_SEGS[None, :]).sum(axis=1)
    m = (a >> (e + 3)) & 0x0F
    return (~(sign | (e << 4) | m) & 0xFF).astype(np.uint8)


def mulaw_decode(u: np.ndarray) -> np.ndarray:
    """uint8 mu-law bytes -> int16 PCM."""
    b = (~u.astype(np.int64)) & 0xFF
    sign = b & 0x80
    e = (b >> 4) & 0x07
    m = b & 0x0F
    x = ((m * 8 + _MU_BIAS) << e) - _MU_BIAS
    return np.where(sign != 0, -x, x).astype(np.int16)


def _mu_sql_decoded(i: str = "i") -> str:
    """Pure-expression SQL for decode(encode(sample(i))) — DuckDB list
    lambdas cannot bind intermediates or contain subqueries, so the
    shared terms are textually inlined (verbose but exact)."""
    x = f"(((doc_id * 31 + {i} * 7) % 66001) - 33000)"
    a = f"(LEAST(abs({x}), 32635) + 132)"
    e = (
        f"(CAST({a} >= 256 AS INT) + CAST({a} >= 512 AS INT)"
        f" + CAST({a} >= 1024 AS INT) + CAST({a} >= 2048 AS INT)"
        f" + CAST({a} >= 4096 AS INT) + CAST({a} >= 8192 AS INT)"
        f" + CAST({a} >= 16384 AS INT))"
    )
    p = (
        f"(CASE {e} WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4"
        f" WHEN 3 THEN 8 WHEN 4 THEN 16 WHEN 5 THEN 32 WHEN 6 THEN 64"
        f" ELSE 128 END)"
    )
    m = f"(({a} // (8 * {p})) % 16)"
    dec = f"((({m} * 8 + 132) * {p}) - 132)"
    return f"(CASE WHEN {x} < 0 THEN -{dec} ELSE {dec} END)"


@register(
    "p_audio_mulaw",
    # Per doc: n_samples, decoded-sample sum, total and max absolute
    # quantization error — every column integer-exact on both sides.
    # A wrong segment boundary, mantissa shift, bias, or sign fold
    # shifts the sums and fails the hash.
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, CAST(1 + (doc_id * 13) % 256 AS BIGINT) AS n
      FROM documents),
    dec AS (
      SELECT doc_id, n,
        list_transform(generate_series(0, n - 1),
          i -> {_mu_sql_decoded("i")}) AS ds,
        list_transform(generate_series(0, n - 1),
          i -> LEAST(GREATEST(((doc_id * 31 + i * 7) % 66001) - 33000,
                              -32768), 32767)) AS xs
      FROM dims)
    SELECT doc_id,
      CAST(n AS BIGINT) AS n_samples,
      CAST(list_sum(ds) AS BIGINT) AS sum_decoded,
      CAST(list_sum(list_transform(generate_series(1, n),
        k -> abs(ds[k] - xs[k]))) AS BIGINT) AS sum_abs_err,
      CAST(list_max(list_transform(generate_series(1, n),
        k -> abs(ds[k] - xs[k]))) AS BIGINT) AS max_abs_err
    FROM dec ORDER BY doc_id
    """,
)
def p_audio_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 mu-law companding loop: synthesize int16 PCM (with
    clipping-range samples), encode to genuine 8-bit mu-law bytes,
    decode back, and report quantization-error stats the oracle
    recomputes with pure integer SQL."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.audiocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def mulaw_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 1 + (doc_id * 13) % 256
                i = np.arange(n, dtype=np.int64)
                x = ((doc_id * 31 + i * 7) % 66001) - 33000
                x = np.clip(x, -32768, 32767).astype(np.int16)
                u = mulaw_encode(x)
                d = mulaw_decode(u).astype(np.int64)
                err = np.abs(d - x.astype(np.int64))
                rows.append(
                    (doc_id, n, int(d.sum()), int(err.sum()), int(err.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "sum_decoded",
                    "sum_abs_err", "max_abs_err",
                ],
            )

    return ids.mapInPandas(
        mulaw_batches,
        "doc_id BIGINT, n_samples BIGINT, sum_decoded BIGINT, "
        "sum_abs_err BIGINT, max_abs_err BIGINT",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p_audio_resample — sample-rate conversion, the audio-preprocessing
# step every speech corpus runs (16k/8k model input rates): decimate
# by 2 with a 2-tap box filter, out[i] = floor((s[2i] + s[2i+1]) / 2),
# in INTEGER arithmetic (numpy // == DuckDB // == floor division, also
# on negatives) so the oracle predicts every output sample exactly.
# The resampled signal is re-encoded as a REAL 4 kHz WAV and decoded
# AGAIN — the ledger reflects the round-tripped container, not an
# in-memory shortcut. An odd tail sample is dropped (n_out = n // 2),
# including the n=1 -> 0-frame edge, which must still produce a valid
# (headers-only) WAV.
#
# Scale notes: per-file numpy work inside the same Arrow mapInPandas
# plumbing as p_audio_decode; a real anti-aliasing FIR would be a
# convolution per file with identical distribution properties.
# ---------------------------------------------------------------------------
@register(
    "p_audio_resample",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
        CAST(1 + doc_id % 2 AS INT) AS n_channels,
        CAST(1 + (doc_id * 13) % 256 AS INT) AS n_in
      FROM documents),
    d2 AS (SELECT doc_id, n_channels, n_in, n_in // 2 AS n_out FROM dims),
    sums AS (
      SELECT doc_id,
        CASE WHEN n_out > 0 THEN
          list_sum(list_transform(generate_series(0, n_out - 1), i ->
            CAST(floor(((((doc_id * 31 + (2*i) * 7) % 4001) - 2000)
             + (((doc_id * 31 + (2*i+1) * 7) % 4001) - 2000)) / 2.0)
             AS BIGINT)))
        END AS sum_ch0,
        CASE WHEN n_channels = 2 AND n_out > 0 THEN
          list_sum(list_transform(generate_series(0, n_out - 1), i ->
            CAST(floor(((((doc_id * 31 + (2*i) * 7 + 97) % 4001) - 2000)
             + (((doc_id * 31 + (2*i+1) * 7 + 97) % 4001) - 2000)) / 2.0)
             AS BIGINT)))
        END AS sum_ch1
      FROM d2)
    SELECT d.doc_id, 4000 AS sample_rate, d.n_channels,
      d.n_in AS n_frames_in, CAST(d.n_out AS INT) AS n_frames_out,
      CAST(44 + 2 * d.n_channels * d.n_out AS BIGINT) AS n_bytes_out,
      CAST(s.sum_ch0 AS BIGINT) AS sum_ch0,
      CAST(s.sum_ch1 AS BIGINT) AS sum_ch1
    FROM d2 d JOIN sums s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def p_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the real WAV fixtures, decimate 8 kHz -> 4 kHz with an
    exact integer box filter, re-encode at the new rate, decode again,
    and report the round-tripped container + per-channel sums."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.audiocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def resample_batches(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                rate, samples = decode_wav(synth_wav(doc_id))
                n, c = samples.shape
                n_out = n // 2
                pairs = samples[: 2 * n_out].astype(np.int64)
                out = (pairs[0::2] + pairs[1::2]) // 2  # floor division
                wav2 = encode_wav(out.astype(np.int16), rate // 2)
                rate2, back = decode_wav(wav2)
                sums = back.astype(np.int64).sum(axis=0)
                rows.append(
                    (
                        doc_id,
                        rate2,
                        c,
                        n,
                        int(back.shape[0]),
                        len(wav2),
                        int(sums[0]) if n_out > 0 else None,
                        int(sums[1]) if (c == 2 and n_out > 0) else None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_channels", "n_frames_in",
                    "n_frames_out", "n_bytes_out", "sum_ch0", "sum_ch1",
                ],
            )

    schema = (
        "doc_id BIGINT, sample_rate INT, n_channels INT, n_frames_in INT, "
        "n_frames_out INT, n_bytes_out BIGINT, sum_ch0 BIGINT, sum_ch1 BIGINT"
    )
    return ids.mapInPandas(resample_batches, schema).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Tone detection (Goertzel-by-correlation): classify which pitch a REAL
# WAV carries by correlating its decoded PCM against fixed cos/sin
# tables at candidate bins — the classic DTMF / pilot-tone detector,
# and the audio analogue of the language-ID heuristic (a cheap
# scan-stage signal a media pipeline computes on every clip before any
# model sees it).
#
# Fixture: each doc gets a square wave (period 4/8/16 samples by
# doc_id % 3, amplitude 1500) plus a deterministic modular-noise floor,
# synthesized into GENUINE PCM16 WAV bytes and decoded back by the real
# RIFF parser; detection runs on the first 64 decoded samples. Measured
# margins: the true bin carries >= 3500x the power of the runner-up, so
# the argmax is robust while staying hash-exact.
#
# Determinism: the cos/sin tables are PYTHON-COMPUTED LITERALS embedded
# in both the Spark plan and the oracle SQL — neither engine evaluates
# trig, so there is no libm-ulp exposure (Math.cos is not
# correctly-rounded; literal tables sidestep it). The dot products are
# integer-sample x literal-double sequential folds — the dot_col ==
# list_dot_product pair the ANN family already proved bit-identical.
#
# Scale design: synth + decode are Arrow mapInPandas stages behind
# spread(); the correlation is pure JVM (three 64-term folds per row at
# the scan, no shuffle until the final single-partition sort). At
# 100 TB each clip is independent — embarrassingly parallel, no state.
# ---------------------------------------------------------------------------
_TONE_N = 64
_TONE_BINS = (4, 8, 16)
_TONE_AMP = 1500


def _tone_tables() -> dict[str, dict[int, list[float]]]:
    import math

    return {
        "cos": {
            k: [math.cos(2 * math.pi * k * n / _TONE_N) for n in range(_TONE_N)]
            for k in _TONE_BINS
        },
        "sin": {
            k: [math.sin(2 * math.pi * k * n / _TONE_N) for n in range(_TONE_N)]
            for k in _TONE_BINS
        },
    }


def synth_tone_wav(doc_id: int) -> bytes:
    """Square-wave tone + modular noise as a real 1-channel PCM16 WAV."""
    period = {0: 16, 1: 8, 2: 4}[doc_id % 3]
    n = _TONE_N + (doc_id * 13) % 128
    i = np.arange(n, dtype=np.int64)
    wave = np.where((i % period) < period // 2, _TONE_AMP, -_TONE_AMP)
    noise = ((doc_id * 31 + i * 7) % 401) - 200
    return encode_wav((wave + noise).astype(np.int16)[:, None], _RATE)


def _tone_oracle() -> str:
    t = _tone_tables()

    def lit(vals: list[float]) -> str:
        return "[" + ", ".join(repr(v) for v in vals) + "]::DOUBLE[]"

    powers = ", ".join(
        f"(list_dot_product(head, {lit(t['cos'][k])}) ^ 2"
        f" + list_dot_product(head, {lit(t['sin'][k])}) ^ 2) AS p{k}"
        for k in _TONE_BINS
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
        CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 8 ELSE 4 END AS period
      FROM documents),
    sig AS (
      SELECT doc_id, period,
        list_transform(generate_series(0, {_TONE_N - 1}), i ->
          CAST(CASE WHEN (i % period) < period // 2
               THEN {_TONE_AMP} ELSE -{_TONE_AMP} END
               + ((doc_id * 31 + i * 7) % 401) - 200 AS DOUBLE)) AS head
      FROM base),
    pw AS (SELECT doc_id, period, {powers} FROM sig)
    SELECT doc_id, CAST(period AS BIGINT) AS period,
      CAST(CASE WHEN p4 >= p8 AND p4 >= p16 THEN 4
                WHEN p8 >= p16 THEN 8 ELSE 16 END AS BIGINT) AS detected_k,
      (CASE WHEN p4 >= p8 AND p4 >= p16 THEN 4
            WHEN p8 >= p16 THEN 8 ELSE 16 END = {_TONE_N} // period)
        AS correct,
      ROUND(GREATEST(p4, p8, p16), 4) AS power
    FROM pw ORDER BY doc_id
    """


@register("p_audio_tone_detect", oracle=_tone_oracle())
def p_audio_tone_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.audiocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def synth_batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [synth_tone_wav(int(i)) for i in pdf["doc_id"]],
                }
            )

    payloads = ids.mapInPandas(synth_batches, "doc_id BIGINT, payload BINARY")

    def decode_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                _rate, samples = decode_wav(bytes(p))
                rows.append((int(doc_id), samples[: _TONE_N, 0].tolist()))
            yield pd.DataFrame(rows, columns=["doc_id", "head"])

    dec = payloads.mapInPandas(
        decode_batches, "doc_id BIGINT, head ARRAY<BIGINT>"
    )
    t = _tone_tables()

    def lit_arr(vals: list[float]):
        return F.array(*[F.lit(float(v)) for v in vals])

    from hive_clone_spark.pipeline.common import dot_col

    pw = dec.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, 16)
        .when(F.col("doc_id") % 3 == 1, 8)
        .otherwise(4)
        .cast("long")
        .alias("period"),
        *[
            (
                F.pow(dot_col(F.col("head"), lit_arr(t["cos"][k])), 2)
                + F.pow(dot_col(F.col("head"), lit_arr(t["sin"][k])), 2)
            ).alias(f"p{k}")
            for k in _TONE_BINS
        ],
    )
    detected = (
        F.when(
            (F.col("p4") >= F.col("p8")) & (F.col("p4") >= F.col("p16")), 4
        )
        .when(F.col("p8") >= F.col("p16"), 8)
        .otherwise(16)
        .cast("long")
    )
    return pw.select(
        "doc_id",
        "period",
        detected.alias("detected_k"),
        (detected == F.lit(_TONE_N) / F.col("period")).alias("correct"),
        F.round(F.greatest("p4", "p8", "p16"), 4).alias("power"),
    ).transform(ordered, "doc_id")


# ---------------------------------------------------------------------------
# Voice-activity detection (VAD): the gatekeeper of every speech-data
# pipeline — segment raw audio into speech/silence runs BEFORE the
# expensive transcribe/feature stages, so downstream cost scales with
# speech seconds, not recording seconds. Energy-threshold VAD over
# REAL codec bytes: a synthesized recording alternates silence spans
# (|x| <= 100) with activity bursts (|x| <= 2000) on a deterministic
# schedule, goes through encode_wav/decode_wav, frames into 40-sample
# windows, thresholds SUM|x| (integer compare — no mean, no floats),
# and merges consecutive active frames into segments with the
# gaps-and-islands pattern (q46): run id = frame_idx - row_number.
#
# The oracle reproduces synth rule, codec-exact sample values,
# framing, threshold, AND the island merge — so a codec bug, an
# off-by-one frame boundary, or a broken run merge all shift the
# per-doc segment census and fail the hash.
#
# Scale design (100 TB of audio): decode + frame energies are
# scan-stage Arrow work emitting one small row per frame; the island
# merge is a window over (doc, frame) — partitioned by doc, never
# global. Segment output is bounded by frames/doc, not samples.
# ---------------------------------------------------------------------------
_VAD_SEG = 80  # samples per schedule span
_VAD_FRAME = 40  # samples per VAD frame
_VAD_THR = 10000  # SUM|x| threshold per frame (mean 250)


def synth_vad_wav(doc_id: int) -> bytes:
    """Mono recording with a deterministic speech/silence schedule:
    span s (80 samples) is ACTIVE iff (doc_id + s) % 3 != 0."""
    n_seg = 4 + doc_id % 5
    n = n_seg * _VAD_SEG
    i = np.arange(n, dtype=np.int64)
    seg = i // _VAD_SEG
    active = (doc_id + seg) % 3 != 0
    loud = ((doc_id * 31 + i * 7) % 4001) - 2000
    quiet = ((doc_id * 7 + i * 3) % 201) - 100
    samples = np.where(active, loud, quiet).astype(np.int16)[:, None]
    return encode_wav(samples, _RATE)


@register(
    "p_audio_vad",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, CAST(4 + doc_id % 5 AS BIGINT) AS n_seg
      FROM documents),
    frames AS (
      SELECT doc_id, n_seg * 2 AS n_frames,
        unnest(generate_series(0, CAST(n_seg * 2 - 1 AS INT))) AS f
      FROM dims),
    energy AS (
      SELECT doc_id, n_frames, f,
        list_sum(list_transform(
          generate_series(f * {_VAD_FRAME}, f * {_VAD_FRAME} + {_VAD_FRAME} - 1),
          i -> abs(CASE WHEN (doc_id + i // {_VAD_SEG}) % 3 <> 0
                        THEN ((doc_id * 31 + i * 7) % 4001) - 2000
                        ELSE ((doc_id * 7 + i * 3) % 201) - 100 END)))
          AS sum_abs
      FROM frames),
    act AS (
      SELECT doc_id, n_frames, f,
        f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS grp
      FROM energy WHERE sum_abs > {_VAD_THR}),
    runs AS (
      SELECT doc_id, n_frames, grp, COUNT(*) AS run_len
      FROM act GROUP BY doc_id, n_frames, grp)
    SELECT doc_id,
      CAST(n_frames AS BIGINT) AS n_frames,
      CAST(SUM(run_len) AS BIGINT) AS n_active_frames,
      CAST(COUNT(*) AS BIGINT) AS n_segments,
      CAST(MAX(run_len) AS BIGINT) AS max_segment_frames
    FROM runs GROUP BY doc_id, n_frames
    ORDER BY doc_id
    """,
)
def p_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.audiocodec as _mod

    _cp.register_pickle_by_value(_mod)
    from pyspark.sql.window import Window

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def energy_batches(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                _, samples = decode_wav(synth_vad_wav(doc_id))
                x = samples[:, 0].astype(np.int64)
                sums = np.abs(x).reshape(-1, _VAD_FRAME).sum(axis=1)
                for f, s in enumerate(sums):
                    rows.append((doc_id, len(sums), f, int(s)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_frames", "f", "sum_abs"]
            )

    energy = ids.mapInPandas(
        energy_batches, "doc_id BIGINT, n_frames BIGINT, f INT, sum_abs BIGINT"
    )
    act = energy.where(F.col("sum_abs") > _VAD_THR).withColumn(
        "grp",
        F.col("f")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("f")
        ),
    )
    runs = act.groupBy("doc_id", "n_frames", "grp").agg(
        F.count("*").alias("run_len")
    )
    return (
        runs.groupBy("doc_id", "n_frames")
        .agg(
            F.sum("run_len").cast("bigint").alias("n_active_frames"),
            F.count("*").cast("bigint").alias("n_segments"),
            F.max("run_len").cast("bigint").alias("max_segment_frames"),
        )
        .select(
            "doc_id",
            F.col("n_frames").cast("bigint").alias("n_frames"),
            "n_active_frames",
            "n_segments",
            "max_segment_frames",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# p_audio_loudness — loudness normalization with clip accounting: the
# conditioning step before any audio corpus mixes sources recorded at
# different levels. Loudness here is the integer mean-absolute level
# (the same energy measure the VAD thresholds on — no sqrt, so the
# whole chain stays integer-exact); each channel is scaled toward a
# target level with y = sign(x) * (|x| * TARGET div loud), samples
# that would exceed int16 clamp to 32767, and the entry reports the
# BEFORE level, the clip count, and the AFTER level — the ledger a
# mastering pass logs. Division only ever runs on non-negative
# integers (sign reapplied after), so floor == trunc and DuckDB's
# truncating // agrees with numpy's floor // everywhere.
#
# Spark decodes the REAL WAV bytes (including the spliced junk-chunk
# layouts); the oracle reproduces every sample from the generator
# arithmetic — the p_audio_framestats strategy.
#
# Scale notes: per-payload vectorized numpy over the PCM block; one
# output row per (doc, channel). The normalize-then-clamp pipeline is
# a pure map — no shuffle until the final sort.
# ---------------------------------------------------------------------------
_LOUD_TARGET = 20000  # target mean-abs level: gain ~20x, real clipping


@register(
    "p_audio_loudness",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, 1 + doc_id % 2 AS c, 1 + (doc_id * 13) % 256 AS n
      FROM documents),
    chans AS (
      SELECT doc_id, n, unnest(generate_series(0, c - 1)) AS ch FROM dims),
    samp AS (
      SELECT doc_id, ch, n,
        abs(((doc_id * 31 + unnest(generate_series(0, n - 1)) * 7
              + ch * 97) % 4001) - 2000) AS ax
      FROM chans),
    loud AS (
      SELECT doc_id, ch, n, SUM(ax) // n AS loud_before,
        list(ax ORDER BY ax) AS axs
      FROM samp GROUP BY doc_id, ch, n),
    norm AS (
      SELECT doc_id, ch, n, loud_before,
        list_transform(axs, a ->
          a * {_LOUD_TARGET} // GREATEST(loud_before, 1)) AS ys
      FROM loud)
    SELECT doc_id, CAST(ch AS BIGINT) AS channel,
      CAST(n AS BIGINT) AS n_samples,
      CAST(loud_before AS BIGINT) AS loud_before,
      CAST(len(list_filter(ys, y -> y > 32767)) AS BIGINT) AS clipped,
      CAST(list_sum(list_transform(ys, y -> LEAST(y, 32767))) // n
        AS BIGINT) AS loud_after
    FROM norm ORDER BY doc_id, channel
    """,
)
def p_audio_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode real WAV fixtures, normalize each channel to the target
    mean-abs level with int-exact gain, clamp to int16, and report the
    before/clip/after loudness ledger."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.audiocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def norm_batches(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                _rate, samples = decode_wav(synth_wav(doc_id))
                n = samples.shape[0]
                for ch in range(samples.shape[1]):
                    ax = np.abs(samples[:, ch].astype(np.int64))
                    loud = int(ax.sum()) // n
                    ys = ax * _LOUD_TARGET // max(loud, 1)
                    clipped = int((ys > 32767).sum())
                    after = int(np.minimum(ys, 32767).sum()) // n
                    rows.append((doc_id, ch, n, loud, clipped, after))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "channel", "n_samples",
                    "loud_before", "clipped", "loud_after",
                ],
            )

    schema = (
        "doc_id BIGINT, channel BIGINT, n_samples BIGINT, "
        "loud_before BIGINT, clipped BIGINT, loud_after BIGINT"
    )
    return ids.mapInPandas(norm_batches, schema).orderBy("doc_id", "channel")
