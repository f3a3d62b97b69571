"""Clean-room IMA ADPCM codec (DVI4 / IMA "Recommended Practices for
Enhancing Digital Audio Compatibility", the public 4-bit ADPCM every
WAV container and RTP DVI4 payload uses): 16-bit PCM compressed 4:1 by
encoding each sample as a 4-bit code against an adaptive predictor —
state is just (predictor int16, step index 0..88), the 89-entry step
table and the 8-entry index-adaptation table are the whole spec.

The block wire format mirrors IMA/WAV: a 4-byte state header
(predictor int16 LE, step index u8, reserved 0) followed by packed
nibbles (low nibble first). Encoder and decoder run the IDENTICAL
integer recurrence, so the decoder reproduces the encoder's predictor
sequence bit-for-bit — which is exactly what lets the DuckDB oracle
verify the whole codec: it replays the recurrence as a recursive CTE
over the same closed-form synthesized samples and hash-matches the
per-doc code checksum, reconstruction checksum, final state, AND the
accumulated |error| (the lossy part, pinned as data rather than
waved at).

Scale design (p_audio_adpcm): one Arrow mapInPandas pass, codec
by-value in the closure; per-row cost linear in sample count; the
only shuffles are spread() before it and the single-partition final
sort (`common.ordered`) after it. At 100 TB ADPCM is the "cheap speech
archive" lane — 4:1, integer-only, state O(1) per stream so blocks
decode independently (the parallel-decode property the 4-byte header
exists to provide).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.registry import register

# the two public IMA tables
STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)  # indexed by the 3 magnitude bits


def _step_state(sample: int, pred: int, idx: int) -> tuple[int, int, int]:
    """One encoder step: returns (code, new_pred, new_idx). The decode
    reconstruction is the same arithmetic driven by `code`."""
    step = STEP_TABLE[idx]
    diff = sample - pred
    code = 0
    if diff < 0:
        code = 8
        diff = -diff
    if diff >= step:
        code |= 4
        diff -= step
    if diff >= step >> 1:
        code |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        code |= 1
    delta = step >> 3
    if code & 4:
        delta += step
    if code & 2:
        delta += step >> 1
    if code & 1:
        delta += step >> 2
    pred = pred - delta if code & 8 else pred + delta
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + INDEX_TABLE[code & 7]))
    return code, pred, idx


def adpcm_encode(samples: np.ndarray) -> bytes:
    """int16 PCM -> IMA block: 4-byte state header + packed nibbles
    (low nibble first). Initial state is (0, 0) by construction."""
    pred, idx = 0, 0
    out = bytearray()
    out += int(pred).to_bytes(2, "little", signed=True)
    out += bytes([idx, 0])
    codes = []
    for s in samples.astype(np.int64):
        code, pred, idx = _step_state(int(s), pred, idx)
        codes.append(code)
    for i in range(0, len(codes), 2):
        lo = codes[i]
        hi = codes[i + 1] if i + 1 < len(codes) else 0
        out.append(lo | (hi << 4))
    return bytes(out)


def adpcm_decode(data: bytes, n_samples: int) -> np.ndarray:
    """IMA block -> reconstructed int16 PCM (the encoder's predictor
    sequence, exactly)."""
    pred = int.from_bytes(data[0:2], "little", signed=True)
    idx = data[2]
    if data[3] != 0:
        raise ValueError("adpcm: bad reserved byte")
    if idx > 88:
        raise ValueError("adpcm: step index out of range")
    out = np.empty(n_samples, dtype=np.int16)
    pos = 4
    for i in range(n_samples):
        byte = data[pos + (i >> 1)]
        code = (byte >> 4) if i & 1 else (byte & 0x0F)
        step = STEP_TABLE[idx]
        delta = step >> 3
        if code & 4:
            delta += step
        if code & 2:
            delta += step >> 1
        if code & 1:
            delta += step >> 2
        pred = pred - delta if code & 8 else pred + delta
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + INDEX_TABLE[code & 7]))
        out[i] = pred
    return out


# ---------------------------------------------------------------------------
# registered entry: synthesize the audiocodec sample rule (mono lane),
# encode + decode distributedly, and pin code/recon/error checksums
# against a DuckDB recursive-CTE replay of the SAME recurrence.
# ---------------------------------------------------------------------------
def _sql_list(t) -> str:
    return "[" + ", ".join(str(x) for x in t) + "]"


_ADPCM_ORACLE = f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, 1 + (doc_id * 13) % 256 AS n FROM documents),
    st(doc_id, n, t, pred, idx, code_cks, recon_cks, err_abs) AS (
      SELECT doc_id, n, 0, 0, 0,
        CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM docs
      UNION ALL
      SELECT doc_id, n, t + 1, pred2, idx2,
        code_cks + (t + 1) * code,
        recon_cks + (t + 1) * pred2,
        err_abs + abs(s - pred2)
      FROM (
        SELECT doc_id, n, t, pred, idx, code_cks, recon_cks, err_abs,
          ((doc_id * 31 + t * 7) % 4001) - 2000 AS s,
          list_extract({_sql_list(STEP_TABLE)}, idx + 1) AS step,
          s - pred AS diff,
          CASE WHEN diff < 0 THEN 8 ELSE 0 END AS sbit,
          abs(diff) AS m0,
          CASE WHEN m0 >= step THEN 4 ELSE 0 END AS b2,
          m0 - CASE WHEN b2 = 4 THEN step ELSE 0 END AS m1,
          CASE WHEN m1 >= step // 2 THEN 2 ELSE 0 END AS b1,
          m1 - CASE WHEN b1 = 2 THEN step // 2 ELSE 0 END AS m2,
          CASE WHEN m2 >= step // 4 THEN 1 ELSE 0 END AS b0,
          sbit + b2 + b1 + b0 AS code,
          step // 8 + CASE WHEN b2 = 4 THEN step ELSE 0 END
            + CASE WHEN b1 = 2 THEN step // 2 ELSE 0 END
            + CASE WHEN b0 = 1 THEN step // 4 ELSE 0 END AS delta,
          GREATEST(-32768, LEAST(32767,
            pred + CASE WHEN sbit = 8 THEN -delta ELSE delta END)) AS pred2,
          GREATEST(0, LEAST(88, idx + list_extract(
            {_sql_list(INDEX_TABLE)}, (code % 8) + 1))) AS idx2
        FROM st WHERE t < n) z)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
      CAST(pred AS BIGINT) AS final_pred, CAST(idx AS BIGINT) AS final_idx,
      code_cks AS code_checksum, recon_cks AS recon_checksum,
      err_abs AS abs_error_sum,
      CAST(4 + (n + 1) // 2 AS BIGINT) AS n_bytes,
      TRUE AS decode_matches
    FROM st WHERE t = n ORDER BY doc_id
"""


@register("p_audio_adpcm", oracle=_ADPCM_ORACLE)
def p_audio_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark import cloudpickle as _cp

    import hive_clone_spark.pipeline.adpcmcodec as _mod
    from hive_clone_spark.pipeline.common import ordered, spread

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def codec_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 1 + (doc_id * 13) % 256
                i = np.arange(n, dtype=np.int64)
                samples = (((doc_id * 31 + i * 7) % 4001) - 2000).astype(
                    np.int16
                )
                blob = adpcm_encode(samples)
                recon = adpcm_decode(blob, n)
                # re-derive the code stream for the checksum
                pred, idx = 0, 0
                code_cks = 0
                for t, s in enumerate(samples.astype(np.int64)):
                    code, pred, idx = _step_state(int(s), pred, idx)
                    code_cks += (t + 1) * code
                w = np.arange(1, n + 1, dtype=np.int64)
                rows.append(
                    (
                        doc_id,
                        n,
                        int(recon[-1]),
                        int(idx),
                        int(code_cks),
                        int((w * recon.astype(np.int64)).sum()),
                        int(
                            np.abs(
                                samples.astype(np.int64)
                                - recon.astype(np.int64)
                            ).sum()
                        ),
                        len(blob),
                        bool(int(recon[-1]) == pred),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_samples",
                    "final_pred",
                    "final_idx",
                    "code_checksum",
                    "recon_checksum",
                    "abs_error_sum",
                    "n_bytes",
                    "decode_matches",
                ],
            )

    return ids.mapInPandas(
        codec_batches,
        "doc_id BIGINT, n_samples BIGINT, final_pred BIGINT, "
        "final_idx BIGINT, code_checksum BIGINT, recon_checksum BIGINT, "
        "abs_error_sum BIGINT, n_bytes BIGINT, decode_matches BOOLEAN",
    ).transform(ordered, "doc_id")
