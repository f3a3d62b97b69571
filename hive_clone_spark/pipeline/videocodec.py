"""REAL video codec (pure numpy, YUV4MPEG2) + decode driver entry with
a full value-hash oracle — the video leg of the multimodal north-star,
completing the image (imagecodec.py) / audio (audiocodec.py) trio.

YUV4MPEG2 (.y4m) is the public uncompressed video interchange format
(mjpegtools/ffmpeg): an ASCII stream header ``YUV4MPEG2 W<w> H<h>
F<num>:<den> ... [C<cs>]\\n`` followed by frames, each ``FRAME[
params]\\n`` + raw planar YUV. `decode_y4m` parses the actual bytes:
tagged header fields in any order, colorspace-dependent plane sizes
(C444 full-res, C420* quarter-res chroma), and the per-frame marker
walk. The driver entry synthesizes genuine .y4m streams, ships them
through Arrow `mapInPandas` as a binary column, decodes by parsing
those bytes, and emits per-plane integer sample sums + exact container
sizes the DuckDB oracle predicts independently from the synthesis
rule — a decoder that mis-parses a tag, mis-sizes a chroma plane, or
mis-walks the FRAME markers fails the value hash.

Scale notes: identical plumbing to the image/audio paths — bytes cross
into Python once per Arrow batch, plane sums are vectorized numpy,
only narrow typed stats return. Frame iteration is per-payload and
sequential by format design (frames are contiguous), which is exactly
how a production frame-extraction stage works on row-sized videos.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import ordered, spread
from hive_clone_spark.registry import register

_MAGIC = b"YUV4MPEG2"


def encode_y4m(
    frames: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
    fps: tuple[int, int] = (25, 1),
) -> bytes:
    """Encode a list of (Y, U, V) uint8 plane triples as C444 .y4m
    (full-resolution chroma — every plane is h x w)."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0][0].shape
    out = [b"YUV4MPEG2 W%d H%d F%d:%d C444\n" % (w, h, fps[0], fps[1])]
    for y, u, v in frames:
        for plane in (y, u, v):
            if plane.shape != (h, w) or plane.dtype != np.uint8:
                raise ValueError(
                    f"expected {h}x{w} uint8 planes, got {plane.shape} {plane.dtype}"
                )
        out.append(b"FRAME\n")
        out.extend(p.tobytes() for p in (y, u, v))
    return b"".join(out)


def decode_y4m(
    payload: bytes,
) -> tuple[int, int, tuple[int, int], list[tuple[np.ndarray, np.ndarray, np.ndarray]]]:
    """Decode a .y4m stream to (width, height, (fps_num, fps_den),
    [(Y, U, V) planes per frame]). Supports C444 (full-res chroma) and
    C420/C420jpeg/C420paldv/C420mpeg2 (quarter-res chroma); header
    tags may appear in any order, unknown tags are skipped (spec
    behavior)."""
    payload = bytes(payload)
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(_MAGIC + b" "):
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    fps = (25, 1)
    cs = "C420jpeg"  # spec default when no C tag present
    for tag in payload[len(_MAGIC) + 1 : nl].split(b" "):
        if not tag:
            continue
        k, val = chr(tag[0]), tag[1:]
        if k == "W":
            w = int(val)
        elif k == "H":
            h = int(val)
        elif k == "F":
            num, den = val.split(b":")
            fps = (int(num), int(den))
        elif k == "C":
            cs = "C" + val.decode("ascii")
        # I/A/X tags: interlacing, aspect, comments — skipped
    if not w or not h or w <= 0 or h <= 0:
        raise ValueError("missing/bad W/H header tags")
    if cs == "C444":
        cw, ch = w, h
    elif cs.startswith("C420"):
        if w % 2 or h % 2:
            raise ValueError(f"{cs} needs even dimensions, got {w}x{h}")
        cw, ch = w // 2, h // 2
    else:
        raise ValueError(f"unsupported colorspace {cs}")
    ysz, csz = w * h, cw * ch
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at byte {pos}")
        pos = fnl + 1  # frame params (if any) are between FRAME and \n
        if pos + ysz + 2 * csz > len(payload):
            raise ValueError("truncated frame data")
        y = np.frombuffer(payload, np.uint8, ysz, pos).reshape(h, w)
        u = np.frombuffer(payload, np.uint8, csz, pos + ysz).reshape(ch, cw)
        v = np.frombuffer(payload, np.uint8, csz, pos + ysz + csz).reshape(ch, cw)
        frames.append((y.copy(), u.copy(), v.copy()))
        pos += ysz + 2 * csz
    if not frames:
        raise ValueError("no frames")
    return w, h, fps, frames


# ---------------------------------------------------------------------------
# deterministic synthetic videos (SQL-predictable rule), C444:
#   w(doc)        = 2 + doc_id % 16
#   h(doc)        = 2 + (doc_id * 5) % 12
#   n_frames(doc) = 1 + doc_id % 5
#   Y(f, y, *)    = (doc_id + 11*f + 3*y) % 256   (row-constant)
#   U(f, *, *)    = (doc_id + 7 + f) % 256        (constant per frame)
#   V(f, *, *)    = (doc_id + 14 + 2*f) % 256
# ---------------------------------------------------------------------------
def synth_y4m(doc_id: int) -> bytes:
    """Generate one REAL .y4m stream for a doc_id."""
    w = 2 + doc_id % 16
    h = 2 + (doc_id * 5) % 12
    n = 1 + doc_id % 5
    frames = []
    yy = np.arange(h, dtype=np.int64)[:, None]
    for f in range(n):
        y = np.broadcast_to(
            ((doc_id + 11 * f + 3 * yy) % 256).astype(np.uint8), (h, w)
        ).copy()
        u = np.full((h, w), (doc_id + 7 + f) % 256, dtype=np.uint8)
        v = np.full((h, w), (doc_id + 14 + 2 * f) % 256, dtype=np.uint8)
        frames.append((y, u, v))
    return encode_y4m(frames)


@register(
    "p_video_decode",
    # n_bytes pins the exact stream layout (header = 25 + len(str(w)) +
    # len(str(h)); each frame = 6-byte marker + 3*w*h C444 planes);
    # sum_y/u/v pin every decoded sample across every frame.
    oracle="""
    WITH dims AS (
      SELECT doc_id,
        CAST(2 + doc_id % 16 AS INT) AS width,
        CAST(2 + (doc_id * 5) % 12 AS INT) AS height,
        CAST(1 + doc_id % 5 AS INT) AS n_frames
      FROM documents),
    sums AS (
      SELECT doc_id,
        width * list_sum(flatten(list_transform(
          generate_series(0, n_frames - 1), f ->
            list_transform(generate_series(0, height - 1), y ->
              (doc_id + 11 * f + 3 * y) % 256)))) AS sum_y,
        width * height * list_sum(list_transform(
          generate_series(0, n_frames - 1), f ->
            (doc_id + 7 + f) % 256)) AS sum_u,
        width * height * list_sum(list_transform(
          generate_series(0, n_frames - 1), f ->
            (doc_id + 14 + 2 * f) % 256)) AS sum_v
      FROM dims)
    SELECT d.doc_id, d.width, d.height, d.n_frames,
      25 AS fps_x1, 1 AS fps_den,
      CAST(25 + length(CAST(d.width AS VARCHAR))
         + length(CAST(d.height AS VARCHAR))
         + d.n_frames * (6 + 3 * d.width * d.height) AS BIGINT) AS n_bytes,
      CAST(s.sum_y AS BIGINT) AS sum_y,
      CAST(s.sum_u AS BIGINT) AS sum_u,
      CAST(s.sum_v AS BIGINT) AS sum_v
    FROM dims d JOIN sums s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def p_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode under the full oracle: synthesize genuine
    YUV4MPEG2 streams (stage A), then parse the actual bytes — header
    tags, FRAME walk, C444 plane extraction — and reduce every frame
    to per-plane integer sample sums (stage B). See p_video_framestats
    for the per-frame-row variant."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.videocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def synth_batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [synth_y4m(int(i)) for i in pdf["doc_id"]],
                }
            )

    payloads = ids.mapInPandas(synth_batches, "doc_id BIGINT, payload BINARY")

    def decode_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, fps, frames = decode_y4m(p)
                sy = sum(int(y.sum(dtype=np.int64)) for y, _, _ in frames)
                su = sum(int(u.sum(dtype=np.int64)) for _, u, _ in frames)
                sv = sum(int(v.sum(dtype=np.int64)) for _, _, v in frames)
                rows.append(
                    (int(doc_id), w, h, len(frames), fps[0], fps[1],
                     len(bytes(p)), sy, su, sv)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_frames", "fps_x1",
                    "fps_den", "n_bytes", "sum_y", "sum_u", "sum_v",
                ],
            )

    schema = (
        "doc_id BIGINT, width INT, height INT, n_frames INT, fps_x1 INT, "
        "fps_den INT, n_bytes BIGINT, sum_y BIGINT, sum_u BIGINT, sum_v BIGINT"
    )
    return payloads.mapInPandas(decode_batches, schema).transform(ordered, "doc_id")

@register(
    "p_video_framestats",
    # per-frame rows: the real-decode version of
    # p_multimodal_framesample — output cardinality is the actual
    # decoded frame count, and each row's plane sums pin that single
    # frame's pixels (frame ordering bugs can't cancel out the way a
    # whole-stream sum could let them).
    oracle="""
    WITH dims AS (
      SELECT doc_id,
        CAST(2 + doc_id % 16 AS INT) AS width,
        CAST(2 + (doc_id * 5) % 12 AS INT) AS height,
        CAST(1 + doc_id % 5 AS INT) AS n_frames
      FROM documents),
    fr AS (
      SELECT doc_id, width, height, CAST(f AS INT) AS frame_idx
      FROM dims, unnest(generate_series(0, n_frames - 1)) AS t(f))
    SELECT doc_id, frame_idx,
      CAST(width * list_sum(list_transform(generate_series(0, height - 1),
        y -> (doc_id + 11 * frame_idx + 3 * y) % 256)) AS BIGINT) AS sum_y,
      CAST(width * height * ((doc_id + 7 + frame_idx) % 256) AS BIGINT) AS sum_u,
      CAST(width * height * ((doc_id + 14 + 2 * frame_idx) % 256) AS BIGINT)
        AS sum_v
    FROM fr ORDER BY doc_id, frame_idx
    """,
)
def p_video_framestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL per-frame feature extraction: decode each .y4m stream and
    emit ONE ROW PER DECODED FRAME with that frame's per-plane integer
    sums — mapInPandas yielding a row-multiplying batch (the decoded
    version of the stride-sampling arithmetic in
    p_multimodal_framesample)."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.videocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def synth_batches(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [synth_y4m(int(i)) for i in pdf["doc_id"]],
                }
            )

    payloads = ids.mapInPandas(synth_batches, "doc_id BIGINT, payload BINARY")

    def frame_batches(batches):
        for pdf in batches:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                _, _, _, frames = decode_y4m(p)
                for idx, (y, u, v) in enumerate(frames):
                    rows.append(
                        (
                            int(doc_id),
                            idx,
                            int(y.sum(dtype=np.int64)),
                            int(u.sum(dtype=np.int64)),
                            int(v.sum(dtype=np.int64)),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "sum_y", "sum_u", "sum_v"]
            )

    schema = (
        "doc_id BIGINT, frame_idx INT, sum_y BIGINT, sum_u BIGINT, sum_v BIGINT"
    )
    return payloads.mapInPandas(frame_batches, schema).transform(
        ordered, "doc_id", "frame_idx"
    )


# ---------------------------------------------------------------------------
# p_video_scene_detect — shot/scene-cut detection, the sampling
# primitive of every video-training pipeline (pick one keyframe per
# scene instead of every Nth frame): decode the real .y4m stream and
# flag a cut wherever the mean absolute luma difference between
# consecutive frames crosses a threshold.
#
# Fixture rule (the DC-exact strategy: flat frames keep a REAL decoder
# + REAL per-pixel MAD under an exactly-predicting oracle):
#   n = 4 + doc_id % 5 frames; a CUT precedes frame f iff
#   (doc_id + f) % 3 == 0; scene(f) = cuts in 1..f;
#   luma(f) = (doc_id*31 + 97*scene(f) + 2*f) % 256 (constant plane).
# Intra-scene MAD is a small drift (|Δ|≈2), cuts jump by ~97 (mod
# wrap), threshold 20 separates them — every doc has discriminating
# cut AND non-cut transitions.
#
# Scale notes: per-payload sequential frame walk (format-inherent),
# vectorized |Y_f - Y_{f-1}| over the plane, same Arrow plumbing as
# p_video_decode; only (doc, frame) cut rows return to the JVM.
# ---------------------------------------------------------------------------
def synth_y4m_scenes(doc_id: int) -> bytes:
    n = 4 + doc_id % 5
    w = 2 + doc_id % 16
    h = 2 + (doc_id * 5) % 12
    frames = []
    scene = 0
    for f in range(n):
        if f > 0 and (doc_id + f) % 3 == 0:
            scene += 1
        val = (doc_id * 31 + 97 * scene + 2 * f) % 256
        y = np.full((h, w), val, dtype=np.uint8)
        u = np.full((h, w), 128, dtype=np.uint8)
        v = np.full((h, w), 128, dtype=np.uint8)
        frames.append((y, u, v))
    return encode_y4m(frames)


_SCENE_THRESHOLD = 20


@register(
    "p_video_scene_detect",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 5 AS n FROM documents),
    mads AS (
      SELECT doc_id, n,
        list_transform(generate_series(1, n - 1), f ->
          abs(
            CAST((doc_id*31
              + 97 * len(list_filter(generate_series(1, f),
                                     g -> (doc_id + g) % 3 = 0))
              + 2*f) % 256 AS BIGINT)
            - CAST((doc_id*31
              + 97 * len(list_filter(generate_series(1, f - 1),
                                     g -> (doc_id + g) % 3 = 0))
              + 2*(f-1)) % 256 AS BIGINT))) AS mad
      FROM dims)
    SELECT doc_id,
      CAST(n AS INT) AS n_frames,
      CAST(len(list_filter(mad, m -> m >= 20)) AS BIGINT) AS n_cuts,
      CAST(list_sum(mad) AS BIGINT) AS sum_mad
    FROM mads ORDER BY doc_id
    """,
)
def p_video_scene_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode real .y4m fixtures and detect scene cuts from consecutive
    frame luma MADs; the oracle predicts every MAD and cut exactly."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.videocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def detect_batches(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                _w, _h, _fps, frames = decode_y4m(synth_y4m_scenes(doc_id))
                mads = []
                for a, b in zip(frames, frames[1:]):
                    diff = np.abs(
                        a[0].astype(np.int64) - b[0].astype(np.int64)
                    )
                    # flat fixtures make the mean integer-exact; real
                    # footage would round — keep the raw mean here and
                    # assert integrality instead of hiding a float
                    m = diff.mean()
                    assert m == int(m)
                    mads.append(int(m))
                rows.append(
                    (
                        doc_id,
                        len(frames),
                        sum(1 for m in mads if m >= _SCENE_THRESHOLD),
                        sum(mads),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_frames", "n_cuts", "sum_mad"]
            )

    schema = "doc_id BIGINT, n_frames INT, n_cuts BIGINT, sum_mad BIGINT"
    return ids.mapInPandas(detect_batches, schema).orderBy("doc_id")


# ---------------------------------------------------------------------------
# p_keyframe_extract — one keyframe per scene: the sampling step that
# turns scene cuts (p_video_scene_detect) into a training set — a
# video contributes one representative frame per shot, not every Nth
# frame of a static scene. The decoder walks the REAL .y4m stream,
# segments scenes with the same MAD>=threshold rule, and emits the
# FIRST frame of each scene (the I-frame convention) with its mean
# luma, so the oracle checks scene boundaries AND the extracted
# pixel content per scene.
#
# Same flat-frame fixture family as scene detect (synth_y4m_scenes):
# cut jumps are 99 or 157 grey levels (97*Δscene + 2 mod 256), drift
# is 2 — threshold 20 separates exactly, so the rule-level oracle
# predicts the detector's segmentation frame for frame.
#
# Scale notes: per-payload sequential frame walk, one output row per
# scene (data reduction ~n_frames -> n_scenes); frames never leave
# the worker — exactly the shape that makes keyframe sampling viable
# on petabyte video corpora.
# ---------------------------------------------------------------------------
@register(
    "p_keyframe_extract",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 5 AS n FROM documents),
    fr AS (
      SELECT doc_id, unnest(generate_series(0, n - 1)) AS f FROM dims),
    lum AS (
      -- the PIXEL lumas (fixture arithmetic defines the planes); the
      -- detector below segments on these, so a mod-256 wrap inside a
      -- rule-scene (|delta| = 254 >= 20) is a cut HERE too - the
      -- oracle mirrors the detector, not the generator's intent
      SELECT doc_id, f,
        (doc_id * 31
         + 97 * len(list_filter(generate_series(1, f),
                                g -> (doc_id + g) % 3 = 0))
         + 2 * f) % 256 AS lum
      FROM fr),
    cuts AS (
      SELECT doc_id, f, lum,
        CASE WHEN f > 0 AND abs(lum - LAG(lum) OVER
               (PARTITION BY doc_id ORDER BY f)) >= 20
             THEN 1 ELSE 0 END AS cut
      FROM lum),
    sc AS (
      SELECT doc_id, f, lum,
        SUM(cut) OVER (PARTITION BY doc_id ORDER BY f
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene
      FROM cuts)
    SELECT doc_id, CAST(scene AS BIGINT) AS scene,
      CAST(MIN(f) AS BIGINT) AS start_frame,
      CAST(COUNT(*) AS BIGINT) AS scene_len,
      CAST(arg_min(lum, f) AS BIGINT) AS key_luma
    FROM sc GROUP BY doc_id, scene ORDER BY doc_id, scene
    """,
)
def p_keyframe_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment real decoded .y4m streams into scenes and extract the
    first frame of each as the keyframe (index + mean luma)."""
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.videocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def extract_batches(batches):
        for pdf in batches:
            rows = []
            for i in pdf["doc_id"]:
                doc_id = int(i)
                _w, _h, _fps, frames = decode_y4m(synth_y4m_scenes(doc_id))
                lumas = []
                for y, _u, _v in frames:
                    m = y.astype(np.int64).mean()
                    assert m == int(m)  # flat fixture planes
                    lumas.append(int(m))
                scene, start = 0, 0
                scenes = []  # (scene, start_frame, len, key_luma)
                for f in range(1, len(frames)):
                    if abs(lumas[f] - lumas[f - 1]) >= _SCENE_THRESHOLD:
                        scenes.append((scene, start, f - start, lumas[start]))
                        scene, start = scene + 1, f
                scenes.append(
                    (scene, start, len(frames) - start, lumas[start])
                )
                rows.extend((doc_id, s, st, ln, kl) for s, st, ln, kl in scenes)
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "scene", "start_frame", "scene_len", "key_luma"
                ],
            )

    schema = (
        "doc_id BIGINT, scene BIGINT, start_frame BIGINT, "
        "scene_len BIGINT, key_luma BIGINT"
    )
    return ids.mapInPandas(extract_batches, schema).orderBy("doc_id", "scene")


# ---------------------------------------------------------------------------
# p_motion_estimate — block-matching motion estimation (the SAD
# search at the heart of every video codec's inter prediction and of
# optical-flow-lite pipelines): decode two REAL .y4m frames, take the
# 4x4 texture block anchored at (6,6) in frame 0, and exhaustively
# search a +/-3 window in frame 1 for the offset minimizing the sum
# of absolute differences. Ties break lexicographically on
# (sad, dy, dx) — deterministic even on pathological fixtures.
#
# Fixture rule (DC-exact strategy): 16x16 constant background
# (doc_id*13 % 256) carrying a non-constant 4x4 block
# ((doc_id + 37*i + 101*j) % 256) at (6,6); frame 1 translates the
# block by dx = doc_id % 5 - 2, dy = (doc_id div 5) % 5 - 2. The
# translated block is the unique zero-SAD candidate (every other
# candidate is background or partial overlap against a non-constant
# patch), so the oracle predicts the full result arithmetically —
# the estimated vector from doc_id, sad_min = 0, and the block
# checksum from the pattern formula — while the engine earns it from
# decoded pixels.
#
# Scale design: one Arrow pass synthesizes, decodes, and searches
# (49 offsets x 16 pixels per doc — integer SIMD inside numpy);
# per-payload work is independent, shuffle-free up to the final
# sort, and the returned census is one row per document. At 100 TB
# the search is the same embarrassingly parallel map over shards.
# ---------------------------------------------------------------------------
_ME_BLOCK = 4
_ME_ANCHOR = 6
_ME_SEARCH = 3


def synth_y4m_motion(doc_id: int) -> bytes:
    """Two 16x16 frames: constant background + a textured 4x4 block
    that translates by (dx, dy) between frames."""
    w = h = 16
    bg = (doc_id * 13) % 256
    dx = doc_id % 5 - 2
    dy = (doc_id // 5) % 5 - 2
    ii = np.arange(_ME_BLOCK, dtype=np.int64)
    patt = (doc_id + 37 * ii[:, None] + 101 * ii[None, :]) % 256
    frames = []
    for x0, y0 in ((_ME_ANCHOR, _ME_ANCHOR), (_ME_ANCHOR + dx, _ME_ANCHOR + dy)):
        y = np.full((h, w), bg, dtype=np.uint8)
        y[y0 : y0 + _ME_BLOCK, x0 : x0 + _ME_BLOCK] = patt.astype(np.uint8)
        u = np.full((h, w), 128, dtype=np.uint8)
        v = np.full((h, w), 128, dtype=np.uint8)
        frames.append((y, u, v))
    return encode_y4m(frames)


@register(
    "p_motion_estimate",
    oracle=f"""
    WITH mv AS (
      SELECT doc_id,
        CAST(doc_id % 5 - 2 AS BIGINT) AS dx_est,
        CAST((doc_id // 5) % 5 - 2 AS BIGINT) AS dy_est
      FROM documents),
    ck AS (
      SELECT doc_id,
        CAST(list_sum(flatten(list_transform(
          generate_series(0, {_ME_BLOCK - 1}), i ->
            list_transform(generate_series(0, {_ME_BLOCK - 1}), j ->
              (doc_id + 37 * i + 101 * j) % 256)))) AS BIGINT) AS block_sum
      FROM documents)
    SELECT m.doc_id, m.dx_est, m.dy_est,
      CAST(0 AS BIGINT) AS sad_min,
      (m.dx_est <> 0 OR m.dy_est <> 0) AS moved,
      c.block_sum
    FROM mv m JOIN ck c ON c.doc_id = m.doc_id
    ORDER BY m.doc_id
    """,
)
def p_motion_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pyspark import cloudpickle as _cp
    import hive_clone_spark.pipeline.videocodec as _mod

    _cp.register_pickle_by_value(_mod)

    ids = spread(table(spark, sf_dir, "documents").select("doc_id"))

    def search_batches(batches):
        B, A, S = _ME_BLOCK, _ME_ANCHOR, _ME_SEARCH
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                _, _, _, frames = decode_y4m(synth_y4m_motion(doc_id))
                f0 = frames[0][0].astype(np.int64)
                f1 = frames[1][0].astype(np.int64)
                ref = f0[A : A + B, A : A + B]
                best = None  # (sad, dy, dx)
                for dy in range(-S, S + 1):
                    for dx in range(-S, S + 1):
                        cand = f1[A + dy : A + dy + B, A + dx : A + dx + B]
                        sad = int(np.abs(cand - ref).sum())
                        key = (sad, dy, dx)
                        if best is None or key < best:
                            best = key
                sad_min, dy_e, dx_e = best
                blk = f1[
                    A + dy_e : A + dy_e + B, A + dx_e : A + dx_e + B
                ]
                rows.append(
                    (
                        doc_id,
                        dx_e,
                        dy_e,
                        sad_min,
                        dx_e != 0 or dy_e != 0,
                        int(blk.sum(dtype=np.int64)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "dx_est", "dy_est", "sad_min", "moved",
                    "block_sum",
                ],
            )

    return ids.mapInPandas(
        search_batches,
        "doc_id BIGINT, dx_est BIGINT, dy_est BIGINT, sad_min BIGINT, "
        "moved BOOLEAN, block_sum BIGINT",
    ).transform(ordered, "doc_id")
