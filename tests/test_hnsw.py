"""HNSW index machinery (pipeline/similarity.py hnsw_build/search):
determinism, connectivity-by-construction, degree caps, and the
recall-vs-ef ANN trade-off curve against exact brute force — the part
of the operator the saturating-ef full-oracle entry deliberately does
not exercise."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from hive_clone_spark.pipeline.similarity import (
    _HNSW_M,
    hnsw_build,
    hnsw_search,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def corpus():
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        " ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    vecs = np.array([r[1] for r in rows], dtype=float)
    return ids, vecs


@pytest.fixture(scope="module")
def index(corpus):
    ids, vecs = corpus
    return hnsw_build(ids, vecs)


def _unit(vecs):
    n = np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs / np.where(n == 0, 1.0, n)


def test_build_is_deterministic(corpus):
    ids, vecs = corpus
    l1, e1, lv1 = hnsw_build(ids, vecs)
    l2, e2, lv2 = hnsw_build(ids, vecs)
    assert e1 == e2 and lv1 == lv2
    assert l1 == l2


def test_layer0_connected_by_backbone(corpus, index):
    ids, _ = corpus
    layers, entry, _ = index
    seen = {entry}
    stack = [entry]
    while stack:
        u = stack.pop()
        for v in layers[0][u]:
            if v not in seen:
                seen.add(v)
                stack.append(v)
    assert len(seen) == len(ids)


def test_degree_caps_roughly_hold(corpus, index):
    """M_max = 2M at layer 0 plus at most the 2 backbone edges."""
    ids, _ = corpus
    layers, _, levels = index
    deg0 = [len(layers[0][i]) for i in range(len(ids))]
    assert max(deg0) <= 2 * _HNSW_M + 2
    assert min(deg0) >= 1  # backbone guarantees no isolated node
    # upper layers only contain promoted nodes
    for lv in range(1, len(layers)):
        for i, nbrs in enumerate(layers[lv]):
            if nbrs:
                assert levels[i] >= lv


def test_saturating_ef_is_exact(corpus, index):
    ids, vecs = corpus
    layers, entry, levels = index
    unit = _unit(vecs)
    S = unit @ unit.T
    for q in range(5):
        s = S[q].copy()
        s[q] = -2.0
        true = list(np.argsort(-s)[:10])
        found, visited = hnsw_search(
            layers, entry, levels, unit, unit[q], k=11, ef=len(ids)
        )
        got = [row for _, row in found if row != q][:10]
        assert visited == len(ids)  # connected + saturating ef = full walk
        assert set(got) == set(true)


def test_recall_vs_ef_tradeoff(corpus, index):
    """The honest ANN curve: low ef visits a strict subset of the
    graph and recall@10 grows with ef. Floors are pinned loosely —
    the fixture embeddings are near-random (hardest case), so this is
    a monotonicity-and-sanity pin, not a benchmark claim."""
    ids, vecs = corpus
    layers, entry, levels = index
    unit = _unit(vecs)
    S = unit @ unit.T
    recalls = {}
    visits = {}
    for ef in (4, 16, 64, len(ids)):
        hits = tot_vis = 0
        for q in range(5):
            s = S[q].copy()
            s[q] = -2.0
            true = set(np.argsort(-s)[:10])
            found, visited = hnsw_search(
                layers, entry, levels, unit, unit[q], k=11, ef=ef
            )
            got = {row for _, row in found if row != q}
            hits += len(true & got)
            tot_vis += visited
        recalls[ef] = hits / 50
        visits[ef] = tot_vis / 5
    assert visits[4] < visits[16] < visits[len(ids)]
    assert visits[16] < len(ids)  # genuinely partial search
    assert recalls[4] <= recalls[16] <= recalls[64] <= recalls[len(ids)]
    assert recalls[len(ids)] == 1.0
    assert recalls[64] >= 0.6  # ef=64 on n=500 random data
    assert recalls[16] >= 0.2


def test_persisted_index_roundtrip_reconstructs_graph(spark):
    """p_knn_hnsw_persisted writes per-shard adjacency to parquet; the
    stored graph must reconstruct EXACTLY what hnsw_build produces for
    each shard (neighbor sets, levels, entry point) — a lossy
    round-trip would surface only as silently lower recall at
    sub-exhaustive ef, which the exactness oracle cannot see."""
    import pyspark.sql.functions as F

    from hive_clone_spark import registry
    from hive_clone_spark.catalog import scratch_dir, table
    from hive_clone_spark.pipeline.similarity import _HNSW_SHARDS

    registry.load_all_modules()
    sf = "/root/testdata/sf0.001"
    # scratch_dir clears the dir on every call, so take its path first
    # and read what the entry then leaves behind
    idx_path = scratch_dir(sf, "hnsw_index")
    registry.QUERIES["p_knn_hnsw_persisted"](spark, sf).collect()
    stored = spark.read.parquet(idx_path).collect()
    by_shard: dict[int, list] = {}
    for r in stored:
        by_shard.setdefault(int(r["shard"]), []).append(r)

    e = table(spark, sf, "embeddings").collect()
    assert set(by_shard) == set(range(_HNSW_SHARDS))
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["row"])
        members = sorted(
            (int(r.vec_id), list(r.embedding))
            for r in e
            if int(r.vec_id) % _HNSW_SHARDS == shard
        )
        ids = np.array([m[0] for m in members])
        vecs = np.array([m[1] for m in members], dtype=float)
        layers, entry, levels = hnsw_build(ids, vecs)
        assert [int(r["vec_id"]) for r in rows] == [int(i) for i in ids]
        assert all(int(r["entry_row"]) == entry for r in rows)
        assert [int(r["level"]) for r in rows] == levels
        for i, r in enumerate(rows):
            for lvl in range(len(layers)):
                assert set(int(x) for x in r[f"nbrs_l{lvl}"]) == layers[lvl][i], (
                    shard, i, lvl,
                )
