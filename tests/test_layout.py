"""Layout invariants (reference test style, SURVEY.md §5): shape,
finiteness, coordinate bound, no dimension collapse, determinism, and
an exact spring-force oracle on K4 (FIXTURES.md)."""

import math
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphem_rapids_spark.embedding.embedder import GraphEmbedderSpark
from graphem_rapids_spark.embedding.laplacian import laplacian_embedding


def test_laplacian_shape_finite(spark, k4):
    pos = laplacian_embedding(k4, 4, n_components=2)
    rows = pos.orderBy("id").collect()
    assert len(rows) == 4
    for r in rows:
        assert len(r.pos) == 2 and all(math.isfinite(x) for x in r.pos)


def test_laplacian_matches_dense_oracle(spark, two_triangles):
    # eigenvalues of the normalized Laplacian via the driver path must
    # reproduce numpy's on the two-triangle graph
    pos = laplacian_embedding(two_triangles, 6, n_components=2).orderBy("id").collect()
    X = np.array([r.pos for r in pos])
    A = np.zeros((6, 6))
    for s, d in [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5)]:
        A[s, d] = A[d, s] = 1
    deg = A.sum(1)
    L = np.eye(6) - A / np.sqrt(np.outer(deg, deg))
    vals, vecs = np.linalg.eigh(L)
    # columns must span the same eigenspaces: check Rayleigh quotients
    for d in range(2):
        v = X[:, d]
        lam = v @ L @ v / (v @ v)
        assert min(abs(lam - ev) for ev in vals) < 1e-8


def _heavy_tailed_edges(n, seed, avg_degree=8.0):
    """Canonical src<dst edges: a random spanning tree (connected) plus
    Chung-Lu edges on Pareto vertex weights (heavy-tailed degrees)."""
    rng = np.random.default_rng(seed)
    p = rng.pareto(1.2, n) + 1.0
    p /= p.sum()
    tree = np.stack([np.arange(1, n), (rng.random(n - 1) * np.arange(1, n)).astype(np.int64)], 1)
    m = int(n * avg_degree / 2)
    e = np.concatenate([tree, np.stack([rng.choice(n, m, p=p), rng.choice(n, m, p=p)], 1)])
    lo, hi = e.min(1), e.max(1)
    key = np.unique(lo[lo < hi] * n + hi[lo < hi])
    return np.stack([key // n, key % n], 1)


def _dense_laplacian(e, n):
    """Normalized Laplacian with L_ii = 0 on isolated vertices."""
    A = np.zeros((n, n))
    A[e[:, 0], e[:, 1]] = A[e[:, 1], e[:, 0]] = 1.0
    deg = A.sum(1)
    dinv = np.where(deg > 0, 1.0 / np.sqrt(np.maximum(deg, 1.0)), 0.0)
    L = -A * np.outer(dinv, dinv)
    np.fill_diagonal(L, (deg > 0).astype(float))
    return L


def _driver_spectral(spark, monkeypatch, e, n, k):
    """laplacian_embedding's driver path, asserting it never fell back
    to the dense eigh."""
    from graphem_rapids_spark.embedding import laplacian

    def no_dense(*args):
        raise AssertionError("dense eigh fallback taken")

    monkeypatch.setattr(laplacian, "_dense_eigh", no_dense)
    df = spark.createDataFrame([(int(a), int(b)) for a, b in e], "src long, dst long")
    rows = laplacian_embedding(df, n, n_components=k, seed=5).orderBy("id").collect()
    return np.array([r.pos for r in rows])


def _sign_canonical(X):
    s = np.sign(X[np.abs(X).argmax(axis=0), np.arange(X.shape[1])])
    return X * np.where(s == 0, 1.0, s)


@pytest.mark.parametrize("n,seed", [(300, 1), (2000, 2)])
def test_driver_eigenvectors_match_dense_eigh(spark, monkeypatch, n, seed):
    e = _heavy_tailed_edges(n, seed)
    X = _driver_spectral(spark, monkeypatch, e, n, 2)
    vals, vecs = np.linalg.eigh(_dense_laplacian(e, n))
    want = _sign_canonical(vecs[:, 1:3])
    assert np.abs(X - want).max() <= 1e-6


@pytest.mark.parametrize(
    "e,n",
    [
        # vertex 299 has no edge
        (_heavy_tailed_edges(299, 3), 300),
        # two components of 150 vertices
        (np.concatenate([_heavy_tailed_edges(150, 4), _heavy_tailed_edges(150, 5) + 150]), 300),
    ],
    ids=["isolated_vertex", "two_components"],
)
def test_driver_rayleigh_quotients_match_dense(spark, monkeypatch, e, n):
    k = 3
    X = _driver_spectral(spark, monkeypatch, e, n, k)
    L = _dense_laplacian(e, n)
    vals = np.linalg.eigvalsh(L)
    got = [X[:, d] @ L @ X[:, d] / (X[:, d] @ X[:, d]) for d in range(k)]
    assert np.abs(np.array(got) - vals[1 : k + 1]).max() <= 1e-8


def test_slow_lobpcg_falls_back_to_dense_early(spark, monkeypatch):
    # a 500-vertex path needs ~650 LOBPCG rounds: the rate check hands it
    # to the dense eigh after 40, well before the round cap, and the
    # result is still the exact bottom pair
    from graphem_rapids_spark.embedding import laplacian

    n = 500
    e = np.stack([np.arange(n - 1), np.arange(1, n)], 1)
    calls = []
    shifted = laplacian._shifted_adjacency

    @contextmanager
    def counted(*args):
        with shifted(*args) as matvec:
            yield lambda X: calls.append(1) or matvec(X)

    monkeypatch.setattr(laplacian, "_shifted_adjacency", counted)
    df = spark.createDataFrame([(int(a), int(b)) for a, b in e], "src long, dst long")
    rows = laplacian_embedding(df, n, n_components=2, seed=5).orderBy("id").collect()
    assert len(calls) <= 2 * laplacian._LOBPCG_WINDOW + 1 < laplacian._LOBPCG_MAX_ITERS
    X = np.array([r.pos for r in rows])
    vals, vecs = np.linalg.eigh(_dense_laplacian(e, n))
    assert np.abs(X - _sign_canonical(vecs[:, 1:3])).max() <= 1e-6


def test_distributed_power_iteration_agrees(spark, two_triangles):
    from graphem_rapids_spark.embedding.laplacian import (
        _distributed_orthogonal_iteration,
    )

    pos = (
        _distributed_orthogonal_iteration(two_triangles, 6, 2, seed=1, iters=40)
        .orderBy("id")
        .collect()
    )
    X = np.array([r.pos for r in pos])
    A = np.zeros((6, 6))
    for s, d in [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5)]:
        A[s, d] = A[d, s] = 1
    deg = A.sum(1)
    L = np.eye(6) - A / np.sqrt(np.outer(deg, deg))
    vals = np.linalg.eigvalsh(L)
    for d in range(2):
        v = X[:, d]
        lam = v @ L @ v / (v @ v)
        # power iteration converges to *small* eigenvalues of L
        # (top of M); allow loose tolerance
        assert min(abs(lam - ev) for ev in vals) < 0.05


def test_spring_force_oracle_k4(spark, k4):
    """One update with k_inter=0 against the closed-form force law
    (embedder_pytorch.py:617-634 semantics)."""
    emb = GraphEmbedderSpark(k4, 4, n_components=2, k_inter=0.0, seed=3)
    P0 = emb.get_positions()
    emb.update_positions()
    P1 = emb.get_positions()

    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    F_ = np.zeros_like(P0)
    for s, d in edges:
        diff = P0[d] - P0[s]
        dist = np.linalg.norm(diff) + 1e-6
        f = -0.2 * (dist - 1.0) * diff / dist
        F_[s] += f
        F_[d] -= f
    want = P0 + F_
    want = want - want.mean(0)
    want = want / (want.std(0, ddof=1) + 1e-6)
    assert np.allclose(P1, want, atol=1e-9)


@pytest.mark.parametrize("dim", [2, 3])
def test_layout_invariants(spark, dim):
    from graphem_rapids_spark.graph.generators import generate_random_regular

    g = generate_random_regular(n=30, d=4, seed=42, spark=spark)
    emb = GraphEmbedderSpark(g.edges, 30, n_components=dim, seed=42, sample_size=64)
    emb.run_layout(3)
    P = emb.get_positions()
    assert P.shape == (30, dim)
    assert np.isfinite(P).all()
    assert (np.abs(P) < 1000).all()  # stability bound (test_embedder.py:100-120)
    assert (P.var(0) > 1e-6).all()  # no dimension collapse


def test_layout_deterministic(spark, k4):
    def run():
        e = GraphEmbedderSpark(k4, 4, n_components=2, seed=7, sample_size=8)
        e.run_layout(3)
        return e.get_positions()

    assert np.allclose(run(), run(), atol=1e-12)


def test_radial_distances(spark, k4):
    emb = GraphEmbedderSpark(k4, 4, n_components=2, seed=0)
    r = {x.id: x.radius for x in emb.radial_distances().collect()}
    P = emb.get_positions()
    for i in range(4):
        assert abs(r[i] - np.linalg.norm(P[i])) < 1e-9


def test_invalid_inputs(spark, k4):
    with pytest.raises(ValueError):
        GraphEmbedderSpark(k4, 0)
    with pytest.raises(ValueError):
        GraphEmbedderSpark(k4, 4, n_components=0)
    with pytest.raises(ValueError):
        GraphEmbedderSpark(k4, 4, k_attr=-1.0)


def test_weighted_layout_unit_weights_match_unweighted(spark, k4):
    """weight=1 everywhere must reproduce the unweighted layout
    bit-for-bit (the weighted magnitude is mag*1.0 — IEEE no-op)."""
    kw = dict(n_components=2, sample_size=4, seed=7)
    un = GraphEmbedderSpark(k4, 4, **kw)
    un.run_layout(3)
    w1 = k4.withColumn("w", F.lit(1.0))
    we = GraphEmbedderSpark(w1, 4, weight_col="w", **kw)
    we.run_layout(3)
    a = {r.id: tuple(r.pos) for r in un.positions.collect()}
    b = {r.id: tuple(r.pos) for r in we.positions.collect()}
    assert a == b


def test_weighted_spring_force_oracle(spark):
    """One weighted update with k_inter=0 against the closed-form law:
    the reference magnitude −k_attr·(dist−L_min) scaled by the edge
    weight (embedder_pytorch.py:617-634 semantics + the weight factor
    the reference declares future work)."""
    weights = {(0, 1): 2.0, (1, 2): 0.5, (0, 2): 1.0}
    e = spark.createDataFrame(
        [(s, d, w) for (s, d), w in weights.items()],
        "src long, dst long, w double",
    )
    emb = GraphEmbedderSpark(
        e, 3, n_components=2, weight_col="w", k_inter=0.0, seed=3
    )
    P0 = emb.get_positions()
    emb.update_positions()
    P1 = emb.get_positions()

    F_ = np.zeros_like(P0)
    for (s, d), w in weights.items():
        diff = P0[d] - P0[s]
        dist = np.linalg.norm(diff) + 1e-6
        f = -0.2 * (dist - 1.0) * w * diff / dist
        F_[s] += f
        F_[d] -= f
    want = P0 + F_
    want = want - want.mean(0)
    want = want / (want.std(0, ddof=1) + 1e-6)
    assert np.allclose(P1, want, atol=1e-9)


def test_weighted_layout_duplicate_edges_sum(spark):
    """Non-canonical duplicate rows (both orientations) must collapse
    to one canonical edge with the summed weight."""
    dup = spark.createDataFrame(
        [(0, 1, 2.0), (1, 0, 3.0)], "src long, dst long, w double"
    )
    emb = GraphEmbedderSpark(dup, 2, weight_col="w", sample_size=1)
    rows = emb.edges.collect()
    assert len(rows) == 1
    assert (rows[0].src, rows[0].dst, rows[0].weight) == (0, 1, 5.0)
