"""Layout invariants (reference test style, SURVEY.md §5): shape,
finiteness, coordinate bound, no dimension collapse, determinism, and
an exact spring-force oracle on K4 (FIXTURES.md) — each on the driver
layout and the distributed one (``on_both_paths``), plus the two
paths' parity and the driver path's job count."""

import math
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphem_rapids_spark.embedding.embedder import GraphEmbedderSpark
from graphem_rapids_spark.embedding.laplacian import laplacian_embedding
from graphem_rapids_spark.functions import xxhash64_np
from graphem_rapids_spark.graph.generators import generate_random_regular, generate_sbm

from conftest import max_job_id


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


def _spring_step(P0, edges, weights=None):
    """One k_inter=0 update by the closed-form force law
    (embedder_pytorch.py:617-634 semantics), centered and scaled."""
    F_ = np.zeros_like(P0)
    for i, (s, d) in enumerate(edges):
        diff = P0[d] - P0[s]
        dist = np.linalg.norm(diff) + 1e-6
        w = 1.0 if weights is None else weights[i]
        f = -0.2 * (dist - 1.0) * w * diff / dist
        F_[s] += f
        F_[d] -= f
    want = P0 + F_
    want = want - want.mean(0)
    return want / (want.std(0, ddof=1) + 1e-6)


def test_spring_force_oracle_k4(spark, k4, on_both_paths):
    """One update with k_inter=0 against the closed-form force law."""

    def run():
        emb = GraphEmbedderSpark(k4, 4, n_components=2, k_inter=0.0, seed=3)
        P0 = emb.get_positions()
        emb.update_positions()
        return P0, emb.get_positions()

    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    for P0, P1 in on_both_paths(run):
        assert np.allclose(P1, _spring_step(P0, edges), atol=1e-9)


@pytest.mark.parametrize("dim", [2, 3])
def test_layout_invariants(spark, dim, on_both_paths):
    g = generate_random_regular(n=30, d=4, seed=42, spark=spark)

    def run():
        emb = GraphEmbedderSpark(g.edges, 30, n_components=dim, seed=42, sample_size=64)
        emb.run_layout(3)
        return emb.get_positions()

    for P in on_both_paths(run):
        assert P.shape == (30, dim)
        assert np.isfinite(P).all()
        assert (np.abs(P) < 1000).all()  # stability bound (test_embedder.py:100-120)
        assert (P.var(0) > 1e-6).all()  # no dimension collapse


def test_layout_deterministic(spark, k4, on_both_paths):
    def run():
        e = GraphEmbedderSpark(k4, 4, n_components=2, seed=7, sample_size=8)
        e.run_layout(3)
        return e.get_positions()

    for a, b in on_both_paths(lambda: (run(), run())):
        assert np.allclose(a, b, atol=1e-12)


def test_single_edge_layout(spark, on_both_paths):
    """n_edges = 1: no repulsion pair exists; the spring law alone."""
    e = spark.createDataFrame([(0, 1)], "src long, dst long")

    def run():
        emb = GraphEmbedderSpark(e, 2, n_components=2, seed=5)
        assert emb.n_edges == 1
        P0 = emb.get_positions()
        emb.run_layout(2)
        return P0, emb.get_positions()

    (d0, d2), (r0, r2) = on_both_paths(run)
    assert np.array_equal(d0, r0)
    want = _spring_step(_spring_step(d0, [(0, 1)]), [(0, 1)])
    assert np.allclose(d2, want, atol=1e-9) and np.allclose(r2, want, atol=1e-9)


def _top10(emb):
    top = emb.radial_distances().orderBy(F.col("radius").desc(), F.col("id").asc()).limit(10)
    return [row.id for row in top.collect()]


def test_driver_layout_matches_distributed(spark, on_both_paths):
    """A seeded clustered graph, with crossings to repel: the driver
    round and the distributed one agree to rounding after 3 rounds
    (per-vertex force sums add in different orders), and rank the
    same radial top-10."""
    g = generate_sbm(n_per_block=50, num_blocks=4, p_in=0.2, p_out=0.01, seed=3, spark=spark)

    def run():
        emb = GraphEmbedderSpark(g.edges, g.n_vertices, n_components=2, seed=11, sample_size=64)
        P0 = emb.get_positions()
        emb.run_layout(3)
        return P0, emb.get_positions(), _top10(emb)

    (d0, d3, dtop), (r0, r3, rtop) = on_both_paths(run)
    assert np.array_equal(d0, r0)  # the same spectral init, bit for bit
    assert np.abs(d3 - r3).max() <= 1e-9
    assert dtop == rtop
    # the repulsion pass is exercised: a spring-only round moves them elsewhere
    spring_only = GraphEmbedderSpark(g.edges, g.n_vertices, n_components=2, seed=11, k_inter=0.0)
    spring_only.run_layout(3)
    assert np.abs(spring_only.get_positions() - r3).max() > 1e-3


def test_driver_layout_runs_no_job_per_round(spark):
    """Construction, 5 rounds and the radial top-10 take at most 5 Spark
    jobs on the driver path, whatever the round count: the edge
    table's checkpoint-and-count, its collect, and the top-10."""
    g = generate_sbm(n_per_block=50, num_blocks=4, p_in=0.2, p_out=0.01, seed=3, spark=spark)
    job0 = max_job_id(spark)
    emb = GraphEmbedderSpark(g.edges, g.n_vertices, n_components=2, seed=11, sample_size=64)
    emb.run_layout(5)
    assert len(_top10(emb)) == 10
    assert max_job_id(spark) - job0 <= 5


def test_xxhash64_port_matches_spark(spark):
    """functions.xxhash64_np is F.xxhash64 bit for bit: (long, long) and
    (long, int literal) — the layout's edge id and its per-round sample
    key — over random longs, 0, −1 and the int64 bounds, and negative
    and 64-bit literals. Fails if a Spark upgrade changes the hash."""
    rng = np.random.default_rng(7)
    bounds = [0, -1, 1, 2**63 - 1, -(2**63)]
    a = np.concatenate([rng.integers(-(2**63), 2**63 - 1, 500, dtype=np.int64), bounds])
    b = np.concatenate([rng.integers(-(2**63), 2**63 - 1, 500, dtype=np.int64), bounds[::-1]])
    lits = [0, 42, -1, -7, 2**31 - 1, -(2**31), 2**31, -(2**40)]
    df = spark.createDataFrame([(int(x), int(y)) for x, y in zip(a, b)], "a long, b long")
    rows = df.select(
        F.xxhash64("a", "b"),
        F.xxhash64("a"),
        *[F.xxhash64("a", F.lit(v)) for v in lits],
    ).collect()
    got = np.array([list(r) for r in rows], dtype=np.int64)
    assert np.array_equal(got[:, 0], xxhash64_np(a, b))
    assert np.array_equal(got[:, 1], xxhash64_np(a))
    for i, v in enumerate(lits):
        assert np.array_equal(got[:, 2 + i], xxhash64_np(a, v)), v


def test_spectral_init_raises_on_a_failed_read(spark):
    """A Spark error while collecting the edge list raises; only a
    numpy solver error takes the reference's random init."""

    def unreadable(x):
        raise ValueError("unreadable edge row")

    bad = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long").withColumn(
        "src", F.udf(unreadable, "long")("src")
    )
    with pytest.raises(Exception, match="unreadable edge row"):
        laplacian_embedding(bad, 3, n_components=2)


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


def test_weighted_layout_unit_weights_match_unweighted(spark, k4, on_both_paths):
    """weight=1 everywhere must reproduce the unweighted layout
    bit-for-bit (the weighted magnitude is mag*1.0 — IEEE no-op)."""
    kw = dict(n_components=2, sample_size=4, seed=7)
    w1 = k4.withColumn("w", F.lit(1.0))

    def run():
        un = GraphEmbedderSpark(k4, 4, **kw)
        un.run_layout(3)
        we = GraphEmbedderSpark(w1, 4, weight_col="w", **kw)
        we.run_layout(3)
        return [{r.id: tuple(r.pos) for r in e.positions.collect()} for e in (un, we)]

    for a, b in on_both_paths(run):
        assert a == b


def test_weighted_spring_force_oracle(spark, on_both_paths):
    """One weighted update with k_inter=0 against the closed-form law:
    the reference magnitude −k_attr·(dist−L_min) scaled by the edge
    weight (embedder_pytorch.py:617-634 semantics + the weight factor
    the reference declares future work)."""
    weights = {(0, 1): 2.0, (1, 2): 0.5, (0, 2): 1.0}
    e = spark.createDataFrame(
        [(s, d, w) for (s, d), w in weights.items()],
        "src long, dst long, w double",
    )

    def run():
        emb = GraphEmbedderSpark(
            e, 3, n_components=2, weight_col="w", k_inter=0.0, seed=3
        )
        P0 = emb.get_positions()
        emb.update_positions()
        return P0, emb.get_positions()

    for P0, P1 in on_both_paths(run):
        want = _spring_step(P0, list(weights), list(weights.values()))
        assert np.allclose(P1, want, atol=1e-9)


def test_weighted_layout_duplicate_edges_sum(spark, on_both_paths):
    """Non-canonical duplicate rows (both orientations) must collapse
    to one canonical edge with the summed weight, which the spring
    law then reads."""
    dup = spark.createDataFrame(
        [(0, 1, 2.0), (1, 0, 3.0)], "src long, dst long, w double"
    )

    def run():
        emb = GraphEmbedderSpark(dup, 2, weight_col="w", sample_size=1, k_inter=0.0)
        rows = emb.edges.collect()
        assert len(rows) == 1
        assert (rows[0].src, rows[0].dst, rows[0].weight) == (0, 1, 5.0)
        P0 = emb.get_positions()
        emb.update_positions()
        return P0, emb.get_positions()

    for P0, P1 in on_both_paths(run):
        assert np.allclose(P1, _spring_step(P0, [(0, 1)], [5.0]), atol=1e-9)
