"""Spectral (Laplacian) initialization — reference E1
(``embedder_pytorch.py:337-379``): normalized Laplacian, k+1 smallest
eigenvectors, drop the trivial first; random-init fallback when the
numpy solve fails (a failed Spark read raises).

Two strategies, auto-selected by size (mirroring the reference's own
backend-selection ethos, ``utils/backend_selection.py:178-196``):

- **driver** (n ≤ DRIVER_EIG_MAX_VERTICES): collect the edge list, solve
  in numpy, parallelize the n×k result back — or, given edge arrays the
  caller already collected, return the n×k array. The solver depends
  on n:

  - n ≤ DRIVER_EXACT_MAX_VERTICES: exact. Block LOBPCG on the shifted
    operator ``2I − L``, converged to a residual of ``_LOBPCG_TOL``;
    dense ``numpy.linalg.eigh`` of L only for graphs too small for the
    LOBPCG basis, or where LOBPCG will not converge within
    ``_LOBPCG_MAX_ITERS`` rounds.
  - larger n: orthogonal iteration capped at 24 rounds — a good
    low-frequency subspace for the layout, not exact eigenvectors.

- **distributed** (larger n): orthogonal (block power) iteration on
  ``M = D^{-1/2} A D^{-1/2}`` — the top-(k+1) eigenvectors of M are the
  bottom-(k+1) of L = I − M, and the trivial one (``D^{1/2}·1``) is
  deflated analytically. Each iteration is one edges⋈positions join +
  one groupBy-sum (the Pregel aggregateMessages pattern), so the whole
  solve is shuffle-bounded and scales to billions of edges. The k×k
  re-orthonormalization Gram matrix is a single aggregate (k ≤ 4).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame, functions as F

from graphem_rapids_spark.checkpoint import eager_checkpoint, owned, persist

from graphem_rapids_spark.graph.canon import symmetrize_edges

# Largest n the driver path solves exactly. Above it the capped
# orthogonal iteration runs instead: exact convergence there costs far
# more than the layout gains (LOBPCG to a 1e-8 residual took 10 s at
# nnz = 1.6M, against 1.2 s for the 24-round cap).
DRIVER_EXACT_MAX_VERTICES = 2000

# LOBPCG block = k wanted vectors + guard vectors: convergence of the
# k-th pair runs at the gap to the first eigenvalue outside the block,
# so the guards carry it past tiny gaps (0.0008 between the 2nd and 3rd
# eigenvalue on a seeded 2,000-vertex heavy-tailed graph).
_LOBPCG_GUARD = 4
# residual ‖(2I − L)x − θx‖ of each wanted unit Ritz vector at exit
_LOBPCG_TOL = 1e-9
# round cap before falling back to the dense eigh: seeded heavy-tailed
# 2,000-vertex graphs converge in 42-86 rounds and a 44×44 grid in 162,
# while paths (eigengaps ~1e-6 at n = 2000) need 650-1,500.
_LOBPCG_MAX_ITERS = 300
# every this many rounds the solve projects, from the residual drop over
# the last window, the round it would converge at, and falls back to the
# dense eigh at once when that passes the cap: paths of 500-2,000
# vertices leave after 40-60 rounds (0.1-0.2 s) instead of 300
_LOBPCG_WINDOW = 20


def laplacian_embedding(
    edges: DataFrame | tuple[np.ndarray, np.ndarray],
    n_vertices: int,
    n_components: int = 2,
    seed: int = 0,
    assume_canonical: bool = False,
) -> DataFrame | np.ndarray:
    """positions(id, pos: array<double>) from the spectral embedding.

    ``assume_canonical=True`` promises src<dst distinct edges (the
    embedder's contract for ``self.edges``), letting the driver path
    skip its O(nnz log nnz) dedupe sort — the collect is ordered on
    the cluster instead, so the summation order (hence every float)
    stays deterministic across core counts.

    ``edges`` may instead be the ``(src, dst)`` int64 arrays already
    collected to the driver, sorted by (src, dst) when canonical: the
    driver solve then runs on them and returns the n×k array (the
    embedder's driver layout)."""
    if isinstance(edges, tuple):
        return _driver_solve(*edges, n_vertices, n_components, seed, assume_canonical)
    from graphem_rapids_spark import session

    if n_vertices <= session.DRIVER_EIG_MAX_VERTICES:
        return _driver_eigh(
            edges, n_vertices, n_components, seed, assume_canonical
        )
    return _distributed_orthogonal_iteration(edges, n_vertices, n_components, seed)


def positions_frame(spark, pos: np.ndarray) -> DataFrame:
    """positions(id, pos) of the n×k array ``pos``, row i = vertex i.

    Plain Python ints/floats (not numpy scalars/arrays): the row-wise
    createDataFrame verifier (taken when Arrow conversion is disabled)
    rejects numpy.float64 inside array<double>. ``.tolist()`` converts
    both the container and every element, so the same frame works with
    Arrow on AND off."""
    import pandas as pd

    out = pd.DataFrame(
        {"id": list(range(pos.shape[0])), "pos": pos.tolist()}, dtype=object
    )
    return spark.createDataFrame(out, "id long, pos array<double>")


def _driver_eigh(
    edges: DataFrame, n: int, k: int, seed: int, assume_canonical: bool = False
) -> DataFrame:
    """Driver-side eigensolve — the reference's own strategy
    (``embedder_pytorch.py:337-379`` collects to the driver regardless
    of size): collect the edge list, :func:`_driver_solve`, ship the
    n×k result back. A failed collect raises."""
    sel = edges.select("src", "dst")
    if assume_canonical:
        # caller guarantees src<dst distinct: no dedupe needed. A
        # cluster-side total order replaces the driver-side
        # O(nnz log nnz) unique sort (measured 1.1 s of the 3.2 s
        # eigensolve at nnz=2.4M), keeping the mirror-sum order —
        # hence every float — deterministic across core counts.
        sel = sel.orderBy("src", "dst")
    # Arrow collect → numpy; combine_chunks first so the conversion is
    # one C-level concat instead of a per-chunk flatten (255 collect
    # batches at bench scale)
    tbl = sel.toArrow().combine_chunks()
    src, dst = (
        tbl.column(c).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        for c in ("src", "dst")
    )
    emb = _driver_solve(src, dst, n, k, seed, assume_canonical)
    return positions_frame(edges.sparkSession, emb)


def _driver_solve(
    src: np.ndarray, dst: np.ndarray, n: int, k: int, seed: int, assume_canonical: bool
) -> np.ndarray:
    """The n×k spectral embedding of the (src, dst) edge list in numpy
    (scipy is not a dependency), on the normalized Laplacian with
    L_ii = 0 on isolated rows:

    - n ≤ DRIVER_EXACT_MAX_VERTICES: exact bottom nontrivial
      eigenvectors — block LOBPCG (:func:`_numpy_lobpcg`), or dense
      ``eigh`` where the LOBPCG basis does not fit (tiny graphs);
    - larger n: :func:`_numpy_orthogonal_iteration`, a capped block
      power iteration.

    All three share the sign canonicalization below. A numpy solver
    error (``LinAlgError``) takes the reference's random init."""
    rows = np.concatenate([src, dst])
    cols = np.concatenate([dst, src])
    if rows.size and (rows.min() < 0 or rows.max() >= n):
        raise ValueError(f"edge endpoints must be vertex ids in [0, {n})")
    if not assume_canonical:
        # dedupe multi-edges via pair codes (n ≤ 1e6 → no overflow)
        code = np.unique(rows * np.int64(n) + cols)
        rows, cols = code // n, code % n
    deg = np.bincount(rows, minlength=n).astype(np.float64)
    try:
        if n > DRIVER_EXACT_MAX_VERTICES:
            emb = _numpy_orthogonal_iteration(rows, cols, deg, n, k, seed)
        else:
            emb = _numpy_lobpcg(rows, cols, deg, n, k, seed)
            if emb is None:
                emb = _dense_eigh(rows, cols, deg, n, k)
    except np.linalg.LinAlgError:
        # reference fallback: 0.1 * randn (embedder_pytorch.py:366-369)
        rng = np.random.default_rng(seed)
        return rng.standard_normal((n, k)) * 0.1
    if emb.shape[1] < k:  # degenerate tiny graphs: pad with zeros
        emb = np.hstack([emb, np.zeros((n, k - emb.shape[1]))])
    # sign canonicalization so the embedding is deterministic
    # (eig sign is arbitrary; layout is reflection-invariant anyway)
    signs = np.sign(emb[np.abs(emb).argmax(axis=0), np.arange(emb.shape[1])])
    signs[signs == 0] = 1.0
    return emb * signs


def _dinv(deg: np.ndarray) -> np.ndarray:
    """D^{-1/2}, 0 on isolated rows."""
    with np.errstate(divide="ignore"):
        return np.where(deg > 0, 1.0 / np.sqrt(np.maximum(deg, 1e-300)), 0.0)


def _dense_eigh(
    rows: np.ndarray, cols: np.ndarray, deg: np.ndarray, n: int, k: int
) -> np.ndarray:
    """Bottom k nontrivial eigenvectors of L by dense ``eigh`` — O(n³)."""
    A = np.zeros((n, n))
    A[rows, cols] = 1.0
    dinv = _dinv(deg)
    L = -A * dinv[:, None] * dinv[None, :]
    np.fill_diagonal(L, np.where(deg > 0, 1.0, 0.0))
    vals, vecs = np.linalg.eigh(L)
    return vecs[:, np.argsort(vals)[1 : k + 1]]


@contextmanager
def _shifted_adjacency(
    rows: np.ndarray, cols: np.ndarray, deg: np.ndarray, n: int, width: int
):
    """Yield ``matvec(X) = (M + I)·X`` for X of at most ``width``
    columns, M = D^{-1/2} A D^{-1/2} given as the symmetric (rows, cols)
    pair list: one gather-multiply and one bincount per column."""
    dinv = _dinv(deg)
    w = dinv[rows] * dinv[cols]
    bufs = [np.empty(rows.shape[0]) for _ in range(width)]

    def _col(args) -> None:
        # per-column gather+multiply into a preallocated buffer: the
        # broadcast form (w[:,None] * X[rows,:]) materializes an
        # (nnz, k) temporary per call — measured 147 -> 34 ms/matvec
        # at nnz=2.4M. Columns are independent, so running them on a
        # small thread pool (numpy's multiply/bincount release the GIL
        # for most of their work) is bit-identical per column.
        d, X, Y = args
        np.multiply(w, X[rows, d], out=bufs[d])
        Y[:, d] = np.bincount(cols, weights=bufs[d], minlength=n)

    def matvec(X: np.ndarray) -> np.ndarray:
        Y = np.empty_like(X)
        list(pool.map(_col, [(d, X, Y) for d in range(X.shape[1])]))
        Y += X  # shift by +I
        return Y

    pool = ThreadPoolExecutor(max_workers=max(width, 1))
    try:
        yield matvec
    finally:
        pool.shutdown(wait=False)


def _numpy_orthogonal_iteration(
    rows: np.ndarray,
    cols: np.ndarray,
    deg: np.ndarray,
    n: int,
    k: int,
    seed: int,
    iters: int = 24,
) -> np.ndarray:
    """Top-k nontrivial eigenvectors of M = D^{-1/2} A D^{-1/2} via
    block power iteration on M + I (spectrum [0,2] — keeps the
    negative end of M from winning, which ``which='SM'`` semantics
    require). One bincount per component per iteration.

    ``iters=24`` is a deliberate cap: real graphs have tiny eigengaps
    here, so exact convergence is unreachable by power iteration
    anyway, and the force layout only needs a good low-frequency
    subspace as its starting point (the reference itself falls back to
    *random* init when eigsh fails, ``embedder_pytorch.py:366-369``)."""
    two_m = deg.sum()
    v0 = np.sqrt(deg / max(two_m, 1.0))  # trivial eigenvector of M

    with _shifted_adjacency(rows, cols, deg, n, k) as matvec:
        rng = np.random.default_rng(seed)
        X = rng.standard_normal((n, k))
        X -= v0[:, None] * (v0 @ X)
        X, _ = np.linalg.qr(X)
        prev_ritz = None
        for it in range(iters):
            Y = matvec(X)
            Y -= v0[:, None] * (v0 @ Y)  # deflate the trivial direction
            Q, R = np.linalg.qr(Y)
            sgn = np.sign(np.diag(R))
            sgn[sgn == 0] = 1.0
            X = Q * sgn
            # convergence check every 6 rounds, free of extra matvecs:
            # |diag(R)| → the eigenvalues as orthogonal iteration converges
            # (layout init needs a good subspace, not 1e-12 eigsh)
            if (it + 1) % 6 == 0:
                ritz = np.sort(np.abs(np.diag(R)))
                if prev_ritz is not None and np.max(np.abs(ritz - prev_ritz)) < 1e-5:
                    break
                prev_ritz = ritz
        # Rayleigh–Ritz: rotate to eigenvector approximations, order by
        # eigenvalue of M' descending = eigenvalue of L ascending
        T = X.T @ matvec(X)
    tvals, tvecs = np.linalg.eigh((T + T.T) / 2.0)
    return X @ tvecs[:, np.argsort(-tvals)]


def _numpy_lobpcg(
    rows: np.ndarray,
    cols: np.ndarray,
    deg: np.ndarray,
    n: int,
    k: int,
    seed: int,
) -> np.ndarray | None:
    """Bottom k nontrivial eigenvectors of L, exact to ``_LOBPCG_TOL``:
    block LOBPCG (Knyazev 2001) for the top of B = 2I − L, which is
    M + I on non-isolated rows and 2 on isolated ones (L_ii = 0, as in
    :func:`_dense_eigh`). The trivial eigenvector D^{1/2}·1 of B is a
    hard constraint, so the block never spends a vector on it.

    Each round is one Rayleigh–Ritz step over [X, W, P] (Ritz vectors,
    residuals, previous search directions), with [W, P] orthonormalized
    against X and D^{1/2}·1, and one matvec of [W, P]. Returns None
    when the basis cannot fit n (scipy's ``lobpcg`` rule: n − 1
    constraints ≥ 5 × block) or the solve will not converge within
    ``_LOBPCG_MAX_ITERS`` rounds at its current rate — the caller then
    takes the dense ``eigh``."""
    b = k + _LOBPCG_GUARD
    if n - 1 < 5 * b:
        return None
    v0 = np.sqrt(deg / max(deg.sum(), 1.0))  # trivial eigenvector of B
    iso = deg == 0

    def orthonormal(Y: np.ndarray, Q: np.ndarray) -> np.ndarray:
        # two rounds of block Gram–Schmidt against the orthonormal Q,
        # each followed by SVQB (Stathopoulos & Wu 2002) on unit-scaled
        # columns, so tiny residuals keep their directions; directions
        # whose Gram eigenvalue falls below 1e-14 of the largest are
        # numerically dependent and dropped
        for _ in range(2):
            Y = Y - Q @ (Q.T @ Y)
            Y = Y / np.maximum(np.linalg.norm(Y, axis=0), 1e-300)
            s, U = np.linalg.eigh(Y.T @ Y)
            keep = s > 1e-14 * s.max(initial=0.0)
            Y = Y @ (U[:, keep] / np.sqrt(s[keep]))
        return Y

    with _shifted_adjacency(rows, cols, deg, n, 2 * b) as shifted:

        def apply(Y: np.ndarray) -> np.ndarray:
            Z = shifted(Y)
            Z[iso] += Y[iso]
            return Z

        rng = np.random.default_rng(seed)
        S = orthonormal(rng.standard_normal((n, b)), v0[:, None])
        AS = apply(S)
        best = []  # lowest wanted residual after each round
        for it in range(_LOBPCG_MAX_ITERS):
            T = S.T @ AS
            theta, C = np.linalg.eigh((T + T.T) / 2.0)
            C = C[:, ::-1][:, :b]  # top b: B descending = L ascending
            X, AX = S @ C, AS @ C
            R = AX - X * theta[::-1][:b]
            res = np.linalg.norm(R[:, :k], axis=0).max()
            if res < _LOBPCG_TOL:
                return X[:, :k]
            best.append(min(res, best[-1]) if best else res)
            if it and it % _LOBPCG_WINDOW == 0:
                # decades gained per round over the last window
                rate = np.log10(best[-1 - _LOBPCG_WINDOW] / best[-1]) / _LOBPCG_WINDOW
                left = np.log10(best[-1] / _LOBPCG_TOL) / rate if rate > 0 else np.inf
                if it + left > _LOBPCG_MAX_ITERS:
                    return None
            P = S[:, b:] @ C[b:]  # the step taken outside the old Ritz block
            Z = orthonormal(np.hstack([R, P]), np.hstack([v0[:, None], X]))
            S, AS = np.hstack([X, Z]), np.hstack([AX, apply(Z)])
    return None


def _matvec_normalized_adjacency(sym_edges: DataFrame, deg: DataFrame, X: DataFrame, k: int) -> DataFrame:
    """Y = M·X with M = D^{-1/2} A D^{-1/2}; X is positions(id,pos).

    One join to gather neighbor values, one hash-agg to scatter-sum —
    per-component sums (k small) keep everything in whole-stage codegen.
    """
    xs = X.join(deg, "id").select(
        F.col("id"),
        F.transform("pos", lambda v: v * F.col("dinv")).alias("scaled"),
    )
    msgs = sym_edges.join(xs.withColumnRenamed("id", "src"), "src").select(
        F.col("dst").alias("id"), "scaled"
    )
    agg = msgs.groupBy("id").agg(
        *[F.sum(F.col("scaled").getItem(d)).alias(f"s{d}") for d in range(k)]
    )
    return (
        agg.join(deg, "id")
        .select(
            "id",
            F.array(*[F.col(f"s{d}") * F.col("dinv") for d in range(k)]).alias("pos"),
        )
    )


@owned
def _distributed_orthogonal_iteration(
    edges: DataFrame, n: int, n_components: int, seed: int, iters: int = 30
) -> DataFrame:
    """Block power iteration with analytic deflation of the trivial
    eigenvector v0 ∝ D^{1/2}·1 of M = D^{-1/2} A D^{-1/2}."""
    spark = edges.sparkSession
    k = n_components
    sym = persist(symmetrize_edges(edges))
    deg = persist(
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("degree"))
        .select(
            "id",
            F.col("degree").cast("double").alias("degree"),
            (1.0 / F.sqrt(F.col("degree").cast("double"))).alias("dinv"),
        )
    )
    two_m = deg.agg(F.sum("degree")).first()[0] or 1.0

    # deterministic hash-random init
    X = spark.range(n).select(
        F.col("id").cast("long"),
        F.array(
            *[
                (
                    F.pmod(F.xxhash64("id", F.lit(seed * 100 + d)), F.lit(1 << 30)).cast("double")
                    / F.lit(float(1 << 29))
                    - 1.0
                )
                for d in range(k)
            ]
        ).alias("pos"),
    )
    # isolated vertices (deg null) contribute nothing; keep them at 0
    X = persist(X.join(deg.select("id"), "id", "left_semi"))

    for it in range(iters):
        Y = _matvec_normalized_adjacency(sym, deg, X, k)
        # materialize each iteration: the two scalar aggregates below
        # would otherwise replay the whole lineage chain per action
        Y = Y.transform(eager_checkpoint)
        # deflate v0: y_d -= (v0·y_d) v0, v0_i = sqrt(d_i / 2m)
        yd = Y.join(deg, "id")
        dots = yd.agg(
            *[
                F.sum(F.sqrt(F.col("degree") / two_m) * F.col("pos").getItem(d)).alias(f"c{d}")
                for d in range(k)
            ]
        ).first()
        Y = (
            Y.join(deg, "id")
            .select(
                "id",
                F.array(
                    *[
                        F.col("pos").getItem(d)
                        - F.lit(float(dots[f"c{d}"])) * F.sqrt(F.col("degree") / two_m)
                        for d in range(k)
                    ]
                ).alias("pos"),
            )
        )
        # Gram matrix G = Y^T Y (k×k) in one aggregate, then driver-side
        # inverse Cholesky → Y := Y·R^{-1} (tall-skinny QR)
        gram_row = Y.agg(
            *[
                F.sum(F.col("pos").getItem(a) * F.col("pos").getItem(b)).alias(f"g{a}_{b}")
                for a in range(k)
                for b in range(a, k)
            ]
        ).first()
        G = np.zeros((k, k))
        for a in range(k):
            for b in range(a, k):
                G[a, b] = G[b, a] = float(gram_row[f"g{a}_{b}"])
        try:
            R = np.linalg.cholesky(G + 1e-12 * np.eye(k)).T
            Rinv = np.linalg.inv(R)
        except np.linalg.LinAlgError:
            Rinv = np.eye(k)
        newX = Y.select(
            "id",
            F.array(
                *[
                    sum(
                        (F.col("pos").getItem(a) * float(Rinv[a, d]) for a in range(k)),
                        F.lit(0.0),
                    )
                    for d in range(k)
                ]
            ).alias("pos"),
        )
        # newX is a cheap projection over the checkpointed Y; the next
        # iteration's checkpoint (or the caller's first action)
        # materializes it without lineage growth
        X = newX

    # parity with the driver path: isolated vertices (left-semi-dropped
    # before the matvecs — they contribute nothing) re-enter at the
    # origin, so the output always has exactly n rows
    full = spark.range(n).select(F.col("id").cast("long"))
    zero = F.array(*[F.lit(0.0) for _ in range(k)])
    return full.join(X, "id", "left").select(
        "id", F.coalesce("pos", zero).alias("pos")
    )
