"""Force-directed graph embedder — the reference's core "query engine"
(E2–E14, ``backends/embedder_pytorch.py``), re-expressed as DataFrame
dataflow (small graphs run the same round in numpy, below):

- gather-by-index → equi-join edges⋈positions (broadcast when small)
- scatter-add     → groupBy(id) hash aggregate with per-component sums
- topk            → row_number window over distance
- normalization   → global agg (mean, stddev_samp), applied as literals

Semantics preserved exactly (SURVEY.md §7.4 item 5):
- spring law ``F = -k_attr·(dist−L_min)·unit(p2−p1)`` with +1e-6 on
  the norm, applied +F to src / −F to dst (``embedder_pytorch.py:617-634``)
- midpoint sampling of ``sample_size`` edges (``:401-413``)
- kNN k+1 with self dropped (``:417-421``; we drop self by edge id —
  deterministic under distance ties, same semantics)
- candidate pairs kept when sampled_edge_id < neighbor_edge_id (``:672``)
- shared-vertex 4-way OR exclusion (``:683-699``)
- 2-D orientation segment-intersection test using ONLY the first two
  coordinates even for 3-D embeddings (``:738-774`` — replicated, not
  "fixed")
- repulsion from the 4-endpoint midpoint ``k_inter·diff/dist²``
  (``:723-734``), scatter-added per endpoint
- update + center + divide by per-dim sample std + 1e-6 (``:795-804``)

Two strategies, chosen once in the constructor after one job that
materializes and counts the canonical edge table:

- **driver** (``n_edges ≤ session.DRIVER_COLLECT_MAX_ROWS`` and
  ``n ≤ session.DRIVER_EIG_MAX_VERTICES``, read at construction):
  the edge table is collected once through Arrow and the spectral
  init and every layout round run in numpy on the driver, the
  reference's own single-device form. Positions are an n×d array;
  each round is :meth:`GraphEmbedderSpark._driver_round`, the same
  steps in the same order as the Spark expressions below, with the
  same sample (:func:`functions.xxhash64_np` is Spark's hash) and the
  same kNN kernel (:func:`sweep_topk`). A round runs no Spark job;
  :attr:`GraphEmbedderSpark.positions` ships the array back as one
  frame per round, on demand. Per-vertex force sums add in a
  different order than Spark's hash aggregate, so the two paths agree
  to rounding (~1e-12 after a few rounds), not bit for bit.
- **distributed** (larger graphs): positions are a DataFrame and each
  round is a join/aggregate dataflow, one :func:`checkpoint.iterate`
  round (the Pregel problem, SURVEY.md §4). Its state is the moved,
  unnormalized positions, lazily checkpointed; the centring/scaling
  aggregate is its one full scan, after which the previous state and
  the midpoint table are released. Positions are the state normalized
  by the collected stats, so the edge table and the state are all the
  embedder keeps cached.

Scale notes (distributed path): positions are n×(d+1) doubles —
broadcast-joined while n ≤ ``session.BROADCAST_POSITIONS_MAX`` (the
iterative kernels' one vertex-table rule); edge joins otherwise
shuffle on id with AQE handling skew. The kNN side is bounded by
``sample_size ≤ 1024`` queries regardless of graph size, exactly like
the reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphem_rapids_spark import session
from graphem_rapids_spark.analytics import _vertex_table_fits_broadcast
from graphem_rapids_spark.checkpoint import (
    checkpoint_count,
    # unused here, but bound by name: perfbench's tracer rewraps this
    # module's checkpoint functions and its tests read the binding
    eager_checkpoint,  # noqa: F401
    iterate,
    lazy_checkpoint,
    persist,
    release,
)

from graphem_rapids_spark.embedding.laplacian import laplacian_embedding, positions_frame
from graphem_rapids_spark.functions import xxhash64_np
from graphem_rapids_spark.graph.canon import canonicalize_edges
from graphem_rapids_spark.graph.generators import SparkGraph

_EPS = 1e-6


def sweep_topk(
    queries: np.ndarray, points: np.ndarray, ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact k nearest ``points`` (rows) of every ``queries`` row by
    squared euclidean distance, ties broken by ``ids``: ``(rows, d2)``,
    each (n_queries, min(k, n_points)), sorted by (d2, id) per query.

    Sorted sweep: the points are sorted once by coordinate 0, and each
    query sweeps outward from its insertion slot in geometrically
    growing chunks, with the running k-th-best distance as the window
    bound — a point whose coordinate-0 gap squared already exceeds it
    cannot enter the top-k (d2 ≥ gap²). Midpoints are low-dimensional
    layout points, so a query examines a small slice; memory stays
    linear in the points (no queries × points matrix). Per-element d2
    is summed dimension by dimension in index order, the same floats
    as the matrix form, and the kept set is the k smallest by
    (d2, id) lexicographic — deterministic, and a superset-proof
    partial for a later (d2, id) merge across partitions."""
    n_points, n_dims = points.shape
    n_q = queries.shape[0]
    kk = min(k, n_points)
    out_i = np.empty((n_q, kk), dtype=np.int64)
    out_d = np.empty((n_q, kk))
    if kk == 0:
        return out_i, out_d
    order = np.argsort(points[:, 0], kind="stable")
    Ms = points[order]
    ids_s = ids[order]
    key = np.ascontiguousarray(Ms[:, 0])
    empty_d = np.empty(0)
    empty_s = np.empty(0, dtype=np.int64)
    for qi in range(n_q):
        q = queries[qi]
        q0 = q[0]
        lo = hi = int(np.searchsorted(key, q0))
        cand_d, cand_s = empty_d, empty_s  # cand_s: slots in sorted order
        # geometric window growth: small first probe (the top-k bound
        # usually lands within a few hundred neighbors by coordinate
        # 0), doubling while the bound stays unmet
        chunk = 512
        while lo > 0 or hi < n_points:
            lg = (q0 - key[lo - 1]) ** 2 if lo > 0 else np.inf
            rg = (key[hi] - q0) ** 2 if hi < n_points else np.inf
            if cand_d.shape[0] >= kk:
                bound = cand_d[-1]
                if lg > bound and rg > bound:
                    break
            if rg <= lg:
                start, stop = hi, min(n_points, hi + chunk)
                hi = stop
            else:
                start, stop = max(0, lo - chunk), lo
                lo = start
            chunk *= 2
            d2b = (Ms[start:stop, 0] - q0) ** 2
            for d in range(1, n_dims):
                d2b += (Ms[start:stop, d] - q[d]) ** 2
            cd = np.concatenate([cand_d, d2b])
            cs = np.concatenate([cand_s, np.arange(start, stop)])
            sel = np.lexsort((ids_s[cs], cd))[:kk]
            cand_d, cand_s = cd[sel], cs[sel]
        out_d[qi] = cand_d
        out_i[qi] = order[cand_s]
    return out_i, out_d


def _orient(ax, ay, bx, by, cx, cy):
    """2-D orientation determinant (:738-774); Column or array operands."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _sq_norm(parts):
    """Σ x² over ``parts`` in index order (the Spark expression's order)."""
    out = parts[0] * parts[0]
    for x in parts[1:]:
        out = out + x * x
    return out


class GraphEmbedderSpark:
    """Constructor parameters mirror the reference
    (``embedder_pytorch.py:51-67``); device/dtype/memory knobs are
    obsolete under Spark and intentionally absent."""

    def __init__(
        self,
        edges: DataFrame,
        n_vertices: int,
        n_components: int = 2,
        L_min: float = 1.0,
        k_attr: float = 0.2,
        k_inter: float = 0.5,
        n_neighbors: int = 10,
        sample_size: int = 256,
        seed: int = 0,
        verbose: bool = False,
        canonical: bool = False,
        weight_col: str | None = None,
    ):
        if n_vertices <= 0:
            raise ValueError("graph must be non-empty")
        if n_components <= 0:
            raise ValueError("n_components must be positive")
        if k_attr < 0 or k_inter < 0:
            raise ValueError("force constants must be non-negative")
        self.n = n_vertices
        self.dim = n_components
        self.L_min = L_min
        self.k_attr = k_attr
        self.k_inter = k_inter
        self.n_neighbors = n_neighbors
        self.sample_size = sample_size
        self.seed = seed
        self.verbose = verbose
        self._iter = 0

        # edge_id = hash of the canonical pair: deterministic, no
        # global sort (the reference's implicit array index).
        # canonical=True skips the dedupe shuffle when the caller
        # guarantees src<dst distinct edges (generators, relabel).
        # weight_col: weighted spring layout — the reference declares
        # edge weights future work (SURVEY §1.2); spring magnitude
        # scales by the (canonicalized, duplicate-summed) weight while
        # the repulsion/kNN machinery is weight-agnostic.
        self.weighted = weight_col is not None
        if self.weighted:
            w = F.col(weight_col).cast("double").alias("weight")
            if canonical:
                base_edges = edges.select("src", "dst", w)
            else:
                base_edges = (
                    edges.select(
                        F.least("src", "dst").cast("long").alias("src"),
                        F.greatest("src", "dst").cast("long").alias("dst"),
                        w,
                    )
                    .filter(F.col("src") < F.col("dst"))
                    .groupBy("src", "dst")
                    .agg(F.sum("weight").alias("weight"))
                )
            cols = ["src", "dst", "weight"]
        else:
            base_edges = edges if canonical else canonicalize_edges(edges)
            cols = ["src", "dst"]
        # row checkpoint, not .persist(): the columnar cache build pays
        # a compression-encoder pass per column (~10-25 µs/row) that a
        # full-table-scanning consumer never earns back (see
        # checkpoint.eager_materialize); one job writes it and counts
        self.edges, self.n_edges = checkpoint_count(
            base_edges.select(*cols).withColumn(
                "edge_id", F.xxhash64("src", "dst")
            ),
            sever_stats=False,
        )
        self._driver = (
            self.n_edges <= session.DRIVER_COLLECT_MAX_ROWS
            and self.n <= session.DRIVER_EIG_MAX_VERTICES
        )
        if self._driver:
            self._init_driver(cols)
            return
        # the round state :func:`iterate` carries and releases: the
        # persisted init, then each round's checkpointed `moved`
        self._state = self._positions = persist(laplacian_embedding(
            self.edges, self.n, self.dim, seed=self.seed,
            # self.edges is src<dst distinct by construction (canonical
            # contract or the canonicalize/groupBy above): the driver
            # eigensolve can skip its dedupe sort
            assume_canonical=True,
        ))

    def _init_driver(self, cols: list[str]) -> None:
        """Driver path set-up: collect the edge table once, in the
        (src, dst) order the spectral collect sorts by on the cluster
        (so the init is the same floats), and solve the init on it."""
        tbl = self.edges.toArrow().combine_chunks()
        arr = {
            c: tbl.column(c).to_numpy(zero_copy_only=False)
            for c in (*cols, "edge_id")
        }
        order = np.lexsort((arr["dst"], arr["src"]))
        self._src = arr["src"].astype(np.int64)[order]
        self._dst = arr["dst"].astype(np.int64)[order]
        self._eid = arr["edge_id"].astype(np.int64)[order]
        self._w = arr["weight"].astype(np.float64)[order] if self.weighted else None
        self._P = laplacian_embedding(
            (self._src, self._dst), self.n, self.dim, seed=self.seed,
            assume_canonical=True,
        )
        self._pos_frame: DataFrame | None = None

    # -- position access (E14) ------------------------------------------
    @property
    def positions(self) -> DataFrame:
        """(id, pos) — on the driver path one frame per round, built on
        first use."""
        if not self._driver:
            return self._positions
        if self._pos_frame is None:
            self._pos_frame = positions_frame(self.edges.sparkSession, self._P)
        return self._pos_frame

    def get_positions(self) -> np.ndarray:
        if self._driver:
            return self._P.copy()
        rows = self._positions.orderBy("id").collect()
        out = np.zeros((self.n, self.dim))
        for r in rows:
            out[r.id] = r.pos
        return out

    # -- internals -------------------------------------------------------
    def _pos_as(self, alias_id: str, alias_pos: str) -> DataFrame:
        p = self._positions.select(
            F.col("id").alias(alias_id), F.col("pos").alias(alias_pos)
        )
        return F.broadcast(p) if _vertex_table_fits_broadcast(self.n) else p

    def _edge_endpoints(self) -> DataFrame:
        """edges with both endpoint positions gathered (E2/E3 join)."""
        return self.edges.join(self._pos_as("src", "p1"), "src").join(
            self._pos_as("dst", "p2"), "dst"
        )

    @staticmethod
    def _norm(arr_expr):
        return F.sqrt(
            F.aggregate(arr_expr, F.lit(0.0), lambda a, v: a + v * v)
        )

    def _spring_contribs(self, ee: DataFrame) -> DataFrame:
        """Per-edge ±force rows (id, f0..fd-1) — E2.

        Unrolled scalar arithmetic (dim is 2–3): stays inside
        whole-stage codegen, no per-row array allocation."""
        dims = range(self.dim)
        d = ee
        for i in dims:
            d = d.withColumn(
                f"_df{i}", F.col("p2").getItem(i) - F.col("p1").getItem(i)
            )
        dist = F.sqrt(_sq_norm([F.col(f"_df{i}") for i in dims]))
        d = d.withColumn("_dist", dist + F.lit(_EPS))
        mag = F.lit(-self.k_attr) * (F.col("_dist") - F.lit(self.L_min))
        if self.weighted:  # heavier edges pull proportionally harder
            mag = mag * F.col("weight")
        d = d.withColumn("_mag", mag)
        return d.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("id"),
                        *[
                            (F.col("_mag") * F.col(f"_df{i}") / F.col("_dist")).alias(
                                f"f{i}"
                            )
                            for i in dims
                        ],
                    ),
                    F.struct(
                        F.col("dst").alias("id"),
                        *[
                            (-F.col("_mag") * F.col(f"_df{i}") / F.col("_dist")).alias(
                                f"f{i}"
                            )
                            for i in dims
                        ],
                    ),
                )
            ).alias("c")
        ).select("c.*")

    def _intersection_contribs(self, ee: DataFrame) -> DataFrame:
        """Per-endpoint repulsion rows (id, f0..) from crossing edge
        pairs (E3–E11). ``ee`` = edges with endpoint positions.

        kNN strategy (E5, scale-first): the ≤``sample_size`` query
        midpoints are collected to the driver (they are the reference's
        own bounded sample), every partition of the full midpoint table
        computes its partial top-k against all queries in one
        vectorized numpy batch (``mapInPandas``), and the global top-k
        merges the tiny partials (s·(k+1) rows per partition). No
        window over the full cross product, no 100M-row shuffle — this
        survives a 100× scale-up because per-partition output is
        constant."""
        spark = ee.sparkSession
        dims = range(self.dim)
        mids = ee.select(
            "edge_id",
            "src",
            "dst",
            "p1",
            "p2",
            *(["weight"] if self.weighted else []),  # spring pass reads cache
            *[
                ((F.col("p1").getItem(i) + F.col("p2").getItem(i)) / 2.0).alias(
                    f"m{i}"
                )
                for i in dims
            ],
        )
        # materialize the gather join once (row checkpoint — the
        # columnar cache build on this wide array-bearing table cost
        # multiple CPU-seconds per iteration); the kNN pass, the pair
        # join and the spring pass then all read the materialized rows.
        # LAZY (r8 opt round): the per-iteration sample right below is
        # a TakeOrdered over this table — a full scan of every
        # partition — so it materializes the checkpoint blocks itself
        # and the dedicated materialization job folds away.
        mids = lazy_checkpoint(mids, sever_stats=False)
        s = min(self.sample_size, self.n_edges)
        # sample the ≤s query edges straight from the MATERIALIZED
        # midpoint checkpoint (r8 opt round): it already carries
        # edge_id/src/dst/p1/p2/m* for every edge, so the per-iteration
        # top-s by hash is ONE TakeOrdered scan of the checkpointed
        # blocks — the former path re-scanned the raw edge list and
        # re-gathered positions through two more broadcast joins (~5
        # AQE jobs per iteration for the same 128 rows). Same sample:
        # identical xxhash64(edge_id) keys over the identical edge-id
        # set (every edge survives the contiguous-relabel position
        # joins), identical midpoint doubles (same expressions over the
        # same inputs).
        sampled_rows = (
            mids.orderBy(F.xxhash64("edge_id", F.lit(self.seed + self._iter)))
            .limit(s)
            .select(
                "edge_id", "src", "dst", "p1", "p2", *[f"m{i}" for i in dims]
            )
            .collect()
        )
        q_ids = np.array([r.edge_id for r in sampled_rows], dtype=np.int64)
        q_mid = np.array(
            [[r[f"m{i}"] for i in dims] for r in sampled_rows], dtype=np.float64
        )
        kk = self.n_neighbors + 1  # keep k+1, self dropped below (ref :417-421)

        mcols = [f"m{i}" for i in dims]

        def partial_topk(batches):
            import pandas as pd

            es, ms = [], []
            for pdf in batches:
                es.append(pdf["edge_id"].to_numpy(dtype=np.int64))
                ms.append(
                    np.column_stack(
                        [pdf[c].to_numpy(dtype=np.float64) for c in mcols]
                    )
                )
            if not es:
                return
            E = np.concatenate(es)
            rows, d2 = sweep_topk(q_mid, np.vstack(ms), E, kk)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(q_ids, rows.shape[1]),
                    "edge_id": E[rows].reshape(-1),
                    "_d2": d2.reshape(-1),
                }
            )

        partials = mids.select("edge_id", *mcols).mapInPandas(
            partial_topk, "qid long, edge_id long, _d2 double"
        )
        # global top-k merge: the distributed window over the tiny
        # partials (s·(k+1) rows per partition). A driver-side numpy
        # merge was A/B-tested in the r8 opt round and REJECTED: the
        # per-iteration toPandas + createDataFrame py4j round-trips
        # cost more than the window exchange they replaced (measured
        # 25-30 s vs 10-14 s warm on the flagship at sf0.1).
        w = Window.partitionBy("qid").orderBy(
            F.col("_d2").asc(), F.col("edge_id").asc()
        )
        topk = (
            partials.filter(F.col("edge_id") != F.col("qid"))
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= self.n_neighbors)
        )
        # rehydrate neighbor-edge endpoints (broadcast the tiny top-k)
        qinfo = spark.createDataFrame(
            [
                (
                    int(r.edge_id),
                    int(r.src),
                    int(r.dst),
                    list(r.p1),
                    list(r.p2),
                )
                for r in sampled_rows
            ],
            "qid long, qa long, qb long, qp1 array<double>, qp2 array<double>",
        )
        pairs = (
            mids.join(F.broadcast(topk), "edge_id")
            .join(F.broadcast(qinfo), "qid")
            # candidate filter i<j on edge ids (embedder_pytorch.py:672)
            .filter(F.col("qid") < F.col("edge_id"))
            # shared-vertex exclusion (4-way OR, :683-699)
            .filter(
                ~(
                    (F.col("qa") == F.col("src"))
                    | (F.col("qa") == F.col("dst"))
                    | (F.col("qb") == F.col("src"))
                    | (F.col("qb") == F.col("dst"))
                )
            )
        )

        # 2-D orientation intersection test (:738-774) — coords 0,1 only
        px, py = F.col("qp1").getItem(0), F.col("qp1").getItem(1)
        p2x, p2y = F.col("qp2").getItem(0), F.col("qp2").getItem(1)
        qx, qy = F.col("p1").getItem(0), F.col("p1").getItem(1)
        q2x, q2y = F.col("p2").getItem(0), F.col("p2").getItem(1)
        o1 = _orient(px, py, p2x, p2y, qx, qy)
        o2 = _orient(px, py, p2x, p2y, q2x, q2y)
        o3 = _orient(qx, qy, q2x, q2y, px, py)
        o4 = _orient(qx, qy, q2x, q2y, p2x, p2y)
        crossing = pairs.filter((o1 * o2 < 0) & (o3 * o4 < 0))

        # repulsion from 4-endpoint midpoint (:723-734)
        m = F.expr(
            "zip_with(zip_with(qp1, qp2, (a,b) -> a+b), "
            "zip_with(p1, p2, (a,b) -> a+b), (x,y) -> (x+y)/4.0)"
        )
        crossing = crossing.withColumn("_m", m)

        dims = range(self.dim)

        def repulse(pos_col, id_col):
            diffs = [
                F.col(pos_col).getItem(i) - F.col("_m").getItem(i) for i in dims
            ]
            dist = F.sqrt(_sq_norm(diffs)) + F.lit(_EPS)
            return F.struct(
                F.col(id_col).alias("id"),
                *[
                    (F.lit(self.k_inter) * diffs[i] / (dist * dist)).alias(f"f{i}")
                    for i in dims
                ],
            )

        out = crossing.select(
            F.explode(
                F.array(
                    repulse("qp1", "qa"),
                    repulse("qp2", "qb"),
                    repulse("p1", "src"),
                    repulse("p2", "dst"),
                )
            ).alias("c")
        ).select("c.*")
        return out, mids

    def _driver_round(self) -> None:
        """One layout step on the driver: the distributed round's steps
        and float expressions, in its order, over the n×d array."""
        P, src, dst, eid = self._P, self._src, self._dst, self._eid
        p1, p2 = P[src], P[dst]
        # spring law (E2): +F on src, −F on dst
        diff = p2 - p1
        dist = (np.sqrt(_sq_norm(diff.T)) + _EPS)[:, None]
        mag = -self.k_attr * (dist - self.L_min)
        if self.weighted:
            mag = mag * self._w[:, None]
        at, forces = [src, dst], [mag * diff / dist, -mag * diff / dist]
        if self.k_inter > 0 and self.n_edges > 1:
            mids = (p1 + p2) / 2.0
            # the top-s sample by Spark's hash, ascending as signed int64
            s = min(self.sample_size, self.n_edges)
            q = np.argsort(xxhash64_np(eid, self.seed + self._iter), kind="stable")[:s]
            rows, _ = sweep_topk(mids[q], mids, eid, self.n_neighbors + 1)
            # drop self, keep the first k by (d2, edge_id)
            keep = eid[rows] != eid[q][:, None]
            keep &= np.cumsum(keep, axis=1) <= self.n_neighbors
            qe, ne = np.repeat(q, keep.sum(axis=1)), rows[keep]
            ends = [src[qe], dst[qe], src[ne], dst[ne]]
            qa, qb, na, nb = ends
            # candidate filter i<j on edge ids, shared-vertex exclusion
            ok = (eid[qe] < eid[ne]) & ~((qa == na) | (qa == nb) | (qb == na) | (qb == nb))
            # the 2-D orientation test on coords 0,1 (no crossing in 1-D)
            pts = [P[v[ok]] for v in ends]
            if self.dim >= 2:
                (px, py), (p2x, p2y), (qx, qy), (q2x, q2y) = ((x[:, 0], x[:, 1]) for x in pts)
                o1 = _orient(px, py, p2x, p2y, qx, qy)
                o2 = _orient(px, py, p2x, p2y, q2x, q2y)
                o3 = _orient(qx, qy, q2x, q2y, px, py)
                o4 = _orient(qx, qy, q2x, q2y, p2x, p2y)
                cross = (o1 * o2 < 0) & (o3 * o4 < 0)
                pts = [x[cross] for x in pts]
                # repulsion of each endpoint from the 4-endpoint midpoint
                m = ((pts[0] + pts[1]) + (pts[2] + pts[3])) / 4.0
                for v, x in zip(ends, pts):
                    d = x - m
                    r = (np.sqrt(_sq_norm(d.T)) + _EPS)[:, None]
                    at.append(v[ok][cross])
                    forces.append(self.k_inter * d / (r * r))
        at, forces = np.concatenate(at), np.concatenate(forces)
        moved = P + np.column_stack(
            [np.bincount(at, weights=f, minlength=self.n) for f in forces.T]
        )
        # center + per-dim sample std (ddof=1; 0 for one vertex, as
        # coalesce(stddev_samp, 0))
        std = moved.std(axis=0, ddof=1) if self.n > 1 else np.zeros(self.dim)
        self._P = (moved - moved.mean(axis=0)) / (std + _EPS)
        self._pos_frame = None
        self._iter += 1

    def update_positions(self) -> None:
        """One layout step (E2–E12, ``update_positions`` :776-806)."""
        if self._driver:
            self._driver_round()
            return
        dims = range(self.dim)
        held = {}

        def step(_state, _r):
            """positions ⋈ this round's forces: the moved positions."""
            ee = self._edge_endpoints()
            if self.k_inter > 0 and self.n_edges > 1:
                inter, held["mids"] = self._intersection_contribs(ee)
                # spring forces read the midpoint checkpoint (it carries
                # src/dst/p1/p2) — the edges⋈positions gather join runs
                # once per round, not once per force family
                contribs = self._spring_contribs(held["mids"]).unionAll(inter)
            else:
                contribs = self._spring_contribs(ee)
            forces = contribs.groupBy("id").agg(*[F.sum(f"f{d}").alias(f"f{d}") for d in dims])
            shifted = [F.col("pos").getItem(d) + F.coalesce(f"f{d}", F.lit(0.0)) for d in dims]
            return self._positions.join(forces, "id", "left").select(
                "id", F.array(*shifted).alias("pos")
            )

        def stop(moved, _r):
            # center + per-dim sample-std scale (:801-804; torch.std is
            # ddof=1): the round's one full scan, which materializes
            # `moved` — the midpoint table has no reader after it
            held["stats"] = moved.agg(
                *[F.avg(F.col("pos").getItem(d)) for d in dims],
                *[F.stddev_samp(F.col("pos").getItem(d)) for d in dims],
            ).first()
            if "mids" in held:
                release(held["mids"])

        self._state, _ = iterate(self._state, step, 1, stop=stop)
        mean, std = held["stats"][: self.dim], held["stats"][self.dim :]
        # a projection over the checkpointed state (O(1) plan depth);
        # coalesce(stddev_samp, 0) for one vertex
        scaled = [
            (F.col("pos").getItem(d) - F.lit(mean[d])) / F.lit((std[d] or 0.0) + _EPS)
            for d in dims
        ]
        self._positions = self._state.select("id", F.array(*scaled).alias("pos"))
        self._iter += 1

    def run_layout(self, num_iterations: int = 100) -> DataFrame:
        """E13 (``run_layout`` :808-833)."""
        for _ in range(num_iterations):
            self.update_positions()
        return self.positions

    def radial_distances(self) -> DataFrame:
        """(id, radius) — ‖pos‖₂ (reference ``influence.py:31-33``)."""
        return self.positions.select(
            "id", self._norm(F.col("pos")).alias("radius")
        )


def create_graphem(
    edges: DataFrame | SparkGraph,
    n_vertices: int | None = None,
    n_components: int = 2,
    **kw,
) -> GraphEmbedderSpark:
    """Factory mirroring the reference ``create_graphem``
    (``__init__.py:78-136``) — backend selection collapses to strategy
    flags inside the one Spark engine."""
    if isinstance(edges, SparkGraph):
        n_vertices = edges.n_vertices
        edges = edges.edges
    if n_vertices is None:
        from graphem_rapids_spark.graph.canon import vertices_from_edges

        n_vertices = vertices_from_edges(edges).agg(F.max("id")).first()[0] + 1
    return GraphEmbedderSpark(edges, n_vertices, n_components=n_components, **kw)
