"""Analytics / statistics operators — reference ``benchmark.py:73-163``
and ``visualization.py`` (SURVEY.md §2.5).

Centralities (A1–A6): degree, PageRank and eigenvector are proper
distributed iterative dataflows (each step = one edges⋈scores join +
one groupBy-sum — the aggregateMessages pattern). Closeness runs
batched multi-source BFS (source_id as a key column: all sources share
each frontier shuffle). Betweenness/load keep the reference's own
small-n driver fallback (networkx guarded to n<5000,
``benchmarks/run_benchmarks.py:313-319``) — exact distributed Brandes
is out of scope, as it is for the reference.

Statistics (A7–A10): graph stats, Spearman via mean-rank windows +
built-in ``corr`` (Pearson on ranks — exactly scipy's definition),
Poisson-bootstrap confidence intervals (the scalable resampling
scheme: each row appears Poisson(1) times per trial, so 1000 trials
run as one exploded groupBy instead of 1000 jobs), full pairwise
correlation matrix.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphem_rapids_spark.checkpoint import (
    checkpoint_count,
    eager_checkpoint,
    eager_materialize,
    iter_materialize,
    lazy_checkpoint,
    release,
)
from graphem_rapids_spark.graph.canon import symmetrize_edges, vertex_degrees

# Brandes dependency accumulation quantum (power of two, so integer
# deltas — e.g. on trees — stay bit-exact through the scaling): each
# σ(v)/σ(w)·(1+δ) contribution is rounded to a multiple of 2⁻⁴⁰ and
# summed as exact BIGINT, making results independent of summation
# order (partitioning, engine, rerun).
DELTA_FP_SCALE = 1 << 40

_HASH_BUCKETS = 1 << 30


def _vertex_table_fits_broadcast(n: int, broadcast_max: int | None = None) -> bool:
    """Strategy switch for the iterative kernels: a per-iteration O(n)
    vertex table (ranks / scores / frontier) may only be broadcast when
    n is bounded — at 10⁸–10⁹ vertices a full-table broadcast per
    iteration is a driver/executor-memory scale-killer. Threshold is
    ``GRAPHEM_BROADCAST_POS_MAX`` (session.BROADCAST_POSITIONS_MAX),
    read dynamically so tests can force the shuffle path."""
    if broadcast_max is None:
        from graphem_rapids_spark import session

        broadcast_max = session.BROADCAST_POSITIONS_MAX
    return n <= broadcast_max


# ---------------------------------------------------------------- A1/A7
def degree_centrality(edges: DataFrame, n_vertices: int, vertices: DataFrame | None = None) -> DataFrame:
    """(id, value) — degree/(n-1), networkx convention
    (reference ``benchmark.py:75``)."""
    if vertices is None:
        vertices = edges.sparkSession.range(n_vertices).select(F.col("id").cast("long"))
    deg = vertex_degrees(edges, vertices)
    return deg.select("id", (F.col("degree") / float(max(n_vertices - 1, 1))).alias("value"))


def graph_stats(edges: DataFrame, n_vertices: int) -> dict:
    """density = 2m/(n(n-1)), avg_degree = 2m/n
    (reference ``benchmark.py:143-144``)."""
    m = edges.count()
    n = n_vertices
    return {
        "n_vertices": n,
        "n_edges": m,
        "density": 2.0 * m / (n * (n - 1)) if n > 1 else 0.0,
        "avg_degree": 2.0 * m / n if n else 0.0,
    }


# ------------------------------------------------------------------- A4
def pagerank(
    edges: DataFrame,
    n_vertices: int | None = None,
    alpha: float = 0.85,
    max_iter: int = 30,
    tol: float = 1e-6,
    vertices: DataFrame | None = None,
    broadcast_max: int | None = None,
) -> DataFrame:
    """(id, value) — PageRank on the undirected (symmetrized) graph,
    networkx semantics incl. dangling-mass redistribution
    (reference ``benchmark.py:95-98``). Each step: one join + one agg.
    Pass ``vertices`` for sparse (non-contiguous) id spaces.

    Two physical strategies, picked by vertex count:

    - **broadcast** (n ≤ BROADCAST_POSITIONS_MAX): edges partitioned by
      dst once; the small rank table broadcasts into the join and the
      groupBy(dst) reuses the edge partitioning → ZERO per-iteration
      shuffle of the edge-sized stream.
    - **shuffle** (larger n): edges partitioned by src once; the rank
      table (n rows) shuffles to that partitioning each iteration (the
      edge table does NOT re-shuffle — EnsureRequirements reuses its
      hash partitioning), and only the message stream shuffles into the
      groupBy(dst). One edge-sized shuffle per iteration, bounded
      memory — the 100 TB-safe shape."""
    spark = edges.sparkSession
    if vertices is not None:
        verts = vertices.select(F.col("id").cast("long"))
        n = verts.count()
    else:
        n = n_vertices
        verts = spark.range(n).select(F.col("id").cast("long"))
    use_broadcast = _vertex_table_fits_broadcast(n, broadcast_max)
    # materialize the symmetrized edges ONCE (row checkpoint, not the
    # columnar persist cache — see checkpoint.eager_materialize). The
    # former repartition(strategy key) was dropped (r8 measurement):
    # under AQE neither a checkpoint nor a cache preserves child
    # partitioning for downstream exchange reuse, so it only added a
    # full edge-sized shuffle up front; the per-iteration groupBy(dst)
    # ships partial-aggregate output (n-sized), never the edge stream.
    sym = eager_materialize(symmetrize_edges(edges))
    out_deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("od"))
    base = verts.join(out_deg, "id", "left").select(
        "id", F.coalesce("od", F.lit(0)).alias("od")
    ).persist()
    pr = base.select("id", "od", F.lit(1.0 / n).alias("value")).transform(eager_checkpoint)
    # dangling vertices exist only if some od == 0 — check ONCE, not
    # one driver action per iteration (copurchase-style graphs have
    # none, saving max_iter jobs)
    has_dangling = base.filter(F.col("od") == 0).limit(1).count() > 0
    for it in range(max_iter):
        if has_dangling:
            dangling = pr.filter(F.col("od") == 0).agg(F.sum("value")).first()[0] or 0.0
        else:
            dangling = 0.0
        ranks = pr.filter(F.col("od") > 0)
        contrib = (
            sym.withColumnRenamed("src", "id")
            .join(F.broadcast(ranks) if use_broadcast else ranks, "id")
            .select(F.col("dst").alias("id"), (F.col("value") / F.col("od")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        const = (1.0 - alpha) / n + alpha * dangling / n
        new_pr = base.join(contrib, "id", "left").select(
            "id",
            "od",
            (F.lit(const) + F.lit(alpha) * F.coalesce(F.col("s"), F.lit(0.0))).alias("value"),
        )
        # checkpoint every iteration: truncates the logical plan (persist
        # alone lets analysis cost grow exponentially with iterations).
        # LAZY when a later full scan is guaranteed to materialize the
        # blocks (checkpoint.lazy_checkpoint): with tol > 0 the delta
        # aggregate below scans every row; in broadcast mode the NEXT
        # round's rank-table broadcast scans every row during its own
        # plan-to-RDD conversion — either way the dedicated
        # materialization job per round folds into work the loop does
        # anyway (one scheduling round-trip per iteration saved). The
        # shuffle strategy at tol = 0 keeps the eager form: nothing
        # there scans the frame before the next round stacks on top.
        if use_broadcast or tol > 0:
            new_pr = new_pr.transform(lazy_checkpoint)
        else:
            new_pr = new_pr.transform(eager_checkpoint)
        if tol > 0:
            delta = (
                new_pr.join(pr.select("id", F.col("value").alias("old")), "id")
                .agg(F.sum(F.abs(F.col("value") - F.col("old"))))
                .first()[0]
            )
        else:
            delta = None  # fixed-iteration mode: no convergence job
        pr.unpersist()
        pr = new_pr
        if delta is not None and delta < n * tol:
            break
    base.unpersist()
    sym.unpersist()
    return pr.select("id", "value")


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 10,
    vertices: DataFrame | None = None,
    broadcast_max: int | None = None,
) -> DataFrame:
    """(id, value) — personalized PageRank: restart mass distributed
    uniformly over ``seeds`` (id column) instead of all vertices, the
    standard seed-relevance ranking for recommendation and local
    community scoring. Fixed-iteration (no convergence job): the run
    unrolls to a SQL oracle exactly like plain PageRank. Same
    broadcast↔shuffle strategy switch and one-edge-shuffle-per-
    iteration discipline as :func:`pagerank`; dangling mass restarts
    to the seed distribution (networkx ``personalization``
    semantics)."""
    if vertices is not None:
        verts = vertices.select(F.col("id").cast("long"))
    else:
        from graphem_rapids_spark.graph.canon import vertices_from_edges

        verts = vertices_from_edges(edges)
    n = verts.count()
    # semi-join BEFORE counting k: an out-of-graph seed would otherwise
    # be dropped by the left join below while still diluting the 1/k
    # restart mass (total teleport k'/k < 1 — silently wrong ranks)
    s = seeds.select(F.col("id").cast("long")).distinct().join(
        verts, "id", "left_semi"
    )
    k = s.count()
    if k == 0:
        raise ValueError(
            "pagerank_personalized: no seed is a vertex of the graph"
        )
    use_broadcast = _vertex_table_fits_broadcast(n, broadcast_max)
    # row checkpoint, no strategy-key repartition — same r8 measurement
    # as plain pagerank (partitioning is not reusable under AQE; only
    # partial-agg output shuffles per iteration)
    sym = eager_materialize(symmetrize_edges(edges))
    out_deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("od"))
    base = (
        verts.join(out_deg, "id", "left")
        .join(s.select("id", F.lit(1).alias("_seed")), "id", "left")
        .select(
            "id",
            F.coalesce("od", F.lit(0)).alias("od"),
            (F.coalesce("_seed", F.lit(0)) / F.lit(float(k))).alias("e"),
        )
        .persist()
    )
    pr = base.select("id", "od", "e", F.col("e").alias("value")).transform(eager_checkpoint)
    has_dangling = base.filter(F.col("od") == 0).limit(1).count() > 0
    for _ in range(max_iter):
        if has_dangling:
            dangling = pr.filter(F.col("od") == 0).agg(F.sum("value")).first()[0] or 0.0
        else:
            dangling = 0.0
        ranks = pr.filter(F.col("od") > 0)
        contrib = (
            sym.withColumnRenamed("src", "id")
            .join(F.broadcast(ranks) if use_broadcast else ranks, "id")
            .select(F.col("dst").alias("id"), (F.col("value") / F.col("od")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        pr_new = base.join(contrib, "id", "left").select(
            "id",
            "od",
            "e",
            (
                F.lit(1.0 - alpha) * F.col("e")
                + F.lit(alpha)
                * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dangling) * F.col("e"))
            ).alias("value"),
        # LAZY in broadcast mode: this round's plan-to-RDD conversion
        # already runs the rank-table broadcast job, which fully scans
        # (and thereby materializes) the previous round's lazy
        # checkpoint — the dedicated per-round materialization job
        # folds away (see pagerank)
        ).transform(lazy_checkpoint if use_broadcast else eager_checkpoint)
        pr.unpersist()
        pr = pr_new
    base.unpersist()
    sym.unpersist()
    return pr.select("id", "value")


def pagerank_weighted(
    edges: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 10,
    vertices: DataFrame | None = None,
    broadcast_max: int | None = None,
) -> DataFrame:
    """(id, value) — PageRank over a weighted undirected graph
    (``edges(src, dst, weight)`` canonical src<dst): contributions are
    proportional to edge weight over vertex strength (networkx
    weighted-PageRank semantics). Same physical shape as the
    unweighted kernel incl. the broadcast↔shuffle strategy switch on
    vertex count (see :func:`pagerank`), a checkpoint per iteration."""
    spark = edges.sparkSession
    sym = edges.select("src", "dst", "weight").unionAll(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    if vertices is None:
        vertices = sym.select(F.col("src").alias("id")).distinct()
    verts = vertices.select(F.col("id").cast("long"))
    n = verts.count()
    use_broadcast = _vertex_table_fits_broadcast(n, broadcast_max)
    # row checkpoint, no strategy-key repartition (see pagerank)
    sym = eager_materialize(sym)
    strength = sym.groupBy(F.col("src").alias("id")).agg(
        F.sum("weight").cast("double").alias("st")
    )
    base = verts.join(strength, "id", "left").select(
        "id", F.coalesce("st", F.lit(0.0)).alias("st")
    ).persist()
    pr = base.select("id", "st", F.lit(1.0 / n).alias("value")).transform(eager_checkpoint)
    for _ in range(max_iter):
        ranks = pr.filter(F.col("st") > 0)
        contrib = (
            sym.withColumnRenamed("src", "id")
            .join(F.broadcast(ranks) if use_broadcast else ranks, "id")
            .select(
                F.col("dst").alias("id"),
                (F.col("value") * F.col("weight") / F.col("st")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        prev = pr
        pr = (
            base.join(contrib, "id", "left")
            .select(
                "id",
                "st",
                (
                    F.lit((1.0 - alpha) / n)
                    + F.lit(alpha) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("value"),
            )
            # LAZY in broadcast mode: the rank-table broadcast job run
            # during this round's plan-to-RDD conversion fully scans
            # the previous round's checkpoint, so the old pr is
            # materialized-and-read by the time we release it below
            # and the dedicated per-round materialization job folds
            # away (see pagerank)
            .transform(lazy_checkpoint if use_broadcast else eager_checkpoint)
        )
        # ONLY after the old pr's last read — contrib reads it during
        # the checkpoint conversion above, and release is no longer a
        # silent no-op
        prev.unpersist()
    base.unpersist()
    sym.unpersist()
    return pr.select("id", "value")


# ------------------------------------------------------------------- A3
def eigenvector_centrality(
    edges: DataFrame,
    n_vertices: int,
    max_iter: int = 100,
    tol: float = 1e-6,
    broadcast_max: int | None = None,
) -> DataFrame:
    """(id, value) — power iteration on A, L2-normalized (networkx
    ``eigenvector_centrality_numpy`` semantics; reference
    ``benchmark.py:82-93`` incl. its degree-fallback ethos).
    Broadcast↔shuffle strategy switch on vertex count as in
    :func:`pagerank`."""
    spark = edges.sparkSession
    use_broadcast = _vertex_table_fits_broadcast(n_vertices, broadcast_max)
    # row checkpoint, no strategy-key repartition (see pagerank — the
    # per-iteration groupBy ships partial-aggregate output only)
    sym = eager_materialize(symmetrize_edges(edges))
    verts = spark.range(n_vertices).select(F.col("id").cast("long"))
    x = verts.select("id", F.lit(1.0 / math.sqrt(n_vertices)).alias("value")).persist()
    prev_ckpt = None
    for it in range(max_iter):
        y = (
            sym.withColumnRenamed("src", "id")
            .join(F.broadcast(x) if use_broadcast else x, "id")
            .select(F.col("dst").alias("id"), F.col("value").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("value"))
        )
        y = verts.join(y, "id", "left").select(
            "id", (F.coalesce("value", F.lit(0.0)) + F.col("id") * 0.0).alias("value")
        )
        # checkpoint BEFORE the norm action: y is referenced twice (norm
        # + normalized output) and would otherwise run the matvec twice
        # per iteration. LAZY checkpoint: the norm aggregate right below
        # scans every row, so it materializes the blocks itself — the
        # separate per-iteration checkpoint job folds into the norm job
        # (checkpoint.lazy_checkpoint)
        y = y.transform(lazy_checkpoint)
        norm = y.agg(F.sqrt(F.sum(F.col("value") * F.col("value")))).first()[0] or 1.0
        if norm == 0:
            break
        new_x = y.select("id", (F.col("value") / norm).alias("value"))
        if tol > 0:
            delta = (
                new_x.join(x.select("id", F.col("value").alias("old")), "id")
                .agg(F.sum(F.abs(F.col("value") - F.col("old"))))
                .first()[0]
            )
        else:
            delta = None
        # x was a thin projection over the PREVIOUS round's checkpoint,
        # so x.unpersist() here was a cache-manager no-op and every
        # round's blocks leaked for the session's life (checkpoint.py
        # module docstring). The norm job above (and the delta job when
        # tol > 0) was the previous checkpoint's last reader — release
        # its blocks directly; the persisted init is a real cache entry
        # and keeps the plain unpersist.
        if it == 0:
            x.unpersist()
        if prev_ckpt is not None:
            release(prev_ckpt)
        prev_ckpt = y
        x = new_x
        if delta is not None and delta < n_vertices * tol:
            break
    sym.unpersist()
    return x


# ------------------------------------------------------------------- A7
def star_contract_edges(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """(x, y) star forest — alternating large-star/small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") run to its edge-set fixpoint: every
    non-root vertex x appears with y = its component's minimum id.
    Converges in O(log d) rounds instead of min-label's O(d), so a
    100×-scale path-ish component costs tens of rounds, not millions.

    One round = large-star (every vertex u links its larger neighbors
    to m = min(N(u) ∪ {u})) then small-star (every vertex links its
    smaller neighbors and itself to its min neighbor). Both phases
    keep edges canonically oriented (x > y), so each is one
    groupBy-min plus one join — ~3 shuffles/round vs min-label's 1,
    which is why small graphs stay on the min-label path (the
    ``GRAPHEM_CC_STAR_MIN`` switch). Convergence = stable edge set,
    detected by a (count, Σxxhash64) signature and confirmed with an
    exact exceptAll before exiting (runs once, at the fixpoint)."""
    from graphem_rapids_spark.checkpoint import eager_checkpoint, release

    e = eager_checkpoint(
        edges.select(
            F.greatest("src", "dst").alias("x"), F.least("src", "dst").alias("y")
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    sig: tuple | None = None
    done = False
    for _ in range(max_iter):
        # large-star: emitted pairs (b, m) keep b > m since m ≤ a < b
        sym = e.select(F.col("x").alias("a"), F.col("y").alias("b")).unionAll(
            e.select(F.col("y").alias("a"), F.col("x").alias("b"))
        )
        lmins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        e1 = (
            sym.filter(F.col("b") > F.col("a"))
            .join(lmins, "a")
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
            .distinct()
        )
        # small-star over the canonical orientation: every neighbor of
        # x (all < x) and x itself link to x's min neighbor
        smins = e1.groupBy("x").agg(F.min("y").alias("m"))
        from graphem_rapids_spark.checkpoint import eager_checkpoint

        e2 = eager_checkpoint(
            e1.join(smins, "x")
            .filter(F.col("y") != F.col("m"))
            .select(F.col("y").alias("x"), F.col("m").alias("y"))
            .unionAll(smins.select("x", F.col("m").alias("y")))
            .distinct()
        )
        row = e2.agg(
            F.count("*").alias("c"),
            # decimal sum: Σ of 64-bit hashes overflows BIGINT (ANSI)
            F.sum(F.xxhash64("x", "y").cast("decimal(38,0)")).alias("h"),
        ).first()
        new_sig = (row["c"], row["h"])
        prev, e = e, e2
        done = sig == new_sig and prev.exceptAll(e2).isEmpty()
        release(prev)
        sig = new_sig
        if done:
            break
    if not done:
        warnings.warn(
            f"connected_components(star): edge set not stable after "
            f"{max_iter} rounds; labels may split components — raise "
            "max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return e


def _connected_components_star(
    edges: DataFrame,
    n_vertices: int,
    max_iter: int = 50,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """(id, component) over ids 0..n-1 (or the given ``vertices``
    universe) from the star forest of :func:`star_contract_edges`
    (isolated ids label themselves)."""
    spark = edges.sparkSession
    e = star_contract_edges(edges, max_iter)
    from graphem_rapids_spark.checkpoint import eager_checkpoint, release

    # materialize the component-sized star map BEFORE freeing the
    # forest: release actually drops the blocks now (checkpoint.py),
    # so a lazy groupBy over e would read freed state at action time
    stars = eager_checkpoint(
        e.groupBy(F.col("x").alias("id")).agg(F.min("y").alias("component"))
    )
    release(e)
    if vertices is None:
        ids = spark.range(n_vertices).select(F.col("id").cast("long"))
    else:
        ids = vertices.select(F.col("id").cast("long"))
    return ids.join(stars, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def connected_components(
    edges: DataFrame,
    n_vertices: int,
    max_iter: int = 50,
    algorithm: str = "auto",
    vertices: DataFrame | None = None,
    require_convergence: bool = False,
) -> DataFrame:
    """(id, component) — component label = the component's min vertex
    id (GraphFrames-free; reference uses it for LCC extraction,
    ``benchmarks/run_benchmarks.py:256-270``).

    ``algorithm``: ``"minlabel"`` (O(diameter) rounds, 1 shuffle each
    — the small-graph fast path), ``"star"`` (alternating
    large-star/small-star, O(log d) rounds of ~3 shuffles — the
    100 TB path), or ``"auto"`` (star above
    ``session.CC_STAR_MIN_VERTICES``). Both produce identical
    labels (pinned by test_star_cc_matches_minlabel).

    ``vertices``: optional (id) DataFrame naming the vertex universe
    when ids are not contiguous 0..n-1 (e.g. the DBSCAN core set) —
    ``n_vertices`` then only drives the auto switch.
    ``require_convergence``: raise instead of returning possibly-split
    labels when the round budget runs out (min-label) or the star
    edge set is still moving — for callers whose oracle replays a
    fixed unroll and must fail LOUDLY on under-convergence."""
    if algorithm == "auto":
        from graphem_rapids_spark import session

        algorithm = (
            "star" if n_vertices > session.CC_STAR_MIN_VERTICES else "minlabel"
        )
    if algorithm == "star":
        if require_convergence:
            with warnings.catch_warnings():
                warnings.simplefilter("error", RuntimeWarning)
                return _connected_components_star(
                    edges, n_vertices, max_iter, vertices
                )
        return _connected_components_star(edges, n_vertices, max_iter, vertices)
    if algorithm != "minlabel":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    spark = edges.sparkSession
    sym = symmetrize_edges(edges).persist()
    if vertices is None:
        labels = spark.range(n_vertices).select(
            F.col("id").cast("long"), F.col("id").cast("long").alias("component")
        ).persist()
    else:
        labels = vertices.select(
            F.col("id").cast("long"), F.col("id").cast("long").alias("component")
        ).persist()
    changed = -1
    for it in range(max_iter):
        nbr_min = (
            labels.join(sym.withColumnRenamed("src", "id"), "id")
            .select(F.col("dst").alias("id"), F.col("component").alias("c"))
            .groupBy("id")
            .agg(F.min("c").alias("nbr"))
        )
        # carry the previous label through the round checkpoint: the
        # changed-row count becomes a scan of the blocks the
        # materialization itself writes (no separate join job), and the
        # checkpoint still truncates the plan + severs stats every
        # round (see checkpoint.py)
        new_labels = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("component"), F.coalesce("nbr", F.col("component"))).alias("component"),
            F.col("component").alias("_o"),
        )
        from graphem_rapids_spark.checkpoint import lazy_checkpoint

        new_labels = lazy_checkpoint(new_labels)
        changed = new_labels.filter(F.col("component") != F.col("_o")).count()
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    if require_convergence and changed != 0:
        raise RuntimeError(
            f"connected_components(minlabel) did not converge in "
            f"{max_iter} rounds (component diameter exceeds the budget); "
            "use algorithm='star' (O(log d) rounds) instead of raising "
            "the cap"
        )
    return labels.select("id", "component")


def label_propagation(
    edges: DataFrame, max_rounds: int = 10, converge: bool = True
) -> DataFrame:
    """(id, label) — semi-synchronous label-propagation community
    detection (Raghavan et al. 2007) with fully deterministic
    tie-breaking: every round each vertex adopts the most frequent
    label among its neighbors, ties broken by the smallest label;
    initial labels are the vertex ids. Deterministic ⇒ the fixed-round
    output unrolls to an exact SQL oracle (same argmax window), and
    results are partitioning-independent.

    Engine shape: one round = the edge stream joined to the O(n)
    label table, a (vertex, label) count aggregate, and a
    vertex-partitioned top-1 window — two shuffles, no driver data
    work; convergence is a changed-row count (once a round changes
    nothing, further rounds are idempotent, so a deeper fixed unroll
    matches exactly). At 100 TB this is the same one-edge-shuffle
    discipline as PageRank; hot vertices skew the count aggregate the
    same way every neighborhood aggregation here does (AQE skew
    splitting applies).

    ``converge=False`` (r8 opt round) runs EXACTLY ``max_rounds``
    rounds with no per-round convergence job: by the idempotence
    above the output is identical, and each checkpoint is
    materialized by the NEXT batch's plan-to-RDD conversion (its
    label-table exchange fully scans the previous checkpoint — the
    PageRank fold), so a round costs zero dedicated driver actions.
    Rounds are additionally batched TWO per checkpoint (r9 opt
    round): each round is a pure deterministic transform, so two
    composed rounds in one plan are bit-identical while paying half
    the plan conversions. The right mode for the small fixed unrolls
    the oracle replays; keep the default for exploratory calls where
    early stopping saves real rounds."""
    sym = symmetrize_edges(edges).transform(eager_checkpoint)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .transform(eager_checkpoint)
    )

    def _one_round(lbl: DataFrame) -> DataFrame:
        votes = (
            sym.withColumnRenamed("src", "id")
            .join(lbl, "id")
            .select(F.col("dst").alias("id"), "label")
            .groupBy("id", "label")
            .agg(F.count("*").alias("cnt"))
        )
        # per-vertex argmax as max(struct(cnt, -label)) — identical to
        # the row_number window over (cnt DESC, label ASC) the oracle
        # replays, but it aggregates partially map-side and never
        # sorts (the window paid a full hash(id) exchange + sort per
        # round)
        return (
            votes.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("_nl"))).alias("_m"))
            .select("id", (-F.col("_m._nl")).alias("label"))
        )

    if not converge:
        # fixed-round mode with rounds BATCHED two per checkpoint (r9
        # opt round): each round is a pure, deterministic DataFrame
        # transform (integer vote counts, exact argmax tie-break), so
        # composing two rounds inside ONE plan and checkpointing once
        # yields bit-identical labels while halving the plan-to-RDD
        # conversions (analysis + AQE planning + py4j per round — the
        # driver-floor cost the fixed unrolls pay). The intermediate
        # label table is referenced exactly once (the next round's
        # vote join), so the batched plan has no duplicated subtree;
        # the lazy checkpoint's conversion executes both rounds'
        # exchanges, whose first vote-join scan fully materializes
        # (and is the last read of) the PREVIOUS checkpoint, keeping
        # the release below safe (AQE-off sessions fall back to eager
        # checkpoints inside lazy_checkpoint itself).
        done = 0
        while done < max_rounds:
            step = min(2, max_rounds - done)
            cur = labels
            for _ in range(step):
                cur = _one_round(cur)
            new = lazy_checkpoint(cur)
            prev, labels = labels, new
            release(prev)
            done += step
        release(sym)
        return labels.select("id", "label")

    for _ in range(max_rounds):
        top1 = _one_round(labels)
        # carry the previous label through the round checkpoint so
        # the changed-row convergence count is a scan of the blocks
        # the materialization itself writes — the former separate
        # new⋈labels count job folds away
        # (checkpoint.lazy_checkpoint); the extra _o column is
        # pruned out of every downstream join
        new = lazy_checkpoint(
            top1.join(labels.select("id", F.col("label").alias("_o")), "id")
        )
        changed = new.filter(F.col("label") != F.col("_o")).count()
        prev, labels = labels, new
        # release(), not unpersist(): these are SEVERED checkpoints
        # (checkpoint.py) — unpersist on the severed frame is a no-op
        # and leaked round blocks slow every subsequent job
        release(prev)
        if changed == 0:
            break
    release(sym)
    return labels.select("id", "label")


def k_core(edges: DataFrame, k: int, max_rounds: int = 30) -> DataFrame:
    """(id, core_degree) — the k-core: the maximal subgraph where every
    vertex has degree ≥ k within the subgraph, by iterative peeling
    (drop sub-k vertices, recompute, repeat to fixpoint).

    Engine shape: the surviving edge set is carried between rounds —
    each round is ONE degree aggregation (HAVING ≥ k) plus two
    left-semi joins filtering edges to survivors, checkpointed so the
    plan stays flat. Convergence is detected by edge count (strictly
    decreasing until the fixpoint), so the loop does no driver-side
    data work. At 100 TB each round shuffles only the shrinking edge
    set on its endpoint keys; real graphs converge in a few rounds at
    moderate k (deeper peeling chains shrink the data fast)."""
    cur = symmetrize_edges(edges).transform(eager_checkpoint)
    n_cur = cur.count()
    for _ in range(max_rounds):
        surv = (
            cur.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("id"))
        )
        # materialization + edge count in one job (checkpoint_count)
        new, n_new = checkpoint_count(
            cur.join(surv.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(surv.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        # release the prior round's checkpoint blocks — without this,
        # checkpointed RDDs accumulate across peel rounds until the
        # context cleaner GCs them (connected_components pattern)
        prev, cur = cur, new
        prev.unpersist()
        if n_new == n_cur:
            break
        n_cur = n_new
    return cur.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("core_degree")
    )


# hub factor (max degree / avg degree) above which triangle
# enumeration switches from the id-canonical 3-join to the
# degree-ordered compact-forward scheme — measured tradeoff: the
# orientation costs two degree joins + a materialization per round,
# which only pays for itself when hubs make Σ deg² diverge from
# O(m^1.5) (see k_truss docstring)
TRIANGLE_SKEW_RATIO = 8.0


def oriented_triangles(cur: DataFrame) -> DataFrame:
    """(a, b, c) — every triangle of the canonical edge set exactly
    once, enumerated with the DEGREE-ORDERED orientation
    (compact-forward / Latapy 2008): orient each edge from its lower-
    (degree, id) endpoint to the higher, generate wedges only at each
    triangle's LOWEST-degree vertex, and close them against the
    oriented edge set. Candidate-pair work is Σ out-deg² where the
    oriented out-degrees are O(√m)-bounded — on hub-heavy graphs
    (social graphs, power-law webs) this beats the id-canonical
    3-join, whose random-id orientation leaves E[out-deg] ≈ deg/2 and
    wedge work ≈ Σ deg²/4. On NEAR-REGULAR graphs the two wedge
    counts are within tens of percent (measured on the co-purchase
    graph: 4.1e7 vs 4.9e7 at sf0.1) and the orientation's two degree
    joins + materialization per call are a net loss — hence the
    skew-ratio auto-switch in :func:`k_truss`.
    Output order of (a, b, c) follows the (degree, id) orientation,
    NOT a<b<c — callers needing canonical edges take
    least/greatest per pair. Triangle SETS (and therefore counts and
    per-edge supports) are orientation-independent, so this is a pure
    physical optimization."""
    deg = (
        cur.select(F.col("src").alias("v"))
        .unionAll(cur.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # one bigint key encodes the (degree, id) total order: ids are
    # < 2^31 in every ingested graph (canonicalize_edges casts long,
    # TPC-H-style keys and generator ids are far below)
    key = lambda d, v: d * F.lit(1 << 31) + v  # noqa: E731
    e = (
        cur.join(deg.select(F.col("v").alias("src"), F.col("d").alias("_ds")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("d").alias("_dd")), "dst")
        .select(
            "src",
            "dst",
            key(F.col("_ds"), F.col("src")).alias("_ks"),
            key(F.col("_dd"), F.col("dst")).alias("_kd"),
        )
    )
    # localCheckpoint, not persist: fwd is probed three times below
    # (both wedge sides + the closing join) so materializing it avoids
    # re-running the two degree joins, and the block is reclaimed by
    # the context cleaner once the caller drops the triangle frame
    # (k_truss consumes it fully every round)
    fwd = e.select(
        F.when(F.col("_ks") < F.col("_kd"), F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(F.col("_ks") < F.col("_kd"), F.col("dst")).otherwise(F.col("src")).alias("w"),
        F.least("_ks", "_kd").alias("ku"),
        F.greatest("_ks", "_kd").alias("kw"),
    ).transform(eager_checkpoint)
    wedges = (
        fwd.select("u", F.col("w").alias("b"), F.col("kw").alias("kb"))
        .join(
            fwd.select(F.col("u"), F.col("w").alias("c"), F.col("kw").alias("kc")),
            "u",
        )
        .filter(F.col("kb") < F.col("kc"))
    )
    tri = wedges.join(
        fwd.select(F.col("u").alias("b"), F.col("w").alias("c")), ["b", "c"]
    ).select(F.col("u").alias("a"), "b", "c")
    return tri


def k_truss(edges: DataFrame, k: int, max_rounds: int = 30) -> DataFrame:
    """Canonical (src, dst) edges of the k-truss: the maximal subgraph
    where every edge participates in ≥ k−2 triangles, by iterative
    support peeling (Cohen 2008). Exact integer computation, so the
    fixed-round peel unrolls to a SQL oracle and extra rounds past the
    fixpoint are idempotent.

    Engine shape: one round = triangle enumeration, an explode of
    each triangle into its three canonical edges, one support
    aggregate, and a filter — the edge set only shrinks, so rounds
    get cheaper. The enumeration strategy is picked ONCE from the
    measured degree skew (r4, after an sf1 smoke + wedge-count
    measurement): on near-regular graphs (the co-purchase graph:
    max/avg degree < 2) the id-canonical a<b<c 3-join is cheapest —
    no degree joins, wedge count within ~20% of optimal; on hub-heavy
    graphs the degree-ordered :func:`oriented_triangles` caps wedge
    work at O(m^1.5) where the canonical join degrades to Σ deg².
    AQE skew-splits hub vertices like every other neighborhood join
    here, and the peel usually converges in a handful of rounds."""
    from graphem_rapids_spark.graph.canon import canonicalize_edges

    spark = edges.sparkSession
    cur = canonicalize_edges(edges).transform(eager_checkpoint)
    n_cur = cur.count()
    # size shuffle partitions to the wedge volume: the triangle join
    # streams Σ out-deg² candidate rows — at 32 partitions (sized for
    # sf0.1) a 10× graph spills every round (sf1 smoke: 516 s cold).
    # ~150k edges per partition keeps sort buffers in memory; restored
    # in the finally below. AQE can only coalesce DOWN, so scaling up
    # must happen here.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    want_parts = max(int(old_parts), min(2048, n_cur // 150_000))
    # skew probe: one tiny aggregate over the degree table. Hub factor
    # max/avg ≥ TRIANGLE_SKEW_RATIO → degree-oriented enumeration.
    dstats = (
        cur.select(F.col("src").alias("v"))
        .unionAll(cur.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
        .agg(F.max("d").alias("mx"), F.avg("d").alias("av"))
        .first()
    )
    skewed = bool(dstats and dstats["av"] and dstats["mx"] / dstats["av"] >= TRIANGLE_SKEW_RATIO)
    spark.conf.set("spark.sql.shuffle.partitions", str(want_parts))
    try:
        return _ktruss_peel(cur, n_cur, k, max_rounds, skewed)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _ktruss_peel(cur, n_cur, k, max_rounds, skewed):
    for _ in range(max_rounds):
        if skewed:
            tri = oriented_triangles(cur)
        else:
            e1 = cur.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            e2 = cur.select(F.col("src").alias("b"), F.col("dst").alias("c"))
            e3 = cur.select(F.col("src").alias("a"), F.col("dst").alias("c"))
            tri = e1.join(e2, "b").join(e3, ["a", "c"])  # triangles a<b<c
        # explode each triangle into its 3 CANONICAL (min,max) edges so
        # the triangle join runs ONCE per round (three unionAll
        # branches would re-execute it three times — Spark shares
        # shuffles, not probes)
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("a", "b").alias("src"),
                            F.greatest("a", "b").alias("dst"),
                        ),
                        F.struct(
                            F.least("b", "c").alias("src"),
                            F.greatest("b", "c").alias("dst"),
                        ),
                        F.struct(
                            F.least("a", "c").alias("src"),
                            F.greatest("a", "c").alias("dst"),
                        ),
                    )
                ).alias("e")
            )
            .select("e.*")
            .groupBy("src", "dst")
            .agg(F.count("*").alias("sup"))
        )
        new = (
            cur.join(sup, ["src", "dst"], "left")
            .filter(F.coalesce("sup", F.lit(0)) >= k - 2)
            .select("src", "dst")
            .transform(eager_checkpoint)
        )
        n_new = new.count()
        prev, cur = cur, new
        prev.unpersist()
        if n_new == n_cur:
            break
        n_cur = n_new
    return cur


#  wedge-pair volume (Σ C(deg,2)) above which the motif census's auto
#  mode switches from the exact common-neighbor stream to the
#  hub-capped enumeration. Measured: the co-purchase graph streams
#  1.38e7 wedge pairs at sf0.01, 1.48e8 at sf0.1 (tens of seconds,
#  exact stays the right call), 1.48e9 at the sf1 replica — the r7
#  smoke's 462 s cold / 189 s warm, the most expensive operator in
#  the repo and the r7 verdict's one weak-at-scale mark. 2e8 keeps
#  every oracle/bench scale exact and trips the cap at sf1.
MOTIF_WEDGE_VOLUME_MAX = 200_000_000
MOTIF_CAP_DEFAULT = 64


def motif_census(edges: DataFrame, cap: int | None = None) -> DataFrame:
    """1-row (n_wedges, n_closed, n_triangles, n_squares,
    n_wedges_dropped) wedge/triangle/4-cycle census with a hub-capped
    scale mode — the degeneracy-discipline fix for the Σ deg² wedge
    stream (SCALE.md §motif; the same exact-vs-capped split hyperball
    and the df-capped MinHash verify use).

    ``cap``: ``0`` forces the EXACT census (every common-neighbor
    pair materializes — the sf-small oracle form); a positive ``D``
    forces the capped mode; ``None`` probes Σ C(deg,2) from the degree
    table and engages ``MOTIF_CAP_DEFAULT`` above
    ``MOTIF_WEDGE_VOLUME_MAX`` (one tiny aggregate job).

    Capped mode semantics — honest, never silent:

    - ``n_wedges`` stays EXACT: Σ C(deg v, 2) needs only the degree
      table, never the pair stream.
    - ``n_closed``/``n_triangles`` stay EXACT: counted by the
      degree-ordered :func:`oriented_triangles` orientation, whose
      candidate work is Σ out-deg² = O(m^1.5) regardless of hubs.
    - ``n_squares`` becomes a LOWER BOUND: each center keeps only its
      ``D`` first neighbors (deterministic rank: neighbor id asc, a
      per-center window — never global), so only wedges whose center
      kept both endpoints enter the C(c,2) diagonal count.
    - ``n_wedges_dropped`` reports EXACTLY the wedge pairs the cap
      skipped, Σ (C(d,2) − C(min(d,D),2)) — the df-cap discipline: a
      reader can see precisely how much of the stream was priced out.

    Exact mode emits ``n_wedges_dropped = 0``, so the schema is
    mode-independent and a driver sees one stable contract."""
    sym = symmetrize_edges(edges)
    deg = sym.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
    if cap is None:
        # one probe job decides the mode AND whether pair keys pack
        # (v spans every endpoint id because sym is symmetric)
        probe = deg.agg(
            F.sum(F.expr("d * (d - 1) div 2")).alias("wp"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        ).first()
        wedge_pairs = int(probe["wp"] or 0)
        cap = MOTIF_CAP_DEFAULT if wedge_pairs > MOTIF_WEDGE_VOLUME_MAX else 0
        mn, mx = probe["mn"], probe["mx"]
    else:
        mn, mx = sym.agg(F.min("src"), F.max("src")).first()
    # Pack the unordered pair (x, y), x < y, into ONE long when ids fit
    # in 31 bits — the wedge-pair groupBy is the heaviest exchange in
    # the repo (Σ C(deg,2) rows) and the key drops from two longs to
    # one, with the closing-edge join probing a dense
    # LongHashedRelation instead of the generic two-column UnsafeRow
    # map (the graph_triangles packing, measured 6.2 -> 2.2 s there).
    # Injective for 0 <= x,y < 2^31; larger id spaces keep the pair.
    packable = mx is not None and 0 <= mn and mx < (1 << 31)
    shift = F.lit(1 << 32)
    nbr = sym.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    if cap <= 0:
        a = nbr.select("v", F.col("u").alias("x"))
        b = nbr.select("v", F.col("u").alias("y"))
        wedge = a.join(b, "v").filter(F.col("x") < F.col("y"))
        if packable:
            cn = wedge.groupBy(
                (F.col("x") * shift + F.col("y")).alias("_xy")
            ).agg(F.count("*").alias("c"))
            closing = edges.select(
                (F.col("src") * shift + F.col("dst")).alias("_xy")
            )
            closed = cn.join(closing, "_xy").agg(
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_closed")
            )
        else:
            cn = wedge.groupBy("x", "y").agg(F.count("*").alias("c"))
            closed = cn.join(
                edges.select(F.col("src").alias("x"), F.col("dst").alias("y")),
                ["x", "y"],
            ).agg(
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_closed")
            )
        # Σ c(c−1) is divisible by 4 by construction; integer division
        # keeps the count exact past 2^53 wedge-pairs
        stats = cn.agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_wedges"),
            F.coalesce(F.expr("sum(c * (c - 1)) div 4"), F.lit(0))
            .cast("long")
            .alias("n_squares"),
        )
        return stats.crossJoin(F.broadcast(closed)).select(
            "n_wedges",
            "n_closed",
            F.expr("n_closed div 3").cast("long").alias("n_triangles"),
            "n_squares",
            F.lit(0).cast("long").alias("n_wedges_dropped"),
        )
    # ---- capped mode
    wstats = deg.select(
        F.expr("d * (d - 1) div 2").alias("w_all"),
        F.expr(
            f"(d * (d - 1) - least(d, {cap}) * (least(d, {cap}) - 1)) div 2"
        ).alias("w_drop"),
    ).agg(
        F.coalesce(F.sum("w_all"), F.lit(0)).cast("long").alias("n_wedges"),
        F.coalesce(F.sum("w_drop"), F.lit(0))
        .cast("long")
        .alias("n_wedges_dropped"),
    )
    kept = (
        nbr.withColumn(
            "r", F.row_number().over(Window.partitionBy("v").orderBy("u"))
        )
        .filter(F.col("r") <= cap)
        .select("v", "u")
    )
    kpair = (
        kept.select("v", F.col("u").alias("x"))
        .join(kept.select("v", F.col("u").alias("y")), "v")
        .filter(F.col("x") < F.col("y"))
    )
    # same pair-key packing as the exact mode: the kept-pair groupBy
    # is the capped path's largest exchange (≤ Σ C(min(d,D),2) rows)
    if packable:
        cn = kpair.groupBy(
            (F.col("x") * shift + F.col("y")).alias("_xy")
        ).agg(F.count("*").alias("c"))
    else:
        cn = kpair.groupBy("x", "y").agg(F.count("*").alias("c"))
    squares = cn.agg(
        F.coalesce(F.expr("sum(c * (c - 1)) div 4"), F.lit(0))
        .cast("long")
        .alias("n_squares")
    )
    tri = oriented_triangles(edges).agg(
        F.count("*").cast("long").alias("n_triangles")
    )
    return (
        wstats.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(squares))
        .select(
            "n_wedges",
            (F.col("n_triangles") * 3).cast("long").alias("n_closed"),
            "n_triangles",
            "n_squares",
            "n_wedges_dropped",
        )
    )


def largest_connected_component(edges: DataFrame, n_vertices: int) -> DataFrame:
    """Edge list restricted to the LCC (reference LCC extraction)."""
    comp = connected_components(edges, n_vertices)
    top = (
        comp.groupBy("component").count().orderBy(F.col("count").desc(), F.col("component").asc()).first()
    )
    keep = comp.filter(F.col("component") == top["component"]).select("id")
    return (
        edges.join(keep.withColumnRenamed("id", "src"), "src")
        .join(keep.withColumnRenamed("id", "dst"), "dst")
    )


# ------------------------------------------------------------------- A5
def bfs_distances(
    edges: DataFrame, sources: DataFrame, max_depth: int = 100
) -> DataFrame:
    """(s, id, d) — exact hop distances from every source to every
    vertex it reaches within ``max_depth``, by batched multi-source
    BFS (all sources advance in the same frontier join per step).
    The shared kernel under closeness and harmonic centrality; same
    broadcast↔shuffle frontier switch and per-round localCheckpoint
    discipline as the IC cascade."""
    sym = eager_materialize(symmetrize_edges(edges))
    from graphem_rapids_spark import session

    broadcast_max = session.BROADCAST_POSITIONS_MAX
    # localCheckpoint per round — see influence.independent_cascade:
    # the visited set nests inside each anti-join, so without plan
    # truncation the plan grows exponentially with BFS depth.
    # checkpoint_count: materialization + convergence count in ONE job
    # per round (checkpoint.checkpoint_count)
    visited, frontier_n = checkpoint_count(
        sources.select(F.col("id").alias("s"), F.col("id"), F.lit(0).alias("d"))
    )
    frontier = visited.select("s", "id")
    for depth in range(max_depth):
        # a multi-source frontier is O(sources·reach) — broadcast only
        # while provably small (count is free on the eagerly-
        # checkpointed table), else shuffle-join (see IC cascade)
        fr = F.broadcast(frontier) if frontier_n <= broadcast_max else frontier
        # every vertex first reached this round is at distance depth+1
        # by construction (the frontier is exactly the previous round's
        # newly-visited set), so d never rides the message shuffle —
        # (s, id) pairs deduplicate with distinct and the constant
        # distance is stamped afterwards. Identical output to the
        # former groupBy(s, id).min(d) over d = depth+1 messages, with
        # one fewer column in the round's largest exchange.
        nxt = (
            sym.withColumnRenamed("src", "id")
            .join(fr, "id")
            .select("s", F.col("dst").alias("id"))
            .distinct()
        )
        new_v, frontier_n = checkpoint_count(
            nxt.join(visited.select("s", "id"), ["s", "id"], "left_anti")
            .select("s", "id", F.lit(depth + 1).alias("d"))
        )
        if frontier_n == 0:
            break
        # flat union of already-checkpointed frontiers — no lineage
        # growth, so no extra checkpoint job per BFS round
        visited = visited.unionAll(new_v)
        frontier = new_v.select("s", "id")
    sym.unpersist()
    return visited


def closeness_centrality(
    edges: DataFrame, n_vertices: int, sources: DataFrame | None = None, max_iter: int = 100
) -> DataFrame:
    """(id, value) — networkx (Wasserman-Faust–free) convention:
    ``(r-1)/total_dist · (r-1)/(n-1)`` with r = reachable count.
    BFS kernel shared with harmonic centrality (:func:`bfs_distances`)."""
    spark = edges.sparkSession
    if sources is None:
        sources = spark.range(n_vertices).select(F.col("id").cast("long"))
    visited = bfs_distances(edges, sources, max_depth=max_iter)
    n = n_vertices
    per_src = visited.groupBy("s").agg(
        F.sum("d").alias("tot"), (F.count("*") - 1).alias("r")
    )
    return per_src.select(
        F.col("s").alias("id"),
        F.when(
            F.col("tot") > 0,
            (F.col("r") / F.col("tot")) * (F.col("r") / float(max(n - 1, 1))),
        ).otherwise(F.lit(0.0)).alias("value"),
    )


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame | None = None,
    n_vertices: int | None = None,
    max_depth: int = 10,
) -> DataFrame:
    """(id, value) — harmonic centrality h(v) = Σ_s 1/d(s, v) over the
    (possibly sampled) sources that reach v within ``max_depth``
    (networkx convention; robust to disconnection where closeness is
    not). Exactness trick: every 1/d with d ≤ max_depth is summed as
    the exact integer lcm(1..max_depth)/d, so the per-vertex sums are
    order-free integers and the single final division is
    engine-identical — the same fixed-point discipline as the Brandes
    deltas, with an exact lcm instead of 2⁻⁴⁰."""
    spark = edges.sparkSession
    if sources is None:
        if n_vertices is None:
            raise ValueError("harmonic_centrality: pass sources or n_vertices")
        sources = spark.range(n_vertices).select(F.col("id").cast("long"))
    if not 1 <= max_depth <= 40:
        # lcm(1..43) exceeds BIGINT; keep headroom below that cliff
        raise ValueError("harmonic_centrality: max_depth must be in 1..40")
    lcm = math.lcm(*range(1, max_depth + 1))
    visited = bfs_distances(edges, sources, max_depth=max_depth)
    return (
        visited.filter(F.col("d") > 0)
        .groupBy("id")
        # DECIMAL sum: Σ lcm/d over many sources can pass 2⁶³ at deep
        # horizons (lcm(1..40) ≈ 5.3e15) — same discipline as Brandes
        .agg(F.sum(F.expr(f"{lcm} div d").cast("decimal(38,0)")).alias("h_fp"))
        .select(
            "id", (F.col("h_fp").cast("double") / F.lit(float(lcm))).alias("value")
        )
    )


def _bfs_levels(sym, sources, n_sources, max_depth, col, init, agg):
    """Forward sweep shared by the sampled Brandes-family kernels:
    batched multi-source BFS over the symmetric edge table ``sym``
    from the (id) ``sources``. Level 0 is (s, id=s, ``col``=``init``);
    level d+1 holds the unseen vertices reached from level d, with
    ``col`` = ``agg`` over their predecessor messages (``sum(sigma)``
    for path counts, ``count(*)`` for predecessor counts). Returns the
    per-level checkpointed tables and their sizes (the backward pass
    reuses the sizes for the same broadcast↔shuffle choice)."""
    from graphem_rapids_spark import session

    broadcast_max = session.BROADCAST_POSITIONS_MAX
    frontier = sources.select(
        F.col("id").alias("s"), F.col("id"), init.alias(col)
    ).transform(eager_checkpoint)
    levels = [frontier]
    level_counts = [n_sources]
    seen = frontier.select("s", "id").transform(eager_checkpoint)
    frontier_n = n_sources
    for _ in range(max_depth):
        fr = F.broadcast(frontier) if frontier_n <= broadcast_max else frontier
        msgs = (
            sym.withColumnRenamed("src", "id")
            .join(fr, "id")
            .select("s", F.col("dst").alias("id"), col)
            .groupBy("s", "id")
            .agg(agg.alias(col))
        )
        # materialization + frontier count in one job (checkpoint_count)
        frontier, frontier_n = checkpoint_count(
            msgs.join(seen, ["s", "id"], "left_anti")
        )
        if frontier_n == 0:
            break
        levels.append(frontier)
        level_counts.append(frontier_n)
        # seen is a flat union of already-checkpointed frontiers — no
        # lineage growth, so no extra checkpoint job per round
        seen = seen.unionAll(frontier.select("s", "id"))
    return levels, level_counts


def _rescaled_dependency(
    spark, acc, vertices, n_vertices, n_sources, normalized, halve
):
    """Per-vertex value from the accumulated (id, delta_fp) parts:
    2⁻⁴⁰ fixed-point sum, sampling rescale by n/k (networkx
    convention), then ``normalized`` by (n-1)(n-2) or, unnormalized,
    halved for undirected betweenness (``halve``; load does not
    halve). Zero-filled over ``vertices`` (dense 0..n-1 when None)."""
    if vertices is None:
        vertices = spark.range(n_vertices).select(F.col("id").cast("long"))
    else:
        vertices = vertices.select(F.col("id").cast("long"))
    if acc is None:
        return vertices.select("id", F.lit(0.0).alias("value"))
    raw = acc.groupBy("id").agg(F.sum("delta_fp").alias("dfp_sum"))
    dsum = F.col("dfp_sum").cast("double") / F.lit(float(DELTA_FP_SCALE))
    scale = float(n_vertices) / float(n_sources)
    if normalized:
        denom = float(max((n_vertices - 1) * (n_vertices - 2), 1))
        val = dsum * scale / denom
    elif halve:
        val = dsum * scale / 2.0
    else:
        val = dsum * scale
    return vertices.join(raw, "id", "left").select(
        "id", F.coalesce(val, F.lit(0.0)).alias("value")
    )


def betweenness_sampled(
    edges: DataFrame,
    n_vertices: int,
    sources: DataFrame | None = None,
    normalized: bool = True,
    max_depth: int = 64,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Distributed Brandes betweenness over a batch of source vertices
    — the scale path the reference lacks (it guards betweenness to
    driver-side networkx below n=5000; this runs the same algorithm as
    shuffle-bounded dataflow).

    Forward pass: batched multi-source BFS (source column ``s``)
    keeping per-level tables ``(s, id, sigma)`` where sigma = number
    of shortest s→id paths (sum over predecessor messages — one
    broadcast-join + groupBy per level, the edge table never
    shuffles). Backward pass: dependency accumulation per level,
    ``delta(v) = Σ_w σ(v)/σ(w)·(1+delta(w))`` over successor edges —
    again one broadcast-join + groupBy per level. Every per-level
    table is ``localCheckpoint``-ed so plans stay flat.

    Dependencies accumulate in **2⁻⁴⁰ fixed point**: each successor
    contribution is quantized to a DECIMAL(38,0) integer before
    summing (σ path counts are DECIMAL too), so the per-vertex sums
    are exact integers with no float accumulation order — results are
    bit-identical across partitionings, engines, and reruns (the
    property the cross-engine oracle relies on), and stay exact to
    10³⁸ where 64-bit (or 2⁵³-double) accumulators would overflow on
    billion-vertex hubs or dense-graph path counts.
    Quantization error is ≤ 2⁻⁴¹ per edge contribution — orders of
    magnitude below the 1e-6 output rounding. On exact-integer
    dependency graphs (trees: every σ ratio is 1) the fixed-point
    path reproduces the float path bit-for-bit.

    With all vertices as sources this is exact Brandes; with k sampled
    sources the result is rescaled by n/k (networkx ``_rescale``
    convention, normalized = delta_sum/((n-1)(n-2)) for undirected).

    ``vertices`` is the output universe (one row per vertex id, zero
    filled); when None the ids are assumed dense 0..n-1. Pass the real
    vertex table for graphs with raw/sparse ids (e.g. part keys) —
    otherwise high-id vertices silently fall outside ``range(n)``.
    """
    spark = edges.sparkSession
    # row checkpoint (see pagerank): broadcast rounds are map-side
    # joins and AQE does not reuse a checkpoint's partitioning anyway
    sym = eager_materialize(symmetrize_edges(edges))
    if sources is None:
        sources = spark.range(n_vertices).select(F.col("id").cast("long"))
    n_sources = sources.count()
    from graphem_rapids_spark import session

    broadcast_max = session.BROADCAST_POSITIONS_MAX
    # sigma as DECIMAL(38,0): path counts are exact integers up to
    # 10³⁸ (a double would silently lose exactness past 2⁵³ on dense
    # graphs, reintroducing summation-order drift)
    levels, level_counts = _bfs_levels(
        sym, sources, n_sources, max_depth, "sigma",
        F.lit(1).cast("decimal(38,0)"), F.sum("sigma"),
    )

    # backward accumulation, deepest level has delta = 0.
    # delta_fp as DECIMAL(38,0): a hub vertex's delta can reach
    # n·2⁴⁰ ≈ 10²¹ at 10⁹ vertices — far past BIGINT — while the
    # oracle sums HUGEINT; DECIMAL keeps both engines exact to 10³⁸.
    acc = None
    delta_next = levels[-1].withColumn("delta_fp", F.lit(0).cast("decimal(38,0)"))
    for d in range(len(levels) - 2, -1, -1):
        # level sizes were counted in the forward pass — same
        # broadcast↔shuffle decision, no extra jobs
        dn = delta_next.select(
            "s", "id", F.col("sigma").alias("sigma_w"), F.col("delta_fp").alias("dfp_w")
        )
        up = (
            sym.withColumnRenamed("src", "id")
            .join(F.broadcast(dn) if level_counts[d + 1] <= broadcast_max else dn, "id")
            .select("s", F.col("dst").alias("id"), "sigma_w", "dfp_w")
        )
        cur = levels[d]
        # σ(v)/σ(w)·(1+delta_w) in 2⁻⁴⁰ fixed point: (FP + dfp_w) is an
        # exact DECIMAL sum converted once to double, the ratio·scale
        # product is one IEEE multiply, and round→DECIMAL makes the
        # groupBy sum order-free (exact integer arithmetic; both the
        # ratio operands and the scaled delta convert decimal→double
        # identically to the oracle's HUGEINT→DOUBLE)
        contrib = (
            cur.join(up, ["s", "id"])
            .groupBy("s", "id")
            .agg(
                F.sum(
                    F.round(
                        (F.col("sigma").cast("double") / F.col("sigma_w").cast("double"))
                        * (F.lit(DELTA_FP_SCALE) + F.col("dfp_w")).cast("double")
                    ).cast("decimal(38,0)")
                ).alias("delta_fp")
            )
        )
        # LEFT join: BFS dead-ends at this level (no successors below)
        # must stay with delta=0 — they still feed (1+0) upstream
        delta_next = (
            cur.join(contrib, ["s", "id"], "left")
            .select(
                "s",
                "id",
                "sigma",
                F.coalesce("delta_fp", F.lit(0).cast("decimal(38,0)")).alias(
                    "delta_fp"
                ),
            )
            .transform(eager_checkpoint)
        )
        if d > 0:  # level 0 is the sources themselves — excluded by Brandes
            part = delta_next.select("id", "delta_fp")
            acc = part if acc is None else acc.unionAll(part)
        # non-predecessor joins (same-level neighbors) were filtered by
        # the inner join against `cur` (exactly the level-d vertices)
    sym.unpersist()
    return _rescaled_dependency(
        spark, acc, vertices, n_vertices, n_sources, normalized, halve=True
    )


def betweenness_centrality(edges: DataFrame, n_vertices: int) -> DataFrame:
    """Driver-side networkx exact Brandes — the reference itself guards
    betweenness to n<5000 and runs networkx on CPU
    (``benchmarks/run_benchmarks.py:313-319``); same disposition here."""
    import networkx as nx

    if n_vertices >= 5000:
        raise ValueError("betweenness is exact/driver-side; guarded to n<5000 like the reference")
    spark = edges.sparkSession
    G = nx.Graph()
    G.add_nodes_from(range(n_vertices))
    G.add_edges_from((r.src, r.dst) for r in edges.collect())
    bc = nx.betweenness_centrality(G)
    return spark.createDataFrame(
        [(int(i), float(v)) for i, v in bc.items()], "id long, value double"
    )


def load_centrality(edges: DataFrame, n_vertices: int) -> DataFrame:
    """Driver-side networkx (reference ``benchmark.py:105-108``)."""
    import networkx as nx

    if n_vertices >= 5000:
        raise ValueError("load centrality is driver-side; guarded to n<5000 like the reference")
    spark = edges.sparkSession
    G = nx.Graph()
    G.add_nodes_from(range(n_vertices))
    G.add_edges_from((r.src, r.dst) for r in edges.collect())
    lc = nx.load_centrality(G)
    return spark.createDataFrame(
        [(int(i), float(v)) for i, v in lc.items()], "id long, value double"
    )


# -------------------------------------------------------------- A8–A10
def rank_column(df: DataFrame, col: str, out: str, partition_cols: tuple[str, ...] = ()) -> DataFrame:
    """Mean-rank (tie-aware) transform — scipy.stats.rankdata
    semantics: tied values get the average of their rank range,
    mean_rank = rank() + (tie_count − 1)/2.

    With partition_cols the windows are already distributed. The
    GLOBAL case avoids the partition-less window (all rows → one
    partition) via the range-partitioned prefix-sum in ``scale.py`` —
    bit-identical values, every stage distributed."""
    if not partition_cols:
        from graphem_rapids_spark.scale import global_mean_rank

        return global_mean_rank(df, col, out)
    w = Window.partitionBy(*partition_cols).orderBy(F.col(col).asc())
    wt = Window.partitionBy(*partition_cols, col)
    return df.withColumn(
        out, F.rank().over(w) + (F.count("*").over(wt) - 1) / 2.0
    )


def _corr_safe(a: str, b: str):
    """Pearson r as try_divide(covar, σa·σb): ANSI mode (Spark 4
    default) makes ``F.corr`` THROW on zero variance (constant column
    — e.g. degree centrality of a regular graph); scipy.spearmanr
    returns nan there, and so must we. NULL out → nan at the caller."""
    return F.try_divide(
        F.covar_samp(F.col(a), F.col(b)),
        F.stddev_samp(F.col(a)) * F.stddev_samp(F.col(b)),
    )


def spearman_correlation(df: DataFrame, col_a: str, col_b: str) -> float:
    """scipy.stats.spearmanr (reference ``benchmark.py:217-238``):
    Pearson ``corr`` of mean-ranks."""
    ranked = rank_column(rank_column(df, col_a, "_ra"), col_b, "_rb")
    out = ranked.agg(_corr_safe("_ra", "_rb")).first()[0]
    return float(out) if out is not None else float("nan")


def full_correlation_matrix(df: DataFrame, cols: list[str]) -> dict:
    """Pairwise Spearman over measure columns (reference
    ``visualization.py:52-90``). Ranks computed once per column, all
    correlations in ONE aggregate pass."""
    ranked = df
    for c in cols:
        ranked = rank_column(ranked, c, f"_r_{c}")
    aggs = [
        _corr_safe(f"_r_{a}", f"_r_{b}").alias(f"{a}|{b}")
        for i, a in enumerate(cols)
        for b in cols[i:]
    ]
    row = ranked.agg(*aggs).first()
    out = {}
    for i, a in enumerate(cols):
        for b in cols[i:]:
            v = row[f"{a}|{b}"]
            out[(a, b)] = out[(b, a)] = float(v) if v is not None else float("nan")
    return out


def bootstrap_spearman_ci(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n_boot: int = 1000,
    ci: float = 0.95,
    seed: int = 0,
) -> tuple[float, float, float]:
    """(point, lo, hi) — Poisson bootstrap (each row appears
    Poisson(1)× per trial; the standard distributed resampling scheme)
    replacing the reference's 1000 driver-side resamples
    (``visualization.py:11-49``). All trials share one shuffle."""
    point = spearman_correlation(df, col_a, col_b)
    spark = df.sparkSession
    trials = spark.range(n_boot).select(F.col("id").cast("int").alias("trial"))
    # Poisson(1) inverse-CDF on a deterministic hash-uniform
    cum = []
    acc, p, fact = 0.0, math.exp(-1.0), 1
    for k in range(8):
        if k > 0:
            fact *= k
        acc += math.exp(-1.0) / fact
        cum.append(acc)
    u = (
        F.pmod(F.xxhash64(F.col("_rowid"), F.col("trial"), F.lit(seed)), F.lit(_HASH_BUCKETS)).cast("double")
        / F.lit(float(_HASH_BUCKETS))
    )
    cnt = F.lit(8)
    for k in range(7, -1, -1):
        cnt = F.when(u < cum[k], F.lit(k)).otherwise(cnt)
    base = df.select(col_a, col_b).withColumn("_rowid", F.monotonically_increasing_id())
    exploded = (
        base.crossJoin(trials)
        .withColumn("_cnt", cnt)
        .filter(F.col("_cnt") > 0)
        .withColumn("_dup", F.explode(F.sequence(F.lit(1), F.col("_cnt"))))
    )
    ranked = rank_column(
        rank_column(exploded, col_a, "_ra", ("trial",)), col_b, "_rb", ("trial",)
    )
    per_trial = ranked.groupBy("trial").agg(_corr_safe("_ra", "_rb").alias("rho"))
    lo_q, hi_q = (1 - ci) / 2, 1 - (1 - ci) / 2
    qs = per_trial.agg(
        F.percentile_approx("rho", [lo_q, hi_q], 10000).alias("q")
    ).first()["q"]
    return point, float(qs[0]), float(qs[1])


def hindex_round(sym: DataFrame, c: DataFrame) -> DataFrame:
    """One synchronous h-index refinement: every vertex's value
    becomes the h-index of its neighbors' current values (Lü et al.
    2016: iterating neighbor h-indices from degrees converges to
    coreness). One join + one vertex-partitioned window + one agg —
    all exact integer math. At 100 TB the per-vertex window is
    bounded by degree; hub vertices are the same skew surface as
    every neighborhood aggregation here (AQE skew splitting; a
    counting-based h-index — h = max r with ≥r neighbors ≥r — drops
    the sort entirely if hub degrees demand it)."""
    j = sym.join(
        c.select(F.col("id").alias("dst"), F.col("c").alias("cv")), "dst"
    ).select("src", "cv")
    w = Window.partitionBy("src").orderBy(F.desc("cv"))
    return (
        j.withColumn("rk", F.row_number().over(w).cast("long"))
        .select("src", F.least("cv", F.col("rk")).alias("m"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.max("m").alias("c"))
    )


def coreness(edges: DataFrame, max_rounds: int = 60) -> DataFrame:
    """(id, core) — the full k-core decomposition (every vertex's core
    number) by synchronous h-index iteration from degrees; converges
    to exact coreness (Lü et al. 2016) — ~20 rounds on the sf0.01
    co-purchase graph, ~40 at sf0.1. Values are monotone
    non-increasing integers ≥ ⌈coreness⌉, so the fixpoint check is a
    changed-row count, and each round's join shuffles only the edge
    stream against the O(n) value table (the one-edge-shuffle
    discipline of the other iterative kernels)."""
    sym = symmetrize_edges(edges).transform(eager_checkpoint)
    c = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("c"))
        .transform(eager_checkpoint)
    )
    changed = -1  # "never iterated" sentinel for the max_rounds=0 case
    for _ in range(max_rounds):
        new = hindex_round(sym, c).transform(eager_checkpoint)
        changed = (
            new.join(c.select("id", F.col("c").alias("_old")), "id")
            .filter(F.col("c") != F.col("_old"))
            .count()
        )
        prev, c = c, new
        prev.unpersist()
        if changed == 0:
            break
    else:
        # loop exhausted max_rounds with changed > 0: values are still
        # upper bounds, not exact coreness — surface it instead of
        # silently returning (the docstring promises exactness)
        still = "never iterated" if changed < 0 else f"{changed} vertices still changing"
        warnings.warn(
            f"coreness: not converged after {max_rounds} rounds "
            f"({still}); returned values are upper bounds — raise "
            "max_rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    sym.unpersist()
    return c.select("id", F.col("c").alias("core"))


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.001,
    beta: float = 1.0,
    max_iter: int = 8,
    vertices: DataFrame | None = None,
    broadcast_max: int | None = None,
) -> DataFrame:
    """(id, value) — Katz centrality by fixed-iteration expansion
    x ← β + α·A·x (attenuated path-count form; networkx
    ``katz_centrality`` semantics without the final L2 normalization,
    which adds no information to a ranking). A §2.5-adjacent
    centrality the reference's benchmark harness lacks; same physical
    shape as :func:`pagerank`: one message join + one groupBy per
    iteration over a symmetrized edge table partitioned ONCE on the
    key the chosen strategy reuses, ``localCheckpoint`` per iteration
    to keep plans flat. Fixed iterations → unrolls to a SQL oracle."""
    from graphem_rapids_spark.graph.canon import vertices_from_edges

    verts = (
        vertices.select(F.col("id").cast("long"))
        if vertices is not None
        else vertices_from_edges(edges)
    )
    n = verts.count()
    use_broadcast = _vertex_table_fits_broadcast(n, broadcast_max)
    sym = symmetrize_edges(edges).repartition(
        F.col("dst") if use_broadcast else F.col("src")
    ).persist()
    x = verts.select("id", F.lit(beta).alias("value")).transform(eager_checkpoint)
    for _ in range(max_iter):
        msg = (
            sym.withColumnRenamed("src", "id")
            .join(F.broadcast(x) if use_broadcast else x, "id")
            .select(F.col("dst").alias("id"), F.col("value").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        x_new = verts.join(msg, "id", "left").select(
            "id",
            (F.lit(beta) + F.lit(alpha) * F.coalesce("s", F.lit(0.0))).alias("value"),
        ).transform(eager_checkpoint)
        x.unpersist()
        x = x_new
    sym.unpersist()
    return x


def hits(
    edges: DataFrame,
    max_iter: int = 4,
) -> DataFrame:
    """(role, id, score) — HITS hubs & authorities on a DIRECTED
    bipartite edge table ``(src, dst)`` (hub = src side, authority =
    dst side): unnormalized power iteration a ← Aᵀh, h ← A·a for
    ``max_iter`` rounds, then ONE normalization by the max score per
    role (scale-free ranking; per-iteration normalization would cost
    a global float reduce per round and adds nothing to a fixed-
    iteration run — doubles hold the unnormalized growth easily).
    Each half-step is one join + one groupBy on the edge table,
    partitioned once; same broadcast discipline as the other
    centralities. On an undirected graph HITS degenerates to
    eigenvector centrality — use :func:`eigenvector_centrality`
    there."""
    if max_iter < 1:
        raise ValueError("hits: max_iter must be >= 1")
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long")).persist()
    h = (
        e.select(F.col("src").alias("id")).distinct()
        .select("id", F.lit(1.0).alias("score"))
        .transform(eager_checkpoint)
    )
    a = None
    for _ in range(max_iter):
        a = (
            e.join(h.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("score").alias("score"))
            .transform(eager_checkpoint)
        )
        h_new = (
            e.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("score").alias("score"))
            .transform(eager_checkpoint)
        )
        h.unpersist()
        h = h_new
    e.unpersist()

    def _norm(df, role):
        mx = df.agg(F.max("score")).first()[0] or 1.0
        return df.select(
            F.lit(role).alias("role"),
            "id",
            (F.col("score") / F.lit(mx)).alias("score"),
        )

    return _norm(h, "hub").unionAll(_norm(a, "authority"))


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    steps: int = 8,
    reps: int = 4,
    seed: int = 11,
) -> DataFrame:
    """(walker, step, id) — deterministic hash-driven uniform random
    walks over the symmetrized graph: ``reps`` walkers start at each
    seed vertex, and at step t walker w at vertex v moves to the
    ``idx``-th neighbor of v (neighbors ordered by id) where
    idx = 1 + ⌊mix(v·4096 + w·16 + t)·deg(v)⌋ — the mixer's [0,1)
    output times an integer degree is EXACT double arithmetic
    (k·deg < 2⁵³), so both engines pick the identical neighbor and
    the whole trajectory set is integer-reproducible (the sampling
    primitive behind node2vec-style embedding corpora at scale).

    Physical shape: the neighbor table (src-partitioned window for
    per-source neighbor ranks) is built ONCE; each step joins the
    tiny walker-state table (|seeds|·reps rows, broadcast) against it
    — the edge table never re-shuffles. Returns every visited
    position including step 0."""
    from graphem_rapids_spark.functions import mix_uniform

    sym = symmetrize_edges(edges)
    w_nbr = Window.partitionBy("src").orderBy(F.col("dst").asc())
    nbr = (
        sym.select("src", "dst")
        .withColumn("rn", F.row_number().over(w_nbr))
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .persist()
    )
    rep = seeds.sparkSession.range(reps).select(F.col("id").cast("long").alias("rep"))
    state = (
        seeds.select(F.col("id").cast("long").alias("v0"))
        .crossJoin(rep)
        .select(
            (F.col("v0") * reps + F.col("rep")).alias("walker"),
            F.lit(0).alias("step"),
            F.col("v0").alias("id"),
        )
        .transform(eager_checkpoint)
    )
    out = state
    for t in range(1, steps + 1):
        # current vertex is "src" after the rename-join below
        key = F.col("src") * 4096 + F.col("walker") * 16 + F.lit(t)
        idx = (
            F.lit(1)
            + F.floor(mix_uniform(key, seed) * F.col("deg").cast("double"))
        ).cast("int")
        state = (
            nbr.join(
                F.broadcast(state.withColumnRenamed("id", "src")), "src"
            )
            .filter(F.col("rn") == idx)
            .select("walker", F.lit(t).alias("step"), F.col("dst").alias("id"))
            .transform(eager_checkpoint)
        )
        out = out.unionAll(state)
    nbr.unpersist()
    return out

def node2vec_walks(
    edges: DataFrame,
    seeds: DataFrame,
    steps: int = 4,
    reps: int = 4,
    seed: int = 13,
    w_return: int = 1,
    w_common: int = 4,
    w_out: int = 16,
) -> DataFrame:
    """(walker, step, id) — deterministic SECOND-ORDER biased walks
    (node2vec; Grover & Leskovec 2016): at each step the walker at
    ``cur`` (having come from ``prev``) weighs each neighbor ``x`` by
    1/p if ``x = prev`` (return), 1 if ``x`` is also adjacent to
    ``prev`` (BFS-ish), 1/q otherwise (DFS-ish). Weights are INTEGER
    (defaults 1/4/16 = p=4, q=1/4 scaled by 4) and the choice is a
    cumulative-weight threshold ``floor(mix(key)·W)`` — W ≤ w_out·deg
    so mix·W is exact double arithmetic and both engines walk the
    identical trajectory (the reference samples node2vec-style
    corpora on GPU; here the bias logic is two joins + one bounded
    window per step). Step 1 seeds ``prev = cur``: no self-edges
    means every candidate scores ``w_common`` — a uniform first hop
    through the same machinery.

    Physical shape: the symmetrized edge table is built once and
    persisted; each step (a) joins the tiny broadcast walker state to
    it for candidates, (b) left-joins candidates back to it on
    (prev, dst) for the common-neighbor test — candidate volume is
    Σ deg(cur) over walkers, never edge-scale — and (c) picks one row
    per walker with a walker-partitioned running-sum window."""
    from graphem_rapids_spark.functions import mix_uniform

    sym = symmetrize_edges(edges).select("src", "dst").persist()
    adj = sym.select(F.col("src").alias("_pa"), F.col("dst").alias("_pb"))
    rep = seeds.sparkSession.range(reps).select(F.col("id").cast("long").alias("rep"))
    state = (
        seeds.select(F.col("id").cast("long").alias("v0"))
        .crossJoin(rep)
        .select(
            (F.col("v0") * reps + F.col("rep")).alias("walker"),
            F.col("v0").alias("prev"),
            F.col("v0").alias("cur"),
        )
        .transform(eager_checkpoint)
    )
    out = state.select("walker", F.lit(0).alias("step"), F.col("cur").alias("id"))
    w_cum = (
        Window.partitionBy("walker")
        .orderBy(F.col("dst").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("walker")
    for t in range(1, steps + 1):
        cand = (
            sym.join(F.broadcast(state), sym["src"] == state["cur"])
            .join(
                adj,
                (F.col("_pa") == F.col("prev")) & (F.col("_pb") == F.col("dst")),
                "left",
            )
            .select(
                "walker",
                "prev",
                "cur",
                "dst",
                F.when(F.col("dst") == F.col("prev"), F.lit(w_return))
                .when(F.col("_pa").isNotNull(), F.lit(w_common))
                .otherwise(F.lit(w_out))
                .alias("w"),
            )
        )
        key = F.col("cur") * 4096 + F.col("walker") * 16 + F.lit(t)
        thr = F.floor(
            mix_uniform(key, seed) * F.sum("w").over(w_tot).cast("double")
        )
        state = (
            cand.withColumn("_cum", F.sum("w").over(w_cum))
            .withColumn("_thr", thr)
            .filter(
                (F.col("_cum") - F.col("w") <= F.col("_thr"))
                & (F.col("_thr") < F.col("_cum"))
            )
            .select("walker", F.col("cur").alias("prev"), F.col("dst").alias("cur"))
            .transform(eager_checkpoint)
        )
        out = out.unionAll(
            state.select("walker", F.lit(t).alias("step"), F.col("cur").alias("id"))
        )
    sym.unpersist()
    return out


def minimum_spanning_forest(
    wedges: DataFrame,
    rounds: int = 5,
    jumps: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """(components, mst_edges) — distributed Borůvka minimum spanning
    forest over a canonical weighted edge list ``(src, dst, weight)``
    with ``src < dst``. Edges carry the STRICT total order
    ``(weight, src, dst)`` — distinct edges always differ in the id
    pair — so the forest is unique, every per-component minimum pick
    is deterministic, and (classic Borůvka argument) the hooking
    functional graph can only contain 2-cycles, which the
    smaller-id-wins rule roots. The merge schedule is FIXED
    (``rounds`` Borůvka rounds × ``jumps`` pointer-jumping doublings,
    run identically by the SQL oracle), so results are
    hash-reproducible cross-engine at any depth; at the default
    5×8 schedule every graph whose hooking trees stay under depth
    2⁸ per round — vastly more than these inputs need — is the exact
    MSF (``tests`` pin the spanning invariant
    |edges| = |V| − |components|).

    Physical shape: each round is one edge-table annotation join
    (edge table partitioned once, labels are the small side), one
    per-component min aggregate, and ``jumps`` self-joins of the
    component-pointer table (component-count rows, shrinking
    geometrically) — the O(log² n) total-work discipline of the
    star-contraction CC kernel, plus the MST pick.

    Iteration discipline (measured, not theoretical): every generation
    is materialized with ``localCheckpoint`` (truncates lineage — a
    lazy doubling chain is a 2^jumps-leaf plan) **and** ``persist`` +
    ``count`` (resets Catalyst's sizeInBytes estimate — ``visitJoin``
    multiplies both sides' estimates, the product survives a bare
    localCheckpoint via the LogicalRDD's inherited stats, and after
    ~18 self-join generations the estimate is a million-bit BigInt
    whose multiplication dominates planning: the 10-row repro went
    0.2 s → 50 s per step; SCALE.md §iteration-discipline)."""
    dir_ = wedges.select(
        F.col("src").alias("esrc"), F.col("dst").alias("edst"),
        F.col("weight").cast("long").alias("w"),
    )
    dire = (
        dir_.select("esrc", "edst", "w", F.col("esrc").alias("u"), F.col("edst").alias("v"))
        .unionAll(
            dir_.select("esrc", "edst", "w", F.col("edst").alias("u"), F.col("esrc").alias("v"))
        )
        .persist()
    )

    _mat = iter_materialize
    comp = _mat(
        dire.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
    )
    picked = None
    for _r in range(rounds):
        lab = comp.select(F.col("id").alias("_i"), F.col("lbl").alias("_l"))
        ce = (
            dire.join(lab, dire["u"] == lab["_i"])
            .select("esrc", "edst", "w", "v", F.col("_l").alias("cu"))
            .join(lab, F.col("v") == lab["_i"])
            .select("esrc", "edst", "w", "cu", F.col("_l").alias("cv"))
            .filter(F.col("cu") != F.col("cv"))
        )
        sel = _mat(
            ce.groupBy("cu")
            .agg(F.min(F.struct("w", "esrc", "edst", "cv")).alias("m"))
            .select(
                "cu",
                F.col("m.w").alias("w"),
                F.col("m.esrc").alias("esrc"),
                F.col("m.edst").alias("edst"),
                F.col("m.cv").alias("cv"),
            )
        )
        picks = sel.select("esrc", "edst", "w")
        picked = picks if picked is None else picked.unionAll(picks)
        mu = sel.select(F.col("cu").alias("mc"), F.col("cv").alias("mt"))
        p = (
            sel.join(mu, (sel["cu"] == mu["mt"]) & (sel["cv"] == mu["mc"]), "left")
            .select(
                F.col("cu").alias("c"),
                F.when(
                    F.col("mc").isNotNull() & (F.col("cu") < F.col("cv")), F.col("cu")
                )
                .otherwise(F.col("cv"))
                .alias("par"),
            )
        )
        # materialize EVERY generation (lineage + stats reset — see
        # docstring): a doubling references the pointer table twice
        p = _mat(p)
        for _j in range(jumps):
            pr = p.select(F.col("c").alias("c2"), F.col("par").alias("par2"))
            p = _mat(
                p.join(pr, p["par"] == pr["c2"], "left").select(
                    "c", F.coalesce("par2", "par").alias("par")
                ),
                p,
            )
        comp = _mat(
            comp.join(p, comp["lbl"] == p["c"], "left").select(
                "id", F.coalesce("par", "lbl").alias("lbl")
            ),
            comp,
        )
        p.unpersist()
    dire.unpersist()
    return comp, picked.distinct()

def maximal_independent_set(
    edges: DataFrame,
    rounds: int = 8,
    seed: int = 17,
) -> tuple[DataFrame, DataFrame]:
    """(mis, undecided) — Luby-style maximal independent set with
    DETERMINISTIC integer priorities: π(v) = mixer(v)·2³¹ + v (a
    strict total order — the mixer value is an exact integer < 2³¹
    and ids break collisions), a vertex enters the MIS in a round iff
    its priority is smaller than every still-undecided neighbor's;
    winners and their neighbors retire. With fixed priorities this
    converges to exactly the SEQUENTIAL greedy MIS of the priority
    permutation (the lexicographically-first MIS), so the whole run
    is reproducible cross-engine and against a driver-side greedy
    oracle. ``rounds`` is a FIXED schedule (mirrored by the SQL
    oracle); Luby needs O(log n) rounds w.h.p. and ``undecided``
    reports anything unfinished (empty at convergence — pinned by
    tests).

    Physical shape: per round one neighbor-min aggregate over the
    surviving edge set + two semi-joins to retire vertices; the edge
    set shrinks geometrically. Each generation is materialized with
    the checkpoint+persist discipline (SCALE.md
    §iteration-discipline)."""
    from graphem_rapids_spark.functions import MIX_M, mix_uniform

    pri = (
        F.round(mix_uniform(F.col("id"), seed) * F.lit(float(MIX_M)))
        .cast("long")
        * F.lit(2_147_483_648)
        + F.col("id")
    )
    und = iter_materialize(
        edges.select(F.explode(F.array("src", "dst")).alias("id"))
        .distinct()
        .select("id", pri.alias("p"))
    )
    esym = iter_materialize(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
    )
    mis = None
    for _r in range(rounds):
        nm = (
            esym.join(und.select(F.col("id").alias("_v"), F.col("p").alias("_pv")),
                      esym["v"] == F.col("_v"))
            .groupBy("u")
            .agg(F.min("_pv").alias("nbr_min"))
        )
        win = (
            und.join(nm, und["id"] == nm["u"], "left")
            .filter(F.col("nbr_min").isNull() | (F.col("p") < F.col("nbr_min")))
            .select("id")
        )
        win = iter_materialize(win)
        mis = win if mis is None else iter_materialize(mis.unionAll(win), mis)
        retired = iter_materialize(
            win.unionAll(
                esym.join(win.select(F.col("id").alias("_w")), esym["u"] == F.col("_w"))
                .select(F.col("v").alias("id"))
            ).distinct()
        )
        und = iter_materialize(
            und.join(retired, "id", "left_anti"), und
        )
        esym = iter_materialize(
            esym.join(und.select(F.col("id").alias("_ku")), esym["u"] == F.col("_ku"))
            .select("u", "v")
            .join(und.select(F.col("id").alias("_kv")), F.col("v") == F.col("_kv"))
            .select("u", "v"),
            esym,
        )
        retired.unpersist()
        if win is not mis:  # round 1's winners ARE the MIS so far
            win.unpersist()
        if und.count() == 0:
            break
    return mis, und.select("id")

def maximal_matching(
    edges: DataFrame,
    rounds: int = 16,
    seed: int = 23,
) -> DataFrame:
    """(s, d) — Luby-style maximal matching: each round an edge is
    matched iff it carries the minimum priority among ALL edges
    touching either endpoint (deterministic total order: mixer hash
    of the edge key, ties broken by (s, d)); matched endpoints and
    their incident edges retire. With fixed priorities this converges
    to the SEQUENTIAL greedy matching of the priority permutation —
    reproducible cross-engine and against a driver-side greedy
    oracle. ``rounds`` is a FIXED schedule mirrored by the SQL
    oracle (Luby matching needs O(log n) rounds w.h.p.; measured
    6–11 on the co-purchase graphs, default 16).

    Physical shape: per round one per-vertex min aggregate over the
    surviving edges + two semi-joins to retire matched endpoints; the
    live edge set shrinks geometrically. Generations are materialized
    with the checkpoint+persist discipline (SCALE.md
    §iteration-discipline)."""
    from graphem_rapids_spark.functions import MIX_M, mix_uniform

    h = (
        F.round(
            mix_uniform(F.col("s") * 131071 + F.col("d"), seed)
            * F.lit(float(MIX_M))
        ).cast("long")
    )
    live = iter_materialize(
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .distinct()
        .select("s", "d", h.alias("h"))
    )
    matched = None
    for _r in range(rounds):
        sym = live.select(F.col("s").alias("v"), "s", "d", "h").unionAll(
            live.select(F.col("d").alias("v"), "s", "d", "h")
        )
        best = (
            sym.groupBy("v")
            .agg(F.min(F.struct("h", "s", "d")).alias("m"))
            .select("v", F.col("m.s").alias("bs"), F.col("m.d").alias("bd"))
        )
        b1 = best.select(
            F.col("v").alias("_v1"), F.col("bs").alias("_s1"), F.col("bd").alias("_d1")
        )
        b2 = best.select(
            F.col("v").alias("_v2"), F.col("bs").alias("_s2"), F.col("bd").alias("_d2")
        )
        win = iter_materialize(
            live.join(
                b1,
                (F.col("_v1") == F.col("s"))
                & (F.col("_s1") == F.col("s"))
                & (F.col("_d1") == F.col("d")),
            )
            .join(
                b2,
                (F.col("_v2") == F.col("d"))
                & (F.col("_s2") == F.col("s"))
                & (F.col("_d2") == F.col("d")),
            )
            .select("s", "d")
        )
        matched = (
            win if matched is None else iter_materialize(matched.unionAll(win), matched)
        )
        used = win.select(F.col("s").alias("u")).unionAll(
            win.select(F.col("d").alias("u"))
        )
        live = iter_materialize(
            live.join(used, live["s"] == used["u"], "left_anti")
            .join(used, F.col("d") == used["u"], "left_anti"),
            live,
        )
        if win is not matched:  # round 1's winners ARE the matching so far
            win.unpersist()
        if live.count() == 0:
            break
    return matched.select("s", "d")

def densest_subgraph(
    edges: DataFrame,
    rounds: int = 28,
    eps_num: int = 2,
) -> tuple[int, int, int]:
    """(best_round, n_sub, m_sub) — Bahmani et al. (2012) parallel
    2(1+ε)-approximate densest subgraph by batch peeling: each round
    removes EVERY vertex whose degree satisfies dg·n ≤ ``eps_num``·m
    (eps_num = 2(1+ε); the default 2 → ε = 0 peels exactly the
    at-or-below-average-degree vertices — the gentlest batch peel,
    which recovers planted dense cores the coarser ε > 0 thresholds
    wipe out in one round; measured 6–13 rounds on the co-purchase
    graphs), tracking the
    round-start (n, m) state with the best edge density m/n. All
    comparisons are CROSS-MULTIPLIED integers (dg·n vs 3m; density
    argmax by m₁n₂ vs m₂n₁, ties to the earlier round), so the run is
    exactly reproducible against the unrolled SQL oracle. Σdeg = 2m
    guarantees min-degree·n ≤ 2m — at least one removal per round
    (a perfectly regular graph removes everything at once), so the
    fixed schedule always terminates.

    Physical shape: per round one degree aggregate over the surviving
    edges + two semi-joins; the scalar (n, m) round stats are the
    only driver state (bounded-collect contract). Generations use the
    checkpoint+persist discipline (SCALE.md §iteration-discipline)."""
    live = iter_materialize(
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d")).distinct()
    )
    best = None  # (round, n, m), maximizing m/n by cross-multiplication
    for r in range(1, rounds + 1):
        m = live.count()
        if m == 0:
            break
        deg = iter_materialize(
            live.select(F.col("s").alias("v"))
            .unionAll(live.select(F.col("d").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("dg"))
        )
        n = deg.count()
        if best is None or m * best[1] > best[2] * n:
            best = (r, n, m)
        keep = deg.filter(F.col("dg") * F.lit(n) > F.lit(eps_num) * F.lit(m)).select(
            "v"
        )
        live = iter_materialize(
            live.join(keep.select(F.col("v").alias("_ks")), F.col("s") == F.col("_ks"))
            .select("s", "d")
            .join(keep.select(F.col("v").alias("_kd")), F.col("d") == F.col("_kd"))
            .select("s", "d"),
            live,
        )
        deg.unpersist()
    return best


def hyperball(
    edges: DataFrame,
    m: int = 16,
    rounds: int = 2,
    seed: int = 4099,
    symmetrize: bool = True,
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): per-vertex HyperLogLog ball-
    cardinality estimates — the neighborhood function that makes
    effective-diameter computation feasible on billion-edge graphs.
    Returns ``(id, est_r1, ..., est_r{rounds})``: the estimated number
    of vertices within distance t of each vertex (including itself),
    as a plain DataFrame a user can aggregate into the neighborhood
    function / effective diameter.

    This is the SKETCH-ONLY library operator the registry demo query
    ``graph_hyperball`` wraps (that entry fuses an exact-2-hop
    verifier — a wedge expansion quadratic in dense neighborhoods —
    purely to exhibit the sketch error at sf-small; VERDICT r5 item
    3). At 100 TB you run THIS: per round exactly one
    (edge ⋈ register) shuffle + a groupBy-max merge; state is sparse
    (vertex, bucket, max-rho) rows — min(ball, m) rows per vertex —
    so the per-round join amplification is bounded by ``m`` (the
    accuracy/cost knob: m=16 ≈ 26% std err, 4× cheaper than m=64).

    ``m`` must be a power of two. Register math is exact-integer
    (31-bit multiply-mod/xor-shift mixer, CASE rho ladder), so runs
    replay bit-identically across engines and sessions.

    Reference context: graphem-rapids has no sketch-radius operator;
    this is north-star scale surface (the exact analog,
    ``analytics.graph_stats``'s LCC/BFS paths, stops at components).
    """
    import math as _math

    from graphem_rapids_spark.functions import MIX_M, mix_uniform

    if m < 2 or m & (m - 1):
        raise ValueError(f"m must be a power of two >= 2, got {m}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    p = int(_math.log2(m))
    wbits = 31 - p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    rho = "(CASE {whens} ELSE {top} END)".format(
        whens=" ".join(
            f"WHEN _w >= {1 << (wbits - 1 - i)} THEN {i + 1}" for i in range(wbits)
        ),
        top=wbits + 1,
    )

    sym = symmetrize_edges(edges) if symmetrize else edges
    verts = sym.select(F.col("src").alias("id")).distinct()
    hv = F.floor(mix_uniform(F.col("id"), seed) * F.lit(float(MIX_M))).cast("long")
    regs = verts.select(
        "id",
        F.shiftright(hv, wbits).alias("bucket"),
        (hv % F.lit(1 << wbits)).alias("_w"),
    ).select("id", "bucket", F.expr(rho).alias("m"))

    def _estimate(r, alias):
        # sparse harmonic sum: absent buckets contribute 2^0 = 1 each
        per_v = r.groupBy("id").agg(
            F.count("*").alias("present"),
            F.sum(
                F.expr("1.0 / CAST(shiftleft(1L, CAST(m AS INT)) AS DOUBLE)")
            ).alias("sp"),
        )
        s = (F.lit(m) - F.col("present")).cast("double") + F.col("sp")
        zeros = (F.lit(m) - F.col("present")).cast("long")
        raw = F.lit(alpha * m * m) / s
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
        ).otherwise(raw)
        return per_v.select("id", F.round(est, 4).alias(alias))

    ests = []
    for t in range(1, rounds + 1):
        nbr = sym.join(regs.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id"), "bucket", "m"
        )
        regs = (
            regs.unionByName(nbr).groupBy("id", "bucket").agg(F.max("m").alias("m"))
        )
        if rounds > 2:
            regs = iter_materialize(regs)
        ests.append(_estimate(regs, f"est_r{t}"))

    out = ests[0]
    for e in ests[1:]:
        out = out.join(e, "id")
    return out


def load_sampled(
    edges: DataFrame,
    n_vertices: int,
    sources: DataFrame | None = None,
    normalized: bool = True,
    max_depth: int = 64,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Distributed load centrality (Newman betweenness) over a batch
    of source vertices — the scale upgrade of the driver-networkx
    :func:`load_centrality` (reference guards it to n<5000,
    ``benchmark.py:105-108``; SURVEY §2 A6), graduating exactly the
    way betweenness (A2) did in round 3.

    Load differs from Brandes betweenness only in the backward
    accumulation convention: a vertex w at BFS level d+1 distributes
    ``(1 + delta_w) / npred(w)`` EQUALLY to each shortest-path
    predecessor — hypothetical packet routing — instead of
    proportionally to path counts ``sigma_v / sigma_w``. The forward
    pass therefore carries ``npred`` (number of level-d neighbors,
    the free count(*) of the same predecessor-message groupBy Brandes
    sums sigma over) and needs no path counts at all; the backward
    pass is the same per-level broadcast-join + groupBy with the
    ratio swapped. Contributions accumulate in the same 2^-40 fixed
    point (DECIMAL(38,0) sums — exact integers, no float summation
    order, bit-identical across engines/partitionings/reruns).

    networkx conventions: contributions never flow INTO a source
    (level 0 is excluded from the accumulation, matching nx's
    ``x == source: break``), sampled sources rescale by n/k, and
    ``normalized`` divides by (n-1)(n-2) — note NO extra /2 for
    undirected graphs, unlike betweenness (nx.load_centrality does
    not halve)."""
    spark = edges.sparkSession
    sym = eager_materialize(symmetrize_edges(edges))
    if sources is None:
        sources = spark.range(n_vertices).select(F.col("id").cast("long"))
    n_sources = sources.count()
    from graphem_rapids_spark import session

    broadcast_max = session.BROADCAST_POSITIONS_MAX
    # npred of a source is never read (level 0 never plays w in the
    # backward pass) — 1 is a placeholder
    levels, level_counts = _bfs_levels(
        sym, sources, n_sources, max_depth, "npred",
        F.lit(1).cast("long"), F.count("*"),
    )

    acc = None
    delta_next = levels[-1].withColumn("delta_fp", F.lit(0).cast("decimal(38,0)"))
    for d in range(len(levels) - 2, -1, -1):
        dn = delta_next.select(
            "s", "id", F.col("npred").alias("npred_w"), F.col("delta_fp").alias("dfp_w")
        )
        up = (
            sym.withColumnRenamed("src", "id")
            .join(F.broadcast(dn) if level_counts[d + 1] <= broadcast_max else dn, "id")
            .select("s", F.col("dst").alias("id"), "npred_w", "dfp_w")
        )
        cur = levels[d]
        # (1 + delta_w)/npred_w in 2^-40 fixed point: the numerator is
        # an exact DECIMAL sum converted once to double, one IEEE
        # divide, round -> DECIMAL makes the groupBy sum order-free
        contrib = (
            cur.join(up, ["s", "id"])
            .groupBy("s", "id")
            .agg(
                F.sum(
                    F.round(
                        (F.lit(DELTA_FP_SCALE) + F.col("dfp_w")).cast("double")
                        / F.col("npred_w").cast("double")
                    ).cast("decimal(38,0)")
                ).alias("delta_fp")
            )
        )
        delta_next = (
            cur.join(contrib, ["s", "id"], "left")
            .select(
                "s",
                "id",
                "npred",
                F.coalesce("delta_fp", F.lit(0).cast("decimal(38,0)")).alias(
                    "delta_fp"
                ),
            )
            .transform(eager_checkpoint)
        )
        if d > 0:
            part = delta_next.select("id", "delta_fp")
            acc = part if acc is None else acc.unionAll(part)
    sym.unpersist()
    return _rescaled_dependency(
        spark, acc, vertices, n_vertices, n_sources, normalized, halve=False
    )


def modularity_numerators(
    edges: DataFrame, labels: DataFrame, cols: list[str]
) -> tuple[int, list[tuple[int, int]]]:
    """Exact Newman modularity of the partitions in ``labels``' columns
    ``cols`` (keyed by ``id``) on the canonical unweighted ``edges``:
    Q = num / 4m² with num = Σ_c (4m·m_c − D_c²) = 4m·Σ_c m_c − Σ_c D_c²,
    every term a BIGINT count, so both engines agree bit-exactly
    before the one final division. Returns ``(m, [(num,
    n_communities) per column])``, all from ONE collect: m and every
    Σ_c m_c are conditional counts over one pass of the edge stream
    (map-side partial, no per-community exchange), and only the n-row
    degree table groups by community — once for all columns, via one
    explode tagging each degree with every column's label.
    Communities count the labels of non-isolated vertices."""
    idx = range(len(cols))
    src, dst = (
        labels.select(
            F.col("id").alias(end),
            *[F.col(c).alias(f"_{end}{i}") for i, c in enumerate(cols)],
        )
        for end in ("src", "dst")
    )
    # LEFT joins: every edge counts toward m; an unlabelled end is
    # never intra-community
    intra = (
        edges.join(src, "src", "left")
        .join(dst, "dst", "left")
        .agg(
            F.count("*").alias("m"),
            *[
                F.coalesce(
                    F.sum((F.col(f"_src{i}") == F.col(f"_dst{i}")).cast("long")),
                    F.lit(0),
                ).alias(f"mt{i}")
                for i in idx
            ],
        )
    )
    tagged = F.explode(
        F.array(
            *[F.struct(F.lit(i).alias("t"), F.col(c).alias("label")) for i, c in enumerate(cols)]
        )
    ).alias("tl")
    dsq = (
        vertex_degrees(edges)
        .join(labels, "id")
        .select("degree", tagged)
        .groupBy(F.col("tl.t").alias("t"), F.col("tl.label").alias("label"))
        .agg(F.sum("degree").alias("s"))
        .groupBy()
        .agg(
            *[
                agg
                for i in idx
                for agg in (
                    F.coalesce(
                        F.sum(F.when(F.col("t") == i, F.col("s") * F.col("s"))),
                        F.lit(0),
                    ).alias(f"ss{i}"),
                    F.count(F.when(F.col("t") == i, 1)).alias(f"nc{i}"),
                )
            ]
        )
    )
    row = intra.crossJoin(F.broadcast(dsq)).first()
    m = int(row["m"])
    return m, [
        (4 * m * int(row[f"mt{i}"]) - int(row[f"ss{i}"]), int(row[f"nc{i}"]))
        for i in idx
    ]


def louvain_degrees(ew: DataFrame, selfw: DataFrame):
    """``(wsym, deg)`` for one level's move passes: both directions of
    the undirected weighted edges ``ew`` (a < b, w) and the weighted
    degree table (id, d), checkpointed lazily — constant while only
    the labels move, so the first pass's scan writes it once and later
    passes read the blocks. ``selfw``: per-vertex self-loop weight
    (id, sw — contributes 2·sw to the weighted degree;
    intra-community mass the coarsening folds in)."""
    wsym = ew.select("src", "dst", "w").unionAll(
        ew.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    deg = (
        wsym.groupBy("src")
        .agg(F.sum("w").alias("dn"))
        .withColumnRenamed("src", "id")
        .join(selfw, "id", "outer")
        .select(
            "id",
            (
                F.coalesce("dn", F.lit(0)) + 2 * F.coalesce("sw", F.lit(0))
            ).alias("d"),
        )
    )
    # stats kept: built once per level, so nothing compounds
    return wsym, lazy_checkpoint(deg, sever_stats=False)


def louvain_move_pass(
    wsym: DataFrame,
    deg: DataFrame,
    labels: DataFrame,
    m_w: int,
    phase: int | None = None,
) -> DataFrame:
    """One synchronized WEIGHTED Louvain modularity-gain pass.

    ``wsym``/``deg``: from :func:`louvain_degrees`; ``labels``:
    (id, label). Every vertex evaluates moving to each NEIGHBOR
    community against the OLD labels; all strictly-positive best
    moves apply simultaneously (the parallel variant distributed
    Louvain implementations use). Gain of i→c is the cross-multiplied
    INTEGER 2m·(k_ic − k_i,own) − d_i·(D_c − (D_own − d_i)) over 2m²
    — never a float; ties break on the smallest target community.
    Shapes: one edges⋈labels groupBy for neighbor-community weights,
    a vertex-PARTITIONED argmax — the PageRank one-edge-shuffle
    discipline. ``phase`` (0/1) restricts movers to vertices with
    id % 2 == phase: alternating parities across passes breaks the
    synchronized-swap oscillation (two vertices exchanging
    communities forever) that unrestricted parallel moves exhibit —
    the standard distributed-Louvain symmetry breaker, deterministic
    and SQL-replayable.

    Returns the new (id, label, _o) with the OLD label carried as
    ``_o`` (a mover is exactly a row with label != _o), as a lazy
    checkpoint: the caller's first full scan — e.g. the n_moved
    filter-count — writes its blocks. Every scan of ``labels`` sits
    below an exchange, so the caller may release ``labels`` as soon
    as this returns (see :func:`lazy_checkpoint`)."""
    labels = labels.select("id", "label")
    dc = deg.join(labels, "id").groupBy("label").agg(
        F.sum("d").alias("dsum")
    )
    nbc = (
        wsym.join(
            labels.select(F.col("id").alias("dst"), F.col("label").alias("c")),
            "dst",
        )
        .groupBy(F.col("src").alias("id"), "c")
        .agg(F.sum("w").alias("k"))
    )
    if phase is not None:
        # the parity restriction is an id-only predicate — applying it
        # to nbc (instead of the former post-join cand) feeds every
        # downstream join/aggregate half the rows, identical movers
        nbc = nbc.filter(F.pmod(F.col("id"), F.lit(2)) == phase)
    own = labels.withColumnRenamed("label", "own")
    # gain fold (r8 opt round): g(i→c) = 2m(k−k_own) − d(dc−(down−d))
    # = s(c) + off(i) with s = 2m·k − d·dc and off constant per
    # vertex, so the argmax over candidate communities needs only s
    # (equal g ⇔ equal s per vertex — the (g DESC, c ASC) tie order
    # is preserved exactly), and k_own rides the same groupBy as a
    # conditional aggregate
    scored = (
        nbc.join(own, "id")
        .join(deg, "id")
        .join(dc.select(F.col("label").alias("c"), F.col("dsum").alias("dc")), "c")
    )
    best = scored.groupBy("id").agg(
        F.max(
            F.when(
                F.col("c") != F.col("own"),
                F.struct(
                    (
                        F.lit(2) * F.lit(m_w) * F.col("k")
                        - F.col("d") * F.col("dc")
                    ).alias("s"),
                    (-F.col("c")).alias("_nc"),
                ),
            )
        ).alias("_m"),
        F.max(F.when(F.col("c") == F.col("own"), F.col("k"))).alias("k_own"),
        F.max("own").alias("own"),
        F.max("d").alias("d"),
    )
    moves = (
        best.filter(F.col("_m").isNotNull())
        .join(
            dc.select(F.col("label").alias("own"), F.col("dsum").alias("down")),
            "own",
        )
        .filter(
            F.col("_m.s")
            - F.lit(2) * F.lit(m_w) * F.coalesce("k_own", F.lit(0))
            + F.col("d") * (F.col("down") - F.col("d"))
            > 0
        )
        .select("id", (-F.col("_m._nc")).alias("new_label"))
    )
    # stats-safe: this plan references `labels` in 4+ joins, so a
    # plain localCheckpoint compounds CBO sizeInBytes exponentially
    # across passes (see checkpoint.py — measured 0.7 s → 88 s by
    # pass 9 before severing)
    return lazy_checkpoint(
        labels.join(moves, "id", "left").select(
            "id",
            F.coalesce("new_label", F.col("label")).alias("label"),
            F.col("label").alias("_o"),
        )
    )


LOUVAIN_REFINE_ROUNDS = 14  # fixed min-label unroll for the refine CC
# coarse-graph edge count below which the post-coarsen graph is
# SEVERED to a driver-local relation (collect + createDataFrame).
# Measured at sf0.001: move passes over localCheckpointed tiny inputs
# degrade 1.1 → 51.7 s across four passes (32-partition shuffle
# scheduling over LogicalRDDs), while the same passes over a local
# relation hold flat at 0.9 s — Catalyst broadcasts everything and no
# shuffle exists. The coarse graph after level 1 is COMMUNITIES-sized
# (orders of magnitude below the input), so the bounded-collect
# discipline applies at any input scale; above the bound the
# distributed checkpointed path is kept.
LOUVAIN_SEVER_MAX = 100_000


def _louvain_refine(ew_, labels_, max_rounds: int = LOUVAIN_REFINE_ROUNDS):
    """Leiden-style CONNECTIVITY refinement (Traag et al. 2019's fix
    for Louvain's known disconnected-community artifact): split every
    community into the connected components of its induced subgraph —
    new label = min member id per part. Splitting a disconnected
    community never lowers modularity (no inter-part edges, so only
    the −(ΣD)² term changes, to the smaller −ΣD_i²). Min-label over
    INTRA-community edges only, run exactly ``max_rounds`` (the
    oracle's unroll) then converge-or-raise — the GN guard
    discipline. Returns (labels', n_split)."""
    la = labels_.select(F.col("id").alias("src"), F.col("label").alias("_a"))
    lb = labels_.select(F.col("id").alias("dst"), F.col("label").alias("_b"))
    intra = (
        ew_.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("_a") == F.col("_b"))
        .select("src", "dst")
    )
    ref = connected_components(
        intra,
        0,
        max_iter=max_rounds,
        algorithm="minlabel",
        vertices=labels_,
        require_convergence=True,
    ).withColumnRenamed("component", "label")
    n_before = labels_.select("label").distinct().count()
    n_after = ref.select("label").distinct().count()
    return ref, n_after - n_before


def louvain(
    edges: DataFrame,
    levels: int = 2,
    move_rounds: int = 4,
    init_labels: DataFrame | None = None,
    refine: bool = False,
) -> tuple[DataFrame, list[tuple]]:
    """Full multi-level Louvain (Blondel et al. 2008) — the move
    phase :func:`label_propagation`-style parallel local moving
    alternated with GRAPH AGGREGATION: after each level's
    ``move_rounds`` synchronized weighted gain passes, communities
    coarsen to supervertices (one groupBy on community labels for
    the vertex side, one re-aggregation of edge weights for the edge
    side — intra-community mass becomes self-loop weight) and the
    next level moves whole communities at once, which is what makes
    Louvain converge at scale where single-vertex moves stall.

    ``edges``: canonical unweighted (src < dst) — level-1 weights are
    1. ``init_labels``: optional (id, label) seed for level 1 (e.g. an
    LPA partition); defaults to singletons. Returns ``(labels,
    trajectory)``: final (id, community) at ORIGINAL vertex
    granularity, and per-level (level, n_communities, modularity)
    with level 0 = the init partition. Modularity is exact: computed
    on the coarsened weighted graph (equal by construction to Q on
    the original graph) as the integer numerator Σ_v(4m·sw_v − d_v²)
    over 4m². Scale: every stage is a groupBy/join on the (shrinking)
    edge list; nothing ever materializes per-pair, and each level's
    graph is strictly smaller than the last.

    ``refine=True`` (r8, VERDICT r7 stretch 8) inserts the
    Leiden-style connectivity refinement (:func:`_louvain_refine`)
    between each level's move phase and its coarsening — every
    shipped community is guaranteed internally connected, Q never
    drops from the split, and trajectory tuples gain a 4th element
    n_split (communities created by splitting; level 0 = 0).

    Reference analog: community structure consumed by the benchmark
    analytics (run_benchmarks.py); the reference has no Louvain —
    this is engine-breadth beyond parity, VERDICT r6 item 7."""
    from graphem_rapids_spark.checkpoint import eager_checkpoint, release

    spark = edges.sparkSession
    ew = eager_checkpoint(
        edges.select("src", "dst")
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    selfw = ew.select("src").limit(0).select(
        F.col("src").alias("id"), F.lit(0).cast("long").alias("sw")
    )
    m_w = int(ew.agg(F.sum("w")).collect()[0][0] or 0)
    if m_w == 0:
        empty = spark.createDataFrame([], "id long, community long")
        return empty, []
    verts = (
        ew.select(F.col("src").alias("id"))
        .unionAll(ew.select(F.col("dst").alias("id")))
        .distinct()
    )
    labels = (
        init_labels.select("id", "label")
        if init_labels is not None
        else verts.select("id", F.col("id").alias("label"))
    ).transform(eager_checkpoint)
    # mapping from ORIGINAL ids to the current coarse vertex
    mapping = labels.select("id", F.col("label").alias("community"))

    def q_of(ew_, selfw_, m):
        wsym_deg = (
            ew_.select(F.col("src").alias("id"), "w")
            .unionAll(ew_.select(F.col("dst").alias("id"), "w"))
            .groupBy("id")
            .agg(F.sum("w").alias("dn"))
            .join(selfw_, "id", "outer")
            .select(
                "id",
                (
                    F.coalesce("dn", F.lit(0))
                    + 2 * F.coalesce("sw", F.lit(0))
                ).alias("d"),
                F.coalesce("sw", F.lit(0)).alias("swv"),
            )
        )
        row = wsym_deg.agg(
            F.sum(
                F.lit(4) * F.lit(m) * F.col("swv")
                - F.col("d") * F.col("d")
            ).alias("qn"),
            F.count("*").alias("nc"),
        ).collect()[0]
        return int(row["qn"]), int(row["nc"])

    def coarsen(ew_, selfw_, labels_):
        la = labels_.select(F.col("id").alias("src"), F.col("label").alias("_a"))
        lb = labels_.select(F.col("id").alias("dst"), F.col("label").alias("_b"))
        tagged = ew_.join(la, "src").join(lb, "dst")
        inter = (
            tagged.filter(F.col("_a") != F.col("_b"))
            .select(
                F.least("_a", "_b").alias("src"),
                F.greatest("_a", "_b").alias("dst"),
                "w",
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
        intra = (
            tagged.filter(F.col("_a") == F.col("_b"))
            .groupBy(F.col("_a").alias("id"))
            .agg(F.sum("w").alias("iw"))
        )
        old_self = (
            selfw_.join(labels_, "id")
            .groupBy(F.col("label").alias("id"))
            .agg(F.sum("sw").alias("osw"))
        )
        communities = labels_.select(
            F.col("label").alias("id")
        ).distinct()
        new_self = (
            communities.join(intra, "id", "left")
            .join(old_self, "id", "left")
            .select(
                "id",
                (
                    F.coalesce("iw", F.lit(0)) + F.coalesce("osw", F.lit(0))
                ).alias("sw"),
            )
        )
        from graphem_rapids_spark.checkpoint import eager_checkpoint

        return (eager_checkpoint(inter), eager_checkpoint(new_self))

    trajectory = []
    # Leiden refines EVERY partition before aggregation, including
    # the initial one — a disconnected init community would otherwise
    # coarsen into an unrepairable supervertex before level 1 ever
    # moves. No-op (and cheap) for the default singleton init.
    n_split0 = 0
    if refine:
        labels, n_split0 = _louvain_refine(ew, labels)
        mapping = labels.select("id", F.col("label").alias("community"))
    # level 0 = the (refined) init partition, after a virtual coarsen
    ew0, sw0 = coarsen(ew, selfw, labels)
    qn, nc = q_of(ew0, sw0, m_w)
    q0 = (0, nc, round(qn / (4.0 * m_w * m_w), 6))
    trajectory.append(q0 + (n_split0,) if refine else q0)
    cur_ew, cur_self = ew0, sw0
    mapping = mapping.transform(eager_checkpoint)
    for level in range(1, levels + 1):
        coarse_verts = (
            cur_ew.select(F.col("src").alias("id"))
            .unionAll(cur_ew.select(F.col("dst").alias("id")))
            .unionAll(cur_self.select("id"))
            .distinct()
        )
        lab = coarse_verts.select(
            "id", F.col("id").alias("label")
        ).transform(eager_checkpoint)
        wsym, deg = louvain_degrees(cur_ew, cur_self)
        for r in range(move_rounds):
            prev_lab = lab
            lab = louvain_move_pass(wsym, deg, lab, m_w, phase=r % 2)
            release(prev_lab)  # dead checkpoint blocks slow later jobs
        release(deg)
        n_split = 0
        if refine:
            prev_lab = lab
            lab, n_split = _louvain_refine(cur_ew, lab)
            release(prev_lab)
        cur_ew, cur_self = coarsen(cur_ew, cur_self, lab)
        # sever small coarse graphs to local relations (see
        # LOUVAIN_SEVER_MAX) — values unchanged, plans broadcast-only
        n_coarse = cur_ew.count()
        if n_coarse <= LOUVAIN_SEVER_MAX:
            cur_ew = spark.createDataFrame(
                cur_ew.collect() or [], "src long, dst long, w long"
            )
            cur_self = spark.createDataFrame(
                cur_self.collect() or [], "id long, sw long"
            )
        mapping = (
            mapping.join(
                lab.select(
                    F.col("id").alias("community"),
                    F.col("label").alias("_new"),
                ),
                "community",
            )
            .select("id", F.col("_new").alias("community"))
            .transform(eager_checkpoint)
        )
        qn, nc = q_of(cur_ew, cur_self, m_w)
        row = (level, nc, round(qn / (4.0 * m_w * m_w), 6))
        trajectory.append(row + (n_split,) if refine else row)
    return mapping, trajectory


def edge_betweenness_sampled(
    edges: DataFrame,
    n_vertices: int,
    sources: DataFrame | None = None,
    normalized: bool = True,
    max_depth: int = 64,
) -> DataFrame:
    """Distributed EDGE betweenness (the Girvan-Newman community
    splitter's driving statistic) over a batch of source vertices —
    the edge analog of :func:`betweenness_sampled`, riding the same
    forward/backward Brandes dataflow: the per-edge contribution of
    source s to DAG edge (v → w) is exactly the pre-aggregation term
    σ_v/σ_w·(1+δ_w) the vertex pass sums — so the edge scores fall
    out of the SAME per-level broadcast-join, accumulated per
    canonical (least, greatest) pair instead of per vertex. Same
    2⁻⁴⁰ fixed-point DECIMAL(38,0) exactness (order-free sums,
    bit-identical across engines/partitionings). networkx
    conventions: sampled sources rescale by n/k; undirected halves
    (each unordered (s,t) pair drives the edge twice);
    ``normalized`` divides by n(n-1)/2 (nx edge normalization).
    Returns (src, dst, value) over the canonical edge table
    (zero-filled)."""
    spark = edges.sparkSession
    sym = eager_materialize(symmetrize_edges(edges))
    if sources is None:
        sources = spark.range(n_vertices).select(F.col("id").cast("long"))
    n_sources = sources.count()
    from graphem_rapids_spark import session

    broadcast_max = session.BROADCAST_POSITIONS_MAX
    levels, level_counts = _bfs_levels(
        sym, sources, n_sources, max_depth, "sigma",
        F.lit(1).cast("decimal(38,0)"), F.sum("sigma"),
    )

    edge_acc = None
    delta_next = levels[-1].withColumn(
        "delta_fp", F.lit(0).cast("decimal(38,0)")
    )
    for d in range(len(levels) - 2, -1, -1):
        dn = delta_next.select(
            "s",
            F.col("id").alias("w"),
            F.col("sigma").alias("sigma_w"),
            F.col("delta_fp").alias("dfp_w"),
        )
        up = (
            sym.withColumnRenamed("src", "w")
            .join(
                F.broadcast(dn) if level_counts[d + 1] <= broadcast_max else dn,
                "w",
            )
            .select("s", F.col("dst").alias("id"), "w", "sigma_w", "dfp_w")
        )
        cur = levels[d]
        term = F.round(
            (F.col("sigma").cast("double") / F.col("sigma_w").cast("double"))
            * (F.lit(DELTA_FP_SCALE) + F.col("dfp_w")).cast("double")
        ).cast("decimal(38,0)")
        tagged = cur.join(up, ["s", "id"]).transform(eager_checkpoint)
        epart = tagged.select(
            F.least(F.col("id"), F.col("w")).alias("ea"),
            F.greatest(F.col("id"), F.col("w")).alias("eb"),
            term.alias("e_fp"),
        )
        edge_acc = epart if edge_acc is None else edge_acc.unionAll(epart)
        contrib = (
            tagged.groupBy("s", "id").agg(F.sum(term).alias("delta_fp"))
        )
        delta_next = (
            cur.join(contrib, ["s", "id"], "left")
            .select(
                "s",
                "id",
                "sigma",
                F.coalesce("delta_fp", F.lit(0).cast("decimal(38,0)")).alias(
                    "delta_fp"
                ),
            )
            .transform(eager_checkpoint)
        )
    sym.unpersist()
    canon = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).distinct()
    if edge_acc is None:
        return canon.select("src", "dst", F.lit(0.0).alias("value"))
    raw = edge_acc.groupBy("ea", "eb").agg(F.sum("e_fp").alias("efp_sum"))
    esum = F.col("efp_sum").cast("double") / F.lit(float(DELTA_FP_SCALE))
    scale = float(n_vertices) / float(n_sources)
    val = esum * scale / 2.0  # undirected: each (s,t) pair drives twice
    if normalized:
        val = val / float(max(n_vertices * (n_vertices - 1) / 2.0, 1.0))
    return canon.join(
        raw,
        (canon.src == raw.ea) & (canon.dst == raw.eb),
        "left",
    ).select(
        "src", "dst", F.coalesce(val, F.lit(0.0)).alias("value")
    )
