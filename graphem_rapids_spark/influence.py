"""Influence maximization — reference ``graphem_rapids/influence.py``.

- I1 radial top-k seed selection (``influence.py:10-37``)
- I2 Independent Cascade estimation (``influence.py:40-84``, NDlib
  semantics: every active node gets exactly one chance to activate
  each neighbor with probability p; cascade until quiescence)
- I3 greedy baseline (``influence.py:87-128``) — all candidates of a
  round evaluated **in one Spark job** by batching candidate_id as an
  extra key column (SURVEY.md §2.4)
- I4 random baseline (``benchmark.py:344-349``)

IC as dataflow: one pass flips every (trial, directed edge) coin into
a live-edge table; the cascade is then reachability over it — iterated
frontier expansion, frontier ⋈ live edges → anti-join against the
activated set. Monte Carlo trials are an extra ``trial`` key column, so
all trials run in the same shuffles (no driver loop over trials). When
the live edges and the output bound fit under
``session.DRIVER_COLLECT_MAX_ROWS`` the reachability sweep runs in
numpy on the driver instead, as the reference's NDlib loop does.

Determinism: per-(trial, src→dst) coin flips come from the shared
cross-engine mixer (``functions.mix_uniform`` on a collision-free
(src, dst, trial) key) — partition-independent, each directed edge
fires at most once per trial (IC semantics) by construction, and —
because each directed edge gets exactly ONE coin — the cascade equals
**reachability over the live-edge subgraph**, which is what the
DuckDB oracle replays (unrolled frontier CTEs in queries.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphem_rapids_spark.analytics import _bfs_levels
from graphem_rapids_spark.checkpoint import checkpoint_count, owned

from graphem_rapids_spark.functions import edge_coin_key, mix_uniform
from graphem_rapids_spark.graph.canon import symmetrize_edges


def _coin(cols, seed: int):
    if len(cols) == 3:  # per-(directed-edge, trial) cascade coin
        u, v, trial = cols
        return mix_uniform(edge_coin_key(u, v, trial), seed)
    key = cols[0]
    for c in cols[1:]:  # generic sampling uniform (no oracle replay)
        key = key * F.lit(1048576) + (c % F.lit(1048576))
    return mix_uniform(key, seed)


def graphem_seed_selection(embedder, k: int, num_iterations: int = 20) -> DataFrame:
    """Run layout, rank by radial distance, take top-k
    (reference ``influence.py:10-37``). Returns (rank, id, radius)."""
    embedder.run_layout(num_iterations)
    r = embedder.radial_distances()
    top = r.orderBy(F.col("radius").desc(), F.col("id").asc()).limit(k)
    # global top-k: Spark does per-partition partial top-k + merge
    rows = top.collect()
    spark = r.sparkSession
    return spark.createDataFrame(
        [(i + 1, int(row.id), float(row.radius)) for i, row in enumerate(rows)],
        "rank int, id long, radius double",
    )


@owned
def independent_cascade(
    edges: DataFrame,
    seeds: DataFrame,
    p: float = 0.1,
    trials: int = 10,
    seed: int = 0,
    max_iter: int = 200,
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Run IC; returns activated set (trial, [*key_cols], id).

    ``seeds`` must have column ``id`` (+ any ``key_cols`` for batched
    evaluation, e.g. greedy's candidate_id). Seed rows come back as
    given (duplicates too); every later vertex once per (trial, keys)
    group, reached within ``max_iter`` frontier steps.

    The live-edge table and the level-0 (trial, keys, id) table are
    each materialized and counted in one job. When the live edges plus
    an output bound — level-0 rows × (live edges + 1) — fit under
    ``session.DRIVER_COLLECT_MAX_ROWS``, both are collected and the
    cascade is a numpy reachability sweep on the driver
    (:func:`_driver_cascade`). Otherwise all trials/keys share one
    distributed frontier sweep, one Spark job per cascade step.
    """
    from graphem_rapids_spark import session

    spark = edges.sparkSession
    trials_df = spark.range(trials).select(F.col("id").cast("int").alias("trial"))
    keys = ["trial", *key_cols]
    # live-edge subgraph ONCE (row checkpoint): each directed edge's
    # per-trial coin is round-independent, so the cascade equals
    # reachability over the live edges — the exact formulation the
    # DuckDB oracle replays. Evaluating every coin in one pass over
    # the edge stream means each cascade round joins the frontier
    # against only the ~p·trials·|E| surviving edges, instead of
    # hash-probing all |E|·(rounds) edge rows and re-flipping coins
    # per round (measured: the probe+coin work dominated the kernel's
    # 60+ CPU-seconds at sf0.1). Same coin expression → same live set
    # → identical activated sets.
    live, live_n = checkpoint_count(
        symmetrize_edges(edges)
        .crossJoin(trials_df)
        .filter(_coin([F.col("src"), F.col("dst"), F.col("trial")], seed) < p)
        .select("trial", "src", "dst"),
        sever_stats=False,
    )
    level0, level0_n = checkpoint_count(
        seeds.crossJoin(trials_df).select(*keys, "id")
    )
    if live_n + level0_n * (live_n + 1) <= session.DRIVER_COLLECT_MAX_ROWS:
        return _driver_cascade(live, level0, keys, max_iter)
    # the cascade is the frontier sweep over the live edges
    levels, _ = _bfs_levels(live, level0, keys, max_iter, level0_n=level0_n)
    return reduce(DataFrame.unionAll, levels)


def _driver_cascade(live: DataFrame, level0: DataFrame, keys: list[str], max_iter: int):
    """The cascade on the driver: the rows of the distributed sweep
    (level 0 as given, then each (group, id) first reached at step
    1..``max_iter``), where a group is one (trial, *key_cols) value of
    ``level0`` and it spreads over its trial's live edges.

    Pairs are coded group·V + vertex over the dense vertex index V; a
    step expands the frontier through the live edges sorted by
    (trial, src), keeps the codes not seen before, and stops when none
    are new."""
    import numpy as np
    import pandas as pd

    spark = live.sparkSession
    # the distributed sweep's output schema (analysis only, no job)
    step = live.withColumnRenamed("src", "id").join(level0, ["trial", "id"])
    schema = level0.unionAll(step.select(*keys, F.col("dst").alias("id"))).schema

    lv = live.toArrow()
    trial, src, dst = (lv.column(c).to_numpy().astype(np.int64) for c in ("trial", "src", "dst"))
    l0 = level0.toArrow()
    rows = {c: l0.column(c).to_pylist() for c in [*keys, "id"]}
    # a seed with a null id reaches nothing (no equi-join match)
    seeded = [i for i, v in enumerate(rows["id"]) if v is not None]
    seed_ids = np.array([rows["id"][i] for i in seeded], np.int64)
    verts = np.unique(np.concatenate([src, dst, seed_ids]))
    nv = len(verts)
    # one group per distinct (trial, *key_cols) value of the seed rows
    group_of: dict[tuple, int] = {}
    seed_group = [
        group_of.setdefault(tuple(rows[c][i] for c in keys), len(group_of)) for i in seeded
    ]
    groups = list(group_of)
    g_trial = np.array([g[0] for g in groups], np.int64)
    seen = np.unique(np.array(seed_group, np.int64) * nv + np.searchsorted(verts, seed_ids))
    edge_key = trial * nv + np.searchsorted(verts, src)
    order = np.argsort(edge_key, kind="stable")
    edge_key, edge_dst = edge_key[order], np.searchsorted(verts, dst)[order]

    reached, frontier = [], seen
    for _ in range(max_iter):
        g, v = np.divmod(frontier, nv)
        k = g_trial[g] * nv + v
        lo = np.searchsorted(edge_key, k, "left")
        cnt = np.searchsorted(edge_key, k, "right") - lo
        total = int(cnt.sum())
        if total == 0:
            break
        # the live-edge slots lo[i] .. lo[i]+cnt[i]-1 of every frontier pair
        slot = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(total)
        msgs = np.unique(np.repeat(g, cnt) * nv + edge_dst[slot])
        frontier = msgs[~np.isin(msgs, seen, assume_unique=True)]
        if frontier.size == 0:
            break
        reached.append(frontier)
        seen = np.union1d(seen, frontier)

    new = np.concatenate(reached) if reached else np.zeros(0, np.int64)
    g, v = np.divmod(new, nv)
    out = {c: rows[c] + [groups[x][k] for x in g.tolist()] for k, c in enumerate(keys)}
    # plain Python scalars: the row-wise createDataFrame verifier (Arrow
    # off) rejects numpy ones
    out["id"] = rows["id"] + verts[v].tolist()
    return spark.createDataFrame(pd.DataFrame(out, dtype=object), schema)


@owned
def estimated_influence(
    edges: DataFrame,
    seeds: list[int] | DataFrame,
    p: float = 0.1,
    trials: int = 10,
    seed: int = 0,
    max_iter: int = 200,
) -> float:
    """Mean influenced-node count over Monte-Carlo trials (reference
    ``ndlib_estimated_influence``, ``influence.py:40-84``). ``seeds``
    is a seed set, as NDlib's: a repeated id counts once."""
    spark = edges.sparkSession
    if isinstance(seeds, DataFrame):
        seeds = seeds.select("id").distinct()
    elif len(seeds) == 0:
        return 0.0
    else:
        seeds = spark.createDataFrame([(s,) for s in sorted({int(s) for s in seeds})], "id long")
    act = independent_cascade(edges, seeds, p, trials, seed, max_iter)
    per_trial = act.groupBy("trial").agg(F.count("*").alias("n"))
    out = per_trial.agg(F.avg("n")).first()[0]
    return float(out or 0.0)


# exact-name alias so reference call sites (``ndlib_estimated_influence``,
# reference influence.py:40) translate 1:1
ndlib_estimated_influence = estimated_influence


def greedy_seed_selection(
    edges: DataFrame,
    n_vertices: int,
    k: int,
    p: float = 0.1,
    trials: int = 10,
    seed: int = 0,
    candidates: DataFrame | None = None,
) -> list[int]:
    """Greedy marginal-gain selection (reference ``influence.py:87-128``,
    O(k·n) simulations) — each round evaluates ALL candidates in one
    batched IC job via a ``cand`` key column."""
    spark = edges.sparkSession
    if candidates is None:
        candidates = spark.range(n_vertices).select(F.col("id").cast("long"))
    chosen: list[int] = []
    for round_i in range(k):
        cand = candidates.filter(~F.col("id").isin(chosen)).select(
            F.col("id").alias("cand")
        )
        # seed set for candidate c = chosen ∪ {c}
        if chosen:
            chosen_df = spark.createDataFrame([(int(c),) for c in chosen], "id long")
            seeds = cand.crossJoin(chosen_df).select("cand", "id").unionAll(
                cand.select("cand", F.col("cand").alias("id"))
            )
        else:
            seeds = cand.select("cand", F.col("cand").alias("id"))
        act = independent_cascade(
            edges, seeds, p, trials, seed + round_i, key_cols=("cand",)
        )
        best = (
            act.groupBy("cand", "trial")
            .agg(F.count("*").alias("n"))
            .groupBy("cand")
            .agg(F.avg("n").alias("mean_influence"))
            .orderBy(F.col("mean_influence").desc(), F.col("cand").asc())
            .first()
        )
        act.unpersist()
        chosen.append(int(best["cand"]))
    return chosen


@owned
def random_seed_baseline(
    edges: DataFrame,
    n_vertices: int,
    k: int,
    p: float = 0.1,
    trials: int = 10,
    n_sets: int = 10,
    seed: int = 0,
) -> float:
    """Mean influence of ``n_sets`` random seed sets (reference
    ``benchmark.py:344-349``) — all sets batched via a ``cand`` key."""
    spark = edges.sparkSession
    sets = spark.range(n_sets).select(F.col("id").cast("int").alias("cand"))
    verts = spark.range(n_vertices).select(F.col("id").cast("long"))
    ranked = sets.crossJoin(verts).select(
        "cand", "id", _coin([F.col("cand"), F.col("id")], seed).alias("u")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cand").orderBy("u")
    seeds = ranked.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    ).select("cand", "id")
    act = independent_cascade(edges, seeds, p, trials, seed, key_cols=("cand",))
    out = (
        act.groupBy("cand", "trial")
        .agg(F.count("*").alias("n"))
        .agg(F.avg("n"))
        .first()[0]
    )
    return float(out or 0.0)
