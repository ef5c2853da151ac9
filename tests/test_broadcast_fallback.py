"""Scale-strategy switch for the iterative kernels: the per-iteration
O(n) vertex table (ranks / scores / cascade frontier) must NOT be
broadcast above BROADCAST_POSITIONS_MAX — and the shuffle fallback has
to produce bit-identical results, because the driver's oracle gate
hash-checks these queries regardless of physical strategy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphem_rapids_spark import session
from graphem_rapids_spark.analytics import (
    eigenvector_centrality,
    pagerank,
    pagerank_weighted,
)
from graphem_rapids_spark.influence import independent_cascade


def _collect_map(df, key="id", val="value", nd=10):
    return {r[key]: round(r[val], nd) for r in df.collect()}


@pytest.fixture
def linked_triangles(spark):
    from tests.conftest import TWO_TRIANGLES_LINKED

    return spark.createDataFrame(TWO_TRIANGLES_LINKED, "src long, dst long")


def test_pagerank_shuffle_path_matches_broadcast(linked_triangles):
    bc = _collect_map(pagerank(linked_triangles, 6, max_iter=20))
    sh = _collect_map(pagerank(linked_triangles, 6, max_iter=20, broadcast_max=0))
    assert bc == sh


def test_eigenvector_shuffle_path_matches_broadcast(linked_triangles):
    bc = _collect_map(eigenvector_centrality(linked_triangles, 6, max_iter=15))
    sh = _collect_map(
        eigenvector_centrality(linked_triangles, 6, max_iter=15, broadcast_max=0)
    )
    assert bc == sh


def test_weighted_pagerank_shuffle_path_matches_broadcast(spark):
    e = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 1.0), (0, 2, 3.0), (2, 3, 1.0)],
        "src long, dst long, weight double",
    )
    bc = _collect_map(pagerank_weighted(e, max_iter=10))
    sh = _collect_map(pagerank_weighted(e, max_iter=10, broadcast_max=0))
    assert bc == sh


def test_ic_shuffle_path_matches_broadcast(linked_triangles, monkeypatch):
    # the distributed sweep both times (below the cap it runs on the driver)
    monkeypatch.setattr(session, "DRIVER_COLLECT_MAX_ROWS", 0)
    seeds = linked_triangles.sparkSession.createDataFrame([(0,)], "id long")

    def run():
        act = independent_cascade(linked_triangles, seeds, p=0.6, trials=4, seed=11)
        out = sorted(tuple(r) for r in act.collect())
        act.unpersist()
        return out

    bc = run()
    monkeypatch.setattr(session, "BROADCAST_POSITIONS_MAX", 0)
    sh = run()
    assert bc == sh


def test_pagerank_shuffle_plan_has_no_broadcast(linked_triangles):
    """The fallback path must genuinely drop the broadcast hint — with
    autoBroadcastJoinThreshold forced off, the per-iteration join plans
    as a shuffle join (Sort/ShuffledHash), not BroadcastHashJoin."""
    spark = linked_triangles.sparkSession
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pr = pagerank(linked_triangles, 6, max_iter=1, tol=0, broadcast_max=0)
        # the returned table is checkpointed; re-derive one matvec step
        # the way the loop builds it to inspect the physical plan
        sym = linked_triangles.select("src", "dst").unionAll(
            linked_triangles.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        ).repartition(F.col("src"))
        step = (
            sym.withColumnRenamed("src", "id")
            .join(pr, "id")
            .groupBy("dst")
            .agg(F.sum("value").alias("s"))
        )
        plan = step._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_closeness_shuffle_path_matches_broadcast(linked_triangles, monkeypatch):
    from graphem_rapids_spark.analytics import closeness_centrality

    bc = _collect_map(closeness_centrality(linked_triangles, 6))
    monkeypatch.setattr(session, "BROADCAST_POSITIONS_MAX", 0)
    sh = _collect_map(closeness_centrality(linked_triangles, 6))
    assert bc == sh


def test_betweenness_shuffle_path_matches_broadcast(linked_triangles, monkeypatch):
    from graphem_rapids_spark.analytics import betweenness_sampled

    bc = _collect_map(betweenness_sampled(linked_triangles, 6))
    monkeypatch.setattr(session, "BROADCAST_POSITIONS_MAX", 0)
    sh = _collect_map(betweenness_sampled(linked_triangles, 6))
    assert bc == sh


def _ppr_reference(edge_list, seeds, alpha=0.85, iters=200):
    """Independent pure-Python PPR power iteration (networkx
    personalization semantics; nx itself needs scipy here)."""
    from collections import defaultdict

    adj = defaultdict(list)
    for u, v in edge_list:
        adj[u].append(v)
        adj[v].append(u)
    e = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in adj}
    x = dict(e)
    for _ in range(iters):
        x = {
            v: (1 - alpha) * e[v] + alpha * sum(x[u] / len(adj[u]) for u in adj[v])
            for v in adj
        }
    return x


def test_ppr_matches_reference_and_shuffle_path(spark, linked_triangles, monkeypatch):
    from graphem_rapids_spark.analytics import pagerank_personalized
    from tests.conftest import TWO_TRIANGLES_LINKED

    seeds = spark.createDataFrame([(0,), (3,)], "id long")
    out = pagerank_personalized(linked_triangles, seeds, max_iter=100).collect()
    got = {r["id"]: round(r["value"], 6) for r in out}
    want = _ppr_reference(TWO_TRIANGLES_LINKED, {0, 3})
    assert got == {v: round(x, 6) for v, x in want.items()}
    # forced shuffle path is bit-identical (to the same broadcast run)
    sh = pagerank_personalized(linked_triangles, seeds, max_iter=100, broadcast_max=0)
    assert _collect_map(sh) == {r["id"]: round(r["value"], 10) for r in out}


def test_ppr_empty_seeds_raises(spark, linked_triangles):
    from graphem_rapids_spark.analytics import pagerank_personalized

    empty = spark.createDataFrame([], "id long")
    with pytest.raises(ValueError, match="no seed is a vertex"):
        pagerank_personalized(linked_triangles, empty)
    # all seeds outside the graph → same error, not silent k'/k mass
    ghost = spark.createDataFrame([(99,), (123,)], "id long")
    with pytest.raises(ValueError, match="no seed is a vertex"):
        pagerank_personalized(linked_triangles, ghost)


def test_ppr_out_of_graph_seed_dropped(spark, linked_triangles):
    """A seed id absent from the graph must NOT dilute the restart
    mass: {0, 99} must rank exactly like {0} alone (r4 fix — before,
    k counted the raw seed set and the teleport summed to k'/k)."""
    from graphem_rapids_spark.analytics import pagerank_personalized

    mixed = spark.createDataFrame([(0,), (99,)], "id long")
    only0 = spark.createDataFrame([(0,)], "id long")
    got = _collect_map(pagerank_personalized(linked_triangles, mixed, max_iter=20))
    want = _collect_map(pagerank_personalized(linked_triangles, only0, max_iter=20))
    assert got == want
