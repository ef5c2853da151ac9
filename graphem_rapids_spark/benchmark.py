"""Benchmark harness — reference A12/A13 (``benchmark.py:18-163``
``run_benchmark``, ``:212-241`` ``benchmark_correlations``,
``:246-380`` ``run_influence_benchmark``;
``benchmarks/compare_backends.py:51-241`` config comparison).

The reference times: graph build, six networkx centralities, layout,
then Spearman ρ(radial distance, centrality) per measure. Here every
phase is the Spark-native operator from ``analytics.py`` /
``embedding/``; the centralities that the reference computes with
driver networkx run distributed (degree, pagerank, eigenvector,
closeness) with the same driver-fallback guard for the all-pairs ones
(betweenness/load, n<5000 — mirroring
``benchmarks/run_benchmarks.py:313-319``).

A13's "backend comparison" becomes a **Spark config comparison**: the
same workload re-run across shuffle-partition / AQE / broadcast
settings, which is the knob surface this engine actually has.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphem_rapids_spark.analytics import (
    betweenness_centrality,
    closeness_centrality,
    degree_centrality,
    eigenvector_centrality,
    full_correlation_matrix,
    graph_stats,
    load_centrality,
    pagerank,
    spearman_correlation,
)
from graphem_rapids_spark.checkpoint import owned, persist
from graphem_rapids_spark.embedding.embedder import GraphEmbedderSpark
from graphem_rapids_spark.graph.generators import SparkGraph
from graphem_rapids_spark.influence import (
    estimated_influence,
    graphem_seed_selection,
    greedy_seed_selection,
    random_seed_baseline,
)

# centrality name → (fn(edges, n) -> DataFrame(id, value), distributed?)
# Order mirrors the reference's measure list (``benchmark.py:75-108``).
CENTRALITY_FNS: dict[str, Callable] = {
    "degree": lambda e, n: degree_centrality(e, n),
    "pagerank": lambda e, n: pagerank(e, n),
    "eigenvector": lambda e, n: eigenvector_centrality(e, n),
    "closeness": lambda e, n: closeness_centrality(e, n),
    "betweenness": lambda e, n: betweenness_centrality(e, n),
    "load": lambda e, n: load_centrality(e, n),
}
# all-pairs measures the reference guards to small n
# (``benchmarks/run_benchmarks.py:313-319``)
_DRIVER_ONLY = {"betweenness", "load"}
_DRIVER_ONLY_MAX_N = 5000


def _as_edges(graph) -> tuple[DataFrame, int, bool]:
    """(edges, n, canonical?) — SparkGraph edges are canonical by
    construction, so downstream embedders skip the dedupe shuffle."""
    if isinstance(graph, SparkGraph):
        return graph.edges, graph.n_vertices, True
    edges, n = graph
    return edges, n, False


@owned
def benchmark_correlations(
    radii: DataFrame, centralities: dict[str, DataFrame]
) -> dict[str, float]:
    """Spearman ρ(radius, measure) per centrality (reference
    ``benchmark_correlations``, ``benchmark.py:212-241``). One wide
    join, then rank+corr per pair."""
    wide = radii
    for name, df in centralities.items():
        wide = wide.join(
            df.select("id", F.col("value").alias(f"c_{name}")), "id", "left"
        )
    wide = persist(wide.fillna(0.0))
    return {
        name: spearman_correlation(wide, "radius", f"c_{name}")
        for name in centralities
    }


@owned
def run_benchmark(
    graph,
    dim: int = 3,
    num_iterations: int = 30,
    centralities: list[str] | None = None,
    L_min: float = 10.0,
    k_attr: float = 0.5,
    k_inter: float = 0.1,
    n_neighbors: int = 15,
    sample_size: int = 512,
    seed: int = 0,
    correlation_matrix: bool = False,
) -> dict:
    """End-to-end benchmark of one graph (reference ``run_benchmark``,
    ``benchmark.py:18-163``; layout params are its defaults at
    ``:18-19``). ``graph`` is a SparkGraph or ``(edges, n)``.

    Returns the reference's result-dict shape: graph stats, per-phase
    wall times, Spearman correlations radius↔measure.
    """
    edges, n, canonical = _as_edges(graph)
    t0 = time.time()
    edges = persist(edges)
    m = edges.count()
    build_time = time.time() - t0

    stats = graph_stats(edges, n)

    wanted = centralities or list(CENTRALITY_FNS)
    cent_dfs: dict[str, DataFrame] = {}
    cent_times: dict[str, float] = {}
    skipped: list[str] = []
    for name in wanted:
        if name in _DRIVER_ONLY and n > _DRIVER_ONLY_MAX_N:
            skipped.append(name)  # same guard as the reference harness
            continue
        t = time.time()
        cent_dfs[name] = persist(CENTRALITY_FNS[name](edges, n))
        cent_dfs[name].count()
        cent_times[name] = time.time() - t

    t = time.time()
    emb = GraphEmbedderSpark(
        edges, n, n_components=dim, L_min=L_min, k_attr=k_attr,
        k_inter=k_inter, n_neighbors=n_neighbors, sample_size=sample_size,
        seed=seed, canonical=canonical,
    )
    emb.run_layout(num_iterations)
    radii = persist(emb.radial_distances())
    radii.count()
    layout_time = time.time() - t

    t = time.time()
    corrs = benchmark_correlations(radii, cent_dfs)
    corr_time = time.time() - t

    result = {
        "n_vertices": n,
        "n_edges": m,
        "density": stats["density"],
        "avg_degree": stats["avg_degree"],
        "dim": dim,
        "num_iterations": num_iterations,
        "build_time": build_time,
        "centrality_times": cent_times,
        "skipped_centralities": skipped,
        "layout_time": layout_time,
        "correlation_time": corr_time,
        "correlations": corrs,
        "total_time": time.time() - t0,
    }
    if correlation_matrix and cent_dfs:
        wide = radii
        for name, df in cent_dfs.items():
            wide = wide.join(
                df.select("id", F.col("value").alias(f"c_{name}")), "id", "left"
            )
        cols = ["radius", *[f"c_{k}" for k in cent_dfs]]
        result["correlation_matrix"] = full_correlation_matrix(
            wide.fillna(0.0), cols
        )
    return result


@owned
def run_influence_benchmark(
    graph,
    k: int = 10,
    p: float = 0.1,
    trials: int = 20,
    num_iterations: int = 20,
    seed: int = 0,
    include_greedy: bool = True,
    n_random_sets: int = 10,
) -> dict:
    """GraphEm-seeds vs greedy vs random (reference
    ``run_influence_benchmark``, ``benchmark.py:246-380`` /
    ``benchmarks/run_benchmarks.py:392-461``). Efficiency =
    influence / selection-seconds, the reference's headline metric."""
    edges, n, canonical = _as_edges(graph)
    edges = persist(edges)
    edges.count()
    out: dict = {"n_vertices": n, "k": k, "p": p, "trials": trials}

    t = time.time()
    emb = GraphEmbedderSpark(edges, n, n_components=3, seed=seed, canonical=canonical)
    seeds_df = graphem_seed_selection(emb, k, num_iterations=num_iterations)
    graphem_time = time.time() - t
    graphem_seeds = [int(r.id) for r in seeds_df.collect()]
    graphem_inf = estimated_influence(edges, graphem_seeds, p, trials, seed)
    out["graphem"] = {
        "seeds": graphem_seeds,
        "influence": graphem_inf,
        "time": graphem_time,
        "efficiency": graphem_inf / graphem_time if graphem_time > 0 else 0.0,
    }

    if include_greedy:
        t = time.time()
        greedy_seeds = greedy_seed_selection(edges, n, k, p, trials, seed)
        greedy_time = time.time() - t
        greedy_inf = estimated_influence(edges, greedy_seeds, p, trials, seed)
        out["greedy"] = {
            "seeds": greedy_seeds,
            "influence": greedy_inf,
            "time": greedy_time,
            "efficiency": greedy_inf / greedy_time if greedy_time > 0 else 0.0,
        }

    out["random"] = {
        "influence": random_seed_baseline(
            edges, n, k, p, trials, n_sets=n_random_sets, seed=seed
        )
    }
    return out


def compare_configs(
    workload: Callable[[], object],
    configs: dict[str, dict[str, str]],
    repeats: int = 1,
) -> dict[str, dict]:
    """A13 analog: same workload re-timed under different Spark SQL
    conf settings (shuffle partitions, AQE, broadcast threshold) —
    the reference compares torch-vs-cuVS backends
    (``benchmarks/compare_backends.py:51-156``); one Spark engine
    compares its runtime knobs instead. Confs are set via
    ``spark.conf`` (session-scoped, runtime-mutable keys only) and
    restored afterwards."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    results: dict[str, dict] = {}
    for label, conf in configs.items():
        saved = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        times = []
        try:
            for _ in range(repeats):
                t = time.time()
                workload()
                times.append(time.time() - t)
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        results[label] = {
            "conf": dict(conf),
            "times": times,
            "best": min(times),
            "mean": sum(times) / len(times),
        }
    base = next(iter(results.values()))["best"] if results else None
    for r in results.values():
        r["speedup_vs_first"] = base / r["best"] if r["best"] > 0 else float("inf")
    return results
