"""Pins for the round driver ``checkpoint.iterate`` and the private-API
tricks it relies on: no iterative kernel leaves checkpoint blocks
behind once its result is released, the ownership walk behind
``checkpoint.owned`` keeps exactly what a result reads, and stats
severing keeps a self-joining state's plan statistics flat across
rounds."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from graphem_rapids_spark.analytics import (
    betweenness_sampled,
    closeness_centrality,
    connected_components,
    edge_betweenness_sampled,
    hits,
    label_propagation,
    load_sampled,
    louvain,
    maximal_independent_set,
    maximal_matching,
    minimum_spanning_forest,
)
from graphem_rapids_spark.checkpoint import (
    eager_checkpoint,
    iterate,
    lazy_checkpoint,
    owned,
    persist,
    readable_blocks,
    release,
)
from graphem_rapids_spark.influence import estimated_influence
from graphem_rapids_spark.pipeline.similarity import pca_power_int8
from graphem_rapids_spark.queries import QUERIES
from graphem_rapids_spark.scale import global_dense_index

# two triangles joined by three edges (FIXTURES.md)
TWO_TRIANGLES_LINKED = [
    (0, 1), (0, 2), (1, 2), (1, 3), (2, 4), (3, 4), (3, 5), (4, 5), (0, 5),
]


def _cached_rdds(spark) -> set[int]:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _assert_no_leak(spark, run):
    """``run`` leaves no RDD with cached partitions behind. Only new
    ids count: the context cleaner may drop an earlier test's blocks
    while ``run`` executes."""
    before = _cached_rdds(spark)
    run()
    assert _cached_rdds(spark) - before == set()


def _collect_and_release(*dfs):
    for df in dfs:
        df.collect()
    for df in dfs:
        df.unpersist()


def test_estimated_influence_leaks_no_blocks(spark):
    edges = spark.createDataFrame(TWO_TRIANGLES_LINKED, "src long, dst long")
    _assert_no_leak(
        spark, lambda: estimated_influence(edges, [0, 3], p=0.5, trials=4, seed=3)
    )


def test_closeness_leaks_no_blocks_once_released(spark):
    edges = spark.createDataFrame(TWO_TRIANGLES_LINKED, "src long, dst long")
    _assert_no_leak(spark, lambda: _collect_and_release(closeness_centrality(edges, 6)))


def test_fixed_round_kernel_leaks_no_blocks_once_released(spark):
    edges = spark.createDataFrame(TWO_TRIANGLES_LINKED, "src long, dst long")
    _assert_no_leak(
        spark,
        lambda: _collect_and_release(label_propagation(edges, max_rounds=5, converge=False)),
    )


def test_converging_kernel_leaks_no_blocks_once_released(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "src long, dst long")
    _assert_no_leak(
        spark,
        lambda: _collect_and_release(connected_components(edges, 10, algorithm="minlabel")),
    )


RELEASED_KERNELS = {
    "betweenness_sampled": lambda e: betweenness_sampled(e, 6),
    "load_sampled": lambda e: load_sampled(e, 6),
    "edge_betweenness_sampled": lambda e: edge_betweenness_sampled(e, 6),
    "hits": hits,
    "louvain": lambda e: louvain(e)[0],
    "louvain_refine": lambda e: louvain(e, refine=True)[0],
}


@pytest.mark.parametrize("name", sorted(RELEASED_KERNELS))
def test_kernel_result_frees_its_checkpoints(spark, name):
    """The Brandes-family, HITS and Louvain results are bound to every
    checkpoint their call left live, so releasing the result frees
    them all."""
    edges = spark.createDataFrame(TWO_TRIANGLES_LINKED, "src long, dst long")
    _assert_no_leak(spark, lambda: _collect_and_release(RELEASED_KERNELS[name](edges)))


def _weighted(spark):
    return spark.createDataFrame(
        [(s, d, i + 1) for i, (s, d) in enumerate(TWO_TRIANGLES_LINKED)],
        "src long, dst long, weight long",
    )


def _vectors(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(4)]) for i in range(8)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


GENERATION_KERNELS = {
    "minimum_spanning_forest": lambda s: minimum_spanning_forest(_weighted(s), 3, 3),
    "maximal_independent_set": lambda s: maximal_independent_set(
        s.createDataFrame(TWO_TRIANGLES_LINKED, "src long, dst long")
    ),
    "maximal_matching": lambda s: (
        maximal_matching(s.createDataFrame(TWO_TRIANGLES_LINKED, "src long, dst long")),
    ),
    "pca_power_int8": lambda s: (
        pca_power_int8(_vectors(s), iters=[3, 4], dim=4, components=2),
    ),
}


@pytest.mark.parametrize("name", sorted(GENERATION_KERNELS))
def test_generation_kernel_results_free_their_checkpoints(spark, name):
    """The deep self-join kernels release each superseded generation
    and bind every frame they return to the checkpoints it reads, so
    releasing the returned frames frees them all."""
    _assert_no_leak(spark, lambda: _collect_and_release(*GENERATION_KERNELS[name](spark)))


def _checkpoint_loop(state, step, rounds, stop):
    """The explicit generation loop of the deep self-join kernels:
    one eager checkpoint per round, then the predecessor's release."""
    for r in range(rounds):
        new = eager_checkpoint(step(state, r))
        stop(new, r)
        release(state)
        state = new
    return state, rounds


def _assert_self_join_stats_flat(spark, run):
    """Each round joins the previous state with itself, so an unsevered
    checkpoint's size estimate (a product of its children's) would
    double its digit count per round."""
    state = eager_checkpoint(
        spark.range(64).select("id", (F.col("id") % 7).alias("v"))
    )
    digits = []

    def step(df, _r):
        other = df.select("id", F.col("v").alias("w"))
        return df.join(other, "id").select("id", ((F.col("v") + F.col("w")) % 7).alias("v"))

    def record(new, _r):
        stats = new._jdf.queryExecution().optimizedPlan().stats()
        digits.append(len(str(stats.sizeInBytes())))
        new.count()  # writes the blocks, so the release never depends on severing
        return False

    state, rounds = run(state, step, 5, stop=record)
    assert rounds == 5
    assert len(set(digits)) == 1, digits
    assert sorted(r.v for r in state.collect()) == sorted(
        (i % 7) * 32 % 7 for i in range(64)
    )
    state.unpersist()


def test_global_dense_index_frees_its_range_table(spark):
    """The range-partitioned table ``scale._prefix_counts`` persists is
    bound to the index it feeds."""
    df = spark.createDataFrame([(i % 5,) for i in range(20)], "v long")
    _assert_no_leak(spark, lambda: _collect_and_release(global_dense_index(df, "v", "ix")))


def test_bootstrap_point_estimate_frees_its_range_tables(spark, sf_dir):
    """The registry bootstrap ranks its point estimate through two
    ``scale._prefix_counts`` tables; releasing the result frees them."""
    _assert_no_leak(
        spark, lambda: _collect_and_release(QUERIES["spearman_bootstrap_ci"](spark, sf_dir))
    )


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _scalar_subquery(spark):
    ck = eager_checkpoint(spark.range(5).select(F.col("id").alias("v")))
    return ck, spark.range(3).select("id", ck.agg(F.max("v")).scalar().alias("m"))


def _lazy_over_earlier(spark):
    first = eager_checkpoint(spark.range(3).select("id", (F.col("id") + 4).alias("m")))
    return first, lazy_checkpoint(first.select("id", F.col("m")))


def _join_union_projection(spark):
    ck = eager_checkpoint(spark.range(3).select("id", (F.col("id") + 4).alias("m")))
    other = spark.range(3).select("id", F.lit(0).cast("long").alias("z"))
    joined = ck.join(other, "id").select("id", (F.col("m") + F.col("z")).alias("m"))
    return ck, joined.unionAll(joined.limit(0)).select("id", "m")


def _persisted_dataset(spark):
    cached = persist(spark.range(3).select("id", (F.col("id") + 4).alias("m")))
    return None, cached.filter(F.col("m") >= 0)


READ_PATHS = {
    "scalar_subquery": (_scalar_subquery, [(0, 4), (1, 4), (2, 4)]),
    "lazy_checkpoint_over_earlier": (_lazy_over_earlier, [(0, 4), (1, 5), (2, 6)]),
    "join_union_projection": (_join_union_projection, [(0, 4), (1, 5), (2, 6)]),
    "persisted_dataset": (_persisted_dataset, [(0, 4), (1, 5), (2, 6)]),
}


@pytest.mark.parametrize("name", sorted(READ_PATHS))
def test_owned_result_keeps_exactly_what_it_reads(spark, name):
    """The reachability walk behind ``checkpoint.owned`` (plan leaves
    of the cache-substituted plan and its subqueries, closed over RDD
    dependencies) pinned on each private-API path it takes: the block
    the result reads survives the call and is bound to the result, an
    unrelated checkpoint of the same call is freed at return, and
    releasing the result frees the rest."""
    build, want = READ_PATHS[name]
    made = {}

    @owned
    def call():
        made["block"], result = build(spark)
        made["unrelated"] = eager_checkpoint(spark.range(7).select(F.col("id").alias("u")))
        return result

    before = _persistent_rdds(spark)
    result = call()
    reads = readable_blocks(result)
    if made["block"] is not None:
        assert set(made["block"]._graphem_blocks) <= reads
        assert set(made["block"]._graphem_blocks) <= set(result._graphem_blocks)
    assert not set(made["unrelated"]._graphem_blocks) & _persistent_rdds(spark)
    assert sorted(tuple(r) for r in result.collect()) == want
    # a lazy checkpoint stops reading its inputs once materialized, and
    # a persisted Dataset's buffers exist only once read
    kept = _persistent_rdds(spark) - before
    assert kept and kept <= reads | readable_blocks(result)
    release(result)
    assert _persistent_rdds(spark) - before == set()


def test_iterate_severs_self_join_stats(spark):
    _assert_self_join_stats_flat(spark, iterate)


def test_eager_generations_sever_self_join_stats(spark):
    _assert_self_join_stats_flat(spark, _checkpoint_loop)
