"""scale.py — distributed global rank / dense index must be
bit-identical to the single-partition window formulation it replaces
(Spearman and relabel feed hash-gated oracles, so exactness is the
contract, not approximation)."""

import math
import random

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from graphem_rapids_spark.analytics import (
    full_correlation_matrix,
    rank_column,
    spearman_correlation,
)
from graphem_rapids_spark.checkpoint import release
from graphem_rapids_spark.graph.canon import relabel_contiguous
from graphem_rapids_spark.scale import global_dense_index, global_mean_ranks


def _window_mean_rank(df, col, out):
    w = Window.orderBy(F.col(col).asc())
    wt = Window.partitionBy(col)
    return df.withColumn(out, F.rank().over(w) + (F.count("*").over(wt) - 1) / 2.0)


@pytest.fixture(scope="module")
def tie_heavy(spark):
    # many ties, spread across partitions; values straddle range-partition
    # boundaries by construction (only 7 distinct values over 2000 rows)
    rng = random.Random(7)
    rows = [(i, rng.choice([0.5, 1.0, 1.0, 2.5, 2.5, 2.5, -3.0, 7.0])) for i in range(2000)]
    return spark.createDataFrame(rows, "id long, v double").repartition(8)


def test_global_mean_rank_matches_window(tie_heavy):
    got = {r.id: r.rk for r in global_mean_ranks(tie_heavy, ["v"], ["rk"]).collect()}
    want = {r.id: r.rk for r in _window_mean_rank(tie_heavy, "v", "rk").collect()}
    assert got == want


def test_global_mean_ranks_many_columns_match_window(spark):
    # one pass ranks columns of different types; nulls rank lowest, NaN
    # highest, -0.0 ties 0.0 — each column exactly as its own window
    rng = random.Random(5)
    rows = [
        (
            i,
            rng.choice([None, math.nan, -0.0, 0.0, 1.5, 1.5, -2.0]),
            rng.choice([None, 3, 3, 7, -1]),
            rng.choice(["x", "y", "y", None]),
        )
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "id long, a double, b long, c string").repartition(8)
    ranked = global_mean_ranks(df, ["a", "b", "c"], ["ra", "rb", "rc"])
    got = {r.id: (r.ra, r.rb, r.rc) for r in ranked.collect()}
    release(ranked)
    want = df
    for c in "abc":
        want = _window_mean_rank(want, c, "r" + c)
    assert got == {r.id: (r.ra, r.rb, r.rc) for r in want.collect()}


def test_rank_column_global_path_matches_window(tie_heavy):
    got = {r.id: r.rk for r in rank_column(tie_heavy, "v", "rk").collect()}
    want = {r.id: r.rk for r in _window_mean_rank(tie_heavy, "v", "rk").collect()}
    assert got == want


def test_all_equal_column(spark):
    df = spark.createDataFrame([(i, 4.0) for i in range(100)], "id long, v double")
    out = global_mean_ranks(df, ["v"], ["rk"]).select("rk").distinct().collect()
    assert [r.rk for r in out] == [(1 + 100) / 2.0]  # mean of 1..100


def test_dense_index_matches_row_number(spark):
    vals = [("n%04d" % i,) for i in range(0, 500, 3)]
    random.Random(3).shuffle(vals)
    df = spark.createDataFrame(vals, "orig string").repartition(8)
    got = {
        r.orig: r.idx for r in global_dense_index(df, "orig", "idx").collect()
    }
    want = {
        r.orig: r.idx
        for r in df.select(
            "orig",
            (F.row_number().over(Window.orderBy("orig")) - 1).cast("long").alias("idx"),
        ).collect()
    }
    assert got == want


def test_relabel_contiguous_still_dense_and_ordered(spark):
    edges = spark.createDataFrame(
        [(10, 70), (70, 30), (30, 10), (99, 10)], "src long, dst long"
    )
    relabeled, mapping = relabel_contiguous(edges)
    m = {r.old_id: r.new_id for r in mapping.collect()}
    # ascending old id -> 0..n-1
    assert m == {10: 0, 30: 1, 70: 2, 99: 3}
    pairs = {(r.src, r.dst) for r in relabeled.collect()}
    assert pairs == {(0, 1), (0, 2), (1, 2), (0, 3)}


def test_spearman_unchanged(spark):
    # perfect monotone relation with ties -> rho == 1 exactly
    df = spark.createDataFrame(
        [(float(i // 3), float((i // 3) ** 2)) for i in range(99)], "a double, b double"
    )
    assert spearman_correlation(df, "a", "b") == pytest.approx(1.0, abs=1e-12)


# ---- Spearman contract: the prefix-sum rank correlation must give
# scipy.stats.spearmanr (Pearson of average ranks) on any partitioning
def _average_ranks(x):
    order = np.argsort(x, kind="stable")
    xs = x[order]
    starts = np.flatnonzero(np.r_[True, xs[1:] != xs[:-1]])
    ends = np.r_[starts[1:], len(xs)]
    r = np.empty(len(x))
    r[order] = np.repeat((starts + ends - 1) / 2.0 + 1.0, ends - starts)
    return r


@pytest.fixture(scope="module")
def tie_pairs(spark):
    # ties (zeros of both signs included) in both columns, 8 partitions
    rng = random.Random(11)
    rows = [
        (rng.choice([0.0, -0.0, 0.5, 1.0, 1.0, 2.5, -3.0, 7.0]), rng.choice([0, 0, 0, 1, 2, 2, 5, 9]))
        for _ in range(2000)
    ]
    want = np.corrcoef(
        _average_ranks(np.array([a for a, _ in rows])),
        _average_ranks(np.array([float(b) for _, b in rows])),
    )[0, 1]
    return spark.createDataFrame(rows, "a double, b long").repartition(8), want


def test_spearman_matches_numpy_average_ranks(tie_pairs):
    df, want = tie_pairs
    assert abs(spearman_correlation(df, "a", "b") - want) <= 1e-12


def test_spearman_same_without_aqe(spark, tie_pairs):
    df, want = tie_pairs
    before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = spearman_correlation(df, "a", "b")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)
    assert abs(got - want) <= 1e-12


def test_spearman_constant_column_is_nan(spark):
    df = spark.createDataFrame([(float(i), 4.0) for i in range(50)], "a double, b double")
    assert math.isnan(spearman_correlation(df, "a", "b"))
    mat = full_correlation_matrix(df, ["a", "b"])
    assert math.isnan(mat[("a", "b")]) and math.isnan(mat[("b", "a")])


@pytest.mark.parametrize("n", [0, 1])
def test_spearman_fewer_than_two_rows_is_nan(spark, n):
    df = spark.createDataFrame([(1.0, 2.0)][:n], "a double, b double")
    assert math.isnan(spearman_correlation(df, "a", "b"))


def test_spearman_null_and_nan_keep_sql_order(spark):
    # Spark SQL's order: null below every value, NaN above, each its own
    # tie group — the value the window/prefix-sum ranks gave
    rows = [(1.0, 2.0), (2.0, None), (None, 1.0), (3.0, 5.0), (4.0, 4.0), (5.0, 7.0), (math.nan, 3.0)]
    df = spark.createDataFrame(rows, "a double, b double")
    assert spearman_correlation(df, "a", "b") == pytest.approx(0.6428571428571427, abs=1e-12)


def test_full_correlation_matrix_matches_pairwise(tie_pairs):
    df, want = tie_pairs
    mat = full_correlation_matrix(df.withColumn("c", -F.col("a")), ["a", "b", "c"])
    assert abs(mat[("a", "b")] - want) <= 1e-12
    assert abs(mat[("c", "b")] + want) <= 1e-12
    assert mat[("a", "c")] == pytest.approx(-1.0, abs=1e-12)
    assert all(mat[(x, x)] == pytest.approx(1.0, abs=1e-12) for x in "abc")


def test_spearman_frees_its_rank_table(spark, tie_pairs):
    df, _ = tie_pairs
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    before = len(storage())
    full_correlation_matrix(df, ["a", "b"])
    assert len(storage()) == before
