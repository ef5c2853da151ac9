"""scale.py — distributed global rank / dense index, and the driver
ranks Spearman uses below ``session.DRIVER_COLLECT_MAX_ROWS``, must be
bit-identical to the single-partition window formulation they replace
(Spearman and relabel feed hash-gated oracles, so exactness is the
contract, not approximation)."""

import datetime
import math
import random
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from graphem_rapids_spark import session
from graphem_rapids_spark.analytics import (
    full_correlation_matrix,
    rank_column,
    spearman_correlation,
)
from graphem_rapids_spark.checkpoint import checkpoint_count, release
from graphem_rapids_spark.graph.canon import relabel_contiguous
from graphem_rapids_spark.scale import (
    driver_mean_ranks,
    global_dense_index,
    global_mean_ranks,
)
from tests.conftest import max_job_id


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


def test_spearman_unchanged(spark, on_both_paths):
    # perfect monotone relation with ties -> rho == 1 exactly
    df = spark.createDataFrame(
        [(float(i // 3), float((i // 3) ** 2)) for i in range(99)], "a double, b double"
    )
    for rho in on_both_paths(lambda: spearman_correlation(df, "a", "b")):
        assert rho == pytest.approx(1.0, abs=1e-12)


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


def test_spearman_matches_numpy_average_ranks(tie_pairs, on_both_paths):
    df, want = tie_pairs
    for rho in on_both_paths(lambda: spearman_correlation(df, "a", "b")):
        assert abs(rho - want) <= 1e-12


def test_spearman_same_without_aqe(spark, tie_pairs, monkeypatch):
    # the distributed plan (below the cap the ranks are driver-side)
    monkeypatch.setattr(session, "DRIVER_COLLECT_MAX_ROWS", 0)
    df, want = tie_pairs
    before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = spearman_correlation(df, "a", "b")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)
    assert abs(got - want) <= 1e-12


def test_spearman_constant_column_is_nan(spark, on_both_paths):
    df = spark.createDataFrame([(float(i), 4.0) for i in range(50)], "a double, b double")

    def run():
        return spearman_correlation(df, "a", "b"), full_correlation_matrix(df, ["a", "b"])

    for rho, mat in on_both_paths(run):
        assert math.isnan(rho)
        assert math.isnan(mat[("a", "b")]) and math.isnan(mat[("b", "a")])


@pytest.mark.parametrize("n", [0, 1])
def test_spearman_fewer_than_two_rows_is_nan(spark, n, on_both_paths):
    df = spark.createDataFrame([(1.0, 2.0)][:n], "a double, b double")
    for rho in on_both_paths(lambda: spearman_correlation(df, "a", "b")):
        assert math.isnan(rho)


def test_spearman_null_and_nan_keep_sql_order(spark, on_both_paths):
    # Spark SQL's order: null below every value, NaN above, each its own
    # tie group — the value the window/prefix-sum ranks gave
    rows = [(1.0, 2.0), (2.0, None), (None, 1.0), (3.0, 5.0), (4.0, 4.0), (5.0, 7.0), (math.nan, 3.0)]
    df = spark.createDataFrame(rows, "a double, b double")
    for rho in on_both_paths(lambda: spearman_correlation(df, "a", "b")):
        assert rho == pytest.approx(0.6428571428571427, abs=1e-12)


def test_full_correlation_matrix_matches_pairwise(tie_pairs, on_both_paths):
    df, want = tie_pairs
    three = df.withColumn("c", -F.col("a"))
    for mat in on_both_paths(lambda: full_correlation_matrix(three, ["a", "b", "c"])):
        assert abs(mat[("a", "b")] - want) <= 1e-12
        assert abs(mat[("c", "b")] + want) <= 1e-12
        assert mat[("a", "c")] == pytest.approx(-1.0, abs=1e-12)
        assert all(mat[(x, x)] == pytest.approx(1.0, abs=1e-12) for x in "abc")


def test_spearman_frees_its_rank_table(spark, tie_pairs, on_both_paths):
    # cap 0 runs the distributed rank table; the driver path frees its
    # materialized input too
    df, _ = tie_pairs
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    before = len(storage())
    on_both_paths(lambda: full_correlation_matrix(df, ["a", "b"]))
    assert len(storage()) == before


# ---- driver ranks: below session.DRIVER_COLLECT_MAX_ROWS Spearman ranks
# the collected columns in numpy, in Spark SQL's order
BIG = 2**53  # above it, neighboring longs share one float64


def test_driver_mean_ranks_match_window(spark):
    # exact values (longs past 2⁵³, decimals past float64's digits),
    # nulls first, NaN last as one group, -0.0 tied with 0.0
    rng = random.Random(9)
    tiny = Decimal("1e-20")
    rows = [
        (
            i,
            rng.choice([None, math.nan, -0.0, 0.0, 1.5, 1.5, -2.0, math.inf]),
            rng.choice([None, BIG, BIG + 1, BIG + 2, -BIG, 3]),
            rng.choice([None, Decimal("0.1"), Decimal("0.1") + tiny, Decimal("-5"), Decimal("0.1") - tiny]),
            rng.choice([None, "b", "a", "é", "ab", ""]),
            rng.choice([None, True, False]),
            rng.choice([None, datetime.date(2020, 1, 2), datetime.date(1999, 5, 6)]),
            rng.choice([None, 1.25, -1.25, 0.0]),
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, a double, b long, c decimal(38,21), s string, t boolean, d date, f float",
    ).repartition(4)
    cols = ["a", "b", "c", "s", "t", "d", "f"]
    tbl = df.toArrow()
    ids = tbl.column("id").to_pylist()
    got = {c: dict(zip(ids, driver_mean_ranks(tbl.column(c)).tolist())) for c in cols}
    want = df
    for c in cols:
        want = _window_mean_rank(want, c, "r" + c)
    for r in want.collect():
        assert [got[c][r.id] for c in cols] == [r["r" + c] for c in cols]


@pytest.mark.parametrize(
    "rows, schema, want",
    [
        # ties, nulls, NaN and ±0.0 in a double and a long column
        ([(x, y) for x, y in zip([0.0, -0.0, None, math.nan, 2.0, 2.0, math.nan, 1.0] * 5,
                                 [1, None, 3, 3, 0, 7, 7, None] * 5)], "a double, b long", None),
        # longs that float64 cannot tell apart: exact ranks give ρ = 1
        ([(BIG + i, i) for i in (1, 0, 3, 2, 5, 4)], "a long, b int", 1.0),
        # decimals finer than float64
        ([(Decimal("0.1") + Decimal(i) * Decimal("1e-25"), -i) for i in (2, 0, 1, 3)],
         "a decimal(38,30), b int", -1.0),
    ],
    ids=["ties_nulls_nan_zeros", "long_past_2_53", "decimal"],
)
def test_spearman_driver_path_matches_distributed(spark, on_both_paths, rows, schema, want):
    df = spark.createDataFrame(rows, schema).repartition(3)
    dist, drv = on_both_paths(lambda: spearman_correlation(df, "a", "b"))
    assert abs(dist - drv) <= 1e-12
    if want is not None:
        assert drv == pytest.approx(want, abs=1e-12)


def test_spearman_reads_its_input_once(spark, monkeypatch):
    # an unmaterialized join input runs its exchanges once: the ranks
    # read the materialized columns, not the join a second time
    monkeypatch.setattr(session, "DRIVER_COLLECT_MAX_ROWS", 0)
    rng = random.Random(3)
    left = spark.createDataFrame(
        [(i % 500, rng.random()) for i in range(2000)], "id long, x double"
    ).repartition(4)
    right = left.groupBy("id").agg(F.count("*").alias("n"))

    def jobs(run):
        start = max_job_id(spark)
        run()
        return max_job_id(spark) - start

    def materialized_then_spearman():
        data, _ = checkpoint_count(left.join(right, "id").select("x", "n"))
        spearman_correlation(data, "x", "n")
        release(data)

    direct = jobs(lambda: spearman_correlation(left.join(right, "id"), "x", "n"))
    # no more jobs than materializing the join first (which even adds a
    # job: Spearman materializes the checkpoint again); a second read of
    # the join runs its exchange jobs again (20 vs 17 jobs on local[4])
    assert direct <= jobs(materialized_then_spearman)
