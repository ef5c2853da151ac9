"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same parquet, compare row-count + columns + order-insensitive
values. Runs at sf0.001 by default (driver uses sf0.01 — run
``SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 pytest tests/test_oracle_parity.py``
before relying on a green gate).

DRIVER-STRICT since round 2: DuckDB results are fetched through
pandas (HUGEINT → float64, exactly what the driver sees) and values
canonicalize with scripts/oracle_check.py's full-precision canon — a
query that passes here but would hash-FAIL at the driver was the
round-1 failure mode this closes."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import __spark_entry__ as entry_mod
from graphem_rapids_spark.queries import copurchase_edges

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
from oracle_check import canon, table_hash  # noqa: E402  (driver-strict canon)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()

# Spark jobs per query at sf0.001 with the co-purchase edge table
# already built (local[4]); a change that adds a job per iteration
# trips these. Counts repeat within ±2 across runs (AQE stage timing),
# so each budget is the max measured + 2, capped below the lowest
# count before the community kernels were merged into one
# implementation each; modularity and the single move pass did not
# fall, so theirs is that earlier highest. Other scales run other
# round counts.
JOB_BUDGETS = {
    "connected_components_copurchase": 25,
    "dedup_near_clusters": 34,
    "community_girvan_newman_step": 121,
    "community_girvan_newman_iter": 261,
    "community_modularity": 31,
    "community_louvain_move": 46,
    "community_louvain_rounds": 101,
    "community_louvain_levels": 223,
    "community_louvain_refined": 299,
    "dedup_cluster_keep_best": 38,
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _max_job_id(spark) -> int:
    """Highest job id after draining the listener bus — the status
    store keeps only the last jobs, so count by id, not list size."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    cls = sc._jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")
    it = jsc.statusStore().store().view(cls).reverse().max(1).iterator()
    return it.next().info().jobId() if it.hasNext() else -1


def _canon_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_oracle_parity(spark, duck, name):
    budget = JOB_BUDGETS.get(name) if os.path.basename(SF_DIR.rstrip("/")) == "sf0.001" else None
    if budget is not None:
        copurchase_edges(spark, SF_DIR)  # memoized; shared by the graph queries
        job0 = _max_job_id(spark)
    sdf = QUERIES[name](spark, SF_DIR)
    # driver canon sort_values a pandas frame — list/dict cells crash
    # it (CORRECTNESS_r03); registered outputs must be scalar columns
    nested = [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    assert not nested, f"{name}: nested output columns {nested} break driver canon"
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if budget is not None:
        jobs = _max_job_id(spark) - job0

    # pandas fetch = the driver's dtype-faithful path (HUGEINT→float64)
    opdf = duck.execute(ORACLES[name]).df()
    dcols = list(opdf.columns)
    drows = [tuple(r) for r in opdf.itertuples(index=False, name=None)]

    assert sorted(c.lower() for c in scols) == sorted(c.lower() for c in dcols), (
        f"{name}: column mismatch spark={scols} duck={dcols}"
    )
    assert len(srows) == len(drows), f"{name}: rowcount spark={len(srows)} duck={len(drows)}"
    sc = _canon_rows(srows, [c.lower() for c in scols])
    dc = _canon_rows(drows, [c.lower() for c in dcols])
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b]
    assert not mismatches, f"{name}: first diffs {mismatches[:5]}"
    # and the exact artifact the driver records
    assert table_hash(srows, [c.lower() for c in scols]) == table_hash(
        drows, [c.lower() for c in dcols]
    )
    if budget is not None:
        assert jobs <= budget, f"{name}: {jobs} Spark jobs > budget {budget}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    assert sdf.count() >= 0
    assert len(sdf.schema.fields) > 0
