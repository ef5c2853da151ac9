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
from graphem_rapids_spark.checkpoint import readable_blocks, release
from graphem_rapids_spark.queries import copurchase_edges
from tests.conftest import max_job_id

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
# trips these. Counts move by up to ±2 across runs (AQE stage
# timing), so each budget is the max measured + 2, capped at the
# highest count measured before the round loops moved onto
# checkpoint.iterate — no query may run more jobs than it did then.
# Other scales run other round counts.
JOB_BUDGETS = {
    "pagerank_copurchase": 42,
    "ppr_copurchase": 47,
    "pagerank_weighted_copurchase": 44,
    "eigenvector_copurchase": 40,
    "katz_copurchase": 26,
    "community_lpa": 20,
    "community_density_profile": 25,
    "community_modularity": 29,
    "graph_conductance_profile": 35,
    "kcore_copurchase": 23,
    "ktruss_copurchase": 23,
    "graph_coreness_hindex": 28,
    "closeness_sampled": 23,
    "harmonic_sampled": 20,
    "graph_eccentricity_sampled": 20,
    "influence_ic": 11,
    "graph_weighted_sssp": 52,
    "weighted_closeness_sampled": 50,
    "tokenizer_bpe_train_rounds": 20,
    "tokenizer_bpe_encode": 26,
    "betweenness_copurchase": 36,
    "betweenness_tree": 151,
    "load_copurchase": 36,
    "edge_betweenness_copurchase": 42,
    "connected_components_copurchase": 22,
    "dedup_near_clusters": 32,
    "dedup_cluster_keep_best": 36,
    "embedding_dbscan": 86,
    "community_girvan_newman_step": 106,
    "community_girvan_newman_iter": 229,
    "community_louvain_move": 43,
    "community_louvain_rounds": 96,
    "community_louvain_levels": 221,
    "community_louvain_refined": 290,
    "graph_mst": 91,
    "graph_mis_luby": 93,
    "graph_matching_luby": 68,
    "graph_densest_subgraph": 46,
    "embedding_pca_power": 10,
    "graph_effective_diameter": 19,
    "spearman_qty_price": 6,
    "spearman_matrix": 6,
    "layout_seed_selection": 14,
    "graph_weighted_layout": 23,
    "layout_invariants": 16,
    "weighted_layout_invariants": 25,
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


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _assert_owns_its_blocks(spark, name, sdf, before, reads):
    """Every persistent RDD the call created is read by its result —
    ``reads`` at return, or after the collect (a lazy checkpoint stops
    reading its inputs once materialized; a persisted Dataset's
    buffers exist only once read) — and releasing the result frees
    them all."""
    made = _persistent_rdds(spark) - before
    unread = made - reads - readable_blocks(sdf)
    assert not unread, f"{name}: persistent RDDs {sorted(unread)} not read by the result"
    release(sdf)
    left = _persistent_rdds(spark) - before
    assert not left, f"{name}: persistent RDDs {sorted(left)} left after release"


def _job_budget(name):
    return JOB_BUDGETS.get(name) if os.path.basename(SF_DIR.rstrip("/")) == "sf0.001" else None


def _canon_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_oracle_parity(spark, duck, name):
    budget = _job_budget(name)
    copurchase_edges(spark, SF_DIR)  # memoized; shared by the graph queries
    before = _persistent_rdds(spark)
    if budget is not None:
        job0 = max_job_id(spark)
    sdf = QUERIES[name](spark, SF_DIR)
    reads = readable_blocks(sdf)
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
        jobs = max_job_id(spark) - job0
    _assert_owns_its_blocks(spark, name, sdf, before, reads)

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
    budget = _job_budget(name)
    copurchase_edges(spark, SF_DIR)
    before = _persistent_rdds(spark)
    job0 = max_job_id(spark)
    sdf = QUERIES[name](spark, SF_DIR)
    reads = readable_blocks(sdf)
    assert sdf.count() >= 0
    if budget is not None:
        jobs = max_job_id(spark) - job0
        assert jobs <= budget, f"{name}: {jobs} Spark jobs > budget {budget}"
    assert len(sdf.schema.fields) > 0
    _assert_owns_its_blocks(spark, name, sdf, before, reads)
