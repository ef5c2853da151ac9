"""The driver-side power rounds of ``pca_power_int8``: exact replay of
the DuckDB oracle on shapes the registry does not run (three
components, a scalar ``iters``, d ≠ 64), and the overflow failures the
ANSI Spark sums raised."""

from __future__ import annotations

import os
import random
import sys

import duckdb
import pyarrow as pa
import pytest

from graphem_rapids_spark.pipeline.similarity import _power_rounds, pca_power_int8
from graphem_rapids_spark.queries import _pca_sql

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
from oracle_check import table_hash  # noqa: E402  (driver-strict canon)

DIM = 4


def _embeddings(n=50, seed=11):
    """Seeded anisotropic cloud: distinct axis scales give each
    component its own eigengap."""
    rng = random.Random(seed)
    return [(i, [rng.gauss(0.0, 1.0) * (DIM - j) for j in range(DIM)]) for i in range(n)]


@pytest.mark.parametrize(
    "oracle_iters, iters, components",
    [((5, 9, 7), [5, 9, 7], 3), ((6, 6), 6, 2)],
    ids=["per_component_3", "scalar_2"],
)
def test_pca_matches_oracle_off_registry_shapes(spark, oracle_iters, iters, components):
    rows = _embeddings()
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float64())),
            }
        ),
    )
    opdf = con.execute(_pca_sql(oracle_iters, dim=DIM)).df()
    con.close()
    drows = list(opdf.itertuples(index=False, name=None))
    sdf = pca_power_int8(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        iters=iters,
        dim=DIM,
        components=components,
    )
    assert sdf.schema.simpleString() == "struct<component:bigint,dim:int,v_micro:bigint,lam:double>"
    srows = [tuple(r) for r in sdf.collect()]
    assert len(srows) == DIM * components
    assert table_hash(srows, sdf.columns) == table_hash(
        drows, [c.lower() for c in opdf.columns]
    )


@pytest.mark.parametrize(
    "B, match",
    [
        ([[1 << 62, 1 << 62], [0, 1]], "BIGINT"),  # matvec entry past 2⁶³
        ([[9 * 10**12, 0], [0, 9 * 10**12]], "decimal"),  # Σu² past 10³⁸
    ],
    ids=["matvec_bigint", "norm_decimal38"],
)
def test_power_rounds_raise_on_overflow(B, match):
    with pytest.raises(ArithmeticError, match=match):
        _power_rounds(B, [1])
