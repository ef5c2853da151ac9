"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline (co-purchase graph → spectral
init → force-directed layout → radial top-k seeds, the reference's
headline query) on sf0.001.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2 plus the north-star pipeline operators; oracles are
DuckDB ANSI SQL over the same parquet tables. Implementations live in
``graphem_rapids_spark/queries.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from graphem_rapids_spark.queries import QUERIES

    return QUERIES["layout_seed_selection"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from graphem_rapids_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from graphem_rapids_spark.queries import ORACLES

    return dict(ORACLES)
