"""Shared fixtures. Local-mode session mirroring the driver env:
local[N] with fixed shuffle partitions (N from SPARK_GRAFT_CPUS)."""

from __future__ import annotations

import os

import pytest

from graphem_rapids_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

_background: list = []


def pytest_collection_finish(session):
    """Start the background work a selected test module declares
    (``start_background()``, e.g. the examples' child process) as soon
    as collection ends, so it overlaps the rest of the suite."""
    if session.config.option.collectonly:
        return
    for mod in {getattr(item, "module", None) for item in session.items}:
        start = getattr(mod, "start_background", None)
        if start is not None:
            start()
            _background.append(mod)


def pytest_sessionfinish(session):
    # never leave a background process behind (interrupted runs too)
    for mod in _background:
        mod.stop_background()


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="graphem-tests", master=f"local[{cpus}]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def on_both_paths(monkeypatch):
    """``on_both_paths(run)`` → ``[run() on the distributed path,
    run() on the driver path]``: the small-state kernels (IC, Spearman,
    the force layout) finish on the driver below
    ``session.DRIVER_COLLECT_MAX_ROWS``, and a cap of 0 forces their
    distributed plan."""
    from graphem_rapids_spark import session

    def run_both(run):
        out = []
        for cap in (0, session.DRIVER_COLLECT_MAX_ROWS):
            monkeypatch.setattr(session, "DRIVER_COLLECT_MAX_ROWS", cap)
            out.append(run())
        return out

    return run_both


def max_job_id(spark) -> int:
    """Highest job id after draining the listener bus — the status
    store keeps only the last jobs, so count by id, not list size."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    cls = sc._jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")
    it = jsc.statusStore().store().view(cls).reverse().max(1).iterator()
    return it.next().info().jobId() if it.hasNext() else -1


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# Tiny deterministic graphs from FIXTURES.md
K4_EDGES = [(0, 1), (1, 2), (2, 3), (0, 3), (0, 2), (1, 3)]
TWO_TRIANGLES = [(0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5)]
TWO_TRIANGLES_LINKED = [
    (0, 1), (0, 2), (1, 2), (1, 3), (2, 4), (3, 4), (3, 5), (4, 5), (0, 5),
]
PATH10 = [(i, i + 1) for i in range(9)]
COMPLETE8 = [(i, j) for i in range(8) for j in range(i + 1, 8)]
STAR10 = [(0, i) for i in range(1, 10)]


@pytest.fixture
def k4(spark):
    return spark.createDataFrame(K4_EDGES, "src long, dst long")


@pytest.fixture
def two_triangles(spark):
    return spark.createDataFrame(TWO_TRIANGLES, "src long, dst long")


@pytest.fixture
def path10(spark):
    return spark.createDataFrame(PATH10, "src long, dst long")


@pytest.fixture
def star10(spark):
    return spark.createDataFrame(STAR10, "src long, dst long")
