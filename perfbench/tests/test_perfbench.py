"""Tests of the benchmark itself: seeded inputs, span tracing, counters.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The last test starts a local Spark session (about a minute).
"""

from __future__ import annotations

import os
import sys
import types

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.counters import parse_size_metric, union_seconds  # noqa: E402
from perfbench.tracer import Tracer  # noqa: E402
from perfbench.workloads import spearman_reference  # noqa: E402


def _bytes(path):
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_gives_byte_identical_graph(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    datagen.write_flagship_graph(str(a), seed=7, n=500)
    datagen.write_flagship_graph(str(b), seed=7, n=500)
    datagen.write_flagship_graph(str(c), seed=8, n=500)
    assert _bytes(a / "edges.parquet") == _bytes(b / "edges.parquet")
    assert _bytes(a / "edges.parquet") != _bytes(c / "edges.parquet")


def test_same_seed_gives_byte_identical_tables(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_tables(str(a), seed=3, scale=0.001)
    datagen.write_tables(str(b), seed=3, scale=0.001)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == 10
    for n in names:
        assert _bytes(a / n) == _bytes(b / n), n


def test_flagship_graph_shape():
    e = datagen.flagship_edges(seed=1, n=800, avg_degree=8.0, n_clusters=4)
    assert (e[:, 0] < e[:, 1]).all()
    assert len(np.unique(e[:, 0] * 800 + e[:, 1])) == len(e)
    deg = np.bincount(e.ravel(), minlength=800)
    assert deg.min() >= 1  # every vertex 0..n-1 has an edge
    assert deg.max() > 4 * deg.mean()  # heavy tail


def _fake_package():
    """pkg.core defines inner/outer; pkg.user binds inner by name."""
    core = types.ModuleType("fakepkg.core")
    user = types.ModuleType("fakepkg.user")

    def inner(x):
        return x + 1

    def outer(x):
        return core.inner(x) * 2

    inner.__module__ = outer.__module__ = "fakepkg.core"
    core.inner, core.outer = inner, outer
    user._inner = inner

    def call_alias(x):
        return user._inner(x)

    user.call_alias = call_alias
    return core, user


def test_spans_nest_and_name_bound_alias_is_reached(monkeypatch):
    core, user = _fake_package()
    monkeypatch.setitem(sys.modules, "fakepkg.core", core)
    monkeypatch.setitem(sys.modules, "fakepkg.user", user)
    original = core.inner
    t = Tracer(package="fakepkg")
    t.patch_function(core, "inner", "core.inner")
    t.patch_function(core, "outer", "core.outer")
    assert user._inner is not original  # the alias was rebound
    assert core.outer(1) == 4
    assert user.call_alias(1) == 2
    names = [s.name for s in t.spans]
    assert names == ["core.outer", "core.inner", "core.inner"]
    outer, nested, alias = t.spans
    assert nested.parent == 0 and alias.parent == -1
    for s in t.spans:
        assert 0.0 <= s.self_s <= s.duration
    assert outer.child_s == pytest.approx(nested.duration)
    summary = t.summary()
    assert summary["core.inner"]["calls"] == 2
    t.active = False
    user.call_alias(1)
    assert len(t.spans) == 3  # inactive wrappers record nothing
    t.restore()
    assert core.inner is original and user._inner is original


def test_program_name_bound_imports_are_rebound():
    import graphem_rapids_spark.checkpoint as checkpoint
    import graphem_rapids_spark.embedding.embedder as embedder
    import graphem_rapids_spark.embedding.laplacian as laplacian
    import graphem_rapids_spark.queries as queries

    originals = (checkpoint.eager_checkpoint, checkpoint.lazy_checkpoint,
                 laplacian.laplacian_embedding)
    t = Tracer()
    t.patch_function(checkpoint, "eager_checkpoint")
    t.patch_function(checkpoint, "lazy_checkpoint")
    t.patch_function(laplacian, "laplacian_embedding")
    try:
        assert queries._eager_ckpt is checkpoint.eager_checkpoint
        assert embedder.eager_checkpoint is checkpoint.eager_checkpoint
        assert embedder.lazy_checkpoint is checkpoint.lazy_checkpoint
        assert embedder.laplacian_embedding is laplacian.laplacian_embedding
        assert checkpoint.eager_checkpoint.__perfbench_original__ is originals[0]
    finally:
        t.restore()
    assert (checkpoint.eager_checkpoint, checkpoint.lazy_checkpoint,
            laplacian.laplacian_embedding) == originals
    assert queries._eager_ckpt is originals[0]


def test_union_seconds():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert union_seconds([(0, 4000), (1000, 2000)]) == 4.0


def test_parse_size_metric():
    assert parse_size_metric("1.5 KiB") == 1536.0
    assert parse_size_metric("total (min, med, max (stageId: taskId))\n2.0 MiB (1 B, 1 B, 1 B)") \
        == 2.0 * 2**20
    assert parse_size_metric("") == 0.0


def test_spearman_reference_ties():
    a = np.array([1.0, 2.0, 2.0, 3.0])
    assert spearman_reference(a, a) == pytest.approx(1.0)
    assert spearman_reference(a, -a) == pytest.approx(-1.0)


def test_benchmark_json_matches_the_metrics_run_prints():
    import json

    from perfbench import run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    spark_zero = dict.fromkeys(run.SPARK_KEYS, 0.0)
    p = {"ops": [{"name": "op", "family": "sql", "s": 1.0, "split": (0.5, 0.5),
                  "spark": spark_zero}], "s": 1.0, "spans": {},
         "module_s": dict.fromkeys(run.TRACED_MODULES, 0.0), "live_rdds": 0}
    extra = dict.fromkeys(run.TRACE_EXTRA, 0.0)
    printed = run.layer_metrics([p], [p], extra)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: run.layer_unit(k) for k in printed}


@pytest.fixture(scope="module")
def spark():
    from perfbench.run import pin_environment, stop_spark

    pin_environment()
    from graphem_rapids_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    yield s
    stop_spark(s)


def test_deterministic_counters_repeat_across_passes(spark, tmp_path):
    """Job and stage counts of the flagship ops repeat exactly from one
    warm pass to the next on the same input, so a change in them is a
    change in the program. (The first pass runs a few one-time jobs,
    such as the parquet footer read, which is why the benchmark warms
    up before it counts.)"""
    from perfbench.counters import SparkCounters
    from perfbench.workloads import FLAGSHIP, Ctx

    n, m = datagen.write_flagship_graph(str(tmp_path), seed=5, n=300)
    ctx = Ctx(spark=spark, data_dir=str(tmp_path), info={"n": n, "m": m})
    counters = SparkCounters(spark)
    passes = []
    for _ in range(3):
        per_op = {}
        for op in FLAGSHIP.ops:
            a = counters.snapshot()
            result = op.run(ctx)
            b = counters.snapshot()
            assert op.check(ctx, result) is None, op.name
            d = counters.delta(a, b)
            per_op[op.name] = (d["spark.jobs"], d["spark.stages"])
        passes.append(per_op)
    assert passes[1] == passes[2]
    assert all(jobs > 0 for jobs, _ in passes[1].values())
