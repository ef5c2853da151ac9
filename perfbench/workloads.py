"""The benchmark's workloads: inputs, ops, and how each op's output is checked.

An op is one user call run as a full action; it returns its result rows
so the check can run outside the timed region. Two workloads:

- ``flagship_generated`` — the paper's pipeline (spectral init → force
  layout → radial top-k seeds → independent cascade → degree and
  Spearman ρ) on a seeded heavy-tailed clustered graph, through the
  library API.
- ``tables_text_stream`` — relational, event, dedup, vector, text and
  streaming registry queries on seeded tables: few jobs and no
  checkpoint loop, so a change to the iterative graph drivers should
  not move it.

Registry ops are checked against their DuckDB oracle with the strict
canonical hash of ``scripts/oracle_check.py``; the flagship ops against
invariants and a numpy reference.
"""

from __future__ import annotations

import importlib.util
import math
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from perfbench import datagen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# flagship pipeline parameters
FLAGSHIP_N = 2000
FLAGSHIP_AVG_DEGREE = 8.0
LAYOUT_ITERS = 1
TOP_K = 10
IC_P = 0.03
IC_TRIALS = 5

# tables scale for the registry workloads (sf-equivalent)
TABLES_SCALE = 0.01


def _oracle_check_module():
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_check", os.path.join(ROOT, "scripts", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Ctx:
    spark: Any
    data_dir: str
    info: dict
    expected: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)
    # per-op split of registry calls: frame build vs action (seconds)
    last_split: tuple[float, float] | None = None


@dataclass
class Op:
    name: str
    family: str
    run: Callable[[Ctx], Any]
    check: Callable[[Ctx, Any], str | None]


@dataclass
class Workload:
    name: str
    make_inputs: Callable[[str, int], dict]
    ops: list[Op]
    # untimed passes before timing: the first pays codegen and JIT; the
    # rest bring pass times close to steady state (the traced run reports
    # bench.warm_last_ratio, last warm-up pass over the timed median)
    warm_passes: int
    # timed passes run for --seconds and at least this many times, so
    # every run's medians rest on the same number of samples
    min_passes: int
    # untimed: expected results (oracle) for the checks
    expect: Callable[[Ctx], None] = lambda ctx: None


# --------------------------------------------------------------- flagship

def _flagship_inputs(data_dir: str, seed: int) -> dict:
    n, m = datagen.write_flagship_graph(
        data_dir, seed, n=FLAGSHIP_N, avg_degree=FLAGSHIP_AVG_DEGREE)
    return {"n": n, "m": m}


def _edges(ctx: Ctx):
    return ctx.spark.read.parquet(os.path.join(ctx.data_dir, "edges.parquet"))


def _embed(ctx: Ctx):
    from pyspark.sql import functions as F

    from graphem_rapids_spark.embedding.embedder import GraphEmbedderSpark

    emb = GraphEmbedderSpark(_edges(ctx), ctx.info["n"], n_components=2, seed=42,
                             sample_size=128, canonical=True)
    emb.run_layout(LAYOUT_ITERS)
    top = (emb.radial_distances()
           .orderBy(F.col("radius").desc(), F.col("id").asc())
           .limit(TOP_K).collect())
    ctx.state["emb"] = emb
    ctx.state["seeds"] = [int(r.id) for r in top]
    return [(int(r.id), float(r.radius)) for r in top]


def _cascade(ctx: Ctx):
    from graphem_rapids_spark.influence import independent_cascade

    seeds = ctx.spark.createDataFrame([(s,) for s in ctx.state["seeds"]], "id long")
    act = independent_cascade(_edges(ctx), seeds, p=IC_P, trials=IC_TRIALS, seed=42)
    rows = act.groupBy("trial").count().collect()
    return sorted((int(r.trial), int(r["count"])) for r in rows)


def _scores(ctx: Ctx):
    from graphem_rapids_spark.analytics import degree_centrality, spearman_correlation

    deg = degree_centrality(_edges(ctx), ctx.info["n"])
    joined = ctx.state["emb"].radial_distances().join(deg, "id")
    return spearman_correlation(joined, "radius", "value")


def _ranks(x: np.ndarray) -> np.ndarray:
    """Average ranks (ties share the mean rank), as scipy.stats.rankdata."""
    order = np.argsort(x, kind="stable")
    xs = x[order]
    starts = np.flatnonzero(np.r_[True, xs[1:] != xs[:-1]])
    ends = np.r_[starts[1:], len(xs)]
    avg = (starts + ends - 1) / 2.0 + 1.0
    r = np.empty(len(x))
    r[order] = np.repeat(avg, ends - starts)
    return r


def spearman_reference(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.corrcoef(_ranks(a), _ranks(b))[0, 1])


def _same_as_first(ctx: Ctx, key: str, value: float) -> str | None:
    """Deterministic results must repeat across passes. Compared at 9
    significant digits: Spark's float aggregates sum in task order, so
    the last bits of a correlation may differ between passes."""
    first = ctx.state.setdefault("first_" + key, value)
    if f"{first:.9g}" == f"{value:.9g}":
        return None
    return f"{key} changed between passes: {first!r} -> {value!r}"


def _check_embed(ctx: Ctx, top) -> str | None:
    from pyspark.sql import functions as F

    pos = ctx.state["emb"].positions
    bad = F.exists("pos", lambda x: F.isnan(x) | (F.abs(x) >= F.lit(float("inf"))))
    s = pos.agg(F.count("*").alias("rows"), F.countDistinct("id").alias("ids"),
                F.min(F.size("pos")).alias("dmin"), F.max(F.size("pos")).alias("dmax"),
                F.sum(F.when(bad, 1).otherwise(0)).alias("nonfinite")).first()
    n = ctx.info["n"]
    if (s.rows, s.ids, s.dmin, s.dmax, s.nonfinite or 0) != (n, n, 2, 2, 0):
        return f"positions {s.asDict()} for n={n}"
    if len({i for i, _ in top}) != TOP_K:
        return f"top-{TOP_K} has {len(top)} rows"
    return None


def _check_cascade(ctx: Ctx, rows) -> str | None:
    if len(rows) != IC_TRIALS or any(c < TOP_K for _, c in rows):
        return f"cascade rows {rows}"
    spread = sum(c for _, c in rows) / IC_TRIALS
    ctx.state["cascade_spread"] = spread
    return _same_as_first(ctx, "cascade_spread", spread)


def _check_scores(ctx: Ctx, rho) -> str | None:
    r = ctx.state["emb"].radial_distances().collect()
    ids = np.array([x.id for x in r], dtype=np.int64)
    radius = np.array([x.radius for x in r])
    e = ctx.state.setdefault("edge_array", _read_edge_array(ctx))
    degree = np.bincount(e.ravel(), minlength=ctx.info["n"])[ids].astype(float)
    ref = spearman_reference(radius, degree)
    if not (math.isfinite(rho) and abs(rho - ref) <= 1e-9):
        return f"spearman {rho} vs numpy {ref}"
    ctx.state["radial_rho"] = rho
    return _same_as_first(ctx, "radial_rho", rho)


def _read_edge_array(ctx: Ctx) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(ctx.data_dir, "edges.parquet"))
    return np.stack([t.column("src").to_numpy(), t.column("dst").to_numpy()], axis=1)


FLAGSHIP = Workload(
    name="flagship_generated",
    make_inputs=_flagship_inputs,
    ops=[
        Op("graphem_embed_topk", "embed", _embed, _check_embed),
        Op("independent_cascade", "cascade", _cascade, _check_cascade),
        Op("degree_spearman", "scores", _scores, _check_scores),
    ],
    warm_passes=2,
    min_passes=2,
)


# --------------------------------------------------------------- registry

def _tables_inputs(data_dir: str, seed: int) -> dict:
    return datagen.write_tables(data_dir, seed, scale=TABLES_SCALE)


def _registry_op(name: str, family: str) -> Op:
    def run(ctx: Ctx):
        from graphem_rapids_spark.queries import QUERIES

        t0 = time.perf_counter()
        df = QUERIES[name](ctx.spark, ctx.data_dir)
        t1 = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        ctx.last_split = (t1 - t0, time.perf_counter() - t1)
        return df.columns, rows

    def check(ctx: Ctx, result) -> str | None:
        cols, rows = result
        want = ctx.expected[name]
        if isinstance(want, str):
            return want
        ocols, n_rows, ohash = want
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
        if len(rows) != n_rows:
            return f"{len(rows)} rows vs oracle {n_rows}"
        h = ctx.state["oracle"].table_hash(rows, cols)
        return None if h == ohash else f"hash {h} vs oracle {ohash}"

    return Op(name, family, run, check)


def _registry_expect(ops: list[Op]) -> Callable[[Ctx], None]:
    """Expected (columns, row count, strict hash) per op from the DuckDB
    oracle over the same parquet files."""

    def expect(ctx: Ctx) -> None:
        import duckdb

        from graphem_rapids_spark.queries import ORACLES

        oc = ctx.state["oracle"] = _oracle_check_module()
        con = duckdb.connect()
        try:
            for t in oc.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{ctx.data_dir}/{t}.parquet')")
            for op in ops:
                try:
                    df = con.execute(ORACLES[op.name]).df()
                except Exception as exc:  # noqa: BLE001 — recorded as the op's failure
                    ctx.expected[op.name] = f"oracle error: {exc}"
                    continue
                cols = list(df.columns)
                rows = [tuple(r) for r in df.itertuples(index=False, name=None)]
                ctx.expected[op.name] = (cols, len(rows), oc.table_hash(rows, cols))
        finally:
            con.close()

    return expect


_TABLES_OPS = [
    _registry_op("q1_pricing_summary", "sql"),
    _registry_op("events_sessionize", "sql"),
    _registry_op("dedup_exact", "dedup"),
    _registry_op("knn_exact", "vector"),
    _registry_op("doc_token_stats", "text"),
    _registry_op("events_stream_hourly", "stream"),
]

TABLES = Workload(
    name="tables_text_stream",
    make_inputs=_tables_inputs,
    ops=_TABLES_OPS,
    warm_passes=4,
    min_passes=5,
    expect=_registry_expect(_TABLES_OPS),
)

WORKLOADS = {w.name: w for w in (FLAGSHIP, TABLES)}
