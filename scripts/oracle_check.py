"""Driver-style correctness harness: Spark queries vs DuckDB oracles.

Mimics the round driver's CORRECTNESS gate: for every entry in
``__spark_entry__.queries()``, run the Spark DataFrame and (when an
oracle exists) the DuckDB SQL over the same parquet tables, then
compare column names, row counts, and a value hash with columns
sorted by name and rows sorted canonically.

Driver-parity hardening (round 2 — r1 had 3 queries pass locally but
hash-FAIL at the driver):

- DuckDB results are fetched through **pandas** (``rel.df()``), not
  ``fetchall()``. ``fetchall`` hands HUGEINT back as a Python int and
  hides the int-vs-float divergence the driver sees (DuckDB sums of
  integers are HUGEINT, which pandas narrows to float64 → ``5.0`` vs
  Spark's bigint ``5``). Oracle SQL must CAST integer sums to BIGINT.
- Floats canonicalize at **full precision** (``repr``), not ``%.6g``
  — the forgiving format masked 7th-digit drift the driver may not
  forgive. Set ``ORACLE_CANON=loose`` to get the old behavior when
  triaging.
- ``GRAPHEM_ARROW=0`` disables Arrow conversion in the Spark session,
  reproducing the driver's row-wise ``createDataFrame`` verifier that
  rejects numpy scalars (r1 flagship crash).

Usage: python scripts/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

LOOSE = os.environ.get("ORACLE_CANON", "strict").lower() == "loose"


def canon(val):
    if val is None:
        return "\0"
    # pandas NA / NaT arrive as float nan or pd.NaT; numpy scalars
    # str() identically to their Python counterparts except float
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        return f"{val:.6g}" if LOOSE else repr(val)
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(canon(v) for v in val) + "]"
    if isinstance(val, bytes):
        return val.hex()
    try:
        import numpy as np

        if isinstance(val, np.floating):
            v = float(val)
            if math.isnan(v):
                return "nan"
            return f"{v:.6g}" if LOOSE else repr(v)
        if isinstance(val, np.integer):
            return str(int(val))
        if isinstance(val, np.ndarray):
            return "[" + ",".join(canon(v) for v in val.tolist()) + "]"
    except ImportError:
        pass
    return str(val)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from graphem_rapids_spark.checkpoint import release
    from graphem_rapids_spark.session import get_spark

    extra = {}
    if os.environ.get("GRAPHEM_ARROW", "1").lower() in ("0", "false", "no"):
        extra["spark.sql.execution.arrow.pyspark.enabled"] = "false"
    # GRAPHEM_AQE=0 → prove results are not adaptive-planning-dependent
    if os.environ.get("GRAPHEM_AQE", "1").lower() in ("0", "false", "no"):
        extra["spark.sql.adaptive.enabled"] = "false"
    spark = get_spark(extra_conf=extra)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            # The round driver's canonicalizer sort_values a pandas
            # frame of the result and crashes on list/dict cells
            # (CORRECTNESS_r03: 4 array-output queries errored) —
            # reject nested output types here so that class of
            # failure can never reach the driver again.
            nested = [
                f.name
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if nested:
                print(
                    f"FAIL  {name}: nested output columns {nested} — "
                    "driver canon cannot hash list cells; serialize to "
                    "scalars (CSV/explode) in the registry wrapper"
                )
                n_fail += 1
                continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            # a result owns the blocks it reads: free them after the
            # last reader, as a long-lived session must
            release(sdf)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (rows-only check) [{dt:.1f}s]")
            n_weak += 1
            continue
        try:
            rel = con.execute(oracles[name])
            # pandas fetch = the driver's dtype-faithful path (HUGEINT →
            # float64, etc.); itertuples keeps numpy scalars visible
            opdf = rel.df()
            ocols = list(opdf.columns)
            orows = [tuple(r) for r in opdf.itertuples(index=False, name=None)]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sh = table_hash(srows, scols)
            oh = table_hash(orows, ocols)
            if sh != oh:
                problems.append(f"hash spark={sh} oracle={oh}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"pass  {name}: rows={len(srows)} hash ok [{dt:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_weak} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
