"""Deterministic hash-uniform functions shared by the engine and the
DuckDB oracles.

``mix_uniform`` (Column) and ``mix_sql`` (ANSI-SQL text) implement the
SAME multiply-mod / xor-shift mixer with every intermediate < 2^31 —
all products stay < 2^62, so the arithmetic is exact in BIGINT on any
engine and the two sides agree bit-for-bit. Used wherever a sampled /
randomized operator needs to be *oracle-checkable* (generator coin
flips, bootstrap resampling, Independent-Cascade edge coins).

``xxhash64``-based variants (graph/generators.py, influence seeds)
remain for operators that don't need cross-engine replay — xxhash has
better mixing but no DuckDB twin. :func:`xxhash64_np` is Spark's
``xxhash64`` in numpy, for kernels that finish on the driver with the
same hash keys as their Spark plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

MIX_M = 2147483648  # 2^31

# Spark's XXH64 (org.apache.spark.sql.catalyst.expressions.XXH64)
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_XXHASH_SEED = 42  # F.xxhash64's seed


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long(x: np.ndarray, h: np.ndarray) -> np.ndarray:
    h = h + _P5 + np.uint64(8)
    h = h ^ (_rotl(x * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_int(x: np.ndarray, h: np.ndarray) -> np.ndarray:
    h = h + _P5 + np.uint64(4)
    h = h ^ ((x & np.uint64(0xFFFFFFFF)) * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def xxhash64_np(*cols) -> np.ndarray:
    """``F.xxhash64(*cols)`` over int64 arrays and Python int literals,
    bit for bit: an array is a bigint column; an int is the literal
    ``F.lit(v)`` makes — an int column when it fits 32 bits, else a
    bigint. Returns signed int64, Spark's sort order."""
    h = np.full(np.broadcast_shapes(*map(np.shape, cols)), _XXHASH_SEED, np.uint64)
    with np.errstate(over="ignore"):
        for c in cols:
            if isinstance(c, np.ndarray):
                h = _hash_long(c.astype(np.int64).view(np.uint64), h)
            elif -(2**31) <= c < 2**31:
                h = _hash_int(np.array(c, np.int64).view(np.uint64), h)
            else:
                h = _hash_long(np.array(c, np.int64).view(np.uint64), h)
    return h.view(np.int64)


def mix_uniform(t, seed: int):
    """Uniform [0,1) from a non-negative bigint key column + seed."""
    h1 = (
        F.lit(1103515245) * ((t + F.lit(seed)) % F.lit(2147483647)) + F.lit(12345)
    ) % F.lit(MIX_M)
    h2 = h1.bitwiseXOR(F.shiftright(h1, 13))
    h3 = (F.lit(134775813) * h2 + F.lit(1)) % F.lit(MIX_M)
    h4 = h3.bitwiseXOR(F.shiftright(h3, 17))
    return h4.cast("double") / F.lit(float(MIX_M))


def mix_sql(t_expr: str, seed: int) -> str:
    """The same mixer as DuckDB-compatible SQL text."""
    h1 = f"((1103515245 * ((({t_expr}) + {seed}) % 2147483647) + 12345) % {MIX_M})"
    h2 = f"xor({h1}, {h1} >> 13)"
    h3 = f"((134775813 * {h2} + 1) % {MIX_M})"
    h4 = f"xor({h3}, {h3} >> 17)"
    return f"({h4} / {MIX_M}.0)"


def mix_py(key: int, seed: int) -> float:
    """Driver-side Python twin of :func:`mix_uniform` — exact integer
    arithmetic, used to precompute small deterministic literal tables
    (e.g. a random-projection sign matrix) that are then inlined
    VERBATIM into both the Spark expression and the SQL oracle, so
    cross-engine parity is by construction."""
    h1 = (1103515245 * ((key + seed) % 2147483647) + 12345) % MIX_M
    h2 = h1 ^ (h1 >> 13)
    h3 = (134775813 * h2 + 1) % MIX_M
    h4 = h3 ^ (h3 >> 17)
    return h4 / MIX_M


def edge_coin_key(u, v, trial):
    """Collision-free bigint key for a per-(directed-edge, trial) coin
    (ids < 2^20, trials < 64 — beyond that keys wrap deterministically
    on both engines, so parity still holds)."""
    return ((u % F.lit(1048576)) * F.lit(1048576) + (v % F.lit(1048576))) * F.lit(
        64
    ) + (trial % F.lit(64))


def edge_coin_key_sql(u: str, v: str, trial: str) -> str:
    return f"((({u}) % 1048576) * 1048576 + (({v}) % 1048576)) * 64 + (({trial}) % 64)"


def event_ts_nanos(df):
    """Normalize ``events.ts`` to LONG NANOSECONDS — the contract every
    event query is written against.

    The driver testdata has shipped two on-disk encodings: TIMESTAMP
    (NANOS), which Spark 4 only reads as a long via
    ``spark.sql.legacy.parquet.nanosAsLong`` (already a no-op pass
    through here), and timestamp[us], which arrives as TIMESTAMP_NTZ.
    The session timezone is pinned to UTC, so the NTZ→timestamp cast is
    wall-clock-identity and ``unix_micros`` yields the same epoch the
    DuckDB oracles compute on the naive timestamp.
    """
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df
    return df.withColumn(
        "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
    )
