"""Scalable replacements for global (partition-less) window operations.

A ``Window.orderBy(...)`` with no ``partitionBy`` moves EVERY row into
one partition (Spark logs ``WindowExec: No Partition Defined``) — fine
at sf0.1, fatal at 100 TB. The two global-window shapes the engine
needs are mean-tie ranking (Spearman, reference ``benchmark.py:217-238``
via scipy ``rankdata``) and dense 0..n-1 re-indexing (node relabel,
reference ``datasets.py:148-166``). Both are re-expressed here as:

1. ``groupBy(value)`` — collapse rows to (value, tie_count); one
   shuffle, map-side combined.
2. ``repartitionByRange(value)`` — order-preserving partitioning
   (partition i holds values below partition i+1's); persisted so the
   sampled range boundaries are computed once and shared by every
   consumer (re-sampling on recompute could re-bucket rows).
3. per-partition running sums via a window PARTITIONED by
   ``spark_partition_id()`` — bounded partitions, no funnel.
4. partition-boundary offsets: one tiny aggregate (≤ #partitions rows)
   prefix-summed and broadcast back — or, for the mean ranks, collected
   to the driver, so that one persisted table ranks several columns.

mean_rank(v) = (# rows < v) + 1 + (tie_count(v) − 1)/2 — arithmetic
identical to ``rank() + (count(*) over (partition by v) − 1)/2.0``, so
results are bit-equal to the window formulation (and to the DuckDB
oracles) while every stage stays distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphem_rapids_spark.checkpoint import owned, persist


def _prefix_counts(df: DataFrame, col: str) -> DataFrame:
    """(col, _c, _less) — per distinct value: tie count and the number
    of rows with a strictly smaller value (nulls first, as in Spark's
    ascending sort). All stages distributed; the only single-partition
    work is the prefix sum over per-partition totals (≤ shuffle
    partition count rows)."""
    spark = df.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cnt = df.groupBy(col).agg(F.count("*").alias("_c"))
    # persisted: range boundaries come from a sample of the input;
    # recomputing the exchange per consumer could draw a different
    # sample and disagree with the collected offsets
    part = persist(
        cnt.repartitionByRange(npart, F.col(col).asc())
        .sortWithinPartitions(F.col(col).asc())
        .withColumn("_pid", F.spark_partition_id())
    )
    tot = part.groupBy("_pid").agg(F.sum("_c").alias("_t"))
    # INTENTIONAL bounded single-partition window: Catalyst folds the
    # constant partitionBy(lit(0)) into an empty partition spec, so
    # executing plans show one SinglePartition WindowExec and Spark
    # logs "No Partition Defined" — expected and safe here, because
    # the input is the per-partition totals table (≤ shuffle-partition
    # count rows, i.e. ≤ npart regardless of data scale), never the
    # data itself.
    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = tot.withColumn(
        "_off", F.coalesce(F.sum("_t").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    w_local = Window.partitionBy("_pid").orderBy(F.col(col).asc())
    return (
        part.join(F.broadcast(offsets), "_pid")
        .withColumn("_cum", F.sum("_c").over(w_local))
        .select(
            col,
            "_c",
            (F.col("_off") + F.col("_cum") - F.col("_c")).alias("_less"),
        )
    )


@owned
def global_mean_ranks(df: DataFrame, cols: list[str], outs: list[str]) -> DataFrame:
    """Append the mean-tie (scipy ``rankdata``-style) global rank of
    each ``cols[j]`` as ``outs[j]`` without a partition-less window,
    every column in ONE pass:

    1. each row becomes one (j, value) entry per column — the value
       sits in a struct whose other fields are null, so every column
       keeps its own type and Spark's order (nulls first, NaN last,
       −0.0 = 0.0);
    2. entries collapse to one (j, value, tie count) row per tie group —
       so ties are exact at any row count — which are range-partitioned
       on (j, value) and persisted;
    3. the per-(range partition, column) totals (≤ shuffle partitions ×
       columns rows) are collected — the one action at call time;
    4. one window partitioned by range partition gives each tie group
       the rows before it, and the rank table is joined back per column
       on the value (null-safe, so null rows keep their rank).

    ``checkpoint.release`` on the result frees the persisted table."""
    spark = df.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    d = len(cols)
    types = {f.name: f.dataType for f in df.schema.fields}
    entries = [
        F.struct(
            F.lit(j).alias("_j"),
            F.struct(
                *[
                    (F.col(c) if i == j else F.lit(None).cast(types[c])).alias(f"_v{i}")
                    for i, c in enumerate(cols)
                ]
            ).alias("_v"),
        )
        for j in range(d)
    ]
    # persisted: range boundaries come from a sample of the input; a
    # recompute could draw another sample and disagree with the
    # collected totals
    part = persist(
        df.select(F.explode(F.array(*entries)).alias("_e"))
        .groupBy("_e._j", "_e._v")
        .agg(F.count("*").alias("_c"))
        .repartitionByRange(npart, F.col("_j").asc(), F.col("_v").asc())
        .withColumn("_pid", F.spark_partition_id())
    )
    tot = {
        (r._pid, r._j): r._t
        for r in part.groupBy("_pid", "_j").agg(F.sum("_c").alias("_t")).collect()
    }
    # the window sums all columns of a range partition in (j, value)
    # order, so a (partition, column) starts from the rows of that column
    # in earlier partitions, minus the rows of earlier columns in its own
    base, seen = {}, [0] * d
    for p, j in sorted(tot):
        base[p * d + j] = seen[j] - sum(tot.get((p, i), 0) for i in range(j))
        seen[j] += tot[(p, j)]
    lookup = F.create_map(*[F.lit(x) for kv in sorted(base.items()) for x in kv]).cast(
        "map<bigint,bigint>"  # typed even when empty (no rows)
    )
    w = Window.partitionBy("_pid").orderBy("_j", "_v")
    less = lookup[F.col("_pid") * d + F.col("_j")] + F.sum("_c").over(w) - F.col("_c")
    table = part.select("_j", "_v", (less + 1 + (F.col("_c") - 1) / 2.0).alias("_rank"))
    out = df
    for j, (c, o) in enumerate(zip(cols, outs)):
        ranks = table.filter(F.col("_j") == j).select(
            F.col(f"_v._v{j}").alias("_rank_key"), F.col("_rank").alias(o)
        )
        out = out.join(ranks, F.col(c).eqNullSafe(F.col("_rank_key")), "left").drop(
            "_rank_key"
        )
    return out


def driver_rankable(dtype) -> bool:
    """Whether :func:`driver_mean_ranks` orders ``dtype`` exactly as
    Spark SQL does: numbers, booleans, dates, timestamps, binary and
    binary-collated strings (UTF-8 byte order is code-point order)."""
    return isinstance(
        dtype,
        (T.NumericType, T.BooleanType, T.DateType, T.TimestampType,
         T.TimestampNTZType, T.BinaryType),
    ) or dtype == T.StringType()


def driver_mean_ranks(values):
    """Mean-tie ranks (1-based float64 numpy array) of one collected
    Arrow column, in Spark SQL's ascending order — the driver twin of
    :func:`global_mean_ranks`: nulls first as one tie group, then the
    values, then NaN last as its own group; −0.0 ties 0.0. Values are
    ranked as they are, never through float64 unless they are floats,
    so integers and decimals keep their exact order.

    Floats go through numpy: ``pyarrow.compute.rank`` with nulls at the
    start ties NaN with the nulls."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    nulls = values.is_null().to_numpy(zero_copy_only=False)
    present = values.drop_null()
    if pa.types.is_floating(present.type):
        x = present.to_numpy().astype(np.float64, copy=False)
        nan = np.isnan(x)
        uniq, inv = np.unique(x[~nan], return_inverse=True)  # −0.0 == 0.0
        dense = np.empty(len(x), np.int64)
        dense[~nan] = inv + 1
        dense[nan] = len(uniq) + 1
    else:
        dense = pc.rank(present, sort_keys="ascending", tiebreaker="dense").to_numpy()
    codes = np.zeros(len(nulls), np.int64)  # code 0: the null group
    codes[~nulls] = dense
    counts = np.bincount(codes)
    less = np.cumsum(counts) - counts
    # the same arithmetic as global_mean_ranks: less + 1 + (c − 1)/2
    return (less + 1 + (counts - 1) / 2.0)[codes]


@owned
def global_dense_index(df: DataFrame, col: str, out: str) -> DataFrame:
    """(col, out) — dense 0..n-1 index of the DISTINCT values of
    ``col`` in ascending order (``row_number() over (order by col) - 1``
    without the single-partition funnel)."""
    return _prefix_counts(df.select(col).distinct(), col).select(
        col, F.col("_less").cast("long").alias(out)
    )


@owned
def global_strict_prefix_max(df: DataFrame, key: str, val: str, out: str) -> DataFrame:
    """Append ``out`` = max of ``val`` over all rows with a STRICTLY
    smaller ``key`` (the ``max(val) OVER (ORDER BY key RANGE BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)`` window, without the
    single-partition funnel). ``df`` must have one row per distinct
    ``key`` (pre-aggregate first). Same discipline as
    :func:`_prefix_counts`: range-repartition on the key, running max
    within each ordered partition, per-partition totals (≤ shuffle
    partition count rows) prefix-maxed in one bounded window and
    broadcast back. ``out`` is null when no smaller key exists."""
    spark = df.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # persisted for the same reason as _prefix_counts: the range
    # exchange samples the input; a per-consumer recompute could
    # re-bucket rows and disagree with the collected offsets
    part = persist(
        df.repartitionByRange(npart, F.col(key).asc())
        .sortWithinPartitions(F.col(key).asc())
        .withColumn("_pid", F.spark_partition_id())
    )
    tot = part.groupBy("_pid").agg(F.max(val).alias("_t"))
    # bounded single-partition window over ≤ npart per-partition maxima
    # (see the _prefix_counts comment — intentional and scale-safe)
    w_off = (
        Window.partitionBy(F.lit(0))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = tot.withColumn("_off", F.max("_t").over(w_off)).select("_pid", "_off")
    w_local = Window.partitionBy("_pid").orderBy(F.col(key).asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        part.join(F.broadcast(offsets), "_pid")
        .withColumn("_run", F.max(val).over(w_local))
        .withColumn(out, F.greatest(F.coalesce("_run", "_off"), F.coalesce("_off", "_run")))
        .drop("_pid", "_off", "_run")
    )
