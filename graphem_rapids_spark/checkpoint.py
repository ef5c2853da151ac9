"""Stats-safe eager checkpointing for iterative kernels.

Root cause (measured r8, this VM, Spark 4.1): ``localCheckpoint``
propagates the child plan's CBO statistics into the resulting
``LogicalRDD`` (SPARK-39834 behavior). Catalyst's size-only join
estimate is a PRODUCT of child sizes, so a per-iteration plan that
references its previous checkpoint in k places compounds the
``sizeInBytes`` BigInt k-fold per iteration — the digit count grows
exponentially (measured on the Louvain move pass: 132 → 582 → 2383 →
9585 digits over four passes), and the driver ends up spending entire
cores inside ``BigInteger.multiplyToomCook3`` DURING PLANNING: pass
cost exploded 0.7 s → 88 s by pass 9 on a 10-vertex graph with
constant data, constant lineage (7 RDD lines), and a constant 18 jobs
per pass. This single mechanism explains the "move passes get slower
each round" behavior previously attributed to JIT/VM weather.

Fix: after the eager localCheckpoint, rebuild the DataFrame from the
checkpointed physical RDD via ``internalCreateDataFrame`` — same
rows, same schema, but a fresh ``LogicalRDD`` carrying only default
stats (digit count pinned at 19; the same 14-pass probe holds flat at
0.5–0.9 s). The pessimistic default size only affects STATIC broadcast
planning, and AQE re-plans joins from actual runtime shuffle sizes, so
nothing is lost at any scale.

Block release (second r8 finding, measured with getRDDStorageInfo):
``DataFrame.unpersist`` only consults the CACHE MANAGER, which has no
entry for a checkpoint, so it silently no-ops on ANY localCheckpoint'ed
frame — severed or not — and the per-round blocks of every iterative
kernel leak until the driver GC happens to drop the last RDD
reference. The persisted blocks belong to the ``LogicalRDD`` plan's
RDD, so :func:`eager_checkpoint` captures that RDD and rebinds the
returned frame's ``unpersist`` (and :func:`release`) to free it
directly — verified: storage-info entry count drops by exactly one
per released checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _checkpoint_rdd(df: DataFrame):
    """The persisted JVM RDD behind a ``localCheckpoint``'ed frame —
    the ``LogicalRDD`` plan's ``rdd`` field. ``None`` when the plan
    shape is unexpected (connect sessions, non-checkpoint frames)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return plan.rdd()
    except Exception:  # pragma: no cover — connect/older builds
        return None


def _bind_release(df: DataFrame, jrdd) -> DataFrame:
    """Attach the owning checkpoint RDD and make ``df.unpersist()``
    actually free its blocks (after release the checkpoint is
    lineage-truncated and must not be read again — same contract as
    a plain localCheckpoint unpersist)."""
    df._graphem_ckpt_rdd = jrdd

    def _unpersist(blocking: bool = False, _jrdd=jrdd, _df=df):
        try:
            _jrdd.unpersist(bool(blocking))
        except Exception:  # pragma: no cover — session teardown races
            pass
        return _df

    df.unpersist = _unpersist
    return df


def _sever_and_bind(out: DataFrame, sever_stats: bool) -> DataFrame:
    """Stats severing + working block release for a freshly
    ``localCheckpoint``'ed frame (shared by the eager and lazy forms).
    Falls back to the plain checkpoint if the internal constructor is
    unavailable (non-classic sessions)."""
    jrdd = _checkpoint_rdd(out)
    result = out
    if sever_stats:
        try:
            jdf = out._jdf
            spark = out.sparkSession
            new_jdf = spark._jsparkSession.internalCreateDataFrame(
                jdf.queryExecution().toRdd(), jdf.schema(), False
            )
            severed = DataFrame(new_jdf, spark)
            severed._graphem_ckpt_src = out
            result = severed
        except Exception:  # pragma: no cover — connect/older builds
            result = out
    if jrdd is not None:
        result = _bind_release(result, jrdd)
    return result


def eager_checkpoint(df: DataFrame, sever_stats: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` + origin-stats severing +
    working block release (see module docstring)."""
    return _sever_and_bind(df.localCheckpoint(eager=True), sever_stats)


def _aqe_enabled(df: DataFrame) -> bool:
    try:
        return (
            df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true").lower()
            == "true"
        )
    except Exception:  # pragma: no cover — connect/teardown races
        return True


def lazy_checkpoint(df: DataFrame, sever_stats: bool = True) -> DataFrame:
    """:func:`eager_checkpoint` minus the materialization job: the
    caller's FIRST action over the result materializes the checkpoint
    blocks as a side effect (localCheckpoint is persist-based, so every
    partition the action computes is retained, and lineage truncates at
    that job's boundary). Use when the kernel is about to run a
    full-scan action on the frame anyway (a convergence count, a norm/
    delta aggregate) — the separate checkpoint job folds into it.

    The first action MUST scan every partition (count/agg/full write —
    not ``limit``/``first``), or unread partitions stay lazy and
    recompute later.

    AQE guard (r9, ADVICE): several kernels release the PREVIOUS
    round's blocks right after this call, which is only safe because
    the stats-severing ``toRdd()`` conversion below — under AQE —
    executes every upstream exchange as a job, reading (and thereby
    finishing with) the released blocks. With
    ``spark.sql.adaptive.enabled=false`` the conversion runs no jobs,
    so the released blocks would still be live inputs and the first
    action on the result would die with "checkpoint block not found".
    On AQE-off sessions fall back to the eager checkpoint (one extra
    materialization job per round, the pre-r8 behavior — correct at
    any scale).

    Precondition for that release: EVERY scan of the released frame
    in ``df``'s plan must sit below a shuffle or broadcast exchange.
    The conversion only runs the exchange stages; a scan in the final
    stage (the streamed side of a broadcast join, a bare projection
    or filter of the previous round) still runs at the first action,
    after the blocks are gone."""
    if not _aqe_enabled(df):
        return eager_checkpoint(df, sever_stats=sever_stats)
    return _sever_and_bind(df.localCheckpoint(eager=False), sever_stats)


def checkpoint_count(df: DataFrame, sever_stats: bool = True):
    """``(checkpointed_df, row_count)`` in ONE Spark job.

    Every iterative kernel here ends a round with an eager checkpoint
    followed by a driver action on the result (``count`` for the
    convergence test) — two jobs whose second one re-scans the blocks
    the first one just wrote. ``localCheckpoint(eager=True)`` already
    runs ``rdd.count()`` internally to materialize the blocks and then
    DISCARDS the number; this helper runs the lazy form and issues that
    same RDD-level ``count()`` itself — one job that both materializes
    the checkpoint (blocks persist as the count computes them, lineage
    truncates at the job boundary) and returns the row count. Measured
    141 ms vs 241 ms per round on a 20k-row table at local[32]; the
    saving is a whole scheduling round-trip per iteration, which is
    exactly what the driver-floor-bound kernels (LPA, IC, BFS,
    PageRank) pay per round at any scale."""
    result = lazy_checkpoint(df, sever_stats=sever_stats)
    jrdd = getattr(result, "_graphem_ckpt_rdd", None)
    if jrdd is not None:
        n = int(jrdd.count())  # materializes the checkpoint
    else:  # pragma: no cover — connect sessions
        n = result.count()
    return result, n


def eager_materialize(df: DataFrame) -> DataFrame:
    """Eager ROW materialization for working tables a kernel scans
    repeatedly (the symmetrized edge list, shingle tables, midpoint
    caches): ``localCheckpoint`` keeping child stats — one-shot tables
    have no iterative stats compounding, and consumers' auto-broadcast
    decisions still see the real size.

    Why not ``.persist()``: building the columnar in-memory cache runs
    the compression-encoder pass over every column (measured 10-25
    µs/row on long/array columns — 30+ CPU-seconds for a 1.2 M-row
    edge list at sf0.1, erratically worse under memory pressure),
    while the checkpoint writes rows once at ~1 µs/row. The columnar
    form only pays off when consumers prune columns out of a wide
    cached table; every consumer here scans the whole (narrow) table.
    Under AQE neither form preserves child partitioning for downstream
    exchange reuse (AdaptiveSparkPlan reports UnknownPartitioning at
    checkpoint/cache-build time), so the cache's only remaining edge —
    stable reusable partitioning — does not materialize either.
    ``df.unpersist()`` on the result actually frees the blocks (see
    :func:`eager_checkpoint`)."""
    return eager_checkpoint(df, sever_stats=False)


def iter_materialize(df: DataFrame, old: DataFrame | None = None) -> DataFrame:
    """Materialize one generation of a deep iterative kernel:
    :func:`eager_checkpoint` truncates lineage AND ``persist``+``count``
    substitutes honest cached stats for Catalyst's inherited
    sizeInBytes estimate, which otherwise SQUARES per self-join
    generation and melts the driver in BigInteger multiplies from
    ~18 generations (SCALE.md §iteration-discipline). Pass ``old`` to
    release the previous generation. ``unpersist()`` on the result
    frees both its cache-manager entry and its checkpoint blocks (the
    checkpoint's rebound ``unpersist`` alone frees only the blocks, and
    the cached copy would stay resident for the life of the session)."""
    out = eager_checkpoint(df)
    free_blocks = out.unpersist
    out.persist()
    out.count()

    def _unpersist(blocking: bool = False, _df=out):
        DataFrame.unpersist(_df, blocking)
        return free_blocks(blocking)

    out.unpersist = _unpersist
    if old is not None:
        old.unpersist()
    return out


def release(df: DataFrame) -> None:
    """Free the checkpoint blocks behind a frame produced by
    :func:`eager_checkpoint` (``DataFrame.unpersist`` alone is a
    cache-manager lookup and no-ops on checkpoints — see module
    docstring)."""
    jrdd = getattr(df, "_graphem_ckpt_rdd", None)
    if jrdd is not None:
        try:
            jrdd.unpersist(False)
            return
        except Exception:  # pragma: no cover — session teardown races
            pass
    src = getattr(df, "_graphem_ckpt_src", None)
    (src if src is not None else df).unpersist()
