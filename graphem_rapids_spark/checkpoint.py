"""Stats-safe checkpointing and block ownership for iterative kernels.

Stats severing (measured r8, Spark 4.1): ``localCheckpoint`` keeps the
child plan's CBO statistics on its ``LogicalRDD`` (SPARK-39834), and
Catalyst's size-only join estimate is a PRODUCT of child sizes, so a
state that references its previous checkpoint k times compounds
``sizeInBytes`` k-fold per round — 132 → 9585 digits over four Louvain
move passes, pass cost 0.7 s → 88 s inside ``BigInteger`` planning
math. Rebuilding the frame from the checkpointed RDD through
``internalCreateDataFrame`` gives the same rows on a fresh
``LogicalRDD`` with default stats (flat at 19 digits); AQE re-plans
joins from runtime sizes, so nothing is lost.

Block release (r8, measured with getRDDStorageInfo):
``DataFrame.unpersist`` only consults the cache manager, which has no
entry for a checkpoint, so it no-ops on every ``localCheckpoint``'ed
frame. Each checkpoint therefore captures its ``LogicalRDD``'s RDD and
rebinds the frame's ``unpersist`` (and :func:`release`) to free it.

Ownership: a result owns the blocks it reads, so release it after
its last reader. Each checkpoint (through :func:`_sever_and_bind`) and
each :func:`persist` registers in the innermost open scope; an
:func:`owned` call frees at return every registered block its
returned frame(s) cannot read (:func:`readable_blocks`), binds the
rest to them and hands those to the enclosing scope. A call that
raises, or returns no frame, frees all it registered. Session memos
are built :func:`unowned`. In-loop release of superseded state stays,
for peak memory: :func:`iterate`'s predecessors, the generation loops
and the Brandes backward pass.
"""

from __future__ import annotations

import contextvars
import functools
from contextlib import contextmanager

from pyspark.sql import DataFrame

# the open ownership scopes, innermost last: each maps a block key
# (a checkpoint RDD id, or ``_cache_key`` of a persisted Dataset) to
# the JVM handle whose ``unpersist(blocking)`` frees it
_SCOPES: contextvars.ContextVar[tuple] = contextvars.ContextVar(
    "graphem_block_scopes", default=()
)


def _register(key, handle) -> None:
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1][key] = handle


def _free(handles, blocking: bool = False) -> None:
    for handle in handles:
        try:
            handle.unpersist(bool(blocking))
        except Exception:  # pragma: no cover — session teardown races
            pass


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


def _bind_release(df: DataFrame, blocks: dict) -> DataFrame:
    """Add ``blocks`` (key → JVM RDD or persisted JVM Dataset) to what
    ``df`` owns; ``df.unpersist()`` then frees them too. A released
    checkpoint is lineage-truncated and must not be read again."""
    owned_blocks = getattr(df, "_graphem_blocks", None)
    if owned_blocks is None:
        owned_blocks = df._graphem_blocks = {}

        def _unpersist(blocking: bool = False, _df=df):
            DataFrame.unpersist(_df, blocking)
            _free(owned_blocks.values(), blocking)
            return _df

        df.unpersist = _unpersist
    owned_blocks.update(blocks)
    return df


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _cache_key(jvm, builder) -> tuple:
    return ("cache", jvm.System.identityHashCode(builder))


def readable_blocks(df: DataFrame) -> set:
    """Keys of every block ``df`` can read: RDD ids and persisted
    Datasets (``_cache_key``) reachable from the leaves of its
    cache-substituted plan and of all its subqueries — an
    ``InMemoryRelation`` gives its column buffers, or the plan it will
    cache when not built yet — closed over RDD dependencies (so an
    unmaterialized lazy checkpoint reaches what it will read)."""
    jvm = df.sparkSession._jvm
    found, rdds = set(), []
    plans = [(df._jdf.queryExecution().withCachedData(), True)]
    while plans:
        plan, top = plans.pop()
        if top:  # subqueriesAll is transitive: nested ones need no walk of their own
            plans.extend((sub, False) for sub in _seq(plan.subqueriesAll()))
        for leaf in _seq(plan.collectLeaves()):
            kind = leaf.getClass().getSimpleName()
            if kind in ("LogicalRDD", "ExternalRDD"):
                rdds.append(leaf.rdd())
            elif kind == "InMemoryRelation":
                builder = leaf.cacheBuilder()
                found.add(_cache_key(jvm, builder))
                if builder.isCachedColumnBuffersLoaded():
                    rdds.append(builder.cachedColumnBuffers())
                else:
                    plans.append((builder.logicalPlan(), True))
    while rdds:
        rdd = rdds.pop()
        rid = rdd.id()
        if rid not in found:
            found.add(rid)
            rdds.extend(dep.rdd() for dep in _seq(rdd.dependencies()))
    return found


def _settle(out, blocks: dict) -> None:
    if isinstance(out, DataFrame):
        frames = [out]
    elif isinstance(out, (tuple, list)):
        frames = [x for x in out if isinstance(x, DataFrame)]
    else:
        frames = []
    kept = {}
    for df in frames:
        mine = {k: blocks[k] for k in readable_blocks(df) if k in blocks}
        if mine:
            _bind_release(df, mine)
            kept.update(mine)
    _free(h for k, h in blocks.items() if k not in kept)
    for key, handle in kept.items():
        _register(key, handle)


def owned(fn):
    """Run ``fn`` in an ownership scope (see module docstring)."""

    @functools.wraps(fn)
    def call(*args, **kwargs):
        blocks: dict = {}
        token = _SCOPES.set((*_SCOPES.get(), blocks))
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            _free(blocks.values())
            raise
        finally:
            _SCOPES.reset(token)
        if blocks:
            _settle(out, blocks)
        return out

    return call


@contextmanager
def unowned():
    """Run the body outside every scope (session memos)."""
    token = _SCOPES.set(())
    try:
        yield
    finally:
        _SCOPES.reset(token)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` owned by the innermost scope. A plan some other
    owner already cached is left to that owner."""
    if not _SCOPES.get():
        return df.persist()
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    fresh = cache.lookupCachedData(df._jdf).isEmpty()
    out = df.persist()
    if fresh:
        builder = cache.lookupCachedData(out._jdf).get().cachedRepresentation().cacheBuilder()
        _register(_cache_key(df.sparkSession._jvm, builder), out._jdf)
    return out


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
            result = DataFrame(new_jdf, spark)
        except Exception:  # pragma: no cover — connect/older builds
            result = out
    if jrdd is not None:
        rid = jrdd.id()
        result = _bind_release(result, {rid: jrdd})
        _register(rid, jrdd)
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
    """``(checkpointed_df, row_count)`` in ONE Spark job: the lazy
    checkpoint plus the RDD-level ``count()`` that
    ``localCheckpoint(eager=True)`` runs internally and discards — one
    job materializes the blocks and returns the count, where an eager
    checkpoint then a ``count`` pays a second scheduling round-trip
    (measured 141 ms vs 241 ms per round on a 20k-row table at
    local[32]) — exactly what the driver-floor-bound kernels (LPA, IC,
    BFS, PageRank) pay per round at any scale."""
    result = lazy_checkpoint(df, sever_stats=sever_stats)
    return result, row_count(result)


def row_count(df: DataFrame) -> int:
    """Row count in ONE job of a frame whose plan has no exchange — a
    checkpoint, or a filter/projection over one: the RDD-level
    ``count`` of its physical plan (a DataFrame ``count`` adds a
    partial-aggregate exchange stage, a second job under AQE). Over a
    lazy checkpoint this is the full scan that writes its blocks."""
    try:
        return int(df._jdf.queryExecution().toRdd().count())
    except AttributeError:  # pragma: no cover — connect sessions
        return df.count()


def eager_materialize(df: DataFrame) -> DataFrame:
    """Eager ROW materialization for working tables a kernel scans
    repeatedly (the symmetrized edge list, shingle tables, midpoint
    caches): ``localCheckpoint`` keeping child stats — one-shot tables
    have no iterative stats compounding, and consumers' auto-broadcast
    decisions still see the real size.

    Why not ``.persist()``: the columnar cache build runs a
    compression-encoder pass over every column (measured 10-25 µs/row
    on long/array columns, 30+ CPU-seconds for a 1.2 M-row edge list
    at sf0.1) where the checkpoint writes rows once at ~1 µs/row, and
    every consumer here scans the whole narrow table, so column
    pruning never pays it back. Under AQE neither form keeps child
    partitioning for exchange reuse."""
    return eager_checkpoint(df, sever_stats=False)


def release(df: DataFrame) -> None:
    """Free the blocks ``df`` owns (a checkpoint's own, those an
    :func:`owned` call bound to it, or its cache entry)."""
    df.unpersist()


def iterate(state: DataFrame, step, rounds: int, *, batch: int = 1, stop=None):
    """The one round driver of the iterative kernels (a Pregel-style
    superstep loop): runs ``state = step(state, r)`` for r = 0 ..
    ``rounds``-1 and returns ``(state, rounds_run)``.

    Per checkpoint it composes ``batch`` rounds into one plan, takes a
    :func:`lazy_checkpoint` of it (stats severing; eager fallback on
    AQE-off sessions), runs ``stop(new, r)`` — the round's one
    full-scan action, e.g. a changed-row count over a carried ``_o``
    column; a truthy result ends the loop — and only then releases the
    predecessor, including the caller's initial ``state`` (pass a
    projection to keep one that is read later).

    Preconditions (:func:`lazy_checkpoint`):

    - every scan of the previous state in ``step``'s plan sits below a
      shuffle or broadcast exchange, or ``stop`` scans every partition
      of the new state — otherwise the release frees blocks the new
      state still reads;
    - the returned frame's first action scans every partition (when
      there is no ``stop``), or unread partitions stay lazy and are
      recomputed from shuffle output later."""
    done = 0
    while done < rounds:
        new = state
        for r in range(done, min(done + batch, rounds)):
            new = step(new, r)
        new = lazy_checkpoint(new)
        halt = stop is not None and stop(new, r)
        release(state)
        state, done = new, r + 1
        if halt:
            break
    return state, done
