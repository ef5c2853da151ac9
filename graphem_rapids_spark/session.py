"""SparkSession factory and engine configuration.

Mirrors the reference's env-var config surface
(``utils/backend_selection.py:286-293``: GRAPHEM_BACKEND /
GRAPHEM_PREFER_GPU / GRAPHEM_MEMORY_LIMIT / GRAPHEM_VERBOSE) with
Spark-native knobs. Under Spark the reference's "backend selection"
collapses into strategy selection inside one engine (exact vs LSH kNN
by size, broadcast vs shuffle join — mostly delegated to Catalyst/AQE).

Scale notes (100 TB design):
- AQE on everywhere: runtime partition coalescing, skew-join splitting.
- ``spark.sql.shuffle.partitions`` is a default only; AQE re-plans.
- Arrow enabled for the few Pandas-UDF kernels (vectorized transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Strategy thresholds mirroring the reference's backend auto-selection
# semantics (reference utils/backend_selection.py:178-196): small →
# exact/driver algorithms, large → approximate/distributed ones.
EXACT_KNN_MAX_ROWS = int(os.environ.get("GRAPHEM_EXACT_KNN_MAX", "100000"))
# ALL-PAIRS consumers (near-dup joins, DBSCAN eps-neighborhoods) flip
# to the banded-LSH path far earlier than bounded-output kNN: pair
# volume grows quadratically, so the measured knee sits near 1e4
# vectors (sf1 smoke: 20k vectors exact ran >15 min, LSH ~3 min)
EXACT_ALLPAIRS_MAX_ROWS = int(
    os.environ.get("GRAPHEM_EXACT_ALLPAIRS_MAX", "20000")
)
DRIVER_EIG_MAX_VERTICES = int(os.environ.get("GRAPHEM_DRIVER_EIG_MAX", "1000000"))
BROADCAST_POSITIONS_MAX = int(os.environ.get("GRAPHEM_BROADCAST_POS_MAX", "10000000"))
# connected_components auto-switch: vertex counts above this use the
# O(log d)-round alternating star algorithm instead of O(diameter)
# min-label propagation (each star round costs ~3 shuffles vs
# min-label's 1, so small graphs stay on the cheap path)
CC_STAR_MIN_VERTICES = int(os.environ.get("GRAPHEM_CC_STAR_MIN", "5000000"))

VERBOSE = os.environ.get("GRAPHEM_VERBOSE", "").lower() in ("1", "true", "yes")

DRIVER_MEM_CAP_GB = 48
DRIVER_MEM_FRACTION = 0.5


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: a fixed fraction of the host's
    physical RAM (``total_bytes``; probed when None), capped at 48g.
    In local mode the driver JVM is the whole engine and its resident
    size runs past the heap, so a flat 48g let it outgrow a 15 GiB
    host until the kernel OOM-killed it. ``GRAPHEM_DRIVER_MEM``
    overrides."""
    if total_bytes is None:
        try:
            total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, ValueError, OSError):  # non-POSIX hosts
            return f"{DRIVER_MEM_CAP_GB}g"
    gib = int(total_bytes * DRIVER_MEM_FRACTION) >> 30
    return f"{max(1, min(DRIVER_MEM_CAP_GB, gib))}g"


def get_spark(
    app_name: str = "graphem-rapids-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession configured for this engine.

    Defaults target the test environment (local[N]); on a real
    cluster pass ``master=None`` with external spark-submit conf and
    these settings still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("GRAPHEM_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("GRAPHEM_SHUFFLE_PARTITIONS", cpus))
    # Shuffle fan-out knob (AQE-native): shuffles START at
    # initialPartitionNum and AQE coalesces down to its 64 MB advisory
    # size. Default = shuffle_partitions (no extra fan-out): a round-5
    # same-VM A/B at sf1 measured the 4x-cores fan-out SLOWER for the
    # heaviest shuffle (ktruss wedges: 333-351 s cold / 236-307 s warm
    # at 128 initial partitions vs 290 s cold / 157 s warm at 32) — on
    # a single-JVM local[32] executor the extra partitions only add
    # shuffle-file merge and scheduling overhead, and AQE's coalescing
    # cannot recoup map-side costs. On a multi-executor cluster raise
    # GRAPHEM_INITIAL_PARTITIONS toward 2-4x total cores so
    # data-proportional intermediates fan out across machines
    # (SCALE.md §cluster-swap has the measured numbers).
    initial_partitions = int(
        os.environ.get("GRAPHEM_INITIAL_PARTITIONS", str(shuffle_partitions))
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(initial_partitions, shuffle_partitions)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("GRAPHEM_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative layouts/cascades build deep plan trees before each
        # checkpoint truncation — give the driver JVM stack headroom
        .config("spark.driver.extraJavaOptions", "-Xss32m")
        .config("spark.executor.extraJavaOptions", "-Xss32m")
        # driver testdata writes TIMESTAMP(NANOS) parquet (events.ts);
        # Spark 4 refuses it unless read as long nanoseconds
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # MinHash signatures aggregate 128 columns in one pass; the
        # default codegen field cap (100) silently drops that plan to
        # interpreted eval (2x slower measured) — raise it
        .config("spark.sql.codegen.maxFields", "256")
        # the generated-class cache defaults to 100 entries (static
        # conf); a session running the 33-query bench (or the 300-query
        # gate) generates thousands of codegen classes, so the warm
        # pass's compilations are evicted before the timed pass reuses
        # them (measured: 2,039 Janino compilations over one warmed
        # bench run — every one a cache miss, serialized on the
        # driver). Sized to hold a full suite; per-entry cost is one
        # compiled class (~10-100 KB)
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("GRAPHEM_CODEGEN_CACHE", "8192"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_backend_info(spark: SparkSession | None = None) -> dict:
    """Engine/runtime report (reference ``get_backend_info``,
    ``__init__.py:139-169`` + hardware probes in
    ``backend_selection.py:32-91``). The reference reports
    torch/CUDA/cuVS availability; one Spark engine reports the
    session's execution knobs instead."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return {"active_session": False}
    conf = spark.conf
    sc = spark.sparkContext
    return {
        "active_session": True,
        "spark_version": spark.version,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "adaptive_enabled": conf.get("spark.sql.adaptive.enabled"),
        "arrow_enabled": conf.get("spark.sql.execution.arrow.pyspark.enabled"),
        "broadcast_threshold": conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "strategy_thresholds": {
            "exact_knn_max_rows": EXACT_KNN_MAX_ROWS,
            "exact_allpairs_max_rows": EXACT_ALLPAIRS_MAX_ROWS,
            "driver_eig_max_vertices": DRIVER_EIG_MAX_VERTICES,
            "cc_star_min_vertices": CC_STAR_MIN_VERTICES,
            "broadcast_positions_max": BROADCAST_POSITIONS_MAX,
        },
    }


def stop_spark() -> None:
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
