"""Structured Streaming over the events table.

The reference has zero streaming surface (SURVEY.md §2.6) — this module
is part of the Spark-first completeness goal: the same event analytics
the batch queries compute, expressed as ``readStream`` pipelines with
watermarks, so the engine covers late-arriving data at 100 TB scale.

Design:
- ``stream_events`` treats the driver's ``events.parquet`` as a file
  stream (one-file micro-batch via ``availableNow``), the standard
  backfill/replay pattern; on a cluster the same code points at a
  landing directory or Kafka source.
- Aggregations carry a watermark on the event time so state is bounded:
  late rows beyond the watermark are dropped instead of growing state
  forever.
- ``run_available_now`` drains the stream into an in-memory sink and
  returns the result as a plain DataFrame — used by tests and the
  oracle harness to prove stream/batch parity on identical input.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphem_rapids_spark.session import scoped_shuffle_partitions

# Stateful micro-batch plans run with AQE DISABLED (Spark turns it off
# for stateful workloads), so every shuffle executes at the session's
# full ``spark.sql.shuffle.partitions`` — and each shuffle partition
# owns ONE state-store instance whose per-micro-batch maintenance
# (commit + snapshot file I/O, version housekeeping) costs the same
# whether the partition holds 10 keys or 10 million. The streams here
# carry taxonomy/window-bounded state (thousands of keys at bench
# scale), so instance count — which scales with the CORE count via the
# session default — dominates: measured at sf0.1/local[32],
# events_stream_sliding spent 27.9 executor-run seconds against 0.98
# CPU-seconds (97% state-store overhead), and the driver's 8→32-core
# scaling ratio was 0.14-0.30 (anti-scaling). Capping the stateful
# shuffle at min(session, GRAPHEM_STREAM_PARTITIONS) bounds that
# overhead without touching plan semantics (state is hash(key)-
# partitioned either way; results are partition-count-invariant, as
# the driver's own 8-core runs prove). On a cluster with state larger
# than a few GB per store, raise GRAPHEM_STREAM_PARTITIONS toward
# state_bytes / ~1 GB so stores stay memory-bounded.
# A malformed or non-positive value falls back to the default.


def _positive_int(text, default: int) -> int:
    """``int(text)`` when that is a positive integer, else ``default``."""
    try:
        value = int(text)
    except (TypeError, ValueError):
        return default
    return value if value > 0 else default


STREAM_PARTITIONS = _positive_int(os.environ.get("GRAPHEM_STREAM_PARTITIONS"), 8)


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """readStream over one parquet table (schema pinned from a batch
    peek — streaming sources need an explicit schema)."""
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    # file-stream sources take a DIRECTORY; glob-filter to the one table
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", f"{table}.parquet")
        .load(sf_dir)
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphem_rapids_spark.functions import event_ts_nanos

    return event_ts_nanos(stream_table(spark, sf_dir, "events"))


def _event_time(col: str = "ts"):
    # events.ts arrives as long nanoseconds (nanosAsLong read mode);
    # `div` = exact integer division, same as the batch queries (a
    # double quotient's 256 ns ulp at ~1.7e18 can flip bucket edges)
    return F.timestamp_micros(F.expr(f"{col} div 1000"))


def hourly_counts_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windowed aggregate per event_type with a
    watermark — the streaming twin of the batch ``events_hourly``
    (identical output schema, so the same DuckDB oracle applies)."""
    ts = _event_time()
    return (
        events.withColumn("_t", ts)
        .withWatermark("_t", watermark)
        .groupBy(F.window("_t", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "avg_value",
            "sum_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Sliding 1-hour / 15-minute windowed counts per event_type with
    a watermark — each event lands in 4 overlapping windows. The
    DuckDB oracle replays this as an explicit 4-window explode on the
    15-minute grid (queries._SLIDING_SQL)."""
    ts = _event_time()
    return (
        events.withColumn("_t", ts)
        .withWatermark("_t", watermark)
        .groupBy(F.window("_t", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def sessionize_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "4 hours"
) -> DataFrame:
    """Session windows per user (gap-based) — counts and value sums.
    Uses Spark's native session_window (state bounded by watermark)."""
    ts = _event_time()
    return (
        events.withColumn("_t", ts)
        .withWatermark("_t", watermark)
        .groupBy(
            F.session_window("_t", f"{gap_minutes} minutes").alias("w"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def purchase_click_join_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks in the preceding hour. Both sides carry watermarks
    and the join condition bounds event-time distance, so the join
    state is provably bounded (Spark drops rows older than watermark
    + interval). Output: (purchase_id, click_id, user_id) pairs."""
    ts = _event_time()
    base = events.withColumn("_t", ts)
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("_t").alias("purchase_t"),
        )
        .withWatermark("purchase_t", watermark)
    )
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("_t").alias("click_t"),
        )
        .withWatermark("click_t", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            "user_id = c_user_id AND "
            "click_t >= purchase_t - INTERVAL 1 HOUR AND click_t <= purchase_t"
        ),
    ).select("purchase_id", "click_id", "user_id")


def run_available_now(
    result: DataFrame, name: str | None = None, output_mode: str = "complete"
) -> DataFrame:
    """Drain a streaming DataFrame with trigger(availableNow) into a
    memory sink; block until done; return the sink as a DataFrame.
    ``output_mode='append'`` for stateful append streams (e.g. the
    streaming dedup operator)."""
    spark = result.sparkSession
    name = name or f"stream_{uuid.uuid4().hex[:8]}"
    # bounded state-store fan-out (see STREAM_PARTITIONS above): the
    # conf is captured by the streaming query at start() and restored
    # for batch work immediately after the drain
    with scoped_shuffle_partitions(spark, lambda p: min(p, STREAM_PARTITIONS)):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
