"""JSONL corpus source/sink.

Training corpora overwhelmingly ship as JSON Lines (one document
object per line, usually gzip-sharded). This is the ingest-side
counterpart of the parquet shard sink (`pipeline/sinks.py`):

- **read**: explicit schema always (schema inference is a full extra
  pass over the data — never acceptable at 100 TB), PERMISSIVE parse
  with malformed lines captured in a `_corrupt_record` column so a
  bad shard degrades into an auditable row count instead of a failed
  job. Gzip shards are splittable only at file granularity — many
  medium shards (the layout `write_training_shards` produces)
  parallelize; one giant .gz does not.
- **write**: gzip JSONL shards capped by `max_records_per_file` —
  interchange format for engines that don't read parquet.

JSONL carries no column statistics and no column pruning — it is an
ingest/egress format. The first job of any pipeline here is
`read_jsonl_corpus(...) → write_training_shards(...)` (parquet), and
everything downstream scans parquet.

Reference parity: the SNAP/MTX/CSV text readers (`graph/io.py`,
reference `datasets.py:306-357,485-572`) are the graph-side ingest
path; this is the corpus-side equivalent the reference lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from graphem_rapids_spark.checkpoint import owned, persist

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENT_SCHEMA,
    keep_corrupt: bool = True,
) -> DataFrame:
    """Read a JSONL document corpus with an explicit schema.

    Malformed lines land in `_corrupt_record` (all data columns null)
    when ``keep_corrupt``; otherwise they are dropped (DROPMALFORMED).
    """
    if keep_corrupt:
        full = T.StructType(
            schema.fields + [T.StructField("_corrupt_record", T.StringType())]
        )
        return (
            spark.read.schema(full)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path)
        )
    return spark.read.schema(schema).option("mode", "DROPMALFORMED").json(path)


@owned
def corrupt_record_count(df: DataFrame) -> int:
    """Audit count of unparseable lines captured by the PERMISSIVE read.

    Spark refuses queries that reference ONLY `_corrupt_record` on a
    raw JSON scan (the internal corrupt column is populated during
    full-row parse); the documented workaround is materializing the
    parsed rows first. This helper caches for the audit and releases
    the cache immediately — at 100 TB, land the corpus to parquet
    shards first and audit the parquet (one pass either way)."""
    if "_corrupt_record" not in df.columns:
        return 0
    cached = persist(df)
    return cached.filter(cached["_corrupt_record"].isNotNull()).count()


def write_jsonl_corpus(
    df: DataFrame,
    path: str,
    compression: str = "gzip",
    max_records_per_file: int = 100_000,
) -> None:
    """Write gzip JSONL shards bounded by records-per-file (bounded
    shard size keeps the read side parallel — gzip splits only at
    file boundaries)."""
    out = df.drop("_corrupt_record") if "_corrupt_record" in df.columns else df
    (
        out.write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", max_records_per_file)
        .json(path)
    )
