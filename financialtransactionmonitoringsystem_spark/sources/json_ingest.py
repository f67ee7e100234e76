"""JSON ingest of the reference's transaction shape (O1/O4).

Behavioral parity decisions (SURVEY.md §2.1 quirks):
* Unknown JSON fields are dropped silently (serde / Gin defaults,
  ``monitoring-service/src/main.rs:49-52``, ``user-service/main.go:79``):
  matched by reading with an explicit schema.
* Malformed rows become all-NULL rows rather than failing the batch
  (the Rust service returns 500 per bad request; a distributed engine
  quarantines instead of crashing); a field of the wrong type reads as
  NULL.  Exception: under ANSI an unparseable ``timestamp`` fails the
  whole batch when ``ts`` is derived.
* Duplicate ``transaction_id`` values are allowed; lookups return the
  first match in ingest order (``main.go:67-71``) -- ``ingest_seq``
  makes that deterministic in a distributed setting.  The verbs over
  the stored table live in ``api.TransactionStore``; this module only
  shapes rows into it.
* The reference truncates request bodies at 1024 bytes (``main.rs:55-60``);
  the engine deliberately does NOT replicate that cliff (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import ISO8601_MICROS, TRANSACTION_JSON_SCHEMA


def ingest_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Ingest in-memory JSON rows (the POST-body path, one echo per row)."""
    import json as _json

    raw = spark.createDataFrame([(_json.dumps(r),) for r in rows], "body STRING")
    parsed = raw.select(F.from_json("body", TRANSACTION_JSON_SCHEMA).alias("t"))
    return with_derived(parsed.select("t.*").coalesce(1))


def with_derived(df: DataFrame, ingest_seq=None) -> DataFrame:
    """Add the engine's derived columns (SURVEY.md §1.2 canonical
    schema).  ``ingest_seq`` defaults to a per-batch monotonic id; a
    source with a real ordering key passes its own expression (the Kafka
    path packs partition/offset) so every ingest route lands on the SAME
    canonical table schema."""
    return (
        df.withColumn("metadata_json", F.to_json("metadata"))
        .withColumn("ts", F.to_timestamp("timestamp", ISO8601_MICROS))
        .withColumn("ingest_seq",
                    F.monotonically_increasing_id()
                    if ingest_seq is None else ingest_seq)
    )


def stream_transactions_json(spark: SparkSession, dir_path: str) -> DataFrame:
    """Streaming ingest of line-delimited transaction JSON files (the O1
    POST endpoint as an unbounded table; Kafka in production)."""
    raw = (
        spark.readStream
        .schema(TRANSACTION_JSON_SCHEMA)
        .json(dir_path)
    )
    return (
        raw.withColumn("metadata_json", F.to_json("metadata"))
        .withColumn("ts", F.to_timestamp("timestamp", ISO8601_MICROS))
    )
