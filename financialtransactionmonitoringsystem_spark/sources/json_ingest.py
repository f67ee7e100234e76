"""JSON ingest of the reference's transaction shape (O1/O4).

Behavioral parity decisions (SURVEY.md §2.1 quirks):
* Unknown JSON fields are dropped silently (serde / Gin defaults,
  ``monitoring-service/src/main.rs:49-52``, ``user-service/main.go:79``):
  matched by reading with an explicit schema.
* Malformed rows become all-NULL rows rather than failing the batch
  (the Rust service returns 500 per bad request; a distributed engine
  quarantines instead of crashing); a field of the wrong type reads as
  NULL.  Exception, by decision: under ANSI (the session default) an
  unparseable ``timestamp`` fails the whole batch when ``ts`` is
  derived, so ``TransactionStore.append`` raises
  ``CANNOT_PARSE_TIMESTAMP`` and writes nothing -- the fail-loud
  posture of ``session.apply_runtime_confs`` (tested).
* Duplicate ``transaction_id`` values are allowed; lookups return the
  first match in ingest order (``main.go:67-71``) -- ``ingest_seq``
  makes that deterministic in a distributed setting.  The verbs over
  the stored table live in ``api.TransactionStore``; this module only
  shapes rows into it.
* The reference truncates request bodies at 1024 bytes (``main.rs:55-60``);
  the engine deliberately does NOT replicate that cliff (tested).

Transport: ``ingest_rows`` hands the JVM its serialized bodies as one
Arrow table (a ``LocalRelation``), not as a list of Python rows, which
Spark would parallelize as pickled batches and unpickle in a Python
worker for every write task.  Parsing stays on the JVM side in
``from_json(body, TRANSACTION_JSON_SCHEMA)``, so all of the rules above
are ``from_json``'s, whatever carries the strings.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import ISO8601_MICROS, TRANSACTION_JSON_SCHEMA


def ingest_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Ingest in-memory JSON rows (the POST-body path, one echo per row).

    The bodies reach the JVM as one Arrow table of strings, so the frame
    plans as a ``LocalTableScan`` and no task starts a Python worker;
    ``from_json`` still parses every field (see the module docstring)."""
    body = pa.array([json.dumps(r) for r in rows], pa.string())
    raw = spark.createDataFrame(pa.table({"body": body}))
    parsed = raw.select(F.from_json("body", TRANSACTION_JSON_SCHEMA).alias("t"))
    # ingest_seq is a per-batch monotonic id, which
    # ``TransactionStore.append`` offsets past the stored maximum.
    return (with_derived(parsed.select("t.*").coalesce(1))
            .withColumn("ingest_seq", F.monotonically_increasing_id()))


def with_derived(df: DataFrame) -> DataFrame:
    """Add the derived columns both ingest routes share (SURVEY.md §1.2
    canonical schema)."""
    return (
        df.withColumn("metadata_json", F.to_json("metadata"))
        .withColumn("ts", F.to_timestamp("timestamp", ISO8601_MICROS))
    )


def stream_transactions_json(spark: SparkSession, dir_path: str) -> DataFrame:
    """Streaming ingest of line-delimited transaction JSON files (the O1
    POST endpoint as an unbounded table; Kafka in production)."""
    return with_derived(
        spark.readStream.schema(TRANSACTION_JSON_SCHEMA).json(dir_path))
