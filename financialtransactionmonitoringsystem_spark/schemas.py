"""Canonical schemas.

The transactions schema derives from the reference's two struct definitions
(Go ``user-service/main.go:10-18``, Rust ``monitoring-service/src/main.rs:7-15``,
surveyed in SURVEY.md §1).  Decisions encoded here:

* ``amount`` stays DoubleType -- the reference uses float money
  (``main.go:13`` float64 / ``main.rs:11`` f64) and the oracle comparison
  needs the same semantics.  A production fork would use DecimalType(18,2).
* ``type`` is nullable -- the Rust service's struct has no such field, so
  serde silently drops it on ingest (``main.rs:7-15``); rows ingested via
  that path carry NULL.
* ``metadata`` is both a typed MAP<STRING,STRING> (the Go shape,
  ``main.go:16``) and a raw JSON string ``metadata_json`` (the Rust
  arbitrary-JSON shape, ``main.rs:13``) so neither service's shape is lost.
* ``timestamp`` is the raw ISO-8601 string (never parsed by the reference,
  ``main.rs:14``); ``ts`` is the derived TimestampType for event-time.
* ``ingest_seq`` is a monotonic ingest sequence: the reference allows
  duplicate ``transaction_id`` and point-lookup returns the *first* match
  in insertion order (``main.go:67-71``, ``main.rs:95``); a deterministic
  sequence column is the distributed equivalent of "insertion order".
"""

from __future__ import annotations

from pyspark.sql import types as T

# Shape of a transaction as POSTed to the reference services (pre-derivation).
TRANSACTION_JSON_SCHEMA = T.StructType([
    T.StructField("transaction_id", T.StringType(), False),
    T.StructField("user_id", T.LongType(), True),
    T.StructField("amount", T.DoubleType(), True),
    T.StructField("currency", T.StringType(), True),
    T.StructField("type", T.StringType(), True),
    T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
    T.StructField("timestamp", T.StringType(), True),
])

# Full engine-side table schema (adds derived columns).
TRANSACTION_TABLE_SCHEMA = T.StructType(
    list(TRANSACTION_JSON_SCHEMA.fields) + [
        T.StructField("metadata_json", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("ingest_seq", T.LongType(), False),
    ]
)

ISO8601_MICROS = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX"

# The events table's physical ts form varies by testdata generation
# (int64 nanos vs TIMESTAMP micros), so no schema is pinned for it:
# tables.load_table reads it with the schema tables.read_parquet infers
# (once per file set) and normalizes ts via tables._normalize_events_ts.
