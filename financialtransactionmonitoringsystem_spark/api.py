"""User-facing facade: the reference's entire service surface as one
class over a durable table.

A user of the reference talks to two HTTP services (``POST /transactions``,
``GET /transactions``, ``GET /transactions/{id}``) whose state is a
process-local array lost on restart (``monitoring-service/src/main.rs:24-25``).
``TransactionStore`` is the drop-in Spark equivalent: same three verbs,
same observable semantics (duplicates allowed, insertion order preserved,
lookup returns the first match -- SURVEY.md §2.1), but parquet-durable,
restart-safe, and unbounded in size.  It is the engine's only list-all
and first-match lookup; the latest-row lookup over the compacted serving
table is ``streaming.pipeline.serving_lookup``.

A store that does not exist yet reads as empty.  Any other read failure
(a corrupt part file) raises from the verb that hit it -- ``append``
included, before it writes -- so a broken store never reads as empty
and never restarts ``ingest_seq`` from 0.

Scale notes:
* ``ingest_seq`` is a global insertion sequence.  Here it continues from
  the stored maximum per batch (exact reference parity at fixture scale);
  at production ingest rates the sequence would have to come from the
  streaming source offset (Kafka partition+offset) -- a driver-side
  max() per batch serializes ingest.  The engine has no such source
  yet.
* Appends to one store path are serialized within a process: every
  ``TransactionStore`` on the same path string shares one lock, held
  from the ``max(ingest_seq)`` read through the write.  Appends from
  other processes are still unsafe -- their jobs share the store's
  ``_temporary`` directory and may reuse ``ingest_seq`` values -- until
  a batch is claimed by an exclusive create (ROADMAP item 1).
* ``append`` hands its batch to the JVM as one Arrow table
  (``json_ingest.ingest_rows``), so its write task starts no Python
  worker; the whole batch is built in local memory, which suits a POST
  body.  There is no bulk route into the store yet:
  ``json_ingest.stream_transactions_json`` feeds only the serving table
  (``streaming.pipeline.compact_latest_to``), never the store.
* Point lookups scan parquet with the id predicate pushed to row-group
  stats; for hot serving, ``streaming.pipeline.compact_latest_to``
  maintains a compacted table instead: the latest row per key, written
  in key order and replaced by an atomic rename each micro-batch.
"""

from __future__ import annotations

import threading

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TRANSACTION_TABLE_SCHEMA
from .sources import json_ingest
from .tables import read_parquet

# One append lock per store path, shared by every store on that path.
_append_locks: dict[str, threading.Lock] = {}


class TransactionStore:
    """Append / list-all / point-lookup over a durable transactions table
    (the reference's full query surface, ``main.go:96-99`` routes)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # dict.setdefault is atomic, so racing constructors get one lock
        self._append_lock = _append_locks.setdefault(path, threading.Lock())

    # -- O1: POST /transactions ------------------------------------------
    def append(self, rows: list[dict]) -> DataFrame:
        """Ingest JSON-shaped rows; returns the echoed batch (the
        reference echoes each stored row back, ``main.rs:85``).  An
        empty list stores nothing: no lock, no sequence read, no file."""
        batch = json_ingest.ingest_rows(self.spark, rows)
        if not rows:
            return batch
        with self._append_lock:
            batch = batch.withColumn(
                "ingest_seq", F.col("ingest_seq") + F.lit(self._max_seq() + 1))
            batch.write.mode("append").parquet(self.path)
        return batch

    # -- O2: GET /transactions -------------------------------------------
    def list_all(self) -> DataFrame:
        """Every row, insertion order (``main.go:51-53``)."""
        return self._table().orderBy("ingest_seq")

    # -- O3: GET /transactions/{id} --------------------------------------
    def lookup(self, transaction_id: str) -> DataFrame:
        """First row matching the id in ingest order, else empty
        (``main.rs:94-98``; duplicates allowed, first match wins)."""
        return (
            self._table()
            .filter(F.col("transaction_id") == transaction_id)
            .orderBy("ingest_seq")
            .limit(1)
        )

    def count(self) -> int:
        return self._table().count()

    def _table(self) -> DataFrame:
        # With a schema an empty directory reads as an empty frame, and a
        # corrupt part file fails the first action instead of planning.
        try:
            return read_parquet(self.spark, self.path, TRANSACTION_TABLE_SCHEMA)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
        # no partitions: actions on it start no task
        return self.spark.createDataFrame(
            self.spark.sparkContext.emptyRDD(), TRANSACTION_TABLE_SCHEMA)

    def _max_seq(self) -> int:
        df = self._table()
        row = df.agg(F.max("ingest_seq").alias("m")).first()
        return int(row.m) if row.m is not None else -1
