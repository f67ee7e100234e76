"""Structured Streaming serving path: the reference's ingest/monitoring
path (O1, ``monitoring-service/src/main.rs:79-89``) restated as
incremental dataflow (SURVEY.md §3 E2).

One path lives here: ``sources.json_ingest.stream_transactions_json`` ->
:func:`compact_latest_to` -> :func:`serving_lookup`, one hash-bucket
layout (:func:`_key_bucket`) shared by the sink and the lookup.

Design:
* Source: a JSON file stream; swap ``readStream.format`` for ``kafka``
  in production -- the sink is source-agnostic.
* ``foreachBatch`` compaction keeps a small serving table for point
  lookups: the reference's O(n)-scan-per-request GET becomes a keyed
  parquet table refreshed per micro-batch, and the checkpoint replaces
  the reference's process-local Vec (``main.rs:25``), which is lost on
  restart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import read_engine_table, read_parquet


SERVING_BUCKETS = 16


def compact_latest_to(serving_dir: str, key: str = "transaction_id"):
    """foreachBatch sink: maintain a compacted latest-row-per-key parquet
    serving table, turning the reference's O(n) point lookup
    (``main.rs:94-95``) into a keyed scan over a small table.

    The table is hash-bucketed on the key (partition column ``__kb``) and
    each micro-batch rewrites only the buckets it touches via dynamic
    partition overwrite: O(batch + touched buckets).  That is O(table)
    for any batch with many more keys than buckets.  ``n`` random keys
    touch ``16 x (1 - (15/16)^n)`` of the 16 buckets on average, so a
    50-key batch touches about 15.4 and rewrites about 96% of the table.
    The touched-bucket list collected to the driver is at most
    ``SERVING_BUCKETS`` integers.  Point lookups get partition pruning
    for free by filtering on the same :func:`_key_bucket` (see
    :func:`serving_lookup`).
    """
    from pyspark.sql import Window as W

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn("__kb", _key_bucket(F.col(key)))
        touched = [r["__kb"] for r in batch.select("__kb").distinct().collect()]
        if not touched:
            return
        existing = read_engine_table(spark, serving_dir)
        # first batch (no table yet) -> nothing to merge; real read errors
        # propagate instead of silently dropping serving-table history.
        merged = batch if existing is None else (
            existing.filter(F.col("__kb").isin(touched)).unionByName(batch))
        w = W.partitionBy(key).orderBy(F.col("ts").desc())
        latest = (merged.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        (latest.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__kb").parquet(serving_dir))

    return _sink


def _key_bucket(key_col: "F.Column") -> "F.Column":
    """The serving table's hash layout: ``__kb`` of a key value.  The sink
    and the lookup both call this, so they cannot disagree on it."""
    # int (not long): partition discovery reads __kb back as int32, and
    # unionByName(existing, batch) needs the two sides to agree.
    return F.pmod(F.xxhash64(key_col), F.lit(SERVING_BUCKETS)).cast("int")


def serving_lookup(spark: SparkSession, serving_dir: str, key_value,
                   key: str = "transaction_id") -> DataFrame:
    """Point lookup against the compacted serving table: the ``__kb``
    equality prunes to one partition directory, then the key equality is
    pushed into that partition's parquet scan."""
    df = read_parquet(spark, serving_dir)
    # xxhash64 is type-sensitive: hash the literal at the key column's
    # exact type or the bucket won't match the one the sink computed.
    bucket = _key_bucket(F.lit(key_value).cast(df.schema[key].dataType))
    return df.filter(F.col("__kb") == bucket).filter(F.col(key) == key_value)
