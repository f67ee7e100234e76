"""Structured Streaming serving path: the reference's ingest/monitoring
path (O1, ``monitoring-service/src/main.rs:79-89``) restated as
incremental dataflow (SURVEY.md §3 E2).

One path lives here: ``sources.json_ingest.stream_transactions_json`` ->
:func:`compact_latest_to` -> :func:`serving_lookup`.

Design:
* Source: a JSON file stream; swap ``readStream.format`` for ``kafka``
  in production -- the sink is source-agnostic.
* ``foreachBatch`` compaction keeps a small serving table for point
  lookups: the reference's O(n)-scan-per-request GET becomes a keyed
  parquet table refreshed per micro-batch, and the checkpoint replaces
  the reference's process-local Vec (``main.rs:25``), which is lost on
  restart.
* Layout: immutable generations.  The table is ``serving_dir/gen=<n>/``,
  one key-ordered run holding the latest row per key, and exactly one
  committed generation exists at rest.  Each micro-batch merges into the
  newest generation, writes the result to ``serving_dir/_tmp-<n+1>``,
  commits it with one atomic rename to ``gen=<n+1>`` and then deletes
  the older generations (a log-structured merge with merge factor 1:
  O'Neil et al., *The Log-Structured Merge-Tree*, 1996).  Names that
  start with ``_`` are hidden from Spark's file listing, so a leftover
  ``_tmp-*`` is invisible to every reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..tables import read_parquet

_GEN = "gen="


def _generations(spark: SparkSession, serving_dir: str) -> list[int]:
    """The committed generation numbers under ``serving_dir``, ascending
    ([] when there is no table yet)."""
    return sorted(int(n[len(_GEN):]) for n in fsio.list_names(spark, serving_dir)
                  if n.startswith(_GEN) and n[len(_GEN):].isdigit())


def compact_latest_to(serving_dir: str, key: str = "transaction_id"):
    """foreachBatch sink: maintain a compacted latest-row-per-key parquet
    serving table, turning the reference's O(n) point lookup
    (``main.rs:94-95``) into a keyed scan over a small table.

    Each micro-batch reads the batch once and the newest generation once
    (with the batch's schema, so no inference job), keeps the latest row
    per key, and writes the result once, sorted by key, as the next
    generation: two Spark jobs (the write and its shuffle stage) and one
    file at small sizes.  The rename to ``gen=<n+1>`` is the commit, so a
    reader sees the old generation or the new one, never a mix.  ``n``
    comes from the directory listing, not from ``epoch_id``: a fresh
    checkpoint restarts epochs at 0 but must still merge with the table.

    Failure and replay:
    * a crash before the rename leaves ``_tmp-<n+1>``, which no reader
      lists and the next batch overwrites;
    * a crash between the rename and the delete leaves two generations;
      readers take the newest and the next batch deletes both old ones;
    * a batch replayed after its commit-log entry was lost merges into
      the generation it wrote itself and writes the same rows again.

    Ties: "latest" is the greatest ``ts``; on a ``ts`` tie between a batch
    row and a stored row the batch row wins, so the later arrival is
    served and a replay keeps the row it replaces.  Two rows of one key
    with the same ``ts`` inside one batch stay an arbitrary pick: the
    JSON source carries no column that orders them.

    A lookup that listed generation ``n`` and reads it after the next
    batch deleted it fails loudly (the file is gone) instead of
    returning a partial answer; it succeeds when run again.
    """
    from pyspark.sql import Window as W

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        gens = _generations(spark, serving_dir)
        # __src ranks a batch row (0) ahead of a stored one (1) on a ts tie.
        merged = batch_df.withColumn("__src", F.lit(0))
        if gens:
            stored = read_parquet(spark, f"{serving_dir}/{_GEN}{gens[-1]}",
                                  batch_df.schema)
            merged = merged.unionByName(stored.withColumn("__src", F.lit(1)))
        w = W.partitionBy(key).orderBy(F.col("ts").desc(), F.col("__src"))
        # The window's sort already orders each partition by key, so
        # sortWithinPartitions adds no sort to the plan.
        latest = (merged.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn", "__src")
                  .sortWithinPartitions(key))
        n = gens[-1] + 1 if gens else 0
        tmp = f"{serving_dir}/_tmp-{n}"
        latest.write.mode("overwrite").parquet(tmp)
        fsio.rename(spark, tmp, f"{serving_dir}/{_GEN}{n}")
        for g in gens:
            fsio.delete(spark, f"{serving_dir}/{_GEN}{g}")

    return _sink


def serving_lookup(spark: SparkSession, serving_dir: str, key_value,
                   key: str = "transaction_id") -> DataFrame:
    """Point lookup against the compacted serving table: the key equality
    is pushed into the newest generation's parquet scan, whose key order
    lets row-group min/max statistics skip the groups that cannot hold
    the key.  With no generation the bare directory is read, so a missing
    table raises ``PATH_NOT_FOUND`` as any absent parquet path does."""
    gens = _generations(spark, serving_dir)
    path = f"{serving_dir}/{_GEN}{gens[-1]}" if gens else serving_dir
    return read_parquet(spark, path).filter(F.col(key) == key_value)
