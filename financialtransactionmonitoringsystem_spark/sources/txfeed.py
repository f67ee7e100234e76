"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``): the
reference's transaction feed as a first-class Spark source.

The reference ingests transactions one HTTP POST at a time into a
process-local Vec (``monitoring-service/src/main.rs:79-89``) and can never
replay, parallelize, or recover that feed.  This source re-expresses the
same feed Spark-natively, in batch only (``spark.read.format("txfeed")``):
a deterministic generator of reference-shaped transactions (SURVEY.md
§1.2/§1.3 value domains), partitioned -- each task generates its own row
range, so a 10^12-row backfill is executor-parallel with no
single-process bottleneck.

Rows are generated from ``md5(seed, i)`` so any (seed, i) pair yields the
same transaction on every executor, every run -- replay-safe by
construction.  Register with
``spark.dataSource.register(TransactionFeedDataSource)``.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql import types as T

CURRENCIES = ["EUR", "GBP", "KES", "NGN", "USD"]  # mock_transactions.json domain
MERCHANTS = ["Amazon", "Apple", "Netflix", "PayPal", "Shopify", "Spotify"]
TYPES = ["credit", "debit"]
BASE_EPOCH_US = 1_758_976_977_289_182  # 2025-09-27T12:42:57.289182Z

FEED_SCHEMA = T.StructType([
    T.StructField("transaction_id", T.StringType(), False),
    T.StructField("user_id", T.LongType(), True),
    T.StructField("amount", T.DoubleType(), True),
    T.StructField("currency", T.StringType(), True),
    T.StructField("type", T.StringType(), True),
    T.StructField("metadata_json", T.StringType(), True),
    T.StructField("timestamp", T.StringType(), True),
    T.StructField("ingest_seq", T.LongType(), False),
])


def _tx(seed: int, i: int) -> tuple:
    """Deterministic reference-shaped transaction #i of feed `seed`."""
    h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
    b = bytes.fromhex(h)
    tx_id = f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
    user_id = 1001 + b[0] % 12                      # §1.3: 1001..1012
    amount = round(42.0 + (int(h[8:16], 16) % 169_544) / 100.0, 2)
    currency = CURRENCIES[b[4] % len(CURRENCIES)]
    tx_type = TYPES[b[5] % len(TYPES)]
    merchant = MERCHANTS[b[6] % len(MERCHANTS)]
    epoch_us = BASE_EPOCH_US + i * 30_000_000       # 30s cadence
    secs, us = divmod(epoch_us, 1_000_000)
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(secs, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S") + f".{us:06d}Z"
    return (tx_id, user_id, amount, currency, tx_type,
            json.dumps({"merchant": merchant}), iso, i)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class _FeedBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("numpartitions", 8))
        self.seed = int(options.get("seed", 42))

    def partitions(self):
        step = max(1, -(-self.n_rows // self.n_parts))
        return [_RangePartition(s, min(s + step, self.n_rows))
                for s in range(0, self.n_rows, step)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield _tx(self.seed, i)


class TransactionFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "txfeed"

    def schema(self):
        return FEED_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _FeedBatchReader(self.options)


N_FEED_ROWS = 1000


def q_ingest_feed(spark, sf_dir: str):
    """Read 1000 reference-shaped transactions through the custom Python
    DataSource and aggregate per currency -- proves the source end to end
    in any session.  ``sf_dir`` is unused (the feed is synthetic by
    design).

    Oracle: the feed is deterministic, so the expected aggregate is
    computed by running the same generator single-process in plain Python
    and emitted as a VALUES literal -- the check pins the *distributed*
    execution (partitioning, no dropped/duplicated ranges) against the
    sequential reference.  Sums are in integer cents (amounts have
    exactly 2 decimals) so both engines aggregate exactly.
    """
    from pyspark.sql import functions as F

    spark.dataSource.register(TransactionFeedDataSource)
    df = spark.read.format("txfeed").option("rows", N_FEED_ROWS) \
        .option("numPartitions", 8).load()
    return (
        df.groupBy("currency")
        .agg(F.count(F.lit(1)).alias("n_tx"),
             F.sum(F.round(F.col("amount") * 100).cast("long"))
             .alias("total_cents"))
        .orderBy("currency")
    )


def _feed_oracle_sql() -> str:
    agg: dict[str, list[int]] = {}
    for i in range(N_FEED_ROWS):
        row = _tx(42, i)
        cur, amount = row[3], row[2]
        n, cents = agg.get(cur, (0, 0))
        agg[cur] = (n + 1, cents + round(amount * 100))
    values = ", ".join(
        f"('{cur}', CAST({n} AS BIGINT), CAST({cents} AS BIGINT))"
        for cur, (n, cents) in sorted(agg.items()))
    return (f"SELECT * FROM (VALUES {values}) "
            f"AS t(currency, n_tx, total_cents) ORDER BY currency")


QUERIES = {"q_ingest_feed": q_ingest_feed}
ORACLES = {"q_ingest_feed": _feed_oracle_sql()}
