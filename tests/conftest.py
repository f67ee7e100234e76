from __future__ import annotations

import glob
import os
import random
import sys
import uuid
from datetime import datetime, timedelta, timezone

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from financialtransactionmonitoringsystem_spark.session import get_spark

    spark = get_spark("fintxmon-tests", cpus=int(os.environ.get("SPARK_TEST_CPUS", "8")))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


TX_START = datetime(2025, 9, 27, 12, 42, 57, tzinfo=timezone.utc)
_MERCHANTS = ("Jumia", "Konga", "Tesco", "Safaricom", "Amazon", "Uber")


def make_tx_rows(n: int = 20, seed: int = 20250927) -> list[dict]:
    """``n`` transactions in the reference's POST shape (SURVEY.md §1.3
    domains): UUID-shaped ids, ``user_id`` 1001-1010, a ``merchant``
    metadata key, µs ISO-8601 UTC timestamps one per 30-minute slot from
    ``TX_START``.  Deterministic for a given ``seed``."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        ts = TX_START + timedelta(minutes=30 * i,
                                  microseconds=rng.randrange(1_000_000))
        rows.append({
            "transaction_id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
            "user_id": rng.randint(1001, 1010),
            "amount": round(rng.uniform(1.0, 5000.0), 2),
            "currency": rng.choice(("EUR", "GBP", "KES", "NGN", "USD")),
            "type": rng.choice(("credit", "debit")),
            "metadata": {"merchant": rng.choice(_MERCHANTS)},
            "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
        })
    return rows


@pytest.fixture()
def tx_rows() -> list[dict]:
    """The 20-row transaction fixture; a fresh list per test."""
    return make_tx_rows()


def part_files(path: str) -> list[str]:
    """The parquet part files directly under a store directory, sorted."""
    return sorted(glob.glob(os.path.join(path, "part-*.parquet")))


def plan_jobs(spark, build):
    """``(build(), number of Spark jobs it started)``; jobs are counted
    from the status tracker once the listener bus has drained.  Only jobs
    outside any job group are seen, so ``build`` runs on this thread."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    out = build()
    bus.waitUntilEmpty()
    return out, len(set(sc.statusTracker().getJobIdsForGroup()) - before)
