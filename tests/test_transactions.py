"""Reference-parity tests of the ingest path (SURVEY.md §5.2.3): the
generated 20-row fixture (``conftest.make_tx_rows``) goes through
``TransactionStore`` and the tests assert the reference's observed
semantics -- insertion order, the canonical schema, dropped unknown
fields, malformed-row quarantine, and the absence of the reference's
1 KB request-size cliff.  Duplicate ids and the missing-id path are
pinned in ``test_api.py``."""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from financialtransactionmonitoringsystem_spark.api import TransactionStore
from financialtransactionmonitoringsystem_spark.schemas import TRANSACTION_TABLE_SCHEMA
from financialtransactionmonitoringsystem_spark.sources import json_ingest as J

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_COLS = ("transaction_id", "user_id", "amount", "currency", "type",
         "metadata_json", "timestamp", "ts")


@pytest.fixture()
def store(spark, tmp_path):
    return TransactionStore(spark, str(tmp_path / "txstore"))


def _row(**kw) -> dict:
    row = dict(transaction_id="t-1", user_id=1001, amount=2.0, currency="USD",
               type="credit", metadata={"merchant": "X"},
               timestamp="2025-09-27T12:00:00.000000Z")
    row.update(kw)
    return row


def test_ingest_all_rows_in_insertion_order(store, tx_rows):
    store.append(tx_rows)
    rows = store.list_all().collect()
    assert len(rows) == len(tx_rows) == 20
    assert [r.transaction_id for r in rows] == [r["transaction_id"] for r in tx_rows]
    seqs = [r.ingest_seq for r in rows]
    assert seqs == sorted(set(seqs))


def test_schema_round_trip(store, tx_rows):
    store.append(tx_rows)
    assert [(f.name, f.dataType) for f in store.list_all().schema] == \
        [(f.name, f.dataType) for f in TRANSACTION_TABLE_SCHEMA]
    got_rows = store.list_all().withColumn("ts_us", F.unix_micros("ts")).collect()
    for got, want in zip(got_rows, tx_rows):
        assert got.metadata == want["metadata"]
        assert json.loads(got.metadata_json) == want["metadata"]
        assert got.timestamp == want["timestamp"]
        # ISO-8601 micros parsed to the same instant
        sent = datetime.strptime(want["timestamp"], "%Y-%m-%dT%H:%M:%S.%f%z")
        assert got.ts_us == (sent - EPOCH) // timedelta(microseconds=1)
        assert (got.user_id, got.amount, got.currency, got.type) == \
            (want["user_id"], want["amount"], want["currency"], want["type"])


def test_unknown_fields_dropped(store):
    """serde/Gin unknown-field tolerance (main.rs:49-52, main.go:79)."""
    store.append([_row(evil_extra_field="ignored", another=123)])
    got = store.lookup("t-1").collect()
    assert len(got) == 1
    assert "evil_extra_field" not in got[0].asDict()
    assert "another" not in store.list_all().columns


def test_malformed_row_is_quarantined(store):
    """Rust path: parse failure -> None -> 500 (main.rs:87).  The engine
    quarantines instead: a wrong-typed field reads as NULL and the rest
    of the batch is stored."""
    store.append([
        _row(transaction_id="good"),
        _row(transaction_id="bad-types", user_id="not-a-number",
             amount="12,50", metadata="not-a-map"),
    ])
    assert store.count() == 2
    good = store.lookup("good").first()
    assert (good.user_id, good.amount, good.metadata) == (1001, 2.0, {"merchant": "X"})
    bad = store.lookup("bad-types").first()
    assert (bad.user_id, bad.amount, bad.metadata) == (None, None, None)


def test_no_1kb_request_cliff(store):
    """The reference truncates bodies >1024 bytes (main.rs:55-60) and
    fails them; the engine must NOT replicate that."""
    store.append([_row(transaction_id="big-1", metadata={"merchant": "M" * 5000})])
    got = store.lookup("big-1").first()
    assert len(got.metadata["merchant"]) == 5000


def test_streaming_ingest_matches_batch(spark, tmp_path, store, tx_rows):
    """O1 as a stream: line-delimited replay through the streaming source
    equals the batch ingest, row for row."""
    from financialtransactionmonitoringsystem_spark.streaming.pipeline import run_to_memory

    stream_dir = tmp_path / "txstream"
    stream_dir.mkdir()
    with open(stream_dir / "batch1.json", "w") as f:
        for r in tx_rows:
            f.write(json.dumps(r) + "\n")
    run_to_memory(J.stream_transactions_json(spark, str(stream_dir)), "t_txingest")
    store.append(tx_rows)
    streamed = spark.sql("SELECT * FROM t_txingest").select(*_COLS).collect()
    batch = store.list_all().select(*_COLS).collect()
    assert len(streamed) == 20
    assert sorted(streamed) == sorted(batch)
