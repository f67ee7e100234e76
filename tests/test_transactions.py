"""Reference-parity tests of the ingest path (SURVEY.md §5.2.3): the
generated 20-row fixture (``conftest.make_tx_rows``) goes through
``TransactionStore`` and the tests assert the reference's observed
semantics -- insertion order, the canonical schema, dropped unknown
fields, malformed-row quarantine, the fail-loud ANSI ``timestamp``
rule, and the absence of the reference's 1 KB request-size cliff.
Duplicate ids and the missing-id path are pinned in ``test_api.py``."""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from financialtransactionmonitoringsystem_spark.api import TransactionStore
from financialtransactionmonitoringsystem_spark.schemas import TRANSACTION_TABLE_SCHEMA
from financialtransactionmonitoringsystem_spark.sources import json_ingest as J
from tests.conftest import part_files

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


@pytest.mark.parametrize("arrow_conf", ["true", "false"])
def test_ingest_rows_ship_one_local_table(spark, tx_rows, arrow_conf):
    """The POST batch reaches the JVM as one local table: no RDD of
    pickled rows, so no task starts a Python worker.  The transport does
    not depend on the session's Arrow conf (a vanilla session has it
    off)."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, arrow_conf)
    try:
        df = J.ingest_rows(spark, tx_rows)
        assert len(df.collect()) == len(tx_rows)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_ingest_all_rows_in_insertion_order(store, tx_rows):
    store.append(tx_rows[:12])
    store.append([])                    # an empty POST batch stores nothing
    assert store.count() == 12
    store.append(tx_rows[12:])
    rows = store.list_all().collect()
    assert len(rows) == len(tx_rows) == 20
    assert [r.transaction_id for r in rows] == [r["transaction_id"] for r in tx_rows]
    assert [r.ingest_seq for r in rows] == list(range(20))


def test_schema_round_trip(store, tx_rows):
    # Text outside the Basic Multilingual Plane (UTF-16 surrogate pairs)
    # in the id and in metadata keys and values.
    tx_rows.append(dict(tx_rows[0], transaction_id="tx-\U0001F4B8-\U0001D518",
                        metadata={"merchant": "Caf\u00e9 \U0001F600",
                                  "\U00010348": "\U0001F1F0\U0001F1EA"}))
    store.append(tx_rows)
    assert [(f.name, f.dataType) for f in store.list_all().schema] == \
        [(f.name, f.dataType) for f in TRANSACTION_TABLE_SCHEMA]
    got_rows = store.list_all().withColumn("ts_us", F.unix_micros("ts")).collect()
    for got, want in zip(got_rows, tx_rows):
        assert got.transaction_id == want["transaction_id"]
        assert got.metadata == want["metadata"]
        assert json.loads(got.metadata_json) == want["metadata"]
        assert got.timestamp == want["timestamp"]
        # ISO-8601 micros parsed to the same instant
        sent = datetime.strptime(want["timestamp"], "%Y-%m-%dT%H:%M:%S.%f%z")
        assert got.ts_us == (sent - EPOCH) // timedelta(microseconds=1)
        assert (got.user_id, got.amount, got.currency, got.type) == \
            (want["user_id"], want["amount"], want["currency"], want["type"])
    assert store.lookup(tx_rows[-1]["transaction_id"]).first().metadata == \
        tx_rows[-1]["metadata"]


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
    of the batch is stored.  A row with no ``transaction_id`` is stored
    with a NULL id."""
    no_id = _row(amount=3.0)
    del no_id["transaction_id"]
    store.append([
        _row(transaction_id="good"),
        _row(transaction_id="bad-types", user_id="not-a-number",
             amount="12,50", metadata="not-a-map"),
        no_id,
    ])
    assert store.count() == 3
    good = store.lookup("good").first()
    assert (good.user_id, good.amount, good.metadata) == (1001, 2.0, {"merchant": "X"})
    bad = store.lookup("bad-types").first()
    assert (bad.user_id, bad.amount, bad.metadata) == (None, None, None)
    last = store.list_all().collect()[-1]
    assert (last.transaction_id, last.amount, last.ingest_seq) == (None, 3.0, 2)


def test_unparseable_timestamp_fails_the_append(spark, store, tx_rows):
    """Fail loud, the posture of ``session.apply_runtime_confs``: under
    the session's default ANSI mode one unparseable ``timestamp`` makes
    the whole ``append`` raise -- it never reads as a NULL ``ts`` -- and
    the store is left as it was, so the next good batch continues
    ``ingest_seq``."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    store.append(tx_rows[:10])
    parts = part_files(store.path)
    with pytest.raises(Exception, match="CANNOT_PARSE_TIMESTAMP"):
        store.append([tx_rows[10], dict(tx_rows[11], timestamp="27/09/2025 12:00")])
    assert store.count() == 10
    assert part_files(store.path) == parts
    store.append(tx_rows[10:])
    rows = store.list_all().collect()
    assert [r.transaction_id for r in rows] == [r["transaction_id"] for r in tx_rows]
    assert [r.ingest_seq for r in rows] == list(range(20))


def test_no_1kb_request_cliff(store):
    """The reference truncates bodies >1024 bytes (main.rs:55-60) and
    fails them; the engine must NOT replicate that."""
    store.append([_row(transaction_id="big-1", metadata={"merchant": "M" * 5000})])
    got = store.lookup("big-1").first()
    assert len(got.metadata["merchant"]) == 5000


def test_streaming_ingest_matches_batch(spark, tmp_path, store, tx_rows):
    """O1 as a stream: line-delimited replay through the streaming source
    equals the batch ingest, row for row."""
    stream_dir = tmp_path / "txstream"
    stream_dir.mkdir()
    with open(stream_dir / "batch1.json", "w") as f:
        for r in tx_rows:
            f.write(json.dumps(r) + "\n")
    q = (J.stream_transactions_json(spark, str(stream_dir))
         .writeStream.format("memory").queryName("t_txingest")
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(300), "ingest query did not finish"
    finally:
        q.stop()
    store.append(tx_rows)
    streamed = spark.sql("SELECT * FROM t_txingest").select(*_COLS).collect()
    batch = store.list_all().select(*_COLS).collect()
    assert len(streamed) == 20
    assert sorted(streamed) == sorted(batch)
