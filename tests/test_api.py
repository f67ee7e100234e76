"""TransactionStore facade: the reference's three verbs (append /
list-all / point-lookup) with its observable semantics, plus the
durability the reference lacks.  Rows come from the generated 20-row
fixture (``conftest.make_tx_rows``)."""

from __future__ import annotations

import os
import threading
from collections import Counter

import pytest

from financialtransactionmonitoringsystem_spark.api import TransactionStore
from tests.conftest import make_tx_rows, part_files


@pytest.fixture()
def store(spark, tmp_path):
    return TransactionStore(spark, str(tmp_path / "txstore"))


def test_replay_fixture_preserves_order(spark, store, tx_rows):
    for r in tx_rows:                   # one POST per row, like the reference
        echoed = store.append([r])
        assert echoed.count() == 1
    assert store.count() == len(tx_rows)
    got_ids = [r.transaction_id for r in store.list_all().collect()]
    assert got_ids == [r["transaction_id"] for r in tx_rows]


def test_lookup_first_match_and_missing(spark, store, tx_rows):
    store.append(tx_rows)
    dup = dict(tx_rows[0], amount=999.99)  # duplicate id, different amount
    store.append([dup])
    hit = store.lookup(tx_rows[0]["transaction_id"]).collect()
    assert len(hit) == 1 and hit[0].amount == tx_rows[0]["amount"]  # first wins
    assert store.lookup("no-such-id").count() == 0


def test_store_survives_restart(spark, store, tx_rows):
    store.append(tx_rows[:5])
    reopened = TransactionStore(spark, store.path)  # "process restart"
    assert reopened.count() == 5


def test_corrupt_part_file_raises_instead_of_reading_empty(spark, store, tx_rows):
    """A broken store must not read as empty: that would make ``append``
    restart ``ingest_seq`` from 0 and change what "first match" means."""
    store.append(tx_rows[:10])
    store.append(tx_rows[10:])
    parts = part_files(store.path)
    assert len(parts) >= 2
    with open(parts[0], "wb") as fh:
        fh.write(b"not a parquet file" * 8)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        store.count()
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        store.append(tx_rows[:1])
    assert part_files(store.path) == parts  # the failed append wrote nothing


def test_absent_or_empty_store_reads_empty(spark, store):
    assert store.count() == 0                   # no directory yet
    os.makedirs(store.path)                     # directory, no data files
    assert store.count() == 0
    assert store.lookup("no-such-id").count() == 0
    assert store.list_all().collect() == []


def test_empty_append_writes_nothing(spark, store, tx_rows):
    """``append([])`` stores nothing: an absent store stays absent, and
    a live one keeps its part files and its next ``ingest_seq``."""
    assert store.append([]).count() == 0
    assert not os.path.exists(store.path)
    store.append(tx_rows[:3])
    parts = part_files(store.path)
    assert store.append([]).count() == 0
    assert part_files(store.path) == parts
    assert [r.ingest_seq for r in store.append(tx_rows[3:4]).collect()] == [3]


def test_concurrent_appends_keep_every_row_once(spark, store):
    """Appends racing on one store path from several threads, each
    through its own ``TransactionStore``, all return and leave each
    batch's rows exactly once with unique ``ingest_seq``."""
    n_threads, n_rounds, n_rows = 4, 3, 5
    rows = make_tx_rows(n_threads * n_rounds * n_rows)
    batches = [rows[i:i + n_rows] for i in range(0, len(rows), n_rows)]
    barrier = threading.Barrier(n_threads)
    errors = []

    def worker(t):
        mine = TransactionStore(spark, store.path)
        for r in range(n_rounds):
            barrier.wait()
            try:
                mine.append(batches[r * n_threads + t])
            except Exception as e:  # collected, so the barrier still fills
                errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,))
               for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    got = store.list_all().collect()
    ids = Counter(r.transaction_id for r in got)
    assert ids == Counter(r["transaction_id"] for r in rows)
    seqs = [r.ingest_seq for r in got]
    assert len(set(seqs)) == len(seqs) == len(rows)
