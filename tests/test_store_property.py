"""Model-based test of ``TransactionStore`` against the reference's own
storage: a Python list standing in for the monitoring service's
``static mut TRANSACTIONS: Vec<Transaction>`` (``main.rs:25``).  Append
pushes in request order, list-all iterates in push order, and lookup is
``iter().find`` -- the first match, duplicates allowed (``main.rs:94-98``).

Every stored row gets a unique ``amount`` so the model can tell which of
several rows with the same id a lookup returned."""

from __future__ import annotations

import itertools

from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (RuleBasedStateMachine, rule,
                                 run_state_machine_as_test)

from financialtransactionmonitoringsystem_spark.api import TransactionStore
from tests.conftest import make_tx_rows

# Five ids appended, a sixth never: lookups hit, miss, and hit duplicates.
_POOL = make_tx_rows(6)
_ids = st.integers(0, len(_POOL) - 2)


class StoreMachine(RuleBasedStateMachine):
    def __init__(self, spark, path: str):
        super().__init__()
        self.store = TransactionStore(spark, path)
        self.model: list[dict] = []
        self.serial = itertools.count(1)

    @rule(picks=st.lists(_ids, min_size=1, max_size=3))
    def append(self, picks):
        rows = [dict(_POOL[i], amount=float(next(self.serial))) for i in picks]
        self.store.append(rows)
        self.model.extend(rows)

    @rule(i=st.integers(0, len(_POOL) - 1))
    def lookup(self, i):
        tid = _POOL[i]["transaction_id"]
        want = [r["amount"] for r in self.model if r["transaction_id"] == tid][:1]
        assert [r.amount for r in self.store.lookup(tid).collect()] == want

    @rule()
    def list_all(self):
        got = [(r.transaction_id, r.amount)
               for r in self.store.list_all().collect()]
        assert got == [(r["transaction_id"], r["amount"]) for r in self.model]

    @rule()
    def count(self):
        assert self.store.count() == len(self.model)


def test_store_matches_reference_vec_model(spark, tmp_path):
    stores = (str(tmp_path / f"store{n}") for n in itertools.count())
    run_state_machine_as_test(
        lambda: StoreMachine(spark, next(stores)),
        # An append takes ~0.3 s (median) on a 4-CPU host; these
        # settings make 31 appends and run in ~27 s there.  Derandomized,
        # so the run's length does not vary between runs.
        settings=settings(max_examples=20, stateful_step_count=6,
                          deadline=None, derandomize=True))
