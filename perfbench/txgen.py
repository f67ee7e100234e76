"""Seeded transaction traffic in the reference JSON shape
(``schemas.TRANSACTION_JSON_SCHEMA``), with the ground truth the checks
need.  Kept apart from ``gen`` so the process that drives Spark imports
only numpy (which the engine imports anyway), not pyarrow.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

CURRENCIES = ("USD", "EUR", "GBP", "NGN")
TX_TYPES = ("debit", "credit", "transfer")
TX_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def iso_micros(t: dt.datetime) -> str:
    """ISO-8601 with microseconds and a ``Z`` zone, the engine's
    ``ISO8601_MICROS`` pattern."""
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


class TransactionGen:
    """Seeded stream of transactions, with the ground truth:

    * ``first_row[id]`` is the first inserted row for each id -- what
      ``TransactionStore.lookup`` must return (duplicates allowed, first
      match wins).
    * ``latest_row[id]`` is the row with the greatest ``timestamp`` --
      what ``streaming.pipeline.serving_lookup`` must return after
      compaction.  Every row issued gets a later timestamp than the one
      before, so the latest row of an id is never a tie.  The timestamp is
      the generator's stamp; it travels in the row's own ``timestamp``
      field because the explicit schema drops unknown fields.

    ``dup_frac`` of rows reuse an id already issued, drawn with the same
    bias towards recent ids as lookups, so lookups meet duplicated ids.
    ``snapshot``/``restore`` roll the ground truth back (the random
    stream and the timestamps go on).
    """

    def __init__(self, seed: int, dup_frac: float = 0.05):
        self._r = np.random.default_rng([seed, 7])
        self.dup_frac = dup_frac
        self.ids: list[str] = []
        self.first_row: dict[str, dict] = {}
        self.latest_row: dict[str, dict] = {}
        self._n = 0

    def batch(self, n: int) -> list[dict]:
        rows = []
        for _ in range(n):
            if self.ids and self._r.random() < self.dup_frac:
                tid = self._recent_id()
            else:
                tid = f"tx-{len(self.ids):08d}"
                self.ids.append(tid)
            self._n += 1
            stamp = TX_EPOCH + dt.timedelta(microseconds=self._n)
            row = {
                "transaction_id": tid,
                "user_id": int(self._r.integers(0, 5_000)),
                "amount": round(float(self._r.exponential(80.0)), 2),
                "currency": CURRENCIES[int(self._r.integers(0, 4))],
                "type": TX_TYPES[int(self._r.integers(0, 3))],
                "metadata": {"channel": f"c{int(self._r.integers(0, 8))}"},
                "timestamp": iso_micros(stamp),
            }
            self.first_row.setdefault(tid, row)
            self.latest_row[tid] = row
            rows.append(row)
        return rows

    def pick_lookup(self, miss_frac: float = 0.1) -> str:
        """An id to look up: ``miss_frac`` never-issued ids, the rest
        favour recent ids."""
        if not self.ids or self._r.random() < miss_frac:
            return f"missing-{int(self._r.integers(0, 1 << 30)):010d}"
        return self._recent_id()

    def snapshot(self) -> tuple:
        return len(self.ids), dict(self.first_row), dict(self.latest_row)

    def restore(self, snap: tuple) -> None:
        n, first, latest = snap
        del self.ids[n:]
        self.first_row, self.latest_row = dict(first), dict(latest)

    def _recent_id(self) -> str:
        # Distance back from the newest id is geometric with mean ~1/8 of
        # the issued ids.
        n = len(self.ids)
        back = int(self._r.geometric(min(1.0, 8.0 / n))) - 1
        return self.ids[max(0, n - 1 - back)]
