"""Measurement helpers: percentiles, failure counting, spans, host stamps
and Spark status-store counts.  Nothing here imports the engine, so the
helpers are testable without a Spark session."""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass


# -- percentiles -----------------------------------------------------------

MIN_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ``MIN_BEYOND`` samples strictly
    beyond it, as ``(percentile, value)``; ``None`` when there are too
    few samples for any.

    With ``n`` sorted samples, the one at 0-based rank ``k`` has ``n-1-k``
    samples after it, so the highest usable rank is ``n-1-MIN_BEYOND``;
    its percentile is the share of samples at or below it."""
    n = len(samples)
    k = n - 1 - MIN_BEYOND
    if k < 0:
        return None
    return 100.0 * (k + 1) / n, sorted(samples)[k]


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def best_per_slot(passes: list[list[dict]]) -> list[float]:
    """Each operation of the pass script at its fastest over the measured
    passes.  An operation's slot is its kind and how many operations of
    that kind came before it in its pass.  The minimum over repetitions,
    not the median, because the host's neighbours slow random stretches
    of a run (the three passes of one analytics run: 3.72, 4.82 and
    4.89 s) and the fastest repetition is the figure they move least; it
    also passes over the repetitions the JIT has not yet warmed (after
    the set-up's warm-up pass the next corpus pass took 5.2-6.5 s against
    4.2-4.5 s for later ones)."""
    best: dict[tuple[str, int], float] = {}
    for recs in passes:
        seen: dict[str, int] = {}
        for r in recs:
            slot = (r["kind"], seen.get(r["kind"], 0))
            seen[r["kind"]] = slot[1] + 1
            best[slot] = min(best.get(slot, r["s"]), r["s"])
    return list(best.values())


# -- failure counting ------------------------------------------------------

class Outcomes:
    """Counts attempted and failed operations.  An operation fails when it
    raises or when its output does not match the expected output; the
    first few failures are kept for the run record."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.examples: list[str] = []

    def check(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.examples) < 5:
                self.examples.append(what)
        return ok

    def error(self, what: str) -> None:
        self.check(False, what)

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# -- order-insensitive result comparison ----------------------------------

# Two engines summing the same doubles in different orders differ in the
# last bits, which a final round-to-cents can turn into one cent on a
# large total (seen: 14216346.8 against 14216346.79, 8174299.1 against
# 8174299.09).  Floats therefore compare with this relative tolerance; on
# values small enough for it to be under a cent the summation error is far
# too small to flip a rounding.
REL_TOL = 1e-6


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if hasattr(v, "isoformat"):  # datetime / date / pandas Timestamp
        if getattr(v, "tzinfo", None) is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if hasattr(v, "item") and not hasattr(v, "__len__"):  # numpy scalar
        return _norm(v.item())
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(v):
    # Floats sort by a rounded form so rows whose floats differ only by
    # REL_TOL still line up.
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, f"{v:.6e}")
    if isinstance(v, tuple):
        return (2, tuple(_sort_key(x) for x in v))
    return (3, repr(v))


def canonical(columns: list[str], rows) -> list[tuple]:
    """A result as a list independent of row and column order, with values
    normalised so Spark and DuckDB results of the same data compare alike
    (NaN as null, timestamps as naive UTC ISO strings, maps and arrays as
    tuples)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: tuple(_sort_key(x) for x in r))
    return out


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_close, a, b))
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Whether two ``canonical`` results are equal, floats within
    ``REL_TOL``."""
    return len(got) == len(want) and all(map(_close, got, want))


# -- spans -----------------------------------------------------------------

@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    op_id: int
    parent: int | None
    sid: int


class Tracer:
    """In-memory spans.  ``span()`` is a context manager that records the
    interval and its parent (the innermost open span of the same thread);
    spans of one operation share ``op_id``.  A disabled tracer records
    nothing and costs one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_op = 0

    def new_op(self) -> int:
        with self._lock:
            self._next_op += 1
            return self._next_op

    def span(self, name: str, layer: str, op_id: int = 0):
        return _SpanCtx(self, name, layer, op_id)

    def add(self, name: str, layer: str, start: float, end: float,
            op_id: int, parent: int | None) -> None:
        """Record an interval measured elsewhere (Spark job times)."""
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, layer, start, end, op_id, parent,
                                   sid))

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st


class _SpanCtx:
    __slots__ = ("t", "name", "layer", "op_id", "sid")

    def __init__(self, tracer, name, layer, op_id):
        self.t, self.name, self.layer, self.op_id = tracer, name, layer, op_id

    def __enter__(self):
        self.sid = None
        if not self.t.enabled:
            return None
        stack = self.t._stack()
        parent = stack[-1] if stack else None
        if not self.op_id and parent is not None:
            self.op_id = self.t.spans[parent].op_id
        with self.t._lock:
            self.sid = len(self.t.spans)
            self.t.spans.append(Span(self.name, self.layer, 0.0, 0.0,
                                     self.op_id, parent, self.sid))
        stack.append(self.sid)
        self.t.spans[self.sid].start = time.perf_counter()
        return self.t.spans[self.sid]

    def __exit__(self, *exc):
        if self.sid is None:
            return False
        self.t.spans[self.sid].end = time.perf_counter()
        self.t._stack().pop()
        return False


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of its
    interval that its direct children cover (overlapping children are
    counted once), summed by layer."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.sid, []),
                                           s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + max(0.0, own)
    return out


# -- host stamps -----------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(total, steal) ticks from the first line of /proc/stat.  Fields
    1..8 are user..steal; guest time is already folded into user/nice,
    so counting it again would understate the steal share."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    vals = [int(x) for x in f[1:9]]
    return sum(vals), vals[7]


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[1] - before[1]) / max(1, after[0] - before[0])


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.readline().split()[0])


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def tree_fingerprint(path: str) -> str:
    """Hash of the relative names and contents of the files under
    ``path``: equal exactly when a run read the same input bytes."""
    h = hashlib.sha256()
    for dp, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            full = os.path.join(dp, f)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


# -- Spark status-store counts ---------------------------------------------

class SparkCounts:
    """Per-operation Spark counts read from Spark's status store.

    Each measured operation runs under its own job group; afterwards the
    listener bus is drained and every job of the group is looked up with
    ``statusStore().job`` and each of its stages with
    ``statusStore().lastStageAttempt``.  Stages skipped because their
    shuffle output was reused have no attempt and count as zero."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._n = 0

    def begin(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self._sc.setJobGroup(group, label)
        return group

    def end(self, group: str, extra_groups=()) -> dict:
        """Counts of the jobs of ``group`` and of ``extra_groups`` (groups
        Spark itself set on threads the operation started)."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0,
               "input_rows": 0, "job_times": []}
        tracker = self._sc.statusTracker()
        jids = [j for g in (group, *extra_groups)
                for j in tracker.getJobIdsForGroup(g)]
        for jid in jids:
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_times"].append((sub.get().getTime() / 1e3,
                                         done.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # py4j: NoSuchElementException (skipped)
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["input_rows"] += st.inputRecords()
        self._sc._jsc.clearJobGroup()
        return out
