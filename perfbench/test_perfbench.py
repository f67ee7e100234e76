"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import gen, measure, txgen


# -- tail percentile rule --------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert measure.tail([float(i) for i in range(10)]) is None
    assert measure.tail([float(i) for i in range(11)]) == (
        pytest.approx(100 / 11), 0.0)


def test_tail_picks_highest_rank_with_ten_beyond():
    xs = [float(i) for i in range(100)]
    pct, value = measure.tail(list(reversed(xs)))
    # rank 89 has exactly ten samples (90..99) after it
    assert value == 89.0
    assert pct == pytest.approx(90.0)
    assert sum(x > value for x in xs) == measure.MIN_BEYOND


# -- failure counting ------------------------------------------------------

def test_outcomes_count_failures_and_errors():
    o = measure.Outcomes()
    for i in range(8):
        o.check(i % 4 != 0, f"op {i}")
    o.error("raised")
    assert (o.attempted, o.failed) == (9, 3)
    assert o.fail_frac == pytest.approx(3 / 9)
    assert o.examples == ["op 0", "op 4", "raised"]


def test_outcomes_with_nothing_attempted_is_a_total_failure():
    assert measure.Outcomes().fail_frac == 1.0


def test_results_compare_regardless_of_row_and_column_order():
    a = measure.canonical(["x", "y"], [(1, "a"), (2, None)])
    b = measure.canonical(["y", "x"], [(None, 2), ("a", 1)])
    c = measure.canonical(["x", "y"], [(1, "a"), (2, "b")])
    assert measure.rows_match(a, b)
    assert not measure.rows_match(a, c)
    assert not measure.rows_match(a, a[:1])


def test_float_results_compare_within_summation_noise():
    # one cent on a large total after rounding differently-ordered sums
    a = measure.canonical(["n", "rev"], [("x", 14216346.8), ("y", 1.5)])
    b = measure.canonical(["n", "rev"], [("y", 1.5), ("x", 14216346.79)])
    c = measure.canonical(["n", "rev"], [("x", 14216346.8), ("y", 1.51)])
    assert measure.rows_match(a, b)
    assert not measure.rows_match(a, c)


# -- generator determinism -------------------------------------------------

def test_tables_identical_for_one_seed(tmp_path):
    names = ("orders", "lineitem", "events", "documents", "embeddings")
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_tables(str(tmp_path / d), seed, 0.001, names)
    fa, fb, fc = (measure.tree_fingerprint(str(tmp_path / d))
                  for d in "abc")
    assert fa == fb != fc
    assert sorted(os.listdir(tmp_path / "a")) == sorted(
        f"{n}.parquet" for n in names)


def test_transactions_identical_for_one_seed_with_ground_truth():
    def replay(seed):
        g = txgen.TransactionGen(seed, dup_frac=0.3)
        rows = g.batch(200)
        picks = [g.pick_lookup(0.2) for _ in range(50)]
        return g, rows, picks

    g1, rows1, picks1 = replay(3)
    _, rows2, picks2 = replay(3)
    _, rows3, _ = replay(4)
    assert (rows1, picks1) == (rows2, picks2)
    assert rows1 != rows3
    by_id: dict[str, list[dict]] = {}
    for r in rows1:
        by_id.setdefault(r["transaction_id"], []).append(r)
    assert any(len(v) > 1 for v in by_id.values())
    for tid, rs in by_id.items():
        assert g1.first_row[tid] is rs[0]
        # timestamps strictly increase per id, so the latest is unique
        stamps = [r["timestamp"] for r in rs]
        assert stamps == sorted(set(stamps))
        assert g1.latest_row[tid] is rs[-1]
    assert any(p.startswith("missing-") for p in picks1)
    assert all(p in by_id for p in picks1 if not p.startswith("missing-"))


# -- span self time --------------------------------------------------------

def _span(sid, layer, start, end, parent=None):
    return measure.Span(layer, layer, start, end, 1, parent, sid)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, "bench", 0.0, 10.0),
        _span(1, "engine", 1.0, 6.0, parent=0),
        # overlapping children of the engine span: covered 2..5 once
        _span(2, "spark.job", 2.0, 4.0, parent=1),
        _span(3, "spark.job", 3.0, 5.0, parent=1),
        _span(4, "action", 7.0, 9.0, parent=0),
        # a child reaching past its parent only counts inside the parent
        _span(5, "spark.job", 8.0, 12.0, parent=4),
    ]
    st = measure.self_times(spans)
    assert st["bench"] == pytest.approx(10 - 5 - 2)
    assert st["engine"] == pytest.approx(5 - 3)
    assert st["action"] == pytest.approx(2 - 1)
    assert st["spark.job"] == pytest.approx(2 + 2 + 4)


def test_tracer_nests_and_inherits_op_id():
    t = measure.Tracer(enabled=True)
    op = t.new_op()
    with t.span("op", "bench", op):
        with t.span("call", "engine"):
            pass
    t.enabled = False
    with t.span("ignored", "bench"):
        pass
    assert [(s.name, s.parent, s.op_id) for s in t.spans] == [
        ("op", None, op), ("call", 0, op)]
    assert all(s.end >= s.start > 0 for s in t.spans)


# -- pass time -------------------------------------------------------------

def test_best_per_slot_takes_each_operations_fastest_repetition():
    def op(kind, s):
        return {"kind": kind, "s": s}

    passes = [[op("append", 1.0), op("lookup", 0.1), op("lookup", 0.4)],
              [op("append", 9.0), op("lookup", 0.3), op("lookup", 0.2)],
              # a failed first lookup leaves the second in its own slot
              [op("append", 2.0), op("lookup", 0.5)]]
    assert sorted(measure.best_per_slot(passes)) == pytest.approx([0.1, 0.2, 1.0])


def test_transaction_ground_truth_rolls_back():
    g = txgen.TransactionGen(8, dup_frac=0.3)
    g.batch(100)
    snap = g.snapshot()
    state = (list(g.ids), dict(g.first_row), dict(g.latest_row))
    g.batch(50)
    assert len(g.latest_row) > len(state[2]) or g.latest_row != state[2]
    g.restore(snap)
    assert (g.ids, g.first_row, g.latest_row) == state
    # the snapshot survives a second round of changes
    g.batch(50)
    g.restore(snap)
    assert (g.ids, g.first_row, g.latest_row) == state


def test_stream_summary_takes_medians_over_batches():
    from perfbench.workloads import stream_summary

    progress = [{"numInputRows": n, "durationMs": {"addBatch": a,
                                                   "walCommit": 5}}
                for n, a in ((100, 900), (100, 1100), (80, 1000))]
    out = stream_summary(progress)
    assert out["stream.batches"] == 3
    assert out["stream.rows_per_batch.p50"] == 100
    assert out["stream.addBatch_ms.p50"] == 1000
    assert out["stream.walCommit_ms.p50"] == 5
    assert "stream.queryPlanning_ms.p50" not in out
    assert stream_summary([]) == {"stream.batches": 0}


def test_pass_count_covers_seconds_with_a_floor():
    from perfbench.run import pass_count

    assert pass_count(10, 3, False) == 3
    assert pass_count(20, 3, False) == 6
    assert pass_count(5, 3, False) == 2
    # at least two untraced passes, and one traced more
    assert pass_count(1, 4, False) == 2
    assert pass_count(1, 4, True) == 3


# -- processes -------------------------------------------------------------

def test_run_in_child_returns_the_result_and_the_child_has_ended():
    from perfbench.run import children
    from perfbench.workloads import _row_matches, run_in_child

    assert run_in_child(_row_matches, [], None) is True
    assert children() == []


def test_reap_children_ends_a_child_left_running():
    import subprocess
    import sys

    from perfbench.run import children, reap_children

    proc = subprocess.Popen([sys.executable, "-c",
                             "import time; time.sleep(60)"])
    assert proc.pid in children()
    reap_children(grace_s=0.2)
    assert children() == []
    assert proc.poll() is not None
