"""Traced-run output: the per-layer metrics printed by ``--trace 1`` and
the trace file with every span and the per-operation breakdown."""

from __future__ import annotations

import contextlib
import json
import os
from dataclasses import asdict

from .measure import best_per_slot, median, self_times

# Span layers that belong to the benchmark or to Spark rather than to an
# engine module.
NON_ENGINE = ("bench", "action", "spark.job")
COUNTS = ("jobs", "stages", "tasks", "shuffle_bytes", "input_rows")
OP_NAMES = {"append": "api.append", "lookup": "api.lookup",
            "compact": "stream.compact", "serving_lookup": "stream.lookup"}


@contextlib.contextmanager
def wrapped(module, attr: str, tracer, layer: str):
    """Replace ``module.attr`` with a wrapper that records a span around
    each call, for the duration of the block.  Used for engine functions
    that are called from inside other engine calls (the benchmark cannot
    put a span around them at its own call sites)."""
    orig = getattr(module, attr)

    def wrapper(*a, **kw):
        with tracer.span(f"{layer}.{attr}", layer):
            return orig(*a, **kw)

    setattr(module, attr, wrapper)
    try:
        yield
    finally:
        setattr(module, attr, orig)


def _per_pass(passes: list[list[dict]], field: str) -> float:
    return median([sum(r.get(field, 0) for r in p) for p in passes])


def _measured_spans(run):
    return run.tracer.spans[run.first_measured_span:]


def layer_self_per_pass(run, n_passes: int) -> dict[str, float]:
    """Self time per layer over the traced passes, per pass."""
    st = self_times(_measured_spans(run))
    return {k: v / max(1, n_passes) for k, v in sorted(st.items())}


def layer_metrics(run, traced, plain, start_s, prepare_s, steal,
                  load_start) -> dict:
    """The ``per_layer`` metrics of BENCHMARK.json, common to every
    workload (the per-key and per-call breakdown is in the trace file)."""
    selfs = layer_self_per_pass(run, len(traced))
    # Pass times as ``pass_s`` reads them, traced and untraced.
    traced_pass = sum(best_per_slot(traced))
    plain_pass = sum(best_per_slot(plain))
    engine = sum(v for k, v in selfs.items() if k not in NON_ENGINE)
    vals = {
        "session.start_s": (start_s, "s"),
        "setup.prepare_s": (prepare_s, "s"),
        "pass.call_s": (_per_pass(traced, "call_s"), "s"),
        "pass.action_s": (_per_pass(traced, "action_s"), "s"),
        **{f"pass.{c}": (_per_pass(traced, c),
                         "bytes" if c == "shuffle_bytes" else "count")
           for c in COUNTS},
        "self.bench_s": (selfs.get("bench", 0.0), "s"),
        "self.engine_s": (engine, "s"),
        "self.action_s": (selfs.get("action", 0.0), "s"),
        "self.spark_job_s": (selfs.get("spark.job", 0.0), "s"),
        "host.steal_frac": (steal, "frac"),
        "host.load1": (load_start, "load"),
        "trace.pass_s": (traced_pass, "s"),
        "trace.overhead_frac": (traced_pass / plain_pass - 1.0, "frac"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def op_breakdown(traced: list[list[dict]]) -> dict:
    """Medians per operation kind over the traced passes: wall time, the
    call/action split and the status-store counts.  Query kinds are
    prefixed ``q.``; the serving operations are named as in ``OP_NAMES``."""
    out: dict[str, float] = {}
    recs = [r for p in traced for r in p]
    for kind in sorted({r["kind"] for r in recs}):
        mine = [r for r in recs if r["kind"] == kind]
        pre = OP_NAMES.get(kind, f"q.{kind}")
        out[f"{pre}.n"] = len(mine)
        for f in ("s", "call_s", "action_s") + COUNTS:
            out[f"{pre}.{f}"] = median([r.get(f, 0) for r in mine])
    lookups = [r for r in recs if r["kind"] == "lookup"]
    if lookups:
        hits = sum(r["hit"] for r in lookups)
        out["api.lookup.input_rows_per_hit"] = (
            sum(r.get("input_rows", 0) for r in lookups) / max(1, hits))
    return out


def write_trace(work: str, workload: str, seed: int, run, traced, parts,
                metrics) -> str:
    """Write spans, self times and the breakdowns to
    ``<work>/traces/<workload>-seed<seed>.json``; returns the path."""
    d = os.path.join(work, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{seed}.json")
    doc = {
        "workload": workload, "seed": seed,
        "per_layer": {k: v["value"] for k, v in metrics.items()},
        "self_s_per_pass": layer_self_per_pass(run, len(traced)),
        "self_s_all": self_times(run.tracer.spans),
        "ops": op_breakdown(traced),
        "setup_parts": parts,
        "detail": run.detail,
        "spans": [asdict(s) for s in run.tracer.spans],
    }
    with open(path, "w") as fh:
        json.dump(doc, fh, default=str)
    return path
