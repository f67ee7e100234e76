"""Run one benchmark workload and print its result as the last line of
standard output.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository: the engine package
is imported from there, the inputs are generated under ``.perfbench/``
there, and Spark's temporary files, the run record and the trace are kept
there too.  See ``perfbench/README.md`` for the workloads and metrics.

Exit codes: 0 with a result line; 2 when the engine package cannot be
imported (nothing to measure); any other failure raises.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "financialtransactionmonitoringsystem_spark"
# A run whose host lost more than this share of CPU time to other guests
# is flagged in its record and on standard error.
STEAL_FLAG = 0.02
# JVM heap of the Spark session, passed through SPARK_DRIVER_MEMORY, which
# ``session.get_spark`` reads; its own default is 16g.  A cap, not an
# allocation: the inputs are small.  Measured: with a 2 GiB cap the heap
# grew to different sizes run to run and peak RSS spread 15%; at 1 GiB the
# corpus runs spread 4% the same day (10-16% on a busier one).  A change to the engine's default heap therefore
# does not show in this benchmark.
JVM_HEAP = "1g"
# prctl(2) option: orphaned descendants are re-parented to the caller.
PR_SET_CHILD_SUBREAPER = 36


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("analytics", "corpus", "serving"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Spark's and Python's temporary files go under the work directory;
    this must happen before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _start_spark(tmp: str):
    from financialtransactionmonitoringsystem_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    return get_spark("perfbench", cpus=cpus, extra_confs={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pass_count(seconds: float, passes_per_10s: int, trace: bool) -> int:
    """Passes a run makes: the workload's count for 10 seconds scaled to
    ``seconds``, and at least two untraced ones (one traced more with
    ``trace``)."""
    return max(math.ceil(passes_per_10s * seconds / 10), 3 if trace else 2)


def measure_loop(wl, run, n_passes: int, trace: bool):
    """Run the workload's pass ``n_passes`` times.  The count is fixed
    rather than set by a deadline so that every run, on every commit,
    measures the same passes: the JIT is still compiling the hot paths
    over the first passes (analytics passes 3-5 of a run: 3.0, 2.7 and
    2.5 s), so with a deadline a faster engine would fit more passes,
    later in that warm-up, and read faster than it is.  With ``trace``
    the passes alternate untraced/traced, so the run gives both the
    per-layer breakdown and the tracing overhead."""
    plain, traced = [], []
    for i in range(n_passes):
        on = trace and i % 2 == 1
        run.tracer.enabled = on
        with run.tracer.span("pass", "bench"):
            recs = wl.run_pass(run)
        (traced if on else plain).append(recs)
    run.tracer.enabled = False
    return plain, traced


def main(argv=None) -> int:
    args = _parse(argv)
    if importlib.util.find_spec(ENGINE) is None:
        print(f"perfbench: engine package {ENGINE!r} not found under "
              f"{ROOT}; nothing to measure", file=sys.stderr)
        return 2

    from . import measure
    from .workloads import WORKLOADS, Run

    t_start = time.perf_counter()
    ticks0 = measure.cpu_ticks()
    load_start = measure.load1()
    work = os.path.join(ROOT, ".perfbench")
    data = os.path.join(work, "data", args.workload)
    shutil.rmtree(data, ignore_errors=True)
    _prepare_env(work)

    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    wl.make_inputs(data, args.seed)
    gen_s = time.perf_counter() - t

    tracer = measure.Tracer(enabled=bool(args.trace))
    t = time.perf_counter()
    spark = _start_spark(os.path.join(work, "tmp"))
    start_s = time.perf_counter() - t
    try:
        run = Run(spark, tracer)
        with contextlib.ExitStack() as stack:
            if args.trace:
                from financialtransactionmonitoringsystem_spark.sources \
                    import json_ingest

                from .tracing import wrapped
                for fn in ("ingest_rows", "stream_transactions_json"):
                    stack.enter_context(wrapped(json_ingest, fn, tracer,
                                                "sources.json_ingest"))
            stack.enter_context(tracer.span(args.workload, "bench"))
            with tracer.span("setup", "bench"):
                parts = wl.setup(run)
            setup_s = time.perf_counter() - t
            run.first_measured_span = len(tracer.spans)
            plain, traced = measure_loop(
                wl, run, pass_count(args.seconds, wl.passes_per_10s,
                                    bool(args.trace)), bool(args.trace))
        wl.check(run)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_by = {"python": measure.peak_rss_mb([os.getpid()]),
                  "jvm": measure.peak_rss_mb([jvm_pid])}
        rss = sum(rss_by.values())
    finally:
        _stop_spark(spark)
    ticks1 = measure.cpu_ticks()
    steal = measure.steal_frac(ticks0, ticks1)

    ops = [r for p in plain for r in p]
    best = measure.best_per_slot(plain)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (sum(best), "s"),
        "op_ms.gmean": (statistics.geometric_mean(best) * 1e3, "ms"),
        "peak_rss_mb": (rss, "MB"),
    }
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "git_commit": _git_commit(),
        "engine_fingerprint": measure.tree_fingerprint(
            os.path.join(ROOT, ENGINE)),
        "input_fingerprint": measure.tree_fingerprint(data),
        "host": {"steal_frac": steal, "load1_start": load_start,
                 "load1_end": measure.load1(), "stolen": steal > STEAL_FLAG},
        "gen_s": gen_s, "session_start_s": start_s, "setup_parts": parts,
        # A pass's time is the sum of its operations' latencies: the
        # benchmark's own work between operations (comparing results,
        # drawing ids) is not the engine's.
        "passes": len(plain),
        "pass_s_all": [sum(r["s"] for r in p) for p in plain],
        "peak_rss_mb_by_process": rss_by,
        "fail_frac": run.outcomes.fail_frac,
        "failures": run.outcomes.examples,
        "latency_ms": _latency_summary(ops),
        "detail": run.detail,
        "wall_s": time.perf_counter() - t_start,
    }
    if steal > STEAL_FLAG:
        print(f"perfbench: WARNING host steal {steal:.1%} over this run; "
              "its timings are not comparable", file=sys.stderr)

    if args.trace:
        from .tracing import layer_metrics, write_trace
        metrics = layer_metrics(run, traced, plain, start_s,
                                setup_s - start_s, steal, load_start)
        record["trace_file"] = write_trace(
            work, args.workload, args.seed, run, traced, parts, metrics)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    record["metrics"] = metrics

    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({k: record[k] for k in
                      ("workload", "seed", "passes", "fail_frac", "host",
                       "wall_s")}), file=sys.stderr)
    if run.outcomes.failed:
        print(f"perfbench: {run.outcomes.failed} failed operations, e.g. "
              f"{run.outcomes.examples[:2]}", file=sys.stderr)

    sys.stdout.flush()
    print(json.dumps({
        "correct": run.outcomes.failed == 0,
        "attempted": run.outcomes.attempted,
        "failed": run.outcomes.failed,
        "metrics": metrics,
    }))
    return 0


def _latency_summary(ops: list[dict]) -> dict:
    """Per op kind: count, p50 and the tail percentile (with at least ten
    samples beyond it) in milliseconds."""
    from .measure import median, tail

    out = {}
    for kind in sorted({r["kind"] for r in ops}):
        ms = [r["s"] * 1e3 for r in ops if r["kind"] == kind]
        t = tail(ms)
        out[kind] = {"n": len(ms), "p50": median(ms),
                     "tail_pct": t[0] if t else None,
                     "tail": t[1] if t else None}
    return out


def become_subreaper() -> None:
    """Have orphaned descendants (a Spark Python worker daemon whose JVM
    has exited) re-parented to this process, so ``reap_children`` finds
    them."""
    import ctypes
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def children() -> list[int]:
    """Pids of this process's children, zombies included."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # After the parenthesised command name: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def reap_children(grace_s: float = 5.0) -> None:
    """Wait until every child process has ended and been reaped: SIGTERM
    to those still running after ``grace_s``, SIGKILL after twice that."""
    import signal

    t0 = time.monotonic()
    while kids := children():
        waited = time.monotonic() - t0
        if waited > 4 * grace_s:
            print(f"perfbench: child processes {kids} did not end",
                  file=sys.stderr)
            return
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] or waited <= grace_s:
                    continue
                os.kill(pid, signal.SIGKILL if waited > 2 * grace_s
                        else signal.SIGTERM)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


if __name__ == "__main__":
    # Run as a script: import this file again as ``perfbench.run`` so its
    # relative imports resolve.
    sys.path.insert(0, ROOT)
    from perfbench.run import become_subreaper, reap_children
    from perfbench.run import main as _main
    become_subreaper()
    try:
        rc = _main()
    finally:
        reap_children()
    sys.exit(rc)
