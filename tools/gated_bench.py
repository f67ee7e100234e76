"""Run bench.py only inside a measured-quiet host window.

The r17 resume sessions established (OPTIMIZATION_r17.md, "Host-noise
finding") that loadavg alone cannot see hypervisor CPU steal: the gate
read 0.05-0.18 while throughput degraded 1.7-25x.  This wrapper adds
the /proc/stat steal-delta gate that record recommends: before each
bench run it samples /proc/stat twice, computes the steal fraction of
total ticks over the sample window, and refuses to launch (retrying up
to --retries times) unless BOTH

  * 1-min loadavg < --load-max (default 0.5), and
  * steal fraction < --steal-max (default 0.01 = 1%)

hold.  It also re-samples steal DURING the run (bench.py prints its
JSON line at the end; we diff /proc/stat around the whole run) and
annotates the captured record with the observed run-long steal
fraction, so a run that was quiet at launch but stolen-from mid-flight
is visibly flagged instead of silently folded.

Usage: python tools/gated_bench.py OUT.json [--runs N] ...
Each run's parsed JSON line is appended to OUT.json (a JSON list) with
"steal_frac" and "load_at_launch" fields added.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time


def _stat() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    # Fields 1..8 are user..steal; guest/guest_nice are already folded
    # into user/nice by the kernel, so including them double-counts and
    # understates the steal fraction.
    vals = [int(x) for x in f[1:9]]
    return sum(vals), vals[7]  # total ticks, steal ticks


def steal_frac(window_s: float = 5.0) -> float:
    t0, s0 = _stat()
    time.sleep(window_s)
    t1, s1 = _stat()
    return (s1 - s0) / max(1, t1 - t0)


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.readline().split()[0])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--load-max", type=float, default=0.5)
    ap.add_argument("--steal-max", type=float, default=0.01)
    ap.add_argument("--retries", type=int, default=10)
    ap.add_argument("--retry-wait", type=float, default=60.0)
    ap.add_argument("--require-clean", type=float, default=None,
                    metavar="FRAC", help="re-run (still recording the "
                    "stolen attempt) until the run-long steal fraction "
                    "is below FRAC; attempts share the --retries budget")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    records: list[dict] = []
    if os.path.exists(args.out):
        with open(args.out) as fh:
            records = json.load(fh)
        if not isinstance(records, list):
            sys.exit(f"{args.out} holds a {type(records).__name__}, "
                     "not a JSON list of run records -- refusing to "
                     "append (did you pass BENCH_latest_full.json?)")

    run = 0
    budget = args.retries
    while run < args.runs and budget > 0:
        ld, sf = load1(), steal_frac()
        if not (ld < args.load_max and sf < args.steal_max):
            budget -= 1
            print(f"[gate] run {run}: load={ld:.2f} steal={sf:.4f} "
                  f"-- waiting {args.retry_wait}s "
                  f"({budget} retries left)", flush=True)
            time.sleep(args.retry_wait)
            continue
        t0, s0 = _stat()
        proc = subprocess.run(
            [sys.executable, os.path.join(repo, "bench.py")],
            capture_output=True, text=True, cwd=repo)
        t1, s1 = _stat()
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith('{"metric"')]
        if proc.returncode != 0 or not line:
            budget -= 1
            print(f"[gate] run {run}: bench rc={proc.returncode}; "
                  f"stderr tail: {proc.stderr[-500:]} "
                  f"-- waiting {args.retry_wait}s "
                  f"({budget} retries left)", flush=True)
            time.sleep(args.retry_wait)
            continue
        rec = json.loads(line[-1])
        rec["load_at_launch"] = ld
        rec["steal_frac"] = round((s1 - s0) / max(1, t1 - t0), 5)
        records.append(rec)
        with open(args.out, "w") as fh:
            json.dump(records, fh, indent=1)
        print(f"[gate] run {run}: total={rec['value']} "
              f"steal_during={rec['steal_frac']}", flush=True)
        if (args.require_clean is not None
                and rec["steal_frac"] >= args.require_clean):
            budget -= 1
            print(f"[gate] run {run}: stolen mid-run "
                  f"(>= {args.require_clean}); re-running "
                  f"({budget} retries left)", flush=True)
            continue
        run += 1
    if run < args.runs:
        print(f"[gate] stopped with {run}/{args.runs} accepted runs",
              flush=True)
        sys.exit(1)


if __name__ == "__main__":
    main()
