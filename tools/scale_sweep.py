"""Scaling-sweep runner (the PLANS methodology, checked in like
tools/build_replicas.py so every recorded sweep row is reproducible).

Usage:
    python tools/build_replicas.py                  # build 10x/50x replicas
    python tools/scale_sweep.py KEY [KEY ...]       # rows for those keys

Methodology (identical to every PLANS sweep table since round 9):
combined replica dirs (facts xN salted/shifted, dims fixed at 1x),
local[32] with 16g driver heap, one warm run then min-of-2 noop-sink
runs per (key, dir), an untimed JVM GC between keys, corpus artifacts
pre-warmed via artifacts.build_corpus_artifacts.  Prints one
cumulative "SWEEP key 1x=.. 10x=.. 50x=.." line per key to stderr.
Unregistered production twins are exposed under their module names.
"""
import sys
import time

import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = sys.argv[1:]
DIRS = [("1x", "/root/testdata/sf0.1"),
        ("10x", "/tmp/scale10all"),
        ("50x", "/tmp/scale50all")]

from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.driver.memory", "16g")
         .config("spark.ui.enabled", "false")
         .appName("scale-sweep").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E

qs = E.queries()  # q_text_decontam_bylang / q_text_novelty registered r11
from financialtransactionmonitoringsystem_spark.operators import dedup as _ddp
# the vectorized form IS q_dedup_embed since the r14 swap; the pre-swap
# sequential-fold join form is the unregistered twin now
qs["embed_pairs_fold"] = _ddp.embed_pairs_fold

jvm_gc = spark.sparkContext._jvm.System.gc
for key in KEYS:
    fn = qs.get(key)
    if fn is None:
        # e.g. a PLANS row recorded under a pre-swap twin name
        # (embed_pairs_vectorized became q_dedup_embed in r14) -- report
        # and keep sweeping the remaining keys instead of dying here
        print(f"SWEEP {key} ERR=unknown key (renamed or unregistered?)",
              file=sys.stderr, flush=True)
        continue
    row = [key]
    for label, d in DIRS:
        jvm_gc()
        try:
            fn(spark, d).write.mode("overwrite").format("noop").save()  # warm
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, d).write.mode("overwrite").format("noop").save()
                best = min(best, time.perf_counter() - t0)
            row.append(f"{label}={best:.2f}")
        except Exception as exc:  # noqa: BLE001
            row.append(f"{label}=ERR:{type(exc).__name__}")
        sys.stderr.write("SWEEP " + " ".join(row) + "\n")
sys.stderr.write("SWEEP done\n")
