"""SparkSession construction.

Local mode is a single JVM with N executor threads; on a real cluster the
same configs apply per executor.  Everything here is sized so the plans we
produce survive a 100 TB / 1000-executor scale-up:

* AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast demotion/promotion).
* ``spark.sql.shuffle.partitions`` ~ cores locally; on a cluster this is
  AQE-coalesced upward from ``initialPartitionNum``.
* UTC session timezone so event-time semantics match the DuckDB oracle and
  are reproducible across clusters.
* Arrow enabled for the few Pandas-UDF code paths (similarity/multimodal).
* ``nanosAsLong`` so parquet TIMESTAMP(NANOS) columns (the ``events``
  table) are readable; ``tables.load_table`` converts ns->us explicitly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # 128 MiB input splits: good parallelism for parquet scans at any SF.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "fintxmon-spark", cpus: int | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default tuning."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(cpus)
    # local[N] runs driver + all executor threads in ONE JVM whose default
    # heap is 1g -- far too small for 32-thread shuffles at sf0.1.  16g is
    # a cap, not an allocation; on a real cluster this maps to
    # per-executor memory instead.  Bigger is NOT better here: block
    # cleanup (localCheckpoint blocks, broadcasts, shuffle state) waits on
    # the ContextCleaner, which only learns a block is dead after a JVM
    # GC collects its RDD reference -- with a huge heap GC never runs, a
    # multi-query session accumulates dead blocks, and execution memory
    # shrinks until queries run 5-20x slower (measured: q_dedup_minhash
    # 5s -> 117s over five runs at 48g).  The periodicGC interval below
    # is the matching production fix: force the reference sweep often
    # enough that long-lived sessions stay at steady-state cost.
    confs["spark.driver.memory"] = os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    confs["spark.cleaner.periodicGC.interval"] = "45s"
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine confs to an externally built session.

    The verification driver builds its own SparkSession; every ``queries()``
    entry routes through here so reads behave identically (UTC event time,
    nanos handling, AQE).

    DELIBERATELY not set: ``spark.sql.ansi.enabled``.  Spark 4 defaults
    it to true, so every attested result was produced under ANSI
    semantics, and at 100 TB fail-loudly is the right posture (silent
    NULLs hide corrupt data).  Known cross-engine consequence, accepted
    and documented rather than papered over: an expression edge that
    ANSI turns into an error (division by zero, overflow, bad cast)
    THROWS here while DuckDB yields NULL -- a corpus regeneration that
    first reaches such an edge (a zero-token source in
    q_curate_mixture, a zero-norm embedding in the cosine family)
    would surface as a loud Spark-side error, never a silent value
    mismatch.  Flipping ANSI off to chase NULL-parity would relax
    semantics for every attested key at once; if an edge ever
    becomes reachable, guard that one site with ``try_divide``/
    ``F.when`` instead (the q_fn_try surface exists for exactly this).
    """
    for key in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        # runtime-settable: a vanilla session defaults to 200 shuffle
        # partitions, which is pure task overhead at test scale.
        "spark.sql.shuffle.partitions",
    ):
        spark.conf.set(key, DEFAULT_CONFS.get(key, "true"))
    return spark
