"""Loaders for the generated testdata tables (TESTDATA.md), and
:func:`read_parquet`, the only place in the engine that reads parquet
in batch.

Tables: region nation customer supplier part orders lineitem events
documents embeddings -- one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scale notes (100 TB design): these are plain ``spark.read.parquet`` scans,
so Catalyst predicate pushdown / column pruning / partition pruning all
apply unchanged when the single file becomes a partitioned directory tree
on object storage.  Nothing here collects to the driver.

The ``events`` table's ``ts`` column has shipped in two physical forms
across testdata generations: parquet TIMESTAMP(NANOS) (read as raw int64
via ``spark.sql.legacy.parquet.nanosAsLong`` and truncated to micros) and
plain TIMESTAMP(MICROS) without timezone (read as TIMESTAMP_NTZ).  Either
way DuckDB sees a naive microsecond TIMESTAMP, so ``_normalize_events_ts``
dispatches on the physical type and lands both on session-UTC
``TimestampType`` -- value-identical to the oracle's view of the file.

Schema cache: a ``spark.read.parquet(path)`` with no schema runs one
Spark job while the plan is built, to read a footer and infer the
schema.  :func:`read_parquet` keeps each inferred ``StructType`` in a
per-process LRU of :data:`SCHEMA_CACHE_SIZE` entries and reads with
``.schema(cached)`` on a hit, which plans with no job.  The key is the
path plus ``artifacts.corpus_fingerprint`` of it (every file's relative
name, size and mtime_ns) and of the confs that change the inferred
types (:data:`SCHEMA_CONFS`).  Adding, removing or rewriting any file
under the path, or flipping one of those confs, changes the key, so the
next read infers again.  A file rewritten in place with the same size
and mtime_ns is not detected -- the same trade the artifact markers
make.  The cache holds schemas only, never rows: a part file corrupted
after a cached read still fails the first action that reads it.  A
failed inference (absent path, empty directory, corrupt footer) raises
as an uncached read does and stores nothing, and a non-local URI
(``hdfs://``, ``s3a://``, ...) is read uncached because its files
cannot be stat'ed here.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .artifacts import corpus_fingerprint
from .session import apply_runtime_confs


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Land ``ts`` on session-UTC TimestampType whatever its physical form.

    int64 = legacy TIMESTAMP(NANOS) surfaced by ``nanosAsLong``: truncate
    to micros exactly as DuckDB's reader does.  TIMESTAMP_NTZ = native
    micros with no zone: with the engine's UTC session timezone the cast
    is a pure type relabel, identical instants.
    """
    t = df.schema["ts"].dataType
    if isinstance(t, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if not isinstance(t, T.TimestampType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Entries of the inferred-schema LRU; a StructType is a few KB at most.
SCHEMA_CACHE_SIZE = 64

# Confs that change the types a parquet footer is inferred as.
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

_schema_cache: OrderedDict[tuple[str, str], T.StructType] = OrderedDict()
# foreachBatch sinks read from streaming query threads.
_schema_lock = threading.Lock()


def _schema_key(spark: SparkSession, path: str) -> tuple[str, str] | None:
    """Cache key for ``path`` under the session's current confs, or
    ``None`` when the files cannot be stat'ed locally (a non-local URI,
    an absent path, a glob)."""
    p = urlparse(path)
    if p.scheme not in ("", "file"):
        return None
    local = path.split(":", 1)[1] if p.scheme else path
    params = {k: spark.conf.get(k) for k in SCHEMA_CONFS}
    try:
        return path, corpus_fingerprint([local], params)
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str,
                 schema: T.StructType | None = None) -> DataFrame:
    """``spark.read.parquet(path)``, with ``schema`` when given and
    otherwise with the schema inferred for this exact file set at an
    earlier call (see the module docstring).  Raises exactly as the
    inferring read does when there is nothing to infer from."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    # Fingerprint BEFORE reading: a file changing between the two then
    # stores the newer schema under the older key, which nothing asks
    # for again -- never an older schema under the newer key.
    key = _schema_key(spark, path)
    cached = None
    if key is not None:
        with _schema_lock:
            cached = _schema_cache.get(key)
            if cached is not None:
                _schema_cache.move_to_end(key)
    if cached is not None:
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        with _schema_lock:
            _schema_cache[key] = df.schema
            while len(_schema_cache) > SCHEMA_CACHE_SIZE:
                _schema_cache.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame with engine-canonical types."""
    apply_runtime_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_events_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...]) -> None:
    """Register temp views (used by SQL-form queries and notebooks)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# The size threshold for scan_wide's ``light=True`` callers:
# the compressed-input size below which the guard exchange cannot pay
# for LIGHT per-row work.  Rationale (r18 optimization round, VERDICT
# r17 #1): the guard's cost at bench scale is not shuffle bytes but the
# EXTRA STAGE (scheduling width-many tasks + a codegen boundary,
# ~0.2-0.5 s at local[32]); its payoff is parallelizing the fused
# per-row work.  For heavy per-row operators (gram hashing, MinHash
# folds) that payoff exists at ANY corpus size, so they call with the
# default light=False.  For light per-row work (a regex projection, a
# distinct-map probe) the serial cost of a few-MB input is below one
# stage's overhead, so the exchange only pays once the input outgrows
# this threshold.  4 MiB compressed (~10x that in memory) sits at the
# measured crossover: interleaved A/Bs (OPTIMIZATION_r18.md) show the
# light keys losing 0.1-0.5 s with the guard at sf0.1 (<= 2 MB inputs)
# and winning 1.9-10x with it on the 10x/50x replicas (>= 5.8 MB).
# At real input widths the width gate no-ops first and this threshold
# never evaluates.
SCAN_WIDE_LIGHT_MIN_BYTES = 4 << 20


def _input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of ``df``'s input files, plan-time (no job:
    ``inputFiles()`` reads the already-resolved file index).  ``None``
    when any file's size cannot be read locally (e.g. an object-store
    URI) or when ``df`` reads no files at all (an in-memory frame) --
    callers treat unknown as "big" so behavior degrades to the plain
    width-gated guard, never to a silently serial scan."""
    uris = df.inputFiles()
    if not uris:
        return None
    total = 0
    for uri in uris:
        p = urlparse(uri)
        if p.scheme not in ("", "file"):
            return None
        try:
            total += os.path.getsize(unquote(p.path))
        except OSError:
            return None
    return total


def shuffle_width(spark: SparkSession) -> int:
    """The session's shuffle width: ``spark.sql.shuffle.partitions``
    when numeric.  Platforms that set it non-numerically (e.g. "auto")
    fall back to the scheduler's default parallelism instead of crashing
    at plan-construction time."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def scan_wide(df: DataFrame, *keys: str, light: bool = False) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` up to :func:`shuffle_width`
    IF its physical plan is narrower than that width -- the shared
    narrow-input parallelism guard (r17 optimization round).

    Why it exists: a parquet ROW GROUP is the unit of scan parallelism
    (the vectorized reader cannot split one), and the sf-scale testdata
    tables are each written as ONE row group -- so ANY per-row work
    fused into a scan stage (gram hashing, JSON parsing, decimal
    arithmetic, a partial aggregate) runs as ONE task no matter how
    many cores the session has.  This is the classic "one huge
    unsplittable input" skew: the fix is to repartition immediately
    after the read, paying one narrow exchange of only the scanned
    columns to unlock full-width parallelism for the per-row work.

    Why gated, and why this survives 100 TB: the partition count is
    read from the frame's physical plan (no job runs -- deterministic
    for a given file set + split config, so retried stages replan
    identically).  At real input widths (a 100 TB table arrives as
    many thousands of splits) the guard sees >= width partitions and
    returns ``df`` unchanged -- the production plan has no extra
    exchange.  The width is the session's shuffle parallelism, never a
    constant.  Callers pass a UNIFORM key (row identity like doc_id /
    event_id, or a hash), never a Zipfian payload key -- the
    q_dedup_prefix lesson: hashing a skewed key concentrates, not
    spreads (PLANS r17).

    ``light`` (r18 optimization round): callers whose fused per-row
    work is LIGHT pass ``light=True`` and the guard additionally no-ops
    while the compressed input is smaller than
    :data:`SCAN_WIDE_LIGHT_MIN_BYTES` -- below it, one extra stage
    costs more than the serial work it parallelizes.  Size comes from
    the input file listing (plan-time, deterministic for a file set);
    when it cannot be read (remote URIs) the guard conservatively
    treats the input as big.  Heavy-work callers keep the default:
    their exchange pays at any size that reaches this gate.
    """
    n = shuffle_width(df.sparkSession)
    if df.rdd.getNumPartitions() >= n:
        return df
    if light:
        size = _input_bytes(df)
        if size is not None and size < SCAN_WIDE_LIGHT_MIN_BYTES:
            return df
    return df.repartition(n, *[F.col(k) for k in keys])
