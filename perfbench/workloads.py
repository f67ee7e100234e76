"""The benchmark's workloads.  Each drives the engine's public functions
from outside: the query registry (``queries.all_queries``), the corpus
artifact builders (``artifacts.corpus_builders``) and the reference API
(``api.TransactionStore``), and the streaming ingest and compaction
(``sources.json_ingest``, ``streaming.pipeline``).

A workload has a set-up (timed as ``setup_s``) and a *pass*: a fixed
script of operations that the measured loop repeats a fixed number of
times (``run.pass_count``).  Every operation is one engine call plus, where the
call returns a lazy DataFrame, the action that consumes it; the two are
timed apart (``call`` and ``action``).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from .measure import Outcomes, SparkCounts, Tracer, canonical, rows_match

# One or two keys per relational operator module (aggregates, relational,
# windows, topk, setops).  Every distinct plan adds seconds of first-run
# cost to the set-up, so the lists are kept short enough for a session of
# 4 + 22 runs per workload to stay under an hour.
ANALYTICS_KEYS = (
    "q_agg_group", "q_join_multiway", "q_join_asof", "q_win_frame",
    "q_topk_per_group", "q_dedup")
ANALYTICS_TABLES = ("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events")
# lineitem 120k, orders 30k, events 20k rows.
ANALYTICS_SF = 0.02

# Dedup, similarity and text operators, chosen so that every artifact in
# CORPUS_ARTIFACTS has a reader in the pass.  q_sim_ivf and its ivf_index
# are left out: the build alone took 7-9 s of a 35 s set-up, and that time
# buys a third measured pass instead.
CORPUS_KEYS = (
    "q_dedup_minhash", "q_dedup_prefix", "q_sim_lsh", "q_text_tfidf")
CORPUS_TABLES = ("documents", "embeddings")
# documents 500, embeddings 200 rows.
CORPUS_SF = 0.01
# The persisted artifacts the pass reads (the simhash and cluster tables
# are read only by q_dedup_simhash and q_dedup_cluster).
CORPUS_ARTIFACTS = ("token_table", "prefix_index", "band_table")

# Serving sizes, from the sizing the workload was specified with: lookup
# on a 1,000-row store of 20 files, 50-row appends.  The pre-seed is the
# store 20 such appends leave.
SERVING_PRESEED_FILES = 20
SERVING_APPEND_ROWS = 50
# The traffic mix is a choice, not measured traffic (the reference gives
# none): one POST per six GETs on the store and three on the compacted
# serving table; 10% of lookups miss; 10% of appended rows reuse a recent
# id (see txgen.TransactionGen for the bias towards recent ids).
SERVING_LOOKUPS_PER_PASS = 6
SERVING_STREAM_LOOKUPS_PER_PASS = 3
SERVING_MISS_FRAC = 0.1
SERVING_DUP_FRAC = 0.1
# The serving table is keyed like the store.
SERVING_KEY = "transaction_id"


# Measured passes a 10-second run makes (``run.pass_count`` scales them
# with ``--seconds``).  A pass took about 3 s (analytics), 4.5 s (corpus)
# and 5 s (serving) on a 4-CPU host; the counts keep a run, set-up
# included, near 45 s, and give each operation at least two repetitions
# after the JIT has warmed (a serving run's first pass is 25-45% slower
# than its second).
PASSES_PER_10S = {"analytics": 4, "corpus": 3, "serving": 3}


class Run:
    """What one run shares between set-up, passes and checks."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        # Spans from this index on belong to the measured passes.
        self.first_measured_span = 0
        self.counts = SparkCounts(spark.sparkContext)
        self.outcomes = Outcomes()
        # perf_counter = time.time() - clock_offset; Spark job times are
        # wall-clock epoch milliseconds.
        self.clock_offset = time.time() - time.perf_counter()
        self.detail: dict = {}
        # Job groups of the current op that Spark set on threads of its
        # own (a streaming query's runId); ``op`` counts their jobs too.
        self.extra_job_groups: list[str] = []

    def op(self, kind: str, layer: str, call, action=None) -> tuple:
        """Run one operation and return ``(result, record)``.  ``call``
        is the engine call; ``action`` (optional) consumes its result.
        With tracing on, the op runs under its own Spark job group and
        its spans and status-store counts are recorded."""
        traced = self.tracer.enabled
        op_id = self.tracer.new_op() if traced else 0
        self.extra_job_groups.clear()
        group = self.counts.begin(kind) if traced else None
        t0 = time.perf_counter()
        with self.tracer.span(kind, "bench", op_id):
            with self.tracer.span(kind, layer, op_id):
                out = call()
            t1 = time.perf_counter()
            if action is not None:
                with self.tracer.span("action", "action", op_id):
                    out = action(out)
        t2 = time.perf_counter()
        rec = {"kind": kind, "s": t2 - t0, "call_s": t1 - t0,
               "action_s": t2 - t1}
        if traced:
            c = self.counts.end(group, self.extra_job_groups)
            for a, b in c.pop("job_times"):
                self._add_job_span(op_id, a - self.clock_offset,
                                   b - self.clock_offset)
            rec.update(c)
        return out, rec

    def _add_job_span(self, op_id: int, start: float, end: float) -> None:
        # Parent: the innermost span of this op that contains the job's
        # start (status-store times have millisecond resolution).
        parent, best = None, None
        for s in self.tracer.spans:
            if s.op_id == op_id and s.layer != "spark.job" \
                    and s.start - 1e-3 <= start <= s.end + 1e-3:
                if best is None or s.end - s.start < best:
                    parent, best = s.sid, s.end - s.start
        self.tracer.add("spark.job", "spark.job", start, end, op_id, parent)


def _collect(df):
    return df.columns, df.collect()


def _difference(key: str, got: list, want: list) -> str:
    first = next(((g, w) for g, w in zip(got, want) if g != w), None)
    return f"{key}: {len(got)} rows, want {len(want)}; first: {first}"[:300]


def _layer_of(fn) -> str:
    mod = fn.__module__
    return mod.split(".", 1)[1] if "." in mod else mod


def prepare_tables(data_dir: str, seed: int, sf: float,
                   tables: tuple[str, ...],
                   oracle_sqls: dict[str, str]) -> dict[str, list[tuple]]:
    """Write the tables and return each oracle's ``canonical`` result on
    them (DuckDB, UTC)."""
    import duckdb

    from . import gen

    gen.write_tables(data_dir, seed, sf, tables)
    expected = {}
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * "
                        f"FROM read_parquet('{path}')")
        for key, sql in oracle_sqls.items():
            cur = con.execute(sql)
            expected[key] = canonical([c[0] for c in cur.description],
                                      cur.fetchall())
    finally:
        con.close()
    return expected


def run_in_child(fn, *args):
    """``fn(*args)`` in a fresh Python process, which has ended when this
    returns.  A plain subprocess rather than ``multiprocessing``: its
    ``spawn`` start method leaves a resource-tracker process running until
    the parent exits."""
    import pickle
    import subprocess
    import sys
    import tempfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "result.pickle")
        subprocess.run([sys.executable, "-m", __name__, out], cwd=root,
                       input=pickle.dumps((fn.__name__, args)),
                       stdout=sys.stderr, check=True)
        with open(out, "rb") as fh:
            return pickle.load(fh)


def _child_main(out: str) -> None:
    import pickle
    import sys

    name, args = pickle.load(sys.stdin.buffer)
    result = globals()[name](*args)
    with open(out, "wb") as fh:
        pickle.dump(result, fh)


class QueryWorkload:
    """A pass runs each registry key once and collects its result.  After
    the op's timer stops the result is compared with the key's DuckDB
    ``oracle_sql()`` on the same files, computed when the inputs are made;
    a key without an oracle must give the same non-empty result on every
    execution in the run."""

    name: str
    keys: tuple[str, ...]
    tables: tuple[str, ...]
    sf: float

    def __init__(self):
        from financialtransactionmonitoringsystem_spark import queries
        self.registry = queries.all_queries()
        self.oracles = queries.all_oracles()
        self.expected: dict[str, list[tuple]] = {}

    def make_inputs(self, data_dir: str, seed: int) -> None:
        """Write the tables and compute the oracle results in a child
        process, so that the measured process's peak RSS holds none of it."""
        self.data_dir = data_dir
        sqls = {k: self.oracles[k] for k in self.keys if k in self.oracles}
        self.expected = run_in_child(prepare_tables, data_dir, seed,
                                     self.sf, self.tables, sqls)

    def run_pass(self, run: Run) -> list[dict]:
        recs = []
        for key in self.keys:
            fn = self.registry[key]
            try:
                (cols, rows), rec = run.op(
                    key, _layer_of(fn), lambda: fn(run.spark, self.data_dir),
                    _collect)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                run.outcomes.error(f"{key}: {type(e).__name__}: {e}"[:300])
                continue
            got = canonical(cols, rows)
            want = self.expected.setdefault(key, got)
            ok = bool(want) and rows_match(got, want)
            run.outcomes.check(ok, "" if ok else _difference(key, got, want))
            recs.append(rec)
        return recs

    def check(self, run: Run) -> None:
        run.detail["result_rows"] = {k: len(v)
                                     for k, v in self.expected.items()}


class Analytics(QueryWorkload):
    name = "analytics"
    passes_per_10s = PASSES_PER_10S["analytics"]
    keys = ANALYTICS_KEYS
    tables = ANALYTICS_TABLES
    sf = ANALYTICS_SF

    def setup(self, run: Run) -> dict:
        """Warm-up: one pass whose time counts in ``setup_s`` only.  It
        pays the JVM's first-execution costs (class loading, JIT, code
        generation for these plans); its results are checked too."""
        t = time.perf_counter()
        self.run_pass(run)
        return {"warmup_s": time.perf_counter() - t}


class Corpus(QueryWorkload):
    name = "corpus"
    passes_per_10s = PASSES_PER_10S["corpus"]
    keys = CORPUS_KEYS
    tables = CORPUS_TABLES
    sf = CORPUS_SF

    def setup(self, run: Run) -> dict:
        """Build of the persisted corpus artifacts the pass reads, then a
        warm-up pass as in ``Analytics``.  The builds are cold: each
        artifact's marker fingerprints its source files by size and
        mtime, and the run has just written the tables afresh."""
        from financialtransactionmonitoringsystem_spark import artifacts

        out = {}
        builders = artifacts.corpus_builders()
        for name in CORPUS_ARTIFACTS:
            build = builders[name]
            t = time.perf_counter()
            with run.tracer.span(f"artifacts.{name}", "artifacts"):
                build(run.spark, self.data_dir)
            out[f"artifacts.{name}.build_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.run_pass(run)
        out["warmup_s"] = time.perf_counter() - t
        return out


class Serving:
    """One closed-loop client against the reference's API
    (``api.TransactionStore``) and the monitoring ingest path
    (``json_ingest.stream_transactions_json`` into
    ``pipeline.compact_latest_to``, read with ``serving_lookup``).

    Set-up pre-seeds the store with ``SERVING_PRESEED_FILES`` files of
    ``SERVING_APPEND_ROWS`` rows, lands the same rows as one JSON file and
    compacts them into the serving table with one bounded streaming query.
    A pass then runs, on that state:

    * ``append``: one POST of ``SERVING_APPEND_ROWS`` rows;
    * ``lookup`` x ``SERVING_LOOKUPS_PER_PASS``, checked against the first
      inserted row of the id;
    * ``compact``: the appended rows land as a JSON file and one bounded
      (``availableNow``) streaming query compacts them into the serving
      table;
    * ``serving_lookup`` x ``SERVING_STREAM_LOOKUPS_PER_PASS``, checked
      against the latest row of the id.

    Every pass after the first starts by putting the store, the landing
    directory, the serving table, the checkpoint and the ground truth
    back to their state after set-up (untimed), so every measured
    operation sees the same amount of data however many passes a run
    fits.  After the loop the store's row count and the whole serving
    table are checked."""

    name = "serving"
    passes_per_10s = PASSES_PER_10S["serving"]

    def make_inputs(self, data_dir: str, seed: int) -> None:
        from .txgen import TransactionGen

        self.dirs = {d: os.path.join(data_dir, d) for d in
                     ("store", "landing", "serving", "checkpoint")}
        self.snap_dir = os.path.join(data_dir, "snapshot")
        self.gen = TransactionGen(seed, dup_frac=SERVING_DUP_FRAC)
        self.passes = 0
        self.progress: list[dict] = []

    def setup(self, run: Run) -> dict:
        from financialtransactionmonitoringsystem_spark.api import \
            TransactionStore

        self.store = TransactionStore(run.spark, self.dirs["store"])
        rows = self.gen.batch(SERVING_PRESEED_FILES * SERVING_APPEND_ROWS)
        t = time.perf_counter()
        _preseed_store(run.spark, self.dirs["store"], rows,
                       SERVING_PRESEED_FILES)
        out = {"preseed_s": time.perf_counter() - t}
        self._land(rows, "preseed")
        t = time.perf_counter()
        self._compact(run)
        out["stream_preseed_s"] = time.perf_counter() - t
        self.rows_live = len(rows)
        # What a pass resets to.
        self.keep = {d: set(os.listdir(self.dirs[d]))
                     for d in ("store", "landing")}
        for d in ("serving", "checkpoint"):
            shutil.copytree(self.dirs[d], os.path.join(self.snap_dir, d))
        self.gen_snapshot = self.gen.snapshot()
        return out

    def _reset(self) -> None:
        for d, keep in self.keep.items():
            for f in os.listdir(self.dirs[d]):
                if f not in keep:
                    os.remove(os.path.join(self.dirs[d], f))
        for d in ("serving", "checkpoint"):
            shutil.rmtree(self.dirs[d])
            shutil.copytree(os.path.join(self.snap_dir, d), self.dirs[d])
        self.gen.restore(self.gen_snapshot)
        self.rows_live = SERVING_PRESEED_FILES * SERVING_APPEND_ROWS

    def _land(self, rows: list[dict], name: str) -> None:
        os.makedirs(self.dirs["landing"], exist_ok=True)
        with open(os.path.join(self.dirs["landing"], f"{name}.json"),
                  "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)

    def _compact(self, run: Run) -> list[dict]:
        """Run one bounded streaming query from the landing directory into
        the serving table; returns its progress reports."""
        from financialtransactionmonitoringsystem_spark.sources.json_ingest \
            import stream_transactions_json
        from financialtransactionmonitoringsystem_spark.streaming.pipeline \
            import compact_latest_to

        q = (stream_transactions_json(run.spark, self.dirs["landing"])
             .writeStream
             .foreachBatch(compact_latest_to(self.dirs["serving"],
                                             key=SERVING_KEY))
             .option("checkpointLocation", self.dirs["checkpoint"])
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        # The query's thread runs its jobs under the query's runId.
        run.extra_job_groups.append(str(q.runId))
        return [p if isinstance(p, dict) else json.loads(p.json)
                for p in q.recentProgress]

    def _op(self, run: Run, kind: str, layer: str, call, action=None):
        """``run.op`` with a raised error counted as a failed operation;
        returns ``(result, record)`` or ``(None, None)``."""
        try:
            return run.op(kind, layer, call, action)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            run.outcomes.error(f"{kind}: {type(e).__name__}: {e}"[:300])
            return None, None

    def run_pass(self, run: Run) -> list[dict]:
        from financialtransactionmonitoringsystem_spark.streaming.pipeline \
            import serving_lookup

        if self.passes:
            self._reset()
        self.passes += 1
        recs = []
        rows = self.gen.batch(SERVING_APPEND_ROWS)
        _, rec = self._op(run, "append", "api",
                          lambda: self.store.append(rows))
        if rec:
            recs.append(rec)
            run.outcomes.check(True)
            self.rows_live += len(rows)
        for _ in range(SERVING_LOOKUPS_PER_PASS):
            tid = self.gen.pick_lookup(SERVING_MISS_FRAC)
            got, rec = self._op(run, "lookup", "api",
                                lambda: self.store.lookup(tid),
                                lambda df: df.collect())
            if rec:
                rec["hit"] = bool(got)
                recs.append(rec)
                want = self.gen.first_row.get(tid)
                run.outcomes.check(_row_matches(got, want),
                                   f"lookup {tid}: got {got[:1]}, "
                                   f"want {want}")
        self._land(rows, f"pass{self.passes:05d}")
        progress, rec = self._op(run, "compact", "streaming.pipeline",
                                 lambda: self._compact(run))
        if rec:
            # The rows it compacted are checked by the lookups below and
            # by the whole-table check after the loop.
            batches = [p for p in progress if p.get("numInputRows")]
            run.outcomes.check(len(batches) == 1,
                               f"compact: {len(batches)} batches, want 1")
            self.progress.extend(batches)
            recs.append(rec)
        for _ in range(SERVING_STREAM_LOOKUPS_PER_PASS):
            tid = self.gen.pick_lookup(SERVING_MISS_FRAC)
            got, rec = self._op(
                run, "serving_lookup", "streaming.pipeline",
                lambda: serving_lookup(run.spark, self.dirs["serving"], tid,
                                       key=SERVING_KEY),
                lambda df: df.collect())
            if rec:
                recs.append(rec)
                want = self.gen.latest_row.get(tid)
                run.outcomes.check(_row_matches(got, want),
                                   f"serving_lookup {tid}: got {got[:1]}, "
                                   f"want {want}")
        return recs

    def check(self, run: Run) -> None:
        n = self.store.count()
        run.outcomes.check(n == self.rows_live,
                           f"store has {n} rows, want {self.rows_live}")
        table = run.spark.read.parquet(self.dirs["serving"]).collect()
        latest = {r[SERVING_KEY]: r for r in table}
        bad = [k for k, want in self.gen.latest_row.items()
               if not _row_matches([latest[k]] if k in latest else [], want)]
        run.outcomes.check(
            not bad and len(table) == len(self.gen.latest_row),
            f"serving table: {len(table)} rows, want "
            f"{len(self.gen.latest_row)}; wrong ids {bad[:3]}")
        for d, pre, live in (("store", "api.store", n),
                             ("serving", "stream.serving", len(table))):
            files = [os.path.join(dp, f)
                     for dp, _, fs in os.walk(self.dirs[d]) for f in fs
                     if f.endswith(".parquet")]
            run.detail[f"{pre}_files"] = len(files)
            run.detail[f"{pre}_bytes_per_row"] = sum(
                map(os.path.getsize, files)) / max(1, live)
        run.detail["stream"] = stream_summary(self.progress)


STREAM_DURATIONS = ("addBatch", "triggerExecution", "walCommit",
                    "queryPlanning", "latestOffset")


def stream_summary(progress: list[dict]) -> dict:
    """Medians over the streaming batches that read rows: rows per batch
    and the ``durationMs`` parts of ``StreamingQueryProgress``.  Spark
    counts a batch's input rows once per action on it, and
    ``compact_latest_to`` runs two, so rows per batch reads twice the rows
    landed."""
    from .measure import median

    if not progress:
        return {"stream.batches": 0}
    out = {"stream.batches": len(progress),
           "stream.rows_per_batch.p50": median(
               [p["numInputRows"] for p in progress])}
    for d in STREAM_DURATIONS:
        vals = [p["durationMs"][d] for p in progress
                if d in p.get("durationMs", {})]
        if vals:
            out[f"stream.{d}_ms.p50"] = median(vals)
    return out


def _preseed_store(spark, store_dir: str, rows: list[dict],
                   files: int) -> None:
    """Write ``rows`` into the store as ``files`` parquet files of equal
    size and consecutive ``ingest_seq``, in one ingest and one write: the
    table that as many ``TransactionStore.append`` calls would leave,
    without the re-scan each append makes first (which would make the
    set-up that many appends long)."""
    from financialtransactionmonitoringsystem_spark.sources import \
        json_ingest

    (json_ingest.ingest_rows(spark, rows)
     .repartitionByRange(files, "ingest_seq")
     .write.mode("append").parquet(store_dir))


def _row_matches(got: list, want: dict | None) -> bool:
    if want is None:
        return not got
    if len(got) != 1:
        return False
    row = got[0].asDict()
    return all(row[k] == v for k, v in want.items())


WORKLOADS = {w.name: w for w in (Analytics, Corpus, Serving)}


if __name__ == "__main__":
    import sys
    _child_main(sys.argv[1])
