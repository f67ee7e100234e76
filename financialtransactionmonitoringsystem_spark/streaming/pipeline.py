"""Structured Streaming pipelines: the reference's ingest/monitoring path
(O1, ``monitoring-service/src/main.rs:79-89``) restated as incremental
dataflow (SURVEY.md §3 E2).

Design (holds at 100 TB / 1000 executors):
* Source: file stream here (driver testdata); swap ``readStream.format``
  for ``kafka`` in production -- every transformation below is
  source-agnostic.
* Event time + watermark bound all state: windowed aggs and streaming
  dedup drop state older than the watermark, so state size is
  O(keys x windows in the watermark horizon), not O(stream length) --
  unlike the reference, which grows a process-local Vec forever
  (``main.rs:25``) and loses it on restart (checkpointing replaces that).
* ``foreachBatch`` compaction keeps a small serving table for point
  lookups: the reference's O(n)-scan-per-request GET becomes a keyed
  parquet table refreshed per micro-batch.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import apply_runtime_confs
from ..tables import _normalize_events_ts, read_engine_table, read_parquet
from ..util import rnd

# State-store provider for stateful streaming at scale (VERDICT r5 #8):
# the default HDFSBackedStateStoreProvider holds EVERY live state key in
# executor heap -- watermarks bound the key count in time but a hot hour
# over 10^9 users still has to fit in memory.  RocksDB spills state to
# executor-local disk with an in-memory working set, bounding heap by
# block cache size instead of key cardinality; its changelog
# checkpointing keeps commit cost proportional to the delta.  The conf
# is per-query-start, so one session can run both providers.
STATE_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_STATE_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                          "RocksDBStateStoreProvider")


@contextmanager
def state_store_provider(spark: SparkSession,
                         provider: str = ROCKSDB_STATE_PROVIDER):
    """Scoped state-store provider switch: queries STARTED inside the
    block use ``provider``; the previous provider is restored on exit
    (already-running queries keep the provider they started with)."""
    old = spark.conf.get(STATE_PROVIDER_CONF)
    spark.conf.set(STATE_PROVIDER_CONF, provider)
    try:
        yield
    finally:
        spark.conf.set(STATE_PROVIDER_CONF, old)


def _stage_symlink(stage: str, name: str, target: str) -> None:
    """Ensure ``stage/name`` is a symlink to ``target``, healing ONLY a
    dangling link (lexists-true, exists-false -- the leftover of a
    deleted/regenerated sf_dir, which made the old exists()-guarded
    os.symlink raise FileExistsError; ADVICE r11).  A VALID existing
    link is left untouched: unconditionally unlink-and-recreate would
    open a window where a concurrently draining stream sees the staged
    file vanish (review finding, r12).

    The create itself is race-tolerant (ADVICE r12): two sessions
    staging the same sf_dir can both pass the lexists pre-check, so the
    loser's ``os.symlink`` EEXIST is caught and the link re-validated
    instead of propagated -- whoever won created the same target, which
    is the success condition.  A surviving mismatch (someone staged a
    DIFFERENT target under our name) still raises loudly."""
    import os

    link = os.path.join(stage, name)
    if os.path.lexists(link) and not os.path.exists(link):
        try:
            os.unlink(link)
        except FileNotFoundError:
            pass  # concurrent healer got there first
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            pass  # concurrent stager won the race; validate below
    if os.path.realpath(link) != os.path.realpath(target):
        raise FileExistsError(
            f"{link} exists but points at {os.path.realpath(link)!r}, "
            f"not {target!r}")


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as an unbounded stream (file source stand-in for
    Kafka).  Same ts normalization as the batch loader.

    The file stream source wants a *directory* to poll; the testdata
    table is a single file, so it is staged into a scratch directory via
    symlink.  A production deployment points this at a landing directory
    or swaps the source for Kafka -- everything downstream is unchanged.
    """
    import os
    import tempfile

    apply_runtime_confs(spark)
    stage = os.path.join(tempfile.gettempdir(),
                         "fintxmon_stream_" + sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stage, exist_ok=True)
    _stage_symlink(stage, "events.parquet", f"{sf_dir}/events.parquet")
    # The file stream source needs an upfront schema; probe the parquet
    # footer via a batch read (driver-side metadata only, no data scan) so
    # the stream matches whichever physical ts form the testdata has.
    file_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream
        .schema(file_schema)
        .parquet(stage)
    )
    return _normalize_events_ts(raw)


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of ``batch_twins.q_stream_tumbling``: late rows
    beyond the watermark are dropped (append-only, no updates -- the
    reference's own semantics)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), rnd(F.sum("value")).alias("total"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "total")
    )


def sliding_spend(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), rnd(F.sum("value")).alias("total"))
        .select(F.col("w.start").alias("ws"), "n", "total")
    )


def session_per_user(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), rnd(F.sum("value")).alias("total"))
        .select(F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "user_id", "n_events", "total")
    )


def dedup_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming dedup on the event key within the watermark horizon --
    the ingest invariant the reference lacks (duplicate ids are appended
    unconditionally, ``main.rs:82-84``), with bounded state."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def dedup_submissions(events: DataFrame,
                      watermark: str = "10 minutes") -> DataFrame:
    """Keyed streaming dedup: collapse duplicate submissions (same user,
    same event type, same hour) to the first arrival, with
    watermark-bounded state -- the retry-storm collapse
    ``dedup_stream`` (exact id dedup) cannot express.  Exactly-once per
    key within the horizon; state is O(live keys) and expires with the
    watermark.  ``batch_twins.q_stream_dedup`` is the batch ground
    truth (first by (ts, event_id)); the two agree when the source is
    in-order per key.

    Horizon contract (pinned by
    test_stream_dedup_reemits_after_state_expiry): a same-key row
    arriving after the watermark passes first_ts + delay AND a later
    batch commits (eviction runs in the commit phase) is emitted
    AGAIN -- the delay is a correctness knob at scale, sized to the
    producer's retry horizon, not just a state-size bound."""
    return (
        events.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour"])
    )


def threshold_alerts(events: DataFrame, threshold: float = 180.0) -> DataFrame:
    """Stateless high-value alert (amount > threshold fraud rule)."""
    return events.filter(F.col("value") > threshold).select(
        "event_id", "user_id", "ts", "value",
        F.lit("HIGH_VALUE").alias("alert"))


def velocity_alerts(events: DataFrame, watermark: str = "10 minutes",
                    max_per_hour: int = 3) -> DataFrame:
    """Stateful velocity rule: more than N events per user per hour."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= max_per_hour)
        .select(F.col("w.start").alias("ws"), "user_id", "n",
                F.lit("VELOCITY").alias("alert"))
    )


def distinct_users(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Hourly active-user sketch: ``approx_count_distinct`` keeps one
    HLL register set per window in the state store (mergeable across
    micro-batches, fixed size per window) -- exact distinct in a stream
    would need unbounded per-window key state.  Twin:
    ``batch_twins.q_stream_distinct`` (exact; the sketch must land within
    HLL error of it)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id").alias("n_users"),
             F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("ws"), "n_users", "n_events")
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as an unbounded stream (file source stand-in
    for the crawl landing bucket) -- the ingest side of streaming
    novelty scoring.  Same staging trick as :func:`stream_events`."""
    import os
    import tempfile

    apply_runtime_confs(spark)
    stage = os.path.join(
        tempfile.gettempdir(),
        "fintxmon_docstream_" + sf_dir.strip("/").replace("/", "_"))
    os.makedirs(stage, exist_ok=True)
    _stage_symlink(stage, "documents.parquet", f"{sf_dir}/documents.parquet")
    schema = read_parquet(spark, f"{sf_dir}/documents.parquet").schema
    return (spark.readStream
            .schema(schema)
            .parquet(stage))


def novelty_scorer(ref_docs: DataFrame):
    """Build-once streaming novelty scorer: returns ``score(batch_df)``
    scoring any (micro-)batch of candidate docs for word-5-gram novelty
    against a FIXED reference corpus (the "already trained on" set) --
    the per-snapshot curation signal a crawl-ingest pipeline attaches
    before a doc ever reaches the training mix.  Batch ground truth:
    ``text.q_text_novelty`` (same fps / bloom / exact-join pieces).

    The whole point vs calling the batch operator per micro-batch is
    WHERE the reference cost is paid -- ONCE here, not per batch:

    * the reference gram table materializes through the corpus-table
      policy (one reference scan; per-batch exact joins re-read the
      checkpointed gram parquet, never the reference corpus);
    * the adaptive dense-array bloom (<= 16 MB by the sizing cap,
      text.NOVELTY_BLOOM_MAX_BITS) is computed once and COLLECTED, then
      re-injected as a driver-local one-row table -- each micro-batch's
      probe plan reads the bloom from a local ``Scan ExistingRDD``,
      zero reference work (pinned by
      test_novelty_scorer_pays_zero_reference_work_per_batch).

    State: NONE -- a doc's grams never span batches (the text column
    arrives whole), so scoring is stateless per micro-batch; no
    watermark, no state store, restart-safe via the sink checkpoint.
    """
    from ..operators import text

    spark = ref_docs.sparkSession
    ref = text._novelty_ref_grams(ref_docs)
    bits = text._novelty_bloom_bits(ref.count())
    packed = text._novelty_bloom_table(spark, ref, bits).collect()[0][0]
    bloom = spark.createDataFrame([(packed,)], "bloom array<bigint>")

    def score(batch: DataFrame) -> DataFrame:
        return text._novelty_probe(batch, ref, bloom, bits)

    return score


# Hard cap on the benchmark pairs a decontam scorer may pull driver-side
# at construction: ~5M (bench_id, gram) pairs = two longs + row overhead,
# well under 200 MB on the driver.  Real benchmark suites are thousands
# of docs (tens of thousands of distinct grams); anything past this cap
# is a corpus masquerading as a benchmark and belongs on the distributed
# batch path.
DECONTAM_SCORER_MAX_PAIRS = 5_000_000


def decontam_scorer(bench_docs: DataFrame):
    """Build-once streaming decontamination scorer: returns
    ``score(batch_df)`` flagging any (micro-)batch of incoming training
    docs that share a word 5-gram with a FIXED benchmark suite -- the
    ingest-time contamination gate.  Batch ground truth:
    ``text.q_text_decontam`` (the broadcast-semi core; the stream-vs-
    batch equality test pins the two gram derivations in lockstep).

    A benchmark suite is fixed-size by the operator's own scale premise
    (it does not grow with the corpus), so here it goes one step
    further than the batch plan: the distinct (bench_id, gram
    fingerprint) pairs are COLLECTED once at scorer construction and
    re-injected as a driver-local table -- each micro-batch's plan
    scans ONLY the batch (one FileScan, plan-pinned); the benchmark
    corpus is never re-read.  The semi-filter against the broadcast
    gram set still evaluates map-side in the batch scan's stage, so the
    per-batch shuffle is contamination-sized exactly as in the batch
    operator.

    State: NONE -- per-doc hit counts never span batches (the text
    column arrives whole), so scoring is stateless per micro-batch.

    The driver-local premise is GUARDED, not assumed: the collect is
    capped at :data:`DECONTAM_SCORER_MAX_PAIRS` distinct
    (bench_id, gram) pairs (collected via ``limit(cap + 1)``, so the
    driver never materializes more than the cap either way) and raises
    a loud ``ValueError`` naming the distributed batch operator as the
    fallback -- the novelty bloom's 16 MB sizing-cap convention
    (text.NOVELTY_BLOOM_MAX_BITS), mirrored here (VERDICT r11 #4 /
    ADVICE r11).
    """
    from ..operators import text

    spark = bench_docs.sparkSession
    # One fps definition for the whole decontam family (r17 lockstep
    # swap): the scorer derives grams exactly as the batch operator
    # does, and the stream-vs-batch equality test pins the two.
    fps = text._decontam_fps()
    rows = (bench_docs.select(F.col("doc_id").alias("bench_id"),
                              F.explode(fps).alias("gram"))
            .distinct().limit(DECONTAM_SCORER_MAX_PAIRS + 1).collect())
    if len(rows) > DECONTAM_SCORER_MAX_PAIRS:
        raise ValueError(
            "decontam_scorer: benchmark suite expands to more than "
            f"{DECONTAM_SCORER_MAX_PAIRS:,} distinct (bench_id, gram) "
            "pairs, so the build-once driver-local premise (a FIXED, "
            "corpus-independent benchmark) no longer holds. Score with "
            "the distributed batch operator text.q_text_decontam "
            "instead, or raise DECONTAM_SCORER_MAX_PAIRS deliberately.")
    bench = spark.createDataFrame(rows, "bench_id long, gram long")
    bench_gram_set = bench.select("gram").distinct()

    def score(batch: DataFrame) -> DataFrame:
        grams = batch.select("doc_id", F.explode(fps).alias("gram"))
        train = (grams.join(F.broadcast(bench_gram_set), "gram", "left_semi")
                 .distinct())
        return (
            train.join(F.broadcast(bench), "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 F.countDistinct("bench_id").alias("n_bench_docs"))
        )

    return score


def _gate_rejects(index_pref: DataFrame, index_toks: DataFrame,
                 batch_toks: DataFrame) -> DataFrame:
    """The shared lossless-gate core (review finding, r12 -- one copy,
    not three): candidate pairs from an equi-join of ALL batch tokens
    against an index prefix table on (lang, tok) with the exact integer
    length filter, exact-verified in LOCKSTEP with
    ``dedup._verify_jaccard`` (same ``_jaccard_accepts`` integer
    acceptance of the rounded threshold, r17) across the two token
    tables.  Returns the rejected batch doc_ids.  Lossless by the
    single-sided prefix principle -- see ``neardup_gate_scorer``."""
    from ..operators import dedup

    p, q = dedup.PRUNE_NUM, dedup.PRUNE_DEN
    probe = batch_toks.select("doc_id", "lang", "n_toks",
                              F.explode("toks").alias("tok"))
    a, b = index_pref.alias("a"), probe.alias("b")
    na, nb = F.col("a.n_toks").cast("long"), F.col("b.n_toks").cast("long")
    cands = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.lang") == F.col("b.lang"))
               # exact integer length filter: t*nb <= na and t*na <= nb
               & (q * na >= p * nb) & (q * nb >= p * na))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ta, tb = index_toks.alias("ta"), batch_toks.alias("tb")
    # LOCKSTEP with dedup._verify_jaccard (r17): the same exact integer
    # acceptance (_jaccard_accepts, one array_intersect per probed
    # pair) decides membership; the gate never needs the jaccard VALUE,
    # so no second intersection is ever computed here.
    return (
        cands.join(ta, cands.doc_a == F.col("ta.doc_id"))
        .join(tb, (cands.doc_b == F.col("tb.doc_id"))
              & dedup._jaccard_accepts(
                  F.col("ta.toks"), F.col("tb.toks"),
                  F.col("ta.n_toks").cast("long"),
                  F.col("tb.n_toks").cast("long")))
        .select(F.col("doc_b").alias("doc_id")).distinct()
    )


def neardup_gate_scorer(corpus_docs: DataFrame):
    """Build-once streaming near-dup INGEST GATE: returns
    ``score(batch_df)`` admitting exactly the batch docs with no
    token-set-Jaccard >= t near-duplicate in a FIXED corpus -- the
    streaming form of the daily-ingest operator, completing the
    build-once scorer family (novelty = "have we trained on these
    grams", decontam = "is this a benchmark leak", near-dup gate = "is
    this document already in the corpus").  Batch ground truth:
    ``dedup.q_dedup_incremental`` (stream-vs-batch equality pinned).

    Construction pays the corpus cost ONCE (the novelty/decontam
    convention): the corpus token-set table and its rarest-first prefix
    index materialize through ``dedup._scoped_build`` -- at 100 TB these
    are the persisted ``build_token_table`` / prefix-index artifacts,
    corpus-pass work that belongs to the corpus snapshot, not to any
    micro-batch.

    Per batch: tokenize the batch (narrow JVM map), probe ALL batch
    tokens against the corpus PREFIX index on (lang, tok) with the
    exact integer length filter, then exact-verify survivors against
    the two token tables and anti-join the rejects.  Probing with the
    batch's full token sets (no batch-side prefix) is deliberate and
    LOSSLESS by the single-sided prefix principle: Jaccard(A,B) >= t
    implies |A∩B| >= t*|A|, and the index keeps the
    ``n - ceil(t*n) + 1`` rarest tokens of each corpus doc A, so a
    qualifying overlap cannot hide entirely in A's suffix -- no shared
    canonical token order with the (unseen-at-build-time) batch is
    needed, which is exactly what a streaming probe requires.  The
    batch operator's two-sided positional residual assumes one global
    frequency order over corpus+delta and so does not stream; both
    plans exact-verify, so their admitted rows are identical.

    Per-batch cost is index-probe + verify sized: one batch FileScan,
    the checkpointed prefix/token tables arriving as local block reads
    (``Scan ExistingRDD`` -- plan-pinned), ZERO corpus-text re-reads.
    Admission is corpus-gated only (within-batch duplicates are left to
    the next compaction, same contract as the batch operator), so the
    gate is associative across micro-batches and across concurrent
    ingest streams.  State: NONE; restart-safe via the sink checkpoint
    exactly like the other scorers.
    """
    from ..operators import dedup

    corpus_toks = dedup._scoped_build(
        dedup._tok_sets(corpus_docs).select("doc_id", "lang", "toks", "n_toks"))
    corpus_pref = dedup._scoped_build(dedup._prefix_table(corpus_toks))

    def score(batch: DataFrame) -> DataFrame:
        rejected = _gate_rejects(corpus_pref, corpus_toks,
                                 dedup._tok_sets(batch))
        return (batch.join(rejected, "doc_id", "left_anti")
                .select("doc_id", "lang", "source", "n_chars"))

    return score


def embed_gate_scorer(corpus_vecs: DataFrame):
    """Build-once streaming ingest gate for the EMBEDDING modality:
    ``score(batch_df)`` admits exactly the batch vectors with no
    same-label corpus vector at cosine >= 0.35 -- the fourth member of
    the scorer family (text novelty / benchmark decontam / text
    near-dup / vector near-dup).  Batch ground truth:
    ``dedup.embed_gate_twin`` (equality-pinned).

    Construction pays the corpus cost once: the corpus vectors persist
    with PRECOMPUTED L2 norms through ``_scoped_build`` (norm_fold
    hoisting -- the per-pair cosine is then one fold, not three).  Per
    batch: norm the batch (narrow JVM map) and block-join on ``label``
    against the checkpointed corpus -- q_dedup_embed's scale shape, the
    block key is the shuffle key and the batch side is ingest-sized.
    For label blocks too hot to brute-force, the ANN path is the
    persisted IVF index (``similarity.build_ivf_index``): probe nprobe
    cells instead of the block; exactness trades to its recall
    envelope.  State: NONE; stateless per micro-batch, restart-safe via
    the sink checkpoint like the other scorers.
    """
    from ..operators import dedup

    corpus = dedup._scoped_build(
        corpus_vecs
        .withColumn("nrm", dedup.norm_fold(F.col("embedding")))
        .select("vec_id", "label", "embedding", "nrm"))

    def score(batch: DataFrame) -> DataFrame:
        bt = batch.withColumn("nrm", dedup.norm_fold(F.col("embedding")))
        a, b = corpus.alias("a"), bt.alias("b")
        cos = dedup.dot_fold(F.col("a.embedding"), F.col("b.embedding")) \
            / (F.col("a.nrm") * F.col("b.nrm"))
        rejected = (
            a.join(b, F.col("a.label") == F.col("b.label"))
            .filter(rnd(cos, 6) >= dedup.EMBED_NEARDUP_THRESHOLD)
            .select(F.col("b.vec_id").alias("vec_id")).distinct()
        )
        return (batch.join(rejected, "vec_id", "left_anti")
                .select("vec_id", "label"))

    return score


# Probe-table rows (micro-batch vectors x nprobe) above which the IVF
# gate's forced probes-side broadcast refuses to build: at ~0.5-1 KB per
# row (the embedding array dominates) the cap keeps the broadcast under
# ~100 MB, far inside executor budgets while 100x the gate's designed
# ingest-batch sizes.
EMBED_GATE_IVF_MAX_PROBE_ROWS = 100_000


def embed_gate_scorer_ivf(corpus_cells: DataFrame, centers: DataFrame,
                          nprobe: int | None = None):
    """ANN form of :func:`embed_gate_scorer` for label blocks too hot
    to brute-force: candidates come from the batch vector's ``nprobe``
    nearest IVF cells instead of its whole label block.

    ``corpus_cells`` is the persisted inverted file -- e.g.
    ``similarity.ivf_index(...)[0]`` filtered to the corpus side --
    (vec_id, label, embedding, cell), partitioned on disk BY CELL so a
    probe is a partition-pruned join touching nprobe/nlist of the
    corpus; ``centers`` is the tiny nlist-row centroid table
    (broadcast).  The cosine filter on probed candidates is EXACT, so
    precision is 1.0 (every rejection is a true near-dup -- pinned);
    recall trades to the probe width: a corpus near-dup outside the
    probed cells is missed and its batch vector falsely admitted.  An
    EXACT-duplicate corpus vector is always caught at any nprobe >= 1:
    it has the batch vector's distances to every centroid, so its cell
    IS the probe's top cell (pinned with planted cells).  State: NONE;
    build-once (the index is the persisted artifact; no KMeans in the
    score path).

    The probes-side broadcast is GUARDED, not assumed (ADVICE r12: a
    forced broadcast of a table that grows with an unbounded input is
    this repo's twice-repeated defect class): micro-batch size is set
    by source config, not by this gate, so a batch whose probe table
    (batch rows x nprobe) exceeds
    :data:`EMBED_GATE_IVF_MAX_PROBE_ROWS` raises a loud ``ValueError``
    naming the fix (bound the trigger, or use the exact block gate)
    instead of silently building an executor-crushing broadcast.  The
    broadcast itself is load-bearing at scale -- it is what lets
    dynamic partition pruning restrict the corpus scan to the probed
    cells -- so "drop the hint" would trade a bounded-memory risk for
    an every-batch full-corpus scan."""
    from ..operators import dedup, similarity

    # default to the index's sanctioned probe width so this gate and
    # q_sim_ivf share one recall envelope (review finding, r12)
    if nprobe is None:
        nprobe = similarity.IVF_NPROBE

    corpus = corpus_cells.withColumn(
        "nrm", dedup.norm_fold(F.col("embedding")))

    def score(batch: DataFrame) -> DataFrame:
        rejected = _ivf_probe_rejects(corpus, batch, centers, nprobe,
                                      "embed_gate_scorer_ivf")
        return (batch.join(rejected, "vec_id", "left_anti")
                .select("vec_id", "label"))

    return score


def _ivf_cell_rank(centers: DataFrame, batch_normed: DataFrame,
                   nprobe: int) -> DataFrame:
    """Each batch vector's ``nprobe`` nearest IVF cells under
    ``centers``: (vec_id, label, embedding, nrm, cell) -- one row per
    probe.  Shared by the static and evolving IVF gates and by the
    evolving gate's admission-assignment step (nprobe=1), so cell
    RANKING can never drift between probing and assignment (an
    assignment that ranked differently from the probe would break the
    exact-duplicate-always-caught guarantee)."""
    d2 = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"),
                   F.col("center"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, v: acc + v)
    wq = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("cell").asc())
    return (
        batch_normed.crossJoin(F.broadcast(centers))
        .select("vec_id", "label", "embedding", "nrm", "cell",
                d2.alias("d2"))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("vec_id", "label", "embedding", "nrm", "cell")
    )


def _ivf_probe_rejects(corpus_normed: DataFrame, batch: DataFrame,
                       centers: DataFrame, nprobe: int,
                       who: str) -> DataFrame:
    """Rejected batch vec_ids under the IVF probe discipline: rank the
    batch's nprobe nearest cells, broadcast-join the (cell, label)
    candidates, EXACT cosine filter.  The probe guard and the
    broadcast rationale live in :func:`embed_gate_scorer_ivf`'s
    docstring; both IVF gates route here."""
    from ..operators import dedup

    n_batch = batch.count()
    if n_batch * nprobe > EMBED_GATE_IVF_MAX_PROBE_ROWS:
        raise ValueError(
            f"{who}: micro-batch of {n_batch:,} "
            f"vectors x nprobe={nprobe} expands to more probe rows "
            f"than EMBED_GATE_IVF_MAX_PROBE_ROWS="
            f"{EMBED_GATE_IVF_MAX_PROBE_ROWS:,}, so the forced "
            "probes-side broadcast is no longer safe. Bound the "
            "micro-batch at the source (maxFilesPerTrigger / "
            "maxOffsetsPerTrigger), score with the exact block gate "
            "embed_gate_scorer, or raise the cap deliberately.")
    bt = batch.withColumn("nrm", dedup.norm_fold(F.col("embedding")))
    probes = _ivf_cell_rank(centers, bt, nprobe)
    a, b = corpus_normed.alias("a"), probes.alias("b")
    cos = dedup.dot_fold(F.col("a.embedding"), F.col("b.embedding")) \
        / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(F.broadcast(b), (F.col("a.cell") == F.col("b.cell"))
               & (F.col("a.label") == F.col("b.label")))
        .filter(rnd(cos, 6) >= dedup.EMBED_NEARDUP_THRESHOLD)
        .select(F.col("b.vec_id").alias("vec_id")).distinct()
    )


# First-stage-wins rejection attribution order of the composed ingest
# pipeline.  The order is a COST argument, not taste: quality is a pure
# codegen projection over the batch alone (no index, no shuffle),
# decontam is a map-side broadcast-semi against the driver-local
# benchmark gram set, and the near-dup gate is the only stage that
# joins a corpus-sized index -- so each document pays the expensive
# probe only after the two cheap stages failed to reject it.  At 100 TB
# the stages are also ordered by where their build cost lives: quality
# has none, decontam's is benchmark-sized, the gate's is the persisted
# corpus index.
INGEST_STAGES = ("quality", "decontam", "neardup")


def ingest_pipeline(corpus_docs: DataFrame, bench_docs: DataFrame):
    """The COMPOSED streaming ingest pipeline: one build-once
    ``score(batch)`` chaining the scorer family the way a production
    training-data ingest runs it -- quality filter, then benchmark
    decontamination, then corpus near-dup gate, then a novelty score
    attached to the survivors (a signal, not a gate).  Returns one row
    PER BATCH DOC with full first-stage-wins attribution:
    ``(doc_id, lang, source, n_chars, reject_stage, n_grams, n_novel,
    novelty)`` -- ``reject_stage`` NULL means admitted (and only
    admitted rows carry novelty columns).  Every doc appears exactly
    once; the stage partition is conserved (pinned by test), so
    downstream mix/budget accounting can trust
    ``admitted + sum(rejects by stage) == batch``.

    Composition semantics: each stage sees only the previous stage's
    survivors (short-circuit -- a quality-rejected doc never pays the
    gram explode or the index probe), and attribution is
    first-stage-wins in :data:`INGEST_STAGES` order.  Verdicts are
    batch-size-invariant because every stage is corpus/benchmark-gated
    only (never batch-vs-batch) -- the same associativity contract as
    :func:`neardup_gate_scorer`, so the composed pipeline's admitted
    set over any micro-batching of a doc set equals the single-batch
    run (stream==batch pinned by test).

    Build cost is paid ONCE, here, by construction delegation: the
    decontam gram set collects driver-side (guarded), the near-dup
    corpus index materializes through ``_scoped_build``, and the
    novelty bloom packs once -- per batch, the corpus is never
    re-read (each stage's own zero-corpus-work plan pin covers the
    composition, which only adds joins among batch-sized frames).

    Reject criteria are exactly the member scorers': quality =
    ``NOT keep`` under ``text._quality_metrics`` (one shared
    expression copy), decontam = >= 1 shared benchmark 5-gram
    (any row from :func:`decontam_scorer`), near-dup = rejected by
    :func:`neardup_gate_scorer`'s lossless prefix-probe gate.
    """
    dec = decontam_scorer(bench_docs)
    gate = neardup_gate_scorer(corpus_docs)
    nov = novelty_scorer(corpus_docs)

    def score(batch: DataFrame) -> DataFrame:
        return _composed_score(dec, nov, batch,
                               lambda d_pass: gate(d_pass).select("doc_id"))

    return score


def _composed_score(dec, nov, batch: DataFrame, gate_admitted) -> DataFrame:
    """The shared composition core behind :func:`ingest_pipeline` and
    :func:`ingest_pipeline_evolving` (one copy -- the ``_gate_rejects``
    convention): quality -> decontam -> ``gate_admitted(d_pass)`` ->
    novelty attach, with first-stage-wins attribution.  The gate is
    injected as "survivors in, admitted doc_ids out" so the static and
    evolving near-dup stages compose identically -- and so only
    SURVIVORS of the cheap stages ever reach the gate, which for the
    evolving form also means only they can enter the growing state.

    NULL handling (review finding): a NULL ``text`` makes the quality
    ``keep`` expression NULL, and both ``filter(k)`` and
    ``filter(~k)`` drop a NULL -- the doc would silently vanish from
    verdicts AND metrics, breaking the conservation contract.  The
    fail branch therefore coalesces NULL to "not kept": an unscorable
    doc attributes to the quality stage (pinned by a planted NULL-text
    test).  The corpus-contract pins cover the GENERATED corpora only;
    a stream batch is arbitrary input.

    The contaminated and admitted id sets each feed a semi/anti join
    PAIR; left lazy, Catalyst re-derives the decontam gram join and
    the (expensive) gate probe+verify once per consumer, so both are
    materialized through ``_scoped_build`` -- the id tables are
    batch-bounded and tiny, and the probe then runs once per batch
    (the evolving gate already checkpoints its admitted set
    internally for state-consistency reasons; this makes the static
    form match)."""
    from ..operators import dedup, text

    out_meta = ("doc_id", "lang", "source", "n_chars")

    def _meta(df: DataFrame, stage: str | None) -> DataFrame:
        tag = F.lit(stage).cast("string")
        return df.select(*out_meta, tag.alias("reject_stage"))

    q_stage, d_stage, n_stage = INGEST_STAGES
    # Filter on the quality expression directly rather than staging it
    # through a temp column: a withColumn("__keep", ...) would CORRUPT a
    # caller batch that already carries a __keep column (replaced, then
    # dropped -- ADVICE r13), and the two filter branches fork the plan
    # anyway, so staging bought no sharing.
    keep = text._quality_metrics()[2]
    q_pass = batch.filter(keep)
    q_fail = batch.filter(~F.coalesce(keep, F.lit(False)))
    contaminated = dedup._scoped_build(dec(q_pass).select("doc_id"))
    d_pass = q_pass.join(contaminated, "doc_id", "left_anti")
    d_fail = q_pass.join(contaminated, "doc_id", "left_semi")
    admitted_ids = dedup._scoped_build(gate_admitted(d_pass))
    n_pass = d_pass.join(admitted_ids, "doc_id", "left_semi")
    n_fail = d_pass.join(admitted_ids, "doc_id", "left_anti")
    admitted = _meta(n_pass, None).join(nov(n_pass), "doc_id", "left")
    rejected = (_meta(q_fail, q_stage)
                .unionByName(_meta(d_fail, d_stage))
                .unionByName(_meta(n_fail, n_stage)))
    return admitted.unionByName(rejected, allowMissingColumns=True)


def ingest_pipeline_evolving(corpus_docs: DataFrame, bench_docs: DataFrame,
                             state_dir: str):
    """The composed funnel with the EVOLVING near-dup stage -- the
    sequential crawl-ingest form of :func:`ingest_pipeline`: batch k's
    near-dup stage gates against corpus + every doc the FUNNEL admitted
    in batches < k (:func:`evolving_neardup_gate` state), so a
    near-duplicate of an earlier admission is rejected even though
    neither doc is in the seed corpus.  Returns
    ``score(batch_df, epoch_id)``; drive it with
    :func:`run_ingest_pipeline_evolving`.

    Only funnel SURVIVORS feed the gate, so only they can enter the
    growing state: a quality-rejected or contaminated doc never becomes
    a dedup anchor (its later near-dups are judged on their own merits
    -- pinned by test).  That is the semantics a production ingest
    wants: the evolving index is the index of ADMITTED data.

    Quality and decontam are per-doc and stateless, so the evolving
    form changes nothing about them; novelty stays scored against the
    FROZEN seed corpus (the "have we trained on this" question is about
    the trained-on snapshot, not about this stream's own admissions --
    the frozen-freq convention applied to the signal).

    Exactly-once composes across all three writes: gate state is
    epoch-keyed by the gate itself, verdicts and metrics are
    epoch-keyed by :func:`ingest_pipeline_sink`, and a replayed epoch
    reads only state with ``__epoch < epoch_id`` -- so a crash-replay
    rewrites its own state/output/metrics partitions without gating
    the batch against its earlier attempt."""
    dec = decontam_scorer(bench_docs)
    gate = evolving_neardup_gate(corpus_docs, state_dir)
    nov = novelty_scorer(corpus_docs)

    def score(batch: DataFrame, epoch_id: int) -> DataFrame:
        return _composed_score(
            dec, nov, batch,
            lambda d_pass: gate(d_pass, epoch_id).select("doc_id"))

    return score


def run_ingest_pipeline_evolving(docs_stream: DataFrame, score,
                                 out_dir: str, metrics_dir: str,
                                 ckpt_dir: str):
    """Drive an :func:`ingest_pipeline_evolving` scorer over a docs
    stream: per micro-batch, curry the epoch into the evolving score
    and reuse :func:`ingest_pipeline_sink` unchanged -- verdicts,
    funnel metrics, and gate state all land under the same epoch
    key."""
    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_pipeline_sink(lambda b: score(b, epoch_id),
                             out_dir, metrics_dir)(batch_df, epoch_id)

    return (docs_stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True).start())


def ingest_pipeline_sink(score, out_dir: str, metrics_dir: str):
    """foreachBatch sink for :func:`ingest_pipeline`: land the scored
    rows AND a per-stage metrics row set, both ``__epoch``-keyed with
    dynamic partition overwrite (the :func:`scoring_sink` exactly-once
    discipline, applied twice under one epoch key).

    The metrics are aggregated FROM THE LANDED PARTITION, not from a
    second evaluation of the score plan: after the data write commits,
    the sink reads back only ``__epoch=<id>`` (partition-pruned, a
    micro-batch-sized read) and writes
    ``(verdict, n_docs, n_chars, __epoch)`` where ``verdict`` is the
    reject stage or ``admitted``.  Deriving metrics from committed data
    means the two tables can never disagree, and the score DAG (two
    index joins + a verify) runs once per batch instead of twice.
    Crash anywhere between the two writes: the epoch replays and
    rewrites BOTH partitions -- idempotent together, exactly-once
    end to end.

    An EMPTY micro-batch (a source trigger can fire with no files)
    lands zero rows, and a dynamic partition overwrite of an empty
    frame writes no partition at all -- so the read-back goes through
    :func:`tables.read_engine_table`, which distinguishes "no table
    yet" from a real read error; no data landed means no metrics rows
    for the epoch, which is itself the correct (conserved) funnel."""
    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        (score(batch_df)
         .withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__epoch")
         .parquet(out_dir))
        landed = read_engine_table(spark, out_dir)
        if landed is None:
            return
        (landed.filter(F.col("__epoch") == int(epoch_id))
         .groupBy(F.coalesce("reject_stage", F.lit("admitted"))
                        .alias("verdict"))
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("n_chars").alias("n_chars"))
         .withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__epoch")
         .parquet(metrics_dir))

    return _sink


def run_ingest_pipeline(docs_stream: DataFrame, score, out_dir: str,
                        metrics_dir: str, ckpt_dir: str):
    """Drive a composed :func:`ingest_pipeline` scorer over a docs
    stream (availableNow catch-up mode, the :func:`run_scoring`
    convention), landing attributed verdicts in ``out_dir`` and
    per-epoch stage metrics in ``metrics_dir``.  Read back through
    :func:`read_scores` / :func:`read_ingest_metrics`."""
    return (docs_stream.writeStream
            .foreachBatch(ingest_pipeline_sink(score, out_dir, metrics_dir))
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True).start())


def read_ingest_metrics(spark: SparkSession, metrics_dir: str) -> DataFrame:
    """Per-epoch ingest funnel: (``__epoch``, verdict, n_docs, n_chars)
    -- the observability feed an ingest operator watches (reject-rate
    drift per stage is the canary for a poisoned crawl or a stale
    corpus index)."""
    return read_parquet(spark, metrics_dir)


# Absolute per-stage rate deviation from the trailing mean at or above
# which ingest_drift_report flags an epoch.  0.2 = a stage's share of the
# batch moved twenty points -- far past micro-batch sampling noise at
# designed batch sizes, small enough to catch a crawl-source flip
# (e.g. near-dup rate doubling when a crawler re-enters a seen site).
INGEST_DRIFT_THRESHOLD = 0.2


def ingest_drift_report(spark: SparkSession, metrics_dir: str,
                        trailing: int = 5) -> DataFrame:
    """The canary :func:`read_ingest_metrics` promises, as a query:
    per (epoch, verdict), the stage's share of its epoch's docs, the
    trailing-``trailing``-epoch mean share (current epoch EXCLUDED --
    a drifted epoch must not mask itself), the deviation, and a
    ``drifted`` flag.  Epochs with no trailing history (the first)
    report deviation 0.

    ``drifted`` fires on |deviation| >= :data:`INGEST_DRIFT_THRESHOLD`
    OR on a stage VANISHING (rate 0 against a nonzero trailing mean) --
    the second clause is load-bearing, not redundant (review finding):
    a stage whose steady share is at or below the threshold (decontam
    at 20%, say) vanishes with |deviation| <= threshold, so a
    threshold-only flag would miss exactly the
    accidentally-emptied-benchmark failure this canary exists to
    catch.  Both the flag and the reported ``deviation`` column are
    computed from the SAME 6-dp-rounded value, so re-deriving the flag
    from the returned frame always agrees with it.

    Scale: the metrics table is O(epochs x stages) rows -- tiny by
    construction (the funnel already aggregated each epoch to <= 4
    rows), so the window sort here is over bookkeeping data, never
    corpus data; missing (epoch, verdict) combinations are dense-filled
    with rate 0 so a vanished stage appears in the report at all.

    Epoch gaps collapse (ADVICE r13): the trailing window is
    row-offset based over epochs PRESENT in the metrics table, and an
    epoch that landed zero metrics rows (an empty micro-batch writes
    nothing) is absent from it entirely -- so "trailing 5 epochs" means
    the 5 most recent epochs THAT PROCESSED DOCS, which can span a
    wider epoch-id range than 5.  That is the intended semantics: an
    empty batch carries no share signal to average (densifying it in
    would inject fabricated 0-rates and false vanish flags), but an
    operator reading the report should know gaps are skipped, not
    zero-filled."""
    m = read_ingest_metrics(spark, metrics_dir)
    totals = m.groupBy("__epoch").agg(F.sum("n_docs").alias("n_total"))
    # dense (epoch x verdict) grid so absent stages read as rate 0
    grid = totals.select("__epoch", "n_total").crossJoin(
        m.select("verdict").distinct())
    rates = (grid.join(m, ["__epoch", "verdict"], "left")
             .select("__epoch", "verdict", "n_total",
                     (F.coalesce("n_docs", F.lit(0)) / F.col("n_total"))
                     .alias("rate")))
    w = (Window.partitionBy("verdict").orderBy("__epoch")
         .rowsBetween(-trailing, -1))
    trail = F.coalesce(F.avg("rate").over(w), F.col("rate"))
    dev6 = rnd(F.col("rate") - trail, 6)
    vanished = (F.col("rate") == 0) & (trail > 0)
    return (rates
            .withColumn("trailing_rate", rnd(trail, 6))
            .withColumn("deviation", dev6)
            .withColumn("drifted",
                        (F.abs(F.col("deviation"))
                         >= F.lit(INGEST_DRIFT_THRESHOLD)) | vanished)
            .select("__epoch", "verdict", "rate", "trailing_rate",
                    "deviation", "drifted"))


def evolving_neardup_gate(corpus_docs: DataFrame, state_dir: str):
    """Near-dup ingest gate whose state GROWS with admissions -- the
    sequential crawl-ingest shape :func:`neardup_gate_scorer` and the
    batch operator deliberately leave to "the next compaction": batch k
    is gated against corpus + every doc ADMITTED in batches < k, so a
    near-duplicate arriving two micro-batches after its original is
    rejected even though neither is in the seed corpus.  This
    implements the index-append step q_dedup_incremental's docstring
    promises ("admitted docs' prefixes append to the index
    afterwards").

    State layout (all maintenance through the Hadoop FS API in
    :mod:`..fsio`, so a non-local ``state_dir`` works -- ADVICE r12):

    * ``gen=<G>/{toks,pref,freq}`` -- the BASELINE generation: seed
      corpus plus everything folded in by past compactions, committed
      ATOMICALLY by creating ``gen=<G>/_COMMITTED`` (readers use the
      highest committed generation; an uncommitted directory is a
      crashed compaction's debris, invisible until overwritten).
    * ``toks/__epoch=<k>`` / ``pref/__epoch=<k>`` -- each micro-batch's
      admissions appended under their own epoch via DYNAMIC partition
      overwrite, so a foreachBatch crash-replay rewrites its epoch's
      state partition instead of double-appending: state AND output are
      exactly-once together (the :func:`scoring_sink` idempotence
      argument applied to both writes).

    At 100 TB this is precisely the persisted prefix-index artifact
    with per-ingest appended files; per-batch reads are index-sized,
    the corpus text is scanned once at construction, never again.

    New docs' prefixes are computed under the FROZEN seed-corpus token
    frequency (persisted at construction): rarest-first ordering is a
    SELECTIVITY optimization only -- the single-sided prefix principle
    needs just the prefix LENGTH ``n - ceil(t*n) + 1``, so any fixed
    per-doc token choice stays lossless, and frozen frequencies keep a
    doc's index entry immutable once written (re-ranking under evolving
    frequencies would require rewriting history).  Unseen tokens rank
    as frequency 0 = rarest = maximally selective.

    Within a batch, docs are NOT gated against each other (corpus +
    prior admissions only, the batch operator's semantics per batch) --
    order inside a micro-batch therefore cannot change a verdict; order
    ACROSS batches is the operator's point.

    Returns ``score(batch_df, epoch_id) -> admitted DataFrame``; drive
    it with :func:`run_evolving_gate`.
    """
    from .. import fsio
    from ..operators import dedup

    spark = corpus_docs.sparkSession

    def _write_state(toks: DataFrame, pref: DataFrame, epoch: int) -> None:
        for name, df in (("toks", toks), ("pref", pref)):
            (df.withColumn("__epoch", F.lit(int(epoch)))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("__epoch")
             .parquet(os.path.join(state_dir, name)))

    # Construction seeds the state ONLY when none exists.  A corpus
    # IDENTITY marker distinguishes the two legal cases: no marker =
    # first construction (seed generation 0 + write marker LAST, so a
    # crash mid-seed re-seeds); marker matching = stream-restart
    # RESUME, where the existing state is authoritative and must NOT
    # be re-seeded -- after a compact_gate_state the current baseline
    # generation holds every prior admission, and re-seeding with
    # corpus-only state would silently destroy them (review finding,
    # r12).  A marker from a DIFFERENT corpus fails loudly: its state
    # would gate this stream against another stream's admissions.  The
    # fingerprint is content-sensitive (count + id/token sums + an
    # order-insensitive XOR over text hashes -- bit_xor cannot
    # overflow under ANSI the way a sum of xxhash64 values would), so
    # a same-shape regenerated corpus cannot impersonate the original.
    corpus_toks = dedup._tok_sets(corpus_docs).select(
        "doc_id", "lang", "toks", "n_toks")
    ident = corpus_docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("doc_id").alias("ids"),
        F.expr("bit_xor(xxhash64(text))").alias("xh")).first()
    fingerprint = f"n={ident.n} ids={ident.ids} xh={ident.xh}"
    marker = os.path.join(state_dir, "_CORPUS")
    if fsio.exists(spark, marker):
        prev = fsio.read_text(spark, marker).strip()
        if prev != fingerprint:
            raise ValueError(
                "evolving_neardup_gate: state_dir holds state seeded from "
                f"a DIFFERENT corpus ({prev!r} != {fingerprint!r}); its "
                "epoch partitions would silently gate this stream against "
                "another stream's admissions. Use a fresh state_dir (or "
                "delete this one) per (corpus, stream).")
    else:
        gen0 = _gen_path(state_dir, 0)
        _write_baseline(gen0, {"toks": corpus_toks,
                               "pref": dedup._prefix_table(corpus_toks),
                               "freq": _token_freq(corpus_toks)})
        fsio.create_marker(spark, os.path.join(gen0, "_COMMITTED"))
        fsio.write_text(spark, marker, fingerprint + "\n")

    def _state_table(name: str, gen: int, epoch_id: int) -> DataFrame:
        base = read_parquet(
            spark, os.path.join(_gen_path(state_dir, gen), name))
        appends = os.path.join(state_dir, name)
        # the appends table may not exist yet (no batch has written) or
        # may be an empty husk (compaction deleted every partition) --
        # either way there is nothing to union and the read would fail
        if not any(n.startswith("__epoch=")
                   for n in fsio.list_names(spark, appends)):
            return base
        # a replayed epoch must not gate the batch against its own
        # earlier attempt's admissions
        app = (read_parquet(spark, appends)
               .filter(F.col("__epoch") < int(epoch_id)).drop("__epoch"))
        return base.unionByName(app)

    def score(batch: DataFrame, epoch_id: int) -> DataFrame:
        gen = _current_gen(spark, state_dir)
        state_toks = _state_table("toks", gen, epoch_id)
        state_pref = _state_table("pref", gen, epoch_id)

        rejected = _gate_rejects(state_pref, state_toks,
                                 dedup._tok_sets(batch))
        admitted = (batch.join(rejected, "doc_id", "left_anti")
                    .select("doc_id", "text", "lang", "source", "n_chars"))
        # materialize the verdict ONCE (the state read below must not
        # race the state write; localCheckpoint pins the admitted set)
        admitted = dedup._scoped_build(admitted)
        adm_toks = dedup._tok_sets(admitted).select(
            "doc_id", "lang", "toks", "n_toks")
        frozen_freq = read_parquet(
            spark, os.path.join(_gen_path(state_dir, gen), "freq"))
        _write_state(adm_toks, dedup._prefix_table(adm_toks, frozen_freq),
                     epoch_id)
        return admitted.select("doc_id", "lang", "source", "n_chars")

    return score


def _gen_path(state_dir: str, gen: int) -> str:
    return os.path.join(state_dir, f"gen={gen}")


def _current_gen(spark, state_dir: str) -> int | None:
    """Highest COMMITTED baseline generation under ``state_dir`` (the
    one readers use), or None before the first seed.  A generation
    directory without its ``_COMMITTED`` marker is a crashed
    compaction's debris: ignored here, overwritten by the next
    compaction run."""
    from .. import fsio

    gens = []
    for name in fsio.list_names(spark, state_dir):
        if name.startswith("gen="):
            try:
                g = int(name[4:])
            except ValueError:
                continue
            if fsio.exists(spark, os.path.join(
                    _gen_path(state_dir, g), "_COMMITTED")):
                gens.append(g)
    return max(gens) if gens else None


def _write_baseline(gen_dir: str, tables: dict) -> None:
    """Write one baseline generation's data files (name -> DataFrame).
    The caller commits by creating ``_COMMITTED`` afterwards -- data
    writes and the commit point are deliberately separate steps.
    Shared by the text gate (toks/pref/freq) and the embedding gate
    (vecs) so the generation protocol cannot drift between them."""
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(gen_dir, name))


def _token_freq(toks: DataFrame) -> DataFrame:
    """Global token frequencies of a token-set table (the text gate's
    prefix-selectivity ranking input)."""
    return (toks.select(F.explode("toks").alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("gf")))


def compact_gate_state(spark: SparkSession, state_dir: str) -> None:
    """Offline compaction for :func:`evolving_neardup_gate` state: fold
    the current baseline generation plus every complete epoch partition
    into a NEW baseline generation (with freshly re-ranked prefixes and
    a refreshed token-frequency table), commit it atomically, then
    clean up the folded inputs.

    Why it exists at scale: each micro-batch appends one (usually
    small) partition to ``toks``/``pref`` -- after a few thousand
    epochs the per-batch state read degrades into the classic parquet
    small-files problem, and the seed-corpus frequencies drift ever
    further from the true token distribution (hurting prefix
    SELECTIVITY -- never correctness, the single-sided principle only
    needs prefix length).  Compaction rewrites history offline: one
    pass re-ranks every doc's prefix under the refreshed frequencies
    (allowed here precisely because the whole index is rewritten as one
    committed snapshot; the per-batch path must NOT re-rank, its
    entries are immutable).  Gate verdicts are invariant across a
    compaction -- pinned by test.

    Crash-safe by GENERATIONS (ADVICE r12: the previous in-place
    dynamic overwrite of the baseline partition was delete-then-move at
    job commit, so a crash mid-commit could lose the ONLY copy of the
    seed corpus + past admissions, and re-running folded the loss in
    permanently).  Now the current baseline is never mutated:

    1. Write the folded state to ``gen=<G+1>`` (a fresh directory; a
       crash here leaves uncommitted debris that readers ignore and the
       next run overwrites).
    2. COMMIT by creating ``gen=<G+1>/_COMMITTED`` -- an atomic
       create-if-absent; readers switch to the new baseline exactly
       when it appears.
    3. Clean up: delete the folded epoch partitions and all older
       generations.  A crash between 2 and 3 leaves redundant copies
       (epoch rows also present in the new baseline) -- harmless for
       verdicts (duplicate index rows feed the candidate ``distinct``,
       duplicate token rows the verify join) and healed by re-running:
       the fold dedupes on ``doc_id``.

    A TORN epoch (``toks`` written but its ``pref`` twin missing -- a
    batch crashed mid-score and will be replayed) is neither folded nor
    deleted: folding it into the baseline would gate the replay against
    its own earlier attempt.  The replay's dynamic partition overwrite
    rewrites it.

    Epoch numbering continues unchanged afterwards: the baseline lives
    outside the epoch keyspace, below any replayed or future epoch's
    ``__epoch < epoch_id`` state filter.  Run it between drains
    (availableNow catch-up windows), not concurrently with a live
    score() write."""
    from .. import fsio
    from ..operators import dedup

    cur = _current_gen(spark, state_dir)
    if cur is None:
        raise ValueError(
            "compact_gate_state: no committed baseline generation under "
            f"{state_dir!r} -- construct evolving_neardup_gate first.")

    def _epochs(name: str) -> set[int]:
        out = set()
        for n in fsio.list_names(spark, os.path.join(state_dir, name)):
            if n.startswith("__epoch="):
                out.add(int(n.split("=", 1)[1]))
        return out

    # fold exactly the COMPLETE epochs listed now; anything appearing
    # later (or torn) is left for the next run / the replay
    fold_ids = sorted(_epochs("toks") & _epochs("pref"))

    base_toks = read_parquet(
        spark, os.path.join(_gen_path(state_dir, cur), "toks"))
    if fold_ids:
        app = (read_parquet(spark, os.path.join(state_dir, "toks"))
               .filter(F.col("__epoch").isin(fold_ids)).drop("__epoch"))
        base_toks = base_toks.unionByName(app)
    # dropDuplicates heals the crash-between-commit-and-cleanup case:
    # rows present in both the baseline and a leftover epoch partition
    toks = dedup._scoped_build(base_toks.dropDuplicates(["doc_id"]))
    # _prefix_table re-ranks under frequencies computed from its input,
    # which equals the freq table _write_baseline derives from toks
    pref = dedup._scoped_build(dedup._prefix_table(toks))

    new_gen = _gen_path(state_dir, cur + 1)
    _write_baseline(new_gen, {"toks": toks, "pref": pref,
                              "freq": _token_freq(toks)})
    fsio.create_marker(spark, os.path.join(new_gen, "_COMMITTED"))

    for name in ("toks", "pref"):
        for e in fold_ids:
            fsio.delete(spark, os.path.join(
                state_dir, name, f"__epoch={e}"))
    for name in fsio.list_names(spark, state_dir):
        if name.startswith("gen=") and name[4:].isdigit() \
                and int(name[4:]) <= cur:
            fsio.delete(spark, os.path.join(state_dir, name))


def evolving_embed_gate(corpus_vecs: DataFrame, state_dir: str):
    """Embedding-modality twin of :func:`evolving_neardup_gate` --
    completes the {text, embedding} x {static, evolving} gate matrix:
    state GROWS with admissions, so a batch vector whose same-label
    near-dup (cos >= 0.35) was ADMITTED in an earlier micro-batch is
    rejected even though neither is in the seed corpus.  The static
    :func:`embed_gate_scorer`, by contract, admits it (contrast-pinned,
    the text pair's precedent).

    State layout is the text gate's generation protocol with ONE data
    table: ``gen=<G>/vecs`` (baseline: corpus + folded admissions, L2
    norms precomputed, committed by atomic ``_COMMITTED`` create) plus
    ``vecs/__epoch=<k>`` per-batch admission appends via dynamic
    partition overwrite -- state and output replay idempotently,
    exactly-once together.  All maintenance through :mod:`..fsio`.
    Within a batch, vectors are NOT gated against each other (corpus +
    prior admissions only); order across batches is the operator's
    point.  At 100 TB the per-batch read is index-sized (baseline +
    admitted vectors, never raw corpus text), the block key ``label``
    is the shuffle key, and the batch side is ingest-sized -- the
    :func:`embed_gate_scorer` shape with growing state.  For blocks
    too hot to brute-force the ANN path is the IVF probe
    (:func:`embed_gate_scorer_ivf`); evolving its inverted file is the
    same epoch-append step applied to cells.

    Returns ``score(batch_df, epoch_id) -> admitted (vec_id, label)``;
    drive it with :func:`run_evolving_gate`.
    """
    from .. import fsio
    from ..operators import dedup

    spark = corpus_vecs.sparkSession

    normed = corpus_vecs.select(
        "vec_id", "label", "embedding",
        dedup.norm_fold(F.col("embedding")).alias("nrm"))
    ident = corpus_vecs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vec_id").alias("ids"),
        F.expr("bit_xor(xxhash64(embedding))").alias("xh")).first()
    fingerprint = f"n={ident.n} ids={ident.ids} xh={ident.xh}"
    marker = os.path.join(state_dir, "_CORPUS")
    if fsio.exists(spark, marker):
        prev = fsio.read_text(spark, marker).strip()
        if prev != fingerprint:
            raise ValueError(
                "evolving_embed_gate: state_dir holds state seeded from a "
                f"DIFFERENT corpus ({prev!r} != {fingerprint!r}); its epoch "
                "partitions would silently gate this stream against another "
                "stream's admissions. Use a fresh state_dir (or delete this "
                "one) per (corpus, stream).")
    else:
        gen0 = _gen_path(state_dir, 0)
        _write_baseline(gen0, {"vecs": normed})
        fsio.create_marker(spark, os.path.join(gen0, "_COMMITTED"))
        fsio.write_text(spark, marker, fingerprint + "\n")

    def score(batch: DataFrame, epoch_id: int) -> DataFrame:
        gen = _current_gen(spark, state_dir)
        state = read_parquet(
            spark, os.path.join(_gen_path(state_dir, gen), "vecs"))
        appends = os.path.join(state_dir, "vecs")
        if any(n.startswith("__epoch=")
               for n in fsio.list_names(spark, appends)):
            # a replayed epoch must not gate the batch against its own
            # earlier attempt's admissions
            app = (read_parquet(spark, appends)
                   .filter(F.col("__epoch") < int(epoch_id)).drop("__epoch"))
            state = state.unionByName(app)

        bt = batch.select(
            "vec_id", "label", "embedding",
            dedup.norm_fold(F.col("embedding")).alias("nrm"))
        a, b = state.alias("a"), bt.alias("b")
        cos = dedup.dot_fold(F.col("a.embedding"), F.col("b.embedding")) \
            / (F.col("a.nrm") * F.col("b.nrm"))
        rejected = (
            a.join(b, F.col("a.label") == F.col("b.label"))
            .filter(rnd(cos, 6) >= dedup.EMBED_NEARDUP_THRESHOLD)
            .select(F.col("b.vec_id").alias("vec_id")).distinct()
        )
        admitted = bt.join(rejected, "vec_id", "left_anti")
        # materialize the verdict ONCE (the state read above must not
        # race the state write below)
        admitted = dedup._scoped_build(admitted)
        (admitted.withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__epoch").parquet(appends))
        return admitted.select("vec_id", "label")

    return score


def compact_embed_gate_state(spark: SparkSession, state_dir: str) -> None:
    """Offline compaction for :func:`evolving_embed_gate` state: fold
    the current baseline generation plus every epoch partition into a
    NEW committed generation (the small-files maintenance step), with
    the same crash-safety protocol as :func:`compact_gate_state` --
    write gen=<G+1> fully, commit via atomic ``_COMMITTED`` create,
    clean up only after; a vec_id dedupe heals
    crash-between-commit-and-cleanup redundancy.  Verdicts are
    invariant across a compaction (no re-ranking exists here -- vectors
    are their own index entries).  Single-table state means a torn
    epoch cannot be DETECTED the way the text gate's toks-without-pref
    can; the same operating contract applies: run between drains, not
    concurrently with a live score() write."""
    from .. import fsio

    cur = _current_gen(spark, state_dir)
    if cur is None:
        raise ValueError(
            "compact_embed_gate_state: no committed baseline generation "
            f"under {state_dir!r} -- construct evolving_embed_gate first.")

    appends = os.path.join(state_dir, "vecs")
    fold_ids = sorted(
        int(n.split("=", 1)[1])
        for n in fsio.list_names(spark, appends) if n.startswith("__epoch="))
    vecs = read_parquet(
        spark, os.path.join(_gen_path(state_dir, cur), "vecs"))
    if fold_ids:
        app = (read_parquet(spark, appends)
               .filter(F.col("__epoch").isin(fold_ids)).drop("__epoch"))
        vecs = vecs.unionByName(app)
    from ..operators import dedup
    vecs = dedup._scoped_build(vecs.dropDuplicates(["vec_id"]))

    new_gen = _gen_path(state_dir, cur + 1)
    _write_baseline(new_gen, {"vecs": vecs})
    fsio.create_marker(spark, os.path.join(new_gen, "_COMMITTED"))

    for e in fold_ids:
        fsio.delete(spark, os.path.join(appends, f"__epoch={e}"))
    for name in fsio.list_names(spark, state_dir):
        if name.startswith("gen=") and name[4:].isdigit() \
                and int(name[4:]) <= cur:
            fsio.delete(spark, os.path.join(state_dir, name))


def evolving_embed_gate_ivf(corpus_cells: DataFrame, centers: DataFrame,
                            state_dir: str, nprobe: int | None = None):
    """ANN form of :func:`evolving_embed_gate` -- the scale path when
    label blocks are too hot to brute-force per batch: candidates come
    from the batch vector's ``nprobe`` nearest IVF cells, and ADMITTED
    vectors join the inverted file under their top cell, so a near-dup
    arriving micro-batches after its original is rejected through the
    same probe that guards the seed corpus.

    The frozen-frequency principle of :func:`evolving_neardup_gate`,
    applied to centroids: between compactions the CENTERS are frozen
    (persisted at seed into the baseline generation), so a vector's
    cell assignment is immutable once written and probe-vs-assignment
    consistency is structural -- both rank the same frozen centers
    through :func:`_ivf_cell_rank`.  The exact-duplicate guarantee
    therefore holds CROSS-BATCH at any nprobe >= 1: an admitted
    vector's cell is its own top-ranked cell, which is exactly the top
    probe of any identical later vector.  Near-dup recall trades to
    probe width, as in the static gate; precision stays 1.0 (exact
    cosine on probed candidates).

    State: ``gen=<G>/{cells, centers}`` committed baselines (the
    generation protocol) + ``cells/__epoch=<k>`` admission appends.
    :func:`compact_embed_gate_ivf_state` RE-TRAINS the quantizer from
    the full admitted state and reassigns every vector -- allowed
    precisely because the whole index is rewritten as one committed
    snapshot (the per-batch path must NOT re-rank; its entries are
    immutable).  Verdicts are NOT invariant across an IVF compaction
    (re-trained centroids move the recall envelope -- that is the
    point: admissions drag the quantizer toward the data actually
    ingested); the exact-duplicate guarantee IS invariant and is what
    the compaction test pins.

    Returns ``score(batch_df, epoch_id)``; drive with
    :func:`run_evolving_gate`.
    """
    from .. import fsio
    from ..operators import dedup, similarity

    if nprobe is None:
        nprobe = similarity.IVF_NPROBE
    spark = corpus_cells.sparkSession

    normed = corpus_cells.select(
        "vec_id", "label", "embedding",
        dedup.norm_fold(F.col("embedding")).alias("nrm"), "cell")
    ident = corpus_cells.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vec_id").alias("ids"),
        F.expr("bit_xor(xxhash64(embedding))").alias("xh")).first()
    fingerprint = f"n={ident.n} ids={ident.ids} xh={ident.xh}"
    marker = os.path.join(state_dir, "_CORPUS")
    if fsio.exists(spark, marker):
        prev = fsio.read_text(spark, marker).strip()
        if prev != fingerprint:
            raise ValueError(
                "evolving_embed_gate_ivf: state_dir holds state seeded "
                f"from a DIFFERENT corpus ({prev!r} != {fingerprint!r}). "
                "Use a fresh state_dir (or delete this one) per "
                "(corpus, stream).")
    else:
        gen0 = _gen_path(state_dir, 0)
        _write_baseline(gen0, {"cells": normed, "centers": centers})
        fsio.create_marker(spark, os.path.join(gen0, "_COMMITTED"))
        fsio.write_text(spark, marker, fingerprint + "\n")

    def score(batch: DataFrame, epoch_id: int) -> DataFrame:
        gen = _current_gen(spark, state_dir)
        gen_dir = _gen_path(state_dir, gen)
        frozen_centers = read_parquet(
            spark, os.path.join(gen_dir, "centers"))
        state = read_parquet(spark, os.path.join(gen_dir, "cells"))
        appends = os.path.join(state_dir, "cells")
        if any(n.startswith("__epoch=")
               for n in fsio.list_names(spark, appends)):
            app = (read_parquet(spark, appends)
                   .filter(F.col("__epoch") < int(epoch_id)).drop("__epoch"))
            state = state.unionByName(app)

        rejected = _ivf_probe_rejects(state, batch, frozen_centers, nprobe,
                                      "evolving_embed_gate_ivf")
        admitted = dedup._scoped_build(
            batch.join(rejected, "vec_id", "left_anti"))
        adm_cells = _ivf_cell_rank(
            frozen_centers,
            admitted.withColumn("nrm",
                                dedup.norm_fold(F.col("embedding"))),
            nprobe=1)
        (adm_cells.withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__epoch").parquet(appends))
        return admitted.select("vec_id", "label")

    return score


def compact_embed_gate_ivf_state(spark: SparkSession, state_dir: str,
                                 nlist: int | None = None) -> None:
    """Offline compaction for :func:`evolving_embed_gate_ivf`: fold
    baseline + epoch appends, RE-TRAIN the KMeans quantizer on the full
    admitted state (capped deterministic sample, the
    ``build_ivf_index`` params), reassign every vector to the new
    centers, and commit ``gen=<G+1>/{cells, centers}`` atomically --
    the same write-commit-cleanup protocol as the exact gates.
    Re-training is the step the frozen-centers per-batch path forbids;
    it is legal here because the whole inverted file and its quantizer
    are replaced as ONE committed snapshot, so probe and assignment
    stay consistent on either side of the switch."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from .. import fsio
    from ..operators import dedup, similarity

    if nlist is None:
        nlist = similarity.IVF_NLIST
    cur = _current_gen(spark, state_dir)
    if cur is None:
        raise ValueError(
            "compact_embed_gate_ivf_state: no committed baseline "
            f"generation under {state_dir!r} -- construct "
            "evolving_embed_gate_ivf first.")

    appends = os.path.join(state_dir, "cells")
    fold_ids = sorted(
        int(n.split("=", 1)[1])
        for n in fsio.list_names(spark, appends) if n.startswith("__epoch="))
    vecs = read_parquet(
        spark, os.path.join(_gen_path(state_dir, cur), "cells")).drop("cell")
    if fold_ids:
        app = (read_parquet(spark, appends)
               .filter(F.col("__epoch").isin(fold_ids))
               .drop("__epoch", "cell"))
        vecs = vecs.unionByName(app)
    vecs = dedup._scoped_build(vecs.dropDuplicates(["vec_id"]))

    n = vecs.count()
    sample = vecs if n <= similarity.IVF_SAMPLE_CAP else vecs.sample(
        fraction=similarity.IVF_SAMPLE_CAP / n,
        seed=similarity.IVF_KMEANS_SEED)
    feat = array_to_vector(F.col("embedding").cast("array<double>"))
    model = KMeans(k=nlist, seed=similarity.IVF_KMEANS_SEED,
                   maxIter=similarity.IVF_KMEANS_MAX_ITER).fit(
        sample.withColumn("features", feat))
    new_cells = model.transform(vecs.withColumn("features", feat)).select(
        "vec_id", "label", "embedding", "nrm",
        F.col("prediction").alias("cell"))
    new_centers = spark.createDataFrame(
        [(i, [float(x) for x in c])
         for i, c in enumerate(model.clusterCenters())],
        "cell int, center array<double>").coalesce(1)

    new_gen = _gen_path(state_dir, cur + 1)
    _write_baseline(new_gen, {"cells": new_cells, "centers": new_centers})
    fsio.create_marker(spark, os.path.join(new_gen, "_COMMITTED"))

    for e in fold_ids:
        fsio.delete(spark, os.path.join(appends, f"__epoch={e}"))
    for name in fsio.list_names(spark, state_dir):
        if name.startswith("gen=") and name[4:].isdigit() \
                and int(name[4:]) <= cur:
            fsio.delete(spark, os.path.join(state_dir, name))


def run_evolving_gate(docs_stream: DataFrame, gate, out_dir: str,
                      ckpt_dir: str):
    """Drive an :func:`evolving_neardup_gate` over a docs stream: per
    micro-batch, score against the current state (which the gate itself
    advances under the batch's epoch) and land admitted rows in an
    epoch-partitioned output -- state and output both epoch-keyed, so
    the whole pipeline replays idempotently."""
    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        (gate(batch_df, epoch_id)
         .withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__epoch")
         .parquet(out_dir))

    return (docs_stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True).start())


def scoring_sink(scorer, out_dir: str):
    """The foreachBatch sink behind :func:`run_scoring`: write each
    micro-batch's scored rows into an ``__epoch=<id>``-partitioned
    parquet table with DYNAMIC partition overwrite.

    foreachBatch is only at-least-once: a crash after the write but
    before the epoch's checkpoint commit replays the micro-batch with
    the SAME epoch_id.  A blind ``mode('append')`` would duplicate every
    replayed row (ADVICE r11, medium); keying the write by epoch_id and
    overwriting only that partition makes the replay rewrite its own
    output instead -- idempotent per epoch, hence exactly-once end to
    end (the ``topk_per_window_sink`` overwrite pattern).  Exposed
    separately from run_scoring so the replay window itself is testable:
    calling the sink twice with one epoch_id IS the crash-replay."""
    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        (scorer(batch_df)
         .withColumn("__epoch", F.lit(int(epoch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__epoch")
         .parquet(out_dir))

    return _sink


def read_scores(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read a :func:`run_scoring` landing table without the sink's
    ``__epoch`` bookkeeping partition column."""
    return read_parquet(spark, out_dir).drop("__epoch")


def run_scoring(docs_stream: DataFrame, scorer, out_dir: str,
                ckpt_dir: str):
    """Drive a build-once scorer (:func:`novelty_scorer`,
    :func:`decontam_scorer`) over a docs stream with ``foreachBatch``,
    landing scored rows in an epoch-partitioned parquet table
    (:func:`scoring_sink` -- idempotent per epoch, so the pipeline is
    exactly-once even across a crash inside the write; read it back
    through :func:`read_scores`).  availableNow drains the backlog in
    maxFilesPerTrigger-sized batches and stops -- the catch-up mode; a
    production deployment drops the trigger for continuous scoring."""
    return (docs_stream.writeStream.foreachBatch(scoring_sink(scorer, out_dir))
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True).start())


def topk_per_window_sink(out_dir: str):
    """foreachBatch sink maintaining live windowed per-event-type totals
    for the top-k dashboard: ranking over an updating aggregate is not
    expressible in a streaming query, so the windowed totals run in
    update mode and each micro-batch rewrites ONLY the window partitions
    it changed (dynamic partition overwrite) -- O(touched windows), not
    O(history).  Feed it ``tumbling_counts``-shaped updates
    (ws, event_type, n, total).

    The table stores ALL (window, event_type) totals; the top-k cut
    happens at read time (:func:`topk_dashboard`).  Persisting only the
    ranked survivors (the old form) meant an evicted event type could
    never re-enter a window's top-k unless its own total changed, and
    was permanently wrong if totals can decrease (ADVICE r3).  Rows per
    window are bounded by event-type cardinality, so the storage delta
    is small and the read-time rank runs over pruned partitions.
    """

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn(
            "__w", F.date_format("ws", "yyyyMMddHH"))
        touched = [r["__w"] for r in batch.select("__w").distinct().collect()]
        if not touched:
            return
        existing = read_engine_table(spark, out_dir)
        if existing is None:
            merged = batch
        else:
            # update-mode totals are cumulative: the new batch's row for a
            # (window, type) supersedes the stored one entirely.
            merged = (existing.filter(F.col("__w").isin(touched))
                      .select(*batch.columns)
                      .join(batch.select("__w", "event_type").distinct(),
                            ["__w", "event_type"], "left_anti")
                      .unionByName(batch))
        (merged.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__w").parquet(out_dir))

    return _sink


def topk_dashboard(spark: SparkSession, out_dir: str, k: int = 3) -> DataFrame:
    """Read-time top-k over the live dashboard table: rank within each
    window partition and keep the first ``k``.  A dashboard query touches
    few windows, so partition pruning on ``__w`` keeps this cheap."""
    from pyspark.sql import Window as W

    w = W.partitionBy("__w").orderBy(F.col("total").desc(),
                                     F.col("event_type").asc())
    return (read_parquet(spark, out_dir)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k))


def run_topk_dashboard(events: DataFrame, out_dir: str,
                       checkpoint_dir: str) -> None:
    """Drive the tumbling totals into the live dashboard totals table
    (read it back with :func:`topk_dashboard`)."""
    q = (
        tumbling_counts(events).writeStream
        .outputMode("update")
        .foreachBatch(topk_per_window_sink(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def enrich_with_customers(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer
    dimension.  The static side is re-read per micro-batch (picking up
    dim updates) and broadcast by Catalyst at dim size -- no stream-side
    state at all."""
    dim = customers.select(F.col("c_custkey").alias("user_id"),
                           "c_name", "c_mktsegment")
    return events.join(dim, "user_id", "left")


def purchases_with_errors(events: DataFrame,
                          watermark: str = "10 minutes") -> DataFrame:
    """Stream-stream interval join: each purchase paired with error
    events by the same user in the following 30 minutes (the streaming
    twin of ``relational.q_join_interval``).

    Both sides are watermarked and the join condition bounds event time
    on both sides, so the state store holds only the 30-minute horizon
    per side -- the unbounded-state stream-stream join is rejected by
    Spark outright.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("p_event_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    errors = (
        events.filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user_id"),
                F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", watermark)
    )
    return purchases.join(
        errors,
        (F.col("p_user_id") == F.col("e_user_id"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") < F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("p_event_id", F.col("p_user_id").alias("user_id"), "p_ts", "e_ts")


def purchase_error_rate(events: DataFrame,
                        watermark: str = "10 minutes") -> DataFrame:
    """CHAINED stateful operators in one streaming query: the
    stream-stream interval join feeds a windowed aggregation (hourly
    pair counts) -- two state stores, one pipeline (Spark 3.5+/4
    multi-stateful support; append mode only).  The join's purchase-side
    event time carries through, so the window operator derives its
    watermark from the join's and emits an hour once no in-flight
    purchase can still land in it.  Twin:
    ``batch_twins.q_stream_join_agg``."""
    return (
        purchases_with_errors(events, watermark)
        .groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(F.col("w.start").alias("ws"), "n_pairs")
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> None:
    """Drive a streaming DataFrame to completion into a memory-sink table
    (test/smoke harness: one availableNow pass over all input)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory").queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


SERVING_BUCKETS = 16


def compact_latest_to(serving_dir: str, key: str = "event_id",
                      n_buckets: int = SERVING_BUCKETS):
    """foreachBatch sink: maintain a compacted latest-row-per-key parquet
    serving table, turning the reference's O(n) point lookup
    (``main.rs:94-95``) into a keyed scan over a small table.

    The table is hash-bucketed on the key (partition column ``__kb``) and
    each micro-batch rewrites ONLY the buckets it touches via dynamic
    partition overwrite -- O(batch + touched buckets), not O(table) per
    batch (round-2 VERDICT "What's wrong" #4: the old read-all + full
    overwrite was a scale-killer for a continuously-growing key space).
    The touched-bucket list collected to the driver is at most
    ``n_buckets`` integers.  Point lookups get partition pruning for free
    by filtering on ``__kb = pmod(xxhash64(key), n_buckets)`` (see
    :func:`serving_lookup`).
    """
    from pyspark.sql import Window as W

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.withColumn("__kb", _key_bucket(key, n_buckets))
        touched = [r["__kb"] for r in batch.select("__kb").distinct().collect()]
        if not touched:
            return
        existing = read_engine_table(spark, serving_dir)
        # first batch (no table yet) -> nothing to merge; real read errors
        # propagate instead of silently dropping serving-table history.
        merged = batch if existing is None else (
            existing.filter(F.col("__kb").isin(touched)).unionByName(batch))
        w = W.partitionBy(key).orderBy(F.col("ts").desc())
        latest = (merged.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        (latest.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__kb").parquet(serving_dir))

    return _sink


def _key_bucket(key: str, n_buckets: int = SERVING_BUCKETS) -> "F.Column":
    # int (not long): partition discovery reads __kb back as int32, and
    # unionByName(existing, batch) needs the two sides to agree.
    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def serving_lookup(spark: SparkSession, serving_dir: str, key_value,
                   key: str = "event_id",
                   n_buckets: int = SERVING_BUCKETS) -> DataFrame:
    """Point lookup against the compacted serving table: the ``__kb``
    equality prunes to one partition directory, then the key equality is
    pushed into that partition's parquet scan.  ``n_buckets`` MUST match
    the value the sink was built with (it defines the hash layout)."""
    df = read_parquet(spark, serving_dir)
    # xxhash64 is type-sensitive: hash the literal at the key column's
    # exact type or the bucket won't match the one the sink computed.
    bucket = F.pmod(
        F.xxhash64(F.lit(key_value).cast(df.schema[key].dataType)),
        F.lit(n_buckets)).cast("int")
    return df.filter(F.col("__kb") == bucket).filter(F.col(key) == key_value)


def run_compaction(events: DataFrame, serving_dir: str, checkpoint_dir: str) -> None:
    q = (
        events.writeStream
        .foreachBatch(compact_latest_to(serving_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
