"""Text-analysis operators over the ``documents`` table (driver mandate:
LLM-data-pipeline extensions; SURVEY.md §2.2).

All pure built-in functions (split/explode/filter/aggregate higher-order
fns) -- no Python UDFs, so the whole family stays in whole-stage codegen.

Scale notes: token explode + groupBy is the canonical map-side-combinable
shape (partial counts per partition before the shuffle).  Per-document
metrics are narrow projections with no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load_table, scan_wide
from ..util import rnd, sql_round as R

# The pretraining quality gate, shared with curate.q_pipeline_curate
# (review finding: the 20/0.2 literals lived in four places, so
# tightening the filter here would silently diverge from the curation
# pipeline while both oracles kept passing).
QUALITY_MIN_TOKENS = 20
QUALITY_MIN_TTR = 0.2

# Deliberately small English stopword list -- the language-ID heuristic
# needs a deterministic, SQL-expressible marker set, not linguistic truth.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

_SW = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


def _toks(col: str = "text"):
    return F.split(F.col(col), " ")


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 tokens by frequency (tokenize -> explode -> count).

    r17 measured NO-GUARD verdict: unlike the rest of the text family
    (which rides tables.scan_wide -- the one-row-group scan-width
    guard), this key's split+explode is light and its map-side partial
    count collapses to vocabulary size before the exchange, so the
    guard LOST at 1x (0.66 vs 0.27 s) and 10x (0.88 vs 0.65) for a
    modest 1.7x at 50x -- reverted per the cheap-per-row rule."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_toks()).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(50)
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per (lang, source): the dataset-card rollup."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            rnd(F.avg("n_chars")).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def q_text_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex token classes."""
    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id",
        F.size(_toks()).alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z]+")).alias("n_word_tokens"),
        F.regexp_count(F.col("text"), F.lit("[0-9]+")).alias("n_num_tokens"),
        F.size(F.array_distinct(_toks())).alias("n_unique"),
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language scoring: fraction of tokens in an English
    stopword list; classify 'en' above a threshold.  (A real system uses
    char n-gram profiles; the operator shape -- per-doc token-level
    scoring against a broadcast marker set -- is identical.)"""
    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = _toks()
    sw_hits = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    ratio = sw_hits.cast("double") / F.size(toks)
    return docs.select(
        "doc_id", "lang",
        rnd(ratio, 4).alias("stopword_ratio"),
        F.when(ratio > 0.15, "en").otherwise("unk").alias("pred_lang"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, type-token ratio, mean token length,
    digit ratio, and a composite keep/drop flag (the pretraining-filter
    shape)."""
    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = _toks()
    n_tokens = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    keep = (n_tokens >= QUALITY_MIN_TOKENS) & (ttr > QUALITY_MIN_TTR)
    # single-spaced text: total token chars = length - (n_tokens - 1)
    avg_tok_len = (F.length("text") - n_tokens + 1).cast("double") / n_tokens
    digit_ratio = F.regexp_count(F.col("text"), F.lit("[0-9]")).cast("double") / F.length("text")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        rnd(ttr, 4).alias("ttr"),
        rnd(avg_tok_len, 4).alias("avg_tok_len"),
        rnd(digit_ratio, 4).alias("digit_ratio"),
        keep.alias("keep"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the sorted distinct token set
    (an order-insensitive content signature; the planted near-duplicates
    in the corpus collide here)."""
    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(_toks())))
    fp = F.md5(canon)
    return docs.select(
        "doc_id",
        fp.alias("fp"),
        F.substring(fp, 1, 8).alias("fp_bucket"),
    )


TFIDF_TOP_K = 3
DECONTAM_NGRAM = 5  # word n-gram size for benchmark-overlap checking


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document by tf-idf rank.

    The corpus statistic (document frequency) is a second aggregate over
    the token explode, joined back on the token -- the canonical
    "corpus-join" shape: both aggregations are map-side combinable and
    the join key (tok) is the natural shuffle key at any scale.

    The salience score is the *rational* tf * N / df rather than
    tf * ln(N/df): ln is the one step whose last-ulp result is not
    pinned down by IEEE-754 across engines, and the two scores rank
    identically whenever tf is equal (and nearly so otherwise), so the
    exact form keeps the oracle bit-deterministic.
    """
    from .dedup import _scoped_build

    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")
    # tf feeds BOTH the document-frequency aggregate and the score join;
    # materialize it once so the token explode runs once -- measured 30%
    # off the query at the 50k-doc replica scale.
    tf = _scoped_build(
        docs.select("doc_id", F.explode(_toks()).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", rnd(F.col("tf") * F.col("n_docs") / F.col("df"), 6))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "tok", "tf", "df", "score", "rn")
    )


def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM filtering: score each document by average
    negative log-likelihood under an add-one-smoothed unigram model
    trained on the corpus itself (low avg NLL = fluent/common text;
    high = rare/garbled -- the perplexity-filter shape).

    Scale shape: two map-side-combinable aggregates over the token
    explode (per-(doc,tok) counts, global tok counts), one equi-join on
    tok, one per-doc agg.  The model table is one row per distinct
    token -- broadcastable when small, a plain shuffle join when not.

    Deliberately NOT derived from the (doc,tok) frame: the "share the
    explode" rewrite (counts = doc_tok.groupBy(tok).sum(cnt), the shape
    that measured -30% on the adjacent tfidf) was applied and MEASURED
    here in round 8 -- it is 40%+ SLOWER (A/B on the same corpus: 0.41 s
    vs 0.57-0.71 s at sf0.1) and its plan is strictly worse: with no
    checkpoint, Catalyst re-evaluates the shared doc_tok subtree per
    consumer (3 Generates, zero ReusedExchange), so each consumer pays
    the explode PLUS the heavier (doc,tok) reduce-side aggregate,
    whereas this form's tok-keyed partial agg collapses to vocabulary
    size BEFORE its exchange.  tfidf won because its shared frame is
    ``_scoped_build``-materialized; materializing here would add
    checkpoint IO to a sub-second query for nothing.

    Determinism: each token's NLL is snapped to integer MICRO-nats
    (floor(ln*1e6+0.5)) *before* the per-doc sum, so the sum is exact
    integer arithmetic -- associativity-order differences between
    engines (Spark partial aggs vs DuckDB's scan order) cannot change
    the result, which a naive SUM(double) would not survive.  The
    residual risk the snapping does NOT remove is the ``ln`` itself:
    like the tfidf note below, Math.log vs libm log are not
    ulp-pinned, so a token whose logp*1e6+0.5 lands within ~1 ulp of
    an integer can floor differently (~4e-9 odds per distinct token --
    negligible at test vocabularies, worth knowing at multi-million-
    token ones; review finding against the earlier blanket claim).

    r18: the scan guard is declared ``light`` -- the per-row work
    here is one token split feeding two map-side-combinable partial
    aggregates, light enough that at sf0.1 the guard's extra stage
    was a -0.28 s regression (VERDICT r17 #1) while the 10x/50x wins
    (2.8x/5.2x) all sit above the size threshold.
    """
    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id",
                     light=True)
    tok = (docs.select("doc_id", F.explode(_toks()).alias("tok"))
           .filter(F.length("tok") > 0))
    doc_tok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(F.sum("c").alias("n_total"),
                        F.count(F.lit(1)).alias("v"))
    logp = F.ln((F.col("c") + 1).cast("double")
                / (F.col("n_total") + F.col("v")).cast("double"))
    nll_micro_tok = -F.floor(logp * F.lit(1e6) + F.lit(0.5))
    scored = (doc_tok.join(counts, "tok")
              .crossJoin(F.broadcast(totals))
              .withColumn("nll_tok", nll_micro_tok))
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_toks"),
             F.sum(F.col("cnt") * F.col("nll_tok")).alias("nll_micro"))
        .select(
            "doc_id", "n_toks", "nll_micro",
            rnd(F.col("nll_micro").cast("double") / F.lit(1e6)
                / F.col("n_toks"), 4).alias("avg_nll"))
    )


PII_EMAIL = "[a-z0-9._]+@[a-z0-9.]+"
PII_LONGNUM = "[0-9]{4,}"


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count + redact email-shaped and long-number tokens
    (the pretraining scrub/decontamination pass).  All JVM-side regex;
    the redacted text is fingerprinted so the check stays compact.
    Patterns are deliberately RE2-safe (no backrefs/lookarounds) so Java
    regex and DuckDB RE2 agree."""
    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
        PII_LONGNUM, "<NUM>")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_LONGNUM)).alias("n_longnums"),
        F.md5(redacted).alias("redacted_fp"),
    )


def _wordgrams(col, n: int):
    """Word n-grams as an array column (empty when the doc is shorter
    than n tokens -- guarded because Spark's sequence(1, 0) counts DOWN
    to [1, 0] instead of yielding an empty array).

    Built as a chain of n-1 ``zip_with`` passes over shifted slices
    rather than a per-gram ``slice(toks, i, n)`` inside ``transform``:
    the dynamic-offset slice forces interpreted per-element evaluation
    (one array copy + concat per gram), while the zip chain is n-1
    vectorized whole-array passes.  Byte-identical output (concat_ws
    associates), measured 3.3x faster for 2-grams and 1.9x for 5-grams
    at sf0.1.

    Consumers: gram TEXT users only -- q_text_bpe_pairs, whose OUTPUT
    carries the gram string, and the tests' hash-collision detectors,
    which count true grams against :func:`_hashed_wordgrams`' keys.
    Key-only consumers (q_text_repetition, q_text_novelty,
    q_align_crosslingual, q_text_decontam) use
    :func:`_hashed_wordgrams`."""
    toks = F.split(col, " ")
    m = F.size(toks) - n + 1
    g = F.slice(toks, 1, m)
    for k in range(1, n):
        g = F.zip_with(g, F.slice(toks, 1 + k, m),
                       lambda a, b: F.concat_ws(" ", a, b))
    return F.when(m >= 1, g).otherwise(F.array().cast("array<string>"))


REPETITION_FRAC = 0.2  # most-common-2-gram fraction above which a doc is flagged


def _hashed_wordgrams(col, n: int) -> F.Column:
    """Word-n-gram KEYS as 8-byte longs with NO gram string ever built:
    the first zip_with hashes the leading token pair (``xxhash64(a,
    b)``) and each further zip_with folds the next token into the
    running hash (``xxhash64(h, c)``) -- n-1 vectorized passes over
    longs, vs :func:`_wordgrams`'s n-1 passes that each MATERIALIZE
    progressively longer strings plus (for fingerprint uses) one more
    whole-array hashing pass.  Tokens come from a split on space, so
    the token tuple determines the gram exactly (no boundary
    ambiguity); the chained hash is deterministic and
    collision-equivalent to hashing the gram string (~(grams)^2/2^64
    within any compared scope) -- the q_text_linededup / decontam
    caveat class, asserted zero on the corpora by the tests'
    distinct-cardinality checks.  Module-level so those tests pin the
    exact expression that ships (the TRY_CAST_INT_SHAPE lesson).  Only
    for key/fingerprint uses -- anything that needs the gram TEXT
    keeps :func:`_wordgrams`."""
    toks = F.split(col, " ")
    m = F.size(toks) - n + 1
    g = F.zip_with(F.slice(toks, 1, m), F.slice(toks, 2, m),
                   lambda a, b: F.xxhash64(a, b))
    for k in range(2, n):
        g = F.zip_with(g, F.slice(toks, 1 + k, m),
                       lambda h, c: F.xxhash64(h, c))
    return F.when(m >= 1, g).otherwise(F.array().cast("array<bigint>"))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition scoring (the Gopher-style repetition
    filter): fraction of a doc's word 2-grams taken by its single most
    frequent 2-gram; high values mean boilerplate/looped text that the
    type-token ratio in ``q_text_quality`` under-penalizes.

    The gram is only ever a GROUPING KEY, so it is hashed inside the
    zip_with (:func:`_hashed_wordgrams` -- no string is ever built) and
    the shuffle carries 8-byte longs.  Semantics-preserving up to 64-bit
    collisions WITHIN one document (two distinct grams of the same doc
    colliding merges their counts) -- the q_text_linededup /
    decontam-n_hits caveat class, ~(grams/doc)^2/2^64 per doc; zero on
    the generated corpora (a test asserts gram-table cardinality
    equality directly).  Interleaved A/B against a form that built and
    shuffled the gram STRINGS (warm artifacts, min-of-2): 0.88 vs
    1.21 s at 1x, 4.57 vs 6.85 at 10x, 24.01 vs 28.03 at 50x (1.17x).
    Hashing the BUILT string instead (transform + xxhash64(gram)) was
    also measured and is WORSE at 50x (30.55 s -- the extra whole-array
    transform pass costs more than the string shuffle saves); do not
    re-litigate.

    Measured negative result (round 10, do not re-apply): a zero-shuffle
    in-row rewrite -- array_sort the gram array + a sequential
    ``aggregate`` run-length fold (the simhash precedent) -- was built,
    proven output-identical at two SFs and oracle-green, and MEASURED
    2x SLOWER at scale (1.56/14.12/60.24 s at 1x/10x/50x): Catalyst
    evaluates higher-order lambdas with a per-element interpretation
    overhead that costs more than the two (doc_id, gram)-keyed
    exchanges it removes, which are map-side combined and perfectly
    parallel.  Unlike simhash (whose fold replaced a CORPUS-WIDE
    reassembly shuffle), these exchanges are doc-local volume -- the
    fold saves network the operator barely uses.  PLANS round 10
    records the numbers.
    """
    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")
    grams = docs.select(
        "doc_id", F.explode(_hashed_wordgrams(F.col("text"), 2)).alias("gram"))
    # per-doc gram counting as explode + two map-side-combinable
    # aggregations keyed by doc -- no corpus-wide state, no join except
    # the left join back to keep gramless (sub-2-token) docs with frac 0
    per = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("doc_id").agg(F.sum("c").alias("n_grams"),
                                    F.max("c").alias("top_gram_n"))
    frac = F.coalesce(F.col("top_gram_n") / F.col("n_grams"), F.lit(0.0))
    return (
        docs.select("doc_id").join(agg, "doc_id", "left")
        .select("doc_id",
                F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                F.coalesce("top_gram_n", F.lit(0)).alias("top_gram_n"),
                rnd(frac, 4).alias("top_gram_frac"),
                (frac > REPETITION_FRAC).alias("repetitive"))
    )


def q_text_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word 5-gram with the "benchmark" set (stand-in: every 50th doc).

    Shape at scale: explode both sides to (gram, doc), semi-filter the
    corpus-side gram stream against the BROADCAST benchmark gram set
    *before* its (doc_id, gram) distinct, then equi-join on the gram --
    no pairwise document comparison ever runs.  A benchmark suite is
    FIXED-SIZE (it does not grow with the corpus), so its distinct gram
    fingerprints -- 8-byte longs -- always fit a broadcast; the
    semi-join evaluates map-side, fused into the explode's stage, and
    the surviving stream is O(contaminated pairs).  At 100 TB the
    distinct/join shuffle is contamination-sized, not corpus-gram-sized.
    (If a bench side ever outgrew broadcast, the q_join_bloom machinery
    is the drop-in replacement -- an 8 KB filter plus this same
    FP-tolerant-then-exact-join structure.)

    A plain ``train.distinct()`` would exchange EVERY distinct corpus
    gram just to de-duplicate pairs -- a sweep measured that plan at 30x
    wall for 50x data, while this form is -49% at 50x and never loses
    (PLANS.md round-9 sweep).  Output: contaminated doc ids with hit
    counts.

    The gram fingerprint is the CHAINED token hash
    (:func:`_decontam_fps` / :func:`_hashed_wordgrams` -- no 5-gram
    string is ever materialized).  Interleaved A/B on replicas against
    xxhash64 over the built string (warm artifacts, min-of-2): 1.42 vs
    1.93 s at 1x, 6.02 vs 8.89 at 10x, 23.49 vs 42.89 at 50x (1.83x
    and DIVERGING).
    """
    fps = _decontam_fps()
    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")
    grams = docs.select("doc_id", F.explode(fps).alias("gram"))
    # The bench table feeds BOTH the broadcast gram set and the final
    # join, and Catalyst re-executes the shared subtree (plan read: two
    # bench explodes + two exchanges).  A _scoped_build here was tried
    # and MEASURED at parity-or-noise (1x 2.18 vs 2.37 s, 10x 9.08 vs
    # 7.55, 50x 43.5 vs 47.6 -- interleaved mins, replica corpora):
    # the doubled subtree is only the ~2% bench partition, while the
    # checkpoint inserts a synchronous job barrier.  Left lazy -- the
    # perplexity lesson: don't materialize what re-derives for free.
    bench = (docs.filter(F.col("doc_id") % 50 == 0)
             .select(F.col("doc_id").alias("bench_id"),
                     F.explode(fps).alias("gram"))
             .distinct())
    bench_gram_set = bench.select("gram").distinct()
    train = (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench_gram_set), "gram", "left_semi")
        .distinct()
    )
    return (
        train.join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"),
             F.countDistinct("bench_id").alias("n_bench_docs"))
    )


def _decontam_fps():
    """The gram-fingerprint identity the decontam family shares (core
    operator and bylang child -- one definition; no fingerprint is
    persisted across sessions, so it can evolve freely as long as every
    consumer routes through here).  Grams shuffle as
    64-bit fingerprints, not ~40-byte strings; a collision would alias
    two distinct grams (odds ~|grams|^2 / 2^64, ~1e-8 here) -- the
    standard n-gram-fingerprint trade.  The fingerprint is
    the chained token hash: four zip_with passes over longs, no gram
    string ever allocated."""
    return _hashed_wordgrams(F.col("text"), DECONTAM_NGRAM)


def q_text_decontam_bylang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language contamination rollup: for each ``lang``, how many
    training documents exist, how many share at least one word 5-gram
    with the benchmark slice, total shared-gram hits, and the
    contamination rate -- the corpus-health report a curation pipeline
    publishes before mixing (which languages need a harder decontam
    pass or a benchmark refresh).

    Composition of two attested shapes: :func:`q_text_decontam`'s
    broadcast-semi core produces the contaminated doc set, and the
    rollup is q_license_propagate's governance shape -- a small derived
    table attached back onto a single corpus scan, then one tiny
    map-side-combinable aggregate keyed by ``lang``.

    Shape at scale: the contaminated set is an AGGREGATED output
    bounded by contamination (it does not grow with clean-corpus
    volume), so AQE sizes it at runtime and picks a broadcast join for
    the attach in every realistic case; if contamination ever
    approached corpus scale the attach degrades to a doc_id hash join,
    never a cartesian.  The final groupBy exchanges one row per
    (partition, lang) -- O(langs) network.

    Registered round 11 (built and verified as ``decontam_bylang_twin``
    in round 10: MATCH vs ``DECONTAM_BYLANG_ORACLE`` at
    sf0.001/0.01/0.1, triangle parity vs the parent key).  n_hits
    counts gram FINGERPRINT pairs, inheriting q_text_decontam's
    documented xxhash64-collision caveat (~1e-8 at this corpus).
    """
    contam = q_text_decontam(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id", "lang")
    hit = F.col("n_hits").isNotNull()
    n_contam = F.sum(hit.cast("long"))
    return (
        train.join(contam, "doc_id", "left")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_train_docs"),
             n_contam.alias("n_contaminated"),
             F.sum(F.coalesce("n_hits", F.lit(0))).alias("total_hits"),
             rnd(n_contam / F.count(F.lit(1)), 4).alias("contam_rate"))
    )


# Deterministic reference-corpus split for novelty scoring: doc_ids
# congruent to NOVELTY_REF_REM mod NOVELTY_REF_MOD (10%) stand in for
# the "already trained on" corpus.  Deliberately disjoint in shape from
# decontam's % 50 bench split so the two operators stay independently
# testable on the same table.
NOVELTY_REF_MOD, NOVELTY_REF_REM = 10, 3
# Bloom over the reference gram set (the q_join_bloom principle,
# relational.py:246, with two scale upgrades measured in round 10):
# false positives only cost a wasted shuffle row -- the exact join
# behind the bloom removes them -- so sizing is a bandwidth knob, not a
# correctness knob.
# * ADAPTIVE bits (the q_sim_lsh corpus-adaptive-width precedent): the
#   reference corpus grows with training history, and a fixed 8 KB
#   bloom saturates (FPR -> 1) near ~10^5 reference grams -- measured:
#   the 50x replica run degenerates to shuffling every candidate gram.
#   bits = next_pow2(BITS_PER_KEY x |ref grams|) keeps FPR ~ (2/16)^2
#   ~ 1.6% at any reference size; the count() that sizes it is a tiny
#   aggregation of the ref gram table the query builds anyway.
# * DENSE array<long> words, not a (word -> bits) map: Spark map
#   lookups scan the ArrayBasedMapData LINEARLY, so element_at on a
#   131k-entry map costs O(map) per probed gram -- measured: a 2^23-bit
#   map bloom times out where the 8 KB one runs 59 s.  element_at on an
#   ARRAY is O(1); the empty words cost 8 bytes each in the broadcast
#   (1 MB at 2^23 bits), which is the right trade everywhere.
NOVELTY_BLOOM_MIN_BITS = 1 << 16   # floor: 8 KB
NOVELTY_BLOOM_MAX_BITS = 1 << 27   # cap: 16 MB broadcast
NOVELTY_BLOOM_BITS_PER_KEY = 16
NOVELTY_BLOOM_SEEDS = (1, 2)


def _novelty_bloom_bits(n_ref: int) -> int:
    """Adaptive bloom size for ``n_ref`` reference grams: the smallest
    power of two >= BITS_PER_KEY x n_ref, floored at 8 KB and capped at
    the 16 MB broadcast bound (constants block above).  Power of two so
    the word index is a shift, never a division remainder mismatch."""
    bits = NOVELTY_BLOOM_MIN_BITS
    while bits < min(n_ref * NOVELTY_BLOOM_BITS_PER_KEY,
                     NOVELTY_BLOOM_MAX_BITS):
        bits <<= 1
    return bits


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty vs a reference corpus: for each candidate doc, how
    many of its distinct word 5-grams are NOT in the reference corpus's
    gram set, and the novelty rate -- the "will this document teach the
    model anything new" signal a curation pipeline scores alongside
    quality and dedup (novelty 0 = fully redundant with what was
    already trained on).

    Shape at scale -- the interesting exchange problem: unlike decontam
    (fixed-size benchmark -> broadcast semi), the reference corpus
    GROWS with training history, so its gram set can never be
    broadcast.  The naive plan shuffles every candidate gram to meet
    the reference grams.  Instead the reference gram set is compressed
    into the 8 KB bloom (built with one tiny aggregation, broadcast as
    one row), and every candidate gram is probed AT THE SCAN with pure
    codegen bit arithmetic: bloom misses are DEFINITELY novel (no
    false negatives) and never shuffle; only bloom passers -- the seen
    grams plus the FP sliver -- shuffle into the exact inner join that
    removes false positives.  n_novel = n_grams - n_seen with n_grams
    computed in-row (size of the distinct-fingerprint array, zero
    shuffle), so the one corpus-sized exchange shrinks to
    seen-fraction-sized.  Exact output regardless of FPR.

    Grams travel as 64-bit fingerprints -- the decontam collision
    caveat (~1e-8 here) applies to n_grams/n_seen alike.  The
    fingerprint is the chained token hash (see :func:`_novelty_fps` for
    the A/B).
    """
    return _novelty_core(load_table(spark, sf_dir, "documents"))


def _novelty_fps():
    """Per-doc distinct word-5-gram fingerprints (the gram identity the
    whole novelty family shares -- one definition for the core and the
    reference build; no fingerprint is ever persisted across sessions,
    so the definition can evolve freely as long as every consumer goes
    through this one function).

    Fingerprints are the CHAINED token hash (:func:`_hashed_wordgrams`
    -- no 5-gram string is ever materialized).  n_grams/n_seen count
    hashes, with the documented ~(grams)^2/2^64 collision caveat (zero
    on the corpora, asserted directly by a test's distinct-cardinality
    check).  Interleaved A/B on replicas against xxhash64 over the
    built gram string (warm artifacts, min-of-2): 0.97 vs 1.00 s at
    1x, 1.49 vs 2.05 at 10x, 4.24 vs 5.55 at 50x (1.31x)."""
    return F.array_distinct(
        _hashed_wordgrams(F.col("text"), DECONTAM_NGRAM))


def _novelty_ref_grams(ref_docs: DataFrame) -> DataFrame:
    """Distinct reference gram fingerprints, materialized once
    (:func:`dedup._scoped_build`, as for tfidf's tf table and
    linededup's chunk table).  The table feeds THREE consumers (the
    sizing count, the bloom build, the exact FP-cleanup join) and
    Catalyst re-derives shared subtrees per consumer, so one
    materialization scans the reference corpus once.  Measured PARITY
    against re-deriving on the replica corpora (50x: 42.4 vs 40.9 s;
    1x: 1.9 vs 2.4 s -- the 10% slice re-derives nearly for free)."""
    from .dedup import _scoped_build
    return _scoped_build(
        ref_docs.select(F.explode(_novelty_fps()).alias("gram")).distinct())


def _novelty_bloom_table(spark: SparkSession, ref: DataFrame,
                         bits: int) -> DataFrame:
    """The packed bloom over the reference gram set as ONE
    ``array<long>`` row (word index -> bits, empty words zero-filled):
    array element_at is O(1) where a map lookup scans the whole map per
    probe (constants block above)."""
    pos = F.explode(F.array(
        *[F.pmod(F.xxhash64("gram", F.lit(s)), F.lit(bits))
          for s in NOVELTY_BLOOM_SEEDS])).alias("p")
    words = (ref.select(pos)
             .groupBy(F.expr("CAST(p DIV 64 AS INT)").alias("w"))
             .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT),"
                         " CAST(p % 64 AS INT)))").alias("bits")))
    spine = spark.range(bits // 64).select(F.col("id").cast("int").alias("w"))
    return (
        spine.join(words, "w", "left")
        .select("w", F.coalesce("bits", F.lit(0).cast("long")).alias("bits"))
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("w", "bits"))),
            lambda s: s["bits"]).alias("bloom"))
    )


def _novelty_probe(cand: DataFrame, ref: DataFrame, bloom: DataFrame,
                   bits: int) -> DataFrame:
    """Score candidate docs against the reference gram set: bloom probe
    at the scan (misses are DEFINITELY novel and never shuffle), exact
    inner join removes bloom false positives (not a semi -- the
    q_join_bloom PushDownLeftSemiAntiJoin lesson)."""
    fps = _novelty_fps()
    probed = (cand.select("doc_id", F.explode(fps).alias("gram"))
              .crossJoin(F.broadcast(bloom)))
    for i, s in enumerate(NOVELTY_BLOOM_SEEDS):
        probed = probed.withColumn(
            f"_p{i}", F.pmod(F.xxhash64("gram", F.lit(s)), F.lit(bits)))
    hit = None
    for i in range(len(NOVELTY_BLOOM_SEEDS)):
        t = F.expr(
            f"((element_at(bloom, CAST(_p{i} DIV 64 AS INT) + 1)"
            f" >> CAST(_p{i} % 64 AS INT)) & 1) = 1")
        hit = t if hit is None else (hit & t)
    seen = (probed.filter(hit).select("doc_id", "gram")
            .join(ref, "gram")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_seen")))

    # greatest(0): size() is -1 on a null array (null text); the oracle
    # counts such docs as 0 grams
    base = cand.select(
        "doc_id", F.greatest(F.size(fps), F.lit(0)).cast("long").alias("n_grams"))
    novel = F.col("n_grams") - F.coalesce("n_seen", F.lit(0))
    # F.when, not coalesce: under ANSI mode (the driver default) a bare
    # novel / n_grams THROWS on gramless docs instead of yielding NULL
    rate = F.when(F.col("n_grams") > 0,
                  novel / F.col("n_grams")).otherwise(F.lit(0.0))
    return (
        base.join(seen, "doc_id", "left")
        .select("doc_id", "n_grams", novel.alias("n_novel"),
                rnd(rate, 4).alias("novelty"))
    )


def _novelty_core(docs: DataFrame) -> DataFrame:
    """:func:`q_text_novelty` over an explicit docs table (planted-edge
    tests construct known novelty fractions).  Pure composition of the
    pieces above -- the plan is unchanged by the round-11 extraction."""
    docs = scan_wide(docs, "doc_id")
    is_ref = F.col("doc_id") % NOVELTY_REF_MOD == NOVELTY_REF_REM
    ref = _novelty_ref_grams(docs.filter(is_ref))
    # adaptive sizing: one tiny count of the ref gram table the query
    # needs anyway (the q_sim_lsh precedent; constants block above)
    bits = _novelty_bloom_bits(ref.count())
    bloom = _novelty_bloom_table(docs.sparkSession, ref, bits)
    return _novelty_probe(docs.filter(~is_ref), ref, bloom, bits)


CHUNK_TOKENS = 8        # tokens per non-overlapping chunk ("line")
LINEDEDUP_MIN_DOCS = 2  # a chunk in >= this many distinct docs is duplicate


# Cross-lingual alignment: an 8-token verbatim span is a strong anchor
# (numbers, names, code, quoted originals); the document-frequency band
# [2, 6] keeps only grams rare enough to be discriminative AND bounds
# every posting list at 6 docs, so the gram self-join emits <= 15 pairs
# per gram -- the blocking guarantee that makes this linear at 100 TB.
ALIGN_NGRAM = 8
ALIGN_DF_MIN, ALIGN_DF_MAX = 2, 6
ALIGN_MIN_SHARED = 2


def q_align_crosslingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual document alignment by shared rare n-grams
    (VERDICT r7 #3): candidate translated / syndicated doc pairs are
    docs in DIFFERENT languages sharing >= 2 rare verbatim 8-grams --
    the bitext-mining prefilter that runs before any embedding-based
    scorer, and the only exact (non-model) signal a corpus carries.

    Shape: gram-keyed equi-join, never doc x doc -- the same posting
    discipline as q_text_decontam: distinct grams per doc, a
    map-side-combinable document-frequency aggregate, the [2, 6] df
    band filter, then the bounded self-join and a (doc_a, doc_b)
    rollup.  The df band is data-independent blocking: posting lists
    are capped at ALIGN_DF_MAX regardless of corpus size, so pair
    volume is O(|rare grams| x 15), not O(n^2).

    Materialization: the df band is a WINDOW
    COUNT over the single exploded gram stream, so the gram table has
    ONE consumer and nothing corpus-sized is ever materialized -- only
    the TINY banded posting table (<= ALIGN_DF_MAX rows per rare gram)
    is checkpointed for the self-join's two sides.  This replaced
    round 8's choice between checkpointing the corpus-sized gram table
    and exploding the corpus twice (the gram table then had two
    consumers, the df aggregate and the band join); measured 1.87 ->
    1.07 s at sf0.1 vs the checkpointed df-join form, row-identical.

    Grams travel as CHAINED-TOKEN-HASH longs (:func:`_hashed_wordgrams`
    -- no 8-gram string is ever built).  The gram is key-only here (df
    aggregate + band self-join), so this is exact up to corpus-level
    64-bit collisions (two distinct grams anywhere aliasing merges their
    df and could fabricate/shift a pair) -- the q_text_linededup caveat
    class, ~|grams|^2/2^64, zero on the corpora (a test asserts
    corpus-wide distinct-gram cardinality equality directly).
    Interleaved A/B against 8-gram strings (min-of-2, both arms paying
    fresh scoped builds): 1.89 vs 2.61 s at 1x, 11.64 vs 21.80 at 10x,
    46.65 vs 85.56 at 50x (1.83x) -- 8-gram string construction was
    the single biggest cost in the build, and the gram checkpoint
    shrinks to 8-byte keys.

    The docs scan rides :func:`tables.scan_wide` keyed by doc_id: the
    sf-scale documents parquet is a single split (one row group), so
    without the pin the gram hashing of the whole corpus runs as ONE
    task (measured 0.65 s single-task at sf0.1); at real input widths
    the guard sees >= width splits and skips the exchange."""
    from .dedup import _scoped_build

    docs = load_table(spark, sf_dir, "documents")
    g = scan_wide(docs, "doc_id").select(
        "doc_id", "lang",
        F.explode(F.array_distinct(
            _hashed_wordgrams(F.col("text"), ALIGN_NGRAM))).alias("gram"))
    post = _scoped_build(
        g.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("gram")))
        .filter(F.col("df").between(ALIGN_DF_MIN, ALIGN_DF_MAX))
        .drop("df"))
    a, b = post.alias("a"), post.alias("b")
    return (
        a.join(b, (F.col("a.gram") == F.col("b.gram"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (F.col("a.lang") != F.col("b.lang")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("a.lang").alias("lang_a"),
                 F.col("b.doc_id").alias("doc_b"),
                 F.col("b.lang").alias("lang_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= ALIGN_MIN_SHARED)
    )


def q_text_linededup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span removal (the RefinedWeb/CCNet
    "duplicate line" filter, one level below doc-level dedup): cut each
    document into non-overlapping ``CHUNK_TOKENS``-token chunks, find
    chunks occurring in >= 2 DISTINCT documents, and report per doc how
    much text survives dropping them.  Within-doc repeats don't count
    (that is ``q_text_repetition``'s job); the unit here is boilerplate
    shared ACROSS pages.

    Shape at scale: chunks shuffle as 64-bit xxhash fingerprints (the
    decontam-gram trade -- counts are identical up to ~|chunks|^2/2^64
    collision odds, arrays 5x smaller); duplicate detection is one
    map-side-combinable distinct-count per chunk, the flagging a plain
    equi-join back on the fingerprint, and the rollup a per-doc
    aggregate.  No document ever compares to another document -- cost is
    O(total chunks), like the decontam join and unlike any pairwise
    dedup.  The chunk table feeds BOTH join sides, so it is materialized
    once (the dedup-family ``_scoped_build`` localCheckpoint) instead of
    re-running the split+explode per side -- measured 6.5x at 10x scale
    (10.4 s -> 1.6 s on the 50k-doc replica corpus).
    """
    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = _toks()
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)),
                        F.lit(CHUNK_TOKENS))
    from .dedup import _scoped_build

    chunks = _scoped_build(
        docs.select("doc_id", toks.alias("toks"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.xxhash64(F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("s"), CHUNK_TOKENS)))
            .alias("chunk"),
            F.least(F.lit(CHUNK_TOKENS),
                    F.size("toks") - F.col("s") + F.lit(1))
            .alias("n_in_chunk"))
    )
    dupes = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("nd"))
    is_dup = F.col("nd") >= LINEDEDUP_MIN_DOCS
    return (
        chunks.join(dupes, "chunk")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             F.sum(F.when(is_dup, 1).otherwise(0)).alias("n_dup_chunks"),
             F.sum(F.when(is_dup, 0).otherwise(F.col("n_in_chunk")))
             .alias("n_kept_tokens"))
    )


BPE_TOP_PAIRS = 30


def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies, top 30: the counting
    step of one BPE merge iteration (the inner loop of tokenizer
    vocabulary learning, run corpus-wide instead of in-memory).

    Shape: word-2-gram explode into a map-side-combinable count, then a
    global top-k that compiles to TakeOrderedAndProject -- no full sort,
    no driver-side pair table.  (n_pairs, pair) is a total order, so the
    LIMIT is deterministic.

    r18: the scan guard is declared ``light`` -- one 2-gram explode
    into a map-side-combined count is light per row; at sf0.1 the
    guard's extra stage was a -0.21 s regression (VERDICT r17 #1)
    while the 10x/50x wins (4.4x/10.3x) sit above the size threshold.
    """
    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id",
                     light=True)
    pairs = docs.select(F.explode(_wordgrams(F.col("text"), 2)).alias("pair"))
    return (
        pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), F.col("pair").asc())
        .limit(BPE_TOP_PAIRS)
    )


def _grams_sql(n: int, alias: str = "gram", cols: str = "doc_id") -> str:
    """Word n-gram rows (<cols>, <alias>) in DuckDB -- ONE definition of
    the unnest/list_transform/slice construction for every gram-based
    oracle (review finding: it was inlined at n=5 for decontam and twice
    at n=2 for bpe_pairs/repetition, three copies that must stay in
    lockstep with the Python _wordgrams)."""
    return f"""
    SELECT {cols},
           unnest(list_transform(
               range(1, greatest(len(string_split(text,' ')) - {n - 1}, 0) + 1),
               i -> array_to_string((string_split(text,' '))[i:i+{n - 1}], ' ')
           )) AS {alias}
    FROM documents
"""


_GRAMS_SQL = _grams_sql(DECONTAM_NGRAM)

# DuckDB oracle for q_text_decontam_bylang (registered round 11; the
# named constant predates registration and stays for the dedicated
# parity test).
DECONTAM_BYLANG_ORACLE = f"""
    WITH g AS ({_GRAMS_SQL}),
    bench AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g
              WHERE doc_id % 50 = 0),
    train AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 50 != 0),
    contam AS (
      SELECT doc_id, COUNT(*) AS n_hits
      FROM train JOIN bench USING (gram) GROUP BY doc_id
    )
    SELECT d.lang,
           COUNT(*) AS n_train_docs,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(SUM(COALESCE(c.n_hits, 0)) AS BIGINT) AS total_hits,
           {R('CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)', 4)}
               AS contam_rate
    FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 50 != 0) d
    LEFT JOIN contam c ON c.doc_id = d.doc_id
    GROUP BY d.lang
"""

# DuckDB oracle for q_text_novelty (registered round 11; the named
# constant predates registration and stays for the dedicated parity
# test).
NOVELTY_ORACLE = f"""
    WITH g AS (SELECT DISTINCT doc_id, gram FROM ({_GRAMS_SQL})),
    ref AS (SELECT DISTINCT gram FROM g
            WHERE doc_id % {NOVELTY_REF_MOD} = {NOVELTY_REF_REM}),
    per AS (
      SELECT tg.doc_id,
             COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN ref.gram IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_seen
      FROM (SELECT doc_id, gram FROM g
            WHERE doc_id % {NOVELTY_REF_MOD} != {NOVELTY_REF_REM}) tg
      LEFT JOIN ref ON tg.gram = ref.gram
      GROUP BY tg.doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_grams, 0) AS n_grams,
           CAST(COALESCE(n_grams, 0) - COALESCE(n_seen, 0) AS BIGINT)
               AS n_novel,
           {R('COALESCE(CAST(n_grams - n_seen AS DOUBLE) / n_grams, 0e0)', 4)}
               AS novelty
    FROM (SELECT doc_id FROM documents
          WHERE doc_id % {NOVELTY_REF_MOD} != {NOVELTY_REF_REM}) d
    LEFT JOIN per ON per.doc_id = d.doc_id
"""

ORACLES: dict[str, str] = {
    "q_text_decontam_bylang": DECONTAM_BYLANG_ORACLE,
    "q_text_novelty": NOVELTY_ORACLE,
    "q_align_crosslingual": f"""
        WITH g AS (
          SELECT DISTINCT doc_id, lang, gram
          FROM ({_grams_sql(ALIGN_NGRAM, cols="doc_id, lang")})
        ), band AS (
          SELECT gram FROM g GROUP BY gram
          HAVING COUNT(*) BETWEEN {ALIGN_DF_MIN} AND {ALIGN_DF_MAX}
        ), post AS (
          SELECT g.* FROM g JOIN band USING (gram)
        )
        SELECT a.doc_id AS doc_a, a.lang AS lang_a,
               b.doc_id AS doc_b, b.lang AS lang_b,
               COUNT(*) AS n_shared
        FROM post a JOIN post b
          ON a.gram = b.gram AND a.doc_id < b.doc_id
         AND a.lang <> b.lang
        GROUP BY 1, 2, 3, 4
        HAVING COUNT(*) >= {ALIGN_MIN_SHARED}
    """,
    "q_text_linededup": f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), c AS (
          SELECT doc_id,
                 array_to_string(list_slice(toks, s, s + {CHUNK_TOKENS - 1}),
                                 ' ') AS chunk,
                 least({CHUNK_TOKENS}, len(toks) - s + 1) AS n_in_chunk
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(
                           1, greatest(len(toks), 1), {CHUNK_TOKENS})) AS s
                FROM t)
        ), d AS (
          SELECT chunk, count(DISTINCT doc_id) AS nd FROM c GROUP BY 1
        )
        SELECT c.doc_id, count(*) AS n_chunks,
               CAST(sum(CASE WHEN d.nd >= {LINEDEDUP_MIN_DOCS}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
               CAST(sum(CASE WHEN d.nd >= {LINEDEDUP_MIN_DOCS}
                             THEN 0 ELSE c.n_in_chunk END) AS BIGINT)
                 AS n_kept_tokens
        FROM c JOIN d USING (chunk) GROUP BY 1
    """,
    "q_text_bpe_pairs": f"""
        WITH g AS ({_grams_sql(2, 'pair')})
        SELECT pair, COUNT(*) AS n_pairs FROM g GROUP BY 1
        ORDER BY n_pairs DESC, pair LIMIT {BPE_TOP_PAIRS}
    """,
    "q_text_repetition": f"""
        WITH g AS ({_grams_sql(2)}), per AS (
          SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2
        ), a AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
                 MAX(c) AS top_gram_n
          FROM per GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(n_grams, 0) AS n_grams,
               COALESCE(top_gram_n, 0) AS top_gram_n,
               {R('COALESCE(CAST(top_gram_n AS DOUBLE) / n_grams, 0e0)', 4)}
                   AS top_gram_frac,
               (COALESCE(CAST(top_gram_n AS DOUBLE) / n_grams, 0e0)
                   > {REPETITION_FRAC}) AS repetitive
        FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id
    """,
    "q_text_tfidf": f"""
        WITH tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf
          FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
          WHERE length(tok) > 0
          GROUP BY doc_id, tok
        ), dfreq AS (
          SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
        ), nd AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, tok, tf, df, score, CAST(rn AS BIGINT) AS rn FROM (
          SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
                 {R('tf.tf * nd.n_docs / dfreq.df', 6)} AS score,
                 row_number() OVER (
                     PARTITION BY tf.doc_id
                     ORDER BY {R('tf.tf * nd.n_docs / dfreq.df', 6)} DESC,
                              tf.tok ASC) AS rn
          FROM tf JOIN dfreq USING (tok) CROSS JOIN nd
        ) WHERE rn <= {TFIDF_TOP_K}
    """,
    "q_text_pii": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(text, '{PII_LONGNUM}')) AS INTEGER) AS n_longnums,
               md5(regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                                  '{PII_LONGNUM}', '<NUM>', 'g')) AS redacted_fp
        FROM documents
    """,
    "q_text_decontam": f"""
        WITH g AS ({_GRAMS_SQL}),
        bench AS (SELECT DISTINCT doc_id AS bench_id, gram FROM g WHERE doc_id % 50 = 0),
        train AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 50 != 0)
        SELECT doc_id, COUNT(*) AS n_hits, COUNT(DISTINCT bench_id) AS n_bench_docs
        FROM train JOIN bench USING (gram)
        GROUP BY doc_id
    """,
    "q_text_tokens": """
        SELECT tok, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE length(tok) > 0
        GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 50
    """,
    "q_text_stats": f"""
        SELECT lang, source, COUNT(*) AS n_docs,
               {R('AVG(n_chars)')} AS avg_chars,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM documents GROUP BY lang, source
    """,
    "q_text_tokencount": """
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_word_tokens,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_num_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique
        FROM documents
    """,
    "q_text_langid": f"""
        SELECT doc_id, lang,
               {R(f"CAST(len(list_filter(string_split(text,' '), x -> x IN ({_SW}))) AS DOUBLE)"
                  " / len(string_split(text,' '))", 4)} AS stopword_ratio,
               CASE WHEN CAST(len(list_filter(string_split(text,' '), x -> x IN ({_SW}))) AS DOUBLE)
                         / len(string_split(text,' ')) > 0.15
                    THEN 'en' ELSE 'unk' END AS pred_lang
        FROM documents
    """,
    "q_text_quality": f"""
        WITH t AS (
          SELECT doc_id, text,
                 len(string_split(text,' ')) AS n_tokens,
                 len(list_distinct(string_split(text,' '))) AS n_unique
          FROM documents
        )
        SELECT doc_id,
               CAST(n_tokens AS INTEGER) AS n_tokens,
               {R('CAST(n_unique AS DOUBLE) / n_tokens', 4)} AS ttr,
               {R('CAST(length(text) - n_tokens + 1 AS DOUBLE) / n_tokens', 4)} AS avg_tok_len,
               {R("CAST(len(regexp_extract_all(text,'[0-9]')) AS DOUBLE) / length(text)", 4)} AS digit_ratio,
               (n_tokens >= {QUALITY_MIN_TOKENS} AND CAST(n_unique AS DOUBLE) / n_tokens > {QUALITY_MIN_TTR}) AS keep
        FROM t
    """,
    "q_text_perplexity": f"""
        WITH tok AS (
          SELECT doc_id, tok
          FROM (SELECT doc_id, unnest(string_split(text,' ')) AS tok
                FROM documents)
          WHERE length(tok) > 0
        ), doc_tok AS (
          SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok
        ), counts AS (
          SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
        ), totals AS (
          SELECT CAST(SUM(c) AS BIGINT) AS n_total, COUNT(*) AS v
          FROM counts
        ), nll AS (
          SELECT tok,
                 CAST(-floor(ln(CAST(c + 1 AS DOUBLE)
                                / CAST(n_total + v AS DOUBLE)) * 1e6
                             + 5e-1) AS BIGINT) AS nll_tok
          FROM counts, totals
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_toks,
               CAST(SUM(cnt * nll_tok) AS BIGINT) AS nll_micro,
               {R('CAST(SUM(cnt * nll_tok) AS DOUBLE) / 1e6'
                  ' / CAST(SUM(cnt) AS BIGINT)', 4)} AS avg_nll
        FROM doc_tok JOIN nll USING (tok)
        GROUP BY doc_id
    """,
    "q_text_fingerprint": """
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp,
               substring(md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')), 1, 8) AS fp_bucket
        FROM documents
    """,
}

QUERIES = {
    name: fn for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
    and getattr(fn, "__module__", None) == __name__  # not re-exported imports
}
