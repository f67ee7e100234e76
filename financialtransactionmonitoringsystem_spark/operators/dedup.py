"""Deduplication family over ``documents`` / ``embeddings`` (driver
mandate: LLM-data-pipeline extensions; SURVEY.md §2.2).

Also the ingest invariant the reference lacks: duplicate ids are appended
unconditionally (``monitoring-service/src/main.rs:82-84``) -- dedup is an
explicit operator here, not an ingest side effect.

Five operators, from exact to fuzzy:

=================  =========================================  ==========
key                method                                     oracle
=================  =========================================  ==========
q_dedup_exact      hash-group on full text, keep-first        SQL
q_dedup_prefix     exact Jaccard via PPJoin prefix filter     SQL
q_dedup_minhash    MinHash + LSH banding, verified            rows-only
q_dedup_simhash    SimHash + chunk-blocked Hamming            rows-only
q_dedup_embed      embedding-cosine near-dup, label-blocked   SQL
=================  =========================================  ==========

Scale notes (the testdata corpus is 500 docs; design is for 10^9):
* exact: one shuffle on the text hash; keep-first via min-key aggregate.
* ngram: the all-pairs compare is blocked (by ``lang`` here; by LSH
  bucket at scale).  The oracle-checked query is the blocked-exact form;
  at 10^9 docs you do NOT run it -- that is exactly what MinHash is for.
* minhash: k=16 hash functions via xxhash64(token, seed_i), banded 4x4;
  candidates = docs sharing a band bucket (equi-join on (band, hash) --
  the quadratic compare never materializes); candidates are then
  verified with exact Jaccard.  Deterministic (fixed seeds).
* simhash: 48-bit signature; pigeonhole blocking on 4x12-bit chunks
  guarantees recall for Hamming distance <= 3 without an O(n^2) join.
* embed: cosine near-dup inside ``label`` blocks (IVF-style coarse
  partition at scale), with the bit-identical sequential fold used by
  all similarity operators.
"""

from __future__ import annotations

import operator
import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..artifacts import corpus_slug
from ..tables import load_table, scan_wide, shuffle_width
from ..util import rnd, sql_round as R

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
SIMHASH_BITS = 48
SIMHASH_CHUNKS = 4  # 12 bits each; Hamming <= 3 guaranteed caught
JACCARD_THRESHOLD = 0.8
# The threshold as an exact rational for the prefix-filter bounds: float
# arithmetic computes floor((1-0.8)*5) as floor(0.9999...) = 0 and
# ceil(0.8*5) as ceil(4.0000...2) = 5, silently shrinking prefixes at
# exactly the sizes where the bound is tight (caught by the adversarial
# losslessness test).  All prune math must use these integers.
JACCARD_NUM, JACCARD_DEN = 4, 5

# Embedding-cosine near-dup threshold, shared by q_dedup_embed's
# operator forms and its oracle -- ONE constant so a tune cannot
# silently desynchronize them (review finding, r12).
EMBED_NEARDUP_THRESHOLD = 0.35
assert JACCARD_NUM / JACCARD_DEN == JACCARD_THRESHOLD
# Verification emits pairs on the ROUNDED predicate rnd(J, 6) >= 0.8
# (the oracle's own form), which admits true J down to
# floor-half-up^-1(0.8) = 0.7999995 = 1599999/2000000.  The prunes must
# bound THAT acceptance region, not the bare 4/5: with 4/5 a pair whose
# true J lies in [0.7999995, 0.8) could be pruned before the verify
# join yet emitted by the all-pairs oracle (review finding).  The two
# rationals differ only for docs with >= 2,000,000 distinct tokens, so
# every test-scale artifact is byte-identical -- but the prefix/length/
# positional bounds below all use the PRUNE pair, keeping the
# byte-identity contract true at design scale too.  Prunes may only be
# MORE permissive than the verify filter, never less.
PRUNE_NUM, PRUNE_DEN = 1_599_999, 2_000_000
assert PRUNE_NUM / PRUNE_DEN < JACCARD_THRESHOLD


def _ceil_div(num: Column, den: int) -> Column:
    """ceil(num/den) for non-negative integral columns in PURE integer
    arithmetic: (num + den - 1) DIV den via IntegralDivide.  A double
    true-division here breaks the module's all-prune-math-in-integers
    invariant once num approaches 2^52 (review finding) -- the exact
    bug class JACCARD_NUM/JACCARD_DEN were introduced to kill."""
    return F.call_function(
        "div", num + F.lit(den - 1).cast("long"), F.lit(den).cast("long"))


_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse")


def _artifact_base(family: str, sf_dir: str) -> str:
    """Canonical on-disk home of one persisted corpus-artifact family:
    ``<repo>/spark-warehouse/<family>/<injective corpus slug>``.  ONE
    helper instead of five hand-rolled copies -- the copy-paste family
    is exactly where a subdir string or slug variant drifts (review
    finding; artifacts.py records the same hazard class for the
    ensure/read halves)."""
    return os.path.join(_WAREHOUSE, family, corpus_slug(sf_dir))


def _doc_fingerprint(sf_dir: str, params: dict) -> str:
    """Staleness fingerprint of a documents.parquet-derived artifact --
    the shared half of every build_*_table idempotence check."""
    from ..artifacts import corpus_fingerprint

    return corpus_fingerprint(
        [os.path.join(sf_dir, "documents.parquet")], params)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup keeping the first doc (lowest doc_id) per text.

    r17 measured NO-GUARD verdict: scan-side work is only shipping
    text into the window exchange, so tables.scan_wide was A/B'd
    marginal-to-negative (0.67 vs 0.93 s at 10x, 1.90 vs 1.54 at 50x
    -- inside the noise of an extra exchange of the text payload) and
    not applied; q_dedup_keep_best is the scale path here anyway."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("text").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority canonical selection: one representative per
    exact-duplicate group, keeping the HIGHEST-quality doc (most
    distinct tokens; lowest doc_id on ties) rather than q_dedup_exact's
    first-seen policy -- the curation-grade variant where dup groups
    span sources of different fidelity (truncated mirrors vs originals).

    Single map-side-combinable aggregate on the md5 fingerprint: the
    (quality, doc_id) preference packs into one BIGINT (distinct-token
    count * 10^10 - doc_id, |doc_id| < 10^10) so ``max_by`` is
    deterministic under quality ties -- no window, no second pass, and
    the shuffle carries 32-byte fingerprints + packed longs, never
    text.  At 100 TB this is strictly cheaper than the row_number()
    window (which must sort within groups); same pattern as
    q_agg_argmax.

    The scan rides :func:`tables.scan_wide` (r17 optimization round):
    the per-row md5 + distinct-token count fuse into the scan stage
    (A/B: 4.16 -> 2.11 s at 50x, flat at 10x)."""
    from ..tables import scan_wide

    docs = scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")
    scored = docs.select(
        "doc_id", F.md5("text").alias("fp"),
        F.size(F.array_distinct(F.split("text", " "))).alias("d"))
    key = F.expr("CAST(d AS BIGINT) * 10000000000 - doc_id")
    return (
        scored.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"),
             F.max_by("doc_id", key).alias("keep_doc"),
             F.max("d").alias("keep_distinct_toks"))
    )


def _doc_urls(docs: DataFrame) -> DataFrame:
    """Deterministic raw-URL fixture column: the documents table ships
    no URL, so each doc derives one from (source, doc_id) with the
    messy variants real crawls produce -- scheme/host case, ``www.``,
    an explicit default port, a trailing slash, tracking params in
    shuffled order, a fragment.  Construction is fixture plumbing; the
    OPERATOR under test is the canonicalizer below, which must collapse
    all variants of the same logical URL without knowing how they were
    made."""
    d = F.col("doc_id")
    s = lambda e: e.cast("string")  # noqa: E731
    scheme = F.when(d % 3 == 0, F.lit("HTTPS")) \
        .when(d % 3 == 1, F.lit("https")).otherwise(F.lit("Https"))
    host = F.concat(
        F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(d % 5 == 0, F.lit(".example.com")).otherwise(F.lit(".Example.COM")),
        # an explicit DEFAULT port (must strip) and, rarer, a genuine
        # non-default port (must KEEP -- a different origin)
        F.when(d % 7 == 0, F.lit(":443"))
        .when(d % 11 == 0, F.lit(":8443")).otherwise(F.lit("")))
    path = F.concat(F.lit("/docs/"), s(d % 40),
                    F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")))
    query = F.when(d % 2 == 0, F.concat(F.lit("?page="), s(d % 3),
                                        F.lit("&utm_source=feed"))) \
        .otherwise(F.concat(F.lit("?utm_campaign=x&page="), s(d % 3)))
    frag = F.when(d % 6 == 0, F.lit("#sec2")).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        F.concat(scheme, F.lit("://"), host, path, query, frag).alias("url"))


def canonical_url(url: Column) -> Column:
    """URL canonicalization -- the dedup key a crawl pipeline groups on
    before content dedup even starts: lowercase scheme and host, strip
    a leading ``www.`` and an explicit SCHEME-DEFAULT port (443/https,
    80/http -- a non-default port is a different origin and is KEPT),
    drop the fragment, strip a trailing slash from a non-root path,
    drop ``utm_*`` tracking params and sort the survivors.  Built on
    ``parse_url`` (JVM-side Catalyst expression) + higher-order array
    ops -- no UDF, codegen-friendly, so at 100 TB this is a pure
    scan-speed projection.

    Userinfo (``user:pass@host``) is STRIPPED -- the round-10 close of
    the ADVICE r7 residual: the old Spark side used ``parse_url(HOST)``
    (drops userinfo) while the oracle's host regex kept it (and
    truncated at a password colon), so the two diverged on any
    userinfo URL.  Both sides now derive the host from the authority
    through the SAME three regexes (strip ``^.*@`` -- GREEDY, through
    the LAST ``@``, per RFC 3986 authority parsing, so an unencoded
    ``@`` inside a password like ``u:p@ss@h.com`` cannot leak a
    credential fragment into the host (ADVICE r10); then strip
    ``:[0-9]+$``, then ``^www\\.``), identical by construction; the
    credential never reaches the dedup key, which is also the safe
    treatment for secrets accidentally present in crawl URLs."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    host = F.regexp_replace(
        F.lower(F.regexp_replace(
            F.regexp_replace(authority, r"^.*@", ""), r":[0-9]+$", "")),
        r"^www\.", "")
    # the port is recovered from the raw authority ($-anchored, so a
    # userinfo password colon can never match) and kept unless it is
    # the scheme's default
    port = F.regexp_extract(authority, r":([0-9]+)$", 1)
    default_port = ((scheme == "https") & (port == "443")) \
        | ((scheme == "http") & (port == "80"))
    port_part = F.when((port != "") & ~default_port,
                       F.concat(F.lit(":"), port)).otherwise(F.lit(""))
    # Coalesce: a path-less URL (``https://h.com?x=1``) yields a NULL
    # parse_url(PATH) which would NULL-poison the whole concat; '' is
    # what the oracle's path regex produces for the same input
    # (ADVICE r7 -- behavior fix outside the fixture domain).
    raw_path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    # strip ONE trailing slash off a non-root path (conditional, not a
    # lookbehind regex -- the oracle's RE2 engine has no lookbehind)
    path = F.when(raw_path.endswith("/") & (F.length(raw_path) > 1),
                  F.substring(raw_path, 1, F.length(raw_path) - 1)) \
        .otherwise(raw_path)
    params = F.array_sort(F.filter(
        F.split(F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit("")), "&"),
        lambda p: (p != "") & ~p.startswith("utm_")))
    return F.concat(
        scheme, F.lit("://"), host, port_part, path,
        F.when(F.size(params) > 0,
               F.concat(F.lit("?"), F.array_join(params, "&")))
        .otherwise(F.lit("")))


def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup (VERDICT r6 #4): group the corpus by
    canonical URL, reporting group size, how many distinct raw variants
    collapsed, and the kept (lowest-id) doc -- the fetch-dedup step that
    runs before any content-based dedup in a crawl pipeline.

    Shape: canonicalization is a narrow projection over the scan; the
    ``count(DISTINCT url)`` then plans as Catalyst's standard two-phase
    distinct rewrite -- partial agg on (canon, url), exchange on that
    pair, partial+final on canon, exchange on canon: exactly TWO
    exchanges, pinned in test_plans.py.  At 100 TB that first exchange
    shuffles the distinct raw-URL set; if variant counts are not worth
    that, drop ``n_variants`` (or approx_count_distinct it) and the
    plan collapses to one map-side-combinable aggregation.  No UDFs,
    no window over the full corpus.

    The scan rides :func:`tables.scan_wide` (r17 optimization round):
    URL construction + canonicalization regexes fuse into the scan
    stage (A/B: 3.47 -> 1.82 s at 50x, 1.12 -> 0.98 at 10x).  r18:
    declared ``light`` -- regex projection over a (doc_id, source)
    payload is cheap per row, and at sf0.1 the guard's extra stage
    cost -0.15 s for nothing (VERDICT r17 #1); the 10x/50x wins sit
    above the size threshold."""
    from ..tables import scan_wide

    urls = _doc_urls(scan_wide(load_table(spark, sf_dir, "documents"),
                               "doc_id", light=True))
    return (
        urls.select("doc_id", "url", canonical_url(F.col("url")).alias("canon"))
        .groupBy(F.col("canon").alias("canonical_url"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.countDistinct("url").alias("n_variants"),
             F.min("doc_id").alias("keep_doc"))
    )


def _tok_sets(docs: DataFrame) -> DataFrame:
    """Distinct token sets as 64-bit xxhash fingerprints, not strings.

    Every downstream consumer (prefix table, candidate equi-joins,
    ``array_intersect`` verification) compares tokens for EQUALITY only,
    so fingerprints preserve results exactly up to hash collisions
    (odds ~|vocab|^2/2^64) while shrinking the shuffled arrays ~5x and
    replacing per-pair string comparison with 8-byte long comparison --
    measured 40%+ off the verify joins at sf0.1.  Same trade as the
    decontam gram keys (text.py)."""
    return docs.select(
        "doc_id", "lang",
        F.array_distinct(
            F.transform(F.split("text", " "), lambda t: F.xxhash64(t))
        ).alias("toks"),
    ).withColumn("n_toks", F.size("toks"))


def _jaccard(a_toks: Column, b_toks: Column, na: Column, nb: Column) -> Column:
    inter = F.size(F.array_intersect(a_toks, b_toks))
    return inter.cast("double") / (na + nb - inter)


def _tokens_fingerprint(sf_dir: str) -> str:
    return _doc_fingerprint(sf_dir, {"algo": "xxhash64-token-sets"})


def _tok_base(sf_dir: str) -> str:
    return _artifact_base("tok_sets", sf_dir)


def build_token_table(spark: SparkSession, sf_dir: str) -> str:
    """Build and PERSIST the corpus token-set table (doc_id, lang,
    toks[bigint], n_toks): tokenization is a property of the corpus, not
    of any one query, so at scale it runs once per corpus snapshot and
    every dedup query (prefix index, MinHash signatures, exact-Jaccard
    verification) reads the compact fingerprint table instead of
    re-splitting 100 TB of text per query.  Same fingerprinted-marker
    idempotence as the IVF index / cluster table (ADVICE r3/r4)."""
    from ..artifacts import ensure_parquet_artifact

    return ensure_parquet_artifact(
        _tok_base(sf_dir), "tok_sets", _tokens_fingerprint(sf_dir),
        lambda: _tok_sets(
            scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")))


def corpus_tok_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus token-set table: the :func:`build_token_table`
    artifact when one is current for this corpus snapshot, else the
    inline tokenization pipeline -- value-identical either way (the
    build persists exactly the inline computation)."""
    from ..artifacts import parquet_artifact_or

    return parquet_artifact_or(
        spark, _tok_base(sf_dir), "tok_sets", _tokens_fingerprint(sf_dir),
        lambda: _tok_sets(
            scan_wide(load_table(spark, sf_dir, "documents"), "doc_id")))


def _prefix_fingerprint(sf_dir: str) -> str:
    return _doc_fingerprint(
        sf_dir, {"algo": "prefix-index", "jaccard_num": JACCARD_NUM,
                 "jaccard_den": JACCARD_DEN,
                 "prune": (PRUNE_NUM, PRUNE_DEN)})


def _prefix_base(sf_dir: str) -> str:
    return _artifact_base("prefix_index", sf_dir)


def build_prefix_index(spark: SparkSession, sf_dir: str) -> str:
    """Build and PERSIST the corpus prefix-token index (doc_id, lang,
    tok, pos, n_toks) -- the artifact :func:`q_dedup_incremental`'s
    design depends on: a daily delta probes THIS index instead of
    re-deriving prefixes for the whole corpus (explode + global token
    frequencies + per-doc rarest-first ranking, the expensive half of
    exact dedup).  Fingerprinted like the token table."""
    from ..artifacts import ensure_parquet_artifact

    return ensure_parquet_artifact(
        _prefix_base(sf_dir), "prefix", _prefix_fingerprint(sf_dir),
        lambda: _prefix_table(
            scan_wide(corpus_tok_sets(spark, sf_dir), "doc_id")))


def corpus_prefix_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus prefix index: persisted artifact when current, else
    the inline derivation materialized once via :func:`_scoped_build`
    (the artifact read needs no checkpoint -- parquet IS the
    materialization)."""
    from ..artifacts import parquet_artifact_or

    return parquet_artifact_or(
        spark, _prefix_base(sf_dir), "prefix", _prefix_fingerprint(sf_dir),
        lambda: _scoped_build(_prefix_table(
            scan_wide(corpus_tok_sets(spark, sf_dir), "doc_id"))))


def _jaccard_accepts(ta_toks: Column, tb_toks: Column,
                     na: Column, nb: Column) -> Column:
    """The verify acceptance predicate ``rnd(J, 6) >= 0.8`` in EXACT
    integer form, evaluating ONE ``array_intersect`` (r17 optimization
    round, guide §1/§4: the double-path form ``rnd(i/(na+nb-i), 6) >=
    t`` evaluates the intersection twice per probed pair inside a join
    condition, where -- unlike in a Project -- codegen performs no
    common-subexpression elimination).

    Equivalence is the module's own PRUNE derivation read as an
    acceptance, not a prune: rnd(J,6) >= 0.8 admits exactly true
    J >= 1599999/2000000 (the constants-block comment above), and with
    i = |A∩B|, u = na+nb-i that region is i*(p+q) >= p*(na+nb) in
    exact integers.  The old double path decides identically for every
    reachable input: the nearest rational i/u can sit to the boundary
    without equality is ~1/(u*q), equality itself needs q | u (i.e.
    u >= 2,000,000 distinct tokens), and double rounding error is
    orders of magnitude below that separation for any u < 2^31.
    Row-identity with the double path was additionally verified
    empirically on the sf0.1 corpus (exceptAll both ways = 0 over the
    758,890-pair prefix verify).  ``na``/``nb`` must already be cast
    to long (callers' residuals do the same)."""
    i = F.size(F.array_intersect(ta_toks, tb_toks)).cast("long")
    return (i * F.lit(PRUNE_NUM + PRUNE_DEN).cast("long")
            >= F.lit(PRUNE_NUM).cast("long") * (na + nb))


def _verify_jaccard(cands: DataFrame, toksets: DataFrame,
                    threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact-Jaccard verification of a candidate-pair table: two plain
    shuffle equi-joins on doc_id against the corpus token table (never a
    forced broadcast of the corpus side -- round-2 VERDICT #2).

    The token pipeline appears twice in the plan (once per join side)
    and is NOT persisted: tokenization is a narrow JVM-side map over the
    scan, and an unscoped persist here leaked cache across the parity
    run (VERDICT r4 #5).  An explode + pair-keyed-aggregate form that
    reads the token table once was tried and measured 5x SLOWER at
    sf0.1: it shuffles every candidate's token arrays into the
    aggregate, while the hash joins only probe with them.  At 100 TB the
    re-tokenization cost moves to a persisted token-table artifact (the
    IVF/cluster-table pattern), not a query-lifetime cache.

    r17 optimization-round change: the threshold filter runs as
    :func:`_jaccard_accepts` -- the exact integer acceptance inside
    the second join's condition, one intersection per probed pair --
    and the ``jaccard`` output column is computed only for survivors.
    The previous form's pushed-down ``rnd(j,6) >= t`` filter evaluated
    ``array_intersect`` twice per PROBED pair (join-condition codegen
    has no common-subexpression elimination).  Interleaved A/B on the
    prefix-candidate pipeline at sf0.1 (min-of-3, warm artifacts):
    3.68 -> 2.73 s end-to-end (1.35x), row-identical output."""
    assert threshold == JACCARD_NUM / JACCARD_DEN, \
        "the integer acceptance bound (_jaccard_accepts) is derived " \
        "for the fixed module threshold"
    a = toksets.alias("ta")
    b = toksets.alias("tb")
    na, nb = F.col("ta.n_toks").cast("long"), F.col("tb.n_toks").cast("long")
    j = _jaccard(F.col("ta.toks"), F.col("tb.toks"),
                 F.col("ta.n_toks"), F.col("tb.n_toks"))
    return (
        cands.join(a, cands.doc_a == F.col("ta.doc_id"))
        .join(b, (cands.doc_b == F.col("tb.doc_id"))
              & _jaccard_accepts(F.col("ta.toks"), F.col("tb.toks"), na, nb))
        .select("doc_a", "doc_b", rnd(j, 6).alias("jaccard"))
    )


def prefix_candidates(docs: DataFrame,
                      threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """EXACT near-dup candidates via positional prefix filtering (the
    All-Pairs/PPJoin principle): for Jaccard >= t, |A∩B| >= t·|A|, so two
    qualifying sets MUST share a token among the first
    floor((1-t)·|X|)+1 tokens of any shared canonical token order.
    Ordering tokens rarest-first makes those prefix tokens the most
    selective ones -- stopwords never land in a prefix -- so the
    candidate join is an equi-join on (lang, rare token) with small
    buckets, not an all-pairs product.  Two further lossless PPJoin
    prunes run as join residuals before the expensive verify:

    * length filter: J >= t forces t*|B| <= |A| (and symmetrically), so
      size-mismatched pairs drop without touching their tokens;
    * positional filter: every common token appears at canonical
      position >= p in each doc, so overlap <= 1 + min(|A|-pA, |B|-pB);
      J >= t needs overlap >= t/(1+t)*(|A|+|B|).  A qualifying pair's
      FIRST shared token always satisfies this, so keeping pairs where
      any matched row passes loses nothing.

    Recall is exactly 1 by the prefix property, unlike MinHash banding.
    """
    assert threshold == JACCARD_NUM / JACCARD_DEN, \
        "prune bounds are derived for the fixed module threshold " \
        "(PRUNE_NUM/PRUNE_DEN relax it to the rounded acceptance region)"
    return _prefix_join(_prefix_table(_tok_sets(docs)))


def _prefix_table(toksets: DataFrame) -> DataFrame:
    """Rarest-first prefix-token table (doc_id, lang, tok, pos, n_toks)
    from a token-set table (:func:`_tok_sets` / :func:`corpus_tok_sets`):
    the tokens a qualifying partner MUST share one of.  Any fixed
    frequency order is lossless (the prefix principle needs only the
    prefix LENGTH); frequency order is selectivity only."""
    p, q = PRUNE_NUM, PRUNE_DEN
    tok = toksets.select("doc_id", "lang", "n_toks", F.explode("toks").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("gf"))
    joined = tok.join(freq, "tok")
    w = W.partitionBy("doc_id").orderBy(F.col("gf").asc(), F.col("tok").asc())
    # Smallest qualifying overlap with ANY partner is ceil(t*n) (at the
    # minimum partner size t*n), so the prefix is n - ceil(t*n) + 1
    # tokens; ceil in pure integer arithmetic (_ceil_div), operands
    # widened to long so p * n_toks cannot wrap 32-bit.
    min_overlap_self = _ceil_div(p * F.col("n_toks").cast("long"), q)
    return (
        joined
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= F.col("n_toks") - min_overlap_self + 1)
        .select("doc_id", "lang", "tok", "pos", "n_toks")
    )


def _prefix_join(pref: DataFrame) -> DataFrame:
    """The prefix self-join with its length + positional residuals, as a
    lazy plan over the given prefix table (see :func:`prefix_candidates`
    for the bounds derivation).

    r18 optimization round -- the PPJoin ASYMMETRIC (indexing) prefix
    (VERDICT r17 #2, candidate-count reduction; lossless by the same
    first-common-token argument as the base prefix filter): order each
    pair by size (ties by doc_id) and give the pair's SMALLER side a
    SHORTER prefix.  For a qualifying pair with na <= nb the overlap
    satisfies i >= p/(p+q)*(na+nb) >= 2p/(p+q)*na, and the first
    common token in the global canonical (gf, tok) order lies within
    the first |X| - i + 1 tokens of EACH doc X (its i-1 other common
    tokens all rank behind it), hence within the smaller doc's first
    na - ceil(2p*na/(p+q)) + 1 rows AND the larger doc's stored
    probing prefix (nb - ceil(p*nb/q) + 1 rows, the length-filter
    bound nb <= (q/p)*na giving i >= p/(p+q)*(1+p/q)*nb = (p/q)*nb).
    At t=0.8 the indexing prefix is ~11.1% of tokens vs the stored
    20%, shrinking the hot posting lists on the join's index side; the
    artifact stores ``pos``, so the shorter prefix is a pure filter
    over the persisted table -- no artifact or fingerprint change.
    Candidates come out (smaller, larger); the final select restores
    the (doc_a < doc_b by id) orientation the verify and oracle
    expect.

    Measured at sf0.1 (OPTIMIZATION_r18.md): index rows 26,103 ->
    15,987 and raw (tok, lang) hash hits 22,940,687 -> 15,244,254
    (-34%) -- but matched rows (3,229,006) and distinct candidates
    (1,564,479) are UNCHANGED, because the positional residual already
    kills every row the shorter prefix removes (a row with a.pos past
    the indexing prefix has ub = 1 + na - a.pos < 2p/(p+q)*na <=
    p/(p+q)*(na+nb), on either side of the old id-ordering).  I.e. on
    this join formulation the asymmetric prefix cannot reduce the
    candidate count (VERDICT r17 #2's hoped-for lever) -- what it
    saves is the residual evaluation on the ~7.7M hash hits that used
    to be enumerated and then rejected, plus 39% of the index-side
    exchange.  Output byte-identical (exceptAll both ways = 0 on
    candidates AND on the 758,890-pair verify output) and oracle
    MATCH at sf0.01 + sf0.1."""
    p, q = PRUNE_NUM, PRUNE_DEN
    k_idx = _ceil_div(F.lit(2 * p).cast("long") * F.col("n_toks").cast("long"),
                      p + q)
    short = pref.filter(
        F.col("pos") <= F.col("n_toks").cast("long") - k_idx + 1)
    size_order = (F.col("a.n_toks") < F.col("b.n_toks")) | (
        (F.col("a.n_toks") == F.col("b.n_toks"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
    return (
        _prefix_probe(short, pref, size_order)
        .select(F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"))
    )


def _prefix_probe(index: DataFrame, probe: DataFrame,
                  pair_cond: Column) -> DataFrame:
    """Prefix-filtered candidate join of a probe prefix table against an
    index prefix table (both from :func:`_prefix_table`), with the
    lossless length + positional residuals (bounds derivation at
    :func:`prefix_candidates`).  ``pair_cond`` carves the pair space:
    ``a.doc_id < b.doc_id`` for the self-join, always-true for a
    disjoint delta/corpus split (:func:`q_dedup_incremental`).

    Kept as once-per-shared-token emission + pair-table ``.distinct()``
    DELIBERATELY (r15 free-swap decision, measured): the min-token
    exactly-once residual that won 6.2x for :func:`_band_join` LOSES
    here at every scale (0.68x/0.42x/0.72x at 1x/10x/50x, interleaved
    A/B) -- prefix-pair duplication is only ~2.06x and the pair rows
    are 16 bytes, so the distinct is cheap, while the residual's
    array_intersect over both docs' ordered prefix arrays (parr) had
    to run on every one of the ~2x-more matched rows.  Opposite
    economics from the band join, where duplication spans bands that
    hash to different partitions and the residual is three fixed long
    comparisons.  Full measurements in PLANS.md (round 15).

    r17 optimization round: the index side rides
    :func:`tables.scan_wide` ON ``doc_id``, NOT on the join keys.
    Without any pin the pair ENUMERATION runs at the parallelism of
    the prefix-artifact FILE SCAN -- a few-hundred-KB parquet = ONE
    task emitting all 3.2M matched rows at sf0.1 (measured: the
    join-only stage is 1.45 s single-task vs 0.38 s pinned;
    q_dedup_prefix end-to-end 3.22 -> 1.94 s).  The pin key matters,
    and differs from the band/chunk joins' join-key pin for a measured
    reason: prefix-token posting lists are Zipfian, so hashing on
    (tok, lang) lands every hot token's whole posting in ONE partition
    -- the enumeration work per streamed row is |posting(tok)|, so
    join-key partitioning concentrates exactly the heaviest rows
    (replica sweep: 14.62 s at 10x / 64.87 s at 50x vs the unpinned
    5.14 / 25.78 record) -- AND a user repartition is ineligible for
    AQE skew-join splitting, which only rewrites ENSURE_REQUIREMENTS
    exchanges.  Hashing on ``doc_id`` spreads each posting across all
    partitions (each doc contributes a few prefix rows), keeps the
    local BHJ enumeration balanced, and at cluster scale leaves the
    SMJ's own (tok, lang) exchange to ENSURE_REQUIREMENTS where AQE's
    skew splitter can still operate on it.  The band join adopted the
    same doc_id key later in the round once its buckets were measured
    to be duplicate-CLUSTER-sized rather than uniform (see
    :func:`_band_join`); the chunk join keeps its join-key pin because
    the same A/B measured no difference there (smaller buckets, and
    its per-matched-row residual is three fixed bit ops, not an
    array intersection).

    The pin is GATED on the index scan actually being narrower than
    the target width: once the artifact spans >= width input splits
    (the 50x replicas and any production corpus), the scan itself
    provides the parallelism and the extra exchange is pure cost --
    the controlled 4-variant A/B (PLANS r17-opt record) measured
    pin-wins at 1x/10x (1.59/3.39 vs 3.64/3.93 unpinned) and pin-loses
    at 50x (20.9 vs 17.8), exactly the crossover this gate encodes."""
    p, q = PRUNE_NUM, PRUNE_DEN
    a = scan_wide(index, "doc_id").alias("a")
    b = probe.alias("b")
    # widened to long: with the million-scale PRUNE rationals an int32
    # product q * n_toks wraps for any doc past ~1.3k tokens
    na, nb = F.col("a.n_toks").cast("long"), F.col("b.n_toks").cast("long")
    overlap_ub = F.lit(1).cast("long") \
        + F.least(na - F.col("a.pos"), nb - F.col("b.pos"))
    return (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.lang") == F.col("b.lang"))
               & pair_cond
               # length filter, exact integers: t*nb <= na and t*na <= nb
               & (q * na >= p * nb) & (q * nb >= p * na)
               # positional filter: overlap_ub >= t/(1+t)*(na+nb), cleared
               # of the division: ub*(p+q) >= p*(na+nb)
               & (overlap_ub * (p + q) >= p * (na + nb)))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _scoped_build(build_side: DataFrame) -> DataFrame:
    """Materialize a self-join's build table ONCE -- the scoped
    replacement for the old unscoped ``persist`` (VERDICT r4 #5).  The
    self-join's two sides then read the same blocks instead of
    recomputing the derivation pipeline per side (measured 3x slower
    end-to-end at sf0.1 without any reuse), the downstream join/verify
    stays lazy and fuses into the caller's single action, and nothing
    registers in the DataFrame cache manager.  Build tables here are
    O(|docs| * prefix/band/chunk factor) -- derived, bounded, and orders
    of magnitude smaller than the exploded intermediates that produce
    them.  Corpus-sized intermediates shared by several consumers
    (tfidf's per-doc tf table, linededup's chunk table, the novelty
    reference grams) go through here too: one write beats re-deriving
    per consumer at bench scale (round 9, align's gram table:
    checkpoint -35% at sf0.1).

    An eager ``localCheckpoint``: blocks are reference-tracked and
    reclaimed by the ContextCleaner when the frame goes out of scope.
    """
    return build_side.localCheckpoint(eager=True)


def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs at scale: prefix-filtered
    candidates + exact verification.  Produces BYTE-IDENTICAL results to
    the blocked all-pairs join its oracle spells out (prefix filtering is
    lossless) without ever materializing the blocked all-pairs product
    -- this is the scale path for *exact* dedup, alongside MinHash for
    the approximate trade.  The all-pairs self-join itself is quadratic
    in block size by construction (21 s at 1x, >560 s at 10x on the
    replica corpora)."""
    cands = _prefix_join(corpus_prefix_table(spark, sf_dir))
    return _verify_jaccard(
        cands, corpus_tok_sets(spark, sf_dir).select("doc_id", "toks", "n_toks"))


# Deterministic delta/corpus split for the incremental form: doc_ids
# congruent to DELTA_REM mod DELTA_MOD are "today's batch" (5%), the rest
# the already-ingested corpus.
DELTA_MOD, DELTA_REM = 20, 7


def _is_delta() -> Column:
    return F.col("doc_id") % DELTA_MOD == DELTA_REM


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission: the daily-ingest shape of dedup.

    A 100 TB corpus is not re-deduplicated per ingest; the new delta is
    checked AGAINST the corpus.  Admit a delta doc iff no corpus doc in
    its lang block has token-set Jaccard >= t with it; output = admitted
    delta rows.  Same exact prefix-filter machinery as
    :func:`q_dedup_prefix`, but the candidate join probes delta prefixes
    against the corpus prefix index instead of self-joining -- work is
    O(|delta| x bucket), independent of corpus pair count.

    Scale: the corpus prefix table is a persisted artifact (the
    cluster-table/IVF pattern) bucketed on (lang, tok), so a daily run
    tokenizes and shuffles ONLY the delta; admitted docs' prefixes
    append to the index afterwards.  Within-delta duplicates are left to
    the next compaction's full dedup -- admission is corpus-gated, which
    keeps the operator associative across concurrent ingest batches.
    """
    docs = load_table(spark, sf_dir, "documents")
    pref = corpus_prefix_table(spark, sf_dir).withColumn("is_delta", _is_delta())
    cands = _prefix_probe(pref.filter(~F.col("is_delta")),
                          pref.filter(F.col("is_delta")), F.lit(True))
    rejected = (
        _verify_jaccard(cands, corpus_tok_sets(spark, sf_dir)
                        .select("doc_id", "toks", "n_toks"))
        .select(F.col("doc_b").alias("doc_id")).distinct()
    )
    return (
        docs.filter(_is_delta())
        .join(rejected, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


def minhash_signatures(toksets: DataFrame, k: int = N_MINHASH) -> DataFrame:
    """(doc_id, min_0..min_{k-1}): k min-hashes over the distinct token
    set, using xxhash64(token_fp, seed) as the hash family
    (deterministic; the input is the 64-bit token fingerprint table of
    :func:`_tok_sets` / :func:`corpus_tok_sets`, so each of the k hashes
    mixes an 8-byte long instead of re-hashing the token string).

    Computed per row with ``transform`` + ``array_min`` higher-order
    functions: the whole signature stage is a narrow map over its input
    -- no explode, no shuffle.  (The earlier explode + groupBy(doc) form
    shuffled the entire exploded token table just to put each doc's
    tokens back together; byte-identical results, one less exchange, and
    at corpus scale the exchange was O(total tokens).)"""

    def _hasher(i: int):
        # one-arg lambda on purpose: transform() passes the element INDEX
        # to two-arg lambdas, which would silently replace the seed
        return lambda t: F.xxhash64(t, F.lit(i))

    mins = [
        F.array_min(F.transform("toks", _hasher(i))).alias(f"min_{i}")
        for i in range(k)
    ]
    return toksets.select("doc_id", "lang", "n_toks", *mins)


def lsh_candidates(sig: DataFrame, n_bands: int = N_BANDS,
                   k: int = N_MINHASH) -> DataFrame:
    """Candidate pairs = docs agreeing on at least one LSH band.

    Bands explode to (doc, band, band_hash); candidates come from an
    equi-join of that table with itself on (lang, band, band_hash).  A
    collect_list-per-bucket pair expansion was tried and is worse under
    bucket skew: one 1000-doc bucket becomes a single row holding a
    500k-struct array built by one task.  Lazy composition for plan
    tests; ``q_dedup_minhash`` runs it through
    :func:`_scoped_build` so the band table (O(|docs| * n_bands) --
    tiny next to the token explode that produced it) is materialized
    once for the self-join without leaking a cache entry across the run
    (without any reuse the self-join recomputes the whole signature
    aggregation per side; spark.ml's MinHashLSH caches at the same
    point).
    """
    return _band_join(_band_table(sig, n_bands, k))


def _band_table(sig: DataFrame, n_bands: int = N_BANDS,
                k: int = N_MINHASH) -> DataFrame:
    """Exploded LSH band table (doc_id, lang, n_toks, band, bh, bhs).

    ``bhs`` carries the doc's FULL band-hash vector (n_bands longs) on
    every exploded row: it is what lets :func:`_band_join` emit each
    candidate pair exactly once -- from its smallest shared band -- as a
    pure join residual instead of a pair-table DISTINCT.  +8 longs per
    row of a docs*n_bands table vs. removing a candidate-pair-sized
    exchange (the r15 profile: the distinct was ~2/3 of the whole
    q_dedup_minhash runtime at 10x, and the pre-distinct pair table it
    shuffles is ~2x the distinct output).

    ``band`` carries {n_bands} as COLUMN METADATA (the
    :func:`_chunk_table` pattern; survives parquet round-trips and
    localCheckpoint) so :func:`_band_join` sizes its min-band residual
    from the table itself -- a review-confirmed bug had
    ``lsh_candidates(sig, n_bands=8)`` build an 8-band table whose
    join residual was still hard-coded to the default width, silently
    re-emitting pairs whose only shared bands were >= N_BANDS."""
    rows_per_band = k // n_bands
    bhs = F.array(*[
        F.xxhash64(*[F.col(f"min_{b * rows_per_band + r}")
                     for r in range(rows_per_band)])
        for b in range(n_bands)
    ])
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.col("bhs").getItem(b).alias("bh"))
        for b in range(n_bands)
    ])
    return (sig.select("doc_id", "lang", "n_toks", bhs.alias("bhs"))
            .select("doc_id", "lang", "n_toks", "bhs",
                    F.explode(bands).alias("b"))
            .select("doc_id", "lang", "n_toks",
                    F.col("b.band").alias(
                        "band", metadata={"n_bands": n_bands}),
                    F.col("b.bh").alias("bh"), "bhs"))


def _pinned_repartition(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` at an EXPLICIT width -- the
    one shared copy of the exactly-once candidate joins' exchange
    mechanism (review finding: it was duplicated between the band and
    chunk joins, and the non-obvious rationale must not drift).

    Why explicit and why at all (both measured, r15): removing the
    pair-table distinct removed those plans' ONLY exchange, so the
    fused candidate-join + verify pipeline ran at the parallelism of a
    few-MB artifact FILE SCAN (one task; 2.6x slower end-to-end); and
    a bare repartition(cols) is AQE-coalescable, where AQE sizes by
    the exchange's MAP OUTPUT -- the small build table -- blind to the
    million-pair join fan-out downstream, so it coalesced straight
    back to ONE partition.  Fan-out joins are exactly where AQE's size
    heuristics are blind; an exchange whose width must survive a
    fan-out needs an explicit count.  At cluster scale an SMJ requires
    this same hash partitioning, so the exchange is absorbed into
    ENSURE_REQUIREMENTS instead of doubling up.  The width is
    :func:`tables.shuffle_width`."""
    return df.repartition(shuffle_width(df.sparkSession),
                          *[F.col(k) for k in keys])


def _band_join(exploded: DataFrame) -> DataFrame:
    """Band-bucket candidate join, each pair emitted EXACTLY ONCE.

    A pair sharing several bands matches the equi-join once per shared
    band; the classic fix -- ``.distinct()`` on the pair table -- is a
    full exchange + aggregate of every (pair, shared band) match, and
    the r15 profile measured it as ~2/3 of q_dedup_minhash's runtime
    (10x replica: 17.0 s of 19.7 s total; the exchange is
    corpus-PAIR-sized, the one thing a 100 TB dedup must never shuffle
    twice).  Instead the join keeps a match only when the joined band
    is the SMALLEST index on which the pair collides: both sides carry
    their full band-hash vector (``bhs``), and a static
    OR-over-(n_bands-1) residual rejects any match with an earlier
    shared band.  Exactly one band survives per candidate pair (the
    minimum always exists and is unique), so the output is
    duplicate-free BY CONSTRUCTION -- set-identical to the distinct
    form (:func:`_band_join_distinct`, the reference of
    ``q_dedup_minhash``, which has no oracle) with zero post-join
    exchange on the PAIR table.

    The probe side rides :func:`_pinned_repartition` (rationale and
    both measured hazards documented there) ON ``doc_id``, NOT on the
    join keys -- the same key choice as :func:`_prefix_probe`, reached
    by the same measurement in the r17 optimization round.  Band
    buckets are NOT uniform just because band hashes are: a
    duplicate CLUSTER of d near-identical docs shares one band hash,
    so the hottest bucket is cluster-sized (sf0.1: 1082 docs in one
    (band, bh, lang) bucket; ~29% of all 1.25M candidate pairs landed
    in ONE task), and because the downstream verify joins are
    broadcast probes PIPELINED into this stage, that one task also ran
    ~29% of the array_intersect verify work.  Hashing the probe side
    on ``doc_id`` spreads every bucket's rows (and therefore its pair
    fan-out AND its share of the fused verify) uniformly: full
    q_dedup_minhash 2.18 -> 0.69 s at sf0.1 (interleaved A/B min-of-3,
    exceptAll both ways = 0).  At cluster scale the SMJ's own
    (band, bh, lang) exchange comes from ENSURE_REQUIREMENTS, where
    AQE's skew splitter can still operate on it -- a user repartition
    on the join keys is exactly the exchange that splitter cannot
    rewrite (the :func:`_prefix_probe` argument, verbatim).

    The residual width comes
    from the {n_bands} column metadata :func:`_band_table` stamps on
    ``band``, so a non-default-width table cannot silently run under
    the default residual (review-confirmed bug: ``lsh_candidates(sig,
    n_bands=8)`` used to re-emit pairs whose only shared bands were
    >= N_BANDS)."""
    meta = exploded.schema["band"].metadata
    if "n_bands" not in meta:
        raise ValueError(
            "_band_join: the band table carries no {n_bands} column "
            "metadata -- rebuilt from a pre-r15 artifact? "
            "build_band_table re-creates it (the artifact fingerprint's "
            "layout param forces this).")
    n_bands = int(meta["n_bands"])
    a = _pinned_repartition(exploded, "doc_id").alias("a")
    b = exploded.alias("b")
    # Length filter as a join residual (same exact bound as the prefix
    # join, integer rational): J >= t forces t*|B| <= |A| <= |B|/t, and
    # the verify step would reject such pairs anyway -- prune them before
    # the expensive token-array join, not after.  PRUNE rationals + long
    # widening for the same rounded-acceptance-region / int32-wrap
    # reasons as _prefix_probe.
    p, q = PRUNE_NUM, PRUNE_DEN
    na, nb = F.col("a.n_toks").cast("long"), F.col("b.n_toks").cast("long")
    # Min-band residual: the joined rows agree on `band` (equi-key), so
    # "no earlier shared band" over a.band alone is the pair property.
    # Seeded with lit(False) so n_bands=1 -- a legal width whose only
    # band can never have an earlier twin -- degrades to no residual
    # instead of a reduce-over-empty TypeError (ADVICE r15); Catalyst's
    # BooleanSimplification folds the seed away, so multi-band plans
    # are byte-identical.
    shared_earlier = reduce(operator.or_, [
        (F.col("a.band") > j)
        & (F.col("a.bhs").getItem(j) == F.col("b.bhs").getItem(j))
        for j in range(n_bands - 1)
    ], F.lit(False))
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (q * na >= p * nb) & (q * nb >= p * na)
               & ~shared_earlier)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )


def _band_join_distinct(exploded: DataFrame) -> DataFrame:
    """The once-per-shared-band + DISTINCT band join: the reference for
    :func:`_band_join`'s min-band residual, which must produce the same
    candidate-pair SET on any input.  ``q_dedup_minhash`` has no oracle,
    so this form is its only reference."""
    p, q = PRUNE_NUM, PRUNE_DEN
    a = exploded.alias("a")
    b = exploded.alias("b")
    na, nb = F.col("a.n_toks").cast("long"), F.col("b.n_toks").cast("long")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (q * na >= p * nb) & (q * nb >= p * na))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _band_fingerprint(sf_dir: str) -> str:
    # "layout" joined the params in r15: the band table now carries the
    # full band-hash vector (bhs) per row for the min-band residual, so
    # pre-r15 persisted band tables must read as stale and rebuild.
    return _doc_fingerprint(
        sf_dir, {"algo": "minhash-band", "k": N_MINHASH, "bands": N_BANDS,
                 "layout": "minband-bhs-meta"})


def _band_base(sf_dir: str) -> str:
    return _artifact_base("band_table", sf_dir)


def build_band_table(spark: SparkSession, sf_dir: str) -> str:
    """Build and PERSIST the corpus MinHash band table (doc_id, lang,
    n_toks, band, bh, bhs -- the full band-hash vector per row, which
    :func:`_band_join`'s exactly-once min-band residual reads; {n_bands}
    rides as column metadata on ``band``): in a production MinHash
    pipeline the signatures
    ARE the persisted index -- computed once per corpus snapshot, probed
    by every dedup run and by delta admission -- so the band table gets
    the same fingerprinted-marker idempotence as the prefix index and
    token table.  The build itself reads the token-table artifact, so a
    full cold build is still one pass over the corpus text."""
    from ..artifacts import ensure_parquet_artifact

    return ensure_parquet_artifact(
        _band_base(sf_dir), "bands", _band_fingerprint(sf_dir),
        lambda: _band_table(minhash_signatures(
            scan_wide(corpus_tok_sets(spark, sf_dir), "doc_id"))))


def corpus_band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus band table: the :func:`build_band_table` artifact when
    current, else the inline derivation materialized once via
    :func:`_scoped_build` (the self-join needs ONE materialization
    either way; parquet serves as it for the artifact path)."""
    from ..artifacts import parquet_artifact_or

    return parquet_artifact_or(
        spark, _band_base(sf_dir), "bands", _band_fingerprint(sf_dir),
        lambda: _scoped_build(
            _band_table(minhash_signatures(
                scan_wide(corpus_tok_sets(spark, sf_dir), "doc_id")))))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection: band-bucket candidates, then exact
    Jaccard verification.  Probabilistic recall -> rows-only check; a
    test asserts candidates are a subset of (and near-complete vs) the
    exact answer, ``q_dedup_prefix``'s DuckDB oracle.

    Candidates come from the persisted band-table artifact when one is
    current (signature computation is per-corpus work, not per-query
    work -- :func:`build_band_table`), else from the inline derivation.

    The verify step joins the (small) candidate-pair table to the corpus
    token table with plain shuffle equi-joins on doc_id -- NEVER a forced
    broadcast of the corpus side, which would OOM the driver at 10^9 docs
    (round-2 VERDICT "What's wrong" #2).  At test scale Catalyst may still
    pick a stats-driven broadcast; that choice reverses itself when the
    stats grow, a hint does not.  test_plans pins the no-forced-broadcast
    property.
    """
    cands = _band_join(corpus_band_table(spark, sf_dir))
    return _verify_jaccard(
        cands, corpus_tok_sets(spark, sf_dir)
        .select("doc_id", "toks", "n_toks"))


def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §2.2's `q_dedup_fuzzy` key: the canonical fuzzy near-dup
    operator is MinHash+LSH with exact-Jaccard verification (probabilistic
    recall -> rows-only check; ``q_dedup_prefix`` is the oracle-checked
    exact answer of the same predicate)."""
    return q_dedup_minhash(spark, sf_dir)


def simhash_signatures(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash: sign-sum of token-hash bits.

    One sequential ``aggregate`` over the token array folds all ``bits``
    sign-sums at once (hash each token once, ``zip_with`` the +-1 bit
    vector into the accumulator) -- a narrow per-row map, where the old
    explode + groupBy(doc) form shuffled the whole exploded token table
    to reassemble docs.  Integer addition commutes, so the signatures
    are byte-identical to the aggregated form."""
    toks = F.array_distinct(F.split("text", " "))
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    sums = F.aggregate(
        F.transform(toks, lambda t: F.xxhash64(t)),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc, idx,
            lambda a, j: a + F.when(F.bit_get(h, j) == 1,
                                    F.lit(1)).otherwise(F.lit(-1))),
    )
    sig = docs.select("doc_id", "lang", sums.alias("sums"))
    # shiftleft (not a 1<<j Python literal): at bits=64 the top bit is
    # 2^63, which overflows a signed-long literal but is the correct
    # negative two's-complement pattern from a JVM shift.  Distinct
    # powers of two never carry, so the running + is a bitwise OR even
    # when the sign bit lands.
    sim = reduce(
        lambda acc, j: acc + F.when(F.element_at("sums", j + 1) > 0,
                                    F.shiftleft(F.lit(1).cast("long"), j))
                               .otherwise(F.lit(0).cast("long")),
        range(bits), F.lit(0).cast("long"))
    return sig.select("doc_id", "lang", sim.alias("simhash"))


# At ~constant chunk count, bucket collision load grows with the corpus:
# a 12-bit chunk value has 4096 buckets, so beyond ~10^5 docs per lang
# the per-bucket pair space dominates (VERDICT r4 #8).  Larger corpora
# therefore step up to 64-bit signatures in 6 chunks of >=10 bits: more
# buckets per chunk AND a stronger pigeonhole guarantee (<=5 vs <=3).
SIMHASH_WIDE_THRESHOLD = 100_000


def _simhash_width(n_docs: int) -> tuple[int, int]:
    """(bits, chunks) for a corpus size -- 48/4 small, 64/6 large."""
    if n_docs >= SIMHASH_WIDE_THRESHOLD:
        return 64, 6
    return SIMHASH_BITS, SIMHASH_CHUNKS


def _chunk_layout(bits: int, n_chunks: int) -> tuple[list[int], list[int]]:
    """(widths, offsets) of the signature chunks, LSB-first.  Chunk
    widths differ by at most one bit when ``n_chunks`` does not divide
    ``bits`` (64/6 -> 11,11,11,11,10,10).  ONE definition shared by the
    chunk table and the min-chunk residual -- the two must never
    disagree on where a chunk's bits live."""
    base, extra = divmod(bits, n_chunks)
    widths = [base + (1 if c < extra else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    return widths, offsets


def _chunk_table(sig: DataFrame, bits: int, n_chunks: int) -> DataFrame:
    """(doc_id, lang, simhash, chunk, cv): one row per signature chunk.

    The ``chunk`` column carries {bits, n_chunks} as COLUMN METADATA
    (preserved through parquet round-trips and localCheckpoint), so
    :func:`_chunk_join` can rebuild the chunk layout for its min-chunk
    residual without the caller re-counting the corpus to re-derive
    the width -- the artifact stays self-describing."""
    widths, offsets = _chunk_layout(bits, n_chunks)
    chunks = F.array(*[
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned(F.col("simhash"), offsets[c])
            .bitwiseAND(F.lit((1 << widths[c]) - 1)).alias("cv"),
        )
        for c in range(n_chunks)
    ])
    return sig.select("doc_id", "lang", "simhash", F.explode(chunks).alias("c")) \
        .select("doc_id", "lang", "simhash",
                F.col("c.chunk").alias(
                    "chunk", metadata={"bits": bits, "n_chunks": n_chunks}),
                F.col("c.cv").alias("cv"))


def _chunk_join(ex: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Chunk-bucket candidate join, each pair emitted EXACTLY ONCE.

    Same r15 finding and fix as :func:`_band_join`: a Hamming<=3 pair
    shares most of its chunks (>= n_chunks - 3 by pigeonhole), so the
    once-per-shared-chunk emission duplicated every OUTPUT row ~3-6x
    and paid a pair-table DISTINCT exchange to clean up.  The join now
    keeps a match only at the pair's SMALLEST shared chunk: sharedness
    of every earlier chunk is pure bit arithmetic on the signatures the
    rows already carry (chunk j shared <=> the xor's bits [off_j,
    off_j+w_j) are all zero), so unlike the band join this needs no
    extra column -- the chunk layout comes from the {bits, n_chunks}
    column metadata :func:`_chunk_table` stamps on ``chunk``.  Output
    rows are identical to the distinct form (:func:`_chunk_join_distinct`,
    the reference of ``q_dedup_simhash``, which has no oracle): hamming
    is a function of the pair, and exactly one chunk is the pair's
    minimum.

    The probe side rides :func:`_pinned_repartition` (rationale and
    both measured hazards documented there) on the JOIN KEYS, unlike
    the band join's doc_id pin: the r17 doc_id A/B measured no
    difference here (0.356 vs 0.349 s at sf0.1 -- chunk buckets top
    out ~2x smaller than band buckets and the per-matched-row work is
    three fixed bit ops, not an array intersection), and the join-key
    pin is the one the SMJ absorbs at cluster scale."""
    meta = ex.schema["chunk"].metadata
    if "bits" not in meta or "n_chunks" not in meta:
        raise ValueError(
            "_chunk_join: the chunk table carries no {bits, n_chunks} "
            "column metadata -- rebuilt from a pre-r15 artifact? "
            "build_simhash_table re-creates it (the artifact "
            "fingerprint's layout param forces this).")
    bits, n_chunks = int(meta["bits"]), int(meta["n_chunks"])
    widths, offsets = _chunk_layout(bits, n_chunks)
    a = _pinned_repartition(ex, "chunk", "cv", "lang").alias("a")
    b = ex.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ham = F.bit_count(xor)
    # Min-chunk residual: joined rows agree on `chunk` (equi-key), so
    # "no earlier shared chunk" over a.chunk alone is the pair property.
    # lit(False) seed: n_chunks=1 degrades to no residual instead of a
    # reduce-over-empty TypeError (ADVICE r15); BooleanSimplification
    # folds the seed, so multi-chunk plans are byte-identical.
    shared_earlier = reduce(operator.or_, [
        (F.col("a.chunk") > j)
        & (F.shiftrightunsigned(xor, offsets[j])
           .bitwiseAND(F.lit((1 << widths[j]) - 1)) == 0)
        for j in range(n_chunks - 1)
    ], F.lit(False))
    # The hamming test runs as a JOIN RESIDUAL, not after the join:
    # chunk-collision pairs that fail it (the vast majority once chunk
    # buckets fill up) drop inside the join task instead of surviving
    # to the output.  Same final set -- hamming is a function of the
    # pair.
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.cv") == F.col("b.cv"))
               & (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (ham <= max_hamming)
               & ~shared_earlier)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                ham.alias("hamming"))
    )


def _chunk_join_distinct(ex: DataFrame, max_hamming: int = 3) -> DataFrame:
    """The once-per-shared-chunk + DISTINCT chunk join: the reference for
    :func:`_chunk_join`'s min-chunk residual (the
    :func:`_band_join_distinct` pattern).  ``q_dedup_simhash`` has no
    oracle, so this form is its only reference."""
    a = ex.alias("a")
    b = ex.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.cv") == F.col("b.cv"))
               & (F.col("a.lang") == F.col("b.lang"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & (ham <= max_hamming))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                ham.alias("hamming"))
        .distinct()
    )


def simhash_pairs(docs: DataFrame, bits: int = SIMHASH_BITS,
                  n_chunks: int = SIMHASH_CHUNKS,
                  max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs at a chosen signature width: chunk-blocked
    candidates (pigeonhole: Hamming <= n_chunks-1 MUST share a chunk,
    so any max_hamming < n_chunks has recall 1 within the blocking),
    verified with bit_count(xor) <= max_hamming.  The chunk table is
    materialized once for the self-join (:func:`_scoped_build`)."""
    assert max_hamming < n_chunks, \
        "pigeonhole guarantee needs n_chunks > max_hamming"
    sig = simhash_signatures(docs, bits)
    return _chunk_join(
        _scoped_build(_chunk_table(sig, bits, n_chunks)), max_hamming)


def _simhash_fingerprint(sf_dir: str) -> str:
    from ..artifacts import corpus_fingerprint

    # The chosen width derives from the corpus size (which the corpus
    # files fingerprint), but the width TABLE itself -- the narrow/wide
    # (bits, chunks) pairs and the threshold -- is code, and changing it
    # must invalidate the artifact (review finding: the sibling
    # fingerprints pin their shape params; this one initially didn't).
    # "layout" joined the params in r15: the chunk column now carries
    # {bits, n_chunks} metadata for the min-chunk residual, so pre-r15
    # persisted chunk tables must read as stale and rebuild.
    return _doc_fingerprint(
        sf_dir, {"algo": "simhash-chunks",
                 "wide_threshold": SIMHASH_WIDE_THRESHOLD,
                 "narrow": _simhash_width(0),
                 "wide": _simhash_width(SIMHASH_WIDE_THRESHOLD),
                 "layout": "chunk-meta"})


def _simhash_base(sf_dir: str) -> str:
    return _artifact_base("simhash_table", sf_dir)


def build_simhash_table(spark: SparkSession, sf_dir: str) -> str:
    """Build and PERSIST the corpus SimHash chunk table (doc_id, lang,
    simhash, chunk, cv) at the width :func:`_simhash_width` picks for
    this corpus size.  Persisting moves the signature fold (O(bits x
    tokens), the expensive half of simhash dedup) AND the corpus count
    behind the width choice to build time -- the query path neither
    re-hashes nor re-counts.  Same fingerprinted-marker idempotence as
    the band table / prefix index."""
    from ..artifacts import ensure_parquet_artifact

    def derive():
        docs = load_table(spark, sf_dir, "documents")
        bits, n_chunks = _simhash_width(docs.count())
        return _chunk_table(
            simhash_signatures(scan_wide(docs, "doc_id"), bits),
            bits, n_chunks)

    return ensure_parquet_artifact(
        _simhash_base(sf_dir), "chunks", _simhash_fingerprint(sf_dir), derive)


def corpus_simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus SimHash chunk table: artifact when current, else the
    inline derivation materialized once (:func:`_scoped_build`)."""
    from ..artifacts import parquet_artifact_or

    def fallback():
        docs = load_table(spark, sf_dir, "documents")
        bits, n_chunks = _simhash_width(docs.count())
        return _scoped_build(_chunk_table(
            simhash_signatures(scan_wide(docs, "doc_id"), bits),
            bits, n_chunks))

    return parquet_artifact_or(
        spark, _simhash_base(sf_dir), "chunks", _simhash_fingerprint(sf_dir),
        fallback)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs.  Signature width scales with the corpus
    (:func:`_simhash_width`): 48-bit/4-chunk below 10^5 docs (every test
    SF), 64-bit/6-chunk above, where 12-bit chunk buckets would start
    drowning in collisions.  Candidates come from the persisted chunk
    table artifact when current (:func:`build_simhash_table`); the
    Hamming cutoff 3 keeps recall 1 under the pigeonhole guarantee at
    both widths (3 < 4 chunks <= 6 chunks)."""
    return _chunk_join(corpus_simhash_table(spark, sf_dir), max_hamming=3)


def dot_fold(x: Column, y: Column) -> Column:
    """Dot product as a sequential double fold -- bit-identical to the
    DuckDB oracle's list_reduce (same op order, same types)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def norm_fold(v: Column) -> Column:
    """L2 norm via the same fold.  Pair joins precompute this per ROW on
    each side before joining: sqrt(dot(a,a)) * sqrt(dot(b,b)) evaluates
    to the identical double whether the sqrt runs before or after the
    join, and hoisting it turns 2/3 of the per-pair fold work into
    per-row work (the 64-element higher-order-function folds are the
    entire cost of a pair compare)."""
    return F.sqrt(dot_fold(v, v))


# Dim-agnostic: ranging over len(vector) instead of a hardcoded 64 keeps
# the fold order identical while surviving a corpus regenerated at any
# dimensionality (review finding: a 32-dim corpus made the out-of-bounds
# terms NULL-poison the fold; a 128-dim one silently truncated).
SQL_COSINE = """
    list_reduce(list_transform(range(1, len({a}) + 1),
        i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)
    / (sqrt(list_reduce(list_transform(range(1, len({a}) + 1),
        i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))
     * sqrt(list_reduce(list_transform(range(1, len({b}) + 1),
        i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)))
"""


def q_dedup_embed(spark: SparkSession, sf_dir: str,
                  chunk_doubles: int = 1 << 22) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a label block
    (IVF-style coarse blocking at scale).

    Arrow-vectorized: on the embedding replicas a JVM zip_with/aggregate
    pair fold over a blocked self-join measured ~12 us/pair -- 121.7 s
    at 50x (10M in-block pairs), LINEAR but constant-heavy vs 0.65 s
    here.  Each label block becomes one
    ``applyInPandas`` group and the pair space is one BLAS matmul
    (``X @ X.T``), turning the per-pair fold into a vectorized
    multiply-accumulate.

    Output contract: pairs (vec_a < vec_b) within a label block with
    floor-rounded cosine >= the threshold.  The rounding replays
    :func:`..util.rnd`'s formula (floor(c*1e6 + 5e-1)/1e6) in numpy;
    BLAS summation order differs from the oracle's sequential fold in
    the last ulp, which can flip a 6-dp floor only when a cosine sits
    within ~1e-15 of a rounding boundary (~1e-9 odds per pair -- the
    q_text_linededup probabilistic-parity class; equality with the
    DuckDB oracle is pinned empirically at suite SFs).

    Scale shape: groups shuffle on ``label`` exactly like a blocked
    self-join, but each group must FIT one task (the grouped-map contract),
    so this form is for IVF-style coarse blocking where block size is
    bounded; the chunked matmul (``chunk_doubles`` caps the scratch
    pair matrix, default 32 MB) bounds the pair-space memory, not the
    block itself.  For unbounded blocks use a blocked self-join or probe
    IVF cells (:func:`q_sim_ivf`), which bound the block by
    construction.
    """
    import pandas as pd

    def block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_a": np.array([], dtype=np.int64),
                 "vec_b": np.array([], dtype=np.int64),
                 "label": np.array([], dtype=np.int32),
                 "cos": np.array([], dtype=np.float64)})
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        label = pdf["label"].iloc[0]
        nrm = np.sqrt((X * X).sum(axis=1))
        chunk = max(1, chunk_doubles // n)
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n - 1, chunk):
            hi = min(lo + chunk, n - 1)
            C = (X[lo:hi] @ X.T) / np.outer(nrm[lo:hi], nrm)
            C = np.floor(C * 1e6 + 0.5) / 1e6  # util.rnd, replayed
            ii, jj = np.nonzero(C >= EMBED_NEARDUP_THRESHOLD)
            # ID-based predicate, not index-based (review finding): the
            # oracle's join condition is a.vec_id < b.vec_id, so two
            # rows SHARING a vec_id must never pair.  On the sorted ids
            # jj > ii+lo and ids[jj] > ids[ii+lo] agree wherever ids are
            # unique (the corpus contract), but only the id comparison
            # reproduces the join's duplicate-id exclusion on arbitrary
            # input; each cross-id row pair still lands exactly once
            # (the column id must exceed the row id).
            keep = ids[jj] > ids[ii + lo]
            ii, jj = ii[keep], jj[keep]
            out_a.append(ids[ii + lo])
            out_b.append(ids[jj])
            out_c.append(C[ii, jj])
        return pd.DataFrame(
            {"vec_a": np.concatenate(out_a),
             "vec_b": np.concatenate(out_b),
             "label": np.full(sum(map(len, out_a)), label, dtype=np.int32),
             "cos": np.concatenate(out_c)})

    emb = load_table(spark, sf_dir, "embeddings")
    return (emb.groupBy("label")
            .applyInPandas(block_pairs,
                           "vec_a long, vec_b long, label int, cos double"))


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 20) -> DataFrame:
    """Connected components by iterative min-label propagation:
    ``(id, comp)`` where ``comp`` is the smallest node id reachable in the
    undirected edge graph.

    Each iteration is two shuffles: a neighbor-min propagation (the min
    label moves one hop) followed by a pointer-jump (every node adopts
    its label's label, halving the remaining distance to the component
    minimum) -- together O(log diameter) rounds, so a 20-round cap
    handles million-hop chains, and the loop RAISES if it ever runs out
    instead of returning silently-wrong labels.  The change count that
    drives termination is the only driver-side value.

    Iterative lineage MUST be truncated with a checkpoint, not
    ``persist``: a persisted frame still carries the full logical plan,
    which nests one level deeper per iteration -- by ~10 rounds merely
    *rendering* that plan (explainString) OOMs a default-1g driver, long
    before any executor runs out.  Checkpointed labels are a few rows per
    node; the cost per round is one small materialization
    (:func:`_scoped_build`).
    """
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Checkpoint the undirected edge table up front: every iteration (and
    # its convergence count) re-reads it, and without it each pass
    # recomputes the full upstream candidate join.
    und = _scoped_build(fwd.union(
        fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    labels = _scoped_build(und.select(F.col("u").alias("id")).distinct()
                           .withColumn("comp", F.col("id")))
    for _ in range(max_iter):
        neigh = (und.join(labels, und.u == labels.id)
                 .groupBy("v").agg(F.min("comp").alias("n_comp")))
        prop = (labels.join(neigh, labels.id == neigh.v, "left")
                .select("id", F.least(F.col("comp"),
                                      F.coalesce("n_comp", "comp")).alias("comp")))
        # pointer-jump: comp <- comp[comp].  Labels only decrease, and a
        # label is always itself a node id, so the self-join is total in
        # practice (left join keeps the row if the label is already a
        # root it equals).
        ptr = prop.select(F.col("id").alias("p_id"), F.col("comp").alias("p_comp"))
        new = (prop.alias("x")
               .join(ptr, F.col("x.comp") == F.col("p_id"), "left")
               .select(F.col("x.id").alias("id"),
                       F.least(F.col("x.comp"),
                               F.coalesce("p_comp", F.col("x.comp"))).alias("comp")))
        new = _scoped_build(new)
        changed = (new.alias("n").join(labels.alias("o"), "id")
                   .filter(F.col("n.comp") != F.col("o.comp")).count())
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    return labels


def _cluster_base(sf_dir: str) -> str:
    return _artifact_base("dup_clusters", sf_dir)


def _cluster_fingerprint(sf_dir: str) -> str:
    return _doc_fingerprint(
        sf_dir, {"algo": "prefix-jaccard-cc", "jaccard_num": JACCARD_NUM,
                 "jaccard_den": JACCARD_DEN,
                 "prune": (PRUNE_NUM, PRUNE_DEN)})


def build_cluster_table(spark: SparkSession, sf_dir: str) -> str:
    """Build and PERSIST the duplicate-cluster assignment table -- like
    the IVF index, clustering is a property of the corpus, not of any
    one query, so production builds it once per corpus snapshot and
    every downstream query (representative filtering, curation) reads
    the table.  Idempotent per corpus snapshot: the ``_BUILT`` marker
    records a fingerprint of the source parquet + build params, so an
    unchanged corpus skips the build while a regenerated corpus (same
    path, new content) or changed threshold forces a rebuild instead of
    silently serving stale clusters (ADVICE r3/r4).
    """
    from ..artifacts import ensure_parquet_artifact

    return ensure_parquet_artifact(
        _cluster_base(sf_dir), "clusters", _cluster_fingerprint(sf_dir),
        lambda: _compute_clusters(spark, sf_dir))


def _compute_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    edges = q_dedup_prefix(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(edges)
    return (
        docs.select("doc_id").join(
            comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select("doc_id",
                F.coalesce("comp", "doc_id").alias("cluster_id"))
    )


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the exact
    near-dup pair graph (``q_dedup_prefix``'s edges), giving
    every document
    a canonical ``cluster_id`` = the smallest doc_id in its component.
    Near-dup similarity is NOT transitive, so clusters are genuinely
    larger than single pairs -- this is the "collapse each dup cluster to
    one representative" step of a pretraining dedup pipeline.  Docs with
    no near-dup edge are their own singleton cluster.

    Oracle: DuckDB recursive CTE computing min-reachable-id (set-semantic
    UNION terminates the recursion).  Edges come from the prefix-filtered
    exact join (``q_dedup_prefix``) -- identical pairs to the all-pairs
    ground truth, so the oracle holds, at equi-join cost.

    Reads the persisted :func:`build_cluster_table` artifact when one has
    been built for this corpus (results are identical either way --
    the build runs the same deterministic computation); otherwise
    computes inline.
    """
    from ..artifacts import parquet_artifact_or

    return parquet_artifact_or(
        spark, _cluster_base(sf_dir), "clusters",
        _cluster_fingerprint(sf_dir),
        lambda: _compute_clusters(spark, sf_dir))


_J_SQL = """CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / (a.n_toks + b.n_toks - len(list_intersect(a.toks, b.toks)))"""


def url_canon_sql(src: str) -> str:
    """DuckDB-side URL canonicalization as CTEs ``parts`` and ``c``
    over ``src`` -- any relation exposing (doc_id, url).  This is the
    INDEPENDENT canonicalizer (RE2 regexps, no parse_url) the
    q_dedup_url oracle checks :func:`canonical_url` against; ONE
    definition shared with the cross-engine property test so the two
    copies can never drift -- three rounds of ADVICE residuals
    (userinfo keep, first-vs-last '@') lived exactly in that drift."""
    return f"""parts AS (
          SELECT doc_id, url,
                 lower(regexp_extract(url,
                     '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                 regexp_replace(lower(regexp_replace(regexp_replace(
                     regexp_extract(url,
                         '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                     '^.*@', ''), ':[0-9]+$', '')),
                     '^www\\.', '') AS host,
                 regexp_extract(regexp_extract(url,
                     '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                     ':([0-9]+)$', 1) AS port,
                 regexp_extract(url,
                     '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS p,
                 regexp_extract(url, '\\?([^#]*)', 1) AS q
          FROM {src}
        ), c AS (
          SELECT doc_id, url,
                 scheme || '://' || host
                 || (CASE WHEN port <> ''
                          AND NOT ((scheme = 'https' AND port = '443')
                                   OR (scheme = 'http' AND port = '80'))
                          THEN ':' || port ELSE '' END)
                 || (CASE WHEN p LIKE '%/' AND length(p) > 1
                          THEN substr(p, 1, length(p) - 1) ELSE p END)
                 || (CASE WHEN len(list_filter(string_split(q, '&'),
                              x -> x <> '' AND NOT starts_with(x, 'utm_'))) > 0
                     THEN '?' || array_to_string(list_sort(
                              list_filter(string_split(q, '&'),
                                  x -> x <> ''
                                       AND NOT starts_with(x, 'utm_'))), '&')
                     ELSE '' END) AS canon
          FROM parts
        )"""

ORACLES: dict[str, str] = {
    # Same raw-URL fixture construction, then an INDEPENDENT
    # canonicalizer: RE2 regexps for scheme/host/path/query (DuckDB has
    # no parse_url), list ops for the param filter+sort.
    "q_dedup_keep_best": """
        SELECT md5(text) AS fp, COUNT(*) AS n_dups,
               max_by(doc_id,
                      CAST(len(list_distinct(string_split(text, ' ')))
                           AS BIGINT) * 10000000000 - doc_id) AS keep_doc,
               CAST(MAX(len(list_distinct(string_split(text, ' '))))
                    AS INTEGER) AS keep_distinct_toks
        FROM documents GROUP BY 1
    """,
    "q_dedup_url": """
        WITH u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS'
                  WHEN doc_id % 3 = 1 THEN 'https' ELSE 'Https' END)
            || '://'
            || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
            || source
            || (CASE WHEN doc_id % 5 = 0 THEN '.example.com'
                     ELSE '.Example.COM' END)
            || (CASE WHEN doc_id % 7 = 0 THEN ':443'
                     WHEN doc_id % 11 = 0 THEN ':8443' ELSE '' END)
            || '/docs/' || CAST(doc_id % 40 AS VARCHAR)
            || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
            || (CASE WHEN doc_id % 2 = 0
                     THEN '?page=' || CAST(doc_id % 3 AS VARCHAR)
                          || '&utm_source=feed'
                     ELSE '?utm_campaign=x&page='
                          || CAST(doc_id % 3 AS VARCHAR) END)
            || (CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END) AS url
          FROM documents
        ), """ + url_canon_sql("u") + """
        SELECT canon AS canonical_url, COUNT(*) AS n_docs,
               COUNT(DISTINCT url) AS n_variants,
               MIN(doc_id) AS keep_doc
        FROM c GROUP BY canon
    """,
    # Recursive CTE closure: reach = every (node, reachable-id) pair over
    # the undirected near-dup edge graph (set-semantic UNION terminates);
    # min reachable id per node == the component's canonical id.
    "q_dedup_cluster": f"""
        WITH RECURSIVE t AS (
          SELECT doc_id, lang,
                 list_distinct(string_split(text, ' ')) AS toks,
                 len(list_distinct(string_split(text, ' '))) AS n_toks
          FROM documents
        ), pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
          WHERE {R(_J_SQL, 6)} >= {JACCARD_THRESHOLD}
        ), edges AS (
          SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM pairs
        ), reach AS (
          SELECT u AS id, u AS comp FROM edges
          UNION
          SELECT e.v AS id, r.comp FROM reach r JOIN edges e ON e.u = r.id
        )
        SELECT d.doc_id, COALESCE(m.comp, d.doc_id) AS cluster_id
        FROM documents d
        LEFT JOIN (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id) m
          ON m.id = d.doc_id
    """,
    "q_dedup_exact": """
        SELECT doc_id, lang, source, n_chars FROM (
          SELECT doc_id, lang, source, n_chars,
                 row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
          FROM documents
        ) WHERE rn = 1
    """,
    # The blocked all-pairs join: the prefix-filtered plan must be
    # value-identical to it (lossless filter).
    "q_dedup_prefix": f"""
        WITH t AS (
          SELECT doc_id, lang,
                 list_distinct(string_split(text, ' ')) AS toks,
                 len(list_distinct(string_split(text, ' '))) AS n_toks
          FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               {R(_J_SQL, 6)} AS jaccard
        FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE {R(_J_SQL, 6)} >= {JACCARD_THRESHOLD}
    """,
    # Delta/corpus split of the same exact-Jaccard predicate: a delta doc
    # is admitted iff no corpus doc in its lang reaches the threshold.
    "q_dedup_incremental": f"""
        WITH t AS (
          SELECT doc_id, lang, source, n_chars,
                 list_distinct(string_split(text, ' ')) AS toks,
                 len(list_distinct(string_split(text, ' '))) AS n_toks
          FROM documents
        ), rejected AS (
          SELECT DISTINCT b.doc_id
          FROM t a JOIN t b ON a.lang = b.lang
          WHERE a.doc_id % {DELTA_MOD} <> {DELTA_REM}
            AND b.doc_id % {DELTA_MOD} = {DELTA_REM}
            AND {R(_J_SQL, 6)} >= {JACCARD_THRESHOLD}
        )
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d ANTI JOIN rejected r ON d.doc_id = r.doc_id
        WHERE d.doc_id % {DELTA_MOD} = {DELTA_REM}
    """,
    "q_dedup_embed": f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
               {R(SQL_COSINE.format(a='a.embedding', b='b.embedding'), 6)} AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {R(SQL_COSINE.format(a='a.embedding', b='b.embedding'), 6)} >= {EMBED_NEARDUP_THRESHOLD}
    """,
}

QUERIES = {
    name: fn for name, fn in list(globals().items())
    if name.startswith("q_") and callable(fn)
    and getattr(fn, "__module__", None) == __name__  # not re-exported imports
}
