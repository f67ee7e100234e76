"""Property test: _wordgrams (zip_with chain) == the obvious Python
n-gram definition for arbitrary token counts and n, including docs
shorter than n (the sequence(1,0)-counts-down trap the guard exists
for)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from financialtransactionmonitoringsystem_spark.operators.text import _wordgrams

token = st.text(alphabet="abcxyz", min_size=1, max_size=3)
docs = st.lists(st.lists(token, min_size=0, max_size=12), min_size=1, max_size=8)


def ref_grams(toks: list[str], n: int) -> list[str]:
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=docs, n=st.integers(2, 6))
def test_wordgrams_match_python_reference(spark, docs, n):
    rows = [(" ".join(toks),) for toks in docs]
    df = spark.createDataFrame(rows, "text string")
    got = [r.g for r in df.select(_wordgrams(F.col("text"), n).alias("g")).collect()]
    # split(" ") on an empty string yields [""], one empty token -- mirror it
    want = [ref_grams(t.split(" "), n) for (t,) in rows]
    assert got == want


def ref_novelty(rows: list[tuple[int, str]]):
    """Pure-Python reference of the novelty operator: distinct word
    5-grams per candidate doc vs the union of reference-doc grams."""
    from financialtransactionmonitoringsystem_spark.operators.text import (
        DECONTAM_NGRAM, NOVELTY_REF_MOD, NOVELTY_REF_REM)

    def grams(text: str) -> set[str]:
        toks = text.split(" ")
        return set(ref_grams(toks, DECONTAM_NGRAM))

    ref = set()
    for doc_id, text in rows:
        if doc_id % NOVELTY_REF_MOD == NOVELTY_REF_REM:
            ref |= grams(text)
    out = {}
    for doc_id, text in rows:
        if doc_id % NOVELTY_REF_MOD == NOVELTY_REF_REM:
            continue
        g = grams(text)
        n_seen = len(g & ref)
        out[doc_id] = (len(g), len(g) - n_seen)
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(st.lists(token, min_size=0, max_size=12)
                      .map(" ".join), min_size=1, max_size=14))
def test_novelty_core_matches_python_reference(spark, texts):
    """The bloom-prefiltered novelty plan == the obvious Python set
    arithmetic for arbitrary small corpora -- including corpora whose
    reference slice is EMPTY (every gram novel; the bloom is all
    zeros) and docs shorter than the gram width (0 grams, rate 0).
    Counts compare exactly: the bloom may only cost shuffle rows,
    never change answers, and the tiny alphabet makes gram collisions
    across docs (the seen path) common."""
    from financialtransactionmonitoringsystem_spark.operators.text import (
        _novelty_core)

    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_grams, r.n_novel)
           for r in _novelty_core(docs).collect()}
    assert got == ref_novelty(rows)
