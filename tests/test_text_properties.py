"""Brute-force parity property tests for the row-local text metrics —
independent Python implementations of the Gopher repetition rules and the
rolling fingerprint, on arbitrary hypothesis inputs."""

from __future__ import annotations

import pytest

import math
import re
from collections import Counter

from hypothesis import given, settings, strategies as st

from glamr_omics_pipelines_spark.operators import text as T

SETTINGS = dict(max_examples=8, deadline=None)

docs = st.lists(st.text(alphabet="ab c\tD.", min_size=0, max_size=30),
                min_size=1, max_size=6)


def _tok(s: str) -> list[str]:
    return [t for t in re.split(r"\s+", s.lower()) if t != ""]


@settings(**SETTINGS)
@given(docs)
@pytest.mark.slow
def test_repetition_metrics_match_python_counter(spark, ds):
    df = spark.createDataFrame(list(enumerate(ds)), "doc_id int, text string")
    got = {r.doc_id: (r.dup_word_frac, r.dup_bigram_frac, r.top_bigram_frac)
           for r in T.repetition_metrics(df, "text").collect()}
    for i, s in enumerate(ds):
        w = _tok(s)
        n = len(w)
        dup_w = 0.0 if n == 0 else 1.0 - len(set(w)) / n
        bg = [f"{w[j - 1]} {w[j]}" for j in range(1, n)] if n >= 2 else []
        nb = len(bg)
        dup_b = 0.0 if nb == 0 else 1.0 - len(set(bg)) / nb
        top_b = 0.0 if nb == 0 else max(Counter(bg).values()) / nb
        assert abs(got[i][0] - dup_w) < 1e-12
        assert abs(got[i][1] - dup_b) < 1e-12
        assert abs(got[i][2] - top_b) < 1e-12


@settings(**SETTINGS)
@given(docs, st.integers(1, 80))
@pytest.mark.slow
def test_doc_fingerprint_matches_python_rolling_hash(spark, ds, prefix):
    df = spark.createDataFrame(list(enumerate(ds)), "doc_id int, text string")
    got = {r.doc_id: r.fingerprint
           for r in T.doc_fingerprint(df, "text",
                                      prefix_len=prefix).collect()}
    for i, s in enumerate(ds):
        h = 0
        for ch in s[:prefix]:
            h = (h * 31 + ord(ch)) % 1000000007
        assert got[i] == h


@settings(**SETTINGS)
@given(docs)
@pytest.mark.slow
def test_token_counts_match_python(spark, ds):
    df = spark.createDataFrame(list(enumerate(ds)), "doc_id int, text string")
    got = {r.doc_id: r.n_tokens
           for r in T.token_count(df, "text").collect()}
    bpe = {r.doc_id: r.n_bpe_tokens
           for r in T.bpe_ish_token_count(df, "text").collect()}
    for i, s in enumerate(ds):
        assert got[i] == len(_tok(s))
        assert bpe[i] == len(re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", s))


def _bpe_fold_ref(words, merges):
    out = []
    for w in words:
        syms = list(w) + ["</w>"]
        for a, b in merges:
            nxt = []
            for s in syms:
                if nxt and nxt[-1] == a and s == b:
                    nxt[-1] = a + b
                else:
                    nxt.append(s)
            syms = nxt
        out.extend(syms)
    return out


_bpe_syms = st.sampled_from(list("abc"))


@st.composite
def _monotone_merges(draw):
    """Rank-monotone merge lists built bottom-up: each rule's elements are
    single chars or outputs of EARLIER rules (then filtered through the
    engine's own conservative detector, since a later rule can still
    coincidentally re-produce an earlier rule's input symbol). A much
    wider class than learn_bpe_merges output — including end-of-word
    rules — so the fold==rank equivalence is tested beyond what the
    trainer can emit."""
    avail = list("abc") + ["</w>"]
    merges = []
    for _ in range(draw(st.integers(1, 10))):
        a = draw(st.sampled_from(avail))
        b = draw(st.sampled_from(avail))
        if a == "</w>":     # nothing follows the end-of-word marker
            a = draw(_bpe_syms)
        merges.append((a, b))
        avail.append(a + b)
    return merges


@settings(max_examples=6, deadline=None)
@given(st.lists(st.text(alphabet="abc ", min_size=0, max_size=20),
                min_size=1, max_size=5),
       _monotone_merges())
@pytest.mark.slow
def test_bpe_fold_and_rank_agree_on_monotone_lists(spark, ds, merges):
    """r9: the Column-tree fold and the mapInPandas min-rank apply must
    agree (and match the pure-python fold) on ANY rank-monotone merge
    list, not just trainer output."""
    from hypothesis import assume
    assume(T._rank_unsafe_rule(merges) is None)
    df = spark.createDataFrame(list(enumerate(ds)),
                               "doc_id int, text string")
    # hypothesis runs many examples per test call, so each form is forced
    # through the merge-count gate in a context restored before the next
    with pytest.MonkeyPatch.context() as m:
        m.setattr(T, "_BPE_FOLD_AUTO_MAX", math.inf)
        fold = {r.doc_id: list(r.bpe_tokens) for r in
                T.bpe_encode(df, "text", merges).collect()}
    with pytest.MonkeyPatch.context() as m:
        m.setattr(T, "_BPE_FOLD_AUTO_MAX", 0)
        rank = {r.doc_id: list(r.bpe_tokens) for r in
                T.bpe_encode(df, "text", merges).collect()}
    for i, s in enumerate(ds):
        want = _bpe_fold_ref(_tok(s), merges)
        assert fold[i] == want, (i, s, merges)
        assert rank[i] == want, (i, s, merges)
