"""URL normalization + domain-blocklist curation ops (operators/web.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from glamr_omics_pipelines_spark.operators import web


def _norm(spark, url: str) -> str:
    df = spark.createDataFrame([(url,)], ["u"])
    return df.select(web.normalize_url("u").alias("n")).collect()[0]["n"]


@pytest.mark.slow
def test_normalize_url_hand_cases(spark):
    cases = {
        # fragment + scheme/host case + default port + www
        "HTTP://WWW.Ex.COM:80/A/b#frag": "http://ex.com/A/b",
        "https://ex.com:443/": "https://ex.com",
        # non-default port kept; path case preserved
        "http://ex.com:8080/Path/": "http://ex.com:8080/Path",
        # tracking params dropped, rest sorted, empty query dropped
        "http://ex.com/p?utm_source=x&b=2&a=1": "http://ex.com/p?a=1&b=2",
        "http://ex.com/p?utm_campaign=x&gclid=1&fbclid=2&ref=hn":
            "http://ex.com/p",
        # param order canonicalized
        "http://ex.com/p?b=2&a=1": "http://ex.com/p?a=1&b=2",
        # :443 on http (not default) kept; :80 on https kept
        "http://ex.com:443/x": "http://ex.com:443/x",
        "https://ex.com:80/x": "https://ex.com:80/x",
        # bare host, no path
        "http://Ex.com": "http://ex.com",
    }
    for raw, want in cases.items():
        assert _norm(spark, raw) == want, raw


def test_url_dedup_groups_variants(spark):
    rows = [(1, "http://a.com/x?b=2&a=1"),
            (2, "HTTP://WWW.A.COM:80/x?a=1&utm_source=f&b=2#top"),
            (3, "http://a.com/y")]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = {r["normalized_url"]: (r["n_urls"], r["canonical_id"])
           for r in web.url_dedup(df, "doc_id", "url").collect()}
    assert out == {"http://a.com/x?a=1&b=2": (2, 1),
                   "http://a.com/y": (1, 3)}


def test_host_suffixes(spark):
    df = spark.createDataFrame([("a.b.c",)], ["h"])
    got = df.select(web.host_suffixes("h").alias("s")).collect()[0]["s"]
    assert got == ["a.b.c", "b.c", "c"]


BLOCK = ["es.org", "src0.es.org", "ads.x.org"]


def test_blocklist_longest_match_and_clean(spark):
    rows = [(1, "ads.src0.es.org"),   # matches es.org AND src0.es.org
            (2, "x.es.org"),          # matches es.org only
            (3, "ads.x.org"),         # exact rule match
            (4, "bads.x.org"),        # suffix must be label-aligned: clean
            (5, "clean.com")]
    df = spark.createDataFrame(rows, ["doc_id", "host"])
    out = {r["doc_id"]: (r["matched_rule"], r["is_blocked"])
           for r in web.domain_blocklist_filter(df, "host", BLOCK).collect()}
    assert out == {1: ("src0.es.org", True), 2: ("es.org", True),
                   3: ("ads.x.org", True), 4: (None, False),
                   5: (None, False)}


def _blocklist_form(monkeypatch, form):
    """Force domain_blocklist_filter's form through its size gate:
    'literal' opens the literal ceiling to any list, 'join' closes it."""
    monkeypatch.setattr(web, "_BLOCKLIST_LITERAL_MAX",
                        math.inf if form == "literal" else 0)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_blocklist_literal_join_agree(spark, monkeypatch):
    rows = [(i, h) for i, h in enumerate(
        ["a.b.es.org", "es.org", "org", "ads.x.org.evil", "src0.es.org",
         "x.src0.es.org", "ads.x.org", "a.ads.x.org", "", "just-a-label"])]
    df = spark.createDataFrame(rows, ["doc_id", "host"])
    with monkeypatch.context() as m:
        _blocklist_form(m, "literal")
        lit = web.domain_blocklist_filter(df, "host", BLOCK)
    with monkeypatch.context() as m:
        _blocklist_form(m, "join")
        jn = web.domain_blocklist_filter(df, "host", BLOCK)
    assert "Join" not in _plan(lit) and "Join" in _plan(jn)
    cols = ["doc_id", "host", "matched_rule", "is_blocked"]
    assert (sorted(map(tuple, lit.select(cols).collect()))
            == sorted(map(tuple, jn.select(cols).collect())))


def test_blocklist_guards(spark):
    df = spark.createDataFrame([(1, "a.com")], ["doc_id", "host"])
    with pytest.raises(ValueError):
        web.domain_blocklist_filter(df, "host", [])


def test_blocklist_literal_is_single_projection(spark, monkeypatch):
    """The literal form must stay row-local: no exchange/join in the plan."""
    df = spark.createDataFrame([(1, "a.es.org")], ["doc_id", "host"])
    _blocklist_form(monkeypatch, "literal")
    plan = _plan(web.domain_blocklist_filter(df, "host", BLOCK))
    assert "Exchange" not in plan and "Join" not in plan


def test_blocklist_join_form_scratch_collision_safe(spark, monkeypatch):
    """Caller columns named like the join form's scratch names must
    survive untouched (the r9 hashed_linear_score lesson)."""
    df = spark.createDataFrame(
        [(1, "x.es.org", "keepme", "alsokeep")],
        ["doc_id", "host", "_dbf_host", "_dbf_best"])
    _blocklist_form(monkeypatch, "join")
    res = web.domain_blocklist_filter(df, "host", BLOCK)
    assert "Join" in _plan(res)
    out = res.collect()[0]
    assert out["_dbf_host"] == "keepme" and out["_dbf_best"] == "alsokeep"
    assert out["matched_rule"] == "es.org" and out["is_blocked"]
