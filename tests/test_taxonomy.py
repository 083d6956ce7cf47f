"""Taxonomy engine tests: lineage parse, closure, subtree rollup (with the
reference's own invariant: subtree >= direct, not all equal —
tax_abund_from_contigs.R:90-92), LCA."""

import math

import pytest
from pyspark.sql import functions as F

from glamr_omics_pipelines_spark.operators import taxonomy


def test_parse_lineage(spark):
    df = spark.createDataFrame(
        [("d__Bacteria;p__Proteo;c__Gamma;o__;f__;g__;s__",)], ["lin"])
    out = taxonomy.parse_lineage(df, "lin").collect()[0]
    assert out["kingdom"] == "Bacteria"
    assert out["phylum"] == "Proteo"
    assert out["class"] == "Gamma"
    assert out["order"] is None  # empty rank -> NULL


def _tree(spark):
    # root r; children a, b; leaves a1, a2 under a; b1 under b
    rows = [("a1", ["r", "a", "a1"], 10.0),
            ("a2", ["r", "a", "a2"], 5.0),
            ("b1", ["r", "b", "b1"], 2.0),
            # internal node with direct abundance too
            ("a", ["r", "a"], 1.0)]
    return spark.createDataFrame(rows, ["tax_id", "path", "tpm"])


def test_lineage_closure_and_subtree_rollup(spark):
    nodes = _tree(spark)
    closure = taxonomy.lineage_closure(nodes, "tax_id", "path")
    abund = nodes.select("tax_id", "tpm")
    out = taxonomy.subtree_rollup(abund, closure, "tax_id", "tpm")
    got = {r["node"]: (r["abund_direct"], r["abund_w_subtax"])
           for r in out.collect()}
    assert got["r"] == (0.0, 18.0)
    assert got["a"] == (1.0, 16.0)
    assert got["b"] == (0.0, 2.0)
    assert got["a1"] == (10.0, 10.0)
    # reference invariant: subtree >= direct everywhere, and not all equal
    assert all(s >= d for d, s in got.values())
    assert any(not math.isclose(s, d) for d, s in got.values())


@pytest.mark.slow
def test_closure_from_parent_edges(spark):
    edges = spark.createDataFrame(
        [("a", "r"), ("b", "r"), ("a1", "a")], ["child", "parent"])
    closure = taxonomy.closure_from_parent_edges(edges)
    got = {(r["ancestor"], r["descendant"]) for r in closure.collect()}
    assert ("r", "a1") in got      # transitive
    assert ("a", "a1") in got
    assert ("a1", "a1") in got     # reflexive
    assert ("r", "b") in got


def test_lca_aggregate(spark):
    df = spark.createDataFrame(
        [("g1", ["r", "a", "a1"]), ("g1", ["r", "a", "a2"]),
         ("g2", ["r", "a", "a1"]), ("g2", ["r", "b", "b1"]),
         ("g3", ["r", "a", "a1"])],
        ["gene", "path"])
    out = taxonomy.lca_aggregate(df, ["gene"], "path")
    got = {r["gene"]: r["lca_path"] for r in out.collect()}
    assert got["g1"] == ["r", "a"]
    assert got["g2"] == ["r"]
    assert got["g3"] == ["r", "a", "a1"]


def test_kingdom_priority_lca(spark):
    df = spark.createDataFrame(
        [("g1", "B", ["B", "x"]), ("g1", "G", ["G", "y"]),
         ("g1", "G", ["G", "z"])],
        ["gene", "kingdom", "path"])
    out = taxonomy.kingdom_priority_lca(df, ["gene"], "path", "kingdom",
                                        priority=["G", "I", "B"])
    got = out.collect()[0]["lca_path"]
    assert got == ["G"]  # only G hits considered; common prefix of y,z paths


def test_rank_ladder_rollup(spark):
    df = spark.createDataFrame(
        [("K1", "P1", 1.0), ("K1", "P2", 2.0), ("K2", "P3", 4.0)],
        ["kingdom", "phylum", "n"])
    out = taxonomy.rank_ladder_rollup(df, ["kingdom", "phylum"],
                                      [F.sum("n").alias("n")])
    got = {(r["kingdom"], r["phylum"]): r["n"] for r in out.collect()}
    assert got[(None, None)] == 7.0
    assert got[("K1", None)] == 3.0
    assert got[("K1", "P1")] == 1.0


@pytest.mark.slow
def test_closure_root_gets_self_row(spark):
    """Root appears only as a parent; its subtree sum must still include
    abundance assigned directly to the root (review finding)."""
    from glamr_omics_pipelines_spark.operators import taxonomy as tx
    from pyspark.sql import functions as F
    edges = spark.createDataFrame([("B", "A")], ["child", "parent"])
    closure = tx.closure_from_parent_edges(edges)
    abund = spark.createDataFrame([("A", 5.0), ("B", 3.0)], ["tax_id", "tpm"])
    out = tx.subtree_rollup(abund, closure, "tax_id", "tpm")
    rows = {r.node: r for r in out.collect()}
    assert rows["A"].abund_direct == 5.0
    assert rows["A"].abund_w_subtax == 8.0   # self + descendant
    assert rows["B"].abund_w_subtax == 3.0


def _lca_agreement_corpus(spark):
    """Adversarial agreement fixture: shared prefixes of every depth,
    groups with one path, duplicated paths, a NULL-path row, and a group
    whose EVERY path is NULL (the direct form yields NULL lca_path)."""
    rows = [
        ("g1", "B", ["r", "a", "a1"]), ("g1", "G", ["r", "a", "a2"]),
        ("g1", "G", ["r", "a", "a2"]),          # duplicate path
        ("g2", "G", ["r", "a", "a1"]), ("g2", "B", ["r", "b", "b1"]),
        ("g3", "I", ["r", "a", "a1"]),           # singleton
        ("g4", "G", ["r"]), ("g4", "G", ["r", "a"]),  # prefix-of relation
        ("g5", "B", None), ("g5", "G", ["r", "b"]),   # NULL path mixed in
        ("g6", "X", None),                        # all-NULL group
        ("g7", "Z", ["z", "q"]), ("g7", "G", ["r", "q"]),  # unmapped kingdom
    ]
    return spark.createDataFrame(rows, ["gene", "kingdom", "path"])


def _rows_key(rows):
    return sorted((r["gene"], tuple(r["lca_path"]) if r["lca_path"]
                   is not None else None) for r in rows)


def _gate(monkeypatch, proxy: bool):
    """Force the LCA form through ``_RANK_PROXY_MIN_BYTES``: 0 admits
    every input to the rank proxy, infinity none."""
    monkeypatch.setattr(taxonomy, "_RANK_PROXY_MIN_BYTES",
                        0 if proxy else float("inf"))


@pytest.mark.slow
def test_lca_rank_proxy_agreement(spark, monkeypatch):
    """The scale-gated rank-proxy form (shuffle 8-byte dense ranks, join
    lineage paths back) must return row-identical output to the direct
    array min/max form on an adversarial corpus."""
    from glamr_omics_pipelines_spark.operators import _cache
    df = _lca_agreement_corpus(spark)
    _gate(monkeypatch, proxy=False)
    direct = taxonomy.lca_aggregate(df, ["gene"], "path")
    _gate(monkeypatch, proxy=True)
    proxy = taxonomy.lca_aggregate(df, ["gene"], "path")
    try:
        assert _rows_key(direct.collect()) == _rows_key(proxy.collect())
    finally:
        _cache.release_caches()


@pytest.mark.slow
def test_kingdom_priority_lca_rank_proxy_agreement(spark, monkeypatch):
    from glamr_omics_pipelines_spark.operators import _cache
    df = _lca_agreement_corpus(spark)
    kw = dict(kingdom_col="kingdom", priority=["G", "I", "B"])
    _gate(monkeypatch, proxy=False)
    direct = taxonomy.kingdom_priority_lca(df, ["gene"], "path", **kw)
    _gate(monkeypatch, proxy=True)
    proxy = taxonomy.kingdom_priority_lca(df, ["gene"], "path", **kw)
    try:
        assert _rows_key(direct.collect()) == _rows_key(proxy.collect())
    finally:
        _cache.release_caches()


def test_lca_rank_proxy_gate_is_size_adaptive(spark, monkeypatch):
    """The auto gate must NOT fire at local test sizes (plans byte-identical
    to the direct form) and MUST fire above _RANK_PROXY_MIN_BYTES."""
    import re
    df = _lca_agreement_corpus(spark)
    auto = taxonomy.lca_aggregate(df, ["gene"], "path")
    with monkeypatch.context() as m:
        _gate(m, proxy=False)
        direct = taxonomy.lca_aggregate(df, ["gene"], "path")

    def norm(d):  # strip expression IDs (fresh per-DataFrame counters)
        return re.sub(r"#\d+", "#", d._jdf.queryExecution()
                      .optimizedPlan().toString())

    assert norm(auto) == norm(direct)
    # the gate reads Catalyst's size estimate: a tiny frame is far below it
    assert taxonomy._est_plan_bytes(df) < taxonomy._RANK_PROXY_MIN_BYTES


def _probe_raising(exc):
    """A DataFrame stand-in whose plan probe raises ``exc``."""
    from types import SimpleNamespace

    def query_execution():
        raise exc
    return SimpleNamespace(_jdf=SimpleNamespace(queryExecution=query_execution))


def test_est_plan_bytes_maps_only_jvm_errors_to_unknown():
    """A Py4J failure of the plan probe means "size unknown" (-1, so the
    gate picks the direct form); a Python bug in the gate must raise."""
    from py4j.protocol import Py4JError
    assert taxonomy._est_plan_bytes(_probe_raising(Py4JError("gone"))) == -1
    with pytest.raises(TypeError):
        taxonomy._est_plan_bytes(_probe_raising(TypeError("bug")))


def test_ncbi_majority_vote_reference_cases(spark):
    """The four documented cases of resolve_majority_vote
    (gtdb_to_ncbi_majority_vote.py:259-320), one cluster per case:
      c1: named at >50%                      -> winner
      c2: unnamed at >50%                    -> none
      c3: no taxon at >=50%                  -> none
      c4: single named at exactly 50%        -> winner (rest spread)
      c5: named 50% vs unnamed 50%           -> winner (named beats bare prefix)
      c6: named 50% vs named 50%             -> none
    """
    votes = []
    votes += [("c1", "g__A")] * 3 + [("c1", "g__B")] * 2
    votes += [("c2", "g__")] * 3 + [("c2", "g__B")] * 2
    votes += [("c3", "g__A")] * 2 + [("c3", "g__B")] * 2 + [("c3", "g__C")]
    votes += [("c4", "g__A")] * 2 + [("c4", "g__B")] + [("c4", "g__C")]
    votes += [("c5", "g__A")] * 2 + [("c5", "g__")] * 2
    votes += [("c6", "g__A")] * 2 + [("c6", "g__B")] * 2
    df = spark.createDataFrame(votes, ["cluster", "taxon"])
    out = taxonomy.ncbi_majority_vote(df, ["cluster"], "taxon")
    got = {r["cluster"]: (r["mv_taxon"], r["n_votes"]) for r in out.collect()}
    assert got["c1"] == ("g__A", 5)
    assert got["c2"] == ("none", 5)
    assert got["c3"] == ("none", 5)
    assert got["c4"] == ("g__A", 4)
    assert got["c5"] == ("g__A", 4)
    assert got["c6"] == ("none", 4)
