"""Graph operator fixtures: co-occurrence edges + PageRank."""

import math

from pyspark.sql import Row

from glamr_omics_pipelines_spark.operators import graph


def _edges(spark, pairs):
    return spark.createDataFrame(
        [Row(src=s, dst=d, weight=float(w)) for s, d, w in pairs])


def test_cooccurrence_edges_weights_and_symmetry(spark):
    df = spark.createDataFrame([
        Row(g=1, item="a"), Row(g=1, item="b"), Row(g=1, item="b"),  # dup row
        Row(g=2, item="a"), Row(g=2, item="b"), Row(g=2, item="c"),
    ])
    out = {(r.src, r.dst): r.weight
           for r in graph.cooccurrence_edges(df, "g", "item").collect()}
    assert out[("a", "b")] == 2.0 and out[("b", "a")] == 2.0  # shared groups
    assert out[("a", "c")] == 1.0 and out[("b", "c")] == 1.0
    assert ("a", "a") not in out


def test_cooccurrence_edges_mega_group_guard(spark):
    rows = [Row(g=1, item=f"i{i}") for i in range(10)]  # size 10 > cap
    rows += [Row(g=2, item="x"), Row(g=2, item="y")]
    df = spark.createDataFrame(rows)
    out = graph.cooccurrence_edges(df, "g", "item", max_group_size=5).collect()
    assert {(r.src, r.dst) for r in out} == {("x", "y"), ("y", "x")}


def test_pagerank_symmetric_pair_is_uniform(spark):
    e = _edges(spark, [("a", "b", 1), ("b", "a", 1)])
    out = {r.node: r.rank for r in graph.pagerank(e, iterations=5).collect()}
    assert math.isclose(out["a"], 0.5, rel_tol=1e-12)
    assert math.isclose(out["b"], 0.5, rel_tol=1e-12)


def test_pagerank_one_iteration_hand_computed(spark):
    # path a - b - c (symmetric, unit weights); after 1 iteration:
    # contrib(b) = 1/3 + 1/3 = 2/3; contrib(a) = contrib(c) = (1/3) / 2
    e = _edges(spark, [("a", "b", 1), ("b", "a", 1),
                       ("b", "c", 1), ("c", "b", 1)])
    out = {r.node: r.rank for r in graph.pagerank(e, iterations=1).collect()}
    assert math.isclose(out["b"], 0.15 / 3 + 0.85 * 2 / 3, rel_tol=1e-12)
    assert math.isclose(out["a"], 0.15 / 3 + 0.85 / 6, rel_tol=1e-12)
    assert math.isclose(out["a"], out["c"], rel_tol=1e-12)


def test_pagerank_conserves_mass_and_ranks_hub_highest(spark):
    # star: hub h connected to 3 leaves, symmetric
    pairs = []
    for leaf in ("x", "y", "z"):
        pairs += [("h", leaf, 1), (leaf, "h", 1)]
    out = {r.node: r.rank
           for r in graph.pagerank(_edges(spark, pairs),
                                   iterations=10).collect()}
    assert math.isclose(sum(out.values()), 1.0, rel_tol=1e-9)
    assert out["h"] > out["x"] > 0
    assert math.isclose(out["x"], out["y"], rel_tol=1e-12)


def test_pagerank_weight_bias(spark):
    # b receives a heavier share of a's rank than c does
    e = _edges(spark, [("a", "b", 3), ("a", "c", 1),
                       ("b", "a", 1), ("c", "a", 1)])
    out = {r.node: r.rank for r in graph.pagerank(e, iterations=10).collect()}
    assert out["b"] > out["c"]


def test_association_rules_hand_computed(spark):
    from pyspark.sql import Row
    # 4 baskets: {a,b} x3, {a} x1 -> rule a->b: supp 3/4, conf 3/4, lift 1
    rows = []
    for i in range(3):
        rows += [Row(g=i, item="a"), Row(g=i, item="b")]
    rows += [Row(g=99, item="a")]
    df = spark.createDataFrame(rows)
    out = {(r.antecedent, r.consequent): r
           for r in graph.association_rules(df, "g", "item",
                                            min_pair_count=1).collect()}
    ab = out[("a", "b")]
    assert ab.pair_count == 3
    assert math.isclose(ab.support, 0.75, rel_tol=1e-12)
    assert math.isclose(ab.confidence, 0.75, rel_tol=1e-12)  # 3 of 4 a-baskets
    assert math.isclose(ab.lift, (3 * 4) / (4 * 3), rel_tol=1e-12)  # 1.0
    ba = out[("b", "a")]
    assert math.isclose(ba.confidence, 1.0, rel_tol=1e-12)  # every b has a
    # min_pair_count prunes
    assert graph.association_rules(df, "g", "item",
                                   min_pair_count=4).count() == 0


def test_pagerank_broadcast_and_shuffle_forms_agree(spark, monkeypatch):
    """The broadcast-ranks superstep (auto for small graphs) and the
    forced shuffle-join form are two physical plans of the SAME recurrence:
    ranks must agree to float noise on an asymmetric weighted graph. Each
    form is forced through its gate's threshold."""
    import random
    rng = random.Random(11)
    pairs = []
    for _ in range(120):
        a, b = rng.randrange(25), rng.randrange(25)
        if a != b:
            pairs.append((f"n{a}", f"n{b}", rng.randint(1, 4)))
    e = _edges(spark, pairs)
    with monkeypatch.context() as m:
        m.setattr(graph, "_LOCAL_FOLD_MAX_EDGES", 0)
        bc = {r.node: r.rank
              for r in graph.pagerank(e, iterations=6).collect()}
        m.setattr(graph, "_BROADCAST_RANKS_MAX_NODES", 0)
        sh = {r.node: r.rank
              for r in graph.pagerank(e, iterations=6).collect()}
    assert set(bc) == set(sh)
    for n in bc:
        assert math.isclose(bc[n], sh[n], rel_tol=1e-12, abs_tol=1e-15), n
    # the single-task numpy fold (the auto choice at this size) is a third
    # physical plan of the same recurrence: same agreement bar
    lf = {r.node: r.rank
          for r in graph.pagerank(e, iterations=6).collect()}
    assert set(lf) == set(bc)
    for n in bc:
        assert math.isclose(lf[n], bc[n], rel_tol=1e-12, abs_tol=1e-15), n


def test_pagerank_frees_its_edge_cache_and_handle(spark, monkeypatch):
    """The distributed pagerank frees its edge-projection persist as soon
    as the loop's own caches are built, handle included: only the nodes,
    rated-edge and base caches are left for the consumer's release."""
    from glamr_omics_pipelines_spark.operators import _cache
    from glamr_omics_pipelines_spark.session import release
    monkeypatch.setattr(graph, "_LOCAL_FOLD_MAX_EDGES", 0)
    e = _edges(spark, [("a", "b", 1), ("b", "c", 2), ("c", "a", 1)])
    before = list(_cache._HANDLES)
    try:
        ranks = graph.pagerank(e, iterations=3)
        left = [h.columns for h in _cache._HANDLES
                if not any(h is b for b in before)]
        assert left == [["node"], ["_src", "_dst", "_rate"],
                        ["node", "_base", "_init"]]
        assert len(ranks.collect()) == 3
    finally:
        release(spark)


def test_pagerank_local_fold_dense_and_sparse_id_paths_agree(spark):
    """_pagerank_local compacts node ids two ways: a dense flatnonzero
    remap for bounded non-negative int ids, and the sort-based
    unique+searchsorted path for everything else. The same graph under an
    id offset large enough to defeat the dense gate must produce the same
    ranks node-for-node (the offset is a bijection; the recurrence never
    reads id VALUES, only identities)."""
    import random
    rng = random.Random(7)
    pairs = set()
    while len(pairs) < 150:
        a, b = rng.randrange(30), rng.randrange(30)
        if a != b:
            pairs.add((a, b, rng.randint(1, 5)))
    off = 10_000_000_000  # max id >> 4*len(edges): forces the sparse path
    dense = {r.node: r.rank
             for r in graph.pagerank(_edges(spark, list(pairs)),
                                     iterations=6).collect()}
    sparse = {r.node - off: r.rank
              for r in graph.pagerank(
                  _edges(spark, [(a + off, b + off, w)
                                 for a, b, w in pairs]),
                  iterations=6).collect()}
    assert set(dense) == set(sparse)
    for n in dense:
        assert math.isclose(dense[n], sparse[n],
                            rel_tol=1e-12, abs_tol=1e-15), n


def test_k_core_broadcast_and_shuffle_forms_agree(spark, monkeypatch):
    """The broadcast and shuffle semi-join forms of the distributed peel
    (forced through ``_BROADCAST_RANKS_MAX_NODES``) are two physical plans
    of the same peel: identical k-core membership and core degrees on a
    graph where peeling cascades (removing leaves drops interior nodes
    below k)."""
    pairs = [("a", "b"), ("b", "c"), ("c", "a"),      # triangle: 2-core
             ("c", "d"), ("d", "e"),                  # tail peels away
             ("x", "y")]                              # isolated edge peels
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in pairs], "src string, dst string, weight double")
    monkeypatch.setattr(graph, "_LOCAL_FOLD_MAX_EDGES", 0)
    a = sorted(map(tuple, graph.k_core(e, k=2).collect()))
    monkeypatch.setattr(graph, "_BROADCAST_RANKS_MAX_NODES", 0)
    b = sorted(map(tuple, graph.k_core(e, k=2).collect()))
    assert a == b == [("a", 2), ("b", 2), ("c", 2)]


def test_k_core_local_fold_agrees_with_distributed(spark, monkeypatch):
    """r11: the auto-gated single-task peel must produce exactly the
    distributed loop's output (forced by ``_LOCAL_FOLD_MAX_EDGES`` = 0),
    including the fixed-round semantics on a graph that needs several
    peel rounds (a chain peels one node per round) and string node ids
    (the sparse remap path)."""
    pairs = [("a", "b"), ("b", "c"), ("c", "a"),      # 2-core triangle
             ("c", "d"), ("d", "e"), ("e", "f"),      # chain peels per round
             ("x", "y"), ("b", "a"), ("a", "a")]      # dup edge + self loop
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in pairs], "src string, dst string, weight double")
    loc = sorted(map(tuple, graph.k_core(e, k=2).collect()))
    # fixed-round truncation must match too: rounds=1 leaves the partially
    # peeled chain in BOTH forms (early exit cannot have fired yet)
    loc1 = sorted(map(tuple, graph.k_core(e, k=2, rounds=1).collect()))
    monkeypatch.setattr(graph, "_LOCAL_FOLD_MAX_EDGES", 0)
    dist = sorted(map(tuple, graph.k_core(e, k=2).collect()))
    assert loc == dist == [("a", 2), ("b", 2), ("c", 2)]
    dist1 = sorted(map(tuple, graph.k_core(e, k=2, rounds=1).collect()))
    assert loc1 == dist1
