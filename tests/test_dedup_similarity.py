"""Dedup + similarity operator tests (LSH recall on planted duplicates,
exact Jaccard ground truth, cosine top-k)."""

import math

import pytest
from pyspark.sql import functions as F

from glamr_omics_pipelines_spark.operators import dedup, similarity


def _docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words appear in this sentence here"),
        (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    ]
    return spark.createDataFrame(base, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark), ["text"], "doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 2, 3}  # 4 collapses into 1


def test_dup_groups(spark):
    out = dedup.dup_groups(_docs(spark), ["text"], "doc_id")
    got = {r["canonical_id"]: r["dup_count"] for r in out.collect()}
    assert got[1] == 2 and got[2] == 1 and got[3] == 1


def test_ngram_jaccard_exact_dup_is_one(spark):
    pairs = dedup.ngram_jaccard_pairs(_docs(spark), "doc_id", "text",
                                      shingle_n=4)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert math.isclose(got[(1, 4)], 1.0)
    assert got[(1, 2)] > 0.5          # near dup
    assert got.get((1, 3), 0.0) < 0.2  # unrelated


def test_minhash_lsh_finds_exact_and_near_dups(spark):
    cands = dedup.minhash_lsh_candidates(_docs(spark), "doc_id", "text",
                                         num_hashes=32, bands=16, shingle_n=4)
    got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 4) in got  # identical docs always collide
    assert (1, 2) in got  # j~0.8 found at bands=16 w.h.p.


def test_simhash_identical_docs_collide(spark):
    sig = dedup.simhash_signatures(_docs(spark), "doc_id", "text")
    got = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert got[1] == got[4]
    cands = dedup.simhash_candidates(_docs(spark), "doc_id", "text")
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 4) in pairs


def test_embedding_cosine_dups(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.999, 0.04]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = dedup.embedding_cosine_dups(df, "vec_id", "embedding", threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2)}


def test_brute_force_topk_ranks_by_cosine(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, [0.5, 0.5])]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.brute_force_topk(corpus, queries, "vec_id", "embedding", k=2)
    ranked = sorted([(r["rank"], r["neighbor_id"]) for r in out.collect()])
    assert ranked == [(1, 2), (2, 4)]


def test_lsh_topk_recovers_identical_vector(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    rows.append((100, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))  # == vec 0
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.lsh_topk(corpus, queries, "vec_id", "embedding",
                              k=1, num_planes=4, dim=8)
    top = out.collect()[0]
    assert top["neighbor_id"] == 100 and abs(top["cosine"] - 1.0) < 1e-9


def test_dup_clusters_transitive_closure(spark):
    """a~b, b~c collapse into one cluster labeled by the min id; disjoint
    pairs stay separate; a long chain (diameter > 1 round) converges."""
    pairs = [(1, 2), (2, 3),          # triangle-free chain -> {1,2,3}
             (10, 11),                 # separate 2-clique
             (20, 21), (21, 22), (22, 23), (23, 24)]  # 5-chain
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    out = {r["id"]: r["label"] for r in dedup.dup_clusters(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 24: 20}


def test_lsh_topk_multi_amplifies_recall(spark):
    """OR-amplification: with table-0 seeded identically to the single-table
    form, every single-table result pair must also be reachable multi-table,
    and extra tables can only ADD candidates (recall is monotone in L)."""
    import random
    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    rows.append((900, list(rows[5][1])))  # planted duplicate of vec 5
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter("vec_id = 5").selectExpr("vec_id as query_id", "embedding")
    single = similarity.lsh_topk(emb, q, "vec_id", "embedding",
                                 k=300, num_planes=10, dim=16)
    multi = similarity.lsh_topk_multi(emb, q, "vec_id", "embedding",
                                      k=300, num_planes=10, dim=16,
                                      num_tables=3)
    s = {r["neighbor_id"] for r in single.collect()}
    m = {r["neighbor_id"] for r in multi.collect()}
    assert s <= m and len(m) >= len(s)
    # the planted duplicate always lands in the same bucket in every table
    top = multi.filter(F.col("rank") == 1).collect()[0]
    assert top["neighbor_id"] == 900 and abs(top["cosine"] - 1.0) < 1e-9


def test_ivf_topk_recovers_identical_vector(spark):
    import random
    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)]
    rows.append((900, list(rows[3][1])))  # planted duplicate of vec 3
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    from glamr_omics_pipelines_spark.operators import similarity
    cents = similarity.train_ivf_centroids(emb, "embedding", k=8, iters=3,
                                           sample_rows=128)
    assert len(cents) == 8 and len(cents[0]) == 16
    q = emb.filter("vec_id = 3").selectExpr("vec_id as query_id", "embedding")
    out = similarity.ivf_topk(emb, q, "vec_id", "embedding", cents,
                              k=3, nprobe=2).collect()
    assert out and out[0].neighbor_id == 900 and abs(out[0].cosine - 1.0) < 1e-9


def test_exact_dedup_null_positions_not_merged(spark):
    """('a', NULL) and (NULL, 'a') are different contents (review finding:
    xxhash64/concat_ws both skip nulls)."""
    df = spark.createDataFrame([(1, "a", None), (2, None, "a")],
                               ["id", "c1", "c2"])
    out = dedup.exact_dedup(df, ["c1", "c2"], "id")
    assert out.count() == 2


def test_hyperplane_buckets_rejects_wide_planes(spark):
    import pytest as _pytest
    from glamr_omics_pipelines_spark.operators import similarity
    df = spark.createDataFrame([(1, [0.1, 0.2])], ["id", "v"])
    with _pytest.raises(ValueError, match="num_planes"):
        similarity.hyperplane_buckets(df, "v", num_planes=63, dim=2)


def test_exact_dedup_id_winner_of_other_group(spark):
    """A row whose id equals the WINNER of a different content group must
    still be dropped (semi-join must match on (hash, id), not id alone)."""
    from glamr_omics_pipelines_spark.operators import dedup
    rows = [(42, "textA"), (10042, "textA"),   # winner 42
            (10042, "textB")]                  # same id, different content
    # textB's winner is 10042 — but row (10042, 'textA') must STILL die
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_id, r.text) for r in
           dedup.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {(42, "textA"), (10042, "textB")}


def test_cache_registry_release(spark):
    """Operator-internal persists are released by _cache.release_caches().
    triangle_count registers two (its canonical and oriented edge lists);
    the registry is drained first so the count is this test's own."""
    from glamr_omics_pipelines_spark.operators import _cache, graph
    _cache.release_caches()
    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["src", "dst"])
    graph.triangle_count(df).collect()  # materializes the registered caches
    assert _cache.release_caches() == 2
    assert _cache.release_caches() == 0  # registry drained


def test_simhash_omits_tokenless_docs(spark):
    """Empty/whitespace docs carry no signal and must produce NO signature
    row (they would otherwise all share bucket 0 in every band)."""
    df = spark.createDataFrame(
        [(1, "real words here"), (2, ""), (3, "   ")], ["doc_id", "text"])
    out = dedup.simhash_signatures(df, "doc_id", "text")
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_dup_clusters_raises_on_nonconvergence(spark, monkeypatch):
    import pytest as _pytest
    chain = [(i, i + 1) for i in range(10)]  # diameter 10 > max_iter 2
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    # the convergence guard belongs to the distributed loop; the
    # single-task union-find path (the auto choice at this size) always
    # converges, so the gate is closed to every pair count
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_PAIRS", 0)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(df, max_iter=2)


def test_dup_clusters_local_and_loop_forms_agree(spark, monkeypatch):
    """The single-task union-find path and the distributed min-label loop
    are two physical plans of the same contract: identical (id, label)
    sets, including chains, merged components, and self-loops. The
    distributed forms are forced by closing ``_LOCAL_CC_MAX_PAIRS``."""
    pairs = ([(i, i + 1) for i in range(1, 9)]
             + [(50, 51), (60, 61), (51, 60), (70, 70)])
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    a = sorted(map(tuple, dedup.dup_clusters(df).collect()))
    c = sorted(map(tuple, dedup.dup_clusters_star(df).collect()))
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_PAIRS", 0)
    b = sorted(map(tuple, dedup.dup_clusters(df).collect()))
    assert a == b
    d = sorted(map(tuple, dedup.dup_clusters_star(df).collect()))
    assert c == d
    assert a == c
    assert (70, 70) in a  # self-loop node keeps its self-label


def test_line_dedup_strips_cross_doc_boilerplate(spark):
    df = spark.createDataFrame([
        (1, "unique alpha\nCOOKIE BANNER\nunique beta"),
        (2, "COOKIE BANNER\nother content"),
        (3, "more text\nCOOKIE BANNER"),
        (4, "COOKIE BANNER"),                  # reduces to empty, not dropped
        (5, "standalone doc\n\nwith a blank line"),
    ], ["doc_id", "text"])
    out = dedup.line_dedup(df, "doc_id", "text", min_docs=3)
    got = {r["doc_id"]: r["clean_text"] for r in out.collect()}
    assert got[1] == "unique alpha\nunique beta"      # order preserved
    assert got[2] == "other content"
    assert got[3] == "more text"
    assert got[4] == ""                               # all-boilerplate doc kept
    assert got[5] == "standalone doc\n\nwith a blank line"
    assert set(got) == {1, 2, 3, 4, 5}


def test_line_dedup_short_lines_never_removed(spark):
    # blank lines repeat across every doc but are below min_line_chars,
    # so they are neither counted nor removed.
    df = spark.createDataFrame([
        (1, "a line\n\ntail one"),
        (2, "b line\n\ntail two"),
        (3, "c line\n\ntail three"),
    ], ["doc_id", "text"])
    out = dedup.line_dedup(df, "doc_id", "text", min_docs=2, min_line_chars=1)
    got = {r["doc_id"]: r["clean_text"] for r in out.collect()}
    assert got[1] == "a line\n\ntail one"


def test_span_dedup_marks_maximal_shared_spans(spark):
    # docs 1 and 2 share an 8-token run; w=4 seeds must merge to cover the
    # whole run in both docs, leaving only the unique heads/tails.
    shared = "one two three four five six seven eight"
    df = spark.createDataFrame([
        (1, f"alpha head {shared} tail omega"),
        (2, f"{shared} different ending"),
        (3, "totally unrelated text with no overlap at all"),
    ], ["doc_id", "text"])
    out = dedup.span_dedup(df, "doc_id", "text", w=4, min_docs=2)
    got = {r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
           for r in out.collect()}
    assert got[1] == ("alpha head tail omega", 8)
    assert got[2] == ("different ending", 8)
    assert got[3] == ("totally unrelated text with no overlap at all", 0)


def test_span_dedup_short_docs_pass_through(spark):
    # below w tokens: no seeds, nothing removable, doc survives (normalized).
    df = spark.createDataFrame([
        (1, "tiny doc"),
        (2, "tiny doc"),          # exact dup but only 2 tokens < w
    ], ["doc_id", "text"])
    out = dedup.span_dedup(df, "doc_id", "text", w=6, min_docs=2)
    got = {r["doc_id"]: r["clean_text"] for r in out.collect()}
    assert got == {1: "tiny doc", 2: "tiny doc"}


def test_hash_keyed_variants_match_string_keyed(spark):
    # hash_keys=True is the petabyte-scale form: identical output on
    # collision-free inputs, narrower shuffles.
    df = spark.createDataFrame([
        (1, "unique alpha\nCOOKIE BANNER\nshared one two three four tail"),
        (2, "COOKIE BANNER\nshared one two three four other"),
        (3, "more text\nCOOKIE BANNER"),
    ], ["doc_id", "text"])
    for fn, kw in ((dedup.line_dedup, dict(min_docs=3)),
                   (dedup.span_dedup, dict(w=4, min_docs=2))):
        a = {tuple(r) for r in fn(df, "doc_id", "text", **kw).collect()}
        b = {tuple(r) for r in
             fn(df, "doc_id", "text", hash_keys=True, **kw).collect()}
        assert a == b, fn.__name__


def test_dup_clusters_broadcast_and_shuffle_forms_agree(spark, monkeypatch):
    """The broadcast and shuffle label joins (forced through
    ``_BROADCAST_LABELS_MAX_NODES``) are two physical plans of the same
    min-label propagation: identical labels, including on a chain whose
    diameter forces several rounds."""
    pairs = [(i, i + 1) for i in range(1, 9)] + [(50, 51), (60, 61), (51, 60)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_PAIRS", 0)
    a = sorted(map(tuple, dedup.dup_clusters(df).collect()))
    monkeypatch.setattr(dedup, "_BROADCAST_LABELS_MAX_NODES", 0)
    b = sorted(map(tuple, dedup.dup_clusters(df).collect()))
    assert a == b
    assert {(i, 1) for i in range(1, 10)} <= set(a)
    assert {(50, 50), (51, 50), (60, 50), (61, 50)} <= set(a)


def test_lsh_candidate_pairs_recall_on_near_dups(spark):
    """The auto-gate's pair generator: exact copies and very-near
    duplicates must land in a shared bucket in at least one of the OR
    tables, and every emitted pair is ordered and unique."""
    import random
    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(16)]
    near = [x + rng.gauss(0, 0.001) for x in base]
    far = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(6)]
    rows = [(1, base), (2, list(base)), (3, near)] + \
        [(10 + i, v) for i, v in enumerate(far)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    got = {(r.id_a, r.id_b) for r in
           similarity.lsh_candidate_pairs(df, "id", "v", dim=16).collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= got
    assert all(a < b for a, b in got)


def _cos(a, b):
    """Plain-Python cosine: the reference the exact Spark forms match."""
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a))
                  * math.sqrt(sum(y * y for y in b)))


def test_embedding_cosine_dups_pairgen_gate(spark, monkeypatch):
    """Auto-gate (VERDICT r6 #2): above _BRUTE_PAIRGEN_MAX_ROWS the pair
    generation must be the LSH candidate equi-join — no
    BroadcastNestedLoop / CartesianProduct in the plan — and below it the
    exact all-pairs form returns exactly the pairs a Python reference
    finds. The LSH form only drops pairs, never invents one, and keeps
    every identical-vector pair (those collide in every table)."""
    rows = [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(40)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    monkeypatch.setattr(similarity, "_BRUTE_PAIRGEN_MAX_ROWS", 10)
    gated = dedup.embedding_cosine_dups(df, "id", "v", threshold=0.999)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    monkeypatch.setattr(similarity, "_BRUTE_PAIRGEN_MAX_ROWS", 100_000)
    brute = dedup.embedding_cosine_dups(df, "id", "v", threshold=0.999)
    bplan = brute._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" in bplan or "CartesianProduct" in bplan
    want = {(i, j) for i, a in rows for j, b in rows
            if i < j and _cos(a, b) >= 0.999}
    identical = {(i, j) for i, a in rows for j, b in rows
                 if i < j and a == b}
    exact = {(r.id_a, r.id_b) for r in brute.collect()}
    lsh = {(r.id_a, r.id_b) for r in gated.collect()}
    assert exact == want
    assert identical <= lsh <= exact


def test_brute_force_topk_stays_exact_above_pairgen_gate(spark,
                                                         monkeypatch):
    """brute_force_topk is always exact: its cost is corpus × a broadcast
    query side (linear in the corpus, not the n² the pair-generation gate
    guards), and ann_recall takes its ground truth from it. With the gate
    at 10 rows a 30-row corpus still gets the exact cross-join top-k."""
    rows = [(i, [1.0, float(i), 0.5]) for i in range(30)]
    corpus = spark.createDataFrame(rows, "id int, v array<double>")
    qv = [1.0, 3.0, 0.5]
    queries = spark.createDataFrame([(100, qv)],
                                    "query_id int, v array<double>")
    monkeypatch.setattr(similarity, "_BRUTE_PAIRGEN_MAX_ROWS", 10)
    got = similarity.brute_force_topk(corpus, queries, "id", "v", k=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" in plan
    want = sorted(((round(_cos(v, qv), 6), i) for i, v in rows),
                  key=lambda t: (-t[0], t[1]))[:3]
    out = got.orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [i for _, i in want]
    assert [r.rank for r in out] == [1, 2, 3]
    for r, (c, _) in zip(out, want):
        assert math.isclose(r.cosine, c, abs_tol=1e-6)


class _ConnectLikeSession:
    """A session with no driver-side SparkContext: Spark Connect raises
    PySparkAttributeError (an AttributeError) for ``sparkContext`` and
    carries the application id in the spark.app.id conf."""

    class conf:
        @staticmethod
        def get(key):
            return "app-connect-1" if key == "spark.app.id" else None

    @property
    def sparkContext(self):
        from pyspark.errors import PySparkAttributeError
        raise PySparkAttributeError(
            errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
            messageParameters={"attr_name": "sparkContext"})


class _StubFrame:
    schema = "struct<id:int>"

    def __init__(self, semantic_hash):
        self.sparkSession = _ConnectLikeSession()
        self._semantic_hash = semantic_hash

    def semanticHash(self):
        return self._semantic_hash()


def test_plan_key_propagates_errors():
    """Gate code swallows no exceptions: an error from semanticHash()
    propagates instead of silently turning the gate memo off."""
    def broken():
        raise RuntimeError("semanticHash failed")
    with pytest.raises(RuntimeError, match="semanticHash failed"):
        similarity._plan_key(_StubFrame(broken))


def _gate_at(monkeypatch, df, gate):
    """similarity._over_gate with the brute-pairgen ceiling set to gate."""
    monkeypatch.setattr(similarity, "_BRUTE_PAIRGEN_MAX_ROWS", gate)
    return similarity._over_gate(df)


def test_gate_probe_memoized(spark, monkeypatch):
    """VERDICT r7 #2: the auto-gate's limit(N+1).count() probe is a full
    Spark job and must run at most ONCE per (session, logical plan) —
    repeated calls with the same plan (bench reruns, dbscan chains) hit
    the memo. Distinct plans and distinct gate values each get their own
    probe."""
    rows = [(i, [float(i), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    similarity.clear_gate_cache()
    calls = []
    # patch the CONCRETE class (pyspark.sql.classic.dataframe.DataFrame
    # under Spark 4) — the abstract pyspark.sql.DataFrame's limit is
    # shadowed by the subclass override
    cls = type(df)
    orig = cls.limit

    def spy(self, n):
        calls.append(n)
        return orig(self, n)

    monkeypatch.setattr(cls, "limit", spy)
    assert _gate_at(monkeypatch, df, 10) is True
    assert _gate_at(monkeypatch, df, 10) is True
    assert calls == [11], "second call must hit the memo"
    assert _gate_at(monkeypatch, df, 50) is False  # new gate -> new probe
    assert calls == [11, 51]
    other = df.filter(F.col("id") < 5)
    assert _gate_at(monkeypatch, other, 10) is False  # new plan -> new probe
    assert calls == [11, 51, 11]
    similarity.clear_gate_cache()
    assert _gate_at(monkeypatch, df, 10) is True  # cleared -> probes again
    assert calls == [11, 51, 11, 11]


def test_vec_dim_memoized(spark):
    """_vec_dim (a one-row driver job) is memoized per (session, plan,
    column) alongside the gate verdict."""
    rows = [(1, [1.0, 2.0, 3.0])]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    similarity.clear_gate_cache()
    assert similarity._vec_dim(df, "v") == 3
    key = similarity._plan_key(df)
    assert (*key, "v") in similarity._DIM_CACHE
    assert similarity._vec_dim(df, "v") == 3


def test_lsh_params_for_threshold_meets_recall():
    """ADVICE r7: derived (num_planes, num_tables) must reach the recall
    target across the threshold range where 16 tables suffice, and the
    analytic curve must match the closed form."""
    for t in (0.999, 0.99, 0.95, 0.9, 0.8):
        p = similarity.lsh_params_for_threshold(t, target_recall=0.95)
        r = similarity.lsh_candidate_recall(t, **p)
        assert r >= 0.95, (t, p, r)
        assert 4 <= p["num_planes"] <= 16
        assert 1 <= p["num_tables"] <= 16
    # the old fixed default really was ~0.73 at threshold 0.95
    assert abs(similarity.lsh_candidate_recall(0.95, 12, 4) - 0.728) < 0.01
    # exact-duplicate threshold needs a single table
    assert similarity.lsh_params_for_threshold(1.0)["num_tables"] == 1


def test_pq_encode_picks_nearest_codeword_and_adc_matches(spark):
    """PQ (r8): encode must pick the squared-L2-nearest codeword per
    subspace (index-asc tiebreak), and the ADC distance must equal the
    exact distance from the query to the DECODED (codeword-concatenated)
    point — the defining PQ identity."""
    books = similarity.pq_codebooks_random(m=2, k=4, dsub=3, seed=3)
    rows = [(1, [0.1] * 6), (2, [1.0, -1.0, 0.5, 0.0, 0.2, -0.3]),
            (3, [v + 0.01 for v in books[0][2]] + list(books[1][1]))]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    codes = {r.vec_id: list(r.pq_codes) for r in
             similarity.pq_encode(df, "vec_id", "embedding",
                                  books).collect()}
    # brute-force the expected codes in python
    def expect(vec):
        out = []
        for s, cb in enumerate(books):
            sub = vec[s * 3:(s + 1) * 3]
            dists = [sum((a - b) ** 2 for a, b in zip(sub, cw))
                     for cw in cb]
            out.append(min(range(len(cb)), key=lambda j: (dists[j], j)))
        return out
    for vid, vec in rows:
        assert codes[vid] == expect(vec), vid
    assert codes[3] == [2, 1]          # planted near-codeword vector
    # ADC identity: distance(query, decode(codes)) == adc
    queries = spark.createDataFrame([(99, [0.3] * 6)],
                                    "query_id int, embedding array<double>")
    cdf = similarity.pq_encode(df, "vec_id", "embedding", books)
    got = {r.neighbor_id: r.adc for r in
           similarity.pq_adc_topk(cdf, queries, books, k=3).collect()}
    qv = [0.3] * 6
    for vid, vec in rows:
        decoded = [x for s, c in enumerate(expect(vec))
                   for x in books[s][c]]
        exact = sum((a - b) ** 2 for a, b in zip(qv, decoded))
        assert abs(got[vid] - exact) < 1e-9, vid


def test_train_pq_codebooks_beats_random_quantization(spark):
    """The Lloyd-trained codebooks must reconstruct a clustered corpus
    with lower quantization error than data-independent random books."""
    import numpy as np
    rng = np.random.RandomState(5)
    centers = rng.randn(4, 8) * 3
    vecs = [(i, (centers[i % 4] + rng.randn(8) * 0.1).tolist())
            for i in range(160)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    trained = similarity.train_pq_codebooks(df, "embedding", m=2, k=4,
                                            iters=6, sample_rows=160)
    randomb = similarity.pq_codebooks_random(m=2, k=4, dsub=4, seed=1)

    def mse(books):
        codes = {r.vec_id: list(r.pq_codes) for r in
                 similarity.pq_encode(df, "vec_id", "embedding",
                                      books).collect()}
        tot = 0.0
        for vid, vec in vecs:
            dec = [x for s, c in enumerate(codes[vid]) for x in books[s][c]]
            tot += sum((a - b) ** 2 for a, b in zip(vec, dec))
        return tot / len(vecs)
    assert mse(trained) < mse(randomb) / 2
    with pytest.raises(ValueError):
        similarity.train_pq_codebooks(df, "embedding", m=3)  # 8 % 3 != 0


def test_gate_cache_key_is_application_id(spark):
    """VERDICT r8 #4 / ADVICE r8: the memo key's session component must be
    the applicationId (stable, never recycled — it embeds a start
    timestamp), not id(sparkSession), which the allocator can reuse after
    a GC'd session and leak a stale gate verdict through."""
    df = spark.createDataFrame([(1, [1.0])], "id int, v array<double>")
    key = similarity._plan_key(df)
    assert key is not None
    assert key[0] == spark.sparkContext.applicationId


def test_gate_under_verdict_reprobes_after_hit_budget(spark, monkeypatch):
    """ADVICE r8: a pinned UNDER-verdict on a growing source silently
    keeps an O(n²) brute plan — so cached False re-probes after
    _GATE_REPROBE_HITS hits, while a cached True (over) verdict stays
    pinned (a shrink only keeps the safe approximate path)."""
    rows = [(i, [float(i)]) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    similarity.clear_gate_cache()
    calls = []
    cls = type(df)
    orig = cls.limit

    def spy(self, n):
        calls.append(n)
        return orig(self, n)

    monkeypatch.setattr(cls, "limit", spy)
    monkeypatch.setattr(similarity, "_GATE_REPROBE_HITS", 3)
    assert _gate_at(monkeypatch, df, 50) is False
    for _ in range(2):  # hits 2, 3 — still under budget
        assert _gate_at(monkeypatch, df, 50) is False
    assert calls == [51]
    assert _gate_at(monkeypatch, df, 50) is False  # budget hit -> re-probe
    assert calls == [51, 51]
    # over-verdicts stay pinned past the budget
    assert _gate_at(monkeypatch, df, 10) is True
    for _ in range(5):
        assert _gate_at(monkeypatch, df, 10) is True
    assert calls == [51, 51, 11]
    similarity.clear_gate_cache()


def test_ivfpq_probe_all_equals_flat_adc_scan(spark):
    """IVFADC composition (VERDICT r8 #4): with nprobe = n_cells the
    cell-pruned scan must equal the flat pq_adc_topk EXACTLY — every
    corpus row lives in exactly one cell and every cell is probed, so
    the candidate pair set, ADC values, and ranking all coincide."""
    import numpy as np
    rng = np.random.RandomState(17)
    rows = [(i, rng.randn(8).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = similarity.pq_codebooks_random(m=2, k=4, dsub=4, seed=3)
    cents = similarity.ivf_centroids_random(k=4, dim=8, seed=11)
    queries = df.filter(F.col("vec_id") < 3) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    idx = similarity.ivfpq_encode(df, "vec_id", "embedding", books, cents)
    got = similarity.ivfpq_adc_topk(idx, queries, books, cents, k=5,
                                    nprobe=4).collect()
    flat = similarity.pq_adc_topk(
        similarity.pq_encode(df, "vec_id", "embedding", books),
        queries, books, k=5).collect()
    key = lambda r: (r.query_id, r.rank)
    g = {key(r): (r.neighbor_id, round(r.adc, 9)) for r in got}
    f = {key(r): (r.neighbor_id, round(r.adc, 9)) for r in flat}
    assert g == f and len(g) == 15


def test_ivfpq_plan_is_equi_join_and_prunes_cells(spark):
    """The IVFADC candidate join must be a broadcast EQUI join on
    ivf_cell — never the BroadcastNestedLoopJoin the flat ADC scan needs
    — and nprobe < n_cells must actually restrict candidates to probed
    cells (every returned neighbor's cell is one the query probed)."""
    import numpy as np
    rng = np.random.RandomState(23)
    rows = [(i, rng.randn(8).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = similarity.pq_codebooks_random(m=2, k=4, dsub=4, seed=5)
    cents = similarity.ivf_centroids_random(k=6, dim=8, seed=11)
    queries = df.filter(F.col("vec_id") < 4) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    idx = similarity.ivfpq_encode(df, "vec_id", "embedding", books, cents)
    out = similarity.ivfpq_adc_topk(idx, queries, books, cents, k=4,
                                    nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan
    cells = {r.vec_id: r.ivf_cell for r in idx.collect()}
    probed = {r.query_id: list(r.probes) for r in queries.select(
        "query_id", F.expr(similarity._nearest_cells_expr(
            "embedding", cents, 2)).alias("probes")).collect()}
    res = out.collect()
    assert res, "pruned scan returned nothing"
    for r in res:
        assert cells[r.neighbor_id] in probed[r.query_id], r
        assert r.neighbor_id != r.query_id


def test_ivfpq_trained_components_compose(spark):
    """The production path — train_ivf_centroids + train_pq_codebooks —
    plugs into the same composition (the oracle row uses the seeded
    random forms; this pins the trained forms compose too)."""
    import numpy as np
    rng = np.random.RandomState(31)
    centers = rng.randn(4, 8) * 4
    rows = [(i, (centers[i % 4] + rng.randn(8) * 0.2).tolist())
            for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = similarity.train_pq_codebooks(df, "embedding", m=2, k=4,
                                          iters=4, sample_rows=80)
    cents = similarity.train_ivf_centroids(df, "embedding", k=4, iters=4,
                                           sample_rows=80)
    queries = df.limit(2).select(F.col("vec_id").alias("query_id"),
                                 "embedding")
    idx = similarity.ivfpq_encode(df, "vec_id", "embedding", books, cents)
    got = similarity.ivfpq_adc_topk(idx, queries, books, cents, k=3,
                                    nprobe=2).collect()
    assert len(got) == 6
    # clustered corpus + trained coarse quantizer: the top neighbors of a
    # cluster member should come from its own cluster
    qid = got[0].query_id
    same = [r for r in got if r.query_id == qid]
    assert all(r.neighbor_id % 4 == qid % 4 for r in same[:1])


def test_ivfpq_empty_guards(spark):
    df = spark.createDataFrame([], "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus sample"):
        similarity.train_pq_codebooks(df, "embedding", m=2, k=2)
    with pytest.raises(ValueError, match="empty corpus sample"):
        similarity.train_ivf_centroids(df, "embedding", k=2)
    books = similarity.pq_codebooks_random(m=2, k=2, dsub=2, seed=1)
    cents = similarity.ivf_centroids_random(k=2, dim=4, seed=1)
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivfpq_adc_topk(df, df, books, cents, nprobe=0)


def test_plan_key_connect_fallback_uses_conf_app_id():
    """r9 review fix: a Connect-style session (no driver-side
    sparkContext) must still yield a stable memo key via the
    spark.app.id conf — raising there would silently disable
    memoization and reintroduce the per-call probe job."""
    key = similarity._plan_key(_StubFrame(lambda: 424242))
    assert key == ("app-connect-1", 424242, hash("struct<id:int>"))


# ---------------------------------------------------------------------------
# semdedup (cluster-scoped semantic dedup)
# ---------------------------------------------------------------------------


def _semdedup_frame(spark):
    # cells along axes: centroid 0 ~ +x, centroid 1 ~ +y
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),    # dup of 1, same cell
        (3, [0.99, 0.01, 0.0, 0.0]),  # near-dup of 1, same cell
        (4, [0.0, 1.0, 0.0, 0.0]),    # other cell
        (5, [0.0, 1.0, 0.0, 0.0]),    # dup of 4, other cell
        (6, [0.0, 0.0, 1.0, 0.0]),    # alone-ish: nearest is cell 0
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


_SEM_CENTS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]


def test_semdedup_drops_smaller_id_dups(spark):
    out = dedup.semdedup(_semdedup_frame(spark), "vec_id", "embedding",
                         _SEM_CENTS, threshold=0.95)
    got = {r["vec_id"]: (r["dup_of"], r["keep"]) for r in out.collect()}
    assert len(got) == 6                       # one row per input row
    assert got[1] == (None, True)              # survivor of its group
    assert got[2] == (1, False)                # exact dup -> dropped
    assert got[3] == (1, False)                # near dup (cos ~0.9999)
    assert got[4] == (None, True)
    assert got[5] == (4, False)
    assert got[6] == (None, True)              # orthogonal: no near-dup


def test_semdedup_is_cell_scoped(spark):
    # identical vectors in DIFFERENT cells are never compared: plant a
    # vector equidistant trick — two exact dups forced apart by centroids
    rows = [(1, [1.0, 0.05, 0.0, 0.0]), (2, [0.05, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = dedup.semdedup(df, "vec_id", "embedding", _SEM_CENTS,
                         threshold=0.0)  # any compared pair would match
    got = {r["vec_id"]: r["keep"] for r in out.collect()}
    assert got == {1: True, 2: True}           # different cells -> no pair


def test_semdedup_composes_with_trained_centroids(spark):
    df = _semdedup_frame(spark)
    cents = similarity.train_ivf_centroids(df, "embedding", k=2, iters=3,
                                           sample_rows=6)
    out = dedup.semdedup(df, "vec_id", "embedding", cents, threshold=0.999)
    dropped = {r["vec_id"] for r in out.collect() if not r["keep"]}
    # exact-duplicate pairs share a cell under ANY quantizer
    assert 2 in dropped and 5 in dropped


# ---------------------------------------------------------------------------
# kmeans_lloyd (distributed full-corpus Lloyd iterations)
# ---------------------------------------------------------------------------


def test_kmeans_lloyd_two_clusters(spark):
    rows = [(1, [0.0, 0.0]), (2, [0.2, 0.0]), (3, [0.0, 0.2]),
            (4, [10.0, 10.0]), (5, [10.2, 10.0]), (6, [10.0, 10.2])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents, sizes = similarity.kmeans_lloyd(
        df, "embedding", [[1.0, 1.0], [9.0, 9.0]], iters=3)
    assert sizes == [3, 3]
    assert cents[0] == [round(0.2 / 3, 6)] * 2
    assert cents[1] == [round(10 + 0.2 / 3, 6)] * 2


def test_kmeans_lloyd_empty_cell_keeps_centroid(spark):
    rows = [(1, [0.0, 0.0]), (2, [0.2, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents, sizes = similarity.kmeans_lloyd(
        df, "embedding", [[0.0, 0.0], [100.0, 100.0]], iters=2)
    assert sizes == [2, 0]
    assert cents[1] == [100.0, 100.0]          # inherited, never updated
    assert cents[0] == [0.1, 0.0]


def test_kmeans_lloyd_matches_numpy_reference(spark):
    import random

    import numpy as np
    rng = random.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    init = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(3)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got, sizes = similarity.kmeans_lloyd(df, "embedding", init, iters=2)

    x = np.array([r[1] for r in rows])
    cent = np.array(init)
    ref_sizes = None
    for _ in range(2):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        new = cent.copy()
        ref_sizes = [int((assign == j).sum()) for j in range(3)]
        for j in range(3):
            if ref_sizes[j]:
                new[j] = np.round(x[assign == j].mean(axis=0), 6)
        cent = new
    assert sizes == ref_sizes
    for a, b in zip(got, cent):
        assert a == pytest.approx(list(b), abs=1e-9)


def test_kmeans_lloyd_guards(spark):
    df = spark.createDataFrame([(1, [0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError):
        similarity.kmeans_lloyd(df, "embedding", [[0.0]], iters=0)
    with pytest.raises(ValueError):
        similarity.kmeans_lloyd(df, "embedding", [], iters=1)


# ---------------------------------------------------------------------------
# ann_recall (recall@k eval harness)
# ---------------------------------------------------------------------------


def test_ann_recall_arithmetic(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        ["query_id", "neighbor_id"])
    approx = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99), (2, 7)],   # q1: 2/3 hit; q2: 0/2
        ["query_id", "neighbor_id"])
    out = similarity.ann_recall(approx, exact)
    got = {r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
           for r in out.collect()}
    assert got[1] == (3, 2, round(2 / 3, 4))
    assert got[2] == (2, 0, 0.0)


def test_ann_recall_dropped_query_still_reported(spark):
    exact = spark.createDataFrame([(5, 1), (5, 2)],
                                  ["query_id", "neighbor_id"])
    approx = spark.createDataFrame([], "query_id long, neighbor_id long")
    out = similarity.ann_recall(approx, exact).collect()
    assert len(out) == 1 and out[0]["n_hit"] == 0 and out[0]["recall"] == 0.0


def test_ann_recall_probe_all_ivf_is_perfect(spark):
    import random
    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = similarity.ivf_centroids_random(k=4, dim=8, seed=2)
    q = emb.filter(F.col("vec_id") < 3) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, q, "vec_id", "embedding",
                                        k=4)
    full = similarity.ivf_topk(emb, q, "vec_id", "embedding", cents,
                               k=4, nprobe=4)
    out = similarity.ann_recall(full, exact).collect()
    assert all(r["recall"] == 1.0 for r in out)   # probe-all == exact


# ---------------------------------------------------------------------------
# Partition-pruned persisted IVF index
# ---------------------------------------------------------------------------


def test_ivfpq_partitioned_probe_prunes_and_matches(spark, tmp_path):
    """The 100-TB claim made concrete: a persisted index partitioned by
    ivf_cell, probed with a literal cell filter, must (a) show the cells
    as a PartitionFilter on the parquet scan — only probed directories
    read — and (b) return exactly what the in-memory IVFADC returns."""
    import random
    rng = random.Random(21)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = similarity.pq_codebooks_random(m=4, k=8, dsub=4, seed=7)
    cents = similarity.ivf_centroids_random(k=8, dim=16, seed=11)
    idx = similarity.ivfpq_encode(emb, "vec_id", "embedding", books, cents)
    path = str(tmp_path / "ivf_index")
    similarity.write_ivf_index(idx, path)

    q = emb.filter(F.col("vec_id") < 3) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivfpq_probe_partitioned(
        spark, path, q, books, cents, k=3, nprobe=2, vec_col="embedding")

    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re
    m = _re.search(r"PartitionFilters: \[[^\]]*ivf_cell[^\]]*\]", plan)
    assert m, "probe scan must carry an ivf_cell PartitionFilter"

    ref = similarity.ivfpq_adc_topk(idx, q, books, cents, k=3, nprobe=2)
    got = sorted(map(tuple, out.select("query_id", "neighbor_id",
                                       "rank").collect()))
    want = sorted(map(tuple, ref.select("query_id", "neighbor_id",
                                        "rank").collect()))
    assert got == want


def test_write_ivf_index_layout(spark, tmp_path):
    import os as _os
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = similarity.pq_codebooks_random(m=2, k=4, dsub=1, seed=3)
    cents = [[1.0, 0.0], [0.0, 1.0]]
    idx = similarity.ivfpq_encode(emb, "vec_id", "embedding", books, cents)
    path = str(tmp_path / "idx")
    similarity.write_ivf_index(idx, path)
    dirs = {d for d in _os.listdir(path) if d.startswith("ivf_cell=")}
    assert dirs == {"ivf_cell=0", "ivf_cell=1"}


# ---------------------------------------------------------------------------
# Incremental MinHash (minhash_bands / minhash_lsh_candidates_vs)
# ---------------------------------------------------------------------------


def test_minhash_bands_is_lsh_state(spark):
    """bands(df) must carry exactly bands rows per doc, and the self-join
    over it must equal minhash_lsh_candidates (the factored path)."""
    df = _docs(spark)
    bands = dedup.minhash_bands(df, "doc_id", "text", num_hashes=32,
                                bands=16, shingle_n=4)
    per_doc = {r["doc_id"]: r["n"] for r in
               bands.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
               .collect()}
    assert set(per_doc.values()) == {16}


def test_minhash_incremental_vs_finds_planted_dup(spark):
    hist = _docs(spark)                          # ids 1..4
    new = spark.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog"),  # dup of 1/4
         (102, "zzz completely unrelated qqq text vvv here")],
        ["doc_id", "text"])
    hb = dedup.minhash_bands(hist, "doc_id", "text", num_hashes=32,
                             bands=16, shingle_n=4)
    nb = dedup.minhash_bands(new, "doc_id", "text", num_hashes=32,
                             bands=16, shingle_n=4)
    cands = dedup.minhash_lsh_candidates_vs(nb, hb, "doc_id")
    got = {(r["id_hist"], r["id_new"]) for r in cands.collect()}
    assert (1, 101) in got and (4, 101) in got   # exact dups always collide
    # candidates MAY contain LSH false positives (2-hash bands collide on
    # a few shared shingles) — the verification stage must kill them:
    union = hist.unionByName(new)
    verified = dedup.ngram_jaccard_pairs(
        union, "doc_id", "text", shingle_n=4, threshold=0.9,
        candidates=cands.select(F.col("id_hist").alias("id_a"),
                                F.col("id_new").alias("id_b")))
    vgot = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert (1, 101) in vgot and (4, 101) in vgot
    assert all(b != 102 for _, b in vgot)        # the novel doc never survives


def test_minhash_incremental_only_cross_pairs(spark):
    """The cross-corpus probe must never emit hist×hist or new×new pairs."""
    hist = _docs(spark)
    new = hist.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    hb = dedup.minhash_bands(hist, "doc_id", "text", num_hashes=32,
                             bands=16, shingle_n=4)
    nb = dedup.minhash_bands(new, "doc_id", "text", num_hashes=32,
                             bands=16, shingle_n=4)
    cands = dedup.minhash_lsh_candidates_vs(nb, hb, "doc_id").collect()
    assert cands
    assert all(r["id_hist"] <= 4 and r["id_new"] >= 101 for r in cands)


# ---------------------------------------------------------------------------
# assign_cells (expr vs arrow BLAS assignment kernels)
# ---------------------------------------------------------------------------


def _assign_gate(monkeypatch, form):
    """Force assign_cells' kernel through its model-shape gate: 'arrow'
    opens it to every model, 'expr' closes it to every model."""
    monkeypatch.setattr(similarity, "_ASSIGN_ARROW_MIN_CELL_DIMS",
                        0 if form == "arrow" else math.inf)


def test_assign_cells_strategies_agree(spark, monkeypatch):
    import random
    rng = random.Random(17)
    # well-separated data: rows near one of 3 distant anchors
    anchors = [[10.0 * (a == j) for j in range(8)] for a in range(3)]
    rows = [(i, [anchors[i % 3][j] + rng.gauss(0, 0.1) for j in range(8)])
            for i in range(120)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {}
    for strat in ("expr", "arrow"):
        with monkeypatch.context() as m:
            _assign_gate(m, strat)
            out = similarity.assign_cells(df, "embedding", anchors)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert ("MapInPandas" in plan) == (strat == "arrow")
            got[strat] = {r["vec_id"]: r["ivf_cell"]
                          for r in out.collect()}
    assert got["expr"] == got["arrow"]
    assert all(got["expr"][i] == i % 3 for i in range(120))


def test_assign_cells_auto_picks_by_model_size(spark):
    df = spark.createDataFrame([(1, [0.0, 1.0])], ["vec_id", "embedding"])
    small = similarity.assign_cells(df, "embedding",
                                    [[0.0, 0.0], [0.0, 2.0]])
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan          # tiny model -> expr
    big_cents = [[float(i == j) for j in range(64)] for i in range(64)]
    df64 = spark.createDataFrame(
        [(1, [float(j == 7) for j in range(64)])], ["vec_id", "embedding"])
    big = similarity.assign_cells(df64, "embedding", big_cents)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan              # 64x64 >= 4096 -> arrow
    assert big.collect()[0]["ivf_cell"] == 7  # still correct


def test_kmeans_lloyd_arrow_strategy_matches_expr(spark, monkeypatch):
    rows = [(1, [0.0, 0.0]), (2, [0.2, 0.0]), (3, [0.0, 0.2]),
            (4, [10.0, 10.0]), (5, [10.2, 10.0]), (6, [10.0, 10.2])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    init = [[1.0, 1.0], [9.0, 9.0]]
    a = similarity.kmeans_lloyd(df, "embedding", init, iters=3)
    with monkeypatch.context() as m:
        _assign_gate(m, "arrow")
        b = similarity.kmeans_lloyd(df, "embedding", init, iters=3)
    assert a == b


def test_semdedup_arrow_strategy_matches_expr(spark, monkeypatch):
    out_e = dedup.semdedup(_semdedup_frame(spark), "vec_id", "embedding",
                           _SEM_CENTS, threshold=0.95)
    with monkeypatch.context() as m:
        _assign_gate(m, "arrow")
        out_a = dedup.semdedup(_semdedup_frame(spark), "vec_id",
                               "embedding", _SEM_CENTS, threshold=0.95)
        plan = out_a._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
    key = lambda r: r["vec_id"]
    assert sorted(out_e.collect(), key=key) == sorted(out_a.collect(),
                                                      key=key)
