"""Similarity search over embedding columns (BASELINE.json north-star ext.).

Reference precedent: sourmash MinHash genome similarity (Snakefile:2529) — the
same sketch-then-bucket idea generalized to dense vectors.

Two tiers:
  - brute-force cosine top-k: exact baseline. The query side is small (top-k
    against a handful of probe vectors) so it broadcasts; the corpus scan
    stays partition-parallel and the per-partition top-k folds through a
    window on the query id (shuffle = O(queries × corpus-partition winners)).
  - LSH-bucketed (random hyperplane signs) cosine: the scale path — corpus
    hashed once into sign-pattern buckets, probes join only their bucket.

Dot products use higher-order functions (zip_with + aggregate) — JVM
expression tree, codegen'd, no Python and no UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def as_double_vec(col) -> Column:
    """Cast array<float> → array<double> for numerically-stable arithmetic."""
    return F.transform(col, lambda x: x.cast("double"))


def norm_col(col) -> Column:
    """L2 norm as a scalar column. Precomputing this per ROW (projection
    below a pair join) turns per-pair cosine into dot / (na*nb) — at n² pairs
    the two norm reductions would otherwise dominate the join's expression
    cost. (Do NOT divide inside a transform lambda instead: Catalyst inlines
    the aggregate into the lambda body, re-evaluating it per element.)"""
    return _norm(as_double_vec(col))


def dot_col(a, b) -> Column:
    """Dot product of two double-vector columns."""
    return _dot(a, b)


def cosine_sim(a, b) -> Column:
    """Cosine similarity of two array columns (computed in double).

    try_divide, not /: a zero vector has norm 0 and its cosine is
    undefined — null, never an ANSI DIVIDE_BY_ZERO that would kill the
    whole job over one degenerate embedding."""
    da, db = as_double_vec(a), as_double_vec(b)
    return F.try_divide(_dot(da, db), _norm(da) * _norm(db))


def cosine_from_norms(a, b, na, nb) -> Column:
    """Cosine from vectors + PRECOMPUTED norms: dot(a,b) / (na*nb).

    Value-identical to :func:`cosine_sim` when ``na``/``nb`` are
    :func:`norm_col` of the same vectors (same double ops in the same
    order) — but the two norm reductions run once per ROW below the pair
    join instead of once per PAIR above it. At q queries × n candidates
    that turns 3 array reductions per pair into 1 (r11 guide §2.3
    "shuffle keys and metadata": the norm is 8 bytes of metadata riding
    the row)."""
    return F.try_divide(_dot(as_double_vec(a), as_double_vec(b)),
                        F.col(na) * F.col(nb))


# Auto-ceiling for exact all-pairs pair generation (mirrors pagerank's
# _BROADCAST_RANKS_MAX_NODES gate, graph.py): n corpus rows enumerate
# n(n-1)/2 candidate pairs, so 100k rows is already ~5e9 dot products —
# past this the O(n²) plan stops being a "documented baseline" and becomes
# the job. Above the gate the pair generator of embedding_cosine_dups (and
# dbscan_cosine on top of it) switches to OR-amplified hyperplane-LSH
# bucket self-joins (recall < 1 by LSH nature — tunable via
# num_planes/num_tables). The gate alone decides: no caller overrides it
# (tests force a form by setting this constant), and the sf0.01 oracles sit
# far below it. brute_force_topk is not gated — its cost is corpus × a
# broadcast query side, linear in the corpus.
_BRUTE_PAIRGEN_MAX_ROWS = 100_000

# Memoized gate verdicts / vector widths, keyed by (session id, plan
# semanticHash, schema hash): the limit(N+1).count() probe and the one-row
# dim lookup are each a full Spark job (~0.2 s locally), and operators such
# as embedding_cosine_dups / dbscan_cosine re-derive the SAME logical plan
# on every call — the probe re-ran per call and was the one real perf
# regression of round 7 (cosine_topk 1.72x). The verdict is a property of
# the logical plan, so it is cached for the session's lifetime.
_GATE_CACHE: dict = {}
_DIM_CACHE: dict = {}
_CACHE_MAX = 256
# cached under-verdicts re-probe after this many hits (growing-source bound)
_GATE_REPROBE_HITS = 64


def _plan_key(df: DataFrame) -> tuple | None:
    """Session-scoped logical-plan identity for memoization. semanticHash
    alone is a 32-bit hash; adding the schema string shrinks the collision
    surface (a collision here only mis-picks the physical strategy, never
    the result — but an under-verdict on a huge corpus would un-gate an
    O(n²) plan, so cheap extra discrimination is worth it). The session
    component is the Spark applicationId — stable for the session's
    lifetime and never recycled (it embeds a start timestamp), unlike
    id(), which a GC'd session's successor can reuse and inherit a stale
    verdict through (VERDICT r8 #4). On Connect sessions the same id
    comes from the spark.app.id conf: their ``sparkContext`` raises
    ``PySparkAttributeError`` (an ``AttributeError``), and giving up there
    would silently disable memoization and reintroduce the per-call probe
    job. Any other error propagates — a gate that swallowed it would turn
    the memo off without a trace."""
    sess = df.sparkSession
    try:
        app = sess.sparkContext.applicationId
    except AttributeError:  # Spark Connect: no driver-side sparkContext
        app = sess.conf.get("spark.app.id")
    if not app:
        return None
    return (app, df.semanticHash(), hash(str(df.schema)))


def clear_gate_cache() -> None:
    """Drop all memoized gate verdicts and vector widths. Call after a
    source a cached plan reads has grown past the gate mid-session to
    re-gate IMMEDIATELY — without it an under-verdict still re-probes on
    its own every ``_GATE_REPROBE_HITS`` calls (bounded staleness), while
    an over-verdict stays pinned for the session (a shrink only keeps the
    safe approximate path)."""
    _GATE_CACHE.clear()
    _DIM_CACHE.clear()


def _over_gate(df: DataFrame) -> bool:
    """True iff ``df`` has MORE than ``_BRUTE_PAIRGEN_MAX_ROWS`` rows — the
    one site that decides brute↔LSH pair generation for
    ``dedup.embedding_cosine_dups`` (and so for ``dbscan_cosine``).

    limit(gate+1).count() short-circuits the scan on huge corpora (only
    "more than N?" matters, never the exact count); the verdict is
    memoized per (session, logical plan) so repeated calls with the same
    plan — bench reruns, dbscan→embedding_cosine_dups chains — pay the
    probe job once, not per call (VERDICT r7 #2). The gate value is part
    of the memo key, so a test that sets the constant re-probes."""
    gate = _BRUTE_PAIRGEN_MAX_ROWS
    key = _plan_key(df)
    if key is not None:
        hit = _GATE_CACHE.get((*key, gate))
        if hit is not None:
            over, hits = hit
            # a pinned UNDER-verdict on a growing source is the dangerous
            # direction (it keeps an O(n²) brute plan); re-probe it every
            # _GATE_REPROBE_HITS calls so staleness is bounded without
            # paying the probe job per call. An OVER-verdict can only go
            # stale by the source SHRINKING, which merely keeps the
            # approximate path — safe, so it stays pinned for the session.
            if over or hits < _GATE_REPROBE_HITS:
                _GATE_CACHE[(*key, gate)] = (over, hits + 1)
                return over
    over = df.limit(gate + 1).count() > gate
    if key is not None:
        if len(_GATE_CACHE) >= _CACHE_MAX:
            _GATE_CACHE.clear()
        _GATE_CACHE[(*key, gate)] = (over, 1)
    return over


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding width from one row (metadata-scale driver job; memoized
    per (session, plan) — the width of a given plan cannot change)."""
    key = _plan_key(df)
    if key is not None:
        hit = _DIM_CACHE.get((*key, vec_col))
        if hit is not None:
            return hit
    row = df.select(F.size(as_double_vec(vec_col)).alias("d")).first()
    dim = 1 if row is None or row["d"] is None else int(row["d"])
    if key is not None:
        if len(_DIM_CACHE) >= _CACHE_MAX:
            _DIM_CACHE.clear()
        _DIM_CACHE[(*key, vec_col)] = dim
    return dim


def lsh_params_for_threshold(threshold: float, target_recall: float = 0.95,
                             max_tables: int = 16) -> dict:
    """Pick (num_planes, num_tables) so hyperplane-LSH candidate recall at
    cosine ``threshold`` meets ``target_recall`` (ADVICE r7: the old fixed
    12×4 default reached only ~0.73 recall at threshold 0.95 while the
    docs promised 0.999).

    Collision probability per plane is p = 1 − acos(threshold)/π; a table
    of b planes matches with p^b and L OR-amplified tables reach
    1 − (1 − p^b)^L. The most planes (tightest buckets — per-bucket pair
    cost is quadratic, so precision matters more at scale) that still
    meets the target within ``max_tables`` tables wins; if even 4 planes
    can't reach it (very low thresholds), returns the best effort
    (4 planes × max_tables) — callers promising recall should validate
    with :func:`lsh_candidate_recall`.

    Scale caveat: the background candidate volume is ~L·n²/2^b pairs.
    At LOW thresholds the recall-meeting shape drives L/2^b toward 1
    (4 planes × 14 tables at threshold 0.5 ⇒ ~0.9·n² candidates — no
    better than brute force); when the derived shape's background
    fraction exceeds 25% a warning is logged — cosine LSH simply cannot
    prune aggressively at low similarity, so pick a higher threshold or
    a different blocking key there.
    """
    import math
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    params = {"num_planes": 4, "num_tables": max_tables}
    for b in (16, 14, 12, 10, 8, 6, 4):
        pb = p ** b
        if pb >= 1.0 - 1e-12:
            params = {"num_planes": b, "num_tables": 1}
            break
        if pb <= 0.0:
            continue
        L = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb))
        if 1 <= L <= max_tables:
            params = {"num_planes": b, "num_tables": L}
            break
    if params["num_tables"] / 2 ** params["num_planes"] > 0.25:
        import logging
        logging.getLogger(__name__).warning(
            "lsh_params_for_threshold: at threshold %.3g the recall-"
            "meeting shape (%d planes x %d tables) leaves ~%.0f%% of all "
            "pairs as candidates — LSH cannot prune at low similarity; "
            "consider a higher threshold or different blocking.",
            threshold, params["num_planes"], params["num_tables"],
            100.0 * params["num_tables"] / 2 ** params["num_planes"])
    return params


def lsh_candidate_recall(threshold: float, num_planes: int,
                         num_tables: int) -> float:
    """Analytic candidate recall of OR-amplified hyperplane LSH at cosine
    ``threshold``: 1 − (1 − p^b)^L with p = 1 − acos(threshold)/π."""
    import math
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    return 1.0 - (1.0 - p ** num_planes) ** num_tables


def _explode_table_buckets(df: DataFrame, vec_col: str, num_planes: int,
                           dim: int, num_tables: int, seed: int,
                           keep: list) -> DataFrame:
    """Shared OR-amplification plumbing (used by both lsh_topk_multi and
    lsh_candidate_pairs so seeding/packing can never diverge): compute all
    ``num_tables`` bucket ids in ONE projection (the planes are
    expression-tree literals) and posexplode to (lsh_table, lsh_bucket)
    rows alongside the ``keep`` columns."""
    out = df
    for t in range(num_tables):
        out = hyperplane_buckets(out, vec_col, num_planes, dim,
                                 seed=seed + 1000 * t, out=f"_b{t}")
    buckets = F.array(*[F.col(f"_b{t}") for t in range(num_tables)])
    return out.select(*keep,
                      F.posexplode(buckets).alias("lsh_table", "lsh_bucket"))


def lsh_candidate_pairs(df: DataFrame, id_col: str, vec_col: str,
                        num_planes: int = 12, num_tables: int = 4,
                        dim: int | None = None, seed: int = 42) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b) from OR-amplified
    hyperplane LSH — the pair generator ``dedup.embedding_cosine_dups``
    switches to above ``_BRUTE_PAIRGEN_MAX_ROWS`` corpus rows; callable
    directly to build a ``candidates=`` frame at any size.

    All ``num_tables`` bucket ids are computed in ONE projection (the
    planes are expression-tree literals), posexploded to (table, bucket)
    rows, and the pair list is an equi self-join on (table, bucket) —
    quadratic per bucket, never in the corpus. Identical a/b subplans are
    collapsed by Catalyst ReuseExchange (measured faster than an explicit
    persist here). Distinct collapses pairs that collide in several
    tables.

    Recall is the classic 1-(1-p^b)^L amplification curve with
    p = 1 − acos(sim)/π. The 12 planes × 4 tables default reaches ~0.73
    at sim=0.95, ~0.97 at sim=0.99 and >0.999 only near sim=0.999 —
    derive (num_planes, num_tables) from the caller's threshold with
    :func:`lsh_params_for_threshold` when a recall target must hold (the
    above-gate path of ``dedup.embedding_cosine_dups`` does exactly that);
    :func:`lsh_candidate_recall` evaluates the curve for a given config.
    """
    if dim is None:
        dim = _vec_dim(df, vec_col)
    pre = df.select(F.col(id_col).alias("_id"),
                    as_double_vec(vec_col).alias("_v"))
    exploded = _explode_table_buckets(pre, "_v", num_planes, dim, num_tables,
                                      seed, keep=[F.col("_id")])
    a = exploded.select(F.col("_id").alias("id_a"), "lsh_table", "lsh_bucket")
    b = exploded.select(F.col("_id").alias("id_b"), "lsh_table", "lsh_bucket")
    return (a.join(b, ["lsh_table", "lsh_bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def brute_force_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 5,
                     query_id: str = "query_id") -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    queries: (query_id, vec_col). Broadcast the (small) query side; rank per
    query with a deterministic tiebreak on neighbor id.
    Output: (query_id, neighbor_id, cosine, rank).

    Always exact, at any corpus size: the cost is corpus × a broadcast
    query side — linear in the corpus, not the n² that
    ``_BRUTE_PAIRGEN_MAX_ROWS`` guards — and :func:`ann_recall` takes its
    ground truth from here, which must never be approximate. The bucketed
    approximate form is :func:`lsh_topk_multi`.
    """
    # norms once per ROW (below the cross join) instead of twice per PAIR:
    # every corpus row meets every query, so the per-row norm is pure
    # savings (n + q norms vs 2·n·q) — value-identical (see cosine_from_norms)
    q = F.broadcast(queries.select(F.col(query_id),
                                   F.col(vec_col).alias("_qv"),
                                   norm_col(vec_col).alias("_qn")))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_cv"),
                      norm_col(vec_col).alias("_cn"))
    scored = (c.crossJoin(q)
              .filter(F.col("neighbor_id") != F.col(query_id))
              .withColumn("cosine", cosine_from_norms("_cv", "_qv",
                                                      "_cn", "_qn")))
    w = Window.partitionBy(query_id).orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, "neighbor_id", "cosine", "rank"))


def hyperplane_buckets(df: DataFrame, vec_col: str, num_planes: int = 16,
                       dim: int = 64, seed: int = 42,
                       out: str = "lsh_bucket") -> DataFrame:
    """Random-hyperplane LSH bucket id (sign pattern packed into a long).

    Hyperplanes are deterministic pseudo-random vectors (seeded PRNG) —
    reproducible across runs with zero driver→executor data movement: the
    planes are literals folded into the expression tree.

    Built as ONE SQL expression string: per-plane Column composition costs
    hundreds of py4j roundtrips (~5 s of driver time per call); a single
    F.expr is one roundtrip and compiles to the same JVM plan. Bucket =
    Σ 2^p over planes with dot(v, plane_p) >= 0 (bits disjoint ⇒ sum == OR).
    """
    if not 1 <= num_planes <= 62:
        raise ValueError("num_planes must be in [1, 62] — bucket bits live in "
                         "a signed 64-bit long")
    import random
    rng = random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]
    planes_sql = "array(" + ",".join(
        "array(" + ",".join(f"{x!r}D" for x in p) + ")" for p in planes) + ")"
    expr = (
        "aggregate(zip_with("
        f"transform({planes_sql}, p -> aggregate(zip_with("
        f"transform(`{vec_col}`, x -> cast(x as double)), p, (x, y) -> x * y),"
        " 0D, (a, v) -> a + v)), "
        f"sequence(0, {num_planes - 1}), "
        # bigint shift: shiftleft(1, i) is 32-bit and overflows at plane 31
        "(d, i) -> CASE WHEN d >= 0D THEN shiftleft(cast(1 as bigint), i) "
        "ELSE cast(0 as bigint) END), "
        "cast(0 as bigint), (acc, v) -> acc + v)")
    return df.withColumn(out, F.expr(expr))


def rp_matrix_random(d_in: int, d_out: int,
                     seed: int = 13) -> list[list[float]]:
    """Deterministic seeded Gaussian Johnson–Lindenstrauss projection
    matrix, rows pre-scaled by 1/√d_out so :func:`rp_project` is a plain
    matrix–vector product. Data-independent (the pq_codebooks_random
    convention): both engines regenerate the identical literals, so the
    projection machinery gets a value-exact SQL oracle."""
    import math
    import random
    if d_in <= 0 or d_out <= 0:
        raise ValueError("rp_matrix_random: d_in and d_out must be positive")
    rng = random.Random(seed)
    s = 1.0 / math.sqrt(d_out)
    return [[rng.gauss(0.0, 1.0) * s for _ in range(d_in)]
            for _ in range(d_out)]


def rp_project(df: DataFrame, vec_col: str,
               matrix: list[list[float]], out: str = "proj") -> DataFrame:
    """Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    ``out[j] = Σ_i vec[i]·matrix[j][i]`` — the embedding-compression step
    upstream of clustering/ANN when 64–1024-d vectors are too wide for
    the index budget (pairwise distances preserved within 1±ε for
    d_out = O(log n / ε²); distortion property pytest-pinned).

    The matrix is a literal folded into ONE SQL expression (hyperplane_
    buckets convention — one py4j roundtrip, zero driver→executor data
    movement); the projection is entirely row-local, ZERO shuffle: at
    100 TB this runs in the scan stage and only the narrow vectors ever
    reach a shuffle or an index build downstream.
    """
    if not matrix or not matrix[0]:
        raise ValueError("rp_project: matrix must be non-empty")
    expr = (f"transform({_centroids_sql(matrix)}, "
            f"r -> aggregate(zip_with({_vec_sql(vec_col)}, r, "
            "(x, y) -> x * y), 0D, (a, v) -> a + v))")
    return df.withColumn(out, F.expr(expr))


def _vec_sql(vec_col: str) -> str:
    return f"transform(`{vec_col}`, x -> cast(x as double))"


def _centroids_sql(centroids: list[list[float]]) -> str:
    return "array(" + ",".join(
        "array(" + ",".join(f"{x!r}D" for x in c) + ")" for c in centroids) + ")"


# assign_cells' expr↔arrow gate on the model shape: at n_cells × dim ≥ this
# the interpreted per-row centroid scan starts to dominate, and the BLAS
# kernel wins (measured 26× at 220k rows × 800 cells,
# tools/semdedup_scale_sweep.py)
_ASSIGN_ARROW_MIN_CELL_DIMS = 4096


def _nearest_cells_expr(vec_col: str, centroids: list[list[float]],
                        nprobe: int) -> str:
    """SQL expr: array of the 0-based indices of the ``nprobe`` nearest
    centroids by squared L2, nearest first (index-asc tiebreak). ONE
    expression regardless of nprobe — the distance transform and sort are
    evaluated once per row, not once per probe rank."""
    cs = _centroids_sql(centroids)
    dists = (f"transform({cs}, c -> aggregate(zip_with({_vec_sql(vec_col)}, c,"
             " (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v))")
    pairs = (f"arrays_zip({dists}, sequence(0, {len(centroids) - 1}))")
    ordered = (f"array_sort({pairs}, (l, r) -> CASE WHEN l['0'] < r['0'] THEN -1 "
               f"WHEN l['0'] > r['0'] THEN 1 ELSE int(l['1']) - int(r['1']) END)")
    return f"slice(transform({ordered}, p -> p['1']), 1, {nprobe})"


def _nearest_centroid_expr(vec_col: str, centroids: list[list[float]],
                           rank: int = 1) -> str:
    """SQL expr: index (0-based) of the rank-th nearest centroid."""
    return _nearest_cells_expr(vec_col, centroids, rank) + f"[{rank - 1}]"


def train_ivf_centroids(corpus: DataFrame, vec_col: str, k: int = 16,
                        iters: int = 5, sample_rows: int = 2048,
                        seed: int = 42) -> list[list[float]]:
    """Deterministic mini k-means (Lloyd) for the IVF coarse quantizer.

    Trains on a bounded head sample driver-side (numpy): the quantizer is a
    tiny model (k × dim floats); training cost is independent of corpus
    size. Assignment/probing stay distributed."""
    import numpy as np
    rows = (corpus.select(vec_col).orderBy(F.xxhash64(vec_col, F.lit(seed)))
            .limit(sample_rows).collect())
    if not rows:
        raise ValueError("train_ivf_centroids: empty corpus sample")
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cent = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(cent)):
            m = x[assign == j]
            if len(m):
                cent[j] = m.mean(axis=0)
    return [list(map(float, c)) for c in cent]


def ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
             centroids: list[list[float]], k: int = 5, nprobe: int = 2,
             query_id: str = "query_id") -> DataFrame:
    """IVF approximate top-k: corpus partitioned by nearest centroid (the
    inverted file); each query scans only its ``nprobe`` nearest cells.

    Scale shape: write the corpus bucketed/partitioned by ``ivf_cell`` once;
    each probe is a partition-pruned scan + per-cell top-k — corpus-size-
    independent probe cost, unlike brute force."""
    cell = F.expr(_nearest_centroid_expr(vec_col, centroids)).cast("int")
    # coalesce to a side-distinct sentinel: the join key becomes provably
    # non-nullable, so the optimizer stops pushing an IsNotNull(cell) filter
    # below the projection — which re-evaluated the ENTIRE k×d centroid
    # argmin per corpus row (2× the assignment cost, visible as the
    # duplicated expression in Filter+Project of plans/r11/ivf_ann_before).
    # Semantics unchanged: a null cell (null embedding) never joined before,
    # and -1 matches no real cell (0..k-1) and no query-side probe (the
    # query side's IsNotNull runs on the already-generated explode output —
    # cheap — so a null probe still never matches).
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_cv"),
                      norm_col(vec_col).alias("_cn"),
                      F.coalesce(cell, F.lit(-1)).alias("ivf_cell"))
    probes = F.expr(_nearest_cells_expr(vec_col, centroids, nprobe))
    q = F.broadcast(queries.select(
        query_id, F.col(vec_col).alias("_qv"),
        norm_col(vec_col).alias("_qn"),
        F.explode(probes.cast("array<int>")).alias("ivf_cell")))
    scored = (c.join(q, "ivf_cell")
              .filter(F.col("neighbor_id") != F.col(query_id))
              .withColumn("cosine", cosine_from_norms("_cv", "_qv",
                                                      "_cn", "_qn")))
    w = Window.partitionBy(query_id).orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, "neighbor_id", "cosine", "rank"))


def lsh_topk_multi(corpus: DataFrame, queries: DataFrame, id_col: str,
                   vec_col: str, k: int = 5, num_planes: int = 12,
                   dim: int = 64, num_tables: int = 3,
                   query_id: str = "query_id", seed: int = 42) -> DataFrame:
    """OR-amplified hyperplane LSH top-k: ``num_tables`` independent hash
    tables (seeds ``seed + 1000*t``); a candidate matches if it shares a
    bucket with the query in ANY table. Classic LSH amplification — recall
    1-(1-p^b)^L instead of the single-table p^b, tunable without widening
    buckets (precision stays per-table).

    Plan shape: each side computes all L buckets in ONE projection (the
    planes are expression-tree literals), posexplodes to (table, bucket), and
    the candidate join is an equi join on (table, bucket) — the corpus-side
    exchange carries L rows per vector, not a per-table rescan. Duplicate
    candidates (pairs matching in several tables) are scored first (cosine is
    identical across duplicates) and collapsed by a (query, neighbor) agg —
    the dedup shuffle then carries one double per pair instead of two
    vectors. At scale, write the corpus (table, bucket)-bucketed once and
    reuse it across query batches.
    """
    def bucketed(df: DataFrame, keep_id: str, keep_vec: str) -> DataFrame:
        keep = [F.col(df.columns[0]).alias(keep_id),
                F.col(vec_col).alias(keep_vec)]
        return _explode_table_buckets(df, vec_col, num_planes, dim,
                                      num_tables, seed, keep=keep)

    c = bucketed(corpus.select(id_col, vec_col), "neighbor_id", "_cv")
    q = F.broadcast(bucketed(queries.select(query_id, vec_col),
                             query_id, "_qv"))
    scored = (c.join(q, ["lsh_table", "lsh_bucket"])
              .filter(F.col("neighbor_id") != F.col(query_id))
              .withColumn("cosine", cosine_sim("_cv", "_qv"))
              .groupBy(query_id, "neighbor_id")
              .agg(F.first("cosine").alias("cosine")))
    w = Window.partitionBy(query_id).orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, "neighbor_id", "cosine", "rank"))


def lsh_topk(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
             k: int = 5, num_planes: int = 12, dim: int = 64,
             query_id: str = "query_id") -> DataFrame:
    """Approximate top-k: probe only the query's hyperplane bucket.

    The scale path — corpus bucketed once (write it bucketed-by lsh_bucket
    for repeated probes); each query joins one bucket instead of the full
    corpus. Recall tunable via num_planes (fewer planes → bigger buckets).
    """
    cb = hyperplane_buckets(corpus, vec_col, num_planes, dim)
    qb = hyperplane_buckets(queries.select(query_id, vec_col),
                            vec_col, num_planes, dim)
    # side-distinct non-null sentinels (corpus -1, query -2): the join key
    # becomes provably non-nullable, so no IsNotNull(bucket) filter is
    # pushed below the projection — that filter re-evaluated the ENTIRE
    # planes×dim bucket expression per corpus row (2× the dominant cost;
    # plans/r11/lsh_ann_before shows the duplicated tree in Filter(2)).
    # A null bucket (null embedding / null element) never matched before;
    # -1 ≠ -2 and real buckets are non-negative, so matches are identical.
    # Per-pair cosine_sim (not cosine_from_norms) is deliberate here: LSH
    # matches ~nq/2^planes pairs per corpus row << 1, so a per-row norm
    # would cost more than the per-pair norms it saves.
    q = F.broadcast(qb.select(
        query_id, F.col(vec_col).alias("_qv"),
        F.coalesce(F.col("lsh_bucket"), F.lit(-2).cast("bigint"))
        .alias("lsh_bucket")))
    c = cb.select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).alias("_cv"),
                  F.coalesce(F.col("lsh_bucket"), F.lit(-1).cast("bigint"))
                  .alias("lsh_bucket"))
    scored = (c.join(q, "lsh_bucket")
              .filter(F.col("neighbor_id") != F.col(query_id))
              .withColumn("cosine", cosine_sim("_cv", "_qv")))
    w = Window.partitionBy(query_id).orderBy(
        F.round(F.col("cosine"), 6).desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, "neighbor_id", "cosine", "rank"))


def label_centroids(emb: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label embedding centroid (element-wise mean): (label, dim,
    mean_val, n) in long form. The embedding-analytics primitive behind
    cluster quality checks, class prototypes, and IVF re-training audits.

    posexplode → groupBy(label, dim) is fully partial-aggregated map-side,
    so the shuffle carries O(labels × dims) partial sums — independent of
    corpus size; long-form output avoids materializing wide arrays through
    the exchange. (IVF's k-means trainer keeps its bounded driver-side Lloyd
    loop — this operator is the distributed one-shot form for FIXED labels.)
    """
    ex = emb.select(label_col,
                    F.posexplode(as_double_vec(vec_col)).alias("dim", "val"))
    return (ex.groupBy(label_col, "dim")
            .agg(F.avg("val").alias("mean_val"),
                 F.count(F.lit(1)).alias("n")))


def gram_matrix(df: DataFrame, vec_col: str, centered: bool = False,
                sample_covariance: bool = False) -> DataFrame:
    """Long-form Gramian XᵀX over an embedding column — (i, j, value) for
    every dimension pair — or the sample covariance matrix with
    ``centered=True, sample_covariance=True`` (divides by n−1). The
    one-pass statistic behind PCA/whitening of an embedding corpus; a
    d-dim top eigenvector then costs a driver-side power iteration over
    the d×d result (metadata-scale), never a second corpus scan.

    Physical form: a mapInPandas partial Gramian — each Arrow batch
    computes ``XᵀX`` / ``ΣX`` with one BLAS call and emits exactly d²
    rows (i, j, Σxᵢxⱼ, Σxᵢ, Σxⱼ, n), so the shuffle is bounded by d² per
    batch no matter how many rows the batch holds; a groupBy(i, j) merges
    the batches and the final combine is plain column arithmetic on the
    d²-row aggregate. Centering folds in algebraically,
    Σ(xᵢ−μᵢ)(xⱼ−μⱼ) = Σxᵢxⱼ − ΣxᵢΣxⱼ/n, so one corpus pass suffices (no
    means broadcast). Requires fixed-width vectors with non-null elements
    (the embedding-corpus contract); null VECTORS are dropped.
    """
    if sample_covariance and not centered:
        raise ValueError("sample_covariance requires centered=True")

    src = (df.select(F.col(vec_col).cast("array<double>").alias("_v"))
           .filter(F.col("_v").isNotNull()))

    def _partials(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            n, dim = X.shape
            g = X.T @ X
            s = X.sum(axis=0)
            i = np.repeat(np.arange(dim, dtype=np.int64), dim)
            j = np.tile(np.arange(dim, dtype=np.int64), dim)
            yield pd.DataFrame({"i": i, "j": j, "sxy": g.ravel(),
                                "sx": s[i], "sy": s[j],
                                "n": np.full(dim * dim, n, dtype=np.int64)})

    parts = src.mapInPandas(
        _partials, schema="i bigint, j bigint, sxy double, sx double, "
                          "sy double, n bigint")
    agg = (parts.groupBy("i", "j")
           .agg(F.sum("sxy").alias("_sxy"), F.sum("sx").alias("_sx"),
                F.sum("sy").alias("_sy"), F.sum("n").alias("_n")))
    value = F.col("_sxy")
    if centered:
        value = value - F.col("_sx") * F.col("_sy") / F.col("_n")
    if sample_covariance:
        # try_divide: n-1 = 0 on a single-vector corpus — sample covariance
        # is undefined there (null), not a job-killing ANSI error
        value = F.try_divide(value, F.col("_n") - 1)
    return agg.select("i", "j", value.alias("value"))


def quantize_embeddings(df: DataFrame, id_col: str, vec_col: str,
                        levels: int = 256) -> DataFrame:
    """Per-dimension min-max int8-style quantization of an embedding
    column, long-form output (id, dim, q) with q ∈ [0, levels−1] — the
    storage-compression step of a vector pipeline (a 64-dim float corpus
    drops 4× before any product quantization).

    Per-dim (lo, hi) bounds are one exploded partial-agg (d rows,
    broadcast back); the quantization itself is row-local arithmetic.
    Constant dimensions (hi == lo) quantize to 0 rather than dividing by
    zero.
    """
    x = df.select(F.col(id_col),
                  F.posexplode(F.col(vec_col).cast("array<double>"))
                  .alias("dim", "_x"))
    mm = (x.groupBy("dim")
          .agg(F.min("_x").alias("_lo"), F.max("_x").alias("_hi")))
    q = (F.when(F.col("_hi") == F.col("_lo"), F.lit(0))
         .otherwise(F.round((F.col("_x") - F.col("_lo"))
                            / (F.col("_hi") - F.col("_lo"))
                            * (levels - 1))))
    return (x.join(F.broadcast(mm), "dim")
            .select(id_col, F.col("dim").cast("bigint").alias("dim"),
                    q.cast("bigint").alias("q")))


def top_principal_component(df: DataFrame, vec_col: str,
                            iterations: int = 50) -> list[float]:
    """First principal component via power iteration on the COLLECTED d×d
    covariance matrix (d = embedding width, metadata-scale): one
    distributed pass builds the covariance (gram_matrix), then the
    eigenvector loop is pure driver-side arithmetic — the hybrid shape for
    any spectral statistic whose matrix is small even when the corpus is
    100 TB. Sign convention: the component's largest-magnitude entry is
    made positive. Returns a python list of length d.
    """
    rows = gram_matrix(df, vec_col, centered=True,
                       sample_covariance=True).collect()
    d = max(r.i for r in rows) + 1
    cov = [[0.0] * d for _ in range(d)]
    for r in rows:
        cov[r.i][r.j] = r.value
    v = [1.0 / (d ** 0.5)] * d
    for _ in range(iterations):
        w = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
        norm = sum(x * x for x in w) ** 0.5
        if norm == 0.0:
            return v
        v = [x / norm for x in w]
    pivot = max(range(d), key=lambda i: abs(v[i]))
    if v[pivot] < 0:
        v = [-x for x in v]
    return v


def dbscan_cosine(df: DataFrame, id_col: str, vec_col: str,
                  sim_eps: float = 0.999, min_pts: int = 2,
                  candidates: DataFrame | None = None) -> DataFrame:
    """Density clustering (DBSCAN, Ester et al. 1996) with cosine-similarity
    neighborhoods over an embedding column: a point with >= ``min_pts``
    neighbors at similarity >= ``sim_eps`` is a CORE; connected cores form a
    cluster (label = min core id); a non-core touching a core is a BORDER
    of that core's cluster (min label when several — the deterministic pick
    where classic DBSCAN is order-dependent); everything else is NOISE.
    The semantic-dedup/cluster-discovery step after embedding generation.

    Built entirely on operators that already carry their own scale story:
    the neighbor graph comes from :func:`~glamr_omics_pipelines_spark.
    operators.dedup.embedding_cosine_dups` — AUTO-GATED: exact all-pairs
    below ``_BRUTE_PAIRGEN_MAX_ROWS`` corpus rows, LSH-bucketed candidate
    pairs above (an explicit ``candidates`` frame is the pair list
    instead) — degree counting is one
    partial agg on the pair list, and the core-core transitive closure is
    :func:`~glamr_omics_pipelines_spark.operators.dedup.dup_clusters`
    (min-label propagation, O(diameter) rounds). Pair lists, never a
    distance matrix, cross every shuffle.
    """
    from glamr_omics_pipelines_spark.operators import _cache, dedup
    pairs = dedup.embedding_cosine_dups(df, id_col, vec_col,
                                        threshold=sim_eps,
                                        candidates=candidates)
    # The neighbor-pair list feeds deg, core_pairs (twice, via sym's two
    # join sides) and border; without a persist every consumer re-evaluates
    # the pair GENERATOR (the all-pairs cross join / LSH pipeline) — ~6
    # plan copies of the most expensive subtree in the query. The pair list
    # is exactly what DBSCAN must materialize at any scale (it is the
    # neighbor graph), so a spill-capable persist is the scale shape too.
    sym = _cache.register(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionAll(pairs.select(F.col("id_b").alias("u"),
                               F.col("id_a").alias("v"))))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
    cores = _cache.register(
        deg.filter(F.col("_deg") >= min_pts).select(F.col("u").alias("_c")))
    core_pairs = (sym.join(cores.withColumnRenamed("_c", "u"), "u")
                  .join(cores.withColumnRenamed("_c", "v"), "v")
                  .filter(F.col("u") < F.col("v"))
                  .select(F.col("u").alias("id_a"), F.col("v").alias("id_b")))
    cc = dedup.dup_clusters(core_pairs)  # (id, label) for non-isolated cores
    core_labels = (cores.join(cc, cores["_c"] == cc["id"], "left")
                   .select(F.col("_c").alias("id"),
                           F.coalesce(F.col("label"), F.col("_c"))
                           .alias("cluster_id")))
    # border: non-core node -> min cluster label among its CORE neighbors
    border = (sym.join(cores.withColumnRenamed("_c", "u"), "u", "left_anti")
              .join(core_labels.withColumnRenamed("id", "v"), "v")
              .groupBy("u").agg(F.min("cluster_id").alias("cluster_id"))
              .select(F.col("u").alias("id"), "cluster_id"))
    labeled = (core_labels.withColumn("role", F.lit("core"))
               .unionByName(border.withColumn("role", F.lit("border"))))
    return (df.select(F.col(id_col).alias("id"))
            .join(labeled, "id", "left")
            .withColumn("role", F.coalesce("role", F.lit("noise"))))


# ---------------------------------------------------------------------------
# Product quantization (r8): the memory-compression ANN path — a 64-dim
# float corpus stores as m small codes (m * ceil(log2 k) bits per vector),
# and query-time distance is m table lookups (asymmetric distance, ADC).
# Complements IVF (cell pruning) and LSH (candidate generation): at 100 TB
# the PQ-coded corpus is what actually fits in executor memory.
# ---------------------------------------------------------------------------


def _subvec_sql(vec_col: str, s: int, dsub: int) -> str:
    """SQL snippet: subspace ``s`` of the vector, cast to double."""
    return (f"transform(slice(`{vec_col}`, {s * dsub + 1}, {dsub}), "
            "x -> cast(x as double))")


def _nearest_codeword_expr(vec_sql: str, codebook: list[list[float]]) -> str:
    """SQL expr: 0-based index of the nearest codeword to ``vec_sql`` by
    squared L2 (index-asc tiebreak) — the per-subspace PQ encoder."""
    cs = _centroids_sql(codebook)
    dists = (f"transform({cs}, c -> aggregate(zip_with({vec_sql}, c,"
             " (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v))")
    pairs = f"arrays_zip({dists}, sequence(0, {len(codebook) - 1}))"
    ordered = (f"array_sort({pairs}, (l, r) -> CASE WHEN l['0'] < r['0'] "
               f"THEN -1 WHEN l['0'] > r['0'] THEN 1 "
               f"ELSE int(l['1']) - int(r['1']) END)")
    return f"transform({ordered}, p -> p['1'])[0]"


def _pq_code_exprs(vec_col: str,
                   codebooks: list[list[list[float]]]) -> list:
    """Per-subspace nearest-codeword index Columns — the ONE place the PQ
    encode expression is built (pq_encode and ivfpq_encode share it, so a
    tiebreak/fold-order fix cannot diverge the two paths — r9 review)."""
    dsub = len(codebooks[0][0])
    return [F.expr(_nearest_codeword_expr(_subvec_sql(vec_col, s, dsub),
                                          cb)).cast("int")
            for s, cb in enumerate(codebooks)]


def _adc_tables_sql(vec_col: str,
                    codebooks: list[list[list[float]]]) -> str:
    """SQL expr: the query's m×k ADC table (per subspace, squared L2 to
    every codeword) — the ONE place the table math is built (pq_adc_topk
    and ivfpq_adc_topk share it; the ascending-index fold order is what
    the DuckDB oracles replicate)."""
    dsub = len(codebooks[0][0])
    tables = []
    for s, cb in enumerate(codebooks):
        cs = _centroids_sql(cb)
        tables.append(
            f"transform({cs}, c -> aggregate(zip_with("
            f"{_subvec_sql(vec_col, s, dsub)}, c, "
            "(x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v))")
    return "array(" + ",".join(tables) + ")"


def pq_codebooks_random(m: int, k: int, dsub: int,
                        seed: int = 7) -> list[list[list[float]]]:
    """Deterministic data-independent PQ codebooks (seeded gaussian) —
    the oracle-reproducible form: both engines regenerate the identical
    literals, so the encode/ADC MACHINERY gets a value-exact SQL oracle
    without the (non-SQL) Lloyd loop mattering to the result.
    :func:`train_pq_codebooks` is the production path."""
    import random
    rng = random.Random(seed)
    return [[[rng.gauss(0.0, 1.0) for _ in range(dsub)] for _ in range(k)]
            for _ in range(m)]


def train_pq_codebooks(corpus: DataFrame, vec_col: str, m: int = 4,
                       k: int = 16, iters: int = 5, sample_rows: int = 2048,
                       seed: int = 42) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means on a bounded head sample (driver-side
    numpy, same contract as train_ivf_centroids: the codebooks are a tiny
    model — m·k·(d/m) floats — and training cost is independent of corpus
    size; encode/search stay distributed)."""
    import numpy as np
    rows = (corpus.select(vec_col).orderBy(F.xxhash64(vec_col, F.lit(seed)))
            .limit(sample_rows).collect())
    if not rows:
        raise ValueError("train_pq_codebooks: empty corpus sample")
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    dsub = d // m
    rng = np.random.RandomState(seed)
    out = []
    for s in range(m):
        xs = x[:, s * dsub:(s + 1) * dsub]
        cent = xs[rng.choice(len(xs), size=min(k, len(xs)), replace=False)]
        for _ in range(iters):
            dist = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = dist.argmin(axis=1)
            for j in range(len(cent)):
                members = xs[assign == j]
                if len(members):
                    cent[j] = members.mean(axis=0)
        out.append([list(map(float, c)) for c in cent])
    return out


def pq_encode(df: DataFrame, id_col: str, vec_col: str,
              codebooks: list[list[list[float]]]) -> DataFrame:
    """PQ-encode an embedding column: (id, pq_codes array<int>) — per
    subspace, the 0-based index of the nearest codeword by squared L2
    (index-asc tiebreak). The codebooks are expression-tree literals, so
    encoding is row-local whole-stage codegen: zero shuffle, zero
    driver→executor data movement, and the coded corpus is what a 100 TB
    pipeline persists (m·log2(k) bits per vector instead of 4·d bytes)."""
    return df.select(F.col(id_col),
                     F.array(*_pq_code_exprs(vec_col, codebooks))
                     .alias("pq_codes"))


def pq_adc_topk(codes: DataFrame, queries: DataFrame,
                codebooks: list[list[list[float]]], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id: str = "query_id") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-coded corpus: each
    query's m×k table of squared L2 distances to every codeword is ONE
    projection on the (small, broadcast) query side — codebook literals,
    no collect — and the scan-side work per (query, vector) pair is m
    array lookups + a sum. Ascending distance, id-asc tiebreak.
    Output: (query_id, neighbor_id, adc, rank). Recall is bounded by the
    quantizer (exact on the DECODED points); the oracle replicates the
    identical encode+table math in SQL."""
    q = F.broadcast(queries.select(
        F.col(query_id),
        F.expr(_adc_tables_sql(vec_col, codebooks)).alias("_adc")))
    scored = (codes.join(q, F.col(id_col) != F.col(query_id))
              .withColumn("adc", F.expr(
                  "aggregate(zip_with(pq_codes, _adc, (c, t) -> t[c]), "
                  "0D, (a, v) -> a + v)")))
    w = Window.partitionBy(query_id).orderBy(
        F.round(F.col("adc"), 6).asc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, F.col(id_col).alias("neighbor_id"),
                    "adc", "rank"))


def ivf_centroids_random(k: int, dim: int,
                         seed: int = 11) -> list[list[float]]:
    """Deterministic data-independent IVF centroids (seeded gaussian) —
    the oracle-reproducible form, mirroring :func:`pq_codebooks_random`:
    both engines regenerate the identical literals, so the cell-assign +
    probe + ADC MACHINERY gets a value-exact SQL oracle without the
    (non-SQL) Lloyd loop mattering. :func:`train_ivf_centroids` is the
    production path."""
    import random
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(k)]


def ivfpq_encode(df: DataFrame, id_col: str, vec_col: str,
                 codebooks: list[list[list[float]]],
                 centroids: list[list[float]]) -> DataFrame:
    """Build the IVF+PQ index frame: (id, ivf_cell, pq_codes) — the
    canonical memory-AND-compute-bounded vector-store layout (VERDICT r8
    #4). One row-local projection (centroid and codebook literals live in
    the expression tree): zero shuffle, zero driver→executor movement.
    At 100 TB this is the frame you persist PARTITIONED BY ivf_cell —
    m·log2(k) bits per vector of payload, and every later probe is a
    partition-pruned scan of nprobe cells instead of the corpus."""
    cell = F.expr(_nearest_centroid_expr(vec_col, centroids)).cast("int")
    return df.select(F.col(id_col), cell.alias("ivf_cell"),
                     F.array(*_pq_code_exprs(vec_col, codebooks))
                     .alias("pq_codes"))


def ivfpq_adc_topk(index: DataFrame, queries: DataFrame,
                   codebooks: list[list[list[float]]],
                   centroids: list[list[float]], k: int = 5,
                   nprobe: int = 2, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   query_id: str = "query_id") -> DataFrame:
    """IVF-pruned asymmetric-distance top-k over a PQ-coded corpus — the
    composition a production vector store actually runs (IVFADC, Jégou
    et al. 2011): each query expands to its ``nprobe`` nearest IVF cells
    and its m×k ADC table in ONE broadcast-side projection, the candidate
    set is an EQUI join on ``ivf_cell`` (BroadcastHashJoin — never the
    all-pairs nested loop the flat :func:`pq_adc_topk` scan needs), and
    each surviving (query, vector) pair costs m array lookups + a sum.

    Scale shape: corpus-side work is bounded by the rows in the probed
    cells (~corpus × nprobe/n_cells), not the corpus; with the index
    persisted partitioned-by-cell the scan itself partition-prunes.
    Recall is bounded by the coarse quantizer (probe-all == the flat ADC
    scan exactly — pinned by test). Ascending distance, id-asc tiebreak.
    Output: (query_id, neighbor_id, adc, rank)."""
    if nprobe < 1:
        raise ValueError("ivfpq_adc_topk: nprobe must be >= 1")
    probes = F.expr(_nearest_cells_expr(vec_col, centroids,
                                        min(nprobe, len(centroids))))
    # ADC tables in their OWN projection below the probe explode: a
    # sibling column next to a generator re-evaluates per output element
    # (the kmeans_lloyd finding) — nprobe× the m·k·dsub table build
    q = F.broadcast(
        queries.select(F.col(query_id),
                       F.expr(_adc_tables_sql(vec_col, codebooks))
                       .alias("_adc"),
                       probes.cast("array<int>").alias("_probes"))
        .select(query_id, "_adc", F.explode("_probes").alias("ivf_cell")))
    scored = (index.join(q, "ivf_cell")
              .filter(F.col(id_col) != F.col(query_id))
              .withColumn("adc", F.expr(
                  "aggregate(zip_with(pq_codes, _adc, (c, t) -> t[c]), "
                  "0D, (a, v) -> a + v)")))
    w = Window.partitionBy(query_id).orderBy(
        F.round(F.col("adc"), 6).asc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, F.col(id_col).alias("neighbor_id"),
                    "adc", "rank"))


def kmeans_lloyd(df: DataFrame, vec_col: str,
                 init_centroids: list[list[float]], iters: int = 2,
                 round_decimals: int = 6) -> tuple[list[list[float]],
                                                   list[int]]:
    """Distributed Lloyd iterations over the FULL corpus (the k-means the
    SemDeDup/IVF quantizers are trained with when a bounded sample is not
    enough — cf. :func:`train_ivf_centroids`, which Lloyd-iterates a
    driver-side sample).

    Each iteration: assign every row to its nearest centroid (the
    centroids ride the plan as expression-tree literals — broadcast-style,
    no second input), then recompute each centroid as the element-wise
    mean via ``posexplode → groupBy(cell, pos).avg`` — avg partial-
    aggregates map-side, so the exchange carries k×dim keys, not rows.
    The per-iteration driver round-trip collects k×dim floats
    (metadata-scale — the pagerank broadcast-iteration convention); an
    empty cell keeps its previous centroid. Updated means are rounded to
    ``round_decimals`` before the next assignment — a determinism barrier
    so the argmin decisions are stable across partial-agg orders (and
    engines): raw ~1-ulp mean differences cannot flip an assignment.

    Returns ``(centroids, sizes)``: the final k×dim means (round-6) and
    the row count of each cell at the LAST update (0 for empty cells).

    The assignment kernel is :func:`assign_cells`'s, picked by its
    ``_ASSIGN_ARROW_MIN_CELL_DIMS`` gate on the model shape (k × dim):
    the value-exact expr form below it, the BLAS arrow kernel at or above
    it. The round-6 mean barrier absorbs the kernels' ~1-ulp distance
    differences except on exact Voronoi boundaries.

    Scale shape: per iteration one scan + one k×dim-key shuffle; cost is
    O(n·k·dim) compute with no row-grain shuffle — the textbook
    Lloyd-on-MapReduce plan. Beyond-reference operator (SURVEY §8).
    """
    if iters < 1:
        raise ValueError("kmeans_lloyd: iters must be >= 1")
    if not init_centroids:
        raise ValueError("kmeans_lloyd: empty init_centroids")
    centroids = [[float(x) for x in c] for c in init_centroids]
    k, dim = len(centroids), len(centroids[0])
    sizes = [0] * k
    src = df.select(as_double_vec(vec_col).alias("_v"))
    for _ in range(iters):
        # assignment in its OWN projection below the generator: inlining
        # the argmin into the posexplode select makes Generate re-evaluate
        # it per exploded element (dim× per row) — measured 9× slower at
        # sf0.1 (the Project under Generate survives CollapseProject).
        assigned = assign_cells(src, "_v", centroids, out="ci")
        stats = (assigned
                 .select("ci", F.posexplode("_v").alias("pos", "v"))
                 .groupBy("ci", "pos")
                 .agg(F.avg("v").alias("m"), F.count(F.lit(1)).alias("n")))
        means: dict[int, dict[int, float]] = {}
        counts: dict[int, int] = {}
        for r in stats.collect():     # k×dim rows — metadata-scale
            means.setdefault(r["ci"], {})[r["pos"]] = r["m"]
            counts[r["ci"]] = r["n"]
        centroids = [
            [round(means[ci][p], round_decimals) for p in range(dim)]
            if ci in means else centroids[ci]
            for ci in range(k)]
        sizes = [counts.get(ci, 0) for ci in range(k)]
    return centroids, sizes


def ann_recall(approx: DataFrame, exact: DataFrame,
               query_id: str = "query_id",
               neighbor_id: str = "neighbor_id") -> DataFrame:
    """Recall@k of an ANN result against exact ground truth — the
    eval harness every approximate index (LSH / IVF / PQ / IVFADC)
    is tuned with ("measure, don't guess").

    ``exact`` is the ground-truth neighbor set per query (e.g.
    :func:`brute_force_topk`, always exact, on a held-out sample);
    ``approx`` the candidate set under test. Output: one row per query
    — (query_id, n_exact, n_hit, recall) with
    ``recall = n_hit / n_exact`` rounded to 4dp. Queries the approx
    index returned NOTHING for still appear (n_hit=0) — dropped
    queries are the failure mode recall tuning exists to catch.

    Plan shape: one equi join on (query, neighbor) + a query-grain agg;
    at scale both sides are index outputs (queries × k rows), so this
    is metadata-sized relative to the corpus. Both sides are DISTINCTed
    first — a duplicated (query, neighbor) row in either input (a
    unioned ground-truth frame, an undeduped candidate list) would fan
    the join out and silently corrupt the counts. Beyond-reference
    operator (SURVEY §8)."""
    e = exact.select(F.col(query_id), F.col(neighbor_id)).distinct()
    a = (approx.select(F.col(query_id), F.col(neighbor_id)).distinct()
         .withColumn("_hit", F.lit(1)))
    return (e.join(a, [query_id, neighbor_id], "left")
            .groupBy(query_id)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"),
                 F.count("_hit").cast("bigint").alias("n_hit"))
            .withColumn("recall",
                        F.round(F.col("n_hit") / F.col("n_exact"), 4)))


def write_ivf_index(index: DataFrame, path: str,
                    mode: str = "overwrite") -> None:
    """Persist an :func:`ivfpq_encode` index PARTITIONED BY ``ivf_cell`` —
    the layout the IVF scale story rests on: each probe then reads only
    its nprobe cell directories (a partition-pruned scan of
    ~corpus·nprobe/n_cells), never the corpus. Write once, probe from
    every query batch."""
    index.write.mode(mode).partitionBy("ivf_cell").parquet(path)


def ivfpq_probe_partitioned(spark, path: str, queries: DataFrame,
                            codebooks: list[list[list[float]]],
                            centroids: list[list[float]], k: int = 5,
                            nprobe: int = 2, vec_col: str = "embedding",
                            query_id: str = "query_id") -> DataFrame:
    """ADC top-k against a :func:`write_ivf_index` store with STATIC
    partition pruning: the union of the query batch's probe cells
    (nq × nprobe ints — metadata-scale) is collected into an IN literal
    on ``ivf_cell``, which Spark pushes into the parquet scan as a
    PartitionFilter — only the probed cell directories are listed and
    read (pinned by plan test). The per-query cell routing inside the
    pruned scan is :func:`ivfpq_adc_topk` unchanged.

    This is the static twin of dynamic partition pruning: with a literal
    filter the pruning is guaranteed at planning time instead of relying
    on the runtime DPP reuse heuristic — the right call when the probe
    set is known and tiny."""
    probes = F.expr(_nearest_cells_expr(vec_col, centroids,
                                        min(nprobe, len(centroids))))
    cells = sorted({c for r in
                    queries.select(F.explode(probes.cast("array<int>"))
                                   .alias("c")).distinct().collect()
                    for c in [r["c"]]})
    index = (spark.read.parquet(path)
             .filter(F.col("ivf_cell").isin(cells)))
    return ivfpq_adc_topk(index, queries, codebooks, centroids, k=k,
                          nprobe=nprobe, vec_col=vec_col,
                          query_id=query_id)


def assign_cells(df: DataFrame, vec_col: str,
                 centroids: list[list[float]],
                 out: str = "ivf_cell") -> DataFrame:
    """Nearest-centroid assignment of every row, as a column ``out`` —
    the shared front stage of semdedup / kmeans_lloyd / IVF indexing.

    Two kernels, gated on the model shape alone (n_cells × dim against
    ``_ASSIGN_ARROW_MIN_CELL_DIMS`` — deterministic for a given model):

    - below the gate: the centroid literals ride the expression tree
      (codegen-friendly, value-exact vs the SQL oracles). Per-row cost is
      O(n_cells · dim) interpreted — fine for a coarse quantizer (tens of
      cells), quadratic-feeling when cells scale with the corpus (the
      SemDeDup shape: measured in tools/semdedup_scale_sweep.py).
    - at or above it: ONE Arrow-batched mapInPandas kernel computes
      all distances as a BLAS matmul (‖x−c‖² = ‖x‖² − 2x·Cᵀ + ‖c‖², with
      ‖x‖² constant per row so argmin needs only −2x·Cᵀ + ‖c‖²) — the
      vectorized form the 100 TB assignment runs. Ties and Voronoi-
      boundary rows: argmin takes the LOWEST index (the expr tiebreak),
      but the float expansion differs from the expr form's (x−y)² fold
      by ~1 ulp, so a row equidistant to machine precision may assign
      differently — measure-zero on real data, and why every oracle row
      sits below the gate.
    """
    if len(centroids) * len(centroids[0]) < _ASSIGN_ARROW_MIN_CELL_DIMS:
        return df.withColumn(out, F.expr(
            _nearest_centroid_expr(vec_col, centroids)).cast("int"))
    cents = [[float(x) for x in c] for c in centroids]
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    out_schema = f"{fields}, `{out}` int"

    def kernel(batches):
        import numpy as np
        C = np.array(cents, dtype=np.float64)          # k × d
        c2 = (C * C).sum(axis=1)                       # ‖c‖²
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            scores = -2.0 * (X @ C.T) + c2             # argmin-equivalent
            pdf[out] = scores.argmin(axis=1).astype(np.int32)
            yield pdf

    return df.mapInPandas(kernel, schema=out_schema)
