"""Graph analytics over edge DataFrames: co-occurrence graphs + PageRank.

The reference's taxonomy/abundance layers are tree/graph-shaped (lineage
closures, operators/taxonomy.py; bin-to-contig membership graphs), and its
near-dup clustering already uses star-contraction connected components
(operators/dedup.py:star contraction). PageRank completes the iterative-
graph family: relevance/centrality scoring over co-occurrence graphs —
e.g. which taxa (or parts, or documents) sit centrally in the
co-observation network.

Spark-first iterative design (the GraphX/Pregel recipe expressed in
DataFrames):
  - ranks live in a (node, rank) DataFrame; one iteration is
    edges ⨝ ranks on src → groupBy dst (partial-aggregated contribution
    sums) → left join back onto the node list for the damping base.
  - each iteration ``localCheckpoint(eager=True)``s the new ranks —
    truncating lineage exactly like the star-contraction loop, keeping
    plan analysis O(1) per iteration instead of O(iterations).
  - node count enters as a broadcast one-row aggregate (crossJoin), not a
    driver-side collect, so the whole loop stays declarative.

Scale: the per-iteration shuffle is (edges by src) + (contribs by dst) —
the minimum any message-passing PageRank pays; weights/outdegree are
precomputed once. Convergence is fixed-iteration (the form every
SQL-expressible oracle can replicate), not epsilon-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from glamr_omics_pipelines_spark.operators import _cache, _ckpt


def cooccurrence_edges(df: DataFrame, group_col: str, item_col: str,
                       max_group_size: int | None = None) -> DataFrame:
    """Weighted undirected co-occurrence edges: items sharing a group get
    an edge weighted by the number of shared groups; emitted in BOTH
    directions (src, dst, weight) so downstream message-passing treats the
    graph as symmetric. Items are de-duplicated within a group first.

    ``max_group_size`` guards the quadratic within-group pair fan-out
    (a group of size g emits g·(g−1) directed pairs) — at 100 TB a single
    degenerate mega-group (a "the" token, a default-valued key) would
    dominate the shuffle; cap and drop such groups explicitly rather than
    letting one key produce 10^12 pairs.
    """
    # Join-based fan-out, kept on purpose (r11 negative result): an
    # in-place form (groupBy(g) collect_set + nested-HOF pair explode, one
    # aggregation, no broadcast build) was value-identical and oracle-green
    # but measured +10-15% at min-of-4 interleaved on ALL five consumers
    # (cooccur_cosine 2.18→2.51, k_core 2.42→2.76, triangle_count
    # 2.85→3.32, pagerank 6.09→6.77, basket_rules 2.45→2.75) — the
    # ObjectHashAggregate set build + interpreted nested-transform explode
    # costs more than the broadcast-join machinery, the same verdict as the
    # r11 LSH bucket-pair experiment at 200-doc scale, now confirmed at
    # 600k-row scale.
    # r12: cluster by GROUP before the distinct so every downstream step
    # shares ONE exchange (guide §2.4): hashpartitioning(group) satisfies
    # the distinct's ClusteredDistribution(group,item) (subset rule), the
    # group-size aggregate's ClusteredDistribution(group), and both sides
    # of the within-group self-join — the old form paid a (group,item)
    # exchange for the distinct and then re-exchanged on group for sizes
    # and for each join side. Same bytes cross the wire once either way;
    # three exchanges removed. Interleaved noop A/B at sf0.1 (2.39M edges,
    # min-of-6): 1.76 -> 1.04 s, values identical.
    # Skew trade-off: exchanging on group ALONE puts a hot group's whole
    # pre-distinct row set (duplicates included) on one partition, where
    # the old (group, item) exchange spread it; max_group_size drops a
    # mega-group only after the distinct, so it cannot relieve that task.
    # The fallback today is AQE: skewJoin splits an oversized partition
    # of the self-join below, but nothing splits the distinct's partition.
    d = df.select(group_col, item_col).repartition(F.col(group_col)).distinct()
    if max_group_size is not None:
        sizes = d.groupBy(group_col).agg(F.count(F.lit(1)).alias("_gs"))
        d = (d.join(F.broadcast(sizes.filter(F.col("_gs") <= max_group_size)),
                    group_col))
        d = d.select(group_col, item_col)
    a = d.select(F.col(group_col).alias("_g"), F.col(item_col).alias("src"))
    b = d.select(F.col(group_col).alias("_g"), F.col(item_col).alias("dst"))
    return (a.join(b, "_g")
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("double").alias("weight")))


# Target edge rows per superstep partition when pagerank sizes its own
# partitioning: wide enough that a partition is real work (not scheduling
# overhead), small enough to stay comfortably in executor memory at ~50 B
# per (src, dst, rate) row.
_EDGE_ROWS_PER_PARTITION = 500_000

# Auto-ceiling for broadcasting the rank frame into the superstep joins:
# a (node, rank) row is ~25 B serialized, so 1M nodes is ~25 MB per
# executor — comfortably inside Spark's broadcast comfort zone. Above it
# the shuffle-join form is the only scale-safe shape.
_BROADCAST_RANKS_MAX_NODES = 1_000_000

# Auto-ceiling for the single-task fold: 8M (src, dst, w) rows ≈ 200 MB
# as one Arrow batch stream plus ~3 int/float64 numpy arrays — one
# task's comfortable working set, and 10 iterations of bincount matvec
# over 8M edges is well under a second of C-loop work, versus ~2 jobs
# (broadcast build + agg) PER SUPERSTEP for the distributed loop. Above
# it the superstep loop is the scale path. Same auto-gate convention as
# dedup._LOCAL_CC_MAX_PAIRS / similarity._BRUTE_PAIRGEN_MAX_ROWS.
_LOCAL_FOLD_MAX_EDGES = 8_000_000


def _pagerank_local(e: DataFrame, damping: float,
                    iterations: int) -> DataFrame:
    """Single-task PageRank fold over a coalesced (_src, _dst, _w) frame.

    The identical recurrence — rank ← (1−d)/N + d·Σ_in rank·w/wout,
    dangling mass dropped — run as ``iterations`` numpy ``bincount``
    matvecs in ONE ``mapInPandas`` task. Edge order is canonicalized
    (lexsort by (dst, src)) before any accumulation, so every sum runs in
    a fixed deterministic order and the output is bit-reproducible
    run-to-run; values agree with the distributed loop to float64
    round-off (both are IEEE sums of the same terms, grouping aside),
    verified to 4dp against the unrolled-CTE oracle across SFs.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType
    node_type = e.schema["_src"].dataType
    out_schema = StructType([StructField("node", node_type),
                             StructField("rank", DoubleType())])

    def fold(batches):
        # accumulate per-column numpy views and concatenate ONCE per column:
        # pd.concat of ~240 Arrow-batch frames re-assembles block managers
        # (measured 0.03-8.7 s on 2.4M rows depending on allocator state);
        # np.concatenate on the raw column arrays is a single memcpy each.
        srcs, dsts, ws = [], [], []
        for pdf in batches:
            srcs.append(pdf["_src"].to_numpy())
            dsts.append(pdf["_dst"].to_numpy())
            ws.append(pdf["_w"].to_numpy(dtype=np.float64))
        if srcs:
            src = np.concatenate(srcs)
            dst = np.concatenate(dsts)
            w = np.concatenate(ws)
        else:
            src = dst = np.array([], dtype=np.int64)
            w = np.array([], dtype=np.float64)
        if len(src) == 0:
            yield pd.DataFrame({"node": pd.Series([], dtype=object),
                                "rank": pd.Series([], dtype=np.float64)})
            return
        # node-id compaction: np.unique + 2x searchsorted over the 2m-long
        # id stream are the fold's dominant (memory-bound) ops — ~3s of a
        # ~4.5s fold at 2.4M edges, and the ops most inflated by host
        # memory-bandwidth contention. When ids are non-negative ints from
        # a bounded universe (max id within ~4x the edge count — an O(m)
        # int64 remap array), a dense boolean-mask + flatnonzero remap is
        # value-identical (flatnonzero returns ids ascending, exactly
        # unique's order) at a fraction of the cost. Arbitrary / sparse /
        # string ids keep the sort-based path.
        dense = (src.dtype.kind in "iu" and dst.dtype.kind in "iu"
                 and min(src.min(), dst.min()) >= 0
                 and max(src.max(), dst.max()) < 4 * len(src) + 1024)
        if dense:
            mx = int(max(src.max(), dst.max()))
            present = np.zeros(mx + 1, dtype=bool)
            present[src] = True
            present[dst] = True
            nodes = np.flatnonzero(present)
            remap = np.empty(mx + 1, dtype=np.int64)
            remap[nodes] = np.arange(len(nodes))
            si, di = remap[src], remap[dst]
        else:
            nodes = np.unique(np.concatenate([src, dst]))
            si = np.searchsorted(nodes, src)
            di = np.searchsorted(nodes, dst)
        n = len(nodes)
        order = np.lexsort((si, di))  # fixed accumulation order
        si, di, w = si[order], di[order], w[order]
        wout = np.bincount(si, weights=w, minlength=n)
        rate = w / wout[si]  # wout>0 wherever si occurs
        base = (1.0 - damping) / n
        rank = np.full(n, 1.0 / n)
        for _ in range(iterations):
            contrib = np.bincount(di, weights=rank[si] * rate, minlength=n)
            rank = base + damping * contrib
        yield pd.DataFrame({"node": pd.Series(nodes.tolist(), dtype=object),
                            "rank": rank})

    return e.coalesce(1).mapInPandas(fold, out_schema)


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             weight_col: str | None = "weight", iterations: int = 10,
             damping: float = 0.85) -> DataFrame:
    """Weighted PageRank over a directed edge list, fixed ``iterations``:

        rank ← (1−d)/N + d · Σ_in rank_src · w / wout_src

    Nodes are everything appearing as src or dst. Dangling mass (nodes
    with no out-edges) is dropped, not redistributed — the convention that
    keeps each iteration a pure join+agg (and what an unrolled SQL oracle
    can replicate term for term); on symmetric edge lists (the
    co-occurrence builder) there are no dangling nodes and total rank is
    conserved.

    Output: (node, rank). Lineage is truncated per-iteration with eager
    localCheckpoints.

    Local fold (at ≤ ``_LOCAL_FOLD_MAX_EDGES`` edges): when the edge list
    fits one task, run all iterations as a single-task numpy fold
    (:func:`_pagerank_local`) — zero supersteps, zero
    broadcasts/checkpoints; above the ceiling the superstep loop below is
    the scale path.

    Superstep join strategy: ranks are NODE-grain — tiny next to the edge
    set on any real graph. When the node count is within
    ``_BROADCAST_RANKS_MAX_NODES``, each iteration broadcasts the rank
    frame into the edge join and the contribution frame back into the
    base join, leaving ONE exchange per superstep (the partial-aggregated
    contribution shuffle) and never moving the edge side at all —
    measured −24% end-to-end at sf0.1 (interleaved min-of-4: 14.3 → 11.0
    s, identical values to 1e-12). Above the ceiling the shuffle-join
    form is the scale-safe shape: both sides hash-partitioned, edges
    cache-resident.
    """
    w = (F.col(weight_col).cast("double") if weight_col is not None
         else F.lit(1.0))
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"),
                     w.alias("_w"))
    # Pre-partition the iteration-invariant frames ONCE: rated edges by
    # _src and the damping base by node, then persist() them. Two traps
    # this sidesteps, both verified by tests/test_plans.py:
    #   - persist, NOT localCheckpoint: a checkpoint scan reports
    #     UnknownPartitioning and would force a full edge re-shuffle every
    #     superstep; persist keeps the repartition in the cached plan.
    #   - an EXPLICIT partition count: repartition(col) alone is
    #     AQE-coalescible (REPARTITION_BY_COL), and a coalesced cached
    #     partitioning no longer satisfies the join's requirement — the
    #     numbered form (REPARTITION_BY_NUM) is exempt from coalescing.
    # Result: every iteration's joins find the big edge side already
    # clustered; only the (small) rank frame and the partial-aggregated
    # contributions move per superstep, never the edges — the Pregel
    # edge-partition-reuse layout.
    # Cache the edge projection before anything fans out from it: the
    # pre-loop scaffold reads `e` four times (nodes union twice, outdeg,
    # rated) and each read would otherwise recompute whatever produced the
    # edges — for a co-occurrence graph that is a within-group self-join,
    # 4× repeated. One materialization, four cheap cache scans; released
    # as soon as `rated` (the loop's own cache) is built.
    e = _cache.register(e)
    n_edges = e.count()
    if n_edges <= _LOCAL_FOLD_MAX_EDGES:
        # the whole post-edges computation is ONE narrow task: no
        # supersteps, no broadcast builds, no checkpoints — the edge
        # cache (materialized by the gate count just taken) feeds the
        # fold directly (guide §2.4: remove shuffles outright).
        return _pagerank_local(e, damping, iterations)
    # Size the superstep partitioning to the MEASURED edge count, not the
    # session default: every iteration pays 2 shuffles at this width, so a
    # small graph on a wide default drowns in task scheduling (A/B sf0.1,
    # 2.4M edges, 10 supersteps, min-of-2: 32 partitions = 9.95 s, 8 =
    # 7.57 s, 4 = 7.20 s), while a 10^12-edge corpus wants the full
    # session width. The numbered repartition below keeps whichever width
    # wins exempt from AQE coalescing (see the trap note above).
    session_width = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    num_partitions = max(1, min(session_width,
                                -(-n_edges // _EDGE_ROWS_PER_PARTITION)))
    nodes = _cache.register(
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct())
    # node count gates the broadcast form; counting here materializes
    # the nodes cache that base.count() below would pay for anyway
    broadcast_ranks = nodes.count() <= _BROADCAST_RANKS_MAX_NODES
    n_total = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("_n")))
    outdeg = e.groupBy("_src").agg(F.sum("_w").alias("_wout"))
    # contribution rate per edge is iteration-invariant: precompute w/wout
    rated = _cache.register(
        e.repartition(num_partitions, F.col("_src"))
        .join(outdeg, "_src")
        .select("_src", "_dst", (F.col("_w") / F.col("_wout"))
                .alias("_rate")))
    rated.count()  # materialize once, before the loop references it 10x
    # the damping base (1−d)/N per node is iteration-invariant: compute the
    # (node, base) frame once, persisted on the node partitioning
    base = _cache.register(
        nodes.crossJoin(n_total)
        .repartition(num_partitions, F.col("node"))
        .select("node",
                (F.lit(1.0 - damping) / F.col("_n")).alias("_base"),
                (F.lit(1.0) / F.col("_n")).alias("_init")))
    base.count()
    # nodes, outdeg, rated and base are all materialized now — the edge
    # input cache served its four pre-loop scans and can go before the
    # loop allocates anything else.
    _cache.free(e)
    ranks = base.select("node", F.col("_init").alias("rank"))
    # Checkpoint cadence: every 3rd superstep. Supersteps chain lazily
    # between eager localCheckpoints — fewer materialization barriers per
    # run, at the cost of a 3-superstep retry scope and a 3-deep plan
    # between cuts. A/B at sf0.1 (10 supersteps, min-of-3, two repeats):
    # every-1 = 18.5/20.7 s, every-3 = 14.2/15.5 s, every-5 = 15.9/14.8 s
    # (ROUND5.md) — the barrier cost is real and the win saturates at 3.
    checkpointed = ranks
    for i in range(iterations):
        rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
        contribs = (rated.join(rank_side, rated["_src"] == ranks["node"])
                    .groupBy("_dst")
                    .agg(F.sum(F.col("rank") * F.col("_rate")).alias("_c")))
        contrib_side = F.broadcast(contribs) if broadcast_ranks else contribs
        ranks = (base
                 .join(contrib_side, base["node"] == contribs["_dst"], "left")
                 .select("node",
                         (F.col("_base")
                          + damping * F.coalesce(F.col("_c"), F.lit(0.0)))
                         .alias("rank")))
        if (i + 1) % 3 == 0 or i == iterations - 1:
            prev = checkpointed
            ranks = _ckpt.checkpoint(ranks)
            checkpointed = ranks
            # actually free the replaced round's blocks —
            # DataFrame.unpersist() is a no-op for localCheckpoints (the
            # initial non-checkpoint frame no-ops through free() safely)
            _ckpt.free(prev)
    return ranks


def association_rules(df: DataFrame, group_col: str, item_col: str,
                      min_pair_count: int = 5,
                      max_group_size: int | None = None) -> DataFrame:
    """Market-basket association rules A→B over (basket, item) rows:
    support = P(A∧B), confidence = P(B|A), lift = P(A∧B)/(P(A)·P(B)) —
    the co-purchase/co-annotation rule miner, directed (A→B and B→A get
    separate confidences).

    Reuses :func:`cooccurrence_edges` for the pair counts (groups
    containing both items — same dedup + mega-group guard), so the
    expensive part is one within-group pair fan-out; item supports and the
    basket total are broadcast one-row/dimension aggregates. min_pair_count
    prunes the rule set BEFORE the probability arithmetic.

    The (group, item) distinct appears in all three branches (pairs,
    supports, total) UNCACHED on purpose: the subplans are identical, so
    Catalyst's ReuseExchange serves one distinct shuffle to every branch
    (3 ReusedExchange nodes in the executed plan — asserted in
    tests/test_plans.py); an explicit persist was A/B-measured ~20%
    SLOWER (materialization barrier serializes branches ReuseExchange
    runs concurrently).
    """
    pairs = cooccurrence_edges(df, group_col, item_col,
                               max_group_size=max_group_size)
    pairs = pairs.filter(F.col("weight") >= min_pair_count)
    baskets = df.select(group_col, item_col).distinct()
    item_n = (baskets.groupBy(item_col)
              .agg(F.count(F.lit(1)).cast("double").alias("_cnt")))
    total = F.broadcast(
        baskets.select(group_col).distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("_n")))
    a_n = F.broadcast(item_n.select(F.col(item_col).alias("src"),
                                    F.col("_cnt").alias("_ca")))
    b_n = F.broadcast(item_n.select(F.col(item_col).alias("dst"),
                                    F.col("_cnt").alias("_cb")))
    return (pairs.join(a_n, "src").join(b_n, "dst").crossJoin(total)
            .select(F.col("src").alias("antecedent"),
                    F.col("dst").alias("consequent"),
                    F.col("weight").cast("long").alias("pair_count"),
                    (F.col("weight") / F.col("_n")).alias("support"),
                    (F.col("weight") / F.col("_ca")).alias("confidence"),
                    (F.col("weight") * F.col("_n")
                     / (F.col("_ca") * F.col("_cb"))).alias("lift")))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Exact per-node triangle counts via degree-ordered edge orientation
    (the MapReduce-classic Suri–Vassilvitskii / Cohen scheme). Triangles =
    cohesion of a co-occurrence network (which taxa/suppliers/documents sit
    in tight cliques) — the local-clustering building block.

    Input may be directed/duplicated; it is canonicalized to undirected
    (a<b) first. Every edge is then oriented from its lower to its higher
    endpoint in the total order (degree, id), so each triangle is generated
    EXACTLY once as a wedge at its lowest-order apex closed by one oriented
    edge — no 6× overcount, no post-hoc distinct. The orientation bounds
    per-node oriented out-degree by O(√E), making the wedge join O(E^1.5)
    worst-case — the known optimum for exact enumeration — instead of the
    unbounded hub fan-out of a naive neighbor self-join. Three shuffles:
    degree agg, wedge self-join, closing equi join.

    Output: (node, triangles) for nodes in ≥1 triangle.
    """
    # persist the canonical and oriented edge lists: each is referenced by
    # 2-3 downstream frames, and DataFrame lineage re-inlines (and re-joins)
    # an unpersisted subplan once per reference — measured 46 join operators
    # in the un-cached physical plan vs the ~5 the algorithm needs. Caches
    # are registered for release via _cache.release_caches().
    e = _cache.register(
        edges.select(F.least(src, dst).alias("a"),
                     F.greatest(src, dst).alias("b"))
        .filter(F.col("a") != F.col("b")).distinct())
    deg = (e.select(F.col("a").alias("v"))
           .union(e.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("deg")))
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    low_first = ((F.col("da") < F.col("db"))
                 | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))))
    oriented = _cache.register(ed.select(
        F.when(low_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(low_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(low_first, F.col("db")).otherwise(F.col("da")).alias("dv")))
    e1 = oriented.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    e2 = oriented.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedge_lt = ((F.col("dx") < F.col("dy"))
                | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))))
    wedges = e1.join(e2, "u").filter(wedge_lt).select("u", "x", "y")
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closing, ["x", "y"])
    # explode, not a 3-way self-union: a union of three projections of
    # `tris` re-executes the wedge+closing joins three times (verified in
    # the physical plan); explode emits all three corners in ONE pass
    nodes = tris.select(F.explode(F.array("u", "x", "y")).alias("node"))
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def cooccurrence_cosine(df: DataFrame, group_col: str, item_col: str,
                        max_group_size: int | None = None,
                        min_pair_count: int = 1) -> DataFrame:
    """Cosine-normalized co-occurrence (Ochiai coefficient): shared-group
    count / √(deg_a · deg_b) — the bipartite-projection similarity that
    corrects raw co-counts for item popularity (two rare taxa sharing 3
    samples matter more than two ubiquitous ones sharing 30).

    Reuses the guarded pair fan-out of :func:`cooccurrence_edges`; item
    degrees are a group-grain distinct + partial agg broadcast onto the
    pair list (items ≪ pairs). Emitted once per undirected pair (a < b).
    """
    pairs = (cooccurrence_edges(df, group_col, item_col,
                                max_group_size=max_group_size)
             .filter((F.col("src") < F.col("dst"))
                     & (F.col("weight") >= min_pair_count)))
    deg = (df.select(group_col, item_col).distinct()
           .groupBy(item_col)
           .agg(F.count(F.lit(1)).cast("double").alias("_deg")))
    da = F.broadcast(deg.select(F.col(item_col).alias("src"),
                                F.col("_deg").alias("_da")))
    db = F.broadcast(deg.select(F.col(item_col).alias("dst"),
                                F.col("_deg").alias("_db")))
    return (pairs.join(da, "src").join(db, "dst")
            .select("src", "dst", F.col("weight").cast("bigint")
                    .alias("shared_groups"),
                    (F.col("weight") / F.sqrt(F.col("_da") * F.col("_db")))
                    .alias("cosine")))


def _k_core_local(half: DataFrame, k: int, rounds: int) -> DataFrame:
    """Single-task k-core peel over the coalesced distinct half-edge list
    (u < v, no self-loops) — the same fixed-round recurrence as the
    distributed loop (peel by current-subgraph degree, early exit on a
    stable frontier COUNT, final degree over the last frontier's edges)
    run as numpy bincounts in ONE mapInPandas task. Integer arithmetic
    throughout, so the output is exactly the distributed loop's."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType
    node_type = half.schema["u"].dataType
    out_schema = StructType([StructField("node", node_type),
                             StructField("core_degree", LongType())])

    def fold(batches):
        us, vs = [], []
        for pdf in batches:
            us.append(pdf["u"].to_numpy())
            vs.append(pdf["v"].to_numpy())
        u = np.concatenate(us) if us else np.array([], dtype=np.int64)
        v = np.concatenate(vs) if vs else np.array([], dtype=np.int64)
        if len(u) == 0:
            yield pd.DataFrame({"node": pd.Series([], dtype=object),
                                "core_degree": pd.Series([], dtype=np.int64)})
            return
        nodes = np.unique(np.concatenate([u, v]))
        si = np.searchsorted(nodes, np.concatenate([u, v]))
        di = np.searchsorted(nodes, np.concatenate([v, u]))
        n = len(nodes)
        deg = np.bincount(si, minlength=n)
        alive = deg >= k
        n_prev = int(alive.sum())
        for _ in range(rounds):
            mask = alive[si] & alive[di]
            deg = np.bincount(si[mask], minlength=n)
            new = deg >= k
            n_new = int(new.sum())
            alive = new
            if n_new == n_prev:
                break
            n_prev = n_new
        mask = alive[si] & alive[di]
        deg = np.bincount(si[mask], minlength=n)
        keep = deg > 0
        yield pd.DataFrame({"node": pd.Series(nodes[keep].tolist(),
                                              dtype=object),
                            "core_degree": deg[keep].astype(np.int64)})

    return half.coalesce(1).mapInPandas(fold, out_schema)


def k_core(edges: DataFrame, src: str = "src", dst: str = "dst",
           k: int = 3, rounds: int = 12) -> DataFrame:
    """k-core decomposition (fixed-round peeling): repeatedly drop nodes
    whose degree in the surviving subgraph is < k; what remains is the
    k-core — the dense backbone of a co-occurrence network (community
    cores, spam-link knots). Fixed ``rounds`` with early exit on
    stability, the same SQL-expressible convention as pagerank: an
    unrolled oracle replicates it term for term, and early exit cannot
    change the result (a stable frontier stays stable).

    Per round: the symmetric edge list is semi-joined against the alive
    set on BOTH endpoints, then one partial-agg degree count — edges by
    endpoint is the only shuffle, and the alive frontier (node ids only)
    is what localCheckpoint pins between rounds. O(rounds) passes, each
    O(E) — the standard distributed peel.

    Frontier broadcast (at ≤ ``_BROADCAST_RANKS_MAX_NODES``, the pagerank
    gate): the frontier is node-grain and only SHRINKS, so when the
    initial frontier fits a broadcast both per-round semi-joins run
    broadcast-side and the cached edge list never re-shuffles; past the
    ceiling the hash-partitioned semi-joins are the scale shape.
    """
    half = edges.select(F.least(src, dst).alias("u"),
                        F.greatest(src, dst).alias("v"))
    sym_half = half.filter(F.col("u") != F.col("v")).distinct()
    # scale gate (the pagerank/_cc_local convention): when the distinct
    # half-edge list fits one task, the whole peel is numpy bincounts in a
    # single mapInPandas task — zero supersteps, zero broadcast builds,
    # zero checkpoints, versus 2 semi-joins + an agg + a count job PER
    # ROUND distributed (guide §2.4: remove shuffles outright). The
    # distributed loop below remains the 100 TB path.
    sym_half = _cache.register(sym_half)
    if sym_half.count() <= _LOCAL_FOLD_MAX_EDGES:
        return _k_core_local(sym_half, k, rounds)
    sym = _cache.register(
        sym_half.unionByName(sym_half.select(F.col("v").alias("u"),
                                             F.col("u").alias("v"))))
    alive = _ckpt.checkpoint(
        sym.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
        .filter(F.col("_deg") >= k)
        .select(F.col("u").alias("node")))
    n_prev = alive.count()
    # the count above materialized sym (which read sym_half's cache twice,
    # its purpose on this path) — drop the half-edge cache now so the peel
    # holds ONE copy of the edge list, not 1.5x
    _cache.free(sym_half)
    # the frontier only shrinks, so gating on the initial count (free:
    # just taken for the early-exit ledger) covers every round
    broadcast_alive = n_prev <= _BROADCAST_RANKS_MAX_NODES

    def _alive_side(col_name):
        side = alive.withColumnRenamed("node", col_name)
        return F.broadcast(side) if broadcast_alive else side

    for _ in range(rounds):
        kept = (sym
                .join(_alive_side("u"), "u", "left_semi")
                .join(_alive_side("v"), "v", "left_semi"))
        new = _ckpt.checkpoint(
            kept.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select(F.col("u").alias("node")))
        n_new = new.count()
        _ckpt.free(alive)  # replaced frontier's blocks, freed for real
        alive = new
        if n_new == n_prev:
            break
        n_prev = n_new
    final = (sym
             .join(_alive_side("u"), "u", "left_semi")
             .join(_alive_side("v"), "v", "left_semi")
             .groupBy("u").agg(F.count(F.lit(1)).alias("core_degree"))
             .select(F.col("u").alias("node"), "core_degree"))
    return final
