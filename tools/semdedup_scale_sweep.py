"""Empirical scale sweep of cluster-scoped semantic dedup (late-r9
follow-on to ann_scale_sweep / ivfpq_scale_sweep).

`semdedup` bounds all-pairs work to Σ|cell|² — with a roughly balanced
quantizer that is n²/n_cells instead of n². The production shape scales
the CELL COUNT with the corpus (SemDeDup runs ~10k clusters for 10⁸
docs), so pair volume per row stays constant as data grows; this sweep
does the same (n_cells = n / CELL_LOAD) and checks:

  1. planted recall: every planted near-dup (vec_id + 10_000_000, a
     1e-4 per-component perturbation of its base row) must share its
     base's argmin cell and be dropped with dup_of == base — cell
     scoping must not lose what global pair-gen would find. Bound:
     >= 0.99 of planted ids dropped, and every observed dup_of is the
     planted base.
  2. candidate-pair volume: measured Σ|cell|²-derived within-cell pair
     count stays within 4x of the balanced-cell analytic n²/(2·n_cells)
     — a degenerate quantizer (everything in one cell) blows through
     this. The quantizer here is the production composition: a
     data-SAMPLED init (train_ivf_centroids — random gaussian centroids
     waste cells off the data shell, measured imbalance 4.2 vs 1.02)
     refined by 2 DISTRIBUTED Lloyd iterations (kmeans_lloyd) — the
     sweep exercises both trainers → semdedup end-to-end.
  3. plan shape AT THE LARGE SIZE: the pair stage is an EQUI join on
     ivf_cell (no BroadcastNestedLoop / CartesianProduct — the global
     n² shape cell scoping exists to avoid).
  4. wall factor: bounded by the analytic cost model. With cells scaling
     with the corpus, BOTH stages are Θ(n²·dim / CELL_LOAD): the pair
     stage does n²/(2·n_cells) dots and the ASSIGNMENT does n·n_cells
     centroid distances per pass — so the expected factor is ~K², not K.
     (At 100 TB the assignment is the piece you vectorize — the BLAS
     mapInPandas kernel assign_cells switches to at its model-shape gate,
     or a coarse two-level quantizer; the sweep pins the PLAN contract:
     equi-join pair stage, Σ|cell|² volume, cell-scoped recall.)

Usage: python tools/semdedup_scale_sweep.py [n_base] [K]
Prints one JSON line; exits non-zero on any violated bound.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ann_scale_sweep import make_corpus  # noqa: E402  (same synthetic corpus)

DIM, CELL_LOAD, THRESHOLD = 64, 250, 0.95


def sweep(n_base: int, k: int) -> dict:
    from pyspark.sql import functions as F

    from glamr_omics_pipelines_spark.operators import dedup, similarity
    from glamr_omics_pipelines_spark.session import get_spark

    spark = get_spark("semdedup-scale-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_base": n_base, "k": k, "dim": DIM,
                 "cell_load": CELL_LOAD, "threshold": THRESHOLD}
    results = {}
    for label, n in (("small", n_base), ("large", n_base * k)):
        n_cells = max(n // CELL_LOAD, 4)
        corpus = make_corpus(spark, n, dim=DIM).persist()
        n_rows = corpus.count()
        n_planted = n // 10
        init = similarity.train_ivf_centroids(corpus, "embedding",
                                              k=n_cells, iters=3)
        cents, sizes = similarity.kmeans_lloyd(corpus, "embedding", init,
                                               iters=2)
        res = dedup.semdedup(corpus, "vec_id", "embedding", cents,
                             threshold=THRESHOLD)
        plan = res._jdf.queryExecution().executedPlan().toString()
        t0 = time.perf_counter()
        rows = res.collect()
        wall = time.perf_counter() - t0
        corpus.unpersist()
        pair_volume = sum(s * (s - 1) // 2 for s in sizes)
        analytic = n_rows * n_rows / (2 * n_cells)
        dropped = {r["vec_id"]: r["dup_of"] for r in rows if not r["keep"]}
        planted_dropped = sum(1 for v in dropped
                              if v >= 10_000_000
                              and dropped[v] == v - 10_000_000)
        results[label] = {
            "rows": n_rows, "n_cells": n_cells, "n_planted": n_planted,
            "pair_volume": int(pair_volume),
            "analytic_volume": round(analytic),
            "planted_dropped": planted_dropped,
            "n_dropped": len(dropped),
            "wall_sec": round(wall, 3),
            "bnlj_in_plan": ("BroadcastNestedLoop" in plan
                             or "CartesianProduct" in plan),
            "equi_join_in_plan": ("BroadcastHashJoin" in plan
                                  or "SortMergeJoin" in plan
                                  or "ShuffledHashJoin" in plan),
        }
    out["results"] = results
    s, l = results["small"], results["large"]
    out["wall_factor"] = round(l["wall_sec"] / max(s["wall_sec"], 1e-9), 2)
    vol_growth = l["pair_volume"] / max(s["pair_volume"], 1)
    out["volume_growth"] = round(vol_growth, 2)
    # both stages are quadratic when cells scale with n (see module doc):
    # expected factor ~K²; 1.5x cushion on top
    out["wall_bound"] = round(max(2 * k, k * k * 1.5), 2)
    violations = []
    for label, r in results.items():
        if r["planted_dropped"] < 0.99 * r["n_planted"]:
            violations.append(
                f"{label}: cell scoping lost planted dups "
                f"({r['planted_dropped']} of {r['n_planted']})")
        if r["pair_volume"] > 4 * r["analytic_volume"]:
            violations.append(
                f"{label}: pair volume {r['pair_volume']} > 4x balanced "
                f"analytic {r['analytic_volume']} (degenerate quantizer)")
        if r["bnlj_in_plan"] or not r["equi_join_in_plan"]:
            violations.append(f"{label}: pair stage is not an equi join")
    if out["wall_factor"] > out["wall_bound"]:
        violations.append(f"wall factor {out['wall_factor']} > bound "
                          f"{out['wall_bound']}")
    out["violations"] = violations
    spark.stop()
    return out


def main() -> int:
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 25_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    out = sweep(n_base, k)
    print(json.dumps(out))
    return 1 if out["violations"] else 0


if __name__ == "__main__":
    sys.exit(main())
