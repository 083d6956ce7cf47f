"""Scale-up stress: replicate sf0.1 K× (default 8×) into a temp dir with
offset keys (dims stay fixed, like production fact growth), run the bench
headline queries at both scales, and report per-query scaling factors.

A query whose factor greatly exceeds K has a superlinear plan (accidental
cross join, driver materialization, unpartitioned sort) — the failure modes
that stay invisible at a single small SF.

Usage: python tools/scale_check.py [K] [--keep]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = "/tmp/glamr_scale_check"

DIMS = ["region", "nation", "customer", "supplier", "part"]
FACTS = {  # table -> [(key column, per-replica offset), ...]
    "orders": [("o_orderkey", 10_000_000)],
    "lineitem": [("l_orderkey", 10_000_000)],
    # offset user_id too: replicas sharing users+timestamps would make the
    # events self-joins (asof/range/sessionize) K^2 in true output size —
    # the detector would then flag quadratic DATA as a superlinear PLAN.
    # Offsetting keeps per-user event density constant, like real growth.
    "events": [("event_id", 10_000_000), ("user_id", 10_000)],
    "documents": [("doc_id", 1_000_000)],
    "embeddings": [("vec_id", 1_000_000)],
}

# Per-query factor bounds where the generic 2K gate misreads DATA growth as
# a PLAN defect. triangle_count: l_partkey is deliberately NOT offset (parts
# are a dimension), so each part co-orders in K× more orders — weight-1
# pairs cross the >=2 threshold and the graph itself densifies; exact
# triangle counting is O(E^1.5) BY DESIGN (degree-oriented orientation), so
# the honest gate is K^1.5 (22.6 at K=8), not 2K. Measured 11.7-17.9 across
# rounds at K=8 — inside the design bound, flagged only if the orientation
# ever regresses to the quadratic wedge join.
ALLOWED_FACTOR = {
    "triangle_count": lambda k: k ** 1.5,
}


def build(spark, k: int) -> None:
    from pyspark.sql import functions as F
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    os.makedirs(DST, exist_ok=True)
    for name in DIMS:
        spark.read.parquet(f"{SRC}/{name}.parquet").write.mode("overwrite") \
            .parquet(f"{DST}/{name}.parquet")
    for name, keys in FACTS.items():
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        out = df
        for i in range(1, k):
            p = df
            for key, off in keys:
                p = p.withColumn(key, F.col(key) + i * off)
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{DST}/{name}.parquet")


def run(spark, qs, names, sf_dir: str) -> dict[str, float]:
    from glamr_omics_pipelines_spark.session import release
    t = {}
    for n in names:
        best = None
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                qs[n](spark, sf_dir).collect()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
        finally:
            release(spark)
        t[n] = round(best, 3)
    return t


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 8
    from glamr_omics_pipelines_spark.session import get_spark
    import __spark_entry__ as entrymod
    from bench import HEADLINE
    spark = get_spark("scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    build(spark, k)
    base = run(spark, qs, HEADLINE, SRC)
    big = run(spark, qs, HEADLINE, DST)
    report = {n: {"sf0.1": base[n], f"x{k}": big[n],
                  "factor": round(big[n] / max(base[n], 1e-9), 1)}
              for n in HEADLINE}
    flagged = {n: r for n, r in report.items()
               if r["factor"] > ALLOWED_FACTOR.get(n, lambda kk: 2 * kk)(k)}
    if flagged:
        # Retry-on-flag (r10): a ~350-query session accumulates GC /
        # broadcast-cleanup pressure that can inflate a single row's x8
        # runs long after its own plan finished (observed:
        # pmi_collocations 15.6 s mid-sweep vs 1.3 s min-of-3 isolated —
        # factor 19.6 vs 1.35). Re-measure ONLY the flagged rows fresh at
        # both scales and keep the flag only if it survives.
        retry_base = run(spark, qs, list(flagged), SRC)
        retry_big = run(spark, qs, list(flagged), DST)
        for n in list(flagged):
            # Keep the ORIGINAL base denominator; min only the big side.
            # A warm retry_base faster than base would shrink the
            # denominator and could keep a noise-flagged row flagged for
            # the opposite reason the retry exists — the retry strictly
            # tests whether the x{k} inflation reproduces (advisor r10).
            b = base[n]
            g = min(big[n], retry_big[n])
            f = round(g / max(b, 1e-9), 1)
            report[n] = {"sf0.1": b, f"x{k}": g, "factor": f,
                         "retried": True}
            if f <= ALLOWED_FACTOR.get(n, lambda kk: 2 * kk)(k):
                del flagged[n]
            else:
                flagged[n] = report[n]
    print(json.dumps({"k": k, "queries": report, "superlinear": flagged}))
    if "--keep" not in sys.argv:
        shutil.rmtree(DST, ignore_errors=True)
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
