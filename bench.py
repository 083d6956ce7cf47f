#!/usr/bin/env python
"""Per-round benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing method: each query is built lazily, then forced with a count-style
terminal action that materializes every row (``df.foreach(noop)`` would skip
whole-stage results; ``collect`` pulls to the driver like the correctness
harness does, matching how the driver measures).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from glamr_omics_pipelines_spark.session import get_spark, release  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

# The benched queries, in catalog order, and the r1-r3 30-query subset that
# is the cross-round comparable total: both come from each query's
# ``@query(bench=...)`` tier in __spark_entry__.py.
HEADLINE = [n for n, fn in entrymod.queries().items() if fn.bench]
STABLE30_SET = {n for n, fn in entrymod.queries().items()
                if fn.bench == "stable30"}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("glamr-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # Warm the JVM/codegen once so per-query numbers measure the plan, not
    # session startup.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # Calibration probe: a constant-cost action whose plan never changes
    # round-to-round. If the probe's timing moves between rounds, the shift is
    # environment load (sandbox contention), not a plan regression — it lets
    # the judge separate the two (round-3 saw a uniform ~1.8x env slowdown).
    probe_best = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
        dt = time.perf_counter() - t0
        probe_best = dt if probe_best is None else min(probe_best, dt)

    # MULTITHREADED calibration probe (r10): a fixed 32-task hash+shuffle
    # mini-job whose plan never changes round-to-round. The single-thread
    # probe above cannot see THREAD-SCALING drift (r9: the box ran
    # multithreaded work ~1.5x slower at a similar single-thread probe, and
    # the evidence lived only in ROUND9.md prose). With both probes recorded,
    # cross-round comparisons normalize for either kind of box drift from
    # BENCH_DETAILS.json alone.
    from pyspark.sql import functions as _F
    probe_mt_best = None
    for _ in range(3):
        t0 = time.perf_counter()
        (spark.range(0, 16_000_000, 1, 32)
         .select((_F.col("id") % 997).alias("k"),
                 (_F.xxhash64("id") % 1_000_003).alias("h"))  # bounded: ANSI sum can't overflow
         .groupBy("k").agg(_F.sum("h").alias("s"),
                           _F.count(_F.lit(1)).alias("n"))
         .collect())
        dt = time.perf_counter() - t0
        probe_mt_best = dt if probe_mt_best is None else min(probe_mt_best, dt)

    # three measured runs per query, report the min: steady-state plan cost,
    # not first-run codegen compilation / JIT / page-cache / GC noise.
    # Each query is failure-isolated: one broken query must never erase the
    # whole bench (this exact fragility cost round 2 its BENCH file).
    timings: dict[str, float] = {}
    timings_min5: dict[str, float] = {}
    errors: dict[str, str] = {}
    extra_run_errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs[name]
        # stable30 rows additionally get runs 4-5: measured first-run
        # codegen/JIT inflation is 2-4x steady state, and under transient box
        # load even run 3 can still carry it (r10: lang_id bench'd 2.1 s
        # min-of-3 under load vs 0.84 s steady min-of-5). PROTOCOL
        # COMPATIBILITY: timings[name] (and every *_total built from it)
        # stays min over the FIRST 3 runs — identical to every prior round's
        # protocol, so cross-round comparisons are apples-to-apples; the
        # min-of-5 lands ONLY in the separate stable30_total_min5 /
        # queries_min5 fields (min over more runs is monotonically
        # non-increasing — folding it into the headline number would fake a
        # speedup the code never earned).
        n_runs = 5 if name in STABLE30_SET else 3
        runs: list[float] = []
        try:
            for _ in range(n_runs):
                t0 = time.perf_counter()
                try:
                    fn(spark, sf_dir).collect()
                    runs.append(time.perf_counter() - t0)
                finally:
                    # COLD-RUN PROTOCOL (r12, VERDICT r11 item 2): release
                    # the operators' registered persists/checkpoints after
                    # every RUN, failed ones included. Spark's CacheManager
                    # matches canonicalized plans, so without this, run 2-3
                    # of a persist-style operator (dbscan, tfidf_doc_pairs,
                    # mash_distance) silently read run 1's cache and the
                    # min-of-3 records a warm run — which systematically
                    # flatters persist-style changes; and a failed run's
                    # pinned RDDs would inflate every later query 2-5x.
                    # Release time is outside the timed region (cleanup, not
                    # query work).
                    release(spark)
                # Record the protocol timing the moment the first 3 runs are
                # in: a transient failure on (non-protocol) run 4 or 5 must
                # not erase a protocol-valid min-of-3 measurement and silently
                # shrink the cross-round-comparable stable30 denominator.
                if len(runs) == 3:
                    timings[name] = round(min(runs), 3)
            if n_runs > 3:
                timings_min5[name] = round(min(runs), 3)
        except Exception as exc:  # noqa: BLE001 - isolate per query
            if name not in timings:
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            else:
                # Runs 4-5 only (non-protocol): the protocol timing stands
                # and the round stays comparable; log the flake separately so
                # it never inflates n_errors / total_incomparable.
                extra_run_errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    total = round(sum(timings.values()), 3)
    # The r1-r3 30-query headline set: the ONLY total that is comparable
    # across every round (the full catalog grew 30 -> 184, so the full total's
    # denominator moves round-to-round).
    stable30 = STABLE30_SET & set(timings)
    stable30_total = round(sum(timings[n] for n in stable30), 3)
    # the noise-robust companion number (NOT protocol-comparable to r1-r9)
    stable30_total_min5 = round(sum(timings_min5.get(n, timings[n])
                                    for n in stable30), 3)

    # DRIFT-ADJUSTED stable30 (r11): normalize the official total by the
    # multithreaded calibration probe so thread-scaling box drift is divided
    # out.  Rule:  stable30_drift_adj = stable30_total * MT_ANCHOR / probe_mt.
    # MT_ANCHOR derivation (the only committed simultaneous pairing, from
    # ROUND10.md): on the r10 builder box the MT probe read 0.578 s while
    # stable30 read 33.4 s = 2.134x the r1 anchor (15.655 s); if stable30
    # wall scales with the MT probe (both are 32-thread shuffle-bound work),
    # an r1-speed box would probe at 0.578 / 2.134 = 0.271 s.  MT_ANCHOR is
    # therefore pinned at 0.271 and MUST NOT be retuned round-to-round —
    # retuning would let the normalization absorb real regressions.  The
    # official stable30_total stays the gating number; drift_adj is the
    # companion that separates plan regressions (both numbers move) from box
    # drift (official moves, drift_adj stays).
    MT_ANCHOR = 0.271
    stable30_drift_adj = round(stable30_total * MT_ANCHOR / probe_mt_best, 3)

    # Per-query detail goes to a sidecar file + separate stdout lines; the
    # FINAL stdout line must stay tiny (<1KB) — round 4's single ~6KB JSON
    # line overflowed the driver's tail capture and the bench gate was
    # unevaluable (BENCH_r04.json parsed=null).
    details = {
        "queries": timings,          # min over first 3 runs (r1-r9 protocol)
        "queries_min5": timings_min5,  # stable30 rows only: min over all 5
        "errors": errors,
        "extra_run_errors": extra_run_errors,  # non-protocol run 4-5 flakes
        "runs_per_query": 3,           # the protocol runs behind `queries`
        "runs_stable30": 5,            # total runs taken on stable30 rows
        "calibration_probe_sec": round(probe_best, 3),
        "calibration_probe_mt_sec": round(probe_mt_best, 3),
        "stable30_drift_adj": stable30_drift_adj,
        "mt_anchor": MT_ANCHOR,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    details_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BENCH_DETAILS.json")
    with open(details_path, "w") as fh:
        json.dump(details, fh, indent=1, sort_keys=True)
    for name in HEADLINE:  # per-query lines BEFORE the summary line
        if name in timings:
            print(f"QUERY {name} {timings[name]}")
        elif name in errors:
            print(f"ERROR {name} {errors[name]}")

    out = {
        "metric": "headline_query_wall_total",
        "value": total,
        "unit": "sec",
        "runs_per_query": 3,
        "runs_stable30": 5,
        "calibration_probe_sec": round(probe_best, 3),
        "calibration_probe_mt_sec": round(probe_mt_best, 3),
        "stable30_total_min5": stable30_total_min5,
        "stable30_drift_adj": stable30_drift_adj,
        "mt_anchor": MT_ANCHOR,
        # a total over FEWER queries is not comparable across rounds; these
        # make a shrunken denominator impossible to miss
        "n_queries_timed": len(timings),
        "n_queries_expected": len(HEADLINE),
        # cross-round comparable subset (the original 30 headline queries)
        "stable30_total": stable30_total,
        "stable30_n": len(stable30),
        "n_errors": len(errors),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "details_file": "BENCH_DETAILS.json",
    }
    if errors:
        out["total_incomparable"] = True
    # Driver per-query ingest (r12, VERDICT r11 item 8): the driver contract's
    # one-line JSON carries {"queries": {name: sec}} — PERF_r10/r11 had
    # per_query empty because this line never carried the key. But the
    # driver's tail capture is 2000 chars and it parses the line FROM THE
    # TAIL (BENCH_r04: a ~6KB line with all queries inlined was
    # head-truncated and the whole bench gate became unevaluable,
    # parsed=null). So: include as many per-query entries as fit a
    # 1880-byte line — stable30 first (the cross-round-comparable set),
    # then the most expensive rows, i.e. exactly the queries a per-query
    # regression comparison cares about. The FULL per-query map stays in
    # BENCH_DETAILS.json; `queries_elided` makes the truncation explicit.
    prio = sorted(timings, key=lambda n: (n not in STABLE30_SET, -timings[n]))
    included: dict[str, float] = {}
    for n in prio:
        included[n] = timings[n]
        # worst-case width: the final elided count is at most len(timings)
        if len(json.dumps({**out, "queries": included,
                           "queries_elided": len(timings)})) > 1880:
            del included[n]
            break
    out["queries"] = included
    out["queries_elided"] = len(timings) - len(included)
    line = json.dumps(out)
    assert len(line) < 1900, \
        f"final bench line must fit the 2000-char tail, got {len(line)}"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
