"""Generate PLANS.md: physical-plan properties of every catalog query.

For each queries() entry at sf0.001, extracts the scale-relevant plan
properties — join strategies, exchange count, pushed filters, Python-eval
presence, codegen spans — as one table row. Full plan dumps are noise; these
properties are the review surface (tests/test_plans.py asserts the critical
ones; this file makes all of them legible at a glance).

Usage: python tools/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def props(plan: str) -> dict:
    joins = []
    for j in ["BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"]:
        n = plan.count(j)
        if n:
            joins.append(f"{j.replace('Join', '')}×{n}")
    pushed = len([p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
                  if p.strip()])
    return {
        "joins": " ".join(joins) or "—",
        "exchanges": plan.count("Exchange hashpartitioning"),
        "pushed_scans": pushed,
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_eval": "YES" if any(m in plan for m in
                                    ("EvalPython", "MapInPandas",
                                     "FlatMapGroupsInPandas")) else "no",
        "window": plan.count("Window "),
    }


def main() -> int:
    from glamr_omics_pipelines_spark.session import get_spark, release
    import __spark_entry__ as E
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    print("# PLANS — physical-plan properties per catalog query (sf0.001)")
    print()
    print("Generated by `python tools/dump_plans.py`. Columns: join operators"
          " in the plan, hash-exchange count, parquet scans with pushed"
          " filters, whole-stage-codegen span count, Python eval in plan,"
          " window operators.")
    print()
    print("Expected BroadcastNestedLoop occurrences: `cross_join_audit`"
          " (J7 is literally a cross join) and `embedding_dups` /"
          " `cosine_topk` (exact forms with a broadcast side — sub-gate"
          " only for `embedding_dups`: above `_BRUTE_PAIRGEN_MAX_ROWS` it"
          " auto-routes to LSH candidate joins; `cosine_topk` stays exact"
          " at any size, its cost linear in the corpus; `lsh_ann` /"
          " `ivf_ann` are the explicit scale paths). Python eval"
          " appears only in `multimodal_features` (Arrow-batched"
          " mapInPandas decode — by design), `phash_dedup` / `afp_dedup` /"
          " `video_dedup` (r9: Arrow-batched signature kernels — image DCT"
          " pHash, WAV spectrogram fingerprint, per-frame Y4M video hash;"
          " only 8-byte hashes reach the banded/inverted-index equi"
          " joins), the FASTQ-sourced queries"
          " `fastq_roundtrip` / `quality_window_trim` (the S1 reader is an"
          " Arrow-batched mapInPandas file parser — gzip framing cannot be"
          " JVM-split; the FASTA reader S2 is pure JVM),"
          " `embedding_covariance` (mapInPandas BLAS partial Gramian —"
          " measured 2.3× over the pure-JVM nested-posexplode form, which"
          " it replaced), and"
          " `wordpiece_encode` (the greedy WordPiece tokenizer is one"
          " Arrow-batched mapInPandas scan with a per-task word cache). The"
          " BroadcastNestedLoop in `rfm_segments` (1-row quintile-threshold attach) / `doc_lm_score` / `temperature_sample` / `pmi_collocations` /"
          " `tfidf_topk` / `doc_bigram_lm` / `tfidf_doc_pairs` /"
          " `bm25_search` (r9: the N/avgdl corpus-stats attach) is a ONE-ROW"
          " scalar-total attach (broadcast of a single aggregate row —"
          " constant cost at any scale); in `mash_distance` / `bray_curtis`"
          " it is the GROUP-grain pair fan-out (samples, corpus-size"
          " independent), in `benford` the group×9 digit densification"
          " (explicit crossJoin with a broadcast 9-row literal frame),"
          " and in `dbscan` the sub-gate brute pair-gen (AUTO-GATED as of"
          " r7: above `similarity._BRUTE_PAIRGEN_MAX_ROWS` corpus rows the"
          " default pair generator is `lsh_candidate_pairs` bucket"
          " equi-joins, and the gate alone decides; an explicit"
          " `candidates=` frame is the pair list instead). `pq_ann`'s"
          " BroadcastNestedLoop (r8) is the ADC scan: the broadcast side"
          " is the QUERY frame carrying precomputed m×k distance tables"
          " (a handful of rows), and the scan side reads only the coded"
          " corpus — m array lookups per pair, the intended PQ shape."
          " `ivfpq_ann` (r9) needs NO nested loop at all: the IVFADC"
          " composition replaces the flat ADC scan with a broadcast EQUI"
          " join on `ivf_cell` (queries explode to their nprobe probed"
          " cells), so candidate volume is cell-bounded. `ann_recall`'s"
          " BroadcastNestedLoop (r9) is its EXACT ground-truth side —"
          " brute_force_topk, always exact and never gated, the declared"
          " baseline class"
          " (same as `cosine_topk`); the approx side under test (IVF)"
          " joins equi on the probed cell. `bpe_encode`"
          " stays pure-JVM in the plan: the catalog row runs the"
          " Column-tree fold form; the 32k-merge rank path (an Arrow"
          " mapInPandas scan, r9) is auto-selected only above 1,024"
          " merges and is pytest-covered. The streaming replay rows"
          " (`streaming_replay_rollup` / `streaming_attribution_join` /"
          " `streaming_heavy_hitters` / `streaming_drift_monitor`) return"
          " driver-materialized state snapshots, so — like `pagerank` —"
          " their table rows describe the returned frame, not the"
          " foreachBatch machinery (live plan shapes are asserted in the"
          " streaming tests)."
          " `snapshot_diff`'s SortMergeJoin is intentional: a full-outer"
          " join of two same-sized snapshots has no broadcastable side."
          " `pagerank`'s near-empty row is expected: the iterative loop runs"
          " during materialization and the returned frame is the final"
          " eager localCheckpoint, so its plan is a checkpoint scan — the"
          " per-iteration join shape is asserted in tests/test_plans.py"
          " instead.")
    print()
    print("| query | joins | exchanges | pushed scans | codegen | py-eval | windows |")
    print("|---|---|---|---|---|---|---|")
    for name, fn in E.queries().items():
        try:
            df = fn(spark, SF)
            df.collect()  # materialize so AQE's final plan carries codegen marks
            plan = df._jdf.queryExecution().executedPlan().toString()
            # AQE toString carries Final AND Initial plans — count only Final
            plan = plan.split("== Initial Plan ==")[0]
            p = props(plan)
            print(f"| {name} | {p['joins']} | {p['exchanges']} | "
                  f"{p['pushed_scans']} | {p['codegen']} | {p['python_eval']} | "
                  f"{p['window']} |")
        except Exception as e:  # pragma: no cover
            print(f"| {name} | ERROR: {type(e).__name__} | | | | | |")
        finally:
            release(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
