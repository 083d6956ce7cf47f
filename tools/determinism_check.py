"""Parallelism-determinism gate: the driver's value-hash compare assumes a
query renders the SAME rows no matter how Spark schedules it. check.py runs
Spark at one fixed config, so a query whose output depends on partition
count / scheduling order (an incomplete window tiebreak, a first() over a
non-singleton group, a float sum whose 4dp rounding sits on a boundary)
passes locally twice and still flips on another machine.

This tool runs every queries() entry at sf0.01 under a given master /
shuffle-partition config and writes one md5 per query over the
check.py-normalized rendered frame. Run it twice with different configs and
diff the two manifests:

    python tools/determinism_check.py /tmp/det_a.json
    SPARK_GRAFT_CPUS=7 DET_SHUFFLE=13 python tools/determinism_check.py /tmp/det_b.json
    python tools/determinism_check.py --diff /tmp/det_a.json /tmp/det_b.json

Any differing hash = parallelism-dependent output = latent driver red row.

``--only name1,name2`` before the output path restricts the run to the named
queries — the fast loop when one query's physical plan changed (the full
catalog pair costs two ~15-minute sweeps).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

from tools.check import normalize  # noqa: E402 - check.py's canonical form


def frame_hash(df) -> str:
    norm = normalize(df)
    rendered = norm.astype(str)
    h = hashlib.md5()
    h.update(("|".join(norm.columns)).encode())
    for row in rendered.itertuples(index=False):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return h.hexdigest()


def run(out_path: str, only: set[str] | None = None) -> int:
    import __spark_entry__ as entry_mod
    from glamr_omics_pipelines_spark.session import get_spark, release

    shuffle = os.environ.get("DET_SHUFFLE")
    extra = {"spark.sql.shuffle.partitions": shuffle} if shuffle else {}
    spark = get_spark("determinism-check", extra_confs=extra)
    spark.sparkContext.setLogLevel("ERROR")
    manifest: dict[str, dict] = {}
    selected = entry_mod.queries()
    if only is not None:
        unknown = only - set(selected)
        if unknown:
            raise SystemExit(f"--only names not in queries(): {sorted(unknown)}")
        selected = {n: fn for n, fn in selected.items() if n in only}
    for name, fn in selected.items():
        t0 = time.time()
        try:
            pdf = fn(spark, SF_DIR).toPandas()
            manifest[name] = {"rows": len(pdf), "hash": frame_hash(pdf)}
            print(f"OK   {name} rows={len(pdf)} [{time.time()-t0:.1f}s]")
        except Exception as e:  # noqa: BLE001 - isolate per query
            manifest[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
            print(f"ERR  {name}: {manifest[name]['error']}")
        finally:
            release(spark)
    with open(out_path, "w") as fh:
        json.dump({"master": spark.sparkContext.master,
                   "shuffle_partitions":
                       spark.conf.get("spark.sql.shuffle.partitions"),
                   "queries": manifest}, fh, indent=1, sort_keys=True)
    print(f"\nwrote {len(manifest)} hashes to {out_path}")
    spark.stop()
    return 0


def diff(path_a: str, path_b: str) -> int:
    a = json.load(open(path_a))
    b = json.load(open(path_b))
    qa, qb = a["queries"], b["queries"]
    bad = 0
    for name in sorted(set(qa) | set(qb)):
        ra, rb = qa.get(name), qb.get(name)
        if ra is None or rb is None:
            print(f"MISSING {name}: only in one manifest")
            bad += 1
        elif "error" in ra or "error" in rb:
            print(f"ERROR   {name}: {ra.get('error') or rb.get('error')}")
            bad += 1
        elif ra != rb:
            print(f"SPLIT   {name}: rows {ra['rows']}/{rb['rows']} "
                  f"hash {ra['hash'][:10]}../{rb['hash'][:10]}.. — output "
                  f"depends on parallelism (latent driver red)")
            bad += 1
    print(f"\n{len(set(qa) | set(qb)) - bad} stable, {bad} problems "
          f"(A: master={a['master']} shuffle={a['shuffle_partitions']}; "
          f"B: master={b['master']} shuffle={b['shuffle_partitions']})")
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--diff"]:
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    argv = sys.argv[1:]
    only = None
    if argv[:1] == ["--only"]:
        only = set(argv[1].split(","))
        argv = argv[2:]
    sys.exit(run(argv[0] if argv else "/tmp/det.json", only=only))
