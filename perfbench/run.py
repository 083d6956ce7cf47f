#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query_session --seed 1 --seconds 45 --trace 0

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it records the settings, every pass's wall time and any failures. A traced
run also writes its spans to ``perfbench/_work/traces/``. README.md in this
directory describes the workloads and every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
REPLICAS = 8

# query_session: each pass runs every operation once, each on its own
# tier: "x8" is the key-offset replica of the sf0.01 test data, "base" the
# test data itself. A run is one first pass plus a fixed number of steady
# passes, set from --seconds and the nominal pass times of a 4-core box.
QUERY_WORKLOADS = {
    "query_session": {
        "first_s": 17.0, "steady_s": 6.5,
        "ops": [("topk_revenue", "x8"), ("tpm", "x8"),
                ("top1_per_group", "x8"), ("bray_curtis", "x8"),
                ("minhash_dedup", "base"), ("wordpiece_encode", "base")]},
}
# warehouse_refresh: one warehouse root per run. Build 0 is the initial
# load of `initial` samples; every later build is a refresh, alternately an
# incremental load of one new sample and a no-op rerun. The number of
# refreshes is set from --seconds at the nominal build times.
WAREHOUSE = {"initial": 6, "first_s": 14.5, "steady_s": 7.5}
SPECS = {**QUERY_WORKLOADS, "warehouse_refresh": WAREHOUSE}
DAG_STAGES = ["tax_info", "bracken", "gene_abundance", "read_count", "tpm",
              "bin_summary_view", "kofam_mv"]
BASE_TABLES = ["tax_info", "bracken_species", "gene_abundance", "read_count",
               "tpm2"]
BENCH_CONFS = {"spark.ui.showConsoleProgress": "false"}
DEADLINE = 1.1  # start no new pass once measuring took this many --seconds


def _digest(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()[:10]


def _rel(t0: float) -> float:
    return time.perf_counter() - t0


def _describe(e: Exception) -> str:
    return f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:200]}"


# --- environment and session ---------------------------------------------

def configure_env() -> dict:
    """Worker import path, box-derived parallelism and every scratch path
    inside the checkout. Heap and shuffle sizing stay the program's own."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = None
    os.chdir(WORK)
    env["SPARK_GRAFT_DRIVER_MEM"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                                   "<program default>")
    return env


def start_spark():
    """``get_spark`` plus a first trivial action, timed."""
    from glamr_omics_pipelines_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_confs=BENCH_CONFS)
    t1 = time.perf_counter()
    spark.range(1).collect()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t0


def session_settings(spark) -> dict:
    conf = spark.sparkContext.getConf()
    keys = ["spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.files.maxPartitionBytes", "spark.ui.enabled",
            "spark.ui.showConsoleProgress"]
    return {k: conf.get(k, None) for k in keys}


def stop_spark(spark, tree) -> None:
    """Stop the session, end the gateway JVM and wait for its workers."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    pids = [p for p in tree.pids() if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def release(spark) -> None:
    """The cold protocol between operations: drop every cache/checkpoint."""
    from glamr_omics_pipelines_spark.operators import _cache, _ckpt
    spark.catalog.clearCache()
    _ckpt.release_checkpoints()
    _cache.release_caches()


def drain_listener(spark) -> None:
    """Wait until the status store has seen every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# --- inputs ----------------------------------------------------------------

def _build_once(path: str, make) -> None:
    """Run ``make(tmp)`` unless ``path`` exists, then move tmp into place."""
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.rename(tmp, path)


def prepare_tier(tier: str, ops: list[str]) -> tuple[str, str]:
    """The tier's directory (built once per checkout) and the directory of
    the oracle answers of ``ops`` on it. Nothing here is timed."""
    import __spark_entry__ as entry
    from perfbench import oracle, tables
    tier_dir = tables.BASE_DIR
    if tier == "x8":
        tier_dir = os.path.join(WORK, "tiers", f"sf0.01-x{REPLICAS}")
        _build_once(tier_dir, lambda d: tables.replicate(tables.BASE_DIR, d,
                                                         REPLICAS))
    answers = os.path.join(WORK, "oracle", tier)
    sqls = entry.oracle_sql()
    missing = {oracle_key(n, sqls): sqls[n] for n in ops if not os.path.exists(
        os.path.join(answers, f"{oracle_key(n, sqls)}.pkl"))}
    if missing:
        oracle.compute(tier_dir, missing, answers, len(os.sched_getaffinity(0)))
    return tier_dir, answers


def oracle_key(name: str, sqls: dict[str, str]) -> str:
    return f"{name}-{_digest(sqls[name])}"


# --- traced spans ------------------------------------------------------------

class Tracer:
    """Per-operation spans around the calls into the program; reads the
    status store, Catalyst tracker and /proc only outside timed regions."""

    def __init__(self, spark, tree):
        self.spark, self.tree = spark, tree
        self.seq = 0

    def begin(self, name: str) -> dict:
        self.seq += 1
        group = f"perfbench-{self.seq}"
        self.spark.sparkContext.setJobGroup(group, name)
        return {"group": group, "cpu0": self.tree.python_cpu_s()}

    def end(self, mark: dict, df=None) -> dict:
        from perfbench import probes
        drain_listener(self.spark)
        out = {"python_cpu_s": self.tree.python_cpu_s() - mark["cpu0"],
               "stages": probes.stage_metrics(self.spark, mark["group"]),
               "catalyst_ms": (probes.catalyst_ms(df) if df is not None else
                               {"analysis": 0, "optimization": 0, "planning": 0}),
               "materialize": probes.materialized(self.spark)}
        self.spark.sparkContext._jsc.clearJobGroup()
        return out


def pass_plan(unit: int, n_steady: int, trace: bool, seed: int) -> list[bool]:
    """Traced flag of every pass: the first pass, then ``n_steady`` steady
    passes. A traced run traces the first pass, then runs the steady passes
    in pairs of ``unit`` traced and ``unit`` untraced passes, as many pairs
    as fit. Which comes first alternates from pair to pair, starting from
    the seed's parity, so over runs neither side gets the warmer JVM."""
    if not trace:
        return [False] * (1 + n_steady)
    plan = [True]
    for i in range(max(1, n_steady // (2 * unit))):
        first = (i + seed) % 2 == 0
        plan += [first] * unit + [not first] * unit
    return plan


def out_of_time(p: int, unit: int, trace: bool, deadline: float) -> bool:
    """Whether to start no more passes before pass ``p``: past the deadline,
    after at least two steady passes and, in a traced run, only between
    whole traced/untraced pairs, so both sides keep the same passes."""
    at_pair_end = not trace or (p - 1) % (2 * unit) == 0
    return p >= 3 and at_pair_end and time.perf_counter() > deadline


# --- query workloads -------------------------------------------------------

def run_queries(spark, spec: dict, tiers: dict, seed: int, n_steady: int,
                tracer: Tracer | None, deadline: float) -> list[dict]:
    import __spark_entry__ as entry
    from perfbench import oracle
    fns, sqls = entry.queries(), entry.oracle_sql()
    ops = spec["ops"]
    wants = {n: oracle.load(tiers[t][1], oracle_key(n, sqls)) for n, t in ops}
    rng = random.Random(seed)
    records = []
    t_run = time.perf_counter()
    plan = pass_plan(1, n_steady, tracer is not None, seed)
    for p, traced in enumerate(plan):
        if out_of_time(p, 1, tracer is not None, deadline):
            break
        # the first pass keeps the listed order, so the op that pays the
        # session's cold start is the same in every run; the seed orders
        # every later pass
        order = list(ops)
        if p:
            rng.shuffle(order)
        for name, tier in order:
            release(spark)
            rec = {"pass": p, "op": name, "tier": tier, "traced": traced,
                   "start_s": _rel(t_run)}
            mark = tracer.begin(name) if traced else None
            df = got = t1 = None
            t0 = time.perf_counter()
            try:
                df = fns[name](spark, tiers[tier][0])
                t1 = time.perf_counter()
                got = df.toPandas()
            except Exception as e:  # a failing op is counted, not fatal
                rec["error"] = _describe(e)
            t2 = time.perf_counter()
            if got is not None:
                rec["error"] = oracle.compare(name, got, wants[name])
            t1 = t1 or t2
            rec.update(latency_s=t2 - t0, build_s=t1 - t0, execute_s=t2 - t1)
            if traced:
                rec.update(tracer.end(mark, df))
            records.append(rec)
    release(spark)
    return records


# --- warehouse workload ----------------------------------------------------

def _listing(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _ledger(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


@contextmanager
def timed_methods(cls, names: list[str], acc: dict):
    """Time every call of the named methods of ``cls`` into ``acc``."""
    orig = {n: getattr(cls, n) for n in names}

    def wrap(n, f):
        def timed(*a, **k):
            t = time.perf_counter()
            try:
                return f(*a, **k)
            finally:
                acc[n] = acc.get(n, 0.0) + time.perf_counter() - t
        return timed

    for n in names:
        setattr(cls, n, wrap(n, orig[n]))
    try:
        yield
    finally:
        for n, f in orig.items():
            setattr(cls, n, f)


def _frames(spark, manifest: dict, samples: list[str]) -> dict:
    """The in-memory frames, shipped to the JVM as Arrow batches so that
    scanning them needs no Python worker. Columns are sorted by name, the
    order ``createDataFrame`` gives a list of dicts."""
    import pandas as pd
    rows = {k: [r for s in samples for r in manifest["per_sample"][s][k]]
            for k in manifest["per_sample"][samples[0]]}
    rows.update(tax_info=manifest["taxonomy"],
                uniref_lookup=manifest["uniref_lookup"],
                uniref_index=manifest["uniref_index"])
    return {k: spark.createDataFrame(pd.DataFrame(v).sort_index(axis=1))
            for k, v in rows.items()}


def build_phase(i: int) -> str:
    if i == 0:
        return "initial_load"
    return "incremental_load" if i % 2 else "noop_rerun"


def build_samples(i: int) -> int:
    """Samples loaded after build ``i``: one more with each incremental."""
    return WAREHOUSE["initial"] + (i + 1) // 2


def run_warehouse(spark, manifest: dict, n_steady: int, seed: int,
                  tracer: Tracer | None, deadline: float) -> list[dict]:
    from glamr_omics_pipelines_spark.pipelines.warehouse_build import build_warehouse
    from glamr_omics_pipelines_spark.sources.warehouse import Warehouse
    from perfbench import warehouse_inputs
    # a traced run traces the initial load and half of the refreshes, in
    # pairs of builds (one incremental, one no-op)
    plan = pass_plan(2, n_steady, tracer is not None, seed)
    root = os.path.join(WORK, "warehouse", "root")
    shutil.rmtree(root, ignore_errors=True)
    records = []
    t_run = time.perf_counter()
    for i, traced in enumerate(plan):
        if out_of_time(i, 2, tracer is not None, deadline):
            break
        phase = build_phase(i)
        tree = manifest["trees"][str(build_samples(i))]
        release(spark)
        frames = _frames(spark, manifest, tree["samples"])
        before = _listing(root)
        n_load = len(_ledger(os.path.join(root, "_load_ledger.jsonl")))
        n_run = len(_ledger(os.path.join(root, "_run_ledger.jsonl")))
        rec = {"pass": i, "op": phase, "samples": len(tree["samples"]),
               "traced": traced, "start_s": _rel(t_run), "error": None}
        mark = tracer.begin(phase) if traced else None
        acc: dict[str, float] = {}
        t0 = time.perf_counter()
        try:
            with timed_methods(Warehouse, ["incremental_append", "save_view"],
                               acc) if traced else nullcontext():
                build_warehouse(spark, root, tree["bracken_glob"],
                                tree["rpkm_glob"], frames)
        except Exception as e:  # a failing build is counted, not fatal
            rec["error"] = _describe(e)
        t1 = time.perf_counter()
        rec.update(latency_s=t1 - t0, build_s=t1 - t0, execute_s=0.0)
        if traced:
            rec.update(tracer.end(mark))
            rec["append_s"] = acc.get("incremental_append", 0.0)
            rec["save_view_s"] = acc.get("save_view", 0.0)
        after = _listing(root)
        written = [p for p, v in after.items() if before.get(p) != v]
        rec["files_written"] = len(written)
        rec["bytes_written"] = sum(after[p][0] for p in written)
        rec["parquet_bytes"] = sum(v[0] for p, v in after.items()
                                   if p.endswith(".parquet"))
        rec["input_bytes"] = tree["input_bytes"]
        rec["stage_s"] = {r["stage"]: r["seconds"] for r in
                          _ledger(os.path.join(root, "_run_ledger.jsonl"))[n_run:]
                          if not r.get("skipped")}
        loads = _ledger(os.path.join(root, "_load_ledger.jsonl"))[n_load:]
        new_keys = {r["table"]: r["new_keys"] for r in loads if "new_keys" in r}
        rec["new_keys"] = sum(new_keys.values())
        rows = lambda k: sum(warehouse_inputs.expected_rows(  # noqa: E731
            manifest, manifest["trees"][str(k)]["samples"]).values())
        rec["rows_added"] = (rows(build_samples(i)) - rows(build_samples(i - 1))
                             if i else rows(build_samples(0)))
        if rec["error"] is None:
            rec["error"] = _check_phase(root, manifest, tree["samples"],
                                        phase, new_keys)
        records.append(rec)
    release(spark)
    return records


def _expected_new_keys(manifest: dict, phase: str) -> dict[str, int]:
    per = {"initial_load": WAREHOUSE["initial"], "incremental_load": 1,
           "noop_rerun": 0}[phase]
    out = dict.fromkeys(BASE_TABLES, per)
    out["tax_info"] = len(manifest["taxonomy"]) if phase == "initial_load" else 0
    return out


def _check_phase(root: str, manifest: dict, samples: list[str], phase: str,
                 new_keys: dict) -> str | None:
    """Row counts against the generator and new keys against the phase."""
    from perfbench import warehouse_inputs
    want = warehouse_inputs.expected_rows(manifest, samples)
    for table, n in want.items():
        got = _parquet_rows(os.path.join(root, table))
        if got != n:
            return f"{table}: {got} rows, generator says {n}"
    want_keys = _expected_new_keys(manifest, phase)
    if new_keys != want_keys:
        return f"new_keys {new_keys}, expected {want_keys}"
    return None


# --- metrics -----------------------------------------------------------------

def _passes(records: list[dict]) -> list[list[dict]]:
    out: dict[int, list[dict]] = {}
    for r in records:
        out.setdefault(r["pass"], []).append(r)
    return [out[k] for k in sorted(out)]


def _pct(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] \
        if len(values) > 1 else values[0]


def _op_latencies(workload: str, passes: list[list[dict]]) -> dict[str, list[float]]:
    """Latency samples per operation; on warehouse_refresh the operations
    are the DAG stages of each build, read from its run ledger."""
    out: dict[str, list[float]] = {}
    for p in passes:
        for r in p:
            if workload == "warehouse_refresh":
                for stage, s in r["stage_s"].items():
                    out.setdefault(stage, []).append(s)
            else:
                out.setdefault(r["op"], []).append(r["latency_s"])
    return out


def end_to_end(workload: str, records: list[dict], setup_s: float) -> dict:
    """The metrics of an untraced run."""
    passes = _passes(records)
    walls = [sum(r["latency_s"] for r in p) for p in passes]
    # percentiles over operations of each one's median steady latency: one
    # slow sample (a GC pause) cannot move them, a slower operation does
    typical = [statistics.median(v) for v in
               _op_latencies(workload, passes[1:]).values()]
    return {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (walls[0], "s"),
        "steady_pass_s": (statistics.median(walls[1:]), "s"),
        "op_p50_s": (statistics.median(typical), "s"),
        "op_p90_s": (_pct(typical, 90), "s"),
    }


def _warehouse_figures(records: list[dict]) -> dict:
    """Rows loaded per second of the loading builds, the median no-op
    rerun and the parquet bytes on disk over the input bytes at the end."""
    loads = [r for r in records if r["op"] != "noop_rerun"]
    noops = [r["latency_s"] for r in records if r["op"] == "noop_rerun"]
    last = max(records, key=lambda r: r["pass"])
    return {"ingest_rows_per_s": (sum(r["rows_added"] for r in loads)
                                  / sum(r["latency_s"] for r in loads)),
            "noop_rerun_s": statistics.median(noops) if noops else 0.0,
            "write_amp": last["parquet_bytes"] / last["input_bytes"]}


PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "entry.build_s": "s", "entry.execute_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "executor.run_ms": "ms", "executor.cpu_ms": "ms", "executor.cpu_share": "ratio",
    "shuffle.read_bytes": "B", "shuffle.write_bytes": "B",
    "spill.disk_bytes": "B", "executor.gc_ms": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "task.max_over_median": "ratio",
    "materialize.count": "count", "materialize.bytes": "B",
    "python.worker_cpu_s": "s",
    **{f"dag.stage_s.{s}": "s" for s in DAG_STAGES},
    "warehouse.append_s": "s", "warehouse.save_view_s": "s",
    "warehouse.new_keys": "count", "warehouse.files_written": "count",
    "warehouse.bytes_written": "B", "ingest_rows_per_s": "rows/s",
    "noop_rerun_s": "s", "write_amp": "ratio", "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _layer_totals(p: list[dict]) -> dict:
    """Per-layer sums over the operations of one traced pass."""
    st = lambda k: sum(r["stages"][k] for r in p)  # noqa: E731
    run_ms = st("run_ms")
    t = {"entry.build_s": sum(r["build_s"] for r in p),
         "entry.execute_s": sum(r["execute_s"] for r in p),
         "spark.jobs": st("jobs"), "spark.stages": st("stages"),
         "spark.tasks": st("tasks"), "executor.run_ms": run_ms,
         "executor.cpu_ms": st("cpu_ms"),
         "executor.cpu_share": st("cpu_ms") / run_ms if run_ms else 0.0,
         "shuffle.read_bytes": st("shuffle_read_bytes"),
         "shuffle.write_bytes": st("shuffle_write_bytes"),
         "spill.disk_bytes": st("spill_disk_bytes"), "executor.gc_ms": st("gc_ms"),
         "task.max_over_median": (st("straggler_weighted_ms") / run_ms
                                  if run_ms else 0.0),
         "materialize.count": sum(r["materialize"]["count"] for r in p),
         "materialize.bytes": sum(r["materialize"]["bytes"] for r in p),
         "python.worker_cpu_s": sum(r["python_cpu_s"] for r in p)}
    for ph in ("analysis", "optimization", "planning"):
        t[f"catalyst.{ph}_ms"] = sum(r["catalyst_ms"][ph] for r in p)
    for s in DAG_STAGES:
        t[f"dag.stage_s.{s}"] = sum(r.get("stage_s", {}).get(s, 0.0) for r in p)
    for k, src in (("warehouse.append_s", "append_s"),
                   ("warehouse.save_view_s", "save_view_s"),
                   ("warehouse.new_keys", "new_keys"),
                   ("warehouse.files_written", "files_written"),
                   ("warehouse.bytes_written", "bytes_written")):
        t[k] = sum(r.get(src, 0) for r in p)
    return t


def per_layer(workload: str, records: list[dict], get_spark_s: float,
              peak_rss_mb: float) -> dict:
    passes = _passes(records)
    steady = passes[1:]
    steady_traced = [p for p in steady if p[0]["traced"]]
    steady_untraced = [p for p in steady if not p[0]["traced"]]
    traced = passes[:1] + steady_traced
    if workload == "warehouse_refresh":
        # layer sums cover every traced build: the initial load and one
        # refresh pair (an incremental load and a no-op rerun)
        totals = [_layer_totals([r for p in traced for r in p])]
    else:
        totals = [_layer_totals(p) for p in (steady_traced or traced)]
    out = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
    out["session.get_spark_s"] = get_spark_s
    out["peak_rss_mb"] = peak_rss_mb
    wall = lambda ps: statistics.median(  # noqa: E731
        sum(r["latency_s"] for r in p) for p in ps)
    out["trace.overhead_s"] = (wall(steady_traced) - wall(steady_untraced)
                               if steady_traced and steady_untraced else 0.0)
    wh = (_warehouse_figures([r for p in traced for r in p])
          if workload == "warehouse_refresh" else {})
    for k in ("ingest_rows_per_s", "noop_rerun_s", "write_amp"):
        out[k] = wh.get(k, 0.0)
    return {k: (out[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}


# --- main --------------------------------------------------------------------

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=SPECS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "glamr_omics_pipelines_spark"))):
        print("perfbench: the engine is not next to perfbench/; run from the "
              "root of a repository checkout", file=sys.stderr)
        return 2
    t_run = time.perf_counter()
    settings = configure_env()
    sys.path.insert(0, ROOT)
    from perfbench import probes, warehouse_inputs

    manifest = None
    spec = SPECS[args.workload]
    if args.workload != "warehouse_refresh":
        tiers = {t: prepare_tier(t, [n for n, tt in spec["ops"] if tt == t])
                 for t in sorted({t for _, t in spec["ops"]})}
    n_steady = max(4, round((args.seconds - spec["first_s"]) / spec["steady_s"]))
    if args.workload == "warehouse_refresh":
        out = os.path.join(WORK, "warehouse_inputs", f"seed{args.seed}")
        shutil.rmtree(out, ignore_errors=True)
        manifest = warehouse_inputs.generate(
            out, build_samples(n_steady), spec["initial"], args.seed)

    spark, get_spark_s, setup_s = start_spark()
    tree = probes.ProcTree(spark.sparkContext._jvm.java.lang.ProcessHandle
                           .current().pid())
    sampler = probes.PeakRss(tree, interval=0.5)
    sampler.start()
    tracer = Tracer(spark, tree) if args.trace else None
    t_measure = time.perf_counter()
    deadline = t_measure + DEADLINE * args.seconds
    try:
        if manifest is not None:
            records = run_warehouse(spark, manifest, n_steady, args.seed,
                                    tracer, deadline)
        else:
            records = run_queries(spark, spec, tiers, args.seed, n_steady,
                                  tracer, deadline)
        settings.update(session_settings(spark))
    finally:
        peak_rss_mb = sampler.stop() / 2 ** 20
        measured_s = _rel(t_measure)
        stop_spark(spark, tree)

    failures = [f"pass {r['pass']} {r['op']}: {r['error']}"
                for r in records if r["error"]]
    passes = _passes(records)
    extra = {"pass_walls_s": [sum(r["latency_s"] for r in p) for p in passes],
             "pass_traced": [p[0]["traced"] for p in passes],
             "op_latencies_s": _op_latencies(args.workload, passes),
             # the samples behind op_p50_s/op_p90_s: untraced steady passes
             "op_samples": sum(len(v) for v in _op_latencies(
                 args.workload, [p for p in passes[1:]
                                 if not p[0]["traced"]]).values()),
             "peak_rss_mb": peak_rss_mb}
    if manifest is not None:
        extra.update(_warehouse_figures([r for r in records if not r["traced"]]))
    trace_file = None
    if args.trace:
        metrics = per_layer(args.workload, records, get_spark_s, peak_rss_mb)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_file = os.path.join(WORK, "traces",
                                  f"{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "get_spark_s": get_spark_s, "setup_s": setup_s,
                       "spans": records}, f, indent=1)
    else:
        metrics = end_to_end(args.workload, records, setup_s)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "settings": settings, "passes": len(passes),
        "measured_s": measured_s, "run_s": _rel(t_run),
        "error_rate": len(failures) / max(len(records), 1),
        "failures": failures, "trace_file": trace_file,
        **{k: v for k, v in extra.items()}}), flush=True)
    print(json.dumps({
        "correct": not failures, "attempted": len(records),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}),
        flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
