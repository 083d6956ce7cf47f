"""Layer-A analog: a declarative stage DAG with run ledger (SURVEY §3.1).

The reference's Snakefile is a wildcard-pattern DAG of ~150 rules dispatched
to SLURM, with post-production replaying the run log into a checkout ledger
(Snakefile:52-4689; pypelib/post.py:235-374). In the Spark engine the data
plane is one lazy Catalyst plan — what remains of Snakemake is the *control*
plane: named stages, dependencies, the up-to-date rule, and an auditable
ledger.

This module provides exactly that, deliberately small:
  - ``Stage``: name + fn(spark, ctx) -> DataFrame, with upstream deps and
    declared inputs (input files, in-memory frames) and output directory.
  - ``StageDAG.run``: topological execution; each stage's DataFrame lands in
    ``ctx`` for downstream stages (handoff is a DataFrame reference — i.e.
    shuffle/exchange, not files on a shared FS like the reference).
  - per-stage ledger rows (stage, ts, seconds, up_to_date, fingerprint)
    appended to a JSON-lines ledger — the checkout-file/benchmark-table
    analog (pypelib/post.py:763-935).
  - Snakemake's up-to-date rule. A stage's fingerprint is a sha256 over its
    upstream stages' fingerprints, its input files as (path, size,
    mtime_ns) from a local listing, its in-memory frames as schema JSON plus
    a sha256 over their collected rows, and its output directory's listing.
    The ledger keeps the fingerprint a stage had after its last run. A stage
    whose fingerprint still matches is up to date: ``reuse`` hands its
    output on and ``fn`` is not called. Only a frame whose optimized plan is
    a ``LocalRelation`` (``createDataFrame`` from pandas) is fingerprinted:
    its rows are on the driver and collecting them runs no Spark job. Any
    other frame (a file scan, an RDD) could only be read by a job, so its
    stage, and every stage downstream of it, always runs. Unlike Snakemake,
    a change to a stage's code is not a trigger: after editing a stage,
    remove its output directory (or the ledger) to force it to run.

The reference's checkpoint-driven DAG re-evaluation (Snakefile:308-312,
3970-4048 — plan depends on data) maps to ordinary driver-side control flow:
a stage fn may inspect upstream results and emit different plans; the DAG
only fixes the stage ORDER, not the plans inside.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

StageFn = Callable[[SparkSession, dict], "DataFrame | None"]


@dataclass
class Stage:
    name: str
    fn: StageFn
    deps: list[str] = field(default_factory=list)
    files: list[str] = field(default_factory=list)
    frames: list[DataFrame] = field(default_factory=list)
    output: str | None = None   # directory the stage writes
    reuse: StageFn | None = None  # hands the output on when up to date


def _hidden(name: str) -> bool:
    """Spark's reader skips these names; ``_SUCCESS`` is among them, and a
    zero-row append rewrites it without changing what a reader sees."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _listing(root: str | None) -> list:
    """(relative path, size, mtime_ns) of every visible file under ``root``."""
    out = []
    if root is None:
        return out
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not _hidden(x)]
        for f in files:
            if not _hidden(f):
                st = os.stat(os.path.join(d, f))
                out.append([os.path.relpath(os.path.join(d, f), root),
                            st.st_size, st.st_mtime_ns])
    return sorted(out)


def _fingerprint(inputs: dict | None, output: str | None) -> str | None:
    """A stage's fingerprint: its inputs plus its output directory's listing
    (None when an input has no fingerprint)."""
    if inputs is None:
        return None
    blob = json.dumps([inputs, _listing(output)]).encode()
    return hashlib.sha256(blob).hexdigest()


def frame_digest(df: DataFrame) -> str | None:
    """sha256 over the schema and collected rows of an in-memory frame, or
    None when the frame is not a ``LocalRelation`` (reading it would run a
    Spark job). Deciding runs no job either: it reads the optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    h = hashlib.sha256(df.schema.json().encode())
    h.update(repr(df.collect()).encode())
    return h.hexdigest()


class StageDAG:
    def __init__(self, ledger_path: str | None = None):
        self.stages: dict[str, Stage] = {}
        self.ledger_path = ledger_path

    def stage(self, name: str, deps: list[str] | None = None,
              files: list[str] | None = None,
              frames: list[DataFrame] | None = None,
              output: str | None = None, reuse: StageFn | None = None):
        """Decorator: register a stage function. ``files`` and ``frames``
        are its inputs besides ``deps``; a stage that declares ``output``
        and ``reuse`` is skipped while its fingerprint is unchanged."""
        def wrap(fn):
            if name in self.stages:
                raise ValueError(f"duplicate stage {name}")
            self.stages[name] = Stage(name, fn, deps or [], files or [],
                                      frames or [], output, reuse)
            return fn
        return wrap

    def _order(self) -> list[str]:
        seen: dict[str, int] = {}   # 0=visiting, 1=done
        out: list[str] = []

        def visit(n: str):
            if seen.get(n) == 1:
                return
            if seen.get(n) == 0:
                raise ValueError(f"cycle through {n}")
            if n not in self.stages:
                raise ValueError(f"unknown dep {n}")
            seen[n] = 0
            for d in self.stages[n].deps:
                visit(d)
            seen[n] = 1
            out.append(n)

        for n in self.stages:
            visit(n)
        return out

    def _log(self, row: dict) -> None:
        if self.ledger_path:
            with open(self.ledger_path, "a") as f:
                f.write(json.dumps(row) + "\n")

    def _inputs(self, st: Stage, fps: dict) -> dict | None:
        """Everything ``st`` reads, in fingerprint form; None when one input
        cannot be fingerprinted without a Spark job."""
        if not self.ledger_path:
            return None   # no ledger, nothing to compare against
        deps = [fps[d] for d in st.deps]
        if None in deps:
            return None
        frames = [frame_digest(df) for df in st.frames]
        if None in frames:
            return None
        files = []
        for p in st.files:
            s = os.stat(p)
            files.append([p, s.st_size, s.st_mtime_ns])
        return {"deps": deps, "files": files, "frames": frames}

    def run(self, spark: SparkSession, ctx: dict | None = None,
            targets: list[str] | None = None) -> dict:
        """Execute (a subgraph of) the DAG; returns the ctx with each stage's
        DataFrame under its name. ``targets`` limits execution to the listed
        stages plus their transitive deps (snakemake-target semantics)."""
        ctx = dict(ctx or {})
        order = self._order()
        if targets:
            needed: set[str] = set()

            def pull(n: str):
                if n in needed:
                    return
                needed.add(n)
                for d in self.stages[n].deps:
                    pull(d)
            for t in targets:
                pull(t)
            order = [n for n in order if n in needed]
        recorded = ({r["stage"]: r.get("fingerprint")
                     for r in read_ledger(self.ledger_path)}
                    if self.ledger_path else {})
        fps: dict[str, str | None] = {}
        for name in order:
            st = self.stages[name]
            t0 = time.time()
            inputs = self._inputs(st, fps)
            fp = _fingerprint(inputs, st.output)
            up_to_date = (fp is not None and st.output is not None
                          and st.reuse is not None and fp == recorded.get(name))
            df = (st.reuse if up_to_date else st.fn)(spark, ctx)
            if not up_to_date:   # the output as this run left it
                fp = _fingerprint(inputs, st.output)
            fps[name] = fp
            if df is not None:
                ctx[name] = df
            self._log({"stage": name, "ts": t0,
                       "seconds": round(time.time() - t0, 3),
                       "up_to_date": up_to_date, "fingerprint": fp})
        return ctx


def read_ledger(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
