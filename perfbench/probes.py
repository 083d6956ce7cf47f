"""Read-only probes the benchmark uses around its calls into the program.

- ``ProcTree``: the Spark JVM and its descendants (the ``pyspark.daemon``
  and its Python workers), read from ``/proc``: resident memory and the CPU
  time of the Python processes.
- ``PeakRss``: a sampler thread that keeps the largest resident total of
  that tree.
- ``stage_metrics``: stage sums for one job group, read from the Spark
  status store (works with the UI disabled).
- ``catalyst_ms``: the Catalyst phase durations of a query's final plan.
- ``materialized``: what the library's ``_cache``/``_ckpt`` registries and
  the block manager hold.
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JJavaError

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # fields after the parenthesised command name: state, ppid, ...
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


class ProcTree:
    """A process and all of its descendants."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st:
                    children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except (OSError, IndexError, ValueError):
                pass
        return total

    def python_cpu_s(self) -> float:
        """User+system CPU of every descendant of the JVM, including the
        children each has reaped (workers that already exited)."""
        ticks = 0
        for pid in self.pids():
            if pid == self.root:
                continue
            st = _stat(pid)
            if st:
                ticks += sum(int(v) for v in st[11:15])
        return ticks / _TICK


class PeakRss(threading.Thread):
    """Samples ``ProcTree.rss_bytes`` every ``interval`` seconds."""

    def __init__(self, tree: ProcTree, interval: float):
        super().__init__(daemon=True)
        self.tree, self.interval = tree, interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


STAGE_FIELDS = ["stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
                "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_disk_bytes", "input_bytes", "straggler_weighted_ms"]


def stage_metrics(spark, group: str) -> dict:
    """Sum the completed stages of every job in ``group``.

    ``straggler_weighted_ms`` is the sum over stages of (run ms x largest
    task / median task), so dividing it by ``run_ms`` gives a run-time
    weighted straggler ratio.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(STAGE_FIELDS, 0)
    out["jobs"] = len(job_ids)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never attempted
            continue
        if st.status().toString() != "COMPLETE":
            continue
        run_ms = st.executorRunTime()
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["run_ms"] += run_ms
        out["cpu_ms"] += st.executorCpuTime() / 1e6
        out["gc_ms"] += st.jvmGcTime()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_disk_bytes"] += st.diskBytesSpilled()
        out["input_bytes"] += st.inputBytes()
        summary = store.taskSummary(sid, st.attemptId(), quantiles)
        if summary.isDefined():
            q = summary.get().executorRunTime()
            med, top = q.apply(0), q.apply(1)
            out["straggler_weighted_ms"] += run_ms * (top / med if med > 0 else 1.0)
    return out


def catalyst_ms(df) -> dict:
    """analysis / optimization / planning ms of ``df``'s final plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() if p.isDefined() else 0
    return out


def materialized(spark) -> dict:
    """Registered library materializations and the bytes the block
    manager holds for persisted RDDs."""
    from glamr_omics_pipelines_spark.operators import _cache, _ckpt
    sc = spark.sparkContext
    nbytes = sum(i.memSize() + i.diskSize()
                 for i in sc._jsc.sc().getRDDStorageInfo())
    return {"count": len(_cache._HANDLES) + len(_ckpt._HANDLES),
            "persistent_rdds": sc._jsc.getPersistentRDDs().size(),
            "bytes": nbytes}
