"""StageDAG control plane: topo order, target pruning, the up-to-date rule,
ledger."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from glamr_omics_pipelines_spark.plans.dag import (StageDAG, frame_digest,
                                                   read_ledger)


def build_dag(ledger):
    dag = StageDAG(ledger_path=ledger)
    ran = []

    @dag.stage("scan")
    def scan(spark, ctx):
        ran.append("scan")
        return spark.range(10).withColumnRenamed("id", "n")

    @dag.stage("double", deps=["scan"])
    def double(spark, ctx):
        ran.append("double")
        return ctx["scan"].withColumn("n2", F.col("n") * 2)

    @dag.stage("total", deps=["double"])
    def total(spark, ctx):
        ran.append("total")
        return ctx["double"].agg(F.sum("n2").alias("s"))

    @dag.stage("unrelated")
    def unrelated(spark, ctx):
        ran.append("unrelated")
        return None

    return dag, ran


def test_topo_run_and_ledger(spark, tmp_path):
    ledger = str(tmp_path / "ledger.jsonl")
    dag, ran = build_dag(ledger)
    ctx = dag.run(spark)
    assert ctx["total"].collect()[0].s == 90
    assert ran.index("scan") < ran.index("double") < ran.index("total")
    rows = read_ledger(ledger)
    assert [r["stage"] for r in rows] \
        == ["scan", "double", "total", "unrelated"]
    # no stage declares an output, so none can be up to date
    assert all(r["seconds"] >= 0 and r["up_to_date"] is False for r in rows)
    assert all(len(r["fingerprint"]) == 64 for r in rows)


def test_target_pruning(spark, tmp_path):
    dag, ran = build_dag(str(tmp_path / "l.jsonl"))
    dag.run(spark, targets=["double"])
    assert ran == ["scan", "double"]  # 'total' and 'unrelated' not pulled


def _writer_dag(tmp_path, frame, calls):
    """One stage that writes ``frame`` to parquet; ``calls`` counts runs."""
    out = str(tmp_path / "out")
    dag = StageDAG(ledger_path=str(tmp_path / "l.jsonl"))

    def reuse(spark, ctx):
        return spark.read.parquet(out)

    @dag.stage("a", frames=[frame], output=out, reuse=reuse)
    def a(spark, ctx):
        calls.append(1)
        frame.write.mode("overwrite").parquet(out)
        return spark.read.parquet(out)

    return dag, out


def test_skip_gate(spark, tmp_path):
    """Snakemake's up-to-date rule: an unchanged input skips the stage
    body; a changed frame or a changed output directory runs it again."""
    calls = []
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", None]})
    dag, out = _writer_dag(tmp_path, spark.createDataFrame(pdf), calls)
    dag.run(spark)
    ctx = dag.run(spark)
    assert len(calls) == 1
    assert sorted(r.k for r in ctx["a"].collect()) == [1, 2, 3]
    rows = read_ledger(str(tmp_path / "l.jsonl"))
    assert [r["up_to_date"] for r in rows] == [False, True]
    assert rows[0]["fingerprint"] == rows[1]["fingerprint"]
    assert "seconds" in rows[1]

    pdf.loc[2, "v"] = "z"   # one changed value
    changed, _ = _writer_dag(tmp_path, spark.createDataFrame(pdf), calls)
    changed.run(spark)
    assert len(calls) == 2
    changed.run(spark)
    assert len(calls) == 2

    for f in os.listdir(out):   # the output no longer what the run left
        if f.endswith(".parquet"):
            os.remove(os.path.join(out, f))
            break
    changed.run(spark)
    assert len(calls) == 3


def test_rdd_frame_always_runs(spark, tmp_path):
    """A frame that only a Spark job could read is not fingerprinted: its
    stage runs every time, and deciding that runs no job."""
    calls = []
    frame = spark.createDataFrame([{"k": 1}, {"k": 2}])   # a LogicalRDD
    sc = spark.sparkContext
    sc.setJobGroup("dag-rdd-digest", "frame_digest")
    try:
        assert frame_digest(frame) is None
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("dag-rdd-digest")) == []
    dag, _ = _writer_dag(tmp_path, frame, calls)
    dag.run(spark)
    dag.run(spark)
    assert len(calls) == 2
    assert all(r["fingerprint"] is None
               for r in read_ledger(str(tmp_path / "l.jsonl")))


def test_cycle_detection(spark):
    dag = StageDAG()

    @dag.stage("x", deps=["y"])
    def x(spark, ctx):
        return None

    @dag.stage("y", deps=["x"])
    def y(spark, ctx):
        return None

    with pytest.raises(ValueError, match="cycle"):
        dag.run(spark)
