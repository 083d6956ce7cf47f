"""CLI surface (SURVEY §3.2 docopt analog): each subcommand drives its
pipeline end-to-end in-process."""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

from glamr_omics_pipelines_spark.cli import main  # noqa: E402


def test_fixtures_and_warehouse_demo(spark, tmp_path, capsys):
    assert main(["fixtures", str(tmp_path / "fx")]) == 0
    globs = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "bracken" in globs["bracken_glob"]
    assert main(["warehouse-build", "--root", str(tmp_path / "wh"),
                 "--demo", str(tmp_path / "demo")]) == 0
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts["bracken"] > 0 and counts["tpm"] > 0


def test_warehouse_demo_rerun_is_up_to_date(spark, tmp_path):
    """A second ``--demo`` build into the same root reruns no stage: the
    demo frames are pandas-built LocalRelations, which the DAG
    fingerprints, and the demo input files keep their mtimes."""
    from glamr_omics_pipelines_spark.plans.dag import read_ledger
    argv = ["warehouse-build", "--root", str(tmp_path / "wh"),
            "--demo", str(tmp_path / "demo")]
    assert main(argv) == 0
    n_first = len(read_ledger(str(tmp_path / "wh" / "_run_ledger.jsonl")))
    assert main(argv) == 0
    rows = read_ledger(str(tmp_path / "wh" / "_run_ledger.jsonl"))
    second = rows[n_first:]
    assert len(second) == n_first == 7
    assert all(r["up_to_date"] for r in second), second


def test_query_and_list(spark, tmp_path, capsys):
    assert main(["list-queries", "--entry", "/root/repo/__spark_entry__.py"]) == 0
    names = dict(line.split("\t") for line in
                 capsys.readouterr().out.strip().splitlines())
    assert names.get("pricing_summary") == "oracle"
    out = tmp_path / "res"
    assert main(["query", "pricing_summary",
                 "--sf-dir", "/root/testdata/sf0.001",
                 "--entry", "/root/repo/__spark_entry__.py",
                 "--out", str(out)]) == 0
    assert spark.read.parquet(str(out)).count() == 6


def test_merge_bracken_cli(spark, tmp_path, capsys):
    from glamr_omics_pipelines_spark import fixtures
    rows = fixtures.make_bracken_counts(fixtures.make_taxonomy())
    glob = fixtures.write_bracken_tree(str(tmp_path / "br"), rows)
    tax = str(tmp_path / "tax.parquet")
    spark.createDataFrame(fixtures.make_taxonomy()).write.parquet(tax)
    out = tmp_path / "out"
    assert main(["merge-bracken", "--glob", glob, "--tax", tax,
                 "--out", str(out)]) == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["rows"] > 0
    assert (out / "counts.tsv").exists() and (out / "rel_abund.tsv").exists()


def test_profile_cli(spark, capsys):
    assert main(["profile", "/root/testdata/sf0.001/region.parquet",
                 "--columns", "r_regionkey,r_name"]) == 0
    out = capsys.readouterr().out
    assert "r_regionkey" in out and "n_distinct" in out


def test_profile_cli_unknown_column(spark):
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["profile", "/root/testdata/sf0.001/region.parquet",
              "--columns", "nope"])


def test_validate_cli_pass_and_fail(spark, tmp_path, capsys):
    assert main(["validate", "/root/testdata/sf0.001/orders.parquet",
                 "--rule", "not_null:o_custkey",
                 "--rule", "unique:o_orderkey",
                 "--rule", "accepted:o_orderstatus:O|F|P"]) == 0
    out = capsys.readouterr().out
    assert out.count("PASS") == 3 and "FAIL" not in out
    # a failing rule flips the exit code (cron-gate semantics)
    bad = str(tmp_path / "bad.parquet")
    spark.createDataFrame([(1,), (1,)], ["k"]).write.parquet(bad)
    assert main(["validate", bad, "--rule", "unique:k"]) == 1
    assert "FAIL" in capsys.readouterr().out


def test_validate_cli_rejects_unknown_rule(spark):
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        main(["validate", "/root/testdata/sf0.001/orders.parquet",
              "--rule", "bogus:o_custkey"])


def test_query_releases_materializations(spark, tmp_path, monkeypatch):
    """`query` frees every localCheckpoint and persist handle it made, on
    success and when the query raises (here: its --out lies under a file)."""
    import os

    import pytest as _pytest

    from glamr_omics_pipelines_spark.operators import _cache, _ckpt
    made = []
    checkpoint = _ckpt.checkpoint
    monkeypatch.setattr(_ckpt, "checkpoint",
                        lambda df: made.append(1) or checkpoint(df))
    entry = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "__spark_entry__.py")
    argv = ["query", "dup_clusters", "--entry", entry, "--out"]
    assert main(argv + [str(tmp_path / "ok")]) == 0
    assert made and _ckpt._HANDLES == [] and _cache._HANDLES == []
    made.clear()
    blocker = tmp_path / "blocker"
    blocker.write_text("")
    with _pytest.raises(Exception):
        main(argv + [str(blocker / "out")])
    assert made and _ckpt._HANDLES == [] and _cache._HANDLES == []
