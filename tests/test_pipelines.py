"""End-to-end domain-pipeline tests over the FIXTURES.md micro-fixtures,
asserting the reference's own invariants (SURVEY §5; FIXTURES.md
cross-cutting list)."""

import pytest
from pyspark.sql import functions as F

from glamr_omics_pipelines_spark import fixtures
from glamr_omics_pipelines_spark.operators import abundance
from glamr_omics_pipelines_spark.pipelines import glamr


@pytest.fixture(scope="module")
def tax(spark):
    return spark.createDataFrame(fixtures.make_taxonomy())


@pytest.fixture(scope="module")
def contigs():
    return fixtures.make_contigs()


def test_merge_bracken_end_to_end(spark, tax, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bracken"))
    rows = fixtures.make_bracken_counts(fixtures.make_taxonomy())
    glob = fixtures.write_bracken_tree(root, rows)
    long, counts_wide, relabund_wide = glamr.merge_bracken(
        spark, glob, tax, samples=fixtures.SAMPLES)
    # rel_abund sums to 1 per (sample, database) over species rows
    sums = (long.groupBy("sample", "database")
            .agg(F.sum("rel_abund").alias("s")).collect())
    assert sums and all(abs(r.s - 1.0) < 1e-9 for r in sums)
    # P2: no refseq species row carries a GTDB domain lineage
    bad = long.filter((F.col("database") == "refseq")
                      & F.col("std_lineage").rlike("^[kd]__(Archaea|Bacteria)"))
    assert bad.count() == 0
    # wide matrices: one row per (tax, database) seen, one col per sample
    assert set(fixtures.SAMPLES) <= set(counts_wide.columns)
    assert counts_wide.count() == relabund_wide.count()
    # path-derived columns really came from the file path
    assert set(r.sample for r in long.select("sample").distinct().collect()) \
        == set(fixtures.SAMPLES)


def test_bracken_subtree_invariant_vs_closure(spark, tax):
    """count_w_subtax in the fixture == closure-join rollup of count_direct
    (the bracken rollup oracle, FIXTURES.md §3)."""
    rows = fixtures.make_bracken_counts(fixtures.make_taxonomy())
    bracken = spark.createDataFrame(rows)
    ca = (bracken.filter((F.col("database") == "gtdb")
                         & (F.col("rank") == "S"))
          .select("sample", "tax_id", F.col("count_direct").cast("double")
                  .alias("tpm")))
    rolled = glamr.tax_subtree_rollup(ca, tax)
    expect = (bracken.filter(F.col("database") == "gtdb")
              .select("sample", F.col("tax_id").cast("long").alias("node"),
                      F.col("count_w_subtax").cast("double").alias("want")))
    joined = rolled.join(expect, ["sample", "node"], "inner")
    mismatches = joined.filter(
        F.abs(F.col("abund_w_subtax") - F.col("want")) > 1e-6).count()
    assert mismatches == 0
    # reference invariant: subtree >= direct, and not all equal
    assert joined.filter(F.col("abund_w_subtax")
                         < F.col("abund_direct") - 1e-9).count() == 0
    assert joined.filter(F.col("abund_w_subtax")
                         > F.col("abund_direct") + 1e-9).count() > 0


def test_tpm_chain_sums_to_1e6(spark):
    mapping, lookup, index = fixtures.make_uniref_mapping(
        fixtures.make_taxonomy())
    out = glamr.tpm_chain(spark.createDataFrame(mapping),
                          spark.createDataFrame(lookup),
                          spark.createDataFrame(index))
    sums = out.groupBy("sample").agg(F.sum("tpm").alias("s")).collect()
    assert sums and all(abs(r.s - 1e6) < 1e-3 for r in sums)
    # length joined through the chain is the corrected (-2) one
    row = out.limit(1).collect()[0]
    assert row.target_len >= 90


def test_tpm_chain_equals_tpm_then_rpkm(spark):
    """The one-aggregate form gives exactly the values of abundance.tpm
    followed by abundance.rpkm. Sample z has only zero counts and target
    T0 has zero length (stored length 2): both give null tpm and rpkm.
    Rates are dyadic, so sum(tpm) is exactly 1e6 in any summation order."""
    mapping = spark.createDataFrame(
        [("a", "T0", 3), ("a", "T1", 2), ("a", "T2", 1), ("a", "T3", 2),
         ("b", "T1", 4), ("b", "T2", 12), ("z", "T1", 0), ("z", "T2", 0)],
        ["sample", "target", "num_seqs_aligned"])
    lookup = spark.createDataFrame(
        [(i, f"T{i}") for i in range(4)], ["id", "uniref100"])
    index = spark.createDataFrame(
        [(0, 2), (1, 6), (2, 6), (3, 10)], ["id", "length"])
    out = glamr.tpm_chain(mapping, lookup, index)
    dim = (lookup.join(index, "id")
           .select(F.col("uniref100").alias("target"),
                   (F.col("length") - 2).alias("target_len")))
    ref = abundance.rpkm(
        abundance.tpm(mapping.join(dim, "target"), "num_seqs_aligned",
                      "target_len", ["sample"]),
        "num_seqs_aligned", "target_len", ["sample"])
    assert out.columns == ref.columns
    got = {(r.sample, r.target): (r.tpm, r.rpkm) for r in out.collect()}
    want = {(r.sample, r.target): (r.tpm, r.rpkm) for r in ref.collect()}
    assert got == want and len(got) == 8
    assert got[("a", "T0")] == (None, None)
    assert got[("z", "T1")] == got[("z", "T2")] == (None, None)
    assert got[("a", "T1")][0] == 5e5
    sums = {r.sample: r.s for r in
            out.groupBy("sample").agg(F.sum("tpm").alias("s")).collect()}
    assert sums == {"a": 1e6, "b": 1e6, "z": None}


def test_bin_summary_view(spark, contigs):
    checkm, gtdb, drep, _ = fixtures.make_bins(contigs)
    out = glamr.bin_summary(spark.createDataFrame(checkm),
                            spark.createDataFrame(gtdb),
                            spark.createDataFrame(drep))
    rows = out.collect()
    assert len(rows) == len(checkm)
    by_bin = {r.bin: r for r in rows}
    b = by_bin["samp_T1_metabat2_2"]
    assert b.sample == "samp_T1" and b.binner == "metabat2" and b.bin_number == 2
    assert b.classification.startswith("d__Bacteria")
    assert all(r.quality_band in ("High", "Medium", "Low") for r in rows)


def test_kofam_anvio_at_most_one_ko_per_gene(spark, contigs):
    kofam = spark.createDataFrame(fixtures.make_kofam(contigs))
    out = glamr.kofam_anvio(kofam)
    per_gene = out.groupBy("gene").count().filter(F.col("count") > 1)
    assert per_gene.count() == 0  # unique index invariant (postgres.Rmd:1536)
    # every surviving hit passed the relaxed threshold
    assert out.filter(F.col("score") <= 0.5 * F.col("thrshld")).count() == 0


def test_read_ladder_monotone(spark):
    rc = spark.createDataFrame(fixtures.make_read_counts())
    out = glamr.read_ladder(rc)
    assert out.count() == len(fixtures.SAMPLES) * 4 * 2
    # percent_retained in (0, 100]; null only for the first stage
    pr = out.filter(F.col("state_order") > 0)
    assert pr.filter(F.col("percent_retained").isNull()).count() == 0
    assert pr.filter((F.col("percent_retained") <= 0)
                     | (F.col("percent_retained") > 100)).count() == 0


def test_load_gene_abundance_prodigal_parse(spark, contigs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("rpkm"))
    glob = fixtures.make_gene_rpkm_files(root, contigs)
    out = glamr.load_gene_abundance(spark, glob)
    rows = out.collect()
    assert rows
    r = rows[0]
    assert r.gene.startswith(r.contig + "_")
    assert r.right > r.left and r.strand in (1, -1)
    assert 0.0 < r.gc_content < 1.0
    sums = out.groupBy("sample").agg(F.sum("tpm").alias("s")).collect()
    assert all(abs(x.s - 1e6) < 1e-3 for x in sums)


def test_benchmark_ledger_newest_backfill_node_overwrite(spark):
    """pypelib/post.py:763-935 parity core: retry rows dedup to the newest
    per (rule, sample); slurm-only blank rows are back-filled from sacct
    (elapsed/cpu/max_rss MB at 1/100, end timestamp); sacct's node
    OVERWRITES the local default, absent slurm ids keep 'localhost'."""
    bm = spark.createDataFrame(
        [("benchmarks/assembly/s1.txt", 100, 901, 5.0, 4.0, 10.0),
         ("benchmarks/assembly/s1.txt", 200, 901, 6.0, 4.5, 11.0),  # retry
         ("benchmarks/mapping/s2.txt", 150, None, 2.0, 1.5, 3.0)],
        "path string, timestamp long, slurm_job long, s double, "
        "cpu_time double, max_rss double")
    slurm_only = spark.createDataFrame(
        [("binning", "s3", 903)], "rule string, sample string, slurm_job long")
    sacct = spark.createDataFrame(
        [(901, "nodeA", 99.0, 198.0, 3 * 1048576, 500),
         (903, "nodeB", 42.0, 84.0, 5 * 1048576 + 524288, 600)],
        "job_id long, node string, elapsed_s double, total_cpu_s double, "
        "mem_bytes long, end_ts long")
    out = {(r.rule, r.sample): r for r in
           glamr.benchmark_ledger(bm, slurm_only, sacct).collect()}
    assert len(out) == 3
    a = out[("assembly", "s1")]
    # newest retry won; bm metrics kept (not back-filled); node overwritten
    assert (a.timestamp, a.s, a.cpu_time, a.max_rss) == (200, 6.0, 4.5, 11.0)
    assert a.node == "nodeA"
    m = out[("mapping", "s2")]
    assert m.node == "localhost" and m.s == 2.0 and m.slurm_job is None
    b = out[("binning", "s3")]
    assert (b.s, b.cpu_time, b.max_rss) == (42.0, 84.0, 5.5)
    assert b.node == "nodeB" and b.timestamp == 600


def test_checkout_delta_statuses_and_versioning(spark):
    """update_omics_checkout parity (pypelib/post.py:235-374): status
    classification precedence, as-of version stamping for NEW rows only,
    and the declarative regression report (the reference raises)."""
    from pyspark.sql import functions as F
    from glamr_omics_pipelines_spark.pipelines.glamr import checkout_delta
    inv = spark.createDataFrame(
        [("data/a.txt", "r1", 1500),    # new, no ledger row
         ("data/b.txt", "r1", 2000),    # no_change (ledger equal)
         ("data/c.txt", "r2", 3000),    # updated (ledger older) -> new
         ("data/d.txt", "r2", 1000),    # regression (ledger newer)
         ("scratch/e.txt", "r3", 9999),  # ignored (outside data root)
         ("data/f.txt", "r3", None),    # missing (stat failed)
         ("data/g.txt", "r3", 50)],     # new, predates every commit
        "path string, rule string, mtime long")
    ledger = spark.createDataFrame(
        [("data/b.txt", 2000), ("data/c.txt", 2500), ("data/d.txt", 1500)],
        "relpath string, old_mtime long")
    commits = spark.createDataFrame(
        [(1000, "v1"), (2000, "v2"), (3000, "v3")],
        "commit_ts long, version string")
    out = {r.relpath: r for r in
           checkout_delta(inv, ledger, commits).collect()}
    assert out["data/a.txt"].status == "new"
    assert out["data/a.txt"].version == "v1"      # as-of 1500 -> commit 1000
    assert out["data/b.txt"].status == "no_change"
    assert out["data/b.txt"].version is None
    assert out["data/c.txt"].status == "new"
    assert out["data/c.txt"].version == "v3"      # exact-ts commit matches
    assert out["data/d.txt"].status == "regression"
    assert out["scratch/e.txt"].status == "ignored"
    assert out["data/f.txt"].status == "missing"
    assert out["data/g.txt"].status == "new"
    assert out["data/g.txt"].version is None      # before every commit
    # stats = one groupBy, like the reference's returned dict
    stats = {r.status: r["count"] for r in
             checkout_delta(inv, ledger, commits)
             .groupBy("status").count().collect()}
    assert stats == {"new": 3, "no_change": 1, "regression": 1,
                     "ignored": 1, "missing": 1}
    # empty commit timeline: everything new stays unversioned
    empty = commits.filter(F.lit(False))
    out2 = {r.relpath: r.version for r in
            checkout_delta(inv, ledger, empty).collect()}
    assert all(v is None for v in out2.values())


def test_versions_ledger_current_reference_semantics(spark):
    """pypelib/post.py:523-747 parity (VERDICT r8 missing #4): rule
    ownership is latest-assignment-wins (the reference's 'one env per
    rule' invariant — implemented as documented intent; its
    difference_update-of-sets subtract is a no-op bug), packages are the
    latest snapshot, churn counts snapshot changes, an env with packages
    but zero remaining rules stays as an n_current_rules=0 row, and an
    env with rules but no package snapshot is dropped (the reference's
    get_current -> None)."""
    from glamr_omics_pipelines_spark.pipelines.glamr import (
        versions_ledger_current)
    rules = spark.createDataFrame(
        [("v001", "envA", "map"), ("v001", "envA", "bin"),
         ("v002", "envB", "map"),           # map migrates A -> B
         ("v001", "envC", "qc"),
         ("v002", "envA", "qc"),            # qc migrates C -> A
         ("v001", "envD", "orphan")],       # envD never has packages
        "pl_version string, env_name string, rule string")
    pkgs = spark.createDataFrame(
        [("v001", "envA", "bwa", "1.0"), ("v001", "envA", "samtools", "2.0"),
         ("v002", "envA", "bwa", "1.1"), ("v002", "envA", "samtools", "2.0"),
         ("v003", "envA", "bwa", "1.1"), ("v003", "envA", "samtools", "2.0"),
         ("v001", "envB", "spades", "3.0"),
         ("v001", "envC", "fastqc", "0.12"), ("v002", "envC", "fastqc", "0.12")],
        "pl_version string, env_name string, package string, "
        "pkg_version string")
    got = {r.env_name: r for r in
           versions_ledger_current(rules, pkgs).collect()}
    assert sorted(got) == ["envA", "envB", "envC"]   # envD dropped
    a = got["envA"]
    assert (a.latest_version, a.n_packages, a.pkg_changes) == ("v003", 2, 1)
    assert a.current_rules == "bin,qc" and a.n_current_rules == 2
    b = got["envB"]
    assert b.current_rules == "map" and b.latest_version == "v001"
    c = got["envC"]   # qc reassigned away: reported at zero, not dropped
    assert (c.n_current_rules, c.current_rules, c.pkg_changes) == (0, "", 0)
