"""Degenerate-input hardening under ANSI mode: operators whose denominators
can be exactly 0 (not null) must yield null / drop the row — never raise
SparkArithmeticException, which would kill a whole 100 TB job over one bad
group or vector. Each test here reproduces a case that previously crashed
(or guards one that was fixed in the same sweep)."""

from pyspark.sql import functions as F

from glamr_omics_pipelines_spark.operators import (abundance, dedup,
                                                   sampling, similarity,
                                                   stats)


def test_rel_abund_all_zero_group_yields_null(spark):
    df = spark.createDataFrame(
        [("s1", "t1", 0.0), ("s1", "t2", 0.0),
         ("s2", "t1", 3.0), ("s2", "t2", 1.0)],
        "sample string, taxon string, n double")
    out = {(r["sample"], r["taxon"]): r["rel_abund"]
           for r in abundance.rel_abund(df, "n", ["sample"]).collect()}
    assert out[("s1", "t1")] is None and out[("s1", "t2")] is None
    assert abs(out[("s2", "t1")] - 0.75) < 1e-12


def test_tpm_and_rpkm_degenerate_groups_yield_null(spark):
    df = spark.createDataFrame(
        [("s1", 0.0, 100.0), ("s1", 0.0, 200.0), ("s2", 10.0, 0.0)],
        "sample string, n double, len double")
    t = abundance.tpm(df, "n", "len", ["sample"]).collect()
    assert all(r["tpm"] is None for r in t)  # s1 all-zero; s2 zero-length
    r = abundance.rpkm(df, "n", "len", ["sample"]).collect()
    assert all(x["rpkm"] is None for x in r)


def test_weighted_mean_zero_weights_yields_null(spark):
    df = spark.createDataFrame([(1.0, 0.0), (2.0, 0.0)], "v double, w double")
    got = df.agg(abundance.weighted_mean("v", "w").alias("m")).collect()[0]
    assert got["m"] is None


def test_cosine_sim_zero_vector_yields_null(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [1.0, 0.0]), (2, [1.0, 0.0], [1.0, 0.0])],
        "id int, a array<double>, b array<double>")
    got = {r["id"]: r["c"] for r in
           df.select("id", similarity.cosine_sim("a", "b").alias("c"))
           .collect()}
    assert got[1] is None and abs(got[2] - 1.0) < 1e-12


def test_embedding_dups_zero_vector_pair_dropped_not_crashed(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id int, emb array<double>")
    got = dedup.embedding_cosine_dups(df, "vec_id", "emb",
                                      threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(2, 3)]


def test_gram_matrix_single_embedding_sample_cov_null(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0])],
                               "vec_id int, emb array<double>")
    got = similarity.gram_matrix(df, "emb", centered=True,
                                 sample_covariance=True).collect()
    assert len(got) == 4 and all(r["value"] is None for r in got)


def test_mixture_sample_zero_target_group_dropped(spark):
    df = spark.createDataFrame([("a", i) for i in range(20)]
                               + [("b", i) for i in range(20)],
                               "lang string, doc_id int")
    out = sampling.mixture_sample(df, "lang", "doc_id",
                                  {"a": 1.0, "b": 0.0})
    langs = {r["lang"] for r in out.collect()}
    assert langs == {"a"}  # zero-target group excluded, no divide error


def test_parse_lineage_truncated_path_fills_null(spark):
    # a lineage shorter than the rank ladder must NA-fill the missing ranks
    # (merge_kraken_tax.R separate fill='right'), not raise ANSI OOB
    from glamr_omics_pipelines_spark.operators import taxonomy
    df = spark.createDataFrame([("d__Bacteria;p__Proteo",), ("d__Archaea",)],
                               "lineage string")
    out = taxonomy.parse_lineage(df, "lineage").collect()
    by = {r["lineage"]: r for r in out}
    assert by["d__Archaea"]["kingdom"] == "Archaea"
    assert by["d__Archaea"]["phylum"] is None  # truncated, not a crash
    assert by["d__Bacteria;p__Proteo"]["phylum"] == "Proteo"


def test_load_hmm_tblout_truncated_line_nulls_fields(spark, tmp_path):
    from glamr_omics_pipelines_spark.pipelines import glamr
    p = tmp_path / "hits.tblout"
    p.write_text(
        "# comment\n"
        "16S_bac - read1 - 5 900 12 880 10 890 1500 + 1e-50 250.0 1.1 ok\n"
        "SHORT LINE\n")  # truncated: far fewer whitespace fields
    rows = glamr.load_hmm_tblout(spark, str(p)).collect()
    assert len(rows) == 2
    bad = [r for r in rows if r["target_name"] == "SHORT"][0]
    assert bad["evalue"] is None and bad["score"] is None


def test_load_gene_abundance_malformed_header_nulls_fields(spark, tmp_path):
    from glamr_omics_pipelines_spark.pipelines import glamr
    p = tmp_path / "sampA_genes.rpkm"
    good = ("sampA_c1_1 # 10 # 400 # 1 # ID=1;gc_cont=0.50"
            "\t400\t100\t1.0\t10\t2.0\t5\t3.0")
    bad = "just_a_gene_name\t100\t10\t1.0\t1\t1.0\t1\t1.0"  # no ' # ' blocks
    p.write_text("#File\t_\n#Reads\t_\n#Mapped\t_\n#RefSequences\t_\n"
                 "#Name\tLength\tBases\tCoverage\tReads\tRPKM\tFrags\tFPKM\n"
                 + good + "\n" + bad + "\n")
    rows = glamr.load_gene_abundance(spark, str(p)).collect()
    by = {r["gene"]: r for r in rows}
    assert by["sampA_c1_1"]["left"] == 10
    assert abs(by["sampA_c1_1"]["gc_content"] - 0.5) < 1e-12
    mal = by["just_a_gene_name"]
    assert mal["left"] is None and mal["gc_content"] is None


def test_ks_empty_side_yields_null_not_error(spark):
    # the original crash: every row in one group -> ECDF denominator 0
    df = spark.createDataFrame([("f", "a", float(v)) for v in (1, 2, 3)],
                               "feat string, grp string, val double")
    got = stats.ks_test(df, "feat", "grp", "val", "a", "b").collect()[0]
    assert got["n_b"] == 0 and got["ks_d"] is None


def test_separate_short_row_null_fills(spark):
    from glamr_omics_pipelines_spark.operators import reshape
    df = spark.createDataFrame([("a;b;c",), ("a",)], "v string")
    out = {r["v"]: r for r in
           reshape.separate(df, "v", ["x", "y", "z"], ";").collect()}
    assert out["a;b;c"]["z"] == "c"
    assert out["a"]["x"] == "a" and out["a"]["y"] is None  # no ANSI OOB


def test_retention_ladder_zero_stage_yields_null(spark):
    from glamr_omics_pipelines_spark.operators import windows
    df = spark.createDataFrame(
        [("g", 0, 1000), ("g", 1, 0), ("g", 2, 5)], "k string, st int, n int")
    out = {r["st"]: r["percent_retained"] for r in
           windows.lag_retention_ladder(df, ["k"], "st", "n").collect()}
    assert out[0] is None          # no prior stage
    assert out[1] == 0.0           # 0 of 1000
    assert out[2] is None          # divided by a zero stage: undefined


def test_twap_single_timestamp_key_yields_null(spark):
    import datetime as dt
    from glamr_omics_pipelines_spark.operators import timeseries
    t0 = dt.datetime(2026, 1, 1)
    df = spark.createDataFrame([("k", i, t0, float(i)) for i in range(3)],
                               "key string, eid int, ts timestamp, v double")
    got = timeseries.time_weighted_avg(df, "key", "ts", "v", "eid").collect()
    assert got[0]["twap"] is None and got[0]["span_seconds"] == 0.0


def test_nearest_station_ignores_null_coord_station(spark):
    from glamr_omics_pipelines_spark.operators import joins
    pts = spark.createDataFrame([(1, 10.0, 10.0)], "pid int, lat double, lon double")
    st = spark.createDataFrame([("bad", None, None), ("good", 11.0, 11.0)],
                               "sid string, lat double, lon double")
    got = joins.nearest_station(pts, st, "pid", "sid", "lat", "lon").collect()
    # without the guard the null-distance station sorts FIRST in the
    # struct-min and wins every point
    assert got[0]["station"] == "good" and got[0]["dist_km"] is not None


def test_trend_fit_ignores_incomplete_pairs(spark):
    rows = [("k", 0.0, 0.0), ("k", 1.0, 1.0), ("k", None, 5.0),
            ("k", 7.0, None)]
    df = spark.createDataFrame(rows, "k string, x double, y double")
    got = stats.trend_fit(df, ["k"], "x", "y").collect()[0]
    assert got["n"] == 2                      # complete pairs only
    assert abs(got["slope"] - 1.0) < 1e-12    # not skewed by the null rows
    assert abs(got["intercept"]) < 1e-12


def test_welch_ignores_null_observations(spark):
    rows = [("f", "a", 1.0), ("f", "a", 3.0), ("f", "a", None),
            ("f", "b", 2.0), ("f", "b", 4.0), ("f", "b", None)]
    df = spark.createDataFrame(rows, "feat string, grp string, val double")
    got = stats.welch_t_test(df, "feat", "grp", "val", "a", "b").collect()[0]
    assert got["n_a"] == 2 and got["n_b"] == 2  # null obs not counted
    assert abs(got["t_stat"] - (-0.7071067811865475)) < 1e-9


def test_bray_curtis_disjoint_samples_distance_one(spark):
    from glamr_omics_pipelines_spark.operators import diversity
    df = spark.createDataFrame(
        [("s1", "t1", 5.0), ("s1", "t2", 5.0),
         ("s2", "t3", 4.0), ("s3", "t1", 5.0)],
        "sample string, taxon string, cnt double")
    out = {(r["sample_a"], r["sample_b"]): r["bray_curtis"]
           for r in diversity.bray_curtis_pairs(df, "sample", "taxon",
                                                "cnt").collect()}
    # disjoint pair present with BC exactly 1 (was silently ABSENT before,
    # and pcoa defaulted the missing pair to distance 0)
    assert out[("s1", "s2")] == 1.0
    assert out[("s2", "s3")] == 1.0
    assert abs(out[("s1", "s3")] - (1 - 2 * 5 / 15)) < 1e-12
    assert len(out) == 3  # full pair universe


def test_benford_counts_unobserved_digit_mass(spark):
    from glamr_omics_pipelines_spark.operators import validate
    import math
    # every value starts with digit 5: 8 digits unobserved
    df = spark.createDataFrame([("g", 5.0), ("g", 55.0), ("g", 500.0)],
                               "k string, v double")
    got = validate.benford_deviation(df, ["k"], "v").collect()[0]
    p5 = math.log10(1 + 1 / 5)
    expected_chi2 = 3 * ((1 - p5) ** 2 / p5
                         + sum(math.log10(1 + 1 / d)
                               for d in range(1, 10) if d != 5))
    assert abs(got["benford_chi2"] - round(expected_chi2, 4)) < 1e-9
    # max deviation is the unobserved digit 1's expected share, not |1-p5|?
    # |1 - p5| = 0.903 > p1 = 0.301, so max dev is the observed digit here
    assert abs(got["max_abs_dev"] - round(1 - p5, 4)) < 1e-9


def test_closure_raises_on_depth_overflow(spark):
    import pytest as _pytest
    from glamr_omics_pipelines_spark.operators import taxonomy
    edges = spark.createDataFrame([(i + 1, i) for i in range(6)],
                                  "child int, parent int")
    # depth-6 chain with max_depth=3: must raise, never silently truncate
    with _pytest.raises(ValueError, match="did not converge"):
        taxonomy.closure_from_parent_edges(edges, "child", "parent",
                                           max_depth=3)
    full = taxonomy.closure_from_parent_edges(edges, "child", "parent",
                                              max_depth=10)
    assert full.count() == 7 + sum(range(1, 7))  # self rows + all ancestors


def test_closure_frees_frontier_caches_when_a_level_fails(spark):
    """A level whose job fails (here a row that raises) must not leave the
    frontier persists behind: they are freed on the error path too."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from glamr_omics_pipelines_spark.operators import taxonomy
    spark.catalog.clearCache()
    edges = (spark.createDataFrame([(i + 1, i) for i in range(6)],
                                   "child int, parent int")
             .withColumn("parent", F.when(F.col("child") == 3,
                                          F.raise_error(F.lit("boom")))
                         .otherwise(F.col("parent"))))
    with _pytest.raises(Exception, match="boom"):
        taxonomy.closure_from_parent_edges(edges, "child", "parent")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

def test_embedding_candidates_path_has_no_nested_loop_join(spark):
    from glamr_omics_pipelines_spark.operators import dedup
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id int, emb array<double>")
    cands = spark.createDataFrame([(0, 1), (2, 3)], "id_a int, id_b int")
    out = dedup.embedding_cosine_dups(emb, "vec_id", "emb", threshold=0.0,
                                      candidates=cands)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the candidate list must BE the pair generator (equi joins), not a
    # filter above an O(n^2) nested-loop enumeration
    assert "BroadcastNestedLoopJoin" not in plan
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(0, 1), (2, 3)}
