"""Expectations-suite fixtures: every rule kind + referential orphans."""

import pytest
from pyspark.sql import Row

from glamr_omics_pipelines_spark.operators import validate


def test_each_rule_kind_counts_violations(spark):
    df = spark.createDataFrame(
        [Row(k=1, s="O", x=5.0, code="AB-1"),
         Row(k=1, s="F", x=-2.0, code="zz"),     # dup k, x below range, bad code
         Row(k=2, s="Q", x=50.0, code="CD-2"),   # bad status
         Row(k=None, s=None, x=None, code=None)],  # nulls: only not_null counts
        "k int, s string, x double, code string")
    rep = {r.check: (r.violations, r.passed)
           for r in validate.expectations_report(df, "t", [
               validate.not_null("k"),
               validate.unique("k"),
               validate.accepted("s", ["O", "F"]),
               validate.in_range("x", 0, 10),
               validate.matches("code", r"^[A-Z]{2}-\d$"),
           ]).collect()}
    assert rep["t.k.not_null"] == (1, False)
    assert rep["t.k.unique"] == (1, False)       # one duplicated row
    assert rep["t.s.accepted"] == (1, False)     # 'Q' (null not counted)
    assert rep["t.x.in_range"] == (2, False)     # -2 and 50
    assert rep["t.code.matches"] == (1, False)   # 'zz'


def test_all_green_on_clean_table(spark):
    df = spark.createDataFrame([Row(k=1), Row(k=2)])
    rep = validate.expectations_report(
        df, "t", [validate.not_null("k"), validate.unique("k")]).collect()
    assert all(r.passed and r.violations == 0 for r in rep)


def test_empty_table_reports_zero_not_null(spark):
    df = spark.createDataFrame([], "k int")
    rep = {r.check: r.violations
           for r in validate.expectations_report(
               df, "t", [validate.not_null("k"),
                         validate.unique("k")]).collect()}
    assert rep == {"t.k.not_null": 0, "t.k.unique": 0}


def test_requires_rules(spark):
    df = spark.createDataFrame([Row(k=1)])
    with pytest.raises(ValueError):
        validate.expectations_report(df, "t", [])


def test_referential_orphans_and_null_fk(spark):
    child = spark.createDataFrame(
        [Row(fk=1), Row(fk=2), Row(fk=99), Row(fk=None)],
        "fk int")
    parent = spark.createDataFrame([Row(fk=1), Row(fk=2)])
    rep = validate.referential_report(child, parent, ["fk"], "c->p").collect()
    assert len(rep) == 1
    r = rep[0]
    # 99 is an orphan; the NULL fk is NOT (SQL FK semantics)
    assert (r.check, r.violations, r.passed) == ("c->p", 1, False)


@pytest.mark.slow
def test_referential_shuffle_path_matches_broadcast(spark):
    """Spark's join planning picks the anti join's form; with both
    broadcast thresholds off the parent shuffles instead, and the count
    is the same."""
    child = spark.createDataFrame([Row(fk=i % 5) for i in range(50)])
    parent = spark.createDataFrame([Row(fk=i) for i in range(3)])

    def run():
        out = validate.referential_report(child, parent, ["fk"], "x")
        r = out.collect()[0]
        return r, out._jdf.queryExecution().executedPlan().toString()
    a, plan_a = run()
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        b, plan_b = run()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "BroadcastHashJoin" in plan_a
    assert "BroadcastHashJoin" not in plan_b
    assert a.violations == b.violations == 20  # fk 3 and 4, 10 rows each
