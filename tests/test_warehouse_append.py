"""Warehouse.incremental_append on small local frames: the listing
anti-join across load -> incremental -> no-op for string, integer and
path-escaped keys, the null key, files written on a no-op, and the one
Spark job an append costs."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, StringType, StructField,
                               StructType)

from glamr_omics_pipelines_spark.sources.warehouse import Warehouse


def _frame(spark, key_type, rows):
    schema = StructType([StructField("k", key_type),
                         StructField("v", IntegerType())])
    return spark.createDataFrame(rows, schema)


def _data_files(path):
    return sorted(os.path.join(d, f) for d, _, files in os.walk(path)
                  for f in files if f.endswith(".parquet"))


@pytest.mark.parametrize("key_type,keys", [
    (StringType(), ["s1", "s2", "s3"]),
    (IntegerType(), [7, 42, 1000]),
    # Spark writes these as k=a%3Ab, k=50%25 and k=x%2Fy on disk
    (StringType(), ["a:b", "50%", "x/y"]),
])
def test_append_load_incremental_noop(spark, tmp_path, key_type, keys):
    wh = Warehouse(str(tmp_path / "wh"))
    a, b, c = keys
    assert wh.incremental_append(
        _frame(spark, key_type, [(a, 1), (a, 2), (b, 3)]), "t", "k") == 2
    # a re-delivered key is filtered out, the new one lands with both rows
    assert wh.incremental_append(
        _frame(spark, key_type, [(b, 99), (c, 4), (c, 5)]), "t", "k") == 1
    assert wh.incremental_append(
        _frame(spark, key_type, [(a, 99), (b, 99), (c, 99)]), "t", "k") == 0
    out = wh.read(spark, "t")
    assert out.count() == 5
    assert sorted((r["k"], r["v"]) for r in out.collect()) == sorted(
        [(a, 1), (a, 2), (b, 3), (c, 4), (c, 5)])
    assert out.filter(F.col("v") == 99).count() == 0


def test_append_null_key_is_idempotent(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    df = _frame(spark, StringType(), [("s1", 1), (None, 2)])
    assert wh.incremental_append(df, "t", "k") == 2
    assert wh.incremental_append(df, "t", "k") == 0
    # Spark writes the empty string to the null key's partition too
    assert wh.incremental_append(
        _frame(spark, StringType(), [("", 3)]), "t", "k") == 0
    assert wh.read(spark, "t").count() == 2


def test_append_null_int_key_is_idempotent(spark, tmp_path):
    """The default partition is matched null-safely; casting its name to
    the integer key type would be an ANSI cast error."""
    wh = Warehouse(str(tmp_path / "wh"))
    df = _frame(spark, IntegerType(), [(1, 1), (None, 2)])
    assert wh.incremental_append(df, "t", "k") == 2
    assert wh.incremental_append(
        _frame(spark, IntegerType(), [(None, 3), (1, 4), (2, 5)]), "t", "k") == 1
    assert sorted(r["v"] for r in wh.read(spark, "t").collect()) == [1, 2, 5]


def test_append_noop_writes_no_data_file(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    df = _frame(spark, StringType(), [("s1", 1), ("s2", 2)])
    wh.incremental_append(df, "t", "k")
    before = _data_files(wh.path("t"))
    assert before
    assert wh.incremental_append(df, "t", "k") == 0
    assert _data_files(wh.path("t")) == before


@pytest.mark.parametrize("second", [[("s1", 9)], [("s1", 9), ("s3", 3)]],
                         ids=["noop", "incremental"])
def test_append_runs_one_spark_job(spark, tmp_path, second):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.incremental_append(_frame(spark, StringType(), [("s1", 1), ("s2", 2)]),
                          "t", "k")
    df = _frame(spark, StringType(), second)
    sc = spark.sparkContext
    group = f"append-{tmp_path.name}"
    sc.setJobGroup(group, "second incremental_append")
    try:
        wh.incremental_append(df, "t", "k")
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
