"""Warehouse.incremental_append on small local frames: the listing
anti-join across load -> incremental -> no-op for string, integer and
path-escaped keys, the null key, files written on a no-op, the one
Spark job an append costs, the rows each write logs, and the schema-given
read that keeps the key's type and runs no job; and the unpartitioned
dimension's key-column anti-join, its loaded keys and its refusal of an
old partitioned layout."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from glamr_omics_pipelines_spark.sources.warehouse import Warehouse


def _schema(key_type):
    return StructType([StructField("k", key_type),
                       StructField("v", IntegerType())])


def _frame(spark, key_type, rows):
    return spark.createDataFrame(rows, _schema(key_type))


def _data_files(path):
    return sorted(os.path.join(d, f) for d, _, files in os.walk(path)
                  for f in files if f.endswith(".parquet"))


def _jobs(spark, name, fn):
    """Run ``fn`` under its own job group; return its Spark job count."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(name))


def _ledger(wh):
    with open(wh.ledger_path) as fh:
        return [json.loads(line) for line in fh]


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
    out = wh.read(spark, "t", _schema(key_type))
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
    assert wh.read(spark, "t", df.schema).count() == 2


def test_append_null_int_key_is_idempotent(spark, tmp_path):
    """The default partition is matched null-safely; casting its name to
    the integer key type would be an ANSI cast error."""
    wh = Warehouse(str(tmp_path / "wh"))
    df = _frame(spark, IntegerType(), [(1, 1), (None, 2)])
    assert wh.incremental_append(df, "t", "k") == 2
    assert wh.incremental_append(
        _frame(spark, IntegerType(), [(None, 3), (1, 4), (2, 5)]), "t", "k") == 1
    assert sorted(r["v"] for r in wh.read(spark, "t", df.schema).collect()) \
        == [1, 2, 5]


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
    group = f"append-{tmp_path.name}"
    assert _jobs(spark, group,
                 lambda: wh.incremental_append(df, "t", "k")) == 1
    # the same job counted the rows it wrote (s1 is filtered out)
    assert _ledger(wh)[-1]["rows"] == len(second) - 1


def test_string_key_round_trips_as_string(spark, tmp_path):
    """Inferred from the directory names, ``k=007`` would read back as the
    int 7; the given schema keeps the key a string."""
    wh = Warehouse(str(tmp_path / "wh"))
    df = _frame(spark, StringType(), [("007", 1), ("010", 2)])
    wh.incremental_append(df, "t", "k")
    out = wh.read(spark, "t", df.schema)
    assert out.schema["k"].dataType == StringType()
    assert sorted(r["k"] for r in out.collect()) == ["007", "010"]


def test_schema_read_runs_no_spark_job(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    df = _frame(spark, StringType(), [("s1", 1), ("s2", 2), ("s3", 3)])
    wh.incremental_append(df, "t", "k")
    group = f"read-{tmp_path.name}"
    assert _jobs(spark, group, lambda: wh.read(spark, "t", df.schema)
                 .schema) == 0


def test_ledger_rows_are_rows_written(spark, tmp_path):
    """Each write's observed row count lands in the ledger as ``rows``:
    N on a load, 0 on a no-op rerun, the new rows on an incremental
    load and every row on a view refresh."""
    wh = Warehouse(str(tmp_path / "wh"))
    first = _frame(spark, StringType(), [("s1", 1), ("s1", 2), ("s2", 3)])
    wh.incremental_append(first, "t", "k")
    wh.incremental_append(first, "t", "k")
    wh.incremental_append(
        _frame(spark, StringType(), [("s2", 9), ("s3", 4), ("s3", 5)]),
        "t", "k")
    wh.save_view(wh.read(spark, "t", first.schema), "v")
    assert [r["rows"] for r in _ledger(wh)] == [3, 0, 2, 5]
    assert [r.get("new_keys") for r in _ledger(wh)] == [2, 0, 1, None]


def _dim(spark, rows):
    return spark.createDataFrame(rows, StructType([
        StructField("tax_id", LongType()), StructField("name", StringType())]))


def test_dimension_append_loads_only_new_keys(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    assert wh.incremental_append(
        _dim(spark, [(1, "a"), (2, "b"), (3, "c")]), "tax", "tax_id",
        partitioned=False) == 3
    assert wh.incremental_append(
        _dim(spark, [(3, "c2"), (4, "d")]), "tax", "tax_id",
        partitioned=False) == 1
    assert [(r["new_keys"], r["rows"]) for r in _ledger(wh)] \
        == [(3, 3), (1, 1)]
    assert wh.loaded_keys("tax", "tax_id") == {1, 2, 3, 4}
    assert not [d for d in os.listdir(wh.path("tax")) if "=" in d]
    out = wh.read(spark, "tax", _dim(spark, []).schema)
    assert sorted(tuple(r) for r in out.collect()) \
        == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_dimension_null_key_loads_once(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    df = _dim(spark, [(None, "root"), (1, "a")])
    assert wh.incremental_append(df, "tax", "tax_id", partitioned=False) == 2
    assert wh.incremental_append(df, "tax", "tax_id", partitioned=False) == 0
    assert wh.loaded_keys("tax", "tax_id") == {None, 1}
    assert wh.read(spark, "tax", df.schema).count() == 2


def test_dimension_noop_append_adds_no_data_file(spark, tmp_path):
    """Spark writes an empty part file for an empty unpartitioned append;
    the append removes it, so the table's listing does not change."""
    wh = Warehouse(str(tmp_path / "wh"))
    df = _dim(spark, [(1, "a"), (2, "b")])
    wh.incremental_append(df, "tax", "tax_id", partitioned=False)
    before = sorted(os.listdir(wh.path("tax")))
    assert _data_files(wh.path("tax"))
    assert wh.incremental_append(df, "tax", "tax_id", partitioned=False) == 0
    assert _ledger(wh)[-1]["rows"] == 0
    assert sorted(f for f in os.listdir(wh.path("tax"))
                  if not f.startswith(("_", "._"))) \
        == [f for f in before if not f.startswith(("_", "._"))]


def test_dimension_refuses_old_partitioned_layout(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    df = _dim(spark, [(1, "a"), (2, "b")])
    wh.incremental_append(df, "tax", "tax_id")   # partitioned by tax_id
    with pytest.raises(ValueError, match="tax_id= partition directories"):
        wh.incremental_append(_dim(spark, [(3, "c")]), "tax", "tax_id",
                              partitioned=False)
    assert wh.loaded_keys("tax", "tax_id") == {"1", "2"}
