"""Local correctness harness mimicking the driver's duckdb-oracle compare.

Runs every queries() entry at sf0.01 alongside its oracle_sql() in DuckDB,
compares row count, column names, and order-insensitive values (columns
sorted by name, rows sorted, approx-equal floats at 1e-9 after the 4dp
rounding both sides already do).

Usage: python tools/check.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

# default sf0.01 = the driver's gate; override for one-off
# robustness passes at other scales (r10: sf0.1 full-catalog run)
SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_con():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"columns differ: spark={sorted(spark_df.columns)} "
                        f"duck={sorted(duck_df.columns)}")
        return problems
    if len(spark_df) != len(duck_df):
        problems.append(f"row count differs: spark={len(spark_df)} duck={len(duck_df)}")
    a, b = normalize(spark_df), normalize(duck_df)
    if len(a) == len(b):
        for c in a.columns:
            # Dtype-strict: the driver hashes rendered values, so an int64
            # Spark column vs a float64 oracle column ("4124" vs "4124.0")
            # is a driver hash mismatch even when numerically equal.  Catch
            # it here so local green predicts driver green (VERDICT r4 #2).
            a_int = pd.api.types.is_integer_dtype(a[c])
            b_int = pd.api.types.is_integer_dtype(b[c])
            a_flt = pd.api.types.is_float_dtype(a[c])
            b_flt = pd.api.types.is_float_dtype(b[c])
            if (a_int and b_flt) or (a_flt and b_int):
                problems.append(
                    f"dtype split col {c}: spark={a[c].dtype} vs duck={b[c].dtype} "
                    f"(int-vs-float renders differently in the driver hash; "
                    f"CAST the oracle or the engine column)")
                continue
            if a_flt or b_flt:
                av = pd.to_numeric(a[c], errors="coerce")
                bv = pd.to_numeric(b[c], errors="coerce")
                bad = ~(((av - bv).abs() < 1e-9) | (av.isna() & bv.isna()))
                if bad.any():
                    i = bad.idxmax()
                    problems.append(f"float col {c}: {int(bad.sum())} mismatches, "
                                    f"first at row {i}: {av[i]} vs {bv[i]}")
                    continue
            else:
                bad = ~((a[c] == b[c]) | (a[c].isna() & b[c].isna()))
                if bad.any():
                    i = bad.idxmax()
                    problems.append(f"col {c}: {int(bad.sum())} mismatches, first at "
                                    f"row {i}: {a[c][i]!r} vs {b[c][i]!r}")
                    continue
            # Render-strict pass (VERDICT r5 #2): the driver hashes the
            # RENDERED values, so numerically-equal cells that print
            # differently (-0.0 vs 0.0, 4124 vs 4124.0, 1e-05 vs 0.00001)
            # are driver hash mismatches.  Numeric tolerance above is the
            # diagnostic; exact string equality here is the gate.
            ra, rb = a[c].astype(str), b[c].astype(str)
            bad = ra != rb
            if bad.any():
                i = bad.idxmax()
                problems.append(f"render split col {c}: {int(bad.sum())} cells, "
                                f"first at row {i}: {ra[i]!r} vs {rb[i]!r} "
                                f"(numerically equal but renders differ — the "
                                f"driver hash would fail)")
    return problems


def check_query(name, fn, spark, con, oracles) -> bool | None:
    """Compare one query with its oracle and print its line: True on PASS,
    False on FAIL, None on SKIP (no oracle)."""
    t0 = time.time()
    try:
        sdf = fn(spark, SF_DIR).toPandas()
    except Exception as e:
        print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
        return False
    if name not in oracles:
        print(f"SKIP {name}: no oracle (rows-only), rows={len(sdf)} "
              f"[{time.time()-t0:.1f}s]")
        return None
    try:
        ddf = con.sql(oracles[name]).df()
    except Exception as e:
        print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
        return False
    problems = compare(name, sdf, ddf)
    if problems:
        print(f"FAIL {name} rows={len(sdf)}/{len(ddf)} [{time.time()-t0:.1f}s]")
        for p in problems[:4]:
            print(f"     {p}")
        return False
    print(f"PASS {name} rows={len(sdf)} [{time.time()-t0:.1f}s]")
    return True


def main():
    import __spark_entry__ as entry_mod
    from glamr_omics_pipelines_spark.session import get_spark, release

    spark = get_spark("check")
    con = duck_con()
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(sys.argv[1:])
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            ok = check_query(name, fn, spark, con, oracles)
        finally:
            release(spark)  # every path: a failing query frees its blocks
        n_pass += ok is True
        n_fail += ok is False
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
