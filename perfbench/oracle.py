"""DuckDB oracle answers, and the result check of ``tools/check.py``."""

from __future__ import annotations

import os
import pickle
import sys

import pandas as pd

from perfbench.tables import TABLES

_path = list(sys.path)
from tools import check  # noqa: E402
sys.path[:] = _path  # check.py prepends its own checkout; keep ours first


def compute(tier_dir: str, sqls: dict[str, str], out_dir: str,
            threads: int) -> None:
    """Run each oracle query on ``tier_dir`` and pickle its answer."""
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        con.execute("SET memory_limit = '2GB'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(tier_dir, t)}.parquet'")
        for name, sql in sqls.items():
            df = con.sql(sql).df()
            with open(os.path.join(out_dir, f"{name}.pkl"), "wb") as f:
                pickle.dump(df, f)
    finally:
        con.close()


def load(out_dir: str, name: str) -> pd.DataFrame:
    with open(os.path.join(out_dir, f"{name}.pkl"), "rb") as f:
        return pickle.load(f)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want``, else the first problem found."""
    problems = check.compare(name, got, want)
    return problems[0] if problems else None
