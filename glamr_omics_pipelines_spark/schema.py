"""Infer-then-pin schema registry (SURVEY §1.2).

Reference semantics: the first load infers column types (readr::as.col_spec,
postgres.Rmd:710,782,856,905), then the Postgres table's declared types become
the fixed contract every later append must satisfy (postgres.Rmd:281-284).

Spark analog: infer once, persist the StructType as JSON next to the
warehouse, enforce (cast-or-fail) on every incremental load. Enforcement is a
cheap projection — no data pass beyond the cast itself.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def _columns(schema: StructType) -> list:
    return [(f.name, f.dataType) for f in schema.fields]


class SchemaRegistry:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.schema.json")

    def has(self, table: str) -> bool:
        return os.path.exists(self._path(table))

    def get(self, table: str) -> StructType:
        with open(self._path(table)) as fh:
            return StructType.fromJson(json.load(fh))

    def pin(self, table: str, schema: StructType) -> None:
        with open(self._path(table), "w") as fh:
            json.dump(schema.jsonValue(), fh, indent=2)

    def conform(self, df: DataFrame, table: str) -> DataFrame:
        """Pin on first sight; afterwards project+cast the frame to the pinned
        contract. Missing columns raise; extra columns are dropped (the
        reference's append would likewise fail on missing cols). A frame
        whose (name, type) list already is the contract passes through as
        it is, with no projection to plan."""
        if not self.has(table):
            self.pin(table, df.schema)
            return df
        target = self.get(table)
        if _columns(df.schema) == _columns(target):
            return df
        have = {f.name for f in df.schema.fields}
        missing = [f.name for f in target.fields if f.name not in have]
        if missing:
            raise ValueError(f"{table}: missing columns {missing}")
        from pyspark.sql import functions as F
        return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                           for f in target.fields])
