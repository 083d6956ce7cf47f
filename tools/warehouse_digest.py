"""Content digest of a warehouse root, for comparing two builds.

Prints one JSON line per table under ROOT (every directory not starting
with ``_``), in name order: the table's schema JSON, its row count and a
sha256 over its rows in ``tools.check.normalize`` form (columns by name,
rows sorted). Every table is read with the schema pinned under
``ROOT/_schemas``: a base table's contract, or the schema a view's last
refresh pinned (a view that has none, written before views pinned their
schema, is read with the schema Spark infers from its files).
Two roots hold the same data exactly when the outputs are byte-identical:

    python tools/warehouse_digest.py /path/to/root_a > a.txt
    python tools/warehouse_digest.py /path/to/root_b > b.txt
    diff a.txt b.txt
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check import normalize  # noqa: E402 - check.py's canonical form


def digest(spark, root: str) -> list[dict]:
    from pyspark.sql.types import StructType
    out = []
    for table in sorted(os.listdir(root)):
        path = os.path.join(root, table)
        if table.startswith("_") or not os.path.isdir(path):
            continue
        reader = spark.read
        pinned = os.path.join(root, "_schemas", f"{table}.schema.json")
        if os.path.exists(pinned):
            with open(pinned) as fh:
                reader = reader.schema(StructType.fromJson(json.load(fh)))
        df = reader.parquet(path)
        rows = normalize(df.toPandas())
        text = rows.to_csv(index=False).encode()
        out.append({"table": table, "schema": df.schema.jsonValue(),
                    "rows": len(rows),
                    "sha256": hashlib.sha256(text).hexdigest()})
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__, file=sys.stderr)
        return 2
    from glamr_omics_pipelines_spark.session import get_spark
    spark = get_spark("warehouse-digest", master="local[2]",
                      extra_confs={"spark.sql.shuffle.partitions": "2",
                                   "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for row in digest(spark, argv[0]):
            print(json.dumps(row, sort_keys=True))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
