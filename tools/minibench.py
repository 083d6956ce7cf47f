"""Cold-protocol min-of-3 timings for a named subset of declared queries —
bench.py's exact per-query protocol without the 173-query run. Usage:

    python tools/minibench.py q1 q2 ...
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from glamr_omics_pipelines_spark.session import get_spark, release
import __spark_entry__ as E

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("MINIBENCH_RUNS", "3"))

spark = get_spark("minibench")
spark.sparkContext.setLogLevel("ERROR")
spark.read.parquet(os.path.join(SF, "region.parquet")).count()
qs = E.queries()

for name in sys.argv[1:]:
    fn = qs[name]
    runs = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        try:
            fn(spark, SF).collect()
            runs.append(time.perf_counter() - t0)
        finally:
            release(spark)
    print(f"QUERY {name} {round(min(runs), 3)}  runs={[round(r, 2) for r in runs]}")
spark.stop()
