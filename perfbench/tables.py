"""The query tiers the benchmark runs on.

``testdata/sf0.01/`` holds the repository's deterministic test data at
scale factor 0.01 (seed 42, see TESTDATA.md), the tier ``tools/check.py``
gates correctness on, copied byte for byte; ``SHA256SUMS`` there lists its
files. ``replicate`` builds a K-times tier from it the way
``tools/scale_check.py`` does, with its table lists and key offsets:
dimension tables stay fixed, and each fact replica offsets its keys (and
``user_id``, so per-user event density stays constant).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from tools.scale_check import DIMS, FACTS

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "testdata", "sf0.01")
TABLES = DIMS + list(FACTS)


def replicate(src_dir: str, dst_dir: str, k: int) -> None:
    """Write a K-times tier of ``src_dir``: dimensions copied as they are,
    each fact replica with its keys offset."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        if name in FACTS:
            parts = []
            for i in range(k):
                p = t
                for col, off in FACTS[name]:
                    j = p.schema.get_field_index(col)
                    p = p.set_column(j, col, pa.array(
                        p.column(col).to_numpy() + i * off, p.schema.field(col).type))
                parts.append(p)
            t = pa.concat_tables(parts)
        pq.write_table(t, os.path.join(dst_dir, f"{name}.parquet"))
