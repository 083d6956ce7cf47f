"""The query registry: each catalog query is declared once, by its
``@query`` decorator, and ``queries()``, ``oracle_sql()`` and bench.py's
tiers are all read from it."""

import hashlib
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import __spark_entry__ as E  # noqa: E402
import bench  # noqa: E402

# sha256 of "\n".join(queries()) -- the correctness gate checks the first 50
# names, so a reorder must be deliberate: re-pin it in that change.
ORDER_SHA256 = (
    "d65dff5f4f29e9ceaa9453e96f240189b7baa47dc5957273e3e55f4ed9f74abe")


def test_catalog_names_unique_and_bound_to_their_function():
    qs = E.queries()
    assert len(qs) == 222
    for name, fn in qs.items():
        assert fn.__name__ == f"q_{name}"
        assert getattr(E, f"q_{name}") is fn


def test_every_query_has_a_nonempty_oracle():
    oracles = E.oracle_sql()
    assert list(oracles) == list(E.queries())
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_bench_tiers():
    qs = E.queries()
    assert {fn.bench for fn in qs.values()} <= {None, "headline", "stable30"}
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 173
    assert len(bench.STABLE30_SET) == 30
    assert bench.STABLE30_SET <= set(bench.HEADLINE)


def test_catalog_order_is_pinned():
    digest = hashlib.sha256("\n".join(E.queries()).encode()).hexdigest()
    assert digest == ORDER_SHA256
