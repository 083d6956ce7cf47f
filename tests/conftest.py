from __future__ import annotations

import pytest

from glamr_omics_pipelines_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]",
                  extra_confs={"spark.sql.shuffle.partitions": "4"})
    yield s


# --- slow-test tiering (VERDICT r11 item 1) -------------------------------
# The full suite takes ~58 min — longer than the driver's verify window, so
# a DEFAULT run must finish well under 20 min or a real failure is
# indistinguishable from a timeout. Tests marked @pytest.mark.slow (the
# iterative-graph agreement suites, full-catalog plan sweeps, multi-round
# property tests) are SKIPPED by default; `pytest --runslow` runs the
# whole suite, slow tests included.

def pytest_addoption(parser):
    parser.addoption("--runslow", action="store_true", default=False,
                     help="also run tests marked slow (the whole suite)")


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    skip_slow = pytest.mark.skip(reason="slow: run with --runslow")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)
