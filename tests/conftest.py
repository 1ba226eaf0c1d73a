from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from retail_data_pipeline_and_forecasting_system_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    # r15: right-size the TEST session. The suite is ~1090 tests over
    # row-count fixtures where every Spark job is pure fixed overhead —
    # at local[32] each tiny stage schedules 32 tasks and the suite
    # blew the driver's time budget (VERIFY_r14: tests_ok=false,
    # truncated ~62% with zero failures). Measured on the two slowest
    # files: local[32]/8 -> local[4]/4 is 222 s -> 77 s and
    # 179 s -> 164 s with identical results — ~2.5x suite-wide. Scale
    # semantics are unaffected: plan-shape tests derive their expected
    # constants from the session, and scale behavior is pinned by the
    # driver's bench/correctness runs, not the unit fixture.
    spark = get_session(
        "tests", master="local[4]", shuffle_partitions=4
    )
    yield spark


REFERENCE_DATA = Path("/root/reference/data")
TESTDATA = Path("/root/testdata")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "reference_data: reads the reference's dataset_15 or its golden "
        "CSVs under REFERENCE_DATA; skipped when that directory is missing",
    )


def pytest_collection_modifyitems(config, items):
    if REFERENCE_DATA.is_dir():
        return
    skip = pytest.mark.skip(
        reason=f"{REFERENCE_DATA} is missing; tests/test_retail_corpus.py "
        "covers the same pipeline on a generated corpus"
    )
    for item in items:
        if item.get_closest_marker("reference_data"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return str(TESTDATA / "sf0.001")
