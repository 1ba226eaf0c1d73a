from __future__ import annotations

import importlib.util
import os
import sys
import tempfile
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


_DUCKDB_SPILL: list[Path] = []


@pytest.fixture(scope="session", autouse=True)
def _duckdb_spill_root(tmp_path_factory):
    _DUCKDB_SPILL.append(tmp_path_factory.mktemp("duckdb"))


def duck_connect():
    """A DuckDB connection under the suite's bounds: 2 GB of memory, at
    most 4 threads, and spill files in a fresh directory under pytest's
    tmp. An oracle that outgrows the limit fails its own test with
    DuckDB's OutOfMemoryException, instead of the kernel's OOM killer
    taking the Spark JVM (and every later test with it)."""
    import duckdb

    return duckdb.connect(
        config={
            "memory_limit": "2GB",
            "threads": min(4, os.cpu_count() or 1),
            "temp_directory": tempfile.mkdtemp(dir=_DUCKDB_SPILL[-1]),
        }
    )


def png_payload(w, h, c, px, filt=0):
    """A real PNG of ``w x h`` pixels with ``c`` channels, as the
    ``bytearray`` a binary payload column takes."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.imagecodec import (
        encode_png,
    )

    return bytearray(encode_png(w, h, c, bytes(px), filter_type=filt))


@pytest.fixture(scope="session")
def compilations(spark):
    """Count of generated classes Janino has compiled in this JVM so far
    (every miss of Spark's codegen cache compiles one)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return lambda: metrics.METRIC_COMPILATION_TIME().getCount()


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
def corpus():
    """The benchmark's corpus generator and oracle, ``perfbench/corpus.py``,
    loaded read-only from its file (``perfbench`` is not a package)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_corpus", REPO / "perfbench" / "corpus.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return str(TESTDATA / "sf0.001")
