"""Session defaults that are sized from the machine or the workload."""

from __future__ import annotations

import pytest

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)
from retail_data_pipeline_and_forecasting_system_spark.session import (
    default_driver_memory,
)

GIB_KIB = 1024 * 1024


@pytest.mark.parametrize(
    "mem_total_kib, heap",
    [
        (15 * GIB_KIB, "7680m"),  # a 15 GiB box: half, not the old 16g
        (4 * GIB_KIB, "2048m"),
        (32 * GIB_KIB, "16384m"),  # exactly at the cap
        (256 * GIB_KIB, "16384m"),  # capped
        (16_314_880, "7966m"),  # a MemTotal as /proc/meminfo prints it
    ],
)
def test_default_driver_memory_is_half_of_ram_capped_at_16g(mem_total_kib, heap):
    assert default_driver_memory(mem_total_kib) == heap


def test_session_pins_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"


def test_repeated_bench_queries_compile_no_new_classes(spark, compilations, sf_dir):
    """The 17 bench registry queries, run twice in one JVM: the second
    round finds its generated classes in Spark's codegen cache. A cache
    smaller than the round's working set (about 230 classes) recompiles
    all of them.

    The one allowance: AQE can re-plan one d3_minhash_lsh stage (a
    broadcast join under a hash aggregate) in another shape, depending on
    which of its query stages finishes first; a shape the JVM has not
    seen yet compiles once (2 classes)."""
    names = [n for n, q in QUERIES.items() if q.bench]
    assert len(names) == 17
    compiled = []
    for _ in range(2):
        before = compilations()
        for name in names:
            QUERIES[name].fn(spark, sf_dir).collect()
        compiled.append(compilations() - before)
    assert compiled[1] <= 2, compiled
