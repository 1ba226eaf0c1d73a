"""SparkSession factory with scale-aware defaults.

The reference creates its session with connector jars and a 12g driver
(reference: src/main.py:13-26) — a symptom of its collect()-to-driver design.
This engine needs no large driver: all data paths stay distributed, so the
session here only pins the configs that matter for plan quality at scale
(AQE, shuffle partition sizing, Arrow for the pandas-UDF kernels).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Ceiling of the default driver heap, the engine's old fixed default.
_DRIVER_MEM_CAP_MIB = 16 * 1024


def default_driver_memory(mem_total_kib: int) -> str:
    """Default driver heap for a machine with ``mem_total_kib`` of RAM
    (``/proc/meminfo`` MemTotal): half of it, capped at 16g. The other
    half is left to the Python workers, the page cache and anything else
    on the box; a heap sized past physical memory gets the JVM killed."""
    return f"{min(mem_total_kib // 2048, _DRIVER_MEM_CAP_MIB)}m"


def _mem_total_kib() -> int:
    """MemTotal in KiB, or the cap's worth where /proc/meminfo is absent."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 2 * _DRIVER_MEM_CAP_MIB * 1024


def get_session(
    app_name: str = "retail_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    Defaults are sized for local testing but every knob is the one you would
    set on a real cluster:

    - AQE on: runtime partition coalescing + skew-join splitting means the
      static ``shuffle_partitions`` only needs to be an upper bound.
    - Arrow on: the greedy-depletion kernel and multimodal UDFs move data
      executor<->Python in Arrow batches, not pickled rows.
    - UTC session timezone: timestamp semantics independent of host tz.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # In local mode the driver JVM heap IS the executors' memory: pyspark's
    # 1g default starves 32 concurrent tasks (GC-locker OOMs on wide
    # explodes). This is task-working-memory sizing, NOT collect() head-
    # room — no data path in this engine collects to the driver. The
    # default follows physical memory: a fixed 16g overcommits a 15 GiB box.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        _mem_total_kib()
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: the depletion kernel streams 600k rows
        # executor<->Python per sf0.1 run; the 10k default costs ~6x the
        # per-batch overhead (measured 1.6 -> 1.4 s on a5). Group-spanning
        # chunks are already handled (kernels concat+sort per group), so
        # larger batches are purely fewer round trips. Confirmed optimal
        # by a same-JVM A/B (cross-invocation noise excluded): a5 best-of-6
        # = 1.08 s @64k vs 1.15 @32k / 1.19 @128k at sf0.1.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        # push MIN/MAX/COUNT down to parquet footer statistics — profile
        # and emptiness checks never touch row data
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # Generated-class cache, keyed by source text. One perfbench pass
        # generates 140-170 distinct classes for the retail workload
        # (batch, staged DAG, late-day refresh) and 226-241 for the 17
        # bench registry queries; with the default of 100 entries every
        # access missed, so each pass re-ran Janino and re-JITted every
        # hot method. On 4 cores a registry pass went 9.9 -> 7.8 s and
        # its JVM CPU 19.7 -> 11.9 s once the cache held the working set.
        # 1024 holds both workloads in one JVM with room to spare. It pays
        # wherever one JVM re-runs plan shapes: bench passes, streaming
        # micro-batches, the staged DAG in one session, the test suite; a
        # one-shot spark-submit gains nothing. Static conf: read once per
        # JVM.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # Keep the whole-stage codegen stage id out of the class name, so
        # it is not part of the cache key. Under AQE the ids follow the
        # order in which concurrent query stages materialize; with them
        # in the name, a replayed plan still missed for a few stages
        # (x7_corpus_curation recompiled 0-4 classes per replay).
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # Cluster-tuning escape hatch (r15): semicolon-separated k=v pairs,
    # e.g. SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd".
    # Empty by default — local behavior and the bench meter are
    # unchanged unless the operator explicitly opts in; production
    # values belong in deploy config, not hard-coded here (the brief's
    # "keep scale-dependent settings parameterised" rule). Also how the
    # r15 codec paired-draw A/B injects its variant per JVM.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
