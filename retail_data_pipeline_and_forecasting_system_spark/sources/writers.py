"""Sinks: contract single-file CSV + scale-path partitioned Parquet.

The single-file CSV trick (coalesce(1) -> rename part file) reproduces the
reference's output contract (src/data_processor.py:61-90). It is inherently
serial and exists ONLY for that contract; every other materialization goes
through ``write_partitioned_parquet``, which is the path you'd use at scale.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_single_csv(df: DataFrame, output_dir: str, filename: str) -> str:
    """Write ``df`` as exactly one headered CSV file at output_dir/filename.

    Serial by construction (one partition); only for small, contractually
    single-file outputs (the four golden CSVs are <30k rows each). Rows are
    written in the order of that one partition, so a caller that needs a
    row order sorts inside it (``coalesce(1).sortWithinPartitions(...)``)
    instead of paying a global ``orderBy``'s sampling job and range shuffle.
    """
    os.makedirs(output_dir, exist_ok=True)
    full_path = os.path.join(output_dir, filename)
    temp_dir = os.path.join(output_dir, f"_tmp_{filename.replace('.', '_')}")

    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(temp_dir)

    part = glob.glob(os.path.join(temp_dir, "part-*.csv"))[0]
    shutil.move(part, full_path)
    shutil.rmtree(temp_dir)
    return full_path


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table.

    Two tables bucketed by the same key into the same bucket count join
    WITHOUT a shuffle (and without the sort, if sorted) — the 100 TB recipe
    for repeated fact⋈fact joins on a stable key: pay the partitioning once
    at write time, never at query time. Verified by plan in
    tests/test_bucketing.py.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def write_table_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    mode: str = "overwrite",
    driver: str = "com.mysql.cj.jdbc.Driver",
    batch_size: int = 10_000,
) -> None:
    """JDBC sink — the distributed replacement for the reference's
    driver-side csv.reader + executemany loader (src/data_processor.py:98-139).
    Each partition opens its own connection and writes batched inserts;
    ``mode="overwrite"`` reproduces the TRUNCATE-then-load contract.
    (Requires the JDBC driver jar on the classpath; not exercised in this
    container — no database service available.)"""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("batchsize", str(batch_size))
        .mode(mode)
        .save()
    )


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Scale-path sink: date/key-partitioned parquet so downstream scans get
    partition pruning for free (replaces the reference's per-task parquet
    handoff, src/candy_store_dag.py:102-113, which wrote unpartitioned)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    bits: int = 16,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustered parquet sink for 2-D data skipping.

    Quantizes the two cluster columns to ``bits``-bit ranks over their
    data min/max, interleaves the bits into a Z-value, then range-
    partitions AND sorts by it before writing. Each output file then
    covers a small contiguous square of the (col_a, col_b) space, so its
    parquet column statistics give NARROW min/max bounds on BOTH columns
    — a reader filtering on either (or both) skips most files/row-groups,
    which a single-column sort can only provide for its leading column.

    At 100 TB this is the layout step you run once per ingest batch: one
    range-exchange shuffle, no extra passes, and every later selective
    scan pays only for the files whose bounding box intersects the
    predicate. The Z-value itself never needs to be stored — it is
    dropped after the sort.
    """
    a, b = cols
    from ..functions import sql_zorder

    mn = df.agg(
        F.min(a).alias("__mna"), F.max(a).alias("__mxa"),
        F.min(b).alias("__mnb"), F.max(b).alias("__mxb"),
    )
    scale = 1 << bits
    q = df.crossJoin(F.broadcast(mn)).select(
        "*",
        F.expr(
            f"CAST((({a} - __mna) * {scale}) DIV (__mxa - __mna + 1) AS BIGINT)"
        ).alias("__qa"),
        F.expr(
            f"CAST((({b} - __mnb) * {scale}) DIV (__mxb - __mnb + 1) AS BIGINT)"
        ).alias("__qb"),
    ).withColumn("__z", F.expr(sql_zorder("__qa", "__qb", bits)))
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        q.repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__mna", "__mxa", "__mnb", "__mxb", "__qa", "__qb", "__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar ORC sink (parquet's sibling; same pushdown/pruning story)."""
    df.write.mode(mode).orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """ORC scan — filter pushdown and column pruning work as with parquet."""
    return spark.read.orc(path)


def compact_partition(
    spark,
    path: str,
    target_files: int = 1,
    max_records_per_file: int | None = None,
) -> int:
    """Rewrite a parquet directory into ``target_files`` files (the
    small-files compaction every long-running ingest needs: streaming and
    per-day appends accrete tiny files whose open/footer overhead
    eventually dominates scans).

    Writes to a sibling temp dir then swaps via two renames. The swap is
    NEAR-atomic, not atomic: a concurrent reader can hit a brief window
    between the two renames where ``path`` is absent, and a crash inside
    the window leaves the data stranded in ``._compact_old`` (recovered —
    see below — on the next invocation). True atomicity needs a
    versioned-directory + manifest/symlink flip, or a table format
    (Delta/Iceberg) whose commit IS a manifest swap. Returns the
    resulting file count. ``max_records_per_file`` bounds file size
    instead when row width varies (maps to Spark's ``maxRecordsPerFile``).

    Point ``path`` at a LEAF directory: for a ``partitionBy`` layout,
    compact each partition dir independently (reading the root would
    inline the partition columns and flatten the layout). The rename
    swap assumes a posix-rename filesystem (local/HDFS); object stores
    need a manifest-commit instead.
    """
    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    # recover from a previous crashed run: a stale tmp is garbage (never
    # swapped in); a stale old with NO live path is the crash window
    # between the two renames — roll it back before proceeding
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)
        else:
            os.rename(old, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    df = spark.read.parquet(path)
    writer = df.repartition(target_files).write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(glob.glob(os.path.join(path, "part-*.parquet")))


def write_with_metrics(
    df: DataFrame,
    path: str,
    metrics: dict[str, Column],
    mode: str = "overwrite",
) -> dict[str, object]:
    """Write parquet while collecting pipeline metrics from the SAME
    pass via ``Dataset.observe`` — no second scan.

    ``metrics`` maps metric name -> aggregate Column (count, sum,
    null-count, ...). The observation rides the write job: Spark
    accumulates the aggregates on the executors as rows stream to the
    files and delivers them to a query-execution listener when the
    action finishes. The returned dict holds the observed values.

    This is the production shape for write-audit counters (rows
    written, revenue total, null-key count) at 100 TB: an explicit
    ``df.agg(...)`` after the write would re-scan the whole output —
    the observation is free.

    Implementation note: ``Observation`` (pyspark.sql) wraps the
    listener plumbing; ``observation.get`` blocks until the action's
    metrics arrive, so this function is synchronous like the write.
    """
    from pyspark.sql import Observation

    if not metrics:
        raise ValueError(
            "metrics must be non-empty — for an unobserved write use "
            "df.write.parquet(path) directly"
        )
    obs = Observation()
    named = [c.alias(n) for n, c in metrics.items()]
    df.observe(obs, named[0], *named[1:]).write.mode(mode).parquet(path)
    return dict(obs.get)
