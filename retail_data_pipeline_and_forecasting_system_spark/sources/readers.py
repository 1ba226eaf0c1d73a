"""Schema-pinned readers for every source the engine supports.

Replaces the reference's three ingestion paths with direct, scan-friendly
reads:

- CSV -> MySQL -> JDBC scan (reference src/data_processor.py:98-139, 179-193)
  becomes a single schema-pinned CSV read (JDBC kept for parity, below).
- JSON -> MongoDB -> Mongo connector scan with per-collection inference and a
  double count() (reference src/data_processor.py:141-177, 195-222) becomes
  one schema-pinned ``spark.read.json`` over all day files at once — no
  inference scan, no emptiness count, and the per-day dict becomes a
  ``batch_date`` column so Catalyst can partition-prune instead of the driver
  looping over collections.

At scale: transactions land as date-partitioned files; passing a directory
(or glob) here produces one distributed scan whose day-filtering is a
metadata-only prune, not 10 separate driver-sequenced reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


def read_customers_csv(spark: SparkSession, path: str) -> DataFrame:
    """Customers dim (reference candy_store.sql:25-33). Quoted commas in
    `address` are handled by the CSV parser options."""
    return (
        spark.read.schema(schemas.CUSTOMERS)
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )


def read_products_csv(spark: SparkSession, path: str) -> DataFrame:
    """Products dim with initial stock (reference candy_store.sql:52-62)."""
    return (
        spark.read.schema(schemas.PRODUCTS)
        .option("header", "true")
        .csv(path)
    )


def read_transactions_json(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """All transaction-day JSON files in one scan, schema pinned.

    Returns the raw document grain plus a ``batch_date`` column derived from
    the timestamp (the reference derives the batch from the collection name;
    dataset_15 timestamps always match their file's date, so the timestamp is
    the authoritative batch key). ``multiLine`` handles the JSON-array file
    layout of the reference fixtures.
    """
    df = (
        spark.read.schema(schemas.TRANSACTIONS_RAW)
        .option("multiLine", "true")
        .json(path_or_glob)
    )
    return df.withColumn("batch_date", F.to_date(F.col("timestamp")))


def read_table_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "com.mysql.cj.jdbc.Driver",
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """JDBC scan, kept for parity with the reference's MySQL path
    (src/data_processor.py:179-193) but with partitioned reads: a JDBC scan
    without partitionColumn is a single-task serial read — unacceptable for
    large tables."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("driver", driver)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound or 0))
            .option("upperBound", str(upper_bound or 1_000_000))
        )
    return reader.load()


def read_json_robust(spark: SparkSession, path_or_glob: str, schema):
    """PERMISSIVE JSON read that quarantines malformed rows instead of
    failing the job — at 100 TB some records WILL be broken, and a
    fail-fast read loses the other 99.999%.

    Returns (good_rows, corrupt_rows): good rows with the declared schema,
    corrupt rows as (raw_text) for a quarantine sink. The split is one
    scan — both frames share the cached permissive read.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    full_schema = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path_or_glob)
    )
    # Spark refuses queries that reference ONLY the corrupt column over a
    # raw json scan (the parser would never run); caching the parsed frame
    # is the documented pattern and also makes the two-way split one scan.
    df = df.cache()
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    corrupt = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    return good, corrupt


def read_parquet_evolving(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Parquet scan across files whose schemas EVOLVED (columns added over
    time): ``mergeSchema`` unions the per-file schemas; files missing a
    column yield nulls for it.

    The reference's per-day Mongo collections (src/data_processor.py:
    195-222) rely on per-collection schema inference — this is the
    governed replacement: additive evolution reads seamlessly, and the
    merged schema is explicit in the returned DataFrame.

    Scale note: schema merging reads footers only (a driver-side listing
    + parallel footer fetch), not data; steady-state readers should pin
    the current schema instead and rely on parquet's by-name column
    resolution, paying the merge pass only when discovering drift.
    """
    return spark.read.option("mergeSchema", "true").parquet(path_or_glob)


def with_lineage(df: DataFrame) -> DataFrame:
    """Attach file-level provenance to every row of a file-source scan:
    ``_source_file`` (full path) and ``_source_mtime``.

    Uses the hidden ``_metadata`` struct Spark maintains for file
    sources — zero I/O cost (values come from the file index, not data),
    and the column survives into downstream joins/aggregations, which is
    what makes per-source audits (row counts per delivered file,
    quarantine-by-origin, reprocessing a bad delivery) expressible as
    plain grouped queries.
    """
    from pyspark.sql import functions as F

    return df.select(
        "*",
        F.col("_metadata.file_path").alias("_source_file"),
        F.col("_metadata.file_modification_time").alias("_source_mtime"),
    )
