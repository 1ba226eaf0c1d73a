"""SQL entry point: the same engine through ``spark.sql``.

The registry plans are DataFrame-first, but every table the engine reads
can be exposed as a temp view so users run plain ANSI SQL against the
identical scan path (generalizes the reference's implicit SQL surface —
its MySQL DDL in candy_store.sql:1-84 and the summary queries in
src/data_processor.py:390-435). Catalyst compiles ``spark.sql`` text and
the DataFrame API into the same logical plans, so filters still push to
parquet, dimension joins still broadcast, and AQE still re-plans — the
view layer adds zero overhead (``tests/test_sql_api.py`` asserts
plan-identical results).

At 100 TB you'd register these as external tables in a real catalog
(Hive metastore / Unity / Glue) with partition columns declared; temp
views are the in-session equivalent with the same pruning behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every parquet table under ``sf_dir`` as a temp view named
    after the table, so ``spark.sql`` queries run against the same
    pushdown-capable scans the DataFrame plans use. Goes through the
    registry's ``_t`` loader so quirk handling (the events table's
    TIMESTAMP(NANOS) → micros truncation, UTC pinning) is identical on
    both surfaces."""
    from .analytics import _t

    for t in TABLES:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Thin alias making the SQL surface explicit in the package API."""
    return spark.sql(query)
