"""The retail batch pipeline as composable DataFrame transforms.

Reproduces the reference's outputs (orders, order_line_items, daily_summary,
products_updated, forecast — reference src/main.py:139-236) from ONE
declarative multi-day plan instead of a per-day driver loop with union
accumulation (src/data_processor.py:357-388). Differences that matter at
scale:

- One scan over all days (partition-pruned), not N driver-sequenced reads.
- The inventory fold runs distributed per product (operators/depletion.py),
  not as a collect()-to-driver Python loop (src/data_processor.py:288-331).
- The day-cost scalar that the reference collect()s and re-attaches with
  lit() (src/data_processor.py:418-424) is one more sum in the daily
  summary's single grouped aggregate over the depletion output — correct
  for any number of days in flight and fully distributed.
- The builders return unsorted frames; the contract row order
  (``CONTRACT_ORDER``) is applied only where a contract needs it, at
  ``run_retail_pipeline``'s returned frames and the staged report's CSVs.
  Intermediates such as the staged lake's parquet are written unsorted.
- Money is DecimalType(10,2) end-to-end: decimal sums are exact and
  order-independent, so results are identical at any parallelism (the
  reference's double math depends on accumulation order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.depletion import greedy_inventory_depletion
from ..schemas import MONEY

#: the golden CSVs keep ISO-8601 microsecond, 'T'-separated timestamps
ISO_MICROS = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def explode_transactions(raw: DataFrame) -> DataFrame:
    """Raw nested docs -> line grain (reference src/data_processor.py:224-241).

    ``posexplode`` keeps each item's position inside its transaction so the
    depletion order is total even when one transaction lists the same product
    twice.

    ``arrival_seq`` captures the document's physical arrival order
    (partition index, offset) — see the ordering note on
    ``run_retail_pipeline``: the reference's golden outputs encode *arrival*
    order, not timestamp order, because its pre-depletion ``orderBy`` is
    destroyed by the subsequent join (reference src/data_processor.py:280-293;
    verified empirically against data/output/order_line_items.csv).
    """
    return raw.withColumn("arrival_seq", F.monotonically_increasing_id()).select(
        "transaction_id",
        "customer_id",
        F.to_timestamp("timestamp").alias("timestamp"),
        "arrival_seq",
        F.posexplode("items").alias("line_pos", "item"),
    ).select(
        "transaction_id",
        "customer_id",
        "timestamp",
        "arrival_seq",
        "line_pos",
        F.col("item.product_id").alias("product_id"),
        F.col("item.product_name").alias("product_name"),
        F.col("item.qty").alias("qty"),
    )


#: Depletion processing orders. "arrival" reproduces the reference's golden
#: outputs bit-for-bit: its code sorts by timestamp before the join
#: (src/data_processor.py:280) but the join shuffles rows back to arrival
#: order before the driver fold consumes them — empirically, a greedy replay
#: in file order matches all 27,652 golden lines while strict timestamp order
#: diverges on 173 lines (the final stockout day of each hot product).
#: "timestamp" is the content-deterministic order the reference *intended*;
#: prefer it for new deployments since arrival order is layout-dependent.
ORDER_COLS = {
    "arrival": ("batch_date", "arrival_seq", "line_pos"),
    "timestamp": ("timestamp", "transaction_id", "line_pos"),
}


def process_lines(
    lines: DataFrame,
    products: DataFrame,
    process_order: str = "arrival",
    result_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Null-filter, deplete inventory, and price every line.

    Output grain: one row per non-null-qty line with fulfilled ``quantity``
    (0 if cancelled), ``unit_price`` and 2-dp ``line_total`` (cancelled lines
    price to 0.00, reference src/data_processor.py:308).

    ``result_cols`` (r15) narrows the depletion kernel's RETURN columns
    (must include ``product_id`` and ``quantity``; see
    ``greedy_inventory_depletion``): the fold ships every input column
    into Python regardless, but the Arrow trip back only needs what the
    caller consumes. Default None keeps the full row — the public
    contract for every existing caller.
    """
    order_cols = ORDER_COLS[process_order]
    demand = lines.withColumn("batch_date", F.to_date("timestamp")).filter(
        F.col("qty").isNotNull()
    )
    filled = greedy_inventory_depletion(
        demand,
        products,
        order_cols=order_cols,
        result_cols=result_cols,
    )
    priced = filled.join(
        F.broadcast(products.select("product_id", "sales_price")),
        on="product_id",
        how="inner",
    )
    return priced.withColumn(
        "line_total",
        F.round(F.col("quantity") * F.col("sales_price"), 2).cast(MONEY),
    ).withColumnRenamed("sales_price", "unit_price")


#: contract row order of each output (FIXTURES.md); the builders return
#: unsorted frames and callers sort only where the contract is delivered
CONTRACT_ORDER = {
    "orders": ("order_id",),
    "order_line_items": ("order_id", "product_id"),
    "daily_summary": ("date",),
    "products_updated": ("product_id",),
}


#: the depletion-output columns the four builders and processing_metrics
#: read; narrowing the kernel's return trip to them (``result_cols``) drops
#: product_name strings, arrival_seq, batch_date, line_pos and the raw qty
#: from the Python->JVM Arrow batches (only the needed columns cross the
#: boundary)
BUILDER_COLS = ("transaction_id", "customer_id", "timestamp", "product_id", "quantity")


def build_order_line_items(processed: DataFrame) -> DataFrame:
    """order_line_items contract columns, one row per processed line
    (unsorted; contract order is ``CONTRACT_ORDER``)."""
    return (
        processed.select(
            F.col("transaction_id").alias("order_id"),
            "product_id",
            "quantity",
            "unit_price",
            "line_total",
        )
    )


def build_orders(processed: DataFrame) -> DataFrame:
    """orders contract: one row per transaction; ``num_items`` counts ALL
    lines including cancelled ones (verified against the golden output,
    SURVEY.md A1); fully-cancelled orders appear with total_amount 0.00.
    Unsorted; contract order is ``CONTRACT_ORDER``."""
    return (
        processed.groupBy(
            F.col("transaction_id").alias("order_id"),
            F.date_format("timestamp", ISO_MICROS).alias("order_datetime"),
            "customer_id",
        )
        .agg(
            F.round(F.sum("line_total"), 2).cast(MONEY).alias("total_amount"),
            F.count("product_id").alias("num_items"),
        )
    )


def build_daily_summary(processed: DataFrame, products: DataFrame) -> DataFrame:
    """daily_summary contract (reference src/data_processor.py:390-435).

    One grouped aggregate per date over the processed lines: total_sales =
    Σ line_total (exact decimal, so equal to Σ of the orders' totals),
    num_orders = distinct transaction ids (every processed line belongs to
    an order, cancelled lines included), and total_profit =
    round(total_sales - Σ(quantity × cost_to_make), 2) with the cost from
    the broadcast products dimension — the distributed fix for the
    reference's collect()[0] + lit() day-cost re-attachment. Reads
    ``processed`` once. Unsorted; contract order is ``CONTRACT_ORDER``.
    """
    return (
        processed.join(
            F.broadcast(products.select("product_id", "cost_to_make")),
            on="product_id",
            how="left",
        )
        .groupBy(F.to_date("timestamp").alias("date"))
        .agg(
            F.countDistinct("transaction_id").alias("num_orders"),
            F.sum("line_total").cast(MONEY).alias("total_sales"),
            F.sum(
                (F.col("quantity") * F.col("cost_to_make")).cast("double")
            ).alias("__cost"),
        )
        .select(
            "date",
            "num_orders",
            "total_sales",
            F.round(F.col("total_sales") - F.col("__cost"), 2).alias(
                "total_profit"
            ),
        )
    )


def build_products_updated(processed: DataFrame, products: DataFrame) -> DataFrame:
    """products_updated contract: initial stock − Σ fulfilled qty, never
    negative by construction of the greedy fold (FIXTURES.md invariant 1).
    Unsorted; contract order is ``CONTRACT_ORDER``."""
    consumed = processed.groupBy("product_id").agg(
        F.sum("quantity").alias("__consumed")
    )
    return (
        products.join(consumed, on="product_id", how="left")
        .select(
            "product_id",
            "product_name",
            (
                F.col("stock") - F.coalesce(F.col("__consumed"), F.lit(0))
            ).cast("int").alias("current_stock"),
        )
    )


def processing_metrics(processed: DataFrame) -> dict[str, int]:
    """Run-level counters the reference prints (main.py:99-113,
    data_processor.py:92-96): cancelled lines, fulfilled lines/units."""
    row = processed.agg(
        F.sum(F.when(F.col("quantity") == 0, 1).otherwise(0)).alias("cancelled"),
        F.sum(F.when(F.col("quantity") > 0, 1).otherwise(0)).alias("fulfilled"),
        F.sum("quantity").alias("units_fulfilled"),
    ).collect()[0]
    return {
        "cancelled_lines": int(row["cancelled"] or 0),
        "fulfilled_lines": int(row["fulfilled"] or 0),
        "units_fulfilled": int(row["units_fulfilled"] or 0),
    }


def run_retail_pipeline(
    raw_transactions: DataFrame,
    products: DataFrame,
) -> dict[str, DataFrame]:
    """Full pipeline: raw docs + products -> the four output DataFrames,
    each sorted in its ``CONTRACT_ORDER``.

    Lines deplete in arrival order (see ORDER_COLS), the order that gives
    golden parity with the reference, and stock carries over from day to
    day.

    The depletion output is persisted (it feeds all four outputs); call
    :func:`release_retail_pipeline` with the returned dict when done so
    library callers composing many pipelines in one session don't accrete
    cache.
    """
    lines = explode_transactions(raw_transactions)
    processed = process_lines(lines, products, result_cols=BUILDER_COLS)
    # The depletion output feeds all four outputs; persist it so the Arrow
    # kernel runs once, not four times.
    processed = processed.persist()

    outputs = {
        "orders": build_orders(processed),
        "order_line_items": build_order_line_items(processed),
        "daily_summary": build_daily_summary(processed, products),
        "products_updated": build_products_updated(processed, products),
    }
    outputs = {
        name: df.orderBy(*CONTRACT_ORDER[name]) for name, df in outputs.items()
    }
    # private: the persisted depletion frame, so the cache can be released
    # after the outputs are consumed (release_retail_pipeline)
    outputs["_processed"] = processed
    return outputs


def release_retail_pipeline(outputs: dict[str, DataFrame]) -> None:
    """Unpersist the pipeline's cached depletion frame.

    Call after the four output frames have been written/consumed; reusing
    them afterwards still works (Spark recomputes), it just re-runs the
    depletion kernel.
    """
    cached = outputs.get("_processed")
    if cached is not None:
        cached.unpersist()
