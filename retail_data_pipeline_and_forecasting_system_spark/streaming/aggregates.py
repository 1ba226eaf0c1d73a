"""Streaming windowed aggregation + streaming dedup.

Capability extensions over the reference's batch-only loop (SURVEY §2.9):
the reference corpus has no late or duplicate data, so these are the
operators a real deployment adds the moment either appears.

- ``streaming_daily_summary``: tumbling event-time windows with a
  watermark. State is bounded: windows older than the watermark are
  finalized and dropped; late rows inside the allowance still land in
  their window.
- ``streaming_dedup``: exact first-wins dedup on a key, with the
  watermark bounding how long each key is remembered — the streaming twin
  of ``dedup_exact`` (at 100 TB you cannot remember every key forever;
  the watermark IS the retention contract).

Both are pure built-in compositions — no Python in the hot path; state
lives in the HDFS/RocksDB state store, partitioned by key, so a
1000-executor cluster shards it for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.ohlc import ohlc_aggs, ohlc_order_key


def streaming_daily_summary(lines: DataFrame) -> DataFrame:
    """Units sold per event-time day over a (possibly late) line stream.

    Output: (date, units, n_lines). In append mode a day's row emits once
    its window falls behind the watermark; complete/update modes emit
    running values.
    """
    return (
        lines.withWatermark("timestamp", "1 day")
        .groupBy(F.window("timestamp", "1 day").alias("w"))
        .agg(
            F.sum("qty").alias("units"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            F.col("w.start").cast("date").alias("date"), "units", "n_lines"
        )
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    watermark: str = "1 day",
) -> DataFrame:
    """First occurrence per key wins; duplicates within the watermark
    horizon are dropped, and key-memory is reclaimed as the watermark
    advances (``dropDuplicatesWithinWatermark`` semantics)."""
    return stream.withWatermark("timestamp", watermark).dropDuplicatesWithinWatermark(
        keys
    )


def streaming_ohlc_bars(events: DataFrame) -> DataFrame:
    """Live candlestick bars — the streaming twin of the batch
    ``h7_ohlc_bars`` registry query, built from the SAME aggregation
    spec (``operators.ohlc``): open/close are min_by/max_by over the
    (t_ms, event_id) order key, which makes them ALGEBRAIC state a
    streaming window can maintain incrementally — a first/last-over-
    sorted-window formulation could not stream at all. High/low/count
    ride the same state. Late rows inside the watermark still update
    their bar; bars finalize (append mode) once the watermark passes.

    Output: (bucket_start, event_type, n_points, open_v, high_v,
    low_v, close_v) — identical column set to the batch query, proven
    equal on the same input by ``tests/test_streaming.py``.
    """
    pts = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.col("ts"),
        F.col("value").cast("decimal(18,4)").alias("v"),
        ohlc_order_key(
            F.expr("unix_micros(ts)"), F.col("event_id")
        ).alias("okey"),
    )
    return (
        pts.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(*ohlc_aggs(F.col("v"), F.col("okey")))
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_points",
            "open_v",
            "high_v",
            "low_v",
            "close_v",
        )
    )


def streaming_sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based session aggregation over a live event stream.

    ``session_window`` merges events of a user whose gaps are < ``gap``
    into one growing window — the streaming twin of the batch
    lag/cumsum sessionization (plans.analytics e2_sessionize). A session
    emits once the watermark passes its close.

    Output: (user_id, session_start, session_end, n_events).
    """
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_histogram_quantiles(
    stream: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 64,
    quantiles: tuple[float, ...] = (0.5, 0.95),
    window: str = "1 hour",
) -> DataFrame:
    """Windowed quantile monitoring via the mergeable histogram sketch —
    the streaming twin of the batch ``a18_histogram_quantiles`` registry
    query (p50/p95 latency- or price-style dashboards over event time).

    The ONLY stateful operator is one windowed aggregation whose state per
    window is the sketch itself: ``n_buckets`` conditional-sum counters
    over a fixed [lo, hi) domain. Fixed literal bounds make the counters
    mergeable, so partial aggregation, late-row updates within the
    watermark, and window finalization are all just vector additions in
    the state store — state is O(windows × buckets), independent of event
    volume. Quantile extraction (cumulative scan + linear interpolation
    inside the matched bucket, identical arithmetic to a18) happens in a
    STATELESS higher-order-function projection after the agg, keeping the
    plan a single legal streaming aggregation — a second grouped pass
    over bucket rows would be a chained stateful operator.

    Output: (window_start, window_end, n, p<q> per requested quantile).
    """
    width = (hi - lo) / n_buckets
    bucket = F.expr(
        f"CAST(least(greatest(floor((CAST({value_col} AS DOUBLE)"
        f" - {lo!r}) / {width!r}), 0), {n_buckets - 1}) AS INT)"
    )
    hist_cols = [
        F.sum(F.when(bucket == i, 1).otherwise(0)).alias(f"h_{i}")
        for i in range(n_buckets)
    ]
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", window).alias("w"))
        .agg(*hist_cols)
    )
    hist = F.array(
        *[F.col(f"h_{i}").cast("double") for i in range(n_buckets)]
    )
    n = sum(F.col(f"h_{i}") for i in range(n_buckets))

    def est(q: float) -> F.Column:
        # fold over (bucket, count): first bucket whose cumulative count
        # reaches rank q*n wins; interpolate within it. acc.est stays
        # NULL until matched, so cum_before < rank is implied.
        return F.expr(
            f"CAST(aggregate("
            f" zip_with(sequence(0, {n_buckets - 1}), __hist,"
            f"          (b, c) -> named_struct('b', b, 'c', c)),"
            f" named_struct('cum', CAST(0.0 AS DOUBLE),"
            f"              'est', CAST(NULL AS DOUBLE)),"
            f" (acc, x) -> named_struct("
            f"   'cum', acc.cum + x.c,"
            f"   'est', CASE WHEN acc.est IS NULL AND x.c > 0"
            f"               AND acc.cum + x.c >= {q!r} * __n"
            f"          THEN {lo!r} + {width!r} * (CAST(x.b AS DOUBLE)"
            f"               + ({q!r} * __n - acc.cum) / x.c)"
            f"          ELSE acc.est END),"
            f" acc -> acc.est) AS DOUBLE)"
        )

    out = agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        n.cast("bigint").alias("n"),
        hist.alias("__hist"),
        n.cast("double").alias("__n"),
    )
    for q in quantiles:
        out = out.withColumn(f"p{int(q * 100)}", est(q))
    return out.drop("__hist", "__n")


def streaming_enrich_static(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment (the streaming twin of J1,
    reference src/data_processor.py:282-286).

    A static DataFrame joined to a stream is re-resolved per micro-batch,
    so a dimension that lives in a table (products, customers) can change
    between batches without restarting the query. Spark plans the static
    side as a broadcast when small — no stream-side shuffle, no state:
    this join holds NOTHING in the state store, unlike stream-stream
    joins which must buffer both sides within the watermark.
    """
    return stream.join(F.broadcast(dim), on=key, how=how)


def streaming_funnel_join(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream self-join: `view` events matched to
    `purchase` events of the same user within one hour — the streaming
    twin of the batch funnel (registry `j7_funnel`).

    Both sides carry a 2-hour watermark and the join condition bounds
    buy_ts to (view_ts, view_ts + 1 hour], so Spark can expire buffered
    rows once the watermark passes view_ts + 1 hour: state is O(events
    inside the watermark window), never the full log. Emits one row per
    conversion pair in append mode.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("u"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "2 hours")
    )
    buys = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("buy_ts"))
        .withWatermark("buy_ts", "2 hours")
    )
    return views.join(
        buys,
        (views.u == buys.user_id)
        & (F.col("buy_ts") > F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 hour")),
    ).select("user_id", "view_ts", "buy_ts")


def streaming_transitions(events: DataFrame) -> DataFrame:
    """Per-user event-TRANSITION extraction on a stream — the stateful
    streaming twin of the batch ``e8_markov_transitions`` lead-window:
    windows don't exist in streaming, so the "previous event" becomes
    per-user group state carried across micro-batches
    (``applyInPandasWithState`` keyed by user, state = last event type).

    Within a micro-batch a user's rows are concatenated across Arrow
    chunks and sorted once by (ts, seq) — same cross-chunk contract as
    ``streaming_depletion``; across micro-batches the carried state
    stitches the boundary transition, so replaying a day-partitioned
    log yields exactly the batch lead-window's transitions (asserted in
    tests). Output rows: (user, from_type, to_type).

    State is ONE small string per user — at 100 TB it shards by user
    across the state store and never grows with history; downstream the
    (from, to) counts/probabilities are a plain streaming aggregation.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # The key column keeps the caller's name and input type — a stream
    # keyed by a string user id (or a renamed column) must not crash or
    # come back mislabeled as a long "user_id".
    user_field = events.schema["user_id"]
    out_schema = T.StructType(
        [
            T.StructField("user_id", user_field.dataType, False),
            T.StructField("from_type", T.StringType(), True),
            T.StructField("to_type", T.StringType(), True),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("last_type", T.StringType(), True)]
    )

    def extract(key, batches, state: GroupState):
        (user,) = key
        last = state.get[0] if state.exists else None
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            pdf = pdf.sort_values(
                ["ts", "event_id"], kind="mergesort"
            ).reset_index(drop=True)
            types = pdf["event_type"].tolist()
            rows = []
            for t in types:
                if last is not None:
                    rows.append((user, last, t))
                last = t
            if rows:
                yield pd.DataFrame(
                    rows, columns=["user_id", "from_type", "to_type"]
                )
        state.update((last,))

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            extract,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_attribution(
    events: DataFrame,
    max_touches: int | None = None,
) -> DataFrame:
    """Last-touch attribution on a stream — the stateful twin of the
    batch ``e9_attribution`` window pair. Per-user group state carries
    (a) the latest touch (its micros/id/type) for the strictly-
    preceding carry-forward, and (b) the touch timestamps still inside
    the lookback for the range-frame count; both are exactly what the
    batch windows recompute from history.

    Tie semantics match the batch frames precisely: the carry-forward
    is strictly-preceding in (ts, seq) order — a same-instant touch
    with a LOWER seq attributes, a higher one does not — while the
    7-day touch count is a RANGE frame, so same-instant touches count
    regardless of seq order. The implementation therefore walks rows
    sequentially for the carry, but counts touches against the FULL
    batch+state touch list (searchsorted over sorted micros).

    In-order contract (same as streaming_transitions): epochs must
    arrive time-ordered per user (day-partitioned file drains do), and
    a same-instant tie group must not split across an epoch boundary —
    a later epoch's same-instant touch cannot count for an already-
    emitted purchase. State per user is one small struct plus the
    lookback's touch times (evicted past the window every batch) — at
    100 TB it shards by user and never grows with HISTORY, but it does
    grow with a single user's touch volume INSIDE the lookback: a
    bot-like user firing millions of touches in 7 days serializes an
    ever-larger array through Arrow every epoch (round-7 ADVICE). Set
    ``max_touches`` to bound that: state retains only the newest
    ``max_touches`` in-window touch timestamps, so ``n_touches_7d``
    SATURATES (undercounts) for users whose in-window touches exceed
    the cap — a floor, exact for everyone below it. Default ``None``
    preserves exact batch parity and assumes organic per-user volume
    (≲ thousands of touches per week).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    lookback_us = 7 * 86400 * 1_000_000
    user_field = events.schema["user_id"]
    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("user_id", user_field.dataType, False),
            T.StructField("last_touch_type", T.StringType(), False),
            T.StructField("last_touch_id", T.LongType(), True),
            T.StructField("us_since_touch", T.LongType(), True),
            T.StructField("n_touches_7d", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("t_us", T.LongType(), True),
            T.StructField("t_id", T.LongType(), True),
            T.StructField("t_type", T.StringType(), True),
            T.StructField("touch_us", T.ArrayType(T.LongType()), True),
        ]
    )

    def attach(key, batches, state: GroupState):
        (user,) = key
        if state.exists:
            last_us, last_id, last_type, kept = state.get
            touch_us = sorted(kept or [])
        else:
            last_us = last_id = last_type = None
            touch_us = []
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            pdf = pdf.sort_values(
                ["ts", "event_id"], kind="mergesort"
            ).reset_index(drop=True)
            us = (pdf["ts"].astype("int64") // 1000).to_numpy()
            types = pdf["event_type"].to_numpy()
            seqs = pdf["event_id"].to_numpy()
            # range-frame pool: state touches + ALL of this batch's
            # touches (same-instant ones count regardless of seq order)
            is_t = np.isin(types, ["view", "click"])
            pool = np.sort(
                np.concatenate([np.asarray(touch_us, dtype="int64"),
                                us[is_t]])
            )
            rows = []
            for i in range(len(pdf)):
                if types[i] == "purchase":
                    lo = np.searchsorted(pool, us[i] - lookback_us, "left")
                    hi = np.searchsorted(pool, us[i], "right")
                    n7 = int(hi - lo)
                    if (
                        last_us is not None
                        and us[i] - last_us <= lookback_us
                    ):
                        rows.append(
                            (int(seqs[i]), user, last_type,
                             int(last_id), int(us[i] - last_us), n7)
                        )
                    else:
                        rows.append(
                            (int(seqs[i]), user, "none", None, None, n7)
                        )
                elif is_t[i]:
                    last_us, last_id, last_type = (
                        int(us[i]), int(seqs[i]), str(types[i])
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["event_id", "user_id", "last_touch_type",
                             "last_touch_id", "us_since_touch",
                             "n_touches_7d"],
                )
            # evict touches that can never count again (strictly older
            # than the lookback behind the newest event seen)
            horizon = int(us[-1]) - lookback_us
            touch_us = [int(t) for t in pool if t >= horizon]
            if max_touches is not None and len(touch_us) > max_touches:
                # bound per-user state: keep the newest cap-many (pool
                # is sorted ascending); counts saturate at the cap
                touch_us = touch_us[-max_touches:]
        state.update((last_us, last_id, last_type, touch_us))

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            attach,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
