"""Streaming rendition agrees with the batch pipeline.

Replays ten business days through Structured Streaming: one micro-batch
per day file via maxFilesPerTrigger=1 with ascending mtimes,
Trigger.AvailableNow. The stateful depletion must produce exactly the
batch engine's fulfilled quantities in timestamp order — i.e.
cross-micro-batch state carryover == cross-day carryover.

The days are the reference's dataset_15 (27,652 lines, 36 products) where
``REFERENCE_DATA`` holds it, else a generated candy-store corpus
(``perfbench/corpus.py``; seed 17, 10 days x 300 transactions, 36 products
with three hot ones stocked below their demand) whose expected counts
(lines, days, products) come from the generated documents.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.retail import (
    explode_transactions,
    process_lines,
)
from retail_data_pipeline_and_forecasting_system_spark.sources import (
    read_products_csv,
    read_transactions_json,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming import (
    run_available_now,
)

from conftest import REFERENCE_DATA

DATASET = REFERENCE_DATA / "dataset_15"
SEED, DAYS, TX_PER_DAY = 17, 10, 300


@pytest.fixture(scope="module")
def gen(corpus, tmp_path_factory):
    """The days on disk plus the counts the tests expect of them: the
    reference's dataset_15 where it exists, else a generated corpus."""
    if DATASET.is_dir():
        return SimpleNamespace(
            dir=DATASET, n_lines=27652, n_days=10, n_products=36
        )
    out = tmp_path_factory.mktemp("stream_corpus")
    c = corpus.generate(str(out), SEED, DAYS, TX_PER_DAY)
    items = [
        it
        for docs in c["days"]
        for doc in docs
        for it in doc["items"]
        if it["qty"] is not None
    ]
    return SimpleNamespace(
        dir=out,
        n_lines=len(items),
        n_days=len(c["days"]),
        n_products=len({it["product_id"] for it in items}),
    )


def test_streaming_matches_batch(spark, gen, tmp_path):
    # stage input files with ascending mtimes so the file source's
    # modification-time ordering == business-day ordering
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, f in enumerate(sorted(gen.dir.glob("transactions_*.json"))):
        dst = in_dir / f.name
        shutil.copy(f, dst)
        ts = time.time() - 1000 + i
        os.utime(dst, (ts, ts))

    products = read_products_csv(spark, str(gen.dir / "products.csv"))
    stock = {
        r["product_id"]: r["stock"]
        for r in products.select("product_id", "stock").collect()
    }

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_available_now(spark, str(in_dir / "*.json"), stock, ckpt, out_dir)

    streamed = (
        spark.read.parquet(out_dir)
        .select("transaction_id", "product_id", "line_pos", "quantity")
        .toPandas()
        .set_index(["transaction_id", "product_id", "line_pos"])["quantity"]
        .to_dict()
    )

    raw = read_transactions_json(spark, str(gen.dir / "transactions_*.json"))
    batch = (
        process_lines(
            explode_transactions(raw), products, process_order="timestamp"
        )
        .select("transaction_id", "product_id", "line_pos", "quantity")
        .toPandas()
        .set_index(["transaction_id", "product_id", "line_pos"])["quantity"]
        .to_dict()
    )

    assert len(streamed) == len(batch) == gen.n_lines
    # on the generated corpus stock first runs out after day 5, so the
    # cancelled lines match only if stock is carried across micro-batches
    assert 0 in batch.values()
    diffs = {k for k in batch if streamed.get(k) != batch[k]}
    assert not diffs, f"{len(diffs)} mismatching lines, e.g. {sorted(diffs)[:5]}"


def _stream_and_batch_in_16_row_chunks(spark, in_dir, products_csv, out):
    """Fulfilled quantity per line, streamed with Arrow batches of 16 rows
    and from the batch engine, over the day files in ``in_dir``."""
    products = read_products_csv(spark, str(products_csv))
    stock = {
        r["product_id"]: r["stock"]
        for r in products.select("product_id", "stock").collect()
    }

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        out_dir, ckpt = str(out / "out"), str(out / "ckpt")
        run_available_now(spark, str(in_dir / "*.json"), stock, ckpt, out_dir)
    finally:
        if old is not None:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")

    streamed = (
        spark.read.parquet(out_dir)
        .select("transaction_id", "product_id", "line_pos", "quantity")
        .toPandas()
        .set_index(["transaction_id", "product_id", "line_pos"])["quantity"]
        .to_dict()
    )
    raw = read_transactions_json(spark, str(in_dir / "*.json"))
    batch = (
        process_lines(
            explode_transactions(raw), products, process_order="timestamp"
        )
        .select("transaction_id", "product_id", "line_pos", "quantity")
        .toPandas()
        .set_index(["transaction_id", "product_id", "line_pos"])["quantity"]
        .to_dict()
    )
    return streamed, batch


def test_streaming_matches_batch_when_groups_span_arrow_chunks(
    spark, corpus, tmp_path
):
    """Regression: Spark hands applyInPandasWithState one group as MULTIPLE
    Arrow chunks (default ~10k rows). The fold must concat + sort the whole
    group before folding — sorting each chunk independently silently breaks
    batch/stream parity. Force multi-chunk delivery with a tiny Arrow batch
    size: a one-day corpus of 1,000 transactions gives each product about
    50-90 lines in the day and each of the three hot ones about 220-250
    (4-16 chunks at 16 rows). The hot products are stocked below the day's
    demand, so stock runs out inside the micro-batch, and the day file is
    written in reverse arrival order, so rows reach the chunks out of
    timestamp order. Where the reference's dataset_15 exists, its first
    day (~80 lines per product) is replayed as delivered too."""
    src = tmp_path / "corpus"
    c = corpus.generate(str(src), SEED, 1, 1000)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    day = sorted(src.glob("transactions_*.json"))[0]
    (in_dir / day.name).write_text(
        json.dumps(c["days"][0][::-1], separators=(",", ":"))
    )
    streamed, batch = _stream_and_batch_in_16_row_chunks(
        spark, in_dir, src / "products.csv", tmp_path / "gen"
    )
    assert len(streamed) == len(batch) > 0
    # the test only bites if a product stocks out in the day and spans
    # more than one 16-row chunk
    assert 0 in batch.values()
    assert max(Counter(pid for _, pid, _ in batch).values()) > 16
    diffs = {k for k in batch if streamed.get(k) != batch[k]}
    assert not diffs, f"{len(diffs)} mismatching lines, e.g. {sorted(diffs)[:5]}"

    if not DATASET.is_dir():
        return
    ref_in = tmp_path / "ref_in"
    ref_in.mkdir()
    day = sorted(DATASET.glob("transactions_*.json"))[0]
    shutil.copy(day, ref_in / day.name)
    streamed, batch = _stream_and_batch_in_16_row_chunks(
        spark, ref_in, DATASET / "products.csv", tmp_path / "ref"
    )
    assert len(streamed) == len(batch) > 0
    diffs = {k for k in batch if streamed.get(k) != batch[k]}
    assert not diffs, f"{len(diffs)} mismatching lines, e.g. {sorted(diffs)[:5]}"


def test_streaming_daily_summary_matches_batch(spark, gen, tmp_path):
    from retail_data_pipeline_and_forecasting_system_spark.streaming import (
        read_transaction_stream,
        streaming_daily_summary,
    )

    in_dir = tmp_path / "agg_in"
    in_dir.mkdir()
    for f in sorted(gen.dir.glob("transactions_*.json")):
        shutil.copy(f, in_dir / f.name)

    lines = read_transaction_stream(spark, str(in_dir / "*.json"))
    q = (
        streaming_daily_summary(lines)
        .writeStream.format("memory")
        .queryName("daily_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["date"].isoformat(): (r["units"], r["n_lines"])
        for r in spark.sql("SELECT * FROM daily_mem").collect()
    }

    batch = (
        explode_transactions(read_transactions_json(spark, str(in_dir / "*.json")))
        .filter(F.col("qty").isNotNull())
        .groupBy(F.to_date("timestamp").alias("date"))
        .agg(F.sum("qty").alias("units"), F.count(F.lit(1)).alias("n_lines"))
    )
    want = {
        r["date"].isoformat(): (r["units"], r["n_lines"])
        for r in batch.collect()
    }
    assert got == want
    assert len(got) == gen.n_days  # one window per business day


def test_streaming_dedup_drops_replayed_file(spark, gen, tmp_path):
    from retail_data_pipeline_and_forecasting_system_spark.streaming import (
        read_transaction_stream,
        streaming_dedup,
    )

    in_dir = tmp_path / "dedup_in"
    in_dir.mkdir()
    src = sorted(gen.dir.glob("transactions_*.json"))[0]
    # the same day's data arrives twice (a replayed ingest)
    shutil.copy(src, in_dir / "a.json")
    shutil.copy(src, in_dir / "b.json")

    lines = read_transaction_stream(spark, str(in_dir / "*.json"))
    deduped = streaming_dedup(
        lines, keys=["transaction_id", "line_pos"], watermark="2 days"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_dedup = spark.sql("SELECT count(*) AS n FROM dedup_mem").head()["n"]

    one_file = (
        explode_transactions(
            read_transactions_json(spark, str(in_dir / "a.json"))
        )
        .filter(F.col("qty").isNotNull())
        .count()
    )
    assert n_dedup == one_file  # duplicates from the replay are gone


def test_streaming_sessionize_matches_batch_gap_sessions(spark, tmp_path):
    """session_window sessions == batch lag/cumsum sessions per user."""
    from retail_data_pipeline_and_forecasting_system_spark.streaming.aggregates import (
        streaming_sessionize,
    )

    # events table via a file stream (parquet source, single batch)
    src = "/root/testdata/sf0.001/events.parquet"
    ev_dir = tmp_path / "ev"
    ev_dir.mkdir()
    shutil.copy(
        sorted(Path(src).glob("*") if Path(src).is_dir() else [Path(src)])[0],
        ev_dir / "events.parquet",
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_df = spark.read.parquet(str(ev_dir / "events.parquet"))
    # ts is int64-nanos in some testdata generations, TIMESTAMP(MICROS)
    # in others — normalize exactly like plans.analytics._t
    if dict(batch_df.dtypes)["ts"] == "bigint":
        # `ts div 1000` exactly like _t: float division of epoch nanos
        # loses microseconds above 2^53
        ts_norm = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        ts_norm = F.col("ts").cast("timestamp")
    stream = (
        spark.readStream.schema(batch_df.schema)
        .parquet(str(ev_dir))
        .withColumn("ts", ts_norm)
    )
    q = (
        streaming_sessionize(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"],): r["n"]
        for r in spark.sql(
            "SELECT user_id, count(*) AS n FROM sess_mem GROUP BY user_id"
        ).collect()
    }

    # batch twin: count 30-min-gap sessions per user
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    batch = QUERIES["e2_sessionize"].fn(spark, "/root/testdata/sf0.001")
    want = {(r["user_id"],): r["n_sessions"] for r in batch.collect()}
    assert got == want


def test_stream_static_enrichment_matches_batch_join(spark, gen, tmp_path):
    from retail_data_pipeline_and_forecasting_system_spark.streaming import (
        read_transaction_stream,
        streaming_enrich_static,
    )

    in_dir = tmp_path / "enrich_in"
    in_dir.mkdir()
    for f in sorted(gen.dir.glob("transactions_*.json")):
        shutil.copy(f, in_dir / f.name)
    products = read_products_csv(spark, str(gen.dir / "products.csv")).select(
        "product_id", "sales_price"
    )

    lines = read_transaction_stream(spark, str(in_dir / "*.json")).filter(
        F.col("qty").isNotNull()
    )
    q = (
        streaming_enrich_static(lines, products, key="product_id")
        .writeStream.format("memory")
        .queryName("enrich_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        """SELECT product_id, count(*) AS n,
           CAST(SUM(CAST(sales_price AS DECIMAL(18,2)) * qty) AS DOUBLE) AS rev
           FROM enrich_mem GROUP BY product_id"""
    ).collect()

    batch = (
        explode_transactions(read_transactions_json(spark, str(in_dir / "*.json")))
        .filter(F.col("qty").isNotNull())
        .join(products, "product_id")
        .groupBy("product_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("sales_price").cast("decimal(18,2)") * F.col("qty"))
            .cast("double")
            .alias("rev"),
        )
        .collect()
    )
    as_map = lambda rows: {r["product_id"]: (r["n"], r["rev"]) for r in rows}
    assert as_map(got) == as_map(batch)
    assert len(got) == gen.n_products  # every product enriched


def test_restart_from_checkpoint_resumes_state_and_skips_processed(
    spark, gen, tmp_path
):
    """Two runs against one checkpoint: days 1-5, stop, days 6-10 arrive,
    restart. The second run must (a) NOT reprocess days 1-5 — their
    output rows are already committed — and (b) resume depletion state,
    so the union of both runs' output equals the one-shot batch result."""
    files = sorted(gen.dir.glob("transactions_*.json"))
    in_dir = tmp_path / "rs_in"
    in_dir.mkdir()
    out_dir, ckpt = str(tmp_path / "rs_out"), str(tmp_path / "rs_ckpt")

    products = read_products_csv(spark, str(gen.dir / "products.csv"))
    stock = {
        r["product_id"]: r["stock"]
        for r in products.select("product_id", "stock").collect()
    }

    def stage(batch_files, t0):
        for i, f in enumerate(batch_files):
            dst = in_dir / f.name
            shutil.copy(f, dst)
            ts = t0 + i
            os.utime(dst, (ts, ts))

    stage(files[:5], time.time() - 2000)
    run_available_now(spark, str(in_dir / "*.json"), stock, ckpt, out_dir)
    first = spark.read.parquet(out_dir)
    n_first = first.count()
    first_days = {
        r["d"] for r in first.select(F.to_date("timestamp").alias("d")).distinct().collect()
    }
    assert len(first_days) == 5  # only the staged days

    stage(files[5:], time.time() - 1000)
    run_available_now(spark, str(in_dir / "*.json"), stock, ckpt, out_dir)

    streamed = (
        spark.read.parquet(out_dir)
        .select("transaction_id", "product_id", "line_pos", "quantity")
        .toPandas()
        .set_index(["transaction_id", "product_id", "line_pos"])["quantity"]
        .to_dict()
    )
    raw = read_transactions_json(spark, str(gen.dir / "transactions_*.json"))
    batch = (
        process_lines(
            explode_transactions(raw), products, process_order="timestamp"
        )
        .select("transaction_id", "product_id", "line_pos", "quantity")
        .toPandas()
        .set_index(["transaction_id", "product_id", "line_pos"])["quantity"]
        .to_dict()
    )
    assert len(streamed) == len(batch) == gen.n_lines
    # no reprocessing: RAW output row count (before key collapse) equals
    # the batch line count — replayed days would appear as extra rows
    assert spark.read.parquet(out_dir).count() == gen.n_lines
    assert 0 < n_first < gen.n_lines
    # a line cancels only once stock carried over the restart runs out
    assert 0 in batch.values()
    diffs = {k for k in batch if streamed.get(k) != batch[k]}
    assert not diffs, f"{len(diffs)} mismatching lines, e.g. {sorted(diffs)[:5]}"


def test_stream_stream_funnel_matches_batch(spark, tmp_path):
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
        _t,
    )
    from retail_data_pipeline_and_forecasting_system_spark.streaming import (
        streaming_funnel_join,
    )

    sf = "/root/testdata/sf0.001"
    # stage the (micro-)event log as a file stream source
    ev_dir = str(tmp_path / "ev_stream")
    _t(spark, sf, "events").write.parquet(ev_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(ev_dir).schema
    ).parquet(ev_dir)

    q = (
        streaming_funnel_join(stream)
        .writeStream.format("memory")
        .queryName("funnel_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["n_conversions"])
        for r in spark.sql(
            "SELECT user_id, count(*) AS n_conversions FROM funnel_mem "
            "GROUP BY user_id"
        ).collect()
    }
    want = {
        (r["user_id"], r["n_conversions"])
        for r in QUERIES["j7_funnel"].fn(spark, sf).collect()
    }
    assert got == want and len(got) > 0


def test_idempotent_sink_replay_does_not_duplicate(spark, gen, tmp_path):
    """Simulate the crash-replay an at-least-once checkpoint produces: run
    the same stream TWICE against the same output dir with a FRESH
    checkpoint (so every epoch replays). The per-epoch dynamic partition
    overwrite must converge to the same rows, not append duplicates."""
    from retail_data_pipeline_and_forecasting_system_spark.streaming import (
        idempotent_parquet_sink,
        read_transaction_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for day in sorted(gen.dir.glob("transactions_*.json"))[:2]:
        shutil.copy(day, in_dir / day.name)
    out_dir = str(tmp_path / "out")

    def run(ckpt: str) -> None:
        lines = read_transaction_stream(spark, str(in_dir / "*.json")).select(
            "transaction_id", "product_id", "line_pos", "qty"
        )
        (
            lines.writeStream.foreachBatch(idempotent_parquet_sink(out_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run(str(tmp_path / "ckpt1"))
    # materialize eagerly: the replay below rewrites the same files
    a = {
        tuple(r)
        for r in spark.read.parquet(out_dir).drop("batch_id").collect()
    }
    assert len(a) > 0
    # replay everything: fresh checkpoint, same sink dir
    run(str(tmp_path / "ckpt2"))
    second = spark.read.parquet(out_dir)
    b = {tuple(r) for r in second.drop("batch_id").collect()}
    assert second.count() == len(a)
    assert a == b


def test_streaming_quarantine_routes_and_converges(spark, gen, tmp_path):
    """The streaming data-quality gate: clean/quarantine routing must (a)
    partition every arriving row exactly once, (b) equal the batch-mode
    split over the same data, and (c) converge — not duplicate — when
    every epoch replays against a fresh checkpoint."""
    from retail_data_pipeline_and_forecasting_system_spark.operators import (
        quality as Q,
    )
    from retail_data_pipeline_and_forecasting_system_spark.streaming import (
        quarantine_parquet_sink,
        read_transaction_stream,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for day in sorted(gen.dir.glob("transactions_*.json"))[:2]:
        shutil.copy(day, in_dir / day.name)
    clean_dir, bad_dir = str(tmp_path / "clean"), str(tmp_path / "bad")

    # qty range chosen to actually reject rows in this dataset
    rules = [
        Q.not_null("qty"),
        Q.in_range("qty", 1, 3),
    ]

    def run(ckpt: str) -> None:
        lines = read_transaction_stream(spark, str(in_dir / "*.json")).select(
            "transaction_id", "product_id", "line_pos", "qty"
        )
        (
            lines.writeStream.foreachBatch(
                quarantine_parquet_sink(clean_dir, bad_dir, rules)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run(str(tmp_path / "ckpt1"))
    clean = spark.read.parquet(clean_dir).drop("batch_id")
    bad = spark.read.parquet(bad_dir).drop("batch_id")
    n_clean, n_bad = clean.count(), bad.count()
    assert n_bad > 0, "rules must reject something for this test to bite"
    assert "violated" in bad.columns and "violated" not in clean.columns

    # equals the batch-mode split of the same files
    batch = read_transactions_json(spark, str(in_dir / "*.json"))
    from retail_data_pipeline_and_forecasting_system_spark.plans.retail import (
        explode_transactions,
    )

    batch_lines = (
        explode_transactions(batch)
        .select("transaction_id", "product_id", "line_pos", "qty")
        # read_transaction_stream drops cancelled (null-qty) lines at the
        # source; mirror it so the splits compare over the same rows
        .filter(F.col("qty").isNotNull())
    )
    b_clean, b_bad = Q.split_by_expectations(batch_lines, rules)
    assert n_clean + n_bad == batch_lines.count()
    assert n_clean == b_clean.count() and n_bad == b_bad.count()
    assert {tuple(r) for r in bad.collect()} == {
        tuple(r) for r in b_bad.collect()
    }

    # full replay with a fresh checkpoint: both sides converge
    run(str(tmp_path / "ckpt2"))
    assert spark.read.parquet(clean_dir).count() == n_clean
    assert spark.read.parquet(bad_dir).count() == n_bad

    # round-3 ADVICE: the sink must not leave the session pinned to
    # 'dynamic' when partitionOverwriteMode was UNSET before the batch
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        is None
    ), "sink leaked partitionOverwriteMode=dynamic into the session"


def test_streaming_transitions_match_batch_markov(spark, tmp_path):
    """Per-user transition extraction with cross-micro-batch state: a
    3-slice time-ordered replay of the events table yields exactly the
    batch e8 lead-window's transition counts — the boundary transition
    between slices comes from carried state."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
        _t,
    )
    from retail_data_pipeline_and_forecasting_system_spark.streaming.aggregates import (
        streaming_transitions,
    )

    ev = _t(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    # 3 time slices with ascending mtimes -> 3 micro-batches in order
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    bounds = ev.selectExpr(
        "percentile(cast(ts as long), array(0.33, 0.66)) AS b"
    ).head()["b"]
    slices = [
        ev.filter(F.col("ts").cast("long") <= bounds[0]),
        ev.filter(
            (F.col("ts").cast("long") > bounds[0])
            & (F.col("ts").cast("long") <= bounds[1])
        ),
        ev.filter(F.col("ts").cast("long") > bounds[1]),
    ]
    for i, sl in enumerate(slices):
        p = in_dir / f"slice_{i}.parquet"
        sl.coalesce(1).write.mode("overwrite").parquet(str(p))
        ts = time.time() - 100 + i
        os.utime(p, (ts, ts))
        for f in Path(p).glob("*"):
            os.utime(f, (ts, ts))

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(in_dir / "*.parquet"))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        streaming_transitions(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()

    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in spark.read.parquet(out_dir)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in QUERIES["e8_markov_transitions"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want


def test_streaming_ohlc_matches_batch(spark, tmp_path):
    """streaming_ohlc_bars over the real events table (replayed as a
    file stream) produces exactly the batch h7_ohlc_bars rows — the
    algebraic min_by/max_by state must survive micro-batch merging,
    including the open-tie broken by event_id."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
        _t,
    )
    from retail_data_pipeline_and_forecasting_system_spark.streaming import (
        streaming_ohlc_bars,
    )

    # normalize the driver testdata's ts encoding (nanos vs micros)
    # through the batch loader, then restage as a clean parquet dir
    in_dir = tmp_path / "events.parquet"
    ev = _t(spark, "/root/testdata/sf0.001", "events")
    ev.repartition(4).write.parquet(str(in_dir))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(str(in_dir))
    )
    q = (
        streaming_ohlc_bars(stream)
        .writeStream.format("memory")
        .queryName("ohlc_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    key = ["event_type", "bucket_start"]
    got = {
        tuple(str(r[k]) for k in key): (
            r["n_points"], r["open_v"], r["high_v"], r["low_v"], r["close_v"]
        )
        for r in spark.sql("SELECT * FROM ohlc_mem").collect()
    }
    want = {
        tuple(str(r[k]) for k in key): (
            r["n_points"], r["open_v"], r["high_v"], r["low_v"], r["close_v"]
        )
        for r in QUERIES["h7_ohlc_bars"].fn(spark, str(tmp_path)).collect()
    }
    assert got == want and len(got) > 50


def test_streaming_attribution_matches_batch_e9(spark, tmp_path):
    """Last-touch attribution with cross-micro-batch state: a 3-slice
    time-ordered replay of the events table yields exactly the batch
    e9 window pair's output — carried state supplies the cross-slice
    last touch AND the range-frame touch count (ties never split
    slices: the percentile bounds cut between distinct timestamps)."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
        _t,
    )
    from retail_data_pipeline_and_forecasting_system_spark.streaming.aggregates import (
        streaming_attribution,
    )

    ev = _t(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    bounds = ev.selectExpr(
        "percentile(cast(ts as long), array(0.33, 0.66)) AS b"
    ).head()["b"]
    slices = [
        ev.filter(F.col("ts").cast("long") <= bounds[0]),
        ev.filter(
            (F.col("ts").cast("long") > bounds[0])
            & (F.col("ts").cast("long") <= bounds[1])
        ),
        ev.filter(F.col("ts").cast("long") > bounds[1]),
    ]
    for i, sl in enumerate(slices):
        p = in_dir / f"slice_{i}.parquet"
        sl.coalesce(1).write.mode("overwrite").parquet(str(p))
        ts = time.time() - 100 + i
        os.utime(p, (ts, ts))
        for f in Path(p).glob("*"):
            os.utime(f, (ts, ts))

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(in_dir / "*.parquet"))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        streaming_attribution(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()

    cols = ["last_touch_type", "last_touch_id", "us_since_touch",
            "n_touches_7d"]
    got = {
        r["event_id"]: tuple(r[c] for c in cols)
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        r["event_id"]: tuple(r[c] for c in cols)
        for r in QUERIES["e9_attribution"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert got == want
