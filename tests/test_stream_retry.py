"""Retry determinism of the streaming ``foreachBatch`` sinks.

A failed epoch is re-run by the query, not by a task retry: the sink
raises, the query stops, and a restart from the same checkpoint replays
the uncommitted batch. Each test drains one generated feed twice through
``drain_available_now``, into fresh checkpoint and output directories.
The second run's sink raises on its first call for one ``batch_id``,
either after it has written (the replay must then be skipped by
``versioned_state_sink``'s epoch guard) or before; the query is
restarted from the same checkpoint. The final sink output must be
byte-identical (Arrow IPC of the sorted rows) to the clean run's.
"""

from __future__ import annotations

import glob
import hashlib
import io
import json
import os
import shutil
import time

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.sources.versioned import (
    current_version,
    read_version,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming.dedup_stream import (
    incremental_dedup_sink,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming.rollup_stream import (
    rollup_state_sink,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming.sinks import (
    drain_available_now,
)

SF = "/root/testdata/sf0.001"
N_FILES = 3
FAIL_BATCH = 1


def _digest(df):
    t = df.toArrow()
    t = t.sort_by([(c, "ascending") for c in t.column_names]).combine_chunks()
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha256(sink.getvalue()).hexdigest(), t.num_rows


def _age(paths):
    # the file source orders a drop-dir by modification time
    for i, p in enumerate(sorted(paths)):
        ts = time.time() - 1000 + i
        os.utime(p, (ts, ts))


def _fail_once(sink, after_write):
    calls = []

    def wrapped(batch_df, batch_id):
        if batch_id == FAIL_BATCH and not calls:
            calls.append(batch_id)
            if after_write:
                sink(batch_df, batch_id)
            raise RuntimeError(f"injected sink failure at batch {batch_id}")
        sink(batch_df, batch_id)

    return wrapped, calls


def _drain_twice(spark, tmp_path, run, after_write):
    """Clean run, then a run whose sink fails once and restarts."""
    clean = run(tmp_path / "clean", lambda sink: sink)
    failed = []

    def with_failure(sink):
        wrapped, calls = _fail_once(sink, after_write)
        failed.append(calls)
        return wrapped

    with pytest.raises(Exception, match="injected sink failure"):
        run(tmp_path / "retried", with_failure)
    assert failed[0] == [FAIL_BATCH]
    retried = run(tmp_path / "retried", lambda sink: sink)
    return clean, retried


def test_rollup_sink_replay_after_write_is_byte_identical(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    feed = tmp_path / "feed"
    feed.mkdir()
    for i in range(N_FILES):
        out = str(tmp_path / "slices" / str(i))
        one = orders.filter(F.col("o_orderkey") % N_FILES == i)
        one.coalesce(1).write.parquet(out)
        (part,) = glob.glob(f"{out}/*.parquet")
        shutil.copy(part, feed / f"part-{i}.parquet")
    _age(feed.glob("*.parquet"))
    schema = (
        "o_orderkey long, o_custkey long, o_totalprice double,"
        " o_orderdate timestamp"
    )

    def run(out, wrap):
        table = str(out / "state")
        drain_available_now(
            spark, str(feed), schema, 1,
            wrap(rollup_state_sink(table)), str(out / "ckpt"),
        )
        versions = current_version(table)
        return versions, [
            _digest(read_version(spark, table, v))
            for v in range(1, versions + 1)
        ]

    clean, retried = _drain_twice(spark, tmp_path, run, after_write=True)
    assert clean[0] == N_FILES  # one committed version per epoch
    assert retried == clean


def test_dedup_sink_replay_before_write_is_byte_identical(spark, tmp_path):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    feed = tmp_path / "feed"
    feed.mkdir()
    for i in range(N_FILES):
        (feed / f"day_{i}.json").write_text(
            "\n".join(
                json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                for r in docs[i::N_FILES]
            )
        )
    _age(feed.glob("*.json"))

    def run(out, wrap):
        corpus, verdicts = str(out / "corpus"), str(out / "verdicts")
        drain_available_now(
            spark, str(feed / "*.json"), "doc_id long, text string", 1,
            wrap(incremental_dedup_sink(corpus, verdicts)),
            str(out / "ckpt"), fmt="json",
        )
        return (
            _digest(spark.read.parquet(corpus)),
            _digest(spark.read.parquet(verdicts)),
        )

    clean, retried = _drain_twice(spark, tmp_path, run, after_write=False)
    assert clean[1][1] == len(docs)  # one verdict per document
    assert retried == clean
