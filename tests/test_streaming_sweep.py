"""One sweep over every foreachBatch sink in ``streaming/``: two epochs
applied with the session's ``partitionOverwriteMode`` pinned to STATIC.

Each case asserts three things the shared epoch scaffold
(``streaming/sinks.py``) promises:

- epoch 0's output survives epoch 1 unchanged — for the epoch-partitioned
  stores that holds only if dynamic overwrite comes from the WRITER, since
  a STATIC overwrite of the store root would delete ``batch_id=0``;
- the session conf still reads STATIC, so no sink sets or unsets it;
- ``getPersistentRDDs()`` holds the same set before and after, so every
  persist a sink makes is released on the path that made it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.operators import (
    quality as Q,
)
from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import _t
from retail_data_pipeline_and_forecasting_system_spark.sources.versioned import (
    read_version,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming import (
    anomaly_state_sink,
    cdc_apply_sink,
    freeze_eval_index,
    idempotent_parquet_sink,
    incremental_dedup_sink,
    incremental_semantic_model_sink,
    incremental_semantic_sink,
    m4_state_sink,
    manifest_state_sink,
    quarantine_parquet_sink,
    rollup_state_sink,
    scrub_state_sink,
    segment_dedup_sink,
    zone_state_sink,
)

from conftest import TESTDATA

SF = str(TESTDATA / "sf0.001")
CONF = "spark.sql.sources.partitionOverwriteMode"
DIM = 8


def _vec(axis: int, bump: float = 0.0) -> list[float]:
    v = [0.0] * DIM
    v[axis] = 1.0
    v[3] += bump
    return v


def _halves(df, key: str):
    return [df.filter(F.col(key) % 2 == i) for i in range(2)]


# Each case builds (sink, [epoch 0 frame, epoch 1 frame], stores, cleanup)
# under tmp dir ``d``. A store is (path, partition column) for an
# epoch-partitioned store, or (path, None) for a versioned table, whose
# epoch-0 output is version 1.


def _idempotent(spark, d):
    schema = "k long, v string"
    epochs = [
        spark.createDataFrame([(1, "a"), (2, "b")], schema),
        spark.createDataFrame([(3, "c")], schema),
    ]
    return idempotent_parquet_sink(f"{d}/out"), epochs, [
        (f"{d}/out", "batch_id")
    ], []


def _quarantine(spark, d):
    schema = "k long, qty int"
    epochs = [
        spark.createDataFrame([(1, 2), (2, 9), (3, None)], schema),
        spark.createDataFrame([(4, 1), (5, 7)], schema),
    ]
    rules = [Q.not_null("qty"), Q.in_range("qty", 1, 3)]
    sink = quarantine_parquet_sink(f"{d}/clean", f"{d}/bad", rules)
    return sink, epochs, [
        (f"{d}/clean", "batch_id"), (f"{d}/bad", "batch_id")
    ], []


def _dedup(spark, d):
    schema = "doc_id long, text string"
    epochs = [
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over"),
             (2, "an entirely different sentence here")],
            schema,
        ),
        spark.createDataFrame(
            [(3, "the quick brown fox jumps over"),
             (4, "some novel words arrive later")],
            schema,
        ),
    ]
    sink = incremental_dedup_sink(f"{d}/corpus", f"{d}/verdicts")
    return sink, epochs, [
        (f"{d}/corpus", "batch_id"), (f"{d}/verdicts", "batch_id")
    ], []


def _vectors(spark):
    schema = "vec_id long, embedding array<double>"
    return [
        spark.createDataFrame([(1, _vec(0)), (2, _vec(1))], schema),
        spark.createDataFrame(
            [(3, _vec(0)), (4, _vec(0, 0.2)), (5, _vec(2))], schema
        ),
    ]


def _semantic_refit(spark, d):
    sink = incremental_semantic_sink(f"{d}/corpus", f"{d}/verdicts")
    return sink, _vectors(spark), [
        (f"{d}/corpus", "batch_id"), (f"{d}/verdicts", "batch_id")
    ], []


def _semantic_model(spark, d):
    sink = incremental_semantic_model_sink(
        f"{d}/corpus", f"{d}/verdicts", f"{d}/model"
    )
    return sink, _vectors(spark), [
        (f"{d}/corpus", "batch_id"),
        (f"{d}/verdicts", "batch_id"),
        (f"{d}/model", "epoch"),
    ], []


def _segment(key):
    def case(spark, d):
        schema = "doc_id long, text string"
        epochs = [
            spark.createDataFrame(
                [(1, "the cookie banner alpha beta gamma"),
                 (2, "the cookie banner delta words here")],
                schema,
            ),
            spark.createDataFrame(
                [(3, "fresh stuff now the cookie banner")], schema
            ),
        ]
        sink = segment_dedup_sink(
            f"{d}/segs", f"{d}/docs", seg_words=3, key=key
        )
        return sink, epochs, [
            (f"{d}/segs", "batch_id"), (f"{d}/docs", "batch_id")
        ], []

    return case


def _cdc(spark, d):
    schema = "k long, op string, seq long, val string"
    epochs = [
        spark.createDataFrame(
            [(1, "upsert", 1, "a"), (2, "upsert", 2, "b")], schema
        ),
        spark.createDataFrame(
            [(1, "delete", 3, None), (3, "upsert", 4, "c")], schema
        ),
    ]
    return cdc_apply_sink(f"{d}/table", "k"), epochs, [
        (f"{d}/table", None)
    ], []


def _orders(spark, *extra):
    cols = ["o_orderkey", "o_custkey", *extra, "o_totalprice", "o_orderdate"]
    return spark.read.parquet(f"{SF}/orders.parquet").select(cols)


def _documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )


def _state(make_sink, frames, key):
    def case(spark, d):
        return make_sink(f"{d}/table"), _halves(frames(spark), key), [
            (f"{d}/table", None)
        ], []

    return case


def _scrub(spark, d):
    docs = _documents(spark)
    idx = freeze_eval_index(docs)
    frozen = [v for v in idx.values() if hasattr(v, "unpersist")]
    for frame in frozen:
        frame.count()  # the index is cached before the sweep's snapshot
    return scrub_state_sink(idx, f"{d}/table"), _halves(docs, "doc_id"), [
        (f"{d}/table", None)
    ], frozen


CASES = {
    "idempotent_parquet_sink": _idempotent,
    "quarantine_parquet_sink": _quarantine,
    "incremental_dedup_sink": _dedup,
    "incremental_semantic_sink": _semantic_refit,
    "incremental_semantic_model_sink": _semantic_model,
    "segment_dedup_sink[text]": _segment("text"),
    "segment_dedup_sink[md5]": _segment("md5"),
    "cdc_apply_sink": _cdc,
    "rollup_state_sink": _state(rollup_state_sink, _orders, "o_orderkey"),
    "anomaly_state_sink": _state(anomaly_state_sink, _orders, "o_orderkey"),
    "manifest_state_sink": _state(manifest_state_sink, _documents, "doc_id"),
    "scrub_state_sink": _scrub,
    "zone_state_sink": _state(
        zone_state_sink,
        lambda spark: _orders(spark, "o_orderstatus"),
        "o_orderkey",
    ),
    "m4_state_sink": _state(
        m4_state_sink,
        lambda spark: _t(spark, SF, "events").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ),
        "event_id",
    ),
}


def _epoch0(spark, path, col):
    df = (
        read_version(spark, path, 1)
        if col is None
        else spark.read.parquet(path).filter(F.col(col) == 0)
    )
    df = df.select(sorted(df.columns))
    return sorted(repr(tuple(r)) for r in df.collect())


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.fixture
def static_overwrite(spark):
    old = spark.conf.get(CONF, None)
    spark.conf.set(CONF, "STATIC")
    yield
    if old is None:
        spark.conf.unset(CONF)
    else:
        spark.conf.set(CONF, old)


@pytest.mark.parametrize("name", list(CASES))
def test_sink_keeps_epoch0_session_conf_and_caches(
    spark, tmp_path, static_overwrite, name
):
    sink, epochs, stores, cleanup = CASES[name](spark, str(tmp_path))
    try:
        cached_before = _persisted(spark)
        sink(epochs[0], 0)
        after_0 = {p: _epoch0(spark, p, c) for p, c in stores}
        assert all(after_0.values()), f"{name}: epoch 0 wrote an empty store"
        sink(epochs[1], 1)
        for p, c in stores:
            assert _epoch0(spark, p, c) == after_0[p], (
                f"{name}: epoch 1 replaced epoch 0's output in {p}"
            )
        assert spark.conf.get(CONF) == "STATIC", f"{name} changed {CONF}"
        assert _persisted(spark) == cached_before, (
            f"{name}: persisted frames changed across the two epochs"
        )
    finally:
        for frame in cleanup:
            frame.unpersist()
