"""Round-14 optimization internals: the gated fan-out, plan-metadata
memoization, shared-exchange shingle/tf layouts, the e2 max-rewrite and
the scale-derived depletion bucket default.

Every optimization here is also covered value-exactly by
test_oracle_parity (results unchanged); these tests pin the MECHANISMS
so a regression is caught at the plan/behavior level, not just as a
slow build.
"""

from __future__ import annotations

import contextlib
import io
import re
import threading

import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
    _fan,
    _t,
)


def _plan(spark, name, sf):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name].fn(spark, sf).explain("formatted")
    return buf.getvalue()


def test_t_memoizes_plan_per_session_and_table(spark, sf_dir):
    """_t caches the lazy frame (schema + file index) — METADATA only;
    actions still scan parquet. Same session + path -> same object."""
    a = _t(spark, sf_dir, "lineitem")
    b = _t(spark, sf_dir, "lineitem")
    assert a is b
    # a different sf_dir is a different cache entry
    c = _t(spark, sf_dir.replace("0.001", "0.01"), "lineitem")
    assert c is not a


def test_t_repins_utc_on_memoized_events(spark, sf_dir):
    """The events tz contract survives a cache hit: another caller may
    have flipped the session tz between registry queries."""
    _t(spark, sf_dir, "events")  # populate cache
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        _t(spark, sf_dir, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_fan_fires_only_below_the_layout_deficit_gate(spark, sf_dir):
    """_fan repartitions when total input bytes < parallelism x
    maxPartitionBytes (the test files are tiny, so it fires); with the
    threshold forced to zero-ish it must return the frame untouched —
    the at-scale behavior."""
    li = _t(spark, sf_dir, "lineitem")
    fanned = _fan(li, "l_orderkey")
    assert fanned is not li  # gate fired: tiny input, wide machine
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
        assert _fan(li, "l_orderkey") is li  # gate off: plan untouched
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_fan_is_deterministic_hash_not_roundrobin(spark, sf_dir):
    """Hash repartition on a stable key — retried tasks reproduce row
    placement (the guide's SPARK-38388 note); round-robin would show
    as RoundRobinPartitioning in the plan."""
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    assert "RoundRobinPartitioning" not in plan
    assert re.search(r"hashpartitioning\(l_orderkey", plan)


def test_shingle_pair_family_shares_one_exchange(spark, sf_dir):
    """d2/d10: the (doc_id, shingle) distinct, the df-cap aggregate and
    the pair self-join all reuse the single shingle-keyed repartition —
    the old per-step exchange keys must not reappear."""
    for name in ("d2_jaccard_pairs", "d10_containment_pairs"):
        plan = _plan(spark, name, sf_dir)
        assert not re.search(
            r"hashpartitioning\(doc_id#\d+L?, shingle", plan
        ), f"{name}: the distinct re-grew its own (doc_id, shingle) exchange"
        assert re.search(r"hashpartitioning\(shingle", plan), name


def test_minhash_buckets_persist_join_partitioned(spark, sf_dir):
    """d3's bucket frame persists hash-partitioned on (band, bucket) so
    the candidate self-join re-exchanges nothing."""
    plan = _plan(spark, "d3_minhash_lsh", sf_dir)
    assert len(re.findall(r"hashpartitioning\(band", plan)) == 1


def test_tfidf_persists_token_partitioned(spark, sf_dir):
    """x5's tf frame persists token-partitioned: the doc-freq
    re-aggregate and the tf join reuse it; the old (doc_id, token)
    aggregate exchange must not reappear."""
    plan = _plan(spark, "x5_tfidf", sf_dir)
    assert not re.search(r"hashpartitioning\(doc_id#\d+L?, token", plan)
    assert re.search(r"hashpartitioning\(token", plan)


def test_e2_max_equals_count_distinct_on_hostile_sessions(spark, tmp_path):
    """n_sessions via max(session_id) == countDistinct(session_id) by
    construction. Hostile fixture: equal timestamps inside a session,
    a user with one event, back-to-back boundary gaps."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # user 1: gap of EXACTLY 1800 s is boundary-inclusive same-session
    # (rule is strictly >), the 1801 s gap opens session 2; duplicate
    # timestamps within the first session
    rows += [
        (1, base, 10, "click", 1.0),
        (1, base, 11, "click", 1.0),
        (1, base + dt.timedelta(seconds=1800), 12, "click", 1.0),
        (1, base + dt.timedelta(seconds=1800 + 1801), 13, "click", 1.0),
    ]
    # user 2: a single event (exactly one session)
    rows += [(2, base, 20, "view", 1.0)]
    # user 3: every event its own session
    rows += [
        (3, base + dt.timedelta(seconds=i * 2000), 30 + i, "view", 1.0)
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, "
        "event_type string, value double"
    )
    path = str(tmp_path / "events.parquet")
    df.write.parquet(path)
    out = QUERIES["e2_sessionize"].fn(spark, str(tmp_path)).collect()
    got = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in out}
    assert got == {1: (2, 4), 2: (1, 1), 3: (4, 4)}


def test_copurchase_edges_persist_src_partitioned(spark, sf_dir):
    """The shared co-purchase edge frame hands itself over
    SRC-partitioned so every iterative consumer's per-round src-join
    re-exchanges nothing (measured pr1 6.59 -> 3.33 s at sf0.01)."""
    plan = _plan(spark, "pr1_copurchase_pagerank", sf_dir)
    assert re.search(r"hashpartitioning\(src", plan)


def test_connected_components_edges_cached_v_partitioned(spark, monkeypatch):
    """connected_components persists its edge frame (each round's
    convergence count() is an ACTION — unpersisted, the whole upstream
    pair pipeline re-ran per iteration), persists it V-partitioned
    (each round's first join is on v; measured d8 7.30 -> 3.22 s at
    sf0.01), and — r15, per the r14 ADVICE — releases the cache BEFORE
    returning: labels is a localCheckpoint with no edge lineage, so
    direct library callers (dup_clusters outside the registry) no
    longer accumulate one live cache per invocation."""
    from retail_data_pipeline_and_forecasting_system_spark import caching
    from retail_data_pipeline_and_forecasting_system_spark.operators.graph import (
        connected_components,
    )

    # patch the CONCRETE DataFrame class (pyspark 4's classic.DataFrame
    # overrides the abstract base's persist, so patching the base from
    # `pyspark.sql import DataFrame` never intercepts)
    cls = type(spark.range(1))
    persisted = []
    orig = cls.persist

    def capture(self, *a, **k):
        out = orig(self, *a, **k)
        persisted.append(out)
        return out

    monkeypatch.setattr(cls, "persist", capture)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    live = caching.state(spark).live
    live_before = list(live.get(threading.get_ident(), []))
    out = connected_components(pairs)
    assert persisted, "edge frame is no longer persisted for the loop"
    edge_plans = [
        df._jdf.queryExecution().executedPlan().toString()
        for df in persisted
    ]
    assert any(
        re.search(r"hashpartitioning\(v#", p) for p in edge_plans
    ), "edge cache lost its v-partitioned layout"
    # released on return (not leaked to a registry release that library
    # callers never trigger); nothing newly registered in the registry
    assert all(not df.storageLevel.useMemory for df in persisted)
    assert list(live.get(threading.get_ident(), [])) == live_before
    # and the result is still the exact component labelling
    got = {(r["doc_id"], r["component"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_depletion_bucket_default_tracks_parallelism(spark, sf_dir):
    """num_buckets=None derives 2 x defaultParallelism (bounded by the
    dim cardinality since r15 — part at sf0.001 has 200 rows, so the
    bound does not bind here). Pinned via the plan's pmod."""
    plan = _plan(spark, "a5_inventory_depletion", sf_dir)
    want = 2 * spark.sparkContext.defaultParallelism
    assert re.search(
        rf"pmod\(hash\(product_id#\d+L?, 42\), {want}\)", plan
    ), f"expected pmod(..., {want}) in plan"
