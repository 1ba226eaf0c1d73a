"""Per-session engine state (``caching.py``) under concurrent callers:
tracked persists are scoped to the calling thread, so one thread's
registry entry never releases another thread's intermediates."""

from __future__ import annotations

import sys
import threading

from retail_data_pipeline_and_forecasting_system_spark import caching
from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)

from conftest import duck_connect
from test_oracle_parity import TABLES, _compare, _normalize


def test_concurrent_registry_queries_keep_each_others_caches(
    spark, sf_dir, monkeypatch
):
    """Thread A builds x5_tfidf, whose tf frame is a tracked persist,
    and materializes it. Thread B then runs d2_jaccard_pairs (its own
    tracked persist) and enters p1_filter_null. B's second entry
    releases B's d2 frame and nothing of A's: A's tf frame is still
    cached when A collects. All three results equal their DuckDB
    oracles."""
    # record every persist with the thread that made it (patch the
    # concrete class: pyspark 4's classic.DataFrame overrides persist)
    cls = type(spark.range(1))
    orig = cls.persist
    persisted: list[tuple[int, object]] = []

    def capture(self, *a, **k):
        out = orig(self, *a, **k)
        persisted.append((threading.get_ident(), out))
        return out

    monkeypatch.setattr(cls, "persist", capture)
    st = caching.state(spark)
    keep_prior = st.keep_caches
    st.keep_caches = False
    a_built, b_done = threading.Event(), threading.Event()
    got, cached, errors = {}, {}, []

    def frames_of(ident):
        return [df for t, df in persisted if t == ident]

    def run_a():
        try:
            df = QUERIES["x5_tfidf"].fn(spark, sf_dir)
            df.count()  # populates the tf cache
            a_built.set()
            assert b_done.wait(timeout=600), "thread B never finished"
            cached["a"] = [
                f.storageLevel.useMemory
                for f in frames_of(threading.get_ident())
            ]
            got["x5_tfidf"] = df.toPandas()
        except Exception as exc:  # re-raised in the main thread
            errors.append(exc)
        finally:
            a_built.set()
            caching.drop_stale(spark)

    def run_b():
        try:
            assert a_built.wait(timeout=600), "thread A never built"
            got["d2_jaccard_pairs"] = QUERIES["d2_jaccard_pairs"].fn(
                spark, sf_dir
            ).toPandas()
            got["p1_filter_null"] = QUERIES["p1_filter_null"].fn(
                spark, sf_dir
            ).toPandas()
            cached["b"] = [
                f.storageLevel.useMemory
                for f in frames_of(threading.get_ident())
            ]
        except Exception as exc:
            errors.append(exc)
        finally:
            b_done.set()
            caching.drop_stale(spark)

    threads = [threading.Thread(target=run_a), threading.Thread(target=run_b)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=900)
    finally:
        st.keep_caches = keep_prior
    assert not any(t.is_alive() for t in threads)
    if errors:
        raise errors[0]

    # A's tf frame survived B's entries; B's own d2 frame did not
    assert cached["a"] and all(cached["a"]), cached["a"]
    assert cached["b"] and not any(cached["b"]), cached["b"]

    con = duck_connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, mine in got.items():
        want = con.execute(QUERIES[name].sql).df()
        _compare(_normalize(mine), _normalize(want), name)


def test_tracking_from_many_threads_loses_no_frame(spark):
    """More threads than cores track frames at once under a tiny switch
    interval: each thread's list holds exactly its own frames, and each
    thread's release empties only its own list."""
    n_threads, per_thread = 8, 50
    st = caching.state(spark)
    keep_prior = st.keep_caches
    st.keep_caches = False
    df = spark.range(1)
    ready = threading.Barrier(n_threads, timeout=60)
    counts, released, errors = {}, {}, []

    def run():
        me = threading.get_ident()
        try:
            ready.wait()
            for _ in range(per_thread):
                caching.track(df)
            ready.wait()
            counts[me] = len(st.live[me])
            ready.wait()
            caching.drop_stale(spark)
            released[me] = me not in st.live
        except Exception as exc:  # re-raised in the main thread
            errors.append(exc)
            ready.abort()

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    threads = [threading.Thread(target=run) for _ in range(n_threads)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
        st.keep_caches = keep_prior
    assert not any(t.is_alive() for t in threads)
    if errors:
        raise errors[0]
    assert sorted(counts.values()) == [per_thread] * n_threads
    assert len(released) == n_threads and all(released.values())
