"""Round-7 additions: x30 DSIR semantics on a hand-built corpus, the
registry cache-hygiene scope, and the PQ codebook contiguity guard.

The x30 test is the round-6 verdict's item 4: x30 was covered only by
oracle parity, and an oracle sharing the engine's bucketing/fold bugs
would hide them. Here the expected scores come from an INDEPENDENT
pure-Python reimplementation (hashlib + math, no Spark/DuckDB), on a
corpus built so the ranking is also derivable by eye: a doc written
entirely in the target (en) vocabulary must outscore one written
entirely in raw-only vocabulary.
"""

from __future__ import annotations

import hashlib
import math
import re
import threading
import time

import pytest

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)

# (doc_id, text, lang, source): docs 1-3 define the en target vocabulary
# {apple banana cherry date}, docs 4-5 pad the raw corpus with words the
# target never uses; docs 10/11 are the scored contrast pair.
HAND_CORPUS = [
    (1, "apple banana cherry", "en", "web"),
    (2, "banana cherry date apple", "en", "web"),
    (3, "apple banana apple cherry", "en", "books"),
    (4, "zebra quark nebula vortex", "de", "web"),
    (5, "quark vortex zebra nebula zebra", "de", "books"),
    (10, "apple banana cherry date", "xx", "crawl"),  # pure target words
    (11, "zebra quark nebula vortex", "xx", "crawl"),  # pure raw-only words
]


def _dsir_python(corpus):
    """Independent DSIR: unigram+bigram -> first-md5-byte bucket ->
    add-one smoothed target/raw bag models -> per-doc bucket-ordered
    sequential fold of tf * lr. Pure Python, shared with nothing."""

    def grams(text):
        w = re.split(r"\s+", text.lower())
        return w + [f"{a}_{b}" for a, b in zip(w, w[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:2], 16)

    tgt: dict[int, int] = {}
    raw: dict[int, int] = {}
    tf: dict[int, dict[int, int]] = {}
    for doc_id, text, lang, _src in corpus:
        for g in grams(text):
            b = bucket(g)
            raw[b] = raw.get(b, 0) + 1
            if lang == "en":
                tgt[b] = tgt.get(b, 0) + 1
            d = tf.setdefault(doc_id, {})
            d[b] = d.get(b, 0) + 1
    t_t, t_r = sum(tgt.values()), sum(raw.values())
    lam = {}
    for doc_id, counts in tf.items():
        acc = 0.0
        for b in sorted(counts):
            lr = math.log((tgt.get(b, 0) + 1) / (t_t + 256)) - math.log(
                (raw[b] + 1) / (t_r + 256)
            )
            acc = acc + counts[b] * lr
        lam[doc_id] = round(acc, 6)
    return lam


def test_x30_dsir_ranking_on_hand_corpus(spark, tmp_path):
    rows = [(d, t, lg, s, len(t)) for d, t, lg, s in HAND_CORPUS]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = QUERIES["x30_dsir_selection"].fn(spark, str(tmp_path)).collect()
    want = _dsir_python(HAND_CORPUS)

    # ranking law visible by eye: the pure-target-vocab doc outscores the
    # pure-raw-vocab doc
    order = [r["doc_id"] for r in got]
    assert order.index(10) < order.index(11)
    got_lam = {r["doc_id"]: r["lam"] for r in got}
    assert got_lam[10] > got_lam[11]

    # exact order: lam desc, ties to lowest doc_id — vs independent calc
    want_order = sorted(want, key=lambda d: (-want[d], d))
    assert order == want_order
    # values match the independent fold (1-ulp ln() slack under round6)
    for d, l in got_lam.items():
        assert l == pytest.approx(want[d], abs=1e-6)


def test_registry_queries_release_predecessor_caches(spark, sf_dir):
    """Round-6 verdict item 5: a registry query's persisted intermediates
    must not outlive the next registry query's entry."""
    from retail_data_pipeline_and_forecasting_system_spark import caching

    # other suites may have left tracked (direct operator calls) or
    # untracked persists on the shared session; pin the product default
    # flag (defence against any module flipping it) and measure
    # RELATIVE to a clean tracker and the session's current block count.
    st = caching.state(spark)
    me = threading.get_ident()
    keep_prior = st.keep_caches
    st.keep_caches = False
    try:
        caching.drop_stale(spark)
        sc = spark.sparkContext

        def blocks() -> int:
            return len(sc._jsc.sc().getRDDStorageInfo())

        for _ in range(50):  # unpersist is async; let residue drain
            if blocks() == 0:
                break
            time.sleep(0.1)
        base = blocks()

        QUERIES["x5_tfidf"].fn(spark, sf_dir).count()  # tf cache
        assert len(st.live[me]) == 1
        assert blocks() >= base + 1

        QUERIES["p1_filter_null"].fn(spark, sf_dir).count()
        assert st.live.get(me, []) == []
        for _ in range(50):
            if blocks() <= base:
                break
            time.sleep(0.1)
        assert blocks() <= base
    finally:
        # a mid-assert failure must not leak the forced flag into the
        # rest of the shared-session suite (round-7 review finding)
        st.keep_caches = keep_prior


def test_codebook_contiguity_guard():
    """Round-6 ADVICE: positional ADC dtable layout vs cent-id-valued
    lookups — non-contiguous codebook ids must fail loudly at plan-build
    time, not silently misindex."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.similarity import (
        _validate_codebook_ids,
        adc_dtable_col,
    )

    good = [[(0, [0.0, 0.0]), (1, [1.0, 1.0])]]
    _validate_codebook_ids(good)  # contiguous: fine
    adc_dtable_col("v", good)

    gap = [[(0, [0.0, 0.0]), (2, [1.0, 1.0])]]
    with pytest.raises(ValueError, match="cent_ids"):
        adc_dtable_col("v", gap)
    swapped = [[(1, [0.0, 0.0]), (0, [1.0, 1.0])]]
    with pytest.raises(ValueError, match="cent_ids"):
        _validate_codebook_ids(swapped)


def test_hard_negatives_band_semantics(spark):
    """Hand-built vectors: the band (pos_sim - margin, pos_sim) is
    exclusive on both edges, anchors without a same-label positive drop
    out, and self never appears."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.similarity import (
        hard_negatives,
    )

    # anchor 1 (label a) points along x; cos to a vector at angle t is
    # cos(t), so we place: a positive at ~0.9, negatives at 0.85 (in
    # band), 0.65 (below band = 0.9-0.2), and 0.95 (harder than the
    # positive — excluded). anchor 99 has NO same-label vector.
    import math

    def vec(c):  # unit vector with cosine c to [1, 0]
        return [float(c), float(math.sqrt(1 - c * c))]

    rows = [
        (1, [1.0, 0.0], "a"),
        (2, vec(0.9), "a"),    # hardest positive -> pos_sim = 0.9
        (3, vec(0.85), "b"),   # inside band (0.7, 0.9)
        (4, vec(0.65), "b"),   # below band: too easy
        (5, vec(0.95), "b"),   # above pos_sim: too hard
        (99, [0.0, 1.0], "z"), # anchor with no same-label positive
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    got = hard_negatives(
        df.filter("vec_id in (1, 99)"), df, k=5, margin=0.2
    ).collect()
    assert {r["query_id"] for r in got} == {1}  # 99 dropped: no positive
    picks = {r["neighbor_id"]: r for r in got}
    assert set(picks) == {3}
    assert picks[3]["pos_sim"] == pytest.approx(0.9)
    assert picks[3]["cos_sim"] == pytest.approx(0.85)
    assert picks[3]["rnk"] == 1


def test_time_weighted_avg_hand_values(spark, tmp_path):
    """LOCF TWA on hand-placed points: v=10 held for 60s then v=40 for
    30s -> TWA = (10*60 + 40*30)/90 = 20; a single-point bucket returns
    the point; the last observation carries no weight."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # bucket (click, Jan 1): points at t=0 (v=10), t=60s (v=40),
        # t=90s (v=999 — last point, weightless by LOCF-to-last-point)
        (1, base, 1, "click", 10.0, "{}"),
        (2, base + dt.timedelta(seconds=60), 1, "click", 40.0, "{}"),
        (3, base + dt.timedelta(seconds=90), 1, "click", 999.0, "{}"),
        # bucket (view, Jan 1): single point -> TWA = the point
        (4, base + dt.timedelta(seconds=10), 2, "view", 7.5, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    got = {
        r["event_type"]: r
        for r in QUERIES["h5_time_weighted_avg"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    click = got["click"]
    assert click["n_events"] == 3
    assert click["span_ms"] == 90_000
    assert click["twa"] == pytest.approx((10 * 60 + 40 * 30) / 90)
    view = got["view"]
    assert (view["n_events"], view["span_ms"]) == (1, 0)
    assert view["twa"] == 7.5


def test_counter_increase_reset_handling(spark, tmp_path):
    """PromQL increase() semantics on a hand counter: 10->50->5->30 in
    one bucket = increase 40 + 25 (the 50->5 reset contributes 0, and
    is counted), NOT max-min = 20."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    vals = [10.0, 50.0, 5.0, 30.0]
    rows = [
        (i, base + dt.timedelta(seconds=10 * i), 1, "bytes", v, "{}")
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    [r] = QUERIES["h6_counter_increase"].fn(spark, str(tmp_path)).collect()
    assert r["n_points"] == 4
    assert r["n_resets"] == 1
    assert r["increase"] == pytest.approx(40 + 25)
    assert r["rate_per_s"] == pytest.approx(65 / 30)


def test_nn_descent_recovers_cross_bucket_neighbor(spark):
    """The descent's point: A and B are near neighbors but share NO
    sign-LSH bucket under either hash, so the seed graph cannot contain
    A-B. Bridge C shares bucketing-1 with B and bucketing-2 with A; one
    neighbors-of-neighbors round must then surface A-B."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.similarity import (
        nn_descent,
    )

    A = [0.01] + [1.0] * 7 + [1.0] + [1.0] * 7      # bkt1 0xFF, bkt2 0xFF
    B = [-0.01] + [1.0] * 7 + [-0.01] + [1.0] * 7   # bkt1 0xFE, bkt2 0xFE
    C = [-0.3] + [1.0] * 7 + [0.3] + [1.0] * 7      # bkt1 0xFE, bkt2 0xFF
    df = spark.createDataFrame(
        [(1, A), (2, B), (3, C)], "vec_id long, embedding array<double>"
    )

    seed = nn_descent(df, k=2, iters=0).collect()
    seed_edges = {(r["src"], r["dst"]) for r in seed}
    assert (1, 2) not in seed_edges and (2, 1) not in seed_edges
    assert (1, 3) in seed_edges and (2, 3) in seed_edges  # the bridge

    final = nn_descent(df, k=2, iters=2).collect()
    final_edges = {(r["src"], r["dst"]) for r in final}
    assert (1, 2) in final_edges and (2, 1) in final_edges  # recovered


def test_nested_registry_entry_does_not_drop_outer_cache(spark, sf_dir):
    """Composite queries build on other registry entries; no part may
    drop the composite's tracked persists mid-build. ev5_dedup_recall
    persists d2's and d3's outputs and then consumes both: every frame
    it tracked (d2's and d3's own persists plus those two) is still
    cached after its action, and only the next outermost entry
    releases them."""
    from retail_data_pipeline_and_forecasting_system_spark import caching

    st = caching.state(spark)
    me = threading.get_ident()
    keep_prior = st.keep_caches
    st.keep_caches = False
    try:
        QUERIES["d2_jaccard_pairs"].fn(spark, sf_dir)
        n_d2 = len(st.live.get(me, []))
        QUERIES["d3_minhash_lsh"].fn(spark, sf_dir)
        n_d3 = len(st.live.get(me, []))
        assert n_d2 >= 1 and n_d3 >= 1

        row = QUERIES["ev5_dedup_recall"].fn(spark, sf_dir).collect()[0]
        tracked = list(st.live.get(me, []))
        assert len(tracked) == n_d2 + n_d3 + 2
        assert all(df.storageLevel.useMemory for df in tracked)
        assert row["n_true"] > 0 and row["n_detected"] > 0

        QUERIES["p2_filter_compare"].fn(spark, sf_dir)
        assert st.live.get(me, []) == []
        assert not any(df.storageLevel.useMemory for df in tracked)
    finally:
        # a mid-assert failure must not leak the forced flag into the
        # rest of the shared-session suite (round-7 review finding)
        st.keep_caches = keep_prior
