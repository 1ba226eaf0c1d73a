"""Cross-engine parity on degenerate/edge inputs the sf* corpora never
produce — each test materializes a hostile little table and runs a registry
query's Spark plan AND its DuckDB oracle over it, mirroring the driver's
compare. These are the cases where an engine/oracle disagreement would
hide behind healthy test data.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)

from conftest import duck_connect


def _driver_compare(mine: pd.DataFrame, want: pd.DataFrame) -> None:
    mine = mine[sorted(mine.columns)].sort_values(
        sorted(mine.columns)
    ).reset_index(drop=True)
    want = want[sorted(want.columns)].sort_values(
        sorted(want.columns)
    ).reset_index(drop=True)
    assert mine.shape == want.shape
    assert (mine.astype(str).values == want.astype(str).values).all(), (
        f"\nmine:\n{mine}\nwant:\n{want}"
    )


def test_m7_backtest_survives_empty_test_split(spark, tmp_path):
    """All orders BEFORE the 1995-01-01 epoch: day indices are negative,
    so cutoff = floor(0.8*max(x)) < max(x) fails and the TEST split is
    empty while the train fit is perfectly well-defined. The fitted
    slope/intercept must still come through (from the params frame); an
    aggregate over the empty error frame would return NULLs and diverge
    from the oracle's scalar subqueries — the exact regression this test
    pins."""
    rows = []
    for d, price in [
        (dt.datetime(1994, 12, 22), 100.0),
        (dt.datetime(1994, 12, 22), 150.0),
        (dt.datetime(1994, 12, 27), 300.0),
        (dt.datetime(1994, 12, 27), 120.0),
    ]:
        rows.append((d, price))
    pdf = pd.DataFrame(rows, columns=["o_orderdate", "o_totalprice"])
    pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
    path = str(tmp_path / "orders.parquet")
    pdf.to_parquet(path)

    spec = QUERIES["m7_forecast_backtest"]
    mine = spec.fn(spark, str(tmp_path)).toPandas()
    con = duck_connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{path}'")
    want = con.execute(spec.sql).df()

    _driver_compare(mine, want)
    row = mine.iloc[0]
    assert row["n_train"] == 2 and row["n_test"] == 0
    # the regression guard: params survive the empty test split
    assert pd.notna(row["slope"]) and pd.notna(row["intercept"])
    assert pd.isna(row["test_mae"])  # no held-out rows to score


def test_m8_rolling_backtest_degenerate_corpora(spark, tmp_path):
    """m8 on hostile order histories: (a) pre-epoch days (negative x,
    some/all fold test windows empty — those folds must vanish from BOTH
    engines identically, since the error join is inner); (b) a single
    distinct day (zero OLS denominator -> NULL params -> NULL-keyed
    groups must still line up)."""
    cases = [
        [  # (a) all orders before the 1995-01-01 epoch
            (dt.datetime(1994, 12, 22), 100.0),
            (dt.datetime(1994, 12, 22), 150.0),
            (dt.datetime(1994, 12, 27), 300.0),
            (dt.datetime(1994, 12, 28), 120.0),
            (dt.datetime(1994, 12, 30), 200.0),
        ],
        [  # (b) one distinct day: n*sxx - sx^2 == 0
            (dt.datetime(1995, 3, 1), 100.0),
            (dt.datetime(1995, 3, 1), 250.0),
        ],
    ]
    spec = QUERIES["m8_rolling_backtest"]
    for i, rows in enumerate(cases):
        sub = tmp_path / f"case{i}"
        sub.mkdir()
        pdf = pd.DataFrame(rows, columns=["o_orderdate", "o_totalprice"])
        pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
        path = str(sub / "orders.parquet")
        pdf.to_parquet(path)
        mine = spec.fn(spark, str(sub)).toPandas()
        con = duck_connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM '{path}'")
        want = con.execute(spec.sql).df()
        _driver_compare(mine, want)


def test_m6_ols_single_day_degenerate(spark, tmp_path):
    """One-day corpus: the normal-equation determinant is zero, so every
    coefficient is a 0/0 — both engines must agree on the NULL outcome
    rather than one producing NaN/inf and the other NULL."""
    pdf = pd.DataFrame(
        [(dt.datetime(1995, 1, 1), 100.0), (dt.datetime(1995, 1, 1), 50.0)],
        columns=["o_orderdate", "o_totalprice"],
    )
    pdf["o_orderdate"] = pdf["o_orderdate"].astype("datetime64[us]")
    path = str(tmp_path / "orders.parquet")
    pdf.to_parquet(path)

    spec = QUERIES["m6_multivariate_ols"]
    mine = spec.fn(spark, str(tmp_path)).toPandas()
    con = duck_connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{path}'")
    want = con.execute(spec.sql).df()
    _driver_compare(mine, want)


HOSTILE_DOCS = [
    # (doc_id, text, lang, source) — the degenerate shapes a 100 TB crawl
    # actually contains: blank, whitespace-only, punctuation-only, sub-k,
    # byte-identical dups, pathological repetition, unicode
    (1, "", "en", "web"),
    (2, "   ", "en", "web"),
    (3, "!!!", "en", "web"),
    (4, "one", "en", "books"),
    (5, "two words", "en", "books"),
    (6, "the quick brown fox jumps over the lazy dog today", "en", "web"),
    (7, "the quick brown fox jumps over the lazy dog today", "en", "web"),
    (8, "the quick brown fox jumps over the lazy cat today", "en", "web"),
    (9, "buy buy buy buy buy buy buy buy buy buy", "en", "spam"),
    (10, "naïve café déjà vu — résumé 日本語 текст", "fr", "web"),
]

# document-table registry queries whose oracles reference only the
# documents view — the hostile sweep runs each engine plan AND oracle
# over the pathological corpus and applies the driver's compare
HOSTILE_SWEEP = [
    "x1_language_scores",
    "x2_quality_scores",
    "x3_token_counts",
    "x4_fingerprints",
    "x6_train_split",
    "x9_keywords",
    "x10_chunk_documents",
    "x11_repetition_signals",
    "x16_bm25",
    "x17_unigram_lm",
    "x22_vocab_coverage",
    "d1_dedup_exact",
    "d2_jaccard_pairs",
    "d7_char_jaccard",
    "d10_containment_pairs",
    "smp4_weighted_sample",
    "smp5_temperature_mixture",
    "x12_corpus_materialize",
    "x13_decontaminate",
    "x15_sequence_pack",
    "x18_boilerplate_ngrams",
    "x19_bigram_lm",
    "x20_dup_rate_by_source",
    "x21_contamination_by_source",
    "x23_source_drift",
    "smp1_stratified_sample",
    "smp2_per_group_sample",
    "smp3_mixture_weights",
    "d3_minhash_lsh",
    "d5_simhash_pairs",
    "d8_dup_clusters",
    "d11_incremental_dedup",
    "d12_dedup_yield",
    "d13_canonical_selection",
    # round-5 ops over the pathological corpus
    "d16_segment_dedup",
    "x26_ngram_repetition",
    "x27_bpe_pair_counts",
    "m10_real_image_decode",
    # round-7 post-close ops over the pathological corpus
    "d17_edit_distance_dedup",
    "d18_cross_source_overlap",
    "x33_vocab_coverage",
    "x34_ngram_novelty",
    "smp7_quota_allocation",
    "x38_char_entropy",
    "m14_image_content_dedup",
    # round-8 ops over the pathological corpus (codec entries only
    # consume doc_id, so the hostile ids exercise their synth+decode
    # chains; ev6 rides x25's full scoring over the degenerate texts)
    "m15_real_resize",
    "m16_visual_features",
    "m17_perceptual_hash",
    "m18_image_neardup_pairs",
    "m19_video_scene_cuts",
    "m20_png_metadata",
    "ev6_margin_reliability",
]


ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _stage_tables(tmp_path, con) -> None:
    """Symlink the real sf0.001 parquet for every table a hostile sweep
    does NOT distort (queries may join beyond their headline table), and
    register duckdb views over whatever ends up in tmp_path."""
    import os as _os

    for t in ALL_TABLES:
        dst = tmp_path / f"{t}.parquet"
        if not dst.exists():
            _os.symlink(f"/root/testdata/sf0.001/{t}.parquet", dst)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dst}'")


def _hostile_documents(tmp_path) -> str:
    pdf = pd.DataFrame(
        HOSTILE_DOCS, columns=["doc_id", "text", "lang", "source"]
    )
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)
    return path


import pytest  # noqa: E402


@pytest.mark.parametrize("name", HOSTILE_SWEEP)
def test_hostile_corpus_parity(spark, tmp_path, name):
    """Every document-family query must survive the pathological corpus
    (no ANSI crash, no silent engine/oracle divergence on the edges) —
    blank docs, sub-shingle docs, exact dups, degenerate repetition,
    unicode. Non-document tables stay the real sf0.001 data."""
    _hostile_documents(tmp_path)
    con = duck_connect()
    _stage_tables(tmp_path, con)
    spec = QUERIES[name]
    mine = spec.fn(spark, str(tmp_path)).toPandas()
    want = con.execute(spec.sql).df()
    _driver_compare(mine, want)


def _hostile_events(tmp_path) -> str:
    """Pathological event log: exact-tie timestamps, single-event users,
    events ON session-gap / window / funnel-horizon boundaries, NULL
    value/props — the shapes where tie-breaking and boundary semantics
    silently diverge between engines."""
    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        # u1: five events at the SAME microsecond — ordering must come
        # from the (ts, event_id) tiebreak everywhere
        (101, base, 1, "view", 1.0, '{"p": 1}'),
        (102, base, 1, "click", 2.0, '{"p": 2}'),
        (103, base, 1, "purchase", 3.0, '{"p": 3}'),
        (104, base, 1, "view", 4.0, '{"p": 4}'),
        (105, base, 1, "click", None, None),
        # u2: a single event
        (201, base + dt.timedelta(minutes=5), 2, "view", 1.5, '{"p": 5}'),
        # u3: consecutive events exactly 30:00 apart (the classic session
        # gap), then 1s apart
        (301, base, 3, "view", 1.0, '{"p": 6}'),
        (302, base + dt.timedelta(minutes=30), 3, "click", 1.0, '{"p": 7}'),
        (303, base + dt.timedelta(minutes=30, seconds=1), 3, "purchase",
         9.0, '{"p": 8}'),
        # u4: events ON the hour boundary (tumbling/sliding windows)
        (401, dt.datetime(2024, 3, 1, 11, 0, 0), 4, "view", 2.0, '{"p": 9}'),
        (402, dt.datetime(2024, 3, 1, 12, 0, 0), 4, "view", 2.0, '{"p":10}'),
        # u5: view -> purchase exactly 1h apart (funnel horizon boundary)
        (501, base, 5, "view", 1.0, '{"p":11}'),
        (502, base + dt.timedelta(hours=1), 5, "purchase", 8.0, '{"p":12}'),
        # u6: multi-day activity for the retention cohort
        (601, dt.datetime(2024, 3, 1, 9, 0, 0), 6, "view", 1.0, '{"p":13}'),
        (602, dt.datetime(2024, 3, 2, 9, 0, 0), 6, "view", 1.0, '{"p":14}'),
        (603, dt.datetime(2024, 3, 4, 9, 0, 0), 6, "purchase", 5.0,
         '{"p":15}'),
        # u7: hostile JSON payloads — malformed, non-numeric k, numeric k
        # (e1/e7 must degrade to NULL per row, never throw)
        (701, dt.datetime(2024, 3, 1, 13, 0, 0), 7, "view", 1.0,
         "not json at all {"),
        (702, dt.datetime(2024, 3, 1, 13, 1, 0), 7, "view", 1.0,
         '{"k": "abc"}'),
        (703, dt.datetime(2024, 3, 1, 13, 2, 0), 7, "view", 1.0,
         '{"k": 41}'),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path)
    return path


HOSTILE_EVENT_SWEEP = [
    "e1_json_extract",
    "e2_sessionize",
    "e3_tumbling_window",
    "e4_sliding_window",
    "e5_retention_cohort",
    "e6_inter_event_gaps",
    "e8_markov_transitions",
    # e9: u1's same-microsecond burst hits the strictly-preceding rows
    # frame + (ts, event_id) tiebreak; range-frame boundaries inclusive
    "e9_attribution",
    "h8_peak_concurrency",
    "dq4_robust_outliers",
    "dq5_ks_drift",
    "e12_time_to_convert",
    "w10_longest_streak",
    # props carry key "p", so e7's $.k extraction is NULL on every row:
    # the all-NULL aggregate paths must agree too
    "e7_variant_extract",
    "j7_funnel",
    # j6/j9: u5's view->purchase exactly 1h apart sits ON the range
    # boundary; u1's five same-microsecond events force the as-of
    # inclusive-tie + greatest-event_id rules
    "j6_range_join",
    "j9_asof_join",
    "h1_hypertable_rollup",  # u4's on-the-hour events sit ON bucket edges
    "w8_running_distinct",
    "f_date_pack",
    "smp6_balanced_classes",  # class balancing over the hostile event mix
    # round-8 ops: same-microsecond tie groups hit e13's lag tiebreak
    # and h9's interval attribution; back-to-back purchases hit j10's
    # claim rule; hostile user_ids exercise dq6's orphan counting live
    "e13_conversion_paths",
    "h9_dwell_time",
    "j10_interval_overlap_join",
    "dq6_referential_integrity",
]


@pytest.mark.parametrize("name", HOSTILE_EVENT_SWEEP)
def test_hostile_events_parity(spark, tmp_path, name):
    _hostile_events(tmp_path)
    con = duck_connect()
    _stage_tables(tmp_path, con)
    spec = QUERIES[name]
    mine = spec.fn(spark, str(tmp_path)).toPandas()
    want = con.execute(spec.sql).df()
    _driver_compare(mine, want)


EMPTY_SWEEP = [
    "q1_pricing_summary",  # grouped agg -> zero rows
    "q6_forecast_revenue",  # global scalar agg -> one all-NULL row
    "a3_global_agg",
    "a18_histogram_quantiles",
    "t1_topk",
    "w6_rolling_7day",
    "d2_jaccard_pairs",
    "x2_quality_scores",
    "e2_sessionize",
    "j1_join_inner_broadcast",
    "m2_forecast_linear",  # OLS over nothing: nullif keeps it NULL
    "j6_range_join",
    "j9_asof_join",
    "h1_hypertable_rollup",
    "dq1_expectations",  # zero rows -> every rule passes with 0, not NULL
    # round-4 ops (day-one deployment state)
    "x24_gopher_gate",
    "ops5_compaction_plan",
    "h3_ewma",
    "n7_knn_join",
    "d14_semantic_dedup",  # k-means over an empty corpus must not crash
    "d15_incremental_semantic",
    # round-5 ops (n8 stays out like n1/n2: the collected query vector
    # is definitionally absent from an empty corpus)
    "d16_segment_dedup",
    "x26_ngram_repetition",
    "x27_bpe_pair_counts",
    "m10_real_image_decode",
    "n9_knn_join_ivf",  # k-means over an empty corpus, like d14
    # round-7 post-close ops over zero-row inputs
    "d17_edit_distance_dedup",
    "d18_cross_source_overlap",
    "x33_vocab_coverage",
    "ops6_incremental_agg",
    "e9_attribution",
    "ev5_dedup_recall",  # zero pairs both sides -> NULL ratios
    "h8_peak_concurrency",  # empty sweep -> NULL peak, 0 sessions
    "dq4_robust_outliers",  # empty input -> zero groups
    "x34_ngram_novelty",  # empty corpus -> zero rows
    "smp7_quota_allocation",  # empty corpus -> zero rows
    "dq5_ks_drift",  # empty input -> zero groups
    "e12_time_to_convert",  # empty input -> 0/0/NULL scalar row
    "w10_longest_streak",  # empty input -> zero rows
    "x38_char_entropy",  # empty corpus -> zero rows
    "a19_exact_mode",  # empty input -> zero groups
    "m14_image_content_dedup",  # empty corpus -> zero groups
    # round-8 ops over zero-row inputs
    "m15_real_resize",
    "m16_visual_features",
    "m17_perceptual_hash",
    "m18_image_neardup_pairs",
    "m19_video_scene_cuts",
    "m20_png_metadata",
    "e13_conversion_paths",
    "h9_dwell_time",
    "j10_interval_overlap_join",
    "dq6_referential_integrity",  # 5 audit rows, zero counts, NULL rates
    "e14_rfm_segmentation",
    "pr5_association_rules",
    "ev6_margin_reliability",
]


@pytest.mark.parametrize("name", EMPTY_SWEEP)
def test_empty_tables_parity(spark, tmp_path, name):
    """Zero-row inputs with the real schemas: grouped aggs must emit zero
    rows, global aggs exactly one all-NULL/zero row, and no query may
    crash — identically in both engines. (The day-one state of any new
    deployment.)"""
    import pyarrow.parquet as pq

    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        schema = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        pq.write_table(
            schema.empty_table(), str(tmp_path / f"{t}.parquet")
        )
    spec = QUERIES[name]
    mine = spec.fn(spark, str(tmp_path)).toPandas()
    con = duck_connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'"
        )
    want = con.execute(spec.sql).df()
    _driver_compare(mine, want)


HOSTILE_EMBEDDING_SWEEP = [
    "n1_ann_bruteforce",
    "n14_filtered_ann",
    "n2_ann_lsh_bucket",
    "d6_embedding_neardup",
    "d9_hyperplane_lsh",
    "n3_ann_ivf",
    "n4_ann_pq",
    "n5_ann_ivfpq",
    "n6_ann_rerank",
    "k1_kmeans_cells",
    "d14_semantic_dedup",  # dead embedding scores NULL cosine in pairs
    "d15_incremental_semantic",
    "n7_knn_join",
    "n8_ann_multiprobe",  # the dead vector scores NULL, never ranks
    "n9_knn_join_ivf",
]


@pytest.mark.parametrize("name", HOSTILE_EMBEDDING_SWEEP)
def test_hostile_embeddings_parity(spark, tmp_path, name):
    """A ZERO vector in the corpus (a dead/padded embedding — routine in
    real exports) makes the cosine denominator 0: under ANSI that was a
    job-killing exception; now it scores NULL identically in both
    engines, never reaching a top-k or a near-dup pair."""
    import numpy as np

    rng = np.random.RandomState(5)
    dim = 64  # the real table's dimension — PQ queries derive their
    # subvector slicing from it, so the hostile corpus must match
    rows = []
    for i in range(12):
        v = rng.randn(dim).astype("float32")
        rows.append((i, [float(x) for x in v], int(i % 3)))
    rows.append((12, [0.0] * dim, 0))  # the dead embedding
    rows.append((13, [float(x) for x in rng.randn(dim)], 1))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    pdf["label"] = pdf["label"].astype("int32")
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(
        pdf,
        schema=pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
        preserve_index=False,
    )
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(table, path)

    con = duck_connect()
    _stage_tables(tmp_path, con)
    spec = QUERIES[name]
    mine = spec.fn(spark, str(tmp_path)).toPandas()
    want = con.execute(spec.sql).df()
    _driver_compare(mine, want)


def test_x3_token_counts_blank_documents(spark, tmp_path):
    """Empty / whitespace-only / punctuation-only documents: the BPE-ish
    piece count is ZERO for blank text, and under Spark 4's default ANSI
    mode an unguarded ratio is a job-killing DIVIDE_BY_ZERO — one blank
    doc in a 100 TB corpus. Both engines must yield NULL instead, and
    agree on every other count."""
    pdf = pd.DataFrame(
        [
            (1, ""),
            (2, "   "),
            (3, "normal words here"),
            (4, "!!!"),
        ],
        columns=["doc_id", "text"],
    )
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)

    spec = QUERIES["x3_token_counts"]
    mine = spec.fn(spark, str(tmp_path)).toPandas()
    con = duck_connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = con.execute(spec.sql).df()
    _driver_compare(mine, want)
    by_id = mine.set_index("doc_id")
    assert pd.isna(by_id.loc[1, "chars_per_subword"])
    assert pd.isna(by_id.loc[2, "chars_per_subword"])
    assert pd.notna(by_id.loc[3, "chars_per_subword"])
    assert by_id.loc[4, "subword_tokens"] == 3  # one piece per '!'


def test_a18_histogram_quantiles_sparse_groups(spark, tmp_path):
    """Single-row and out-of-domain groups: a one-row group's quantile
    must come from its only bucket; values beyond the fixed domain clamp
    into the edge buckets identically in both engines."""
    rows = [
        ("A", 1, 950.0),
        ("B", 1, 50.0),  # below domain -> bucket 0
        ("B", 2, 999999.0),  # above domain -> bucket 63
        ("B", 3, 50000.0),
    ]
    pdf = pd.DataFrame(
        rows, columns=["l_returnflag", "l_suppkey", "l_extendedprice"]
    )
    path = str(tmp_path / "lineitem.parquet")
    pdf.to_parquet(path)

    spec = QUERIES["a18_histogram_quantiles"]
    mine = spec.fn(spark, str(tmp_path)).toPandas()
    con = duck_connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{path}'")
    want = con.execute(spec.sql).df()
    _driver_compare(mine, want)
    one = mine.set_index("grp").loc["A"]
    assert one["n"] == 1 and pd.notna(one["p50_est"])


def test_h2_gap_fill_degenerate_series(spark, tmp_path):
    """Gap fill on hostile series shapes: a single-observation key (spine
    of exactly one day, ffill = itself), a two-point key with a long gap
    (every padded day carries the earlier value), and a key filtered out
    entirely. Engine and oracle must agree row-for-row."""
    rows = [
        (1, "1995-01-01 00:00:00", 10.0),   # single observation
        (2, "1995-01-01 00:00:00", 5.0),    # two points, 9-day gap
        (2, "1995-01-10 00:00:00", 7.0),
        (2, "1995-01-10 00:00:00", 3.0),    # same-day second line: summed
        (99, "1995-01-05 00:00:00", 1.0),   # filtered out (suppkey > 10)
    ]
    pdf = pd.DataFrame(
        rows, columns=["l_suppkey", "l_shipdate", "l_extendedprice"]
    )
    pdf["l_shipdate"] = pd.to_datetime(pdf["l_shipdate"])
    path = str(tmp_path / "lineitem.parquet")
    # micros, not pandas' nano default — Spark's vectorized reader rejects
    # TIMESTAMP(NANOS) (only the events loader handles that encoding)
    pdf.to_parquet(path, coerce_timestamps="us")

    spec = QUERIES["h2_gap_fill"]
    mine = spec.fn(spark, str(tmp_path)).toPandas()
    con = duck_connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{path}'")
    want = con.execute(spec.sql).df()
    _driver_compare(mine, want)
    assert len(mine) == 1 + 10  # key 1: one day; key 2: dense 10-day spine
    k2 = mine[mine.l_suppkey == 2].sort_values("d")
    assert k2["revenue_ffill"].tolist() == [5.0] * 9 + [10.0]
    assert k2["observed"].tolist() == [True] + [False] * 8 + [True]


def test_quality_fk_tagging_survives_hot_key(spark):
    """Round-3 VERDICT item 9: the quality gate's FK tag join
    (operators/quality.py tag_violations) must not explode on a hot FK
    value. 50k fact rows, 90% sharing ONE key, against a ref table that
    itself contains duplicate key rows: the ref side is distinct()ed
    before the left join, so output rows == input rows exactly (a fanout
    would multiply the hot key's 45k rows by the ref duplication)."""
    from pyspark.sql import functions as F

    from retail_data_pipeline_and_forecasting_system_spark.operators import (
        quality as Q,
    )

    n = 50_000
    fact = spark.range(n).select(
        F.col("id").alias("row_id"),
        # 90% of rows share fk=1; the rest spread over 2..10 and one
        # orphan value 99 that the ref does not contain
        F.when(F.col("id") % 10 < 9, F.lit(1))
        .when(F.col("id") % 100 == 9, F.lit(99))
        .otherwise((F.col("id") % 9) + 2)
        .alias("fk"),
    )
    # ref with every key duplicated 5x — distinct() must collapse it
    ref = (
        spark.range(10)
        .select((F.col("id") + 1).alias("k"))
        .crossJoin(spark.range(5))
        .select("k")
    )
    tagged = Q.tag_violations(
        fact, [Q.foreign_key(["fk"], ref, ["k"])]
    )
    assert tagged.count() == n  # no join fanout despite hot key + dup ref
    orphans = tagged.filter(F.col("violated") != "")
    assert orphans.count() == fact.filter(F.col("fk") == 99).count()
    assert (
        orphans.select("violated").distinct().collect()[0][0]
        == "foreign_key(fk)"
    )
