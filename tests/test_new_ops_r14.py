"""Round-14 regressions for the round-13 ADVICE items: h13's
d == n_risk extinction edge (F.log(0) -> NULL silently dropped by the
window SUM), k_core's zero-degree last-peel survivors, the manifest
shard expression on hostile column names, and the h14/g6 oracle
DECIMAL(28,2) staging headroom."""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)

from conftest import duck_connect

_EV_SCHEMA = (
    "event_id long, ts string, user_id long, event_type string, "
    "value double, props string"
)
_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate string, o_orderpriority string"
)


def _write_events(spark, tmp_path, rows):
    d = tmp_path / "ev"
    d.mkdir()
    spark.createDataFrame(rows, _EV_SCHEMA).withColumn(
        "ts", F.to_timestamp("ts")
    ).coalesce(1).write.parquet(str(d / "events.parquet"))
    return d


def _write_orders(spark, tmp_path, rows):
    d = tmp_path / "o"
    d.mkdir()
    spark.createDataFrame(rows, _ORD_SCHEMA).withColumn(
        "o_orderdate", F.to_timestamp("o_orderdate")
    ).coalesce(1).write.parquet(str(d / "orders.parquet"))
    return d


# ----------------------------------------------- ADVICE regressions


def test_h13_full_churn_extinction_cross_engine(spark, tmp_path):
    """Round-13 ADVICE (medium): when EVERY user still at risk ends on
    day t and all are churned (d = n_risk), the product-limit factor is
    exactly 0 — the old F.log(0) returned NULL, the window SUM dropped
    the term, and survival silently froze at its previous value.
    Fixture: users 1+3 end at t=1 (user 3 censored, defining corpus
    end), user 2 alone remains and churns at t=4 — so at t=4
    d = n_risk = 1 and survival must be 0.0, in BOTH engines."""

    rows = [
        # user 1: 01-01 .. 01-02, t=1, churned (end 01-20 - last > 3)
        (0, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        (1, "2024-01-02 00:00:00", 1, "view", 1.0, "{}"),
        # user 2: 01-01 .. 01-05, t=4, churned — the LAST at-risk user
        (2, "2024-01-01 00:00:00", 2, "view", 1.0, "{}"),
        (3, "2024-01-05 00:00:00", 2, "view", 1.0, "{}"),
        # user 3: 01-19 .. 01-20, t=1, censored (defines corpus end)
        (4, "2024-01-19 00:00:00", 3, "view", 1.0, "{}"),
        (5, "2024-01-20 00:00:00", 3, "view", 1.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {
        r["t_days"]: (r["n_risk"], r["n_events"], r["survival"])
        for r in QUERIES["h13_kaplan_meier"].fn(spark, str(d)).collect()
    }
    assert got == {
        1: (3, 1, round(2.0 / 3.0, 9)),
        4: (1, 1, 0.0),  # extinction day: survival EXACTLY 0, not 2/3
    }
    con = duck_connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{d}/events.parquet/*.parquet'"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(QUERIES["h13_kaplan_meier"].sql).fetchall()
    }
    assert want == got


def test_k_core_zero_degree_survivor_emitted(spark):
    """Round-13 ADVICE: a node that survives the last peel but whose
    neighbors ALL fell in that peel has zero edges in the final
    recompute — it must be emitted with core_degree = 0,
    in_core = false, not silently dropped. Graph: hub X with two
    degree-1 leaves (X survives peel 1 with degree 2; both leaves are
    removed) plus a triangle p-q-r that stays in the 2-core."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.graph import (
        k_core,
    )

    pairs = [(10, 1), (10, 2), (20, 21), (21, 22), (22, 20)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    )
    got = {
        r["node"]: (r["core_degree"], r["in_core"])
        for r in k_core(edges, k=2, n_iter=1).collect()
    }
    assert got == {
        10: (0, False),  # the zero-degree survivor, previously dropped
        20: (2, True),
        21: (2, True),
        22: (2, True),
    }


def test_manifest_hostile_id_column_name(spark):
    """Round-13 ADVICE: the shard expression interpolated id_col into
    an F.expr SQL string — a column name needing backticks broke the
    parse. Now column-API: a renamed `doc id` column must shard
    identically to the plain doc_id run."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.manifest import (
        manifest_rows,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(40)] + [(None, "orphan")],
        "doc_id long, text string",
    )
    plain = {
        r["doc_id"]: r["shard"]
        for r in manifest_rows(docs).select("doc_id", "shard").collect()
    }
    hostile = {
        r["doc_id"]: r["shard"]
        for r in manifest_rows(
            docs.withColumnRenamed("doc_id", "doc id"), id_col="doc id"
        )
        .select(F.col("doc_id"), "shard")
        .collect()
    }
    assert hostile == plain
    assert plain[None] == -1  # NULL-id quarantine unchanged


# --------------------------------------- x59_split_overlap (round 14)


def test_x59_three_tiers_hand_fixture_cross_engine(spark, tmp_path):
    """Seeded leakage at each severity tier (ids chosen by md5 nibble:
    4/14/6/7/9/11 train, 0/1 val, 3/5 test):

    - docs 4, 14 (train, both shard 10) EXACT-dup val docs 0, 1 ->
      the (10, val) cell carries all three tiers with 2 train docs
      and 4 pairs;
    - doc 6 (train, shard 1) near-dups test doc 3 (jaccard 5/7, band
      collision) -> near_dup + ngram, never exact;
    - doc 7 (train, shard 8) shares exactly ONE shingle with test doc
      5 (jaccard 1/3 < 0.35) -> ngram ONLY;
    - doc 9 (train) overlaps nothing; doc 11 has NULL text; a NULL
      doc_id row with DUPLICATED content is excluded entirely (no
      nibble -> no split); val x val exact dups (0 vs 1) and train x
      train dups (4 vs 14) must NOT appear as pairs."""

    rows = [
        (4, "alpha beta gamma delta"),
        (14, "alpha beta gamma delta"),
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),
        (6, "one two three four five six seven nine"),
        (3, "one two three four five six seven eight"),
        (7, "red green blue purple"),
        (5, "red green blue orange"),
        (9, "quux corge grault flarp"),
        (11, None),
        (None, "alpha beta gamma delta"),
    ]
    d = tmp_path / "docs"
    d.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(d / "documents.parquet"))
    got = sorted(
        tuple(r)
        for r in QUERIES["x59_split_overlap"].fn(spark, str(d)).collect()
    )
    assert got == [
        (1, "test", "near_dup", 1, 1, 6, 3),
        (1, "test", "ngram", 1, 1, 6, 3),
        (8, "test", "ngram", 1, 1, 7, 5),
        (10, "val", "exact", 2, 4, 4, 0),
        (10, "val", "near_dup", 2, 4, 4, 0),
        (10, "val", "ngram", 2, 4, 4, 0),
    ]
    con = duck_connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(QUERIES["x59_split_overlap"].sql).fetchall()
    )
    assert want == got


def test_x60_scrub_policy_hand_fixture_cross_engine(spark, tmp_path):
    """Same seeded corpus as the x59 fixture. Policy: 4, 14 (exact-dup
    of val docs) and 6 (verified near-dup of a test doc) are DROPPED;
    7 (ngram-only hit) is FLAGGED but KEPT; 9 (clean) and 11 (NULL
    text) are untouched. Shards that lose everything emit kept=0 with
    the digest '0'; the kept digest is the exact u64 md5(doc_id:text)
    multiset sum."""
    import hashlib

    rows = [
        (4, "alpha beta gamma delta"),
        (14, "alpha beta gamma delta"),
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),
        (6, "one two three four five six seven nine"),
        (3, "one two three four five six seven eight"),
        (7, "red green blue purple"),
        (5, "red green blue orange"),
        (9, "quux corge grault flarp"),
        (11, None),
        (None, "alpha beta gamma delta"),
    ]
    d = tmp_path / "docs"
    d.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(d / "documents.parquet"))

    def dig(*payloads):
        s = 0
        for p in payloads:
            h = hashlib.md5(p.encode()).hexdigest()
            s += int(h[:8], 16) * 2**32 + int(h[8:16], 16)
        return str(s % 2**64)

    got = sorted(
        tuple(r)
        for r in QUERIES["x60_leakage_scrub"].fn(spark, str(d)).collect()
    )
    assert got == [
        (1, 1, 1, 0, 0, None, "0"),          # doc 6 dropped (near-dup)
        (4, 1, 0, 0, 1, 4, dig("9:quux corge grault flarp")),
        (6, 1, 0, 0, 1, None, dig("11:")),   # NULL text kept, no tokens
        (8, 1, 0, 1, 1, 4, dig("7:red green blue purple")),
        (10, 2, 2, 0, 0, None, "0"),         # exact dups both dropped
    ]
    con = duck_connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(QUERIES["x60_leakage_scrub"].sql).fetchall()
    )
    assert want == got


def test_x59_sides_restrict_before_pair_joins(spark):
    """Plan shape: the three tier joins must not form train x train or
    eval x eval pairs — every scan feeding a pair join carries the
    nibble filter, and no CartesianProduct/BroadcastNestedLoop appears
    anywhere in the audit plan."""
    df = QUERIES["x59_split_overlap"].fn(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# -------------------------------------- dq13_split_balance (round 14)


def test_dq13_shares_and_tv_hand_fixture_cross_engine(spark, tmp_path):
    """10-doc corpus with hand-computable mixes (nibble splits: 4, 6,
    7, 9, 11 train / 0, 1 val / 3, 5 test; a NULL doc_id follows x6's
    convention into 'test'; a NULL source buckets as '<null>'; doc 9
    has NULL text so train tokens must skip it). Source mix: corpus =
    a:5, b:4, <null>:1 over N=10; TV(train) = 0.5*(0.1+0+0.1) = 0.1,
    TV(val) = 0.1, TV(test) = 0.5*(1/6 + 1/15 + 1/10) = 1/6."""

    rows = [
        (4, "a", "w w"),
        (6, "a", "w w w"),
        (7, "b", "w w w w"),
        (9, "b", None),
        (11, None, "x"),
        (0, "a", "w w"),
        (1, "b", "w w w"),
        (3, "a", "w"),
        (5, "a", "w w"),
        (None, "b", "w w w"),
    ]
    d = tmp_path / "docs"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    got = {
        r["split"]: (
            r["n_docs"], r["n_tokens"], r["doc_share"],
            r["token_share"], r["source_tv"],
        )
        for r in QUERIES["dq13_split_balance"].fn(spark, str(d)).collect()
    }
    assert got == {
        "train": (5, 10, 0.5, 0.476190476, 0.1),
        "val": (2, 5, 0.2, 0.238095238, 0.1),
        "test": (3, 6, 0.3, 0.285714286, 0.166666667),
    }
    con = duck_connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(QUERIES["dq13_split_balance"].sql).fetchall()
    }
    assert want == got


def test_dq13_empty_split_absent_in_both_engines(spark, tmp_path):
    """A corpus whose ids all hash into train/val (no test nibble)
    must emit NO 'test' row — in both engines — rather than a
    zero-count or NULL-share row."""

    # ids 4, 6 -> train; 0, 1 -> val (md5-nibble map); no test ids
    rows = [(4, "a", "w w"), (6, "a", "w"), (0, "b", "w"), (1, "b", "w w")]
    d = tmp_path / "docs"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    got = sorted(
        tuple(r)
        for r in QUERIES["dq13_split_balance"].fn(spark, str(d)).collect()
    )
    assert {r[0] for r in got} == {"train", "val"}
    con = duck_connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(QUERIES["dq13_split_balance"].sql).fetchall()
    )
    assert want == got


# ---------------------------------- a20 / g7 (round-14 wave 3)


def test_a20_token_weighted_vs_doc_median_hand_fixture(spark, tmp_path):
    """Docs of lengths 1, 2, 2, 3, 4 (token weights 1, 4, 3, 4; total
    12; cum 1, 5, 8, 12). Token-weighted p50 = 3 — ABOVE the doc-count
    median of 2, the skew the weighted quantile exists to expose; p90
    and p99 land on 4. NULL-text docs are excluded. Cross-engine
    exact (the decision is all-integer)."""

    rows = [
        (1, "w"),
        (2, "w w"),
        (3, "w w"),
        (4, "w w w"),
        (5, "w w w w"),
        (6, None),
    ]
    d = tmp_path / "docs"
    d.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(d / "documents.parquet"))
    got = sorted(
        tuple(r)
        for r in QUERIES["a20_weighted_quantile"].fn(spark, str(d)).collect()
    )
    assert got == [(50, 3, 12), (90, 4, 12), (99, 4, 12)]
    con = duck_connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(QUERIES["a20_weighted_quantile"].sql).fetchall()
    )
    assert want == got


def test_g7_parent_shares_hand_fixture_cross_engine(spark, tmp_path):
    """Two regions, three nations: region A = n1 (10.00) + n2 (30.00),
    region B = n3 (20.00). share_in_region: 0.25 / 0.75 / 1.0;
    share_of_total: 1/6, 1/2, 1/3 — exact cents, round(9) doubles
    only at the edge."""

    d = tmp_path / "t"
    d.mkdir()
    spark.createDataFrame(
        [(0, "RA"), (1, "RB")], "r_regionkey long, r_name string"
    ).coalesce(1).write.parquet(str(d / "region.parquet"))
    spark.createDataFrame(
        [(10, "N1", 0), (11, "N2", 0), (12, "N3", 1)],
        "n_nationkey long, n_name string, n_regionkey long",
    ).coalesce(1).write.parquet(str(d / "nation.parquet"))
    spark.createDataFrame(
        [(100, 10), (101, 11), (102, 12)],
        "c_custkey long, c_nationkey long",
    ).coalesce(1).write.parquet(str(d / "customer.parquet"))
    spark.createDataFrame(
        [
            (1, 100, 4.0), (2, 100, 6.0),   # N1: 10.00
            (3, 101, 30.0),                 # N2: 30.00
            (4, 102, 15.0), (5, 102, 5.0),  # N3: 20.00
        ],
        "o_orderkey long, o_custkey long, o_totalprice double",
    ).coalesce(1).write.parquet(str(d / "orders.parquet"))
    got = sorted(
        tuple(r)
        for r in QUERIES["g7_percent_of_parent"].fn(spark, str(d)).collect()
    )
    assert got == [
        ("RA", "N1", 1000, 4000, 0.25, 0.166666667),
        ("RA", "N2", 3000, 4000, 0.75, 0.5),
        ("RB", "N3", 2000, 2000, 1.0, 0.333333333),
    ]
    con = duck_connect()
    for t in ["region", "nation", "customer", "orders"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{d}/{t}.parquet/*.parquet'"
        )
    want = sorted(
        tuple(r)
        for r in con.execute(QUERIES["g7_percent_of_parent"].sql).fetchall()
    )
    assert want == got


# ---------------------------------- ev9 / g8 (round-14 wave 4)


def test_ev9_full_dim_anchor_and_seeded_cross_engine(spark, tmp_path):
    """Random integer-valued 4-dim embeddings (first component pinned
    nonzero so no truncated prefix is the zero vector): the Spark
    result must equal the DuckDB oracle cell-for-cell, and the d=8
    budget (>= true dim, slice clamps in both engines) must be the
    built-in sanity anchor — recall exactly 1.0."""
    import random

    rng = random.Random(31)
    rows = [
        (i, [float(rng.randint(1, 3))]
            + [float(rng.randint(-3, 3)) for _ in range(3)])
        for i in range(30)
    ]
    d = tmp_path / "e"
    d.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    got = sorted(
        tuple(r)
        for r in QUERIES["ev9_truncation_recall"]
        .fn(spark, str(d))
        .collect()
    )
    anchor = [r for r in got if r[0] == 8]
    assert anchor and anchor[0][3] == 1.0  # full-dim recall is exact 1
    assert all(r[1] == 100 for r in got)  # 20 queries x top-5 slots
    con = duck_connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{d}/embeddings.parquet/*.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            QUERIES["ev9_truncation_recall"].sql
        ).fetchall()
    )
    assert want == got


def test_g8_ytd_resets_at_year_boundary(spark, tmp_path):
    """Orders in 1994-11/12 and 1995-01/03: YTD accumulates within a
    year (1000 -> 3000) and RESETS at the boundary (500, then 1200
    across the month gap) — cross-engine equal."""

    rows = [
        (1, 1, "O", 10.0, "1994-11-05 00:00:00", "1-U"),
        (2, 1, "O", 20.0, "1994-12-09 00:00:00", "1-U"),
        (3, 1, "O", 5.0, "1995-01-02 00:00:00", "1-U"),
        (4, 1, "O", 7.0, "1995-03-20 00:00:00", "1-U"),
    ]
    d = _write_orders(spark, tmp_path, rows)
    got = {
        str(r["month"]): (r["revenue_cents"], r["ytd_cents"])
        for r in QUERIES["g8_ytd_revenue"].fn(spark, str(d)).collect()
    }
    assert got == {
        "1994-11-01": (1000, 1000),
        "1994-12-01": (2000, 3000),
        "1995-01-01": (500, 500),
        "1995-03-01": (700, 1200),
    }
    con = duck_connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{d}/orders.parquet/*.parquet'"
    )
    want = {
        str(r[0]): (r[1], r[2])
        for r in con.execute(QUERIES["g8_ytd_revenue"].sql).fetchall()
    }
    assert want == got


def test_h14_g6_big_cents_magnitudes_cross_engine(spark, tmp_path):
    """h14/g6 oracle staging widened to DECIMAL(28,2) (round-13
    ADVICE, the h10 lesson — DuckDB's DECIMAL(18,2) * 100 multiply
    overflows at 1e14 dollars). Cross-engine exact at the proven
    ~7e13-dollar zone (below 2^53 cents, where double->decimal agrees
    engine-to-engine) with a gap day and a two-customer month."""

    rows = [
        # March: cust 1 orders on day 1 and day 2 (last = day 2),
        # cust 2 on day 2; day 3 absent; day 4 closes the spine.
        (1, 1, "O", 69_000_000_000_000.0, "1995-03-01 00:00:00", "1-U"),
        (2, 1, "O", 70_000_000_000_000.0, "1995-03-02 00:00:00", "1-U"),
        (3, 2, "O", 71_000_000_000_000.0, "1995-03-02 00:00:00", "1-U"),
        (4, 2, "O", 68_000_000_000_000.0, "1995-03-04 00:00:00", "1-U"),
    ]
    d = _write_orders(spark, tmp_path, rows)
    con = duck_connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{d}/orders.parquet/*.parquet'"
    )
    got14 = {
        str(r["day"]): (r["revenue_cents"], r["is_gap"])
        for r in QUERIES["h14_gap_fill"].fn(spark, str(d)).collect()
    }
    assert got14["1995-03-02"] == (141_000_000_000_000_00, False)
    assert got14["1995-03-03"] == (0, True)
    want14 = {
        str(r[0]): (r[1], r[2])
        for r in con.execute(QUERIES["h14_gap_fill"].sql).fetchall()
    }
    assert want14 == got14

    got6 = {
        str(r["month"]): (r["n_customers"], r["eop_balance_cents"])
        for r in QUERIES["g6_semi_additive"].fn(spark, str(d)).collect()
    }
    # last-per-customer: cust 1 -> day-2 order (7e13), cust 2 -> day 4
    assert got6 == {"1995-03-01": (2, 138_000_000_000_000_00)}
    want6 = {
        str(r[0]): (r[1], r[2])
        for r in con.execute(QUERIES["g6_semi_additive"].sql).fetchall()
    }
    assert want6 == got6

    # DuckDB-only headroom pin: a 2e16-dollar order is inside the
    # BIGINT-cents contract but PAST DECIMAL(18,2) — the old staging
    # raised a conversion error here; DECIMAL(28,2) must stage it.
    con2 = duck_connect()
    con2.execute(
        "CREATE VIEW orders AS SELECT 1 AS o_orderkey, 1 AS o_custkey,"
        " 'O' AS o_orderstatus, 2e16 AS o_totalprice,"
        " TIMESTAMP '1995-03-01 00:00:00' AS o_orderdate,"
        " '1-U' AS o_orderpriority"
    )
    assert con2.execute(QUERIES["h14_gap_fill"].sql).fetchall() == [
        (__import__("datetime").date(1995, 3, 1), 2 * 10**18, False)
    ]
    assert con2.execute(QUERIES["g6_semi_additive"].sql).fetchall() == [
        (__import__("datetime").date(1995, 3, 1), 1, 2 * 10**18)
    ]


# ------------------------- ops8 / x61 / h15 (round-14 wave 5)

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_docs(spark, tmp_path, rows):
    d = tmp_path / "docs"
    d.mkdir()
    spark.createDataFrame(rows, _DOC_SCHEMA).coalesce(1).write.parquet(
        str(d / "documents.parquet")
    )
    return d


def _duck_views(tmp_path_dir, *tables):
    con = duck_connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{tmp_path_dir}/{t}.parquet/*.parquet'"
        )
    return con


def test_ops8_zone_map_skip_and_false_scan_states(spark, tmp_path):
    """Three months exercising every audit verdict: 1995-01 is
    skippable by BOTH predicates (all rows before the date cutoff and
    below the price band); 1995-02 BRACKETS the price band with no row
    inside — the zone-map false positive a >=-only predicate can never
    produce (skip_price false, n_match_price 0, false_scan TRUE);
    1997-07 sits past the date cutoff with one row INSIDE the band.
    Cross-engine equal cell-for-cell."""
    from datetime import date

    rows = [
        (1, 1, "O", 100.0, "1995-01-05 00:00:00", "1-U"),
        (2, 1, "O", 200.0, "1995-01-20 00:00:00", "1-U"),
        # brackets [450000.00, 450100.00] without entering it
        (3, 1, "O", 400000.0, "1995-02-03 00:00:00", "1-U"),
        (4, 1, "O", 500000.0, "1995-02-25 00:00:00", "1-U"),
        # inside the band, after the date cutoff
        (5, 1, "O", 450050.0, "1997-07-04 00:00:00", "1-U"),
    ]
    d = _write_orders(spark, tmp_path, rows)
    got = {
        str(r["month"]): tuple(r)[1:]
        for r in QUERIES["ops8_zone_map"].fn(spark, str(d)).collect()
    }
    want = {
        "1995-01-01": (
            2, 10000, 20000, date(1995, 1, 5), date(1995, 1, 20),
            True, 0, True, 0, False,
        ),
        "1995-02-01": (
            2, 40000000, 50000000, date(1995, 2, 3), date(1995, 2, 25),
            True, 0, False, 0, True,  # the false-scan row
        ),
        "1997-07-01": (
            1, 45005000, 45005000, date(1997, 7, 4), date(1997, 7, 4),
            False, 1, False, 1, False,
        ),
    }
    assert got == want
    con = _duck_views(d, "orders")
    oracle = {
        str(r[0]): tuple(r)[1:]
        for r in con.execute(QUERIES["ops8_zone_map"].sql).fetchall()
    }
    assert oracle == want


def _kn_python(texts):
    """Independent pure-Python interpolated Kneser-Ney (D = 0.75) over
    single-space tokenization — the same formula written from the
    Chen & Goodman equation, NOT from the engine expression."""
    import math
    from collections import Counter, defaultdict

    bigrams = {}
    for doc_id, text in texts:
        if text is None:
            continue
        toks = text.split(" ")
        bigrams[doc_id] = list(zip(toks, toks[1:]))
    bc = Counter(b for bs in bigrams.values() for b in bs)
    c1 = defaultdict(int)
    for (w1, _w2), n in bc.items():
        c1[w1] += n
    n1f = defaultdict(int)
    n1b = defaultdict(int)
    for w1, w2 in bc:
        n1f[w1] += 1
        n1b[w2] += 1
    tt = len(bc)
    out = {}
    for doc_id, bs in bigrams.items():
        if not bs:
            continue
        acc = 0.0
        for w1, w2 in bs:  # position order, like the engine fold
            acc += math.log(
                (bc[(w1, w2)] - 0.75) / c1[w1]
                + ((0.75 * n1f[w1]) / c1[w1]) * (n1b[w2] / tt)
            )
        out[doc_id] = (len(bs), round(acc / len(bs), 6))
    return out


def test_x61_kneser_ney_san_francisco_effect_triple_differential(
    spark, tmp_path
):
    """The fixture encodes the effect KN exists for: 'francisco' is
    FREQUENT but only ever follows 'san' (continuation count 1), while
    'b' is rarer but follows three different words. A unigram or
    add-one model scores p(.|new-context -> francisco) high; KN's
    continuation term must score the diverse 'b' higher. Spark ==
    DuckDB == independent Python on every doc; single-token and NULL
    docs are absent from the output."""
    texts = [
        (0, "san francisco san francisco san francisco"),
        (1, "a b c b d b a e"),
        (2, "san francisco a b"),
        (3, "francisco"),  # no bigrams -> absent
        (4, None),  # NULL text -> absent
    ]
    rows = [
        (i, t, "en", "web", len(t) if t else 0) for i, t in texts
    ]
    d = _write_docs(spark, tmp_path, rows)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["kn_logprob"])
        for r in QUERIES["x61_kneser_ney_lm"].fn(spark, str(d)).collect()
    }
    want = _kn_python(texts)
    assert set(got) == {0, 1, 2}
    assert got == want
    con = _duck_views(d, "documents")
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(QUERIES["x61_kneser_ney_lm"].sql).fetchall()
    }
    assert oracle == want
    # the Kneser-Ney point itself: the continuation probability of the
    # context-diverse 'b' (follows a, c, d -> N1+(.b) = 3) must beat
    # the frequent-but-bound 'francisco' (only ever follows san ->
    # N1+(.francisco) = 1), even though francisco OCCURS more often
    n1b = __import__("collections").Counter()
    for _i, t in texts:
        if t:
            ws = t.split(" ")
            n1b.update(set(zip(ws, ws[1:])))
    back = __import__("collections").Counter(w2 for (_w1, w2) in n1b)
    assert back["b"] == 3 and back["francisco"] == 1


def test_x61_seeded_collision_dense_triple_differential(spark, tmp_path):
    """Seeded 40-doc corpus over a 5-word vocabulary (maximally
    collision-dense bigram table, every count > 1) with NULL and
    single-token docs interleaved: Spark == DuckDB == independent
    Python, exactly."""
    import random

    rng = random.Random(61)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    texts = []
    for i in range(40):
        if i % 13 == 7:
            texts.append((i, None))
        elif i % 11 == 5:
            texts.append((i, rng.choice(vocab)))
        else:
            n = rng.randint(2, 12)
            texts.append(
                (i, " ".join(rng.choice(vocab) for _ in range(n)))
            )
    rows = [(i, t, "en", "web", len(t) if t else 0) for i, t in texts]
    d = _write_docs(spark, tmp_path, rows)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["kn_logprob"])
        for r in QUERIES["x61_kneser_ney_lm"].fn(spark, str(d)).collect()
    }
    want = _kn_python(texts)
    assert got == want
    con = _duck_views(d, "documents")
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(QUERIES["x61_kneser_ney_lm"].sql).fetchall()
    }
    assert oracle == want


def test_h15_m4_roles_and_tie_breaks_cross_engine(spark, tmp_path):
    """Day 1: distinct values — first/min coincide on e0, max is the
    middle point e1, last is e2 (a point serving two roles appears
    once per role). Day 2: a VALUE TIE — min goes to the earlier
    (ts, event_id), max to the later, per the deterministic DESC tie
    break. NULL-value events are excluded entirely."""
    rows = [
        (0, "2024-01-01 01:00:00", 1, "view", 5.0, "{}"),
        (1, "2024-01-01 02:00:00", 1, "view", 9.0, "{}"),
        (2, "2024-01-01 03:00:00", 1, "view", 7.0, "{}"),
        (3, "2024-01-02 01:00:00", 1, "view", 4.0, "{}"),
        (4, "2024-01-02 02:00:00", 1, "view", 4.0, "{}"),
        (5, "2024-01-02 03:00:00", 1, "view", None, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {
        (str(r["bucket"]), r["role"]): (r["event_id"], r["value"], r["ts_us"])
        for r in QUERIES["h15_m4_downsample"].fn(spark, str(d)).collect()
    }
    us = lambda h: (1704067200 + (h - 0) * 3600) * 10**6  # 2024-01-01 UTC
    want = {
        ("2024-01-01", "first"): (0, 5.0, us(1)),
        ("2024-01-01", "min"): (0, 5.0, us(1)),
        ("2024-01-01", "max"): (1, 9.0, us(2)),
        ("2024-01-01", "last"): (2, 7.0, us(3)),
        ("2024-01-02", "first"): (3, 4.0, us(25)),
        ("2024-01-02", "min"): (3, 4.0, us(25)),
        ("2024-01-02", "max"): (4, 4.0, us(26)),
        ("2024-01-02", "last"): (4, 4.0, us(26)),
    }
    assert got == want
    con = _duck_views(d, "events")
    oracle = {
        (str(r[1]), r[2]): (r[5], r[4], r[3])
        for r in con.execute(QUERIES["h15_m4_downsample"].sql).fetchall()
    }
    assert oracle == want


# ------------------------- g9 / g10 / x62 (round-14 wave 6)


def test_g9_mat_range_frame_handles_calendar_gaps(spark, tmp_path):
    """Orders in 1994-01, 1994-03, 1995-02 (gaps!): at 1995-02 the
    trailing-12-month window must include 1994-03 but NOT 1994-01
    (13 months back) — a ROWS-11 frame would wrongly include it.
    n_months exposes the partial windows. Cross-engine equal."""
    rows = [
        (1, 1, "O", 10.0, "1994-01-15 00:00:00", "1-U"),
        (2, 1, "O", 20.0, "1994-03-10 00:00:00", "1-U"),
        (3, 1, "O", 5.0, "1995-02-20 00:00:00", "1-U"),
    ]
    d = _write_orders(spark, tmp_path, rows)
    got = {
        str(r["month"]): (r["revenue_cents"], r["mat_cents"], r["n_months"])
        for r in QUERIES["g9_moving_annual_total"].fn(spark, str(d)).collect()
    }
    want = {
        "1994-01-01": (1000, 1000, 1),
        "1994-03-01": (2000, 3000, 2),
        "1995-02-01": (500, 2500, 2),  # 1994-01 aged out by VALUE distance
    }
    assert got == want
    con = _duck_views(d, "orders")
    oracle = {
        str(r[0]): (r[1], r[2], r[3])
        for r in con.execute(
            QUERIES["g9_moving_annual_total"].sql
        ).fetchall()
    }
    assert oracle == want


def test_g10_sply_join_not_lag_and_null_baseline(spark, tmp_path):
    """1995-05 compares against 1994-05 (yoy +50%); 1995-06 has NO
    1994-06 baseline and must report NULL, not the previous row (the
    lag-12 trap this op exists to avoid); first-year months are NULL.
    Cross-engine equal."""
    rows = [
        (1, 1, "O", 10.0, "1994-05-02 00:00:00", "1-U"),
        (2, 1, "O", 15.0, "1995-05-09 00:00:00", "1-U"),
        (3, 1, "O", 7.0, "1995-06-20 00:00:00", "1-U"),
    ]
    d = _write_orders(spark, tmp_path, rows)
    got = {
        str(r["month"]): (r["revenue_cents"], r["sply_cents"], r["yoy_pct"])
        for r in QUERIES["g10_sply_growth"].fn(spark, str(d)).collect()
    }
    want = {
        "1994-05-01": (1000, None, None),
        "1995-05-01": (1500, 1000, 50.0),
        "1995-06-01": (700, None, None),  # missing baseline != lag row
    }
    assert got == want
    con = _duck_views(d, "orders")
    oracle = {
        str(r[0]): (r[1], r[2], r[3])
        for r in con.execute(QUERIES["g10_sply_growth"].sql).fetchall()
    }
    assert oracle == want


def _cdc_python(rows, p=4):
    """Independent pure-Python content-defined chunker (hashlib md5),
    written from the boundary rule, not from the engine plan: token i
    ends its chunk when its first md5 nibble < p; chunk hash is md5 of
    the space-joined chunk; canonical = first (doc_id, chunk_id) per
    hash; per-source storage report."""
    import hashlib
    from collections import defaultdict

    insts = []
    for doc_id, text, source in rows:
        if text is None:
            continue
        cur, cid = [], 0
        for tok in text.split(" "):
            cur.append(tok)
            if int(hashlib.md5(tok.encode()).hexdigest()[0], 16) < p:
                txt = " ".join(cur)
                insts.append((doc_id, cid, source, txt))
                cur, cid = [], cid + 1
        if cur:
            insts.append((doc_id, cid, source, " ".join(cur)))
    first = {}
    for doc_id, cid, _s, txt in sorted(insts):
        h = hashlib.md5(txt.encode()).hexdigest()
        first.setdefault(h, (doc_id, cid))
    agg = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, canon, dup, chars, saved
    for doc_id, cid, source, txt in insts:
        h = hashlib.md5(txt.encode()).hexdigest()
        canon = first[h] == (doc_id, cid)
        a = agg[source]
        a[0] += 1
        a[1] += canon
        a[2] += not canon
        a[3] += len(txt)
        a[4] += 0 if canon else len(txt)
    return {
        s: (a[0], a[1], a[2], a[3], a[4], round(a[4] / a[3], 6))
        for s, a in agg.items()
    }


def test_x62_cdc_shift_robustness_triple_differential(spark, tmp_path):
    """The CDC property itself: doc 1 repeats doc 0's text with a
    token INSERTED at the front — fixed-width chunking would dedup
    ~nothing, content-defined boundaries must re-align after the
    first boundary and dedup the tail (saved_chars > 0 in doc 1's
    source). Spark == DuckDB == independent Python."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    rows = [
        (0, base, "src_a"),
        (1, "inserted " + base, "src_b"),
        (2, base, "src_c"),  # exact repeat: everything but canon dedups
        (3, None, "src_a"),  # NULL text drops
    ]
    doc_rows = [
        (i, t, "en", s, len(t) if t else 0) for i, t, s in rows
    ]
    d = _write_docs(spark, tmp_path, doc_rows)
    got = {
        r["source"]: tuple(r)[1:]
        for r in QUERIES["x62_cdc_chunking"].fn(spark, str(d)).collect()
    }
    want = _cdc_python(rows)
    assert got == want
    # the tail of the shifted doc deduplicated against doc 0
    assert want["src_b"][4] > 0
    # the exact repeat deduplicated entirely
    assert want["src_c"][2] == want["src_c"][0]
    con = _duck_views(d, "documents")
    oracle = {
        r[0]: tuple(r)[1:]
        for r in con.execute(QUERIES["x62_cdc_chunking"].sql).fetchall()
    }
    assert oracle == want


def test_x62_seeded_corpus_triple_differential(spark, tmp_path):
    """Seeded 30-doc corpus over an 8-word vocabulary (dense chunk
    collisions, many boundary tokens) with NULL docs interleaved:
    Spark == DuckDB == independent Python exactly."""
    import random

    rng = random.Random(62)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    rows = []
    for i in range(30):
        if i % 9 == 4:
            rows.append((i, None, f"s{i % 3}"))
        else:
            n = rng.randint(1, 15)
            rows.append(
                (i, " ".join(rng.choice(vocab) for _ in range(n)),
                 f"s{i % 3}")
            )
    doc_rows = [(i, t, "en", s, len(t) if t else 0) for i, t, s in rows]
    d = _write_docs(spark, tmp_path, doc_rows)
    got = {
        r["source"]: tuple(r)[1:]
        for r in QUERIES["x62_cdc_chunking"].fn(spark, str(d)).collect()
    }
    want = _cdc_python(rows)
    assert got == want
    con = _duck_views(d, "documents")
    oracle = {
        r[0]: tuple(r)[1:]
        for r in con.execute(QUERIES["x62_cdc_chunking"].sql).fetchall()
    }
    assert oracle == want


# ----------------------------------- dq14 (round-14 wave 7)


def test_dq14_wholly_missing_bucket_surfaces(spark, tmp_path):
    """Keys 1000, 1010 (bucket 0), 3000 (bucket 2) — bucket 1 has NO
    keys at all (the lost-shard case) and must still appear with
    density 0 because the spine is GENERATED, not derived from
    present keys; edge buckets clip their width to the corpus
    [min, max]. Cross-engine equal."""
    rows = [
        (1000, 1, "O", 10.0, "1995-01-05 00:00:00", "1-U"),
        (1010, 1, "O", 10.0, "1995-01-06 00:00:00", "1-U"),
        (3000, 1, "O", 10.0, "1995-01-07 00:00:00", "1-U"),
    ]
    d = _write_orders(spark, tmp_path, rows)
    got = {
        r["bucket_lo"]: (
            r["width"], r["n_present"], r["n_missing"], r["density"]
        )
        for r in QUERIES["dq14_key_density"].fn(spark, str(d)).collect()
    }
    want = {
        0: (24, 2, 22, round(2 / 24, 6)),      # clipped to [1000, 1023]
        1024: (1024, 0, 1024, 0.0),            # the lost shard
        2048: (953, 1, 952, round(1 / 953, 6)),  # clipped to [2048, 3000]
    }
    assert got == want
    con = _duck_views(d, "orders")
    oracle = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(QUERIES["dq14_key_density"].sql).fetchall()
    }
    assert oracle == want


# ----------------------------- ab5 / g11 (round-14 wave 8)


def _bootstrap_python(orders, B=64):
    """Independent pure-Python Poisson-bootstrap CI (hashlib md5 +
    the scaled inverse-CDF thresholds), written from the method, not
    the engine plan."""
    import hashlib

    T = [
        1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
        4292415291, 4294609777, 4294923276, 4294962463,
    ]
    cents = {k: round(v * 100) for k, v in orders}
    means = []
    for b in range(B):
        g, j = divmod(b, 4)  # one md5 serves four replicas
        ws = wn = 0
        for k, c in cents.items():
            h = hashlib.md5(f"{k}:{g}".encode()).hexdigest()
            u = int(h[8 * j : 8 * j + 8], 16)
            wt = sum(1 for t in T if u >= t)
            ws += wt * c
            wn += wt
        if wn > 0:
            means.append(round(ws / wn, 6))
    means.sort()
    n = len(cents)
    return (
        n,
        round(sum(cents.values()) / n, 6),
        len(means),
        means[1],
        means[B - 2],
    )


def test_ab5_bootstrap_triple_differential(spark, tmp_path):
    """50 seeded orders: Spark == DuckDB == independent Python on the
    whole row (n, mean, replica count, both CI bounds) — the weights
    are integer-threshold draws so every engine resamples the exact
    same multisets."""
    import random

    rng = random.Random(5)
    orders = [(k, round(rng.uniform(10, 500), 2)) for k in range(50)]
    rows = [
        (k, 1, "O", v, "1995-01-05 00:00:00", "1-U") for k, v in orders
    ]
    d = _write_orders(spark, tmp_path, rows)
    got = tuple(
        QUERIES["ab5_bootstrap_ci"].fn(spark, str(d)).collect()[0]
    )
    want = _bootstrap_python(orders)
    assert got == want
    assert got[3] <= got[1] <= got[4]  # CI brackets the point estimate
    con = _duck_views(d, "orders")
    oracle = tuple(
        con.execute(QUERIES["ab5_bootstrap_ci"].sql).fetchall()[0]
    )
    assert oracle == want


def test_g11_abc_boundary_exact_classes(spark, tmp_path):
    """One brand with revenue split exactly 80/15/5: cumulative
    shares land EXACTLY on the 0.8 and 0.95 boundaries — classed A
    and B (<=, not <) in both engines because classification runs on
    the unrounded share; a second brand pins the revenue-tie ->
    partkey order."""

    # lineitem: l_orderkey, l_partkey, l_suppkey, l_quantity,
    # l_extendedprice, l_discount, l_returnflag, l_shipdate...
    li_rows = [
        (1, 101, 1, 1.0, 80.0),
        (2, 102, 1, 1.0, 15.0),
        (3, 103, 1, 1.0, 5.0),
        (4, 201, 1, 1.0, 7.0),
        (5, 202, 1, 1.0, 7.0),
    ]
    p_rows = [
        (101, "Brand#11"), (102, "Brand#11"), (103, "Brand#11"),
        (201, "Brand#22"), (202, "Brand#22"),
    ]
    d = tmp_path / "t"
    d.mkdir()
    spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_quantity double, l_extendedprice double",
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))
    spark.createDataFrame(
        p_rows, "p_partkey long, p_brand string"
    ).coalesce(1).write.parquet(str(d / "part.parquet"))
    got = {
        r["l_partkey"]: (r["revenue_cents"], r["cum_share"], r["abc_class"])
        for r in QUERIES["g11_abc_analysis"].fn(spark, str(d)).collect()
    }
    want = {
        101: (8000, 0.8, "A"),    # exactly 0.8 -> A, not B
        102: (1500, 0.95, "B"),   # exactly 0.95 -> B, not C
        103: (500, 1.0, "C"),
        201: (700, 0.5, "A"),     # tie: lower partkey ranks first
        202: (700, 1.0, "C"),
    }
    assert got == want
    con = duck_connect()
    for t in ["lineitem", "part"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{d}/{t}.parquet/*.parquet'"
        )
    oracle = {
        r[1]: (r[2], r[3], r[4])
        for r in con.execute(QUERIES["g11_abc_analysis"].sql).fetchall()
    }
    assert oracle == want


# ----------------------------- m25 / pr10 (round-14 wave 9)


def test_m25_mase_calendar_joins_drop_missing_days(spark, tmp_path):
    """Daily revenue 100t cents on Jan 1-9 plus Jan 11 (Jan 10
    MISSING): the naive pair for Jan 11 must DROP (its d-1 does not
    exist — a row lag would silently compare against Jan 9), while
    its seasonal pair (Jan 4) exists. Hand-computed MASE
    = (2000*8)/(800*3). Cross-engine equal."""
    rows = []
    for t in range(1, 10):
        rows.append(
            (t, 1, "O", float(t), f"1995-01-0{t} 00:00:00", "1-U")
        )
    rows.append((10, 1, "O", 10.0, "1995-01-11 00:00:00", "1-U"))
    d = _write_orders(spark, tmp_path, rows)
    got = [
        tuple(r) for r in QUERIES["m25_mase"].fn(spark, str(d)).collect()
    ]
    want = [("1-U", 3, 8, 2000, 800, round(16000 / 2400, 6))]
    assert got == want
    con = _duck_views(d, "orders")
    assert con.execute(QUERIES["m25_mase"].sql).fetchall() == want


def test_pr10_star_is_minus_one_regular_is_null(spark, tmp_path):
    """Star co-purchase graph (part 0 in every basket with one leaf)
    is perfectly disassortative: assortativity EXACTLY -1.0. A
    triangle (one basket of three parts) is degree-regular: zero
    variance -> NULL via nullif, never a divide-by-zero artifact.
    Cross-engine equal."""

    def write_li(sub, li_rows):
        dd = tmp_path / sub
        dd.mkdir()
        spark.createDataFrame(
            li_rows, "l_orderkey long, l_partkey long"
        ).coalesce(1).write.parquet(str(dd / "lineitem.parquet"))
        return dd

    star = write_li("star", [(1, 0), (1, 1), (2, 0), (2, 2), (3, 0), (3, 3)])
    got = QUERIES["pr10_assortativity"].fn(spark, str(star)).collect()[0]
    assert (got["n_edges_directed"], got["assortativity"]) == (6, -1.0)
    con = duck_connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"'{star}/lineitem.parquet/*.parquet'"
    )
    assert con.execute(QUERIES["pr10_assortativity"].sql).fetchall() == [
        (6, -1.0)
    ]

    tri = write_li("tri", [(1, 1), (1, 2), (1, 3)])
    got = QUERIES["pr10_assortativity"].fn(spark, str(tri)).collect()[0]
    assert (got["n_edges_directed"], got["assortativity"]) == (6, None)
    con2 = duck_connect()
    con2.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"'{tri}/lineitem.parquet/*.parquet'"
    )
    assert con2.execute(QUERIES["pr10_assortativity"].sql).fetchall() == [
        (6, None)
    ]


# ----------------------------- sky1 (round-14 wave 10)


def _skyline_python(parts):
    """Brute-force dominance from the DEFINITION (quadratic), written
    independently of the window formulation: keep p iff no q with
    price <= and size >= and one strict."""
    out = []
    for brand, key, price, size in parts:
        dominated = any(
            b == brand
            and qp <= price
            and qs >= size
            and (qp < price or qs > size)
            for b, _qk, qp, qs in parts
        )
        if not dominated:
            out.append((brand, key, price, size))
    return sorted(out)


def test_sky1_hand_fixture_ties_and_duplicates(spark, tmp_path):
    """Equal price + equal size are mutually non-dominating (BOTH
    survive); a same-price smaller part falls to the group max; an
    equally-sized more-expensive part falls to the strictly-cheaper
    cummax; the cheapest part always survives (NULL cummax)."""

    # (key, brand, size, price)
    p_rows = [
        (1, "B1", 5, 1.0),    # frontier
        (2, "B1", 5, 1.0),    # duplicate point: BOTH kept
        (3, "B1", 3, 1.0),    # same price, smaller -> dominated
        (4, "B1", 7, 2.0),    # frontier (larger than all cheaper)
        (5, "B1", 5, 2.0),    # dominated by (1.0, 5)
        (6, "B1", 7, 3.0),    # dominated by (2.0, 7): same size, dearer
        (7, "B1", 1, 0.5),    # cheapest: frontier despite tiny size
        (8, "B2", 1, 9.0),    # other brand: alone -> frontier
    ]
    d = tmp_path / "t"
    d.mkdir()
    spark.createDataFrame(
        [(k, b, s, pr) for k, b, s, pr in p_rows],
        "p_partkey long, p_brand string, p_size int, p_retailprice double",
    ).coalesce(1).write.parquet(str(d / "part.parquet"))
    got = sorted(
        (r["p_brand"], r["p_partkey"], r["price_cents"], r["size"])
        for r in QUERIES["sky1_pareto_frontier"].fn(spark, str(d)).collect()
    )
    want = _skyline_python(
        [(b, k, round(pr * 100), s) for k, b, s, pr in p_rows]
    )
    assert got == want
    assert [k for _b, k, _p, _s in got] == [1, 2, 4, 7, 8]
    con = duck_connect()
    con.execute(
        "CREATE VIEW part AS SELECT * FROM "
        f"'{d}/part.parquet/*.parquet'"
    )
    oracle = sorted(
        (r[0], r[1], r[2], r[3])
        for r in con.execute(
            QUERIES["sky1_pareto_frontier"].sql
        ).fetchall()
    )
    assert oracle == want


def test_sky1_seeded_triple_differential_vs_bruteforce(spark, tmp_path):
    """Seeded 120-part catalog over 3 brands with heavy price/size
    collisions: the window formulation must equal the quadratic
    dominance DEFINITION (independent Python) and the DuckDB oracle
    exactly."""
    import random

    rng = random.Random(71)
    p_rows = [
        (k, f"B{k % 3}", rng.randint(1, 8), float(rng.randint(1, 12)))
        for k in range(120)
    ]
    d = tmp_path / "t"
    d.mkdir()
    spark.createDataFrame(
        p_rows,
        "p_partkey long, p_brand string, p_size int, p_retailprice double",
    ).coalesce(1).write.parquet(str(d / "part.parquet"))
    got = sorted(
        (r["p_brand"], r["p_partkey"], r["price_cents"], r["size"])
        for r in QUERIES["sky1_pareto_frontier"].fn(spark, str(d)).collect()
    )
    want = _skyline_python(
        [(b, k, round(pr * 100), s) for k, b, s, pr in p_rows]
    )
    assert got == want
    con = duck_connect()
    con.execute(
        "CREATE VIEW part AS SELECT * FROM "
        f"'{d}/part.parquet/*.parquet'"
    )
    oracle = sorted(
        (r[0], r[1], r[2], r[3])
        for r in con.execute(
            QUERIES["sky1_pareto_frontier"].sql
        ).fetchall()
    )
    assert oracle == want


# ----------------------------- e18 (round-14 wave 11)


def test_e18_match_recognize_greedy_nonoverlap_triple(spark, tmp_path):
    """User 1's sequence 'vvcpvpe' contains two NON-overlapping
    greedy matches (vvcp, vp); user 2's 'cpv' has none (no leading
    v...p episode); user 3 interleaves an error inside the episode —
    'vep' must NOT match (e breaks [vc]*). Spark == DuckDB ==
    Python re.findall on the same strings."""
    import re

    rows = [
        # user 1: v v c p v p e
        (0, "2024-01-01 01:00:00", 1, "view", 1.0, "{}"),
        (1, "2024-01-01 02:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 03:00:00", 1, "click", 1.0, "{}"),
        (3, "2024-01-01 04:00:00", 1, "purchase", 1.0, "{}"),
        (4, "2024-01-01 05:00:00", 1, "view", 1.0, "{}"),
        (5, "2024-01-01 06:00:00", 1, "purchase", 1.0, "{}"),
        (6, "2024-01-01 07:00:00", 1, "error", 1.0, "{}"),
        # user 2: c p v
        (7, "2024-01-01 01:00:00", 2, "click", 1.0, "{}"),
        (8, "2024-01-01 02:00:00", 2, "purchase", 1.0, "{}"),
        (9, "2024-01-01 03:00:00", 2, "view", 1.0, "{}"),
        # user 3: v e p
        (10, "2024-01-01 01:00:00", 3, "view", 1.0, "{}"),
        (11, "2024-01-01 02:00:00", 3, "error", 1.0, "{}"),
        (12, "2024-01-01 03:00:00", 3, "purchase", 1.0, "{}"),
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {
        r["user_id"]: (r["seq"], r["seq_len"], r["n_matches"])
        for r in QUERIES["e18_match_recognize"].fn(spark, str(d)).collect()
    }
    want = {
        1: ("vvcpvpe", 7, 2),
        2: ("cpv", 3, 0),
        3: ("vep", 3, 0),
    }
    assert got == want
    for u, (seq, _l, n) in want.items():
        assert len(re.findall("v[vc]*p", seq)) == n
    con = _duck_views(d, "events")
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            QUERIES["e18_match_recognize"].sql
        ).fetchall()
    }
    assert oracle == want


def test_e18_seeded_sequences_triple_differential(spark, tmp_path):
    """Seeded 200-event stream over 12 users: every reconstructed
    symbol string and match count equals Python re over the
    independently rebuilt sequences."""
    import random
    import re

    rng = random.Random(18)
    types = ["view", "click", "purchase", "signup", "error"]
    rows = [
        (
            i,
            f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00",
            rng.randint(1, 12),
            rng.choice(types),
            1.0,
            "{}",
        )
        for i in range(200)
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {
        r["user_id"]: (r["seq"], r["n_matches"])
        for r in QUERIES["e18_match_recognize"].fn(spark, str(d)).collect()
    }
    sym = {"view": "v", "click": "c", "purchase": "p",
           "signup": "s", "error": "e"}
    seqs = {}
    for eid, _ts, uid, et, _v, _p in sorted(rows):
        seqs.setdefault(uid, []).append(sym[et])
    want = {
        u: ("".join(s), len(re.findall("v[vc]*p", "".join(s))))
        for u, s in seqs.items()
    }
    assert got == want


# ----------------------------- ops9 (round-14 wave 12)


def test_ops9_overlap_depth_sweep_and_tie_break(spark, tmp_path):
    """Four month partitions by price range: [100,200], [150,300]
    (overlap -> depth 2), [301,400] (starts EXACTLY one past the
    previous end: the -1-before-+1 tie-break keeps depth at 2, not
    3), [1000,1000] (disjoint point). avg_depth = 353/901.
    Cross-engine equal."""
    rows = [
        (1, 1, "O", 1.00, "1995-01-05 00:00:00", "1-U"),
        (2, 1, "O", 2.00, "1995-01-20 00:00:00", "1-U"),
        (3, 1, "O", 1.50, "1995-02-03 00:00:00", "1-U"),
        (4, 1, "O", 3.00, "1995-02-25 00:00:00", "1-U"),
        (5, 1, "O", 3.01, "1995-03-04 00:00:00", "1-U"),
        (6, 1, "O", 4.00, "1995-03-19 00:00:00", "1-U"),
        (7, 1, "O", 10.00, "1995-04-02 00:00:00", "1-U"),
    ]
    d = _write_orders(spark, tmp_path, rows)
    got = tuple(
        QUERIES["ops9_overlap_depth"].fn(spark, str(d)).collect()[0]
    )
    want = (4, 100, 1000, 353, round(353 / 901, 6), 2)
    assert got == want
    con = _duck_views(d, "orders")
    assert con.execute(
        QUERIES["ops9_overlap_depth"].sql
    ).fetchall() == [want]


# ----------------------------- h16 (round-14 wave 12b)


def test_h16_heartbeat_distinct_hours_and_breach(spark, tmp_path):
    """'view' is up 90 distinct hours in the week of Mon 2024-01-01
    (three events in one hour count ONCE) -> no breach; 'error'
    appears in 2 hours -> breach; hours split across the Sunday->
    Monday boundary land in different ISO weeks. Cross-engine."""
    rows = []
    eid = 0
    # view: 90 distinct hours starting Mon 2024-01-01 00:xx
    for hch in range(90):
        day, hr = divmod(hch, 24)
        rows.append(
            (eid, f"2024-01-0{day + 1} {hr:02d}:05:00", 1, "view",
             1.0, "{}")
        )
        eid += 1
    # same-hour duplicates: must not inflate the count
    rows.append((eid, "2024-01-01 00:40:00", 2, "view", 1.0, "{}"))
    eid += 1
    rows.append((eid, "2024-01-01 00:59:59", 3, "view", 1.0, "{}"))
    eid += 1
    # error: two hours, one of them on Sunday 2024-01-07 (same ISO
    # week), one on Monday 2024-01-08 (NEXT ISO week)
    rows.append((eid, "2024-01-07 23:10:00", 4, "error", 1.0, "{}"))
    eid += 1
    rows.append((eid, "2024-01-08 00:10:00", 5, "error", 1.0, "{}"))
    d = _write_events(spark, tmp_path, rows)
    got = {
        (r["event_type"], str(r["week"])): (
            r["n_active_hours"], r["coverage"], r["breach"]
        )
        for r in QUERIES["h16_heartbeat_coverage"].fn(
            spark, str(d)
        ).collect()
    }
    want = {
        ("view", "2024-01-01"): (90, round(90 / 168, 6), False),
        ("error", "2024-01-01"): (1, round(1 / 168, 6), True),
        ("error", "2024-01-08"): (1, round(1 / 168, 6), True),
    }
    assert got == want
    con = _duck_views(d, "events")
    oracle = {
        (r[0], str(r[1])): (r[2], r[3], r[4])
        for r in con.execute(
            QUERIES["h16_heartbeat_coverage"].sql
        ).fetchall()
    }
    assert oracle == want


def test_dq14_negative_corrupt_key_floors_not_truncates(spark, tmp_path):
    """A corrupt NEGATIVE key (-5) must land in bucket -1 (floor
    division) in BOTH engines — Spark's bare `div` truncates toward
    zero and would have bucketed it with the 0..1023 rows, shifting
    every count; the pmod-floor form agrees with DuckDB's `//`."""
    rows = [
        (-5, 1, "O", 10.0, "1995-01-04 00:00:00", "1-U"),
        (1000, 1, "O", 10.0, "1995-01-05 00:00:00", "1-U"),
        (1010, 1, "O", 10.0, "1995-01-06 00:00:00", "1-U"),
        (3000, 1, "O", 10.0, "1995-01-07 00:00:00", "1-U"),
    ]
    d = _write_orders(spark, tmp_path, rows)
    got = {
        r["bucket_lo"]: (r["width"], r["n_present"], r["n_missing"])
        for r in QUERIES["dq14_key_density"].fn(spark, str(d)).collect()
    }
    want = {
        -1024: (5, 1, 4),       # clipped to [-5, -1]
        0: (1024, 2, 1022),
        1024: (1024, 0, 1024),
        2048: (953, 1, 952),
    }
    assert got == want
    con = _duck_views(d, "orders")
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(QUERIES["dq14_key_density"].sql).fetchall()
    }
    assert oracle == want


# ----------------------------- d19 (round-14 wave 13)


def _bruteforce_jaccard(texts, k=3, t=0.6):
    """All-pairs exact Jaccard over distinct k-word shingles — the
    quadratic ground truth the prefix filter must reproduce with
    ZERO false negatives."""
    sets = {}
    for i, txt in texts:
        if txt is None:
            continue
        w = txt.split(" ")
        s = {" ".join(w[j : j + k]) for j in range(len(w) - k + 1)}
        if s:
            sets[i] = s
    out = []
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            c = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if u and c / u >= t:
                out.append((a, b, c, round(c / u, 6)))
    return sorted(out)


def test_d19_boundary_and_exact_dup_hand_fixture(spark, tmp_path):
    """J exactly 0.6 (the >= boundary: 3 common / 5 union) is kept;
    an exact dup scores 1.0; a 1/7-overlap pair is excluded even if
    the prefix join proposes it. Cross-engine equal."""
    texts = [
        (0, "a b c d e f"),
        (1, "a b c d e g"),   # J(0,1) = 3/5 = 0.6 exactly
        (2, "a b c x y z"),   # J(0,2) = 1/7 -> excluded
        (3, "a b c d e f"),   # exact dup of 0
        (4, None),
    ]
    rows = [(i, t, "en", "w", len(t) if t else 0) for i, t in texts]
    d = _write_docs(spark, tmp_path, rows)
    got = sorted(
        tuple(r)
        for r in QUERIES["d19_prefix_filter_join"].fn(spark, str(d)).collect()
    )
    want = _bruteforce_jaccard(texts)
    assert got == want
    assert (0, 1, 3, 0.6) in want and (0, 3, 4, 1.0) in want
    assert all(p[:2] != (0, 2) for p in want)
    con = _duck_views(d, "documents")
    oracle = sorted(
        tuple(r)
        for r in con.execute(
            QUERIES["d19_prefix_filter_join"].sql
        ).fetchall()
    )
    assert oracle == want


def test_d19_completeness_guarantee_seeded_differential(spark, tmp_path):
    """The prefix filter's whole claim: over a 40-doc seeded corpus
    with DENSE shingle collisions (5-word vocabulary), the candidate
    prefix join must surface EVERY pair the quadratic brute force
    finds at J >= 0.6 — no LSH-style misses — and nothing below the
    threshold. Spark == DuckDB == brute-force Python."""
    import random

    rng = random.Random(19)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    texts = []
    for i in range(40):
        if i % 11 == 6:
            texts.append((i, None))
        else:
            n = rng.randint(3, 10)
            texts.append(
                (i, " ".join(rng.choice(vocab) for _ in range(n)))
            )
    rows = [(i, t, "en", "w", len(t) if t else 0) for i, t in texts]
    d = _write_docs(spark, tmp_path, rows)
    got = sorted(
        tuple(r)
        for r in QUERIES["d19_prefix_filter_join"].fn(spark, str(d)).collect()
    )
    want = _bruteforce_jaccard(texts)
    assert got == want
    assert len(want) > 0  # the fixture actually exercises pairs
    con = _duck_views(d, "documents")
    oracle = sorted(
        tuple(r)
        for r in con.execute(
            QUERIES["d19_prefix_filter_join"].sql
        ).fetchall()
    )
    assert oracle == want


# ----------------------------- ev10 / w11 (round-14 wave 14)


def test_ev10_silhouette_hand_geometry(spark, tmp_path):
    """Four 2-point clusters on a line (centroids 1/11/21/31 after
    one Lloyd step, stable in step two): edge clusters mix a 10/11
    and an 8/9 silhouette (mean 0.898990 after round6), interior
    clusters are 8/9 on both sides (0.888889). Hand-derived from the
    simplified-silhouette formula; cross-engine equal."""

    xs = [0.0, 10.0, 20.0, 30.0, 2.0, 12.0, 22.0, 32.0]
    rows = [(i, [x, 0.0], 0) for i, x in enumerate(xs)]
    d = tmp_path / "e"
    d.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    got = {
        r["cent_id"]: (r["n_members"], r["mean_silhouette"])
        for r in QUERIES["ev10_silhouette"].fn(spark, str(d)).collect()
    }
    want = {
        0: (2, 0.89899),    # (10/11 + 8/9) / 2 -> round6
        1: (2, 0.888889),   # 8/9 both sides
        2: (2, 0.888889),
        3: (2, 0.89899),
    }
    assert got == want
    con = duck_connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{d}/embeddings.parquet/*.parquet'"
    )
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(QUERIES["ev10_silhouette"].sql).fetchall()
    }
    assert oracle == want


def _write_customers(spark, tmp_path, rows):
    d = tmp_path / "c"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.parquet(str(d / "customer.parquet"))
    return d


def test_w11_tie_aware_ranks_and_integer_midpoint(spark, tmp_path):
    """Nation 1: balances 100/200/200/300 — the tied 200s SHARE
    pr/cd (tie-aware by definition) but STRADDLE the ntile 2|3
    boundary (ntile splits peers); nation 2 is a single row (pr 0,
    cd 1e6). Nation 3 has 128 rows, so its first row's cume_dist is
    1/128 = 7812.5 ppm — an EXACT decimal midpoint: the integer
    half-up path must yield 7813 in BOTH engines (round(double, 6)
    gave 7813 on Spark and 7812 on DuckDB — the live sf0.1 trap)."""
    rows = [
        (1, "a", 1, 1.00, "B"),
        (2, "b", 1, 2.00, "B"),
        (3, "c", 1, 2.00, "B"),
        (4, "d", 1, 3.00, "B"),
        (5, "e", 2, 9.00, "B"),
    ] + [
        (100 + i, f"n3_{i}", 3, float(i + 1), "B") for i in range(128)
    ]
    d = _write_customers(spark, tmp_path, rows)
    got = {
        r["c_custkey"]: (
            r["pr_ppm"], r["cd_ppm"], r["quartile"]
        )
        for r in QUERIES["w11_rank_pack"].fn(spark, str(d)).collect()
    }
    assert got[1] == (0, 250000, 1)
    assert got[2] == (333333, 750000, 2)   # tied pr/cd ...
    assert got[3] == (333333, 750000, 3)   # ... but split quartiles
    assert got[4] == (1000000, 1000000, 4)
    assert got[5] == (0, 1000000, 1)       # single-row nation
    assert got[100] == (0, 7813, 1)        # the midpoint, half-up
    con = _duck_views(d, "customer")
    oracle = {
        r[0]: (r[3], r[4], r[5])
        for r in con.execute(QUERIES["w11_rank_pack"].sql).fetchall()
    }
    assert oracle == got


# ----------------------------- e19 (round-14 wave 15)


def test_e19_trailing_windows_and_stickiness(spark, tmp_path):
    """User 1 active Jan 1 only; user 2 active Jan 1 and Jan 8; user
    3 active Jan 30. On Jan 8: DAU = {2}, WAU = {2} (Jan 1 fell out
    of the 7-day window the day before), MAU = {1, 2}. On Jan 30:
    user 2's Jan 8 visit is still inside the 28-day window (days
    3..30), user 1's Jan 1 is not -> MAU = {2, 3}. Same-day
    duplicate events count once. Stickiness = DAU/MAU in half-up
    ppm. Cross-engine equal."""
    rows = [
        (0, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
        (1, "2024-01-01 11:00:00", 1, "view", 1.0, "{}"),  # same-day dup
        (2, "2024-01-01 12:00:00", 2, "view", 1.0, "{}"),
        (3, "2024-01-08 09:00:00", 2, "view", 1.0, "{}"),
        (4, "2024-01-30 09:00:00", 3, "view", 1.0, "{}"),
        (5, "2024-01-05 09:00:00", None, "view", 1.0, "{}"),  # NULL user
    ]
    d = _write_events(spark, tmp_path, rows)
    got = {
        str(r["day"]): (r["dau"], r["wau"], r["mau"], r["stickiness_ppm"])
        for r in QUERIES["e19_dau_mau_stickiness"].fn(
            spark, str(d)
        ).collect()
    }
    # spot-check the load-bearing days
    assert got["2024-01-01"] == (2, 2, 2, 1000000)
    assert got["2024-01-07"] == (0, 2, 2, 0)   # last WAU day for Jan 1
    assert got["2024-01-08"] == (1, 1, 2, 500000)
    assert got["2024-01-28"] == (0, 0, 2, 0)   # Jan 1 + Jan 8 both in
    assert got["2024-01-29"] == (0, 0, 1, 0)   # Jan 1 aged out of MAU
    assert got["2024-01-30"] == (1, 1, 2, 500000)
    # span is clipped to observed days: nothing past Jan 30
    assert max(got) == "2024-01-30" and min(got) == "2024-01-01"
    con = _duck_views(d, "events")
    oracle = {
        str(r[0]): (r[1], r[2], r[3], r[4])
        for r in con.execute(
            QUERIES["e19_dau_mau_stickiness"].sql
        ).fetchall()
    }
    assert oracle == got
