"""Round-13 regressions for the round-12 ADVICE items: label-propagation
node-set coverage on directed edge lists, h10 zscore decimal headroom —
plus the round-13 registrations' hand tests further down."""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)

from conftest import duck_connect


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ----------------------------------------------- ADVICE regressions


def test_label_propagation_covers_directed_node_set(spark):
    """On a DIRECTED edge list, source-only and sink-only nodes must
    appear in the output instead of silently vanishing (round-12
    ADVICE): labels initialize from src ∪ dst, and a node with no
    labeled in-neighbor carries its previous label forward."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.graph import (
        label_propagation,
    )

    # 1 -> 2 <- 3 (directed): 1 and 3 are source-only, 2 is sink-only
    e = spark.createDataFrame([(1, 2), (3, 2)], ["src", "dst"])
    out = {
        r["node"]: r["community"]
        for r in label_propagation(e, n_iter=2).collect()
    }
    # all three nodes present; 2 adopts the smallest in-neighbor label;
    # 1 and 3 (no in-edges) keep their own labels every round
    assert out == {1: 1, 2: 1, 3: 3}


def test_label_propagation_unchanged_on_undirected(spark):
    """The carry-forward never fires on an undirected edge list, so
    the fixed form is bit-identical to the previous inner-join form:
    a 4-cycle unioned with its reverse lands on the synchronous-LPA
    2-coloring oscillation state after an odd round count (each node
    adopts the smaller of its two neighbors' labels every round)."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.graph import (
        label_propagation,
    )

    fwd = [(1, 2), (2, 3), (3, 4), (4, 1)]
    e = spark.createDataFrame(
        fwd + [(b, a) for a, b in fwd], ["src", "dst"]
    )
    out = {
        r["node"]: r["community"]
        for r in label_propagation(e, n_iter=3).collect()
    }
    assert out == {1: 2, 2: 1, 3: 2, 4: 1}


def test_h10_num_survives_bigint_overflow_magnitudes(spark, tmp_path):
    """Round-12 ADVICE: num = n*x - s computed in BIGINT ANSI-throws
    once n*x passes ~9.2e18 (daily cents ~6.6e17 at the 14-day
    window) — short of the decimal headroom dvar already has. num now
    computes in DECIMAL; at ~7e17 daily cents the query must run and
    agree with the HUGEINT oracle exactly."""
    import pandas as pd
    import random

    rng = random.Random(7)
    d = tmp_path / "sfh10big"
    d.mkdir()
    # 20 days around 7e17 daily cents: old BIGINT num had
    # n(14) * x(7e17) ~ 9.8e18 > int64 max. Each DAY is 100 orders of
    # ~7e13 whole dollars — per-order cents stay below 2^53 so the
    # double->decimal cents conversion is exact in BOTH engines
    # (DuckDB converts double->decimal via a double multiply by
    # 10^scale, which rounds above 2^53 cents; Spark goes via the
    # shortest string — they diverge above ~9e13 dollars/order), and
    # the big daily totals accumulate in exact integer cents.
    rows = [
        (
            i * 100 + j,
            1,
            "O",
            float(
                rng.randrange(69_000_000_000_000, 71_000_000_000_000)
            ),
            f"1995-03-{i + 1:02d} 00:00:00",
            "1-URGENT",
        )
        for i in range(20)
        for j in range(100)
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")).coalesce(
        1
    ).write.parquet(str(d / "orders.parquet"))

    got = (
        QUERIES["h10_anomaly_zscore"]
        .fn(spark, str(d))
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    con = duck_connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{d}/orders.parquet/*.parquet'"
    )
    want = (
        con.execute(QUERIES["h10_anomaly_zscore"].sql)
        .df()
        .sort_values("day")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 20
    for i in range(20):
        g, w = got.iloc[i], want.iloc[i]
        assert g.revenue_cents == w.revenue_cents
        assert bool(g.is_anomaly) == bool(w.is_anomaly), i
        if pd.isna(g.z) or pd.isna(w.z):
            assert pd.isna(g.z) and pd.isna(w.z), i
        else:
            assert g.z == w.z, (i, g.z, w.z)


# ------------------------------------------- x55_export_manifest


def _x55(spark, sf):
    return (
        QUERIES["x55_export_manifest"]
        .fn(spark, sf)
        .toPandas()
        .sort_values("shard")
        .reset_index(drop=True)
    )


def test_x55_partitioning_invariant(spark, tmp_path):
    """The content digest is a commutative sum, so ANY physical layout
    of the same corpus — 1 partition or 13, any row order — must
    produce the identical manifest (the restart-stability the export
    receipt exists to certify)."""
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d1 = tmp_path / "one"
    d13 = tmp_path / "thirteen"
    d1.mkdir()
    d13.mkdir()
    src.coalesce(1).write.parquet(str(d1 / "documents.parquet"))
    src.repartition(13).write.parquet(str(d13 / "documents.parquet"))
    a = _x55(spark, str(d1))
    b = _x55(spark, str(d13))
    assert a.equals(b)


def test_x55_detects_single_doc_change(spark, tmp_path):
    """Bisection property: flipping ONE character in ONE document
    changes exactly that doc's shard digest (and therefore the Merkle
    root) while every count and every other shard digest is unchanged
    — the manifest pinpoints the damaged shard."""
    src = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    clean = tmp_path / "clean"
    dirty = tmp_path / "dirty"
    clean.mkdir()
    dirty.mkdir()
    src.write.parquet(str(clean / "documents.parquet"))
    victim = src.orderBy("doc_id").select("doc_id").first()["doc_id"]
    src.withColumn(
        "text",
        F.when(
            F.col("doc_id") == victim,
            F.concat(F.substring("text", 2, 1 << 30),
                     F.substring("text", 1, 1)),
        ).otherwise(F.col("text")),
    ).write.parquet(str(dirty / "documents.parquet"))

    a = _x55(spark, str(clean))
    b = _x55(spark, str(dirty))
    # same layout, same sizes (rotation preserves length), same counts
    for col in ("shard", "n_docs", "n_bytes", "n_tokens",
                "min_doc", "max_doc"):
        assert a[col].tolist() == b[col].tolist(), col
    changed = a["content_sum64"] != b["content_sum64"]
    assert changed.sum() == 1
    assert (a["merkle_root"] != b["merkle_root"]).all()


def test_x55_null_rows_quarantine_cross_engine(spark, tmp_path):
    """Hostile input parity: NULL doc_id rows land in shard -1 and
    NULL text hashes as '' in BOTH engines — the manifest never drops
    or nulls-out a row it is supposed to receipt."""

    d = tmp_path / "hostile"
    d.mkdir()
    spark.createDataFrame(
        [
            (1, "alpha beta", "web"),
            (None, "orphan row", "web"),
            (2, None, "web"),
            (None, None, "web"),
        ],
        "doc_id long, text string, source string",
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    got = _x55(spark, str(d))
    con = duck_connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = (
        con.execute(QUERIES["x55_export_manifest"].sql)
        .df()
        .sort_values("shard")
        .reset_index(drop=True)
    )
    assert int(got[got["shard"] == -1]["n_docs"].iloc[0]) == 2
    assert got["n_docs"].sum() == 4
    assert got.shape == want.shape
    for c in got.columns:
        assert (
            got[c].astype(str).tolist() == want[c].astype(str).tolist()
        ), c


def test_x55_plan_one_data_exchange_no_sort(spark):
    """The only data-proportional exchange is the 17-group shard agg;
    the Merkle fold and broadcast-back touch shard-grain rows. No
    SortExec anywhere — the canonical shard order comes from
    array_sort over the collected shard-grain structs, never a
    corpus sort."""
    from tests.test_plan_shapes import _explain

    plan = _explain(
        QUERIES["x55_export_manifest"].fn(
            spark, "/root/testdata/sf0.001"
        )
    )
    assert plan.count("HashAggregate") >= 2  # map-side partials
    assert "\n" in plan and "Sort " not in plan
    assert "BroadcastExchange" in plan  # root rides back broadcast


# --------------------------------------- wave-2 r13 registrations


def test_e16_start_state_vs_null_type(spark, tmp_path):
    """__START__ (chain head) and __NULL__ (a genuine NULL event_type)
    are distinct states: lag() alone returns NULL for both, so rn = 1
    must disambiguate. Hand-verified chain: u1 = [view, NULL,
    purchase], u2 = [NULL]."""

    d = tmp_path / "ev"
    d.mkdir()
    rows = [
        (1, "2024-01-01 00:00:01", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 00:00:02", 1, None, 1.0, "{}"),
        (3, "2024-01-01 00:00:03", 1, "purchase", 1.0, "{}"),
        (4, "2024-01-01 00:00:01", 2, None, 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d / "events.parquet")
    )
    got = {
        (r["prev_type"], r["next_type"]): (r["n_trans"], r["p_trans"])
        for r in QUERIES["e16_markov_transitions"]
        .fn(spark, str(d))
        .collect()
    }
    assert got == {
        ("__START__", "view"): (1, 0.5),
        ("__START__", "__NULL__"): (1, 0.5),
        ("view", "__NULL__"): (1, 1.0),
        ("__NULL__", "purchase"): (1, 1.0),
    }
    con = duck_connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{d}/events.parquet/*.parquet'"
    )
    want = con.execute(
        QUERIES["e16_markov_transitions"].sql
    ).fetchall()
    assert {(r[0], r[1]): (r[2], r[3]) for r in want} == got


def test_e16_probabilities_sum_to_one(spark):
    """Every prev_type row of the transition matrix is a probability
    distribution (up to the round(9) grain)."""
    rows = (
        QUERIES["e16_markov_transitions"]
        .fn(spark, "/root/testdata/sf0.001")
        .groupBy("prev_type")
        .agg(F.sum("p_trans").alias("s"))
        .collect()
    )
    assert rows and all(abs(r["s"] - 1.0) < 1e-6 for r in rows)


def test_dq11_detects_fill_drift(spark, tmp_path):
    """A producer that stops emitting props mid-month must flag the
    props column (and only it); NULL-ts rows belong to neither half."""

    d = tmp_path / "ev"
    d.mkdir()
    rows = []
    for i in range(100):
        pre = i < 50
        ts = "2024-01-05 00:00:00" if pre else "2024-01-25 00:00:00"
        props = "{}" if pre or i % 10 == 0 else None
        rows.append((i, ts, i, "view", 1.0, props))
    rows.append((999, None, 999, "view", 1.0, "{}"))  # NULL ts
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d / "events.parquet")
    )
    got = (
        QUERIES["dq11_fill_rate_drift"]
        .fn(spark, str(d))
        .toPandas()
        .set_index("column_name")
    )
    assert int(got.loc["props", "pre_rows"]) == 50  # NULL ts excluded
    assert bool(got.loc["props", "flagged"])
    assert got.loc["props", "drift"] == -0.9
    for c in ("event_id", "ts", "user_id", "event_type", "value"):
        assert not bool(got.loc[c, "flagged"]), c
    con = duck_connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{d}/events.parquet/*.parquet'"
    )
    want = (
        con.execute(QUERIES["dq11_fill_rate_drift"].sql)
        .df()
        .set_index("column_name")
    )
    for c in got.index:
        for col in got.columns:
            assert str(got.loc[c, col]) == str(want.loc[c, col]), (c, col)


def test_x56_finds_seeded_pii_cross_engine(spark, tmp_path):
    """Seed documents with known email/IPv4/id-number payloads and
    verify counts — and Java-regex vs RE2 agreement — match-for-match."""

    d = tmp_path / "docs"
    d.mkdir()
    rows = [
        (1, "reach me at alice.smith+spam@example-mail.co.uk thanks",
         "web"),
        (2, "server at 192.168.0.17 and 10.0.0.1; ssn-ish 123456789",
         "web"),
        (3, "clean text, no identifiers here", "web"),
        (4, None, "web"),
        (5, "a@b.io a@b.io 999999999999", "forum"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    got = (
        QUERIES["x56_pii_scrub"]
        .fn(spark, str(d))
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    web = got[got["source"] == "web"].iloc[0]
    assert (
        int(web.n_email), int(web.n_ipv4), int(web.n_idnum),
        int(web.docs_with_pii), int(web.n_docs),
    ) == (1, 2, 1, 2, 4)
    forum = got[got["source"] == "forum"].iloc[0]
    assert (int(forum.n_email), int(forum.n_idnum)) == (2, 1)
    con = duck_connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = (
        con.execute(QUERIES["x56_pii_scrub"].sql)
        .df()
        .sort_values("source")
        .reset_index(drop=True)
    )
    for c in got.columns:
        assert got[c].astype(str).tolist() == want[c].astype(str).tolist(), c


def test_pr9_peeling_hand_graph(spark):
    """Hand graph: a 4-clique (every node degree 3) + a pendant chain
    5-6 hanging off node 1. Peel k=2: the chain strips in two rounds
    (6 first, then 5), the clique survives with core_degree 3 — and
    node 1's degree drops from 5 to 3 after the chain goes."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.graph import (
        k_core,
    )

    und = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5), (5, 6)]
    e = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    out = {
        r["node"]: (r["core_degree"], r["in_core"])
        for r in k_core(e, k=2, n_iter=3).collect()
    }
    assert out == {1: (3, True), 2: (3, True), 3: (3, True), 4: (3, True)}


# --------------------------------------- wave-3 r13 registrations


def test_ops7_two_hop_blast_radius(spark, tmp_path):
    """Hand fixture: user 1's last event is 'error' (subject), user
    2's is 'view' (not a subject). Subject 1 owns 2 orders with 3
    lineitems total — the lineitem count must come through the 2-hop
    join, and the NULL-user error row must not mint a subject."""

    d = tmp_path / "ers"
    d.mkdir()
    ev = [
        (1, "2024-01-01 00:00:01", 1, "view", 1.0, "{}"),
        (2, "2024-01-02 00:00:00", 1, "error", 1.0, "{}"),
        (3, "2024-01-01 00:00:01", 2, "error", 1.0, "{}"),
        (4, "2024-01-02 00:00:00", 2, "view", 1.0, "{}"),
        (5, "2024-01-02 00:00:00", None, "error", 1.0, "{}"),
    ]
    spark.createDataFrame(
        ev,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d / "events.parquet")
    )
    spark.createDataFrame(
        [(1, "alice", 0.0), (2, "bob", 0.0)],
        "c_custkey long, c_name string, c_acctbal double",
    ).coalesce(1).write.parquet(str(d / "customer.parquet"))
    spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)],
        "o_orderkey long, o_custkey long",
    ).coalesce(1).write.parquet(str(d / "orders.parquet"))
    spark.createDataFrame(
        [(10, 1), (10, 2), (11, 1), (12, 1)],
        "l_orderkey long, l_linenumber int",
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))

    got = {
        r["table_name"]: (r["n_subjects"], r["n_rows"])
        for r in QUERIES["ops7_erasure_scope"].fn(spark, str(d)).collect()
    }
    assert got == {
        "__subjects__": (1, 1),
        "customer": (1, 1),
        "orders": (1, 2),
        "lineitem": (1, 3),
        "events": (1, 2),
    }
    con = duck_connect()
    for t in ("events", "customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{d}/{t}.parquet/*.parquet'"
        )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            QUERIES["ops7_erasure_scope"].sql
        ).fetchall()
    }
    assert want == got


def test_dq12_digest_layout_invariant_and_sensitive(spark, tmp_path):
    """Replica semantics: a repartitioned/reordered copy of the same
    tables digests IDENTICALLY; dropping one row changes exactly that
    table's digest and row count."""
    import shutil

    src = "/root/testdata/sf0.001"
    a = tmp_path / "replica_a"
    b = tmp_path / "replica_b"
    c = tmp_path / "replica_c"
    for dst in (a, b, c):
        dst.mkdir()
    tables = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    for t in tables:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        df.coalesce(1).write.parquet(str(a / f"{t}.parquet"))
        df.repartition(7).write.parquet(str(b / f"{t}.parquet"))
        if t == "orders":
            victim = df.select(F.min("o_orderkey")).first()[0]
            df.filter(F.col("o_orderkey") != victim).write.parquet(
                str(c / f"{t}.parquet")
            )
        else:
            df.write.parquet(str(c / f"{t}.parquet"))

    def run(p):
        return (
            QUERIES["dq12_replica_checksum"]
            .fn(spark, str(p))
            .toPandas()
            .sort_values("table_name")
            .reset_index(drop=True)
        )

    ra, rb, rc = run(a), run(b), run(c)
    assert ra.equals(rb)
    diff = ra["key_digest"] != rc["key_digest"]
    assert ra.loc[diff, "table_name"].tolist() == ["orders"]
    assert (
        int(ra.loc[diff, "n_rows"].iloc[0])
        == int(rc.loc[diff, "n_rows"].iloc[0]) + 1
    )


def test_e17_flags_three_bot_signatures(spark, tmp_path):
    """One user per signal: u1 fires at 1 s cadence (machine-fast), u2
    sends 25 events on 5 timestamps (dup bursts), u3 is 96% one action,
    u4 is a slow human browser — plus cross-engine agreement."""

    rows = []
    eid = 0
    for i in range(25):  # u1: 1s cadence
        rows.append((eid, f"2024-01-01 00:00:{i:02d}", 1, "view", 1.0, "{}"))
        eid += 1
    for i in range(25):  # u2: 5 distinct ts, 5 events each
        rows.append(
            (eid, f"2024-01-01 0{i % 5}:00:00", 2, "view", 1.0, "{}")
        )
        eid += 1
    for i in range(25):  # u3: 24/25 'click', hourly (slow)
        t = "click" if i else "view"
        rows.append((eid, f"2024-01-0{1 + i // 12} {i % 12:02d}:30:00",
                     3, t, 1.0, "{}"))
        eid += 1
    for i in range(25):  # u4: hourly, mixed types
        t = ["view", "click", "purchase", "signup", "error"][i % 5]
        rows.append((eid, f"2024-01-0{1 + i // 12} {i % 12:02d}:45:00",
                     4, t, 1.0, "{}"))
        eid += 1
    d = tmp_path / "bots"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d / "events.parquet")
    )
    got = (
        QUERIES["e17_bot_flagging"]
        .fn(spark, str(d))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    flags = dict(zip(got["user_id"], got["is_bot"]))
    assert flags == {1: True, 2: True, 3: True, 4: False}
    assert int(got[got.user_id == 2]["n_dup_ts"].iloc[0]) == 20
    assert got[got.user_id == 3]["top_type"].iloc[0] == "click"
    con = duck_connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{d}/events.parquet/*.parquet'"
    )
    want = (
        con.execute(QUERIES["e17_bot_flagging"].sql)
        .df()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    for c in got.columns:
        assert got[c].astype(str).tolist() == want[c].astype(str).tolist(), c


# --------------------------------------- wave-4 r13 registrations


def test_x57_budget_math_hand_fixture(spark, tmp_path):
    """Two sources, 300 vs 2,700 tokens (tiny vs big): the temperature
    mix upsamples the small one; with a 1B budget BOTH blow the
    4-epoch ceiling, and effective_tokens caps at 4x available."""

    d = tmp_path / "docs"
    d.mkdir()
    rows = [(i, " ".join(["tok"] * 3), "small") for i in range(100)] + [
        (1000 + i, " ".join(["tok"] * 27), "big") for i in range(100)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    got = (
        QUERIES["x57_token_budget"]
        .fn(spark, str(d))
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    big, small = got.iloc[0], got.iloc[1]
    assert int(small.tokens_available) == 300
    assert int(big.tokens_available) == 2700
    # alpha=0.3 upsampling: small's weight > its natural 10% share
    assert small.weight > 0.1
    assert abs(small.weight + big.weight - 1.0) < 1e-9
    assert bool(small.over_cap) and bool(big.over_cap)
    assert small.effective_tokens == 4.0 * 300
    assert big.effective_tokens == 4.0 * 2700
    con = duck_connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = (
        con.execute(QUERIES["x57_token_budget"].sql)
        .df()
        .sort_values("source")
        .reset_index(drop=True)
    )
    for c in got.columns:
        assert got[c].astype(str).tolist() == want[c].astype(str).tolist(), c


def test_x57_weights_match_smp5(spark):
    """x57's weight column is smp5's temp_weight (same alpha=0.3,
    same ordered-fold normalizer) at round(9) vs round(6) grain."""
    sf = "/root/testdata/sf0.001"
    x57 = {
        r["source"]: r["weight"]
        for r in QUERIES["x57_token_budget"].fn(spark, sf).collect()
    }
    smp5 = {
        r["source"]: r["temp_weight"]
        for r in QUERIES["smp5_temperature_mixture"].fn(spark, sf).collect()
    }
    assert set(x57) == set(smp5)
    assert all(abs(x57[s] - smp5[s]) < 5e-7 for s in x57)


# --------------------------------------- wave-5 r13 registrations


def test_x58_redaction_hand_fixture_cross_engine(spark, tmp_path):
    """Seeded PII redacts to the typed tokens; the digest pins the
    redacted bytes; the chain is confluent (tokens never re-match)."""

    d = tmp_path / "docs"
    d.mkdir()
    rows = [
        (1, "mail a@b.io twice a@b.io", "web"),
        (2, "ip 10.0.0.1 and id 123456789", "web"),
        (3, "clean", "web"),
        (4, None, "web"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    got = (
        QUERIES["x58_pii_redact"].fn(spark, str(d)).toPandas().iloc[0]
    )
    assert int(got.n_docs) == 4 and int(got.docs_redacted) == 2
    # 'a@b.io'(6) -> '<EMAIL>'(7) x2 = +2; '10.0.0.1'(8) -> '<IP>'(4)
    # = -4; '123456789'(9) -> '<ID>'(4) = -5 ==> net -7
    assert int(got.bytes_delta) == 2 - 4 - 5
    con = duck_connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    want = con.execute(QUERIES["x58_pii_redact"].sql).df().iloc[0]
    assert str(got.redacted_digest) == str(want.redacted_digest)
    assert int(got.bytes_delta) == int(want.bytes_delta)


def test_x58_digest_differs_from_x55_only_when_redacting(spark, tmp_path):
    """On a PII-free corpus the redacted digest equals x55's clean
    content digest (same (doc_id:text) multiset) — redaction is a
    no-op exactly when the audit says there is nothing to scrub."""
    sf = "/root/testdata/sf0.001"
    pii = (
        QUERIES["x56_pii_scrub"]
        .fn(spark, sf)
        .agg(F.sum("docs_with_pii"))
        .first()[0]
    )
    x58 = {
        r["source"]: r["redacted_digest"]
        for r in QUERIES["x58_pii_redact"].fn(spark, sf).collect()
    }
    # source-level clean digest via the manifest machinery
    from retail_data_pipeline_and_forecasting_system_spark.operators.manifest import (
        manifest_rows,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    clean = {
        r["source"]: r["dig"]
        for r in manifest_rows(docs.select("doc_id", "text", "source"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.pmod(
                F.sum("h64"),
                F.lit(
                    "18446744073709551616"
                ).cast("decimal(38,0)"),
            )
            .cast("decimal(20,0)")
            .cast("string")
            .alias("dig")
        )
        .collect()
    }
    if pii == 0:
        assert x58 == clean
    else:  # pragma: no cover - synthetic corpus has no PII today
        assert x58 != clean


def test_h13_kaplan_meier_hand_fixture(spark, tmp_path):
    """Textbook check: 4 users — durations 1 (churned), 2 (churned),
    2 (censored), 4 (censored at corpus end). S(1) = 3/4; S(2) =
    3/4 * (1 - 1/3) = 1/2; S(4) = 1/2 (no event at 4)."""

    rows = []
    eid = 0

    def span(uid, d0, d1):
        nonlocal eid
        rows.append((eid, f"2024-01-{d0:02d} 00:00:00", uid, "view",
                     1.0, "{}"))
        eid += 1
        rows.append((eid, f"2024-01-{d1:02d} 00:00:00", uid, "view",
                     1.0, "{}"))
        eid += 1

    span(1, 1, 2)    # t=1, last 2024-01-02 -> churned (end - last > 3)
    span(2, 1, 3)    # t=2, churned
    span(3, 18, 20)  # t=2, last within 3 days of end -> censored
    span(4, 16, 20)  # t=4, censored (defines corpus end)
    d = tmp_path / "ev"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d / "events.parquet")
    )
    got = {
        r["t_days"]: (r["n_risk"], r["n_events"], r["survival"])
        for r in QUERIES["h13_kaplan_meier"].fn(spark, str(d)).collect()
    }
    assert got == {
        1: (4, 1, 0.75),
        2: (3, 1, 0.5),
        4: (1, 0, 0.5),
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


def test_h13_survival_monotone_and_bounded(spark):
    """On real data: S is non-increasing in t, within [0, 1], and the
    risk sets telescope (n_risk strictly decreasing)."""
    rows = sorted(
        (
            (r["t_days"], r["n_risk"], r["survival"])
            for r in QUERIES["h13_kaplan_meier"]
            .fn(spark, "/root/testdata/sf0.01")
            .collect()
        )
    )
    assert rows
    s_prev, n_prev = 1.0 + 1e-12, None
    for t, n, s in rows:
        assert 0.0 <= s <= s_prev + 1e-12
        if n_prev is not None:
            assert n < n_prev
        s_prev, n_prev = s, n


# --------------------------------------- wave-6 r13 registrations


def test_h14_fills_and_flags_gaps(spark, tmp_path):
    """Orders on days 1, 2, 5 of one month: the spine must emit days
    3 and 4 as zero-revenue flagged gaps and nothing beyond the
    min/max bounds — cross-engine equal."""

    d = tmp_path / "o"
    d.mkdir()
    rows = [
        (1, 1, "O", 10.0, "1995-03-01 00:00:00", "1-URGENT"),
        (2, 1, "O", 20.0, "1995-03-02 00:00:00", "1-URGENT"),
        (3, 1, "O", 30.0, "1995-03-05 00:00:00", "1-URGENT"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")).coalesce(
        1
    ).write.parquet(str(d / "orders.parquet"))
    got = {
        str(r["day"]): (r["revenue_cents"], r["is_gap"])
        for r in QUERIES["h14_gap_fill"].fn(spark, str(d)).collect()
    }
    assert got == {
        "1995-03-01": (1000, False),
        "1995-03-02": (2000, False),
        "1995-03-03": (0, True),
        "1995-03-04": (0, True),
        "1995-03-05": (3000, False),
    }
    con = duck_connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{d}/orders.parquet/*.parquet'"
    )
    want = {
        str(r[0]): (r[1], r[2])
        for r in con.execute(QUERIES["h14_gap_fill"].sql).fetchall()
    }
    assert want == got


def test_g6_takes_last_value_per_customer_month(spark, tmp_path):
    """Customer 1 orders 10 then 99 in March (same-day tie broken by
    orderkey), customer 2 orders 50 once; April has one order. March
    balance = 99 + 50, never 10 + 99 + 50 (the double-count plain
    GROUP BY would give) — cross-engine equal."""

    d = tmp_path / "o"
    d.mkdir()
    rows = [
        (1, 1, "O", 10.0, "1995-03-03 00:00:00", "1-URGENT"),
        (2, 1, "O", 99.0, "1995-03-03 00:00:00", "1-URGENT"),
        (3, 2, "O", 50.0, "1995-03-10 00:00:00", "1-URGENT"),
        (4, 1, "O", 7.0, "1995-04-01 00:00:00", "1-URGENT"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")).coalesce(
        1
    ).write.parquet(str(d / "orders.parquet"))
    got = {
        str(r["month"]): (r["n_customers"], r["eop_balance_cents"])
        for r in QUERIES["g6_semi_additive"].fn(spark, str(d)).collect()
    }
    assert got == {
        "1995-03-01": (2, 9900 + 5000),
        "1995-04-01": (1, 700),
    }
    con = duck_connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{d}/orders.parquet/*.parquet'"
    )
    want = {
        str(r[0]): (r[1], r[2])
        for r in con.execute(QUERIES["g6_semi_additive"].sql).fetchall()
    }
    assert want == got
