"""Round-12 regressions for the round-11 ADVICE items: pr1 edge-frame
persistence, n17 ragged-embedding grace, croston NULL-qty tolerance —
plus the round-12 registrations' hand tests further down."""

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


def test_pr1_edge_frame_persisted(spark):
    """pr1's shared co-purchase edge frame is persist_tracked (as
    pr6/pr7 already were), so the lineitem self-join + distinct is
    paid once, not once per unrolled PageRank iteration (round-11
    ADVICE). The persist shows up as InMemoryRelation in the plan."""
    df = QUERIES["pr1_copurchase_pagerank"].fn(
        spark, "/root/testdata/sf0.001"
    )
    assert "InMemoryRelation" in _plan(df)


def test_n17_ragged_embedding_no_crash(spark, tmp_path):
    """A short (ragged) embedding row must not blow up the whole scan
    with INVALID_ARRAY_INDEX under ANSI mode (round-11 ADVICE): the
    short row contributes its dims only — exactly what the oracle's
    unnest computes — and full-length rows are unaffected."""
    import random

    rng = random.Random(7)
    full = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], 0) for i in range(4)
    ]
    rows = full + [(99, [0.5, -0.5], 0)]  # the ragged row
    d = tmp_path / "sfr"
    d.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))

    got = QUERIES["n17_minmax_normalize"].fn(spark, str(d)).toPandas()
    # ragged row emits exactly its 2 dims; full rows all 64
    assert (got.vec_id == 99).sum() == 2
    assert got.shape[0] == 4 * 64 + 2
    # and the ragged row's values joined the per-dim stats: dim-1 span
    # includes 0.5, so its normalized value is in (0, 1]
    v = got[(got.vec_id == 99) & (got.dim == 1)].x_norm.iloc[0]
    assert 0.0 <= v <= 1.0


def test_croston_null_qty_rows_dropped(spark):
    """NULL qty rows in a raw (un-pre-aggregated) feed are dropped as
    non-events instead of crashing the Arrow task on int(NaN)
    (round-11 ADVICE); the fit equals the null-free feed's fit."""
    from retail_data_pipeline_and_forecasting_system_spark.forecast.univariate import (  # noqa: E501
        croston_forecast,
    )

    base = [
        ("p1", "2024-01-01", 4),
        ("p1", "2024-01-08", 2),
        ("p1", "2024-01-22", 6),
    ]
    with_nulls = base + [("p1", "2024-01-05", None), ("p1", "2024-01-30", None)]

    def fit(rows):
        df = spark.createDataFrame(
            rows, "key string, day string, qty int"
        ).select("key", F.col("day").cast("date"), "qty")
        out = croston_forecast(
            df, key_col="key", date_col="day", qty_col="qty"
        ).collect()
        assert len(out) == 1
        r = out[0]
        return (r.n_events, r.z, r.p, r.croston, r.sba)

    assert fit(with_nulls) == fit(base)


# ------------------------------------------------- x53_global_shuffle


def test_x53_python_differential(spark, tmp_path):
    """The engine's order equals an independent pure-Python md5
    computation of the same seeded key — the oracle never consulted."""
    import hashlib

    rows = [(i, f"src{i % 3}", f"doc text {i}") for i in range(200)]
    d = tmp_path / "sfx53"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    got = {
        r.doc_id: (r.shard, r.shuffle_key, r.shard_pos, r.global_pos)
        for r in QUERIES["x53_global_shuffle"].fn(spark, str(d)).collect()
    }

    def key(i):
        return hashlib.md5(f"42:{i}".encode()).hexdigest()

    def shard(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[0], 16) % 16

    by_shard: dict[int, list] = {}
    for i, _, _ in rows:
        by_shard.setdefault(shard(i), []).append(i)
    want = {}
    for s, ids in by_shard.items():
        for pos, i in enumerate(sorted(ids, key=lambda i: (key(i), i)), 1):
            want[i] = (s, key(i), pos, (pos - 1) * 16 + s)
    assert got == want


def test_x53_restart_stable_and_seed_sensitive(spark):
    """Two runs produce the identical permutation (restart stability —
    the property rand()/zipWithIndex cannot give); the order is a real
    shuffle, not doc_id order."""
    sf = "/root/testdata/sf0.001"
    a = sorted(
        (r.global_pos, r.doc_id)
        for r in QUERIES["x53_global_shuffle"].fn(spark, sf).collect()
    )
    b = sorted(
        (r.global_pos, r.doc_id)
        for r in QUERIES["x53_global_shuffle"].fn(spark, sf).collect()
    )
    assert a == b
    # genuinely permuted: global_pos order must not be doc_id order
    order = [doc for _, doc in a]
    assert order != sorted(order)
    # seed-sensitive construction: the same docs under seed 43 sort
    # into a different permutation than the registered seed-42 key
    import hashlib

    k42 = sorted(order, key=lambda i: hashlib.md5(f"42:{i}".encode()).hexdigest())
    k43 = sorted(order, key=lambda i: hashlib.md5(f"43:{i}".encode()).hexdigest())
    assert k42 != k43


def test_x53_total_order_and_x32_composition(spark):
    """global_pos is a strict total order (all distinct); the shard
    column is exactly x32's assignment, so re-seeding never moves a
    doc across shard files; round-robin interleave: consecutive
    positions within a shard differ by n_shards."""
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["x53_global_shuffle"].fn(spark, sf).collect()
    pos = [r.global_pos for r in rows]
    assert len(set(pos)) == len(pos)
    for r in rows:
        assert r.global_pos == (r.shard_pos - 1) * 16 + r.shard
        assert r.global_pos % 16 == r.shard
    # shard == x32's md5-nibble assignment for every doc
    import hashlib

    for r in rows:
        assert r.shard == int(
            hashlib.md5(str(r.doc_id).encode()).hexdigest()[0], 16
        ) % 16
    # shards stay balanced (uniform hash): no shard more than 2x mean
    from collections import Counter

    c = Counter(r.shard for r in rows)
    mean = len(rows) / 16
    assert max(c.values()) < 2 * mean


def test_x53_plan_no_global_sort(spark):
    """The total order comes from the closed-form interleave, not a
    global sort: no range partitioning in the plan — the only
    exchange is the shard-keyed window hash exchange."""
    plan = _plan(
        QUERIES["x53_global_shuffle"].fn(spark, "/root/testdata/sf0.001")
    )
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.lower().count("exchange") <= 2  # one hash exchange (+AQE)
    assert "BatchEvalPython" not in plan


# ------------------------------------- h10 sf0.1-magnitude regression


def test_h10_large_cents_cross_engine_exact(spark, tmp_path):
    """Regression pin for the round-12 sf0.1 sweep finding: at ~1e9
    daily cents the textbook ss - s^2/n variance form lost ~2 digits
    to cancellation, amplifying decimal->double conversion ulps into a
    last-digit z mismatch between engines. The cancellation-free
    num/dvar form + round(9) + integer-exact flag must agree exactly
    at exactly these magnitudes."""
    import random


    rng = random.Random(123)
    # ~25 days of sf0.1-sized daily revenue (1.4e9..2.0e9 cents) with
    # jitter that makes the variance small relative to ss — the
    # cancellation regime that exposed the bug
    days = [
        (
            f"1995-03-{i + 1:02d}",
            [round(rng.uniform(14_000_000.00, 20_000_000.00), 2)],
        )
        for i in range(25)
    ]
    d = tmp_path / "sfh10"
    d.mkdir()
    rows = []
    for k, (day, amounts) in enumerate(days):
        for amt in amounts:
            rows.append((k, 1, "O", amt, f"{day} 00:00:00", "1-URGENT"))
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
    import pandas as pd

    assert len(got) == len(want) == 25
    for i in range(25):
        g, w = got.iloc[i], want.iloc[i]
        assert g.revenue_cents == w.revenue_cents
        assert bool(g.is_anomaly) == bool(w.is_anomaly), i
        if pd.isna(g.z) or pd.isna(w.z):
            assert pd.isna(g.z) and pd.isna(w.z), i
        else:
            assert g.z == w.z, (i, g.z, w.z)  # exact, not approximate


# ------------------------------------------- dq9_referential_integrity


def _staged_rel_corpus(spark, tmp_path):
    """A tiny corpus with DELIBERATE referential breaks: two lineitem
    rows point at order 999 (absent), one lineitem l_partkey is NULL,
    one order points at customer 777 (absent)."""
    d = tmp_path / "sfdq9"
    d.mkdir()

    def w(name, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d / f"{name}.parquet")
        )

    w("region", [(0, "R0")], "r_regionkey long, r_name string")
    w("nation", [(0, "N0", 0)],
      "n_nationkey long, n_name string, n_regionkey long")
    w("customer", [(1, "C1", 0, 10.0, "A")],
      "c_custkey long, c_name string, c_nationkey long, "
      "c_acctbal double, c_mktsegment string")
    w("supplier", [(1, "S1", 0, 5.0)],
      "s_suppkey long, s_name string, s_nationkey long, s_acctbal double")
    w("part", [(1, "P1", "B", "T", 1, 9.99)],
      "p_partkey long, p_name string, p_brand string, p_type string, "
      "p_size int, p_retailprice double")
    w("orders",
      [(10, 1, "O", 1.0, "1995-01-01 00:00:00", "1-URGENT"),
       (11, 777, "O", 2.0, "1995-01-02 00:00:00", "1-URGENT")],
      "o_orderkey long, o_custkey long, o_orderstatus string, "
      "o_totalprice double, o_orderdate string, o_orderpriority string")
    w("lineitem",
      [(10, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01"),
       (999, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01"),
       (999, 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01"),
       (10, None, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01")],
      "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber "
      "int, l_quantity double, l_extendedprice double, l_discount "
      "double, l_tax double, l_returnflag string, l_linestatus string, "
      "l_shipdate string")
    return str(d)


def test_dq9_broken_fks_exact_counts(spark, tmp_path):
    """Orphaned keys/rows, NULL fks, and verdicts are exact on a
    hand-broken corpus — and the oracle agrees on the same files."""

    sf = _staged_rel_corpus(spark, tmp_path)
    got = {
        r.relationship: r
        for r in QUERIES["dq9_referential_integrity"].fn(spark, sf).collect()
    }
    assert len(got) == 7
    lo = got["lineitem.l_orderkey->orders.o_orderkey"]
    # 4 non-null orderkey rows over 2 distinct keys; key 999 (2 rows) orphaned
    assert (lo.n_rows, lo.n_keys, lo.null_rows) == (4, 2, 0)
    assert (lo.orphan_keys, lo.orphan_rows, lo.ok) == (1, 2, False)
    lp = got["lineitem.l_partkey->part.p_partkey"]
    assert (lp.n_rows, lp.n_keys, lp.null_rows) == (3, 1, 1)  # 1 NULL fk
    assert (lp.orphan_keys, lp.orphan_rows, lp.ok) == (0, 0, True)
    oc = got["orders.o_custkey->customer.c_custkey"]
    assert (oc.orphan_keys, oc.orphan_rows, oc.ok) == (1, 1, False)
    # clean relationships pass
    assert got["nation.n_regionkey->region.r_regionkey"].ok

    con = duck_connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'"
        )
    want = {
        r.relationship: r
        for r in con.execute(QUERIES["dq9_referential_integrity"].sql)
        .df().itertuples(index=False)
    }
    for k, g in got.items():
        w = want[k]
        assert (g.n_rows, g.n_keys, g.null_rows, g.orphan_keys,
                g.orphan_rows, bool(g.ok)) == (
            w.n_rows, w.n_keys, w.null_rows, w.orphan_keys,
            w.orphan_rows, bool(w.ok)), k


def test_dq9_plan_broadcast_dims_no_python(spark):
    """Dim-sized parents broadcast into the anti joins; nothing drops
    to per-row Python; no cartesian beyond the 1-row x 1-row combines."""
    plan = _plan(
        QUERIES["dq9_referential_integrity"].fn(
            spark, "/root/testdata/sf0.001"
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


# ------------------------------------------------- m24_theta_method


def test_m24_theta_kernel_hand_series():
    """Hand-checkable series: y = 2t exactly (pure trend) gives slope
    b = 2 and the theta(0,2) forecast l_n + (b/2)(h+1); a constant
    series gives b = 0 and forecast = the constant; n < 3 is None."""
    from retail_data_pipeline_and_forecasting_system_spark.forecast.univariate import (  # noqa: E501
        theta_kernel,
    )

    ys = [2.0, 4.0, 6.0, 8.0]  # y = 2t
    fc = theta_kernel(ys, horizon=3)
    # SES level with alpha=.5: l = .5*8 + .5*(.5*6 + .5*(.5*4 + .5*2))
    level = 0.5 * 8.0 + 0.5 * (0.5 * 6.0 + 0.5 * (0.5 * 4.0 + 0.5 * 2.0))
    assert level == 6.25
    assert fc == [(h, level + 1.0 * (h + 1.0)) for h in (1, 2, 3)]

    const = theta_kernel([5.0, 5.0, 5.0, 5.0], horizon=2)
    assert const == [(1, 5.0), (2, 5.0)]

    assert theta_kernel([1.0, 2.0]) is None


def test_m24_numpy_differential_real(spark):
    """The registry entry's slope equals an independent numpy polyfit
    and the SES level an independent numpy recursion, per group, on
    the real corpus — oracle never consulted."""
    import numpy as np

    sf = "/root/testdata/sf0.001"
    got = {
        (r.o_orderpriority, r.h): r.forecast
        for r in QUERIES["m24_theta_method"].fn(spark, sf).collect()
    }
    con = duck_connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'"
    )
    daily = con.execute(
        "SELECT o_orderpriority AS g, CAST(o_orderdate AS DATE) AS d, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y "
        "FROM orders GROUP BY 1, 2 ORDER BY 1, 2"
    ).df()
    n_checked = 0
    for g, grp in daily.groupby("g"):
        ys = grp.sort_values("d").y.to_numpy()
        if len(ys) < 3:
            assert (g, 1) not in got
            continue
        t = np.arange(1, len(ys) + 1)
        b = np.polyfit(t, ys, 1)[0]
        level = ys[0]
        for y in ys[1:]:
            level = 0.5 * y + 0.5 * level
        for h in (1, 7, 14):
            want = level + 0.5 * b * (h + 1.0)
            assert abs(got[(g, h)] - want) < 1e-6 * max(1.0, abs(want))
            n_checked += 1
    assert n_checked >= 3


# -------------------------------------------- pr8_label_propagation


def _lpa_python(edges, n_iter=3):
    """Independent synchronous LPA: majority neighbor label, ties to
    the smallest label. edges = set of directed pairs (both ways)."""
    from collections import Counter, defaultdict

    nbrs = defaultdict(list)
    for s, d in edges:
        nbrs[d].append(s)
    labels = {v: v for v in nbrs}
    for _ in range(n_iter):
        new = {}
        for v, ns in nbrs.items():
            c = Counter(labels[u] for u in ns)
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    return labels


def test_pr8_hand_graph_two_communities(spark):
    """Two triangles joined by one bridge edge: each triangle must
    converge to its own minimum label; the exact per-round labels
    match an independent Python synchronous-LPA implementation."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.graph import (  # noqa: E501
        label_propagation,
    )

    und = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]
    both = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    e = spark.createDataFrame(both, "src long, dst long")
    got = {
        r.node: r.community
        for r in label_propagation(e, n_iter=3).collect()
    }
    want = _lpa_python(both, n_iter=3)
    assert got == want
    # the two triangle cores separate into distinct communities
    assert got[1] == got[2] and got[10] == got[11] == got[12]
    assert got[1] != got[11]


def test_pr8_python_differential_random_graph(spark):
    """Synchronous-LPA fixed point on a seeded random graph equals the
    independent Python implementation exactly (all 3 rounds)."""
    import random

    from retail_data_pipeline_and_forecasting_system_spark.operators.graph import (  # noqa: E501
        label_propagation,
    )

    rng = random.Random(99)
    und = set()
    while len(und) < 60:
        a, b = rng.randrange(30), rng.randrange(30)
        if a != b:
            und.add((min(a, b), max(a, b)))
    both = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    e = spark.createDataFrame(both, "src long, dst long")
    got = {
        r.node: r.community
        for r in label_propagation(e, n_iter=3).collect()
    }
    assert got == _lpa_python(both, n_iter=3)


def test_pr8_registry_no_python_rows(spark):
    """The registry entry stays JVM-side (no per-row Python) and rides
    the persisted edge frame."""
    df = QUERIES["pr8_label_propagation"].fn(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert df.count() > 0


# ------------------------------------------- n18_prototype_pruning


def test_n18_hand_vectors_rank_and_verdict(spark, tmp_path):
    """A class built around a dominant direction: the vector aligned
    with the class sum ranks 1 (most prototypical) and is pruned at
    20%; the outlier ranks last and is kept. Scores match numpy cosine
    against the class sum."""
    import numpy as np

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.8, 0.2, 0.0, 0.0], 0),
        (3, [0.7, 0.3, 0.0, 0.0], 0),
        (4, [-1.0, 0.5, 0.0, 0.0], 0),  # the outlier
    ]
    d = tmp_path / "sfn18"
    d.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    got = {
        r.vec_id: r
        for r in QUERIES["n18_prototype_pruning"].fn(spark, str(d)).collect()
    }
    vecs = {i: np.array(v, dtype=np.float32).astype(float)
            for i, v, _ in rows}
    csum = sum(vecs.values())
    scores = {
        i: float(v @ csum / (np.linalg.norm(v) * np.linalg.norm(csum)))
        for i, v in vecs.items()
    }
    order = sorted(scores, key=lambda i: (-scores[i], i))
    for rnk, i in enumerate(order, 1):
        assert got[i].rnk == rnk
        assert abs(got[i].proto_score - scores[i]) < 1e-12
        assert got[i].n_class == 5
    # n=5 -> exactly floor(5/5)=1 pruned: the rank-1 prototype
    assert not got[order[0]].keep
    assert all(got[i].keep for i in order[1:])
    assert got[4].rnk == 5  # the outlier is the hardest example, kept


def test_n18_prune_fraction_and_numpy_differential(spark):
    """On the real corpus: exactly floor(n/5) pruned per class, and
    every score equals an independent numpy cosine against the
    vec_id-ordered fold sum."""
    import numpy as np

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["n18_prototype_pruning"].fn(spark, sf).collect()
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    con = duck_connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    emb = {
        r[0]: (np.array(r[1], dtype=np.float32).astype(float), r[2])
        for r in con.execute(
            "SELECT vec_id, embedding, label FROM embeddings"
        ).fetchall()
    }
    for lab, rs in by_label.items():
        n = len(rs)
        assert sum(not r.keep for r in rs) == n // 5
        ids = sorted(i for i, (_, l) in emb.items() if l == lab)
        csum = np.zeros(64)
        for i in ids:  # vec_id order, matching the fold
            csum = csum + emb[i][0]
        for r in rs:
            v = emb[r.vec_id][0]
            want = float(
                v @ csum / (np.linalg.norm(v) * np.linalg.norm(csum))
            )
            assert abs(r.proto_score - want) < 1e-9


def test_n18_plan_broadcast_centroids_no_python(spark):
    """The label-sized centroid table broadcasts; the corpus is
    scanned, scored row-local, and exchanged only for the per-label
    rank window; no per-row Python."""
    plan = _plan(
        QUERIES["n18_prototype_pruning"].fn(spark, "/root/testdata/sf0.001")
    )
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan


# ------------------------------------------ round-12 edge parity


def _driver_compare_r12(mine, want):
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


def test_r12_edge_empty_tables_parity(spark, tmp_path):
    """Empty inputs: x53 and m24 on an empty corpus, pr8 on an empty
    lineitem — engine and oracle agree on the (empty / header-only)
    result instead of one side erroring."""

    d = tmp_path / "sfempty"
    d.mkdir()
    spark.createDataFrame(
        [], "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    spark.createDataFrame(
        [],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(d / "orders.parquet"))
    spark.createDataFrame(
        [],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber "
        "int, l_quantity double, l_extendedprice double, l_discount "
        "double, l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))

    con = duck_connect()
    for t in ("documents", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet/*.parquet'"
        )
    for name in ("x53_global_shuffle", "m24_theta_method",
                 "pr8_label_propagation", "h10_anomaly_zscore"):
        mine = QUERIES[name].fn(spark, str(d)).toPandas()
        want = con.execute(QUERIES[name].sql).df()
        assert len(mine) == len(want) == 0, name


def test_r12_edge_n18_zero_vector_and_singleton_class(spark, tmp_path):
    """A zero vector scores NULL (never a divide-by-zero crash) and
    ranks last; a single-member class scores exactly 1.0 and is kept
    (floor(1/5) = 0 pruned). Engine matches oracle on both."""

    rows = [
        (0, [0.0, 0.0, 0.0], 7),      # zero vector
        (1, [1.0, 0.0, 0.0], 7),
        (2, [0.5, 0.5, 0.0], 7),
        (9, [0.3, 0.4, 0.0], 8),      # singleton class
    ]
    d = tmp_path / "sfz"
    d.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    got = {
        r.vec_id: r
        for r in QUERIES["n18_prototype_pruning"].fn(spark, str(d)).collect()
    }
    assert got[0].proto_score is None and got[0].rnk == 3  # nulls last
    # cosine(v, v) is 1.0 up to float rounding (dot/sqrt·sqrt)
    assert abs(got[9].proto_score - 1.0) < 1e-12
    assert got[9].rnk == 1 and got[9].keep
    assert all(got[i].keep for i in (0, 1, 2))  # floor(3/5) = 0 pruned
    con = duck_connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{d}/embeddings.parquet/*.parquet'"
    )
    _driver_compare_r12(
        QUERIES["n18_prototype_pruning"].fn(spark, str(d)).toPandas(),
        con.execute(QUERIES["n18_prototype_pruning"].sql).df(),
    )


def test_r12_edge_dq9_empty_child_and_parent(spark, tmp_path):
    """An EMPTY child table audits clean (0 rows, 0 orphans, ok); an
    empty PARENT makes every child key an orphan. Cross-engine parity
    on the full 7-row output."""

    sf = _staged_rel_corpus(spark, tmp_path)
    # overwrite customer with an empty table: orders.o_custkey all orphan
    import shutil

    shutil.rmtree(f"{sf}/customer.parquet")
    spark.createDataFrame(
        [],
        "c_custkey long, c_name string, c_nationkey long, "
        "c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.parquet(f"{sf}/customer.parquet")

    got = {
        r.relationship: r
        for r in QUERIES["dq9_referential_integrity"].fn(spark, sf).collect()
    }
    oc = got["orders.o_custkey->customer.c_custkey"]
    assert (oc.orphan_keys, oc.orphan_rows, oc.ok) == (2, 2, False)
    cn = got["customer.c_nationkey->nation.n_nationkey"]
    assert (cn.n_rows, cn.n_keys, cn.orphan_keys, cn.ok) == (0, 0, 0, True)
    con = duck_connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'"
        )
    _driver_compare_r12(
        QUERIES["dq9_referential_integrity"].fn(spark, sf).toPandas(),
        con.execute(QUERIES["dq9_referential_integrity"].sql).df(),
    )


# ----------------------------------------- wave 2: ab4/e15/h12/ev8


def test_ab4_python_differential_and_power_semantics(spark, tmp_path):
    """MDE matches an independent Python computation with the same
    quantile literals; a huge synthetic lift is powered, the tiny
    real one is not."""
    import hashlib
    import math

    # hand experiment: 40 users, arm by md5 nibble parity, purchase
    # iff user_id % 3 == 0 (unrelated to arm)
    rows = []
    eid = 0
    for u in range(40):
        rows.append((eid, "2024-01-05 00:00:00", u, "view", 1.0, "{}"))
        eid += 1
        if u % 3 == 0:
            rows.append(
                (eid, "2024-01-06 00:00:00", u, "purchase", 1.0, "{}")
            )
            eid += 1
    d = tmp_path / "sfab4"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d / "events.parquet")
    )
    r = QUERIES["ab4_power_mde"].fn(spark, str(d)).collect()[0]

    arms: dict = {"A": [0, 0], "B": [0, 0]}
    for u in range(40):
        arm = "A" if int(
            hashlib.md5(str(u).encode()).hexdigest()[0], 16
        ) % 2 == 0 else "B"
        arms[arm][0] += 1
        arms[arm][1] += 1 if u % 3 == 0 else 0
    (na, ca), (nb, cb) = arms["A"], arms["B"]
    p = ca / na
    mde = (1.959963984540054 + 0.8416212335729143) * math.sqrt(
        p * (1 - p) * (1 / na + 1 / nb)
    )
    assert (r.a_users, r.b_users) == (na, nb)
    assert abs(r.baseline_rate - p) < 1e-9
    assert abs(r.mde_abs - mde) < 1e-9
    assert abs(r.observed_lift - (cb / nb - ca / na)) < 1e-9
    assert bool(r.is_powered) == (abs(cb / nb - ca / na) >= mde)


def test_e15_strict_ordering_hand_log(spark, tmp_path):
    """A purchase BEFORE the first click never counts as step 3; a
    click before the first view never counts as step 2; same-instant
    events do not advance (strict >)."""
    logs = [
        # u1: clean view -> click -> purchase (counts all 3 steps)
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:01:00", "click"),
        (1, "2024-01-01 10:02:00", "purchase"),
        # u2: purchase BEFORE the click -> steps 1,2 only
        (2, "2024-01-01 10:00:00", "view"),
        (2, "2024-01-01 10:00:30", "purchase"),
        (2, "2024-01-01 10:01:00", "click"),
        # u3: click before any view -> step 1 only (view exists later)
        (3, "2024-01-01 09:00:00", "click"),
        (3, "2024-01-01 10:00:00", "view"),
        # u4: click AT the view instant -> does not advance
        (4, "2024-01-01 10:00:00", "view"),
        (4, "2024-01-01 10:00:00", "click"),
        # u5: no view at all -> enters no step
        (5, "2024-01-01 10:00:00", "click"),
    ]
    rows = [
        (i, ts, u, et, 1.0, "{}") for i, (u, ts, et) in enumerate(logs)
    ]
    d = tmp_path / "sfe15"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(
        str(d / "events.parquet")
    )
    got = {
        r.step: r
        for r in QUERIES["e15_funnel_steps"].fn(spark, str(d)).collect()
    }
    assert got[1].n_reached == 4  # u1, u2, u3, u4 saw a view
    assert got[2].n_reached == 2  # u1, u2 clicked strictly after it
    assert got[3].n_reached == 1  # only u1 purchased after the click
    assert got[1].frac_users == round(4 / 5, 9)
    assert got[2].frac_prev == round(2 / 4, 9)
    assert got[3].frac_prev == round(1 / 2, 9)


def test_h12_numpy_differential_and_seasonal_series(spark, tmp_path):
    """Strengths equal an independent numpy computation from m9's own
    output; a hand series with a strong weekly pattern scores
    seasonal_strength near 1."""
    import numpy as np

    sf = "/root/testdata/sf0.001"
    comp = (
        QUERIES["m9_seasonal_decompose"]
        .fn(spark, sf)
        .filter(F.col("resid").isNotNull())
        .toPandas()
        .sort_values("d")
    )
    r = comp.resid.to_numpy()
    sr = (comp.seasonal + comp.resid).to_numpy()
    tr = (comp.trend + comp.resid).to_numpy()
    want_t = max(0.0, 1 - np.var(r, ddof=1) / np.var(tr, ddof=1))
    want_s = max(0.0, 1 - np.var(r, ddof=1) / np.var(sr, ddof=1))
    got = QUERIES["h12_seasonal_strength"].fn(spark, sf).collect()[0]
    assert got.n_days == len(comp)
    assert abs(got.trend_strength - want_t) < 1e-6
    assert abs(got.seasonal_strength - want_s) < 1e-6

    # strong weekly pattern: amplitude >> noise
    rows = []
    import datetime as dt

    day0 = dt.datetime(1995, 1, 1)
    for i in range(35):
        amp = 1000.0 + 500.0 * (i % 7) + (7.0 if i % 3 == 0 else 0.0)
        rows.append((i, 1, "O", amp, str(day0 + dt.timedelta(days=i)),
                     "1-URGENT"))
    d = tmp_path / "sfh12"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn(
        "o_orderdate", F.to_timestamp("o_orderdate")
    ).coalesce(1).write.parquet(str(d / "orders.parquet"))
    strong = QUERIES["h12_seasonal_strength"].fn(spark, str(d)).collect()[0]
    assert strong.seasonal_strength > 0.99


def test_ev8_python_differential(spark):
    """Shares and KL terms equal an independent pure-Python replay of
    smp4's md5 sampler — oracle never consulted; realized shares sum
    to ~1 and every empty-source term is exactly 0."""
    import hashlib
    import math


    sf = "/root/testdata/sf0.001"
    con = duck_connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    docs = con.execute(
        "SELECT doc_id, source, len(string_split(text, ' ')) AS n "
        "FROM documents"
    ).fetchall()
    per_src: dict = {}
    for _, s, n in docs:
        per_src[s] = per_src.get(s, 0) + n
    total = sum(per_src.values())
    n_src = len(per_src)
    kept_tok: dict = {s: 0 for s in per_src}
    for i, s, n in docs:
        w = total / (n_src * per_src[s])
        h = hashlib.md5(str(i).encode()).hexdigest()[:6]
        u = int(h, 16) / 16**6
        if u < min(1.0, 0.5 * w):
            kept_tok[s] += n
    t = sum(kept_tok.values())
    got = {
        r.source: r
        for r in QUERIES["ev8_mixture_divergence"].fn(spark, sf).collect()
    }
    assert set(got) == set(per_src)
    for s, r in got.items():
        q = kept_tok[s] / t
        assert abs(r.target_share - 1.0 / n_src) < 1e-9
        assert abs(r.realized_share - q) < 1e-9
        want = 0.0 if kept_tok[s] == 0 else q * math.log(q * n_src)
        assert abs(r.kl_term - want) < 1e-9
    assert abs(sum(r.realized_share for r in got.values()) - 1.0) < 1e-6


def test_r12_review_h12_short_series_null_not_nan(spark, tmp_path):
    """Post-seal review regression: a series too short for m9's 7-day
    trend (all resid NULL) must emit (0, NULL, NULL) in BOTH engines —
    the engine's empty double folds produce 0/0 = NaN without the
    n < 2 guard while the oracle's list() aggregate yields NULL."""
    import pandas as pd

    rows = [
        (i, 1, "O", 100.0 + i, f"1995-01-0{i + 1} 00:00:00", "1-URGENT")
        for i in range(3)
    ]
    d = tmp_path / "sfh12s"
    d.mkdir()
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate")).coalesce(
        1
    ).write.parquet(str(d / "orders.parquet"))
    got = QUERIES["h12_seasonal_strength"].fn(spark, str(d)).collect()[0]
    assert got.n_days == 0
    assert got.trend_strength is None and got.seasonal_strength is None
    con = duck_connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{d}/orders.parquet/*.parquet'"
    )
    w = con.execute(QUERIES["h12_seasonal_strength"].sql).df().iloc[0]
    assert w.n_days == 0
    assert pd.isna(w.trend_strength) and pd.isna(w.seasonal_strength)


def test_r12_review_pr8_null_node_tie_order(spark):
    """Post-seal review regression: a NULL node id in a hostile edge
    list must lose label ties identically in both engines (NULLS LAST
    pinned on the tie-break; Spark's bare asc is NULLS FIRST)."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.graph import (  # noqa: E501
        label_propagation,
    )

    # node 5's neighbors: one edge from NULL, one from 3 — counts tie
    # 1:1, so the SMALLEST NON-NULL label (3) must win, with the NULL
    # label losing the tie in both engines
    both = [(3, 5), (None, 5), (5, 3)]
    e = spark.createDataFrame(both, "src long, dst long")
    got = {r.node: r.community for r in label_propagation(e, n_iter=1).collect()}
    assert got[5] == 3


# ------------------------------------------- wave 3: dq10 + skw3


def test_dq10_duplicates_and_null_keys_exact(spark, tmp_path):
    """Staged duplicate single-column and composite keys plus NULL-key
    rows produce exact counts; the oracle agrees on the same files."""

    sf = _staged_rel_corpus(spark, tmp_path)
    # add the remaining tables dq10 audits but the rel corpus lacks
    for name, rows, schema in [
        ("events", [(1, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
                    (1, "2024-01-01 00:01:00", 2, "view", 1.0, "{}"),
                    (None, "2024-01-01 00:02:00", 3, "view", 1.0, "{}")],
         "event_id long, ts string, user_id long, event_type string, "
         "value double, props string"),
        ("documents", [(7, "src0", "a b"), (8, "src0", "c d")],
         "doc_id long, source string, text string"),
        ("embeddings", [(1, [0.1, 0.2], 0)],
         "vec_id long, embedding array<float>, label int"),
    ]:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{sf}/{name}.parquet"
        )
    got = {
        r.entity: r
        for r in QUERIES["dq10_key_uniqueness"].fn(spark, sf).collect()
    }
    assert len(got) == 10
    ev = got["events(event_id)"]
    # event_id 1 duplicated (2 rows), one NULL key row
    assert (ev.n_rows, ev.null_rows, ev.n_keys) == (3, 1, 1)
    assert (ev.dup_keys, ev.dup_rows, ev.is_unique) == (1, 2, False)
    li = got["lineitem(l_orderkey, l_linenumber)"]
    # the rel corpus has (999,1),(999,2),(10,1)... and (10,2) with a
    # NULL l_partkey — but the PK cols are all non-null and unique
    assert (li.null_rows, li.dup_rows, li.is_unique) == (0, 0, True)
    assert got["orders(o_orderkey)"].is_unique
    con = duck_connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'"
        )
    _driver_compare_r12(
        QUERIES["dq10_key_uniqueness"].fn(spark, sf).toPandas(),
        con.execute(QUERIES["dq10_key_uniqueness"].sql).df(),
    )


def test_dq10_composite_dup_detected(spark, tmp_path):
    """A duplicated COMPOSITE (l_orderkey, l_linenumber) pair is
    flagged even when each column is individually non-unique-safe."""
    d = tmp_path / "sfdq10c"
    d.mkdir()
    rows = [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01"),
        (1, 1, 1, 1, 2.0, 2.0, 0.0, 0.0, "N", "O", "1995-01-02"),  # dup
        (1, 1, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01"),
        (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "1995-01-01"),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber "
        "int, l_quantity double, l_extendedprice double, l_discount "
        "double, l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate string",
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))
    # stage the other 9 tables empty-ish so the union runs
    fillers = {
        "region": "r_regionkey long, r_name string",
        "nation": "n_nationkey long, n_name string, n_regionkey long",
        "customer": "c_custkey long, c_name string, c_nationkey long, "
                    "c_acctbal double, c_mktsegment string",
        "supplier": "s_suppkey long, s_name string, s_nationkey long, "
                    "s_acctbal double",
        "part": "p_partkey long, p_name string, p_brand string, "
                "p_type string, p_size int, p_retailprice double",
        "orders": "o_orderkey long, o_custkey long, o_orderstatus "
                  "string, o_totalprice double, o_orderdate string, "
                  "o_orderpriority string",
        "events": "event_id long, ts string, user_id long, event_type "
                  "string, value double, props string",
        "documents": "doc_id long, source string, text string",
        "embeddings": "vec_id long, embedding array<float>, label int",
    }
    for name, schema in fillers.items():
        spark.createDataFrame([], schema).coalesce(1).write.parquet(
            str(d / f"{name}.parquet")
        )
    got = {
        r.entity: r
        for r in QUERIES["dq10_key_uniqueness"].fn(spark, str(d)).collect()
    }
    li = got["lineitem(l_orderkey, l_linenumber)"]
    assert (li.n_rows, li.n_keys) == (4, 3)
    assert (li.dup_keys, li.dup_rows, li.is_unique) == (1, 2, False)


def test_skw3_salted_equals_plain_join(spark):
    """The salted-join readout equals the PLAIN unsalted join + agg
    computed in-test, and the plan shows the salt in the join keys on
    a non-broadcast join — losslessness of the salting mechanism."""
    sf = "/root/testdata/sf0.001"
    got = {
        r.event_type: (r.n_events, r.n_at_max)
        for r in QUERIES["skw3_salted_join"].fn(spark, sf).collect()
    }
    ev = (
        spark.read.parquet(f"{sf}/events.parquet")
        .filter(F.col("event_type").isNotNull())
    )
    stats = ev.groupBy("event_type").agg(F.max("value").alias("vmax"))
    plain = (
        ev.join(stats, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("value") == F.col("vmax"), 1).otherwise(0)
            ).cast("bigint").alias("m"),
        )
    )
    want = {r.event_type: (r.n, r.m) for r in plain.collect()}
    assert got == want

    plan = _plan(QUERIES["skw3_salted_join"].fn(spark, sf))
    assert "__salt" in plan            # the salt is IN the join keys
    assert "SortMergeJoin" in plan     # the forced non-broadcast path
    assert "BatchEvalPython" not in plan
