"""Semantics of operators/scd.py on tiny hand-checkable frames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.operators.scd import (
    merge_upsert,
    scd2_intervals,
)


def test_merge_upsert_matched_unmatched_insert(spark):
    target = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        "id long, name string, bal double",
    )
    source = spark.createDataFrame(
        [(2, 99.0), (4, 44.0)], "id long, new_bal double"
    )
    out = merge_upsert(
        target,
        source,
        key="id",
        update_cols={"bal": "new_bal"},
        insert_defaults={"name": F.lit("NEW")},
        action_col="action",
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["bal"] == 10.0 and rows[1]["action"] == "keep"
    assert rows[2]["bal"] == 99.0 and rows[2]["action"] == "update"
    assert rows[3]["action"] == "keep"
    assert rows[4]["bal"] == 44.0 and rows[4]["name"] == "NEW"
    assert rows[4]["action"] == "insert"
    assert out.count() == 4


def test_scd2_collapses_runs_and_closes_intervals(spark):
    t0 = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    df = spark.createDataFrame(
        [
            (1, "view", ts(0), 100),
            (1, "view", ts(1), 101),  # same run — collapsed
            (1, "buy", ts(2), 102),
            (1, "view", ts(3), 103),  # state may recur in a new run
            (2, "view", ts(0), 200),
        ],
        "user long, state string, ts timestamp, eid long",
    )
    out = scd2_intervals(df, "user", "state", "ts", "eid").collect()
    u1 = sorted(
        [r for r in out if r["user"] == 1], key=lambda r: r["valid_from"]
    )
    assert [r["state"] for r in u1] == ["view", "buy", "view"]
    assert u1[0]["valid_to"] == ts(2) and u1[0]["is_current"] == 0
    assert u1[1]["valid_to"] == ts(3)
    assert u1[2]["valid_to"] is None and u1[2]["is_current"] == 1
    (u2,) = [r for r in out if r["user"] == 2]
    assert u2["is_current"] == 1 and u2["valid_to"] is None


# ---- property: scd2_intervals == a driver-side reference fold ----------

from hypothesis import given, settings, strategies as st  # noqa: E402


def _py_scd2(rows):
    """Pure-python oracle: collapse (user, state, ts, eid) runs."""
    out = []
    by_user = {}
    for r in sorted(rows, key=lambda r: (r[0], r[2], r[3])):
        by_user.setdefault(r[0], []).append(r)
    for user, evs in by_user.items():
        runs = []
        for u, state, ts, eid in evs:
            if not runs or runs[-1][0] != state:
                runs.append([state, ts])
        for i, (state, vf) in enumerate(runs):
            vt = runs[i + 1][1] if i + 1 < len(runs) else None
            out.append((user, state, vf, vt, 1 if vt is None else 0))
    return sorted(out)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 3),  # user
            st.sampled_from(["a", "b", "c"]),  # state
            st.integers(0, 50),  # minutes
        ),
        min_size=1,
        max_size=30,
    )
)
def test_scd2_matches_python_oracle(spark, raw):
    rows = [
        (u, s, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), i)
        for i, (u, s, m) in enumerate(raw)
    ]
    df = spark.createDataFrame(
        rows, "user long, state string, ts timestamp, eid long"
    )
    got = sorted(
        (
            r["user"],
            r["state"],
            r["valid_from"],
            r["valid_to"],
            r["is_current"],
        )
        for r in scd2_intervals(df, "user", "state", "ts", "eid").collect()
    )
    assert got == _py_scd2(rows)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(  # target: unique ids with balances
        st.integers(0, 8), min_size=1, max_size=6, unique=True
    ),
    st.lists(  # source: unique ids with deltas
        st.integers(0, 12), min_size=0, max_size=6, unique=True
    ),
)
def test_merge_upsert_matches_python_oracle(spark, t_ids, s_ids):
    target = spark.createDataFrame(
        [(i, float(i * 10)) for i in t_ids], "id long, bal double"
    )
    source = spark.createDataFrame(
        [(i, float(i * 100)) for i in s_ids], "id long, nb double"
    ) if s_ids else spark.createDataFrame([], "id long, nb double")
    got = sorted(
        (r["id"], r["bal"], r["a"])
        for r in merge_upsert(
            target, source, "id", {"bal": "nb"}, action_col="a"
        ).collect()
    )
    want = sorted(
        [
            (i, float(i * 100) if i in s_ids else float(i * 10),
             "update" if i in s_ids else "keep")
            for i in t_ids
        ]
        + [(i, float(i * 100), "insert") for i in s_ids if i not in t_ids]
    )
    assert got == want


def test_propagate_deletes_idempotent_and_exact(spark):
    from retail_data_pipeline_and_forecasting_system_spark.operators.scd import (
        propagate_deletes,
    )

    dim = spark.createDataFrame(
        [(i, f"row_{i}") for i in range(10)], "id long, v string"
    )
    tomb = spark.createDataFrame([(3,), (7,), (7,), (99,)], "key long")
    once = propagate_deletes(dim, tomb, on="id", tombstone_key="key")
    assert sorted(r["id"] for r in once.collect()) == [0, 1, 2, 4, 5, 6, 8, 9]
    # idempotent: re-applying the same tombstones changes nothing
    twice = propagate_deletes(once, tomb, on="id", tombstone_key="key")
    assert sorted(r["id"] for r in twice.collect()) == [0, 1, 2, 4, 5, 6, 8, 9]


def test_snapshot_diff_classifies_nullsafe(spark):
    """added/removed/changed classification is null-safe: NULL->value,
    value->NULL and NULL->NULL attribute transitions all classify
    correctly; unchanged rows never appear."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.scd import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, name string, bal double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10.0),     # unchanged -> dropped
            (2, None, 20.0),    # NULL -> NULL on name: unchanged
            (3, "c", 30.0),     # NULL -> value: changed
            (5, "e", 50.0),     # added
        ],                       # 4 removed
        "k long, name string, bal double",
    )
    out = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, key="k").collect()
    }
    assert out == {3: "changed", 4: "removed", 5: "added"}
