"""Round-15 optimization internals: the tightened fan gate, the
per-session plan memos, nn_descent's per-round cache boundaries, and
the s2 scaling canary.

Results are pinned value-exactly by test_oracle_parity / the driver
gate; these tests pin the MECHANISMS."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
    _fan,
    _t,
    invalidate_tables,
)


def test_fan_gate_needs_partition_deficit(spark, sf_dir):
    """r15 gate tightening (r14 ADVICE): a frame that already scans as
    many partitions as cores is NOT fanned, however small its bytes —
    the gate keys on the actual layout deficit."""
    li = _t(spark, sf_dir, "lineitem")
    par = spark.sparkContext.defaultParallelism
    wide = li.repartition(par, "l_orderkey")
    assert _fan(wide, "l_orderkey") is wide
    # the deficient layout still fans
    assert _fan(li, "l_orderkey") is not li


def test_invalidate_tables_drops_memo(spark, sf_dir):
    """The r15 invalidation hook for callers that rewrite parquet
    mid-session (the table memo's immutability contract's escape
    hatch) resets every memo in the session's state: table plans,
    fan-gate decisions and depletion dim counts."""
    from retail_data_pipeline_and_forecasting_system_spark import caching
    from retail_data_pipeline_and_forecasting_system_spark.operators.depletion import (
        _dim_count,
    )

    a = _t(spark, sf_dir, "lineitem")
    fan_key = ("invalidate_probe", sf_dir)
    _fan(a, "l_orderkey", ckey=fan_key)
    products = spark.createDataFrame(
        [(1, 5), (2, 3)], "product_id bigint, stock bigint"
    )
    assert _dim_count(products) == 2
    dim_key = ("dim_count", products.semanticHash())
    probes = caching.state(spark).probes
    assert fan_key in probes and dim_key in probes
    invalidate_tables(spark)
    assert fan_key not in probes and dim_key not in probes
    b = _t(spark, sf_dir, "lineitem")
    assert a is not b
    assert _t(spark, sf_dir, "lineitem") is b  # re-memoized


def test_s2_digest_matches_hashlib_and_fans(spark, sf_dir):
    """The scaling canary's md5 chain is the portable digest both
    engines agree on (spot-check one row against hashlib), and its
    local plan carries the fan exchange so the chain runs wide."""
    out = QUERIES["s2_parallel_digest"].fn(spark, sf_dir)
    row = out.collect()[0]
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .collect()
    )
    digs = []
    for r in li:
        d = f"{r.l_orderkey}|{r.l_linenumber}".encode()
        for _ in range(8):
            d = hashlib.md5(d).hexdigest().encode()
        digs.append(d.decode())
    assert row.n == len(li)
    assert row.min_digest == min(digs)
    assert row.max_digest == max(digs)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert re.search(r"hashpartitioning\(l_orderkey", buf.getvalue())


def test_curation_signals_row_local_matches_exploded_agg(spark):
    """r15: curation_signals_from_words computes its per-doc counts
    row-locally from the token array. Differential against the exploded
    aggregate it replaced (the _curation_from_tokens path, still used
    by the raw-text entry point) on hostile docs: empty text (one empty
    token), all-stopword docs, ties between languages, heavy repeats."""
    from retail_data_pipeline_and_forecasting_system_spark.functions import (
        tokens,
    )
    from retail_data_pipeline_and_forecasting_system_spark.operators import (
        textstats as TX,
    )

    rows = [
        (1, ""),  # split("") -> [''] — one empty token, doc must survive
        (2, "the the the the"),  # all stopwords, repetition
        (3, "le la de et un the a of and to"),  # en/fr tie fodder
        (4, "zzz yyy xxx www"),  # no stopword hits -> und
        (5, "der die das und la le el en in is"),  # three-way mix
        (6, "a a a b b c"),  # uniq ratio fractions
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    words = df.select("doc_id", tokens("text").alias("words"))
    got = sorted(
        map(repr, TX.curation_signals_from_words(words).collect())
    )
    toks = words.select("doc_id", F.explode("words").alias("token"))
    want = sorted(
        map(repr, TX._curation_from_tokens(toks, "doc_id").collect())
    )
    assert got == want
    # dtype parity too (n_tokens must stay bigint for the oracle
    # compare; nullability flags legitimately differ — count() is
    # non-nullable, size().cast() is nullable — and the driver compares
    # names+types, proven by x7 passing the gate at both SFs)
    assert [
        (f.name, f.dataType)
        for f in TX.curation_signals_from_words(words).schema
    ] == [
        (f.name, f.dataType)
        for f in TX._curation_from_tokens(toks, "doc_id").schema
    ]


def test_depletion_buckets_bounded_by_dim_cardinality(spark):
    """r15 (r14 verdict item 5): the default bucket count is capped at
    the products dim's row count — a 5-product catalog gets 5 buckets,
    not 2 x cores — and the memoized dim count never re-runs the count
    job for the same plan. Results are placement-invariant (pinned by
    the depletion differential suite)."""
    import re as _re

    from retail_data_pipeline_and_forecasting_system_spark import caching
    from retail_data_pipeline_and_forecasting_system_spark.operators.depletion import (
        greedy_inventory_depletion,
    )

    products = spark.createDataFrame(
        [(i, 100) for i in range(5)], "product_id bigint, stock bigint"
    )
    lines = spark.createDataFrame(
        [(i % 5, 1, f"t{j}", j, 0) for j, i in enumerate(range(20))],
        "product_id bigint, qty bigint, transaction_id string, "
        "timestamp bigint, line_pos bigint",
    )
    out = greedy_inventory_depletion(lines, products)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    m = _re.search(r"pmod\(hash\(product_id#\d+L?, 42\), (\d+)\)", plan)
    assert m, "bucketed pmod missing from plan"
    assert int(m.group(1)) == 5, f"expected 5 buckets, got {m.group(1)}"
    # memo populated for this session + plan
    probes = caching.state(spark).probes
    assert probes.get(("dim_count", products.semanticHash())) == 5
    # and the fold still computes (greedy semantics pinned elsewhere)
    assert out.count() == 20


def test_depletion_result_cols_narrowing_is_a_projection(spark):
    """r15 (guide §4): result_cols only narrows the kernel's RETURN
    columns — values identical to projecting the full output; unknown
    columns rejected loudly."""
    import pytest as _pytest

    from retail_data_pipeline_and_forecasting_system_spark.operators.depletion import (
        greedy_inventory_depletion,
    )

    products = spark.createDataFrame(
        [(1, 5), (2, 3)], "product_id bigint, stock bigint"
    )
    lines = spark.createDataFrame(
        [
            (1, 3, "t1", 1, 0),
            (1, 3, "t2", 2, 0),  # cancelled (3 > remaining 2)
            (1, 2, "t3", 3, 0),
            (2, None, "t4", 4, 0),  # null qty -> cancel
            (2, 3, "t5", 5, 0),
        ],
        "product_id bigint, qty int, transaction_id string, "
        "timestamp bigint, line_pos bigint",
    )
    wide = greedy_inventory_depletion(lines, products)
    narrow = greedy_inventory_depletion(
        lines,
        products,
        result_cols=("transaction_id", "product_id", "quantity"),
    )
    assert narrow.columns == ["transaction_id", "product_id", "quantity"]
    assert sorted(
        map(repr, wide.select("transaction_id", "product_id", "quantity").collect())
    ) == sorted(map(repr, narrow.collect()))
    with _pytest.raises(ValueError, match="result_cols"):
        greedy_inventory_depletion(
            lines, products, result_cols=("nope", "quantity")
        )


def test_nn_descent_rounds_are_cache_bounded(spark):
    """r15 (r14 verdict item 6): every round's graph (and the emb
    projection) persists, so round N+1's ~4 references to round N read
    a materialized frame instead of re-unrolling the whole descent."""
    import random

    from retail_data_pipeline_and_forecasting_system_spark.operators.similarity import (
        nn_descent,
    )

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    cls = type(spark.range(1))
    persisted = []
    orig = cls.persist

    def capture(self, *a, **k):
        out = orig(self, *a, **k)
        persisted.append(out)
        return out

    try:
        cls.persist = capture
        out = nn_descent(emb, k=3, iters=2, n_bits=8)
        got = out.collect()
    finally:
        cls.persist = orig
    # emb + seed graph + one per iteration
    assert len(persisted) >= 4
    assert got  # and the graph is non-trivial
    for r in got:
        assert 1 <= r.rnk <= 3
