"""Round-11 breadth ops: x44 token windows (overflow stride), x45
pack attention spans (block-diagonal layout), x46 fill-in-middle —
hand-built corpora independent of the oracles, pure-Python split-point
differentials, reconstruction identities, hostile-char oracle
agreement, and plan shapes."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
    QUERIES,
)

from conftest import duck_connect


def _staged_docs(spark, tmp_path, rows):
    d = tmp_path / "sf"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def _oracle(sql, sf):
    con = duck_connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    return con.execute(sql).df()


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# --------------------------------------------------------------- x44


def test_x44_window_math_hand_corpus(spark, tmp_path):
    """Docs of k DISTINCT single-char words encode to exactly k tokens
    (1-char words never train merges), so the window arithmetic is
    hand-checkable at the overflow boundaries of window=128 stride=96:
    n=128 exactly fills one window, n=129 spills 33 tokens into a
    second, n=224 ends flush on the second, n=225 opens a third."""

    def words(k):
        # k distinct words, each one char: chr offsets in the BMP
        return " ".join(chr(0x4E00 + i) for i in range(k))

    sf = _staged_docs(
        spark,
        tmp_path,
        [
            (0, "s", words(1)),
            (1, "s", words(128)),
            (2, "s", words(129)),
            (3, "s", words(224)),
            (4, "s", words(225)),
            (5, "s", ""),          # zero tokens -> zero windows
            (6, "s", None),
        ],
    )
    got = {}
    for r in QUERIES["x44_token_windows"].fn(spark, sf).collect():
        got.setdefault(r.doc_id, []).append(
            (r.window_id, r.win_start, r.win_len)
        )
    for d in got:
        got[d].sort()
    assert got[0] == [(0, 0, 1)]
    assert got[1] == [(0, 0, 128)]
    assert got[2] == [(0, 0, 128), (1, 96, 33)]
    assert got[3] == [(0, 0, 128), (1, 96, 128)]
    assert got[4] == [(0, 0, 128), (1, 96, 128), (2, 192, 33)]
    assert 5 not in got and 6 not in got
    # invariants: every token covered, last window reaches the end
    for d, wins in got.items():
        n = max(s + ln for _, s, ln in wins)
        assert wins[-1][1] + wins[-1][2] == n
        covered = set()
        for _, s, ln in wins:
            covered.update(range(s, s + ln))
        assert covered == set(range(n)), d


def test_x44_oracle_agreement(spark, tmp_path):
    sf = _staged_docs(
        spark,
        tmp_path,
        [(i, "s" if i % 2 else None, "w " * (i * 37 % 300)) for i in range(40)]
        + [(100, "t", None), (101, "t", "")],
    )
    q = QUERIES["x44_token_windows"]
    mine = sorted(
        (r.doc_id, r.source, r.window_id, r.win_start, r.win_len)
        for r in q.fn(spark, sf).collect()
    )
    want = sorted(
        (
            int(r.doc_id),
            None if r.source is None else r.source,
            int(r.window_id),
            int(r.win_start),
            int(r.win_len),
        )
        for r in _oracle(q.sql, sf).itertuples()
    )
    assert mine == want and mine


def test_x44_plan_zero_exchanges(spark, tmp_path):
    sf = _staged_docs(spark, tmp_path, [(0, "s", "a b c")])
    plan = _plan(QUERIES["x44_token_windows"].fn(spark, sf))
    assert "Exchange" not in plan, plan


# --------------------------------------------------------------- x45


def test_x45_spans_hand_corpus(spark, tmp_path):
    """Greedy capacity-1024 packing of 600/600/300-token docs: doc 0
    fills seq 0; doc 1 overflows into seq 1 at offset 0; doc 2 lands
    behind it at offset 600. NULL source packs as its own group."""

    def words(k):
        return " ".join(chr(0x4E00 + i) for i in range(k))

    sf = _staged_docs(
        spark,
        tmp_path,
        [
            (0, "s", words(600)),
            (1, "s", words(600)),
            (2, "s", words(300)),
            (3, None, words(10)),
            (4, None, words(20)),
        ],
    )
    got = {
        r.doc_id: (r.source, r.seq_id, r.span_start, r.span_len)
        for r in QUERIES["x45_pack_attention_spans"].fn(spark, sf).collect()
    }
    assert got[0] == ("s", 0, 0, 600)
    assert got[1] == ("s", 1, 0, 600)
    assert got[2] == ("s", 1, 600, 300)
    assert got[3] == (None, 0, 0, 10)
    assert got[4] == (None, 0, 10, 20)


def test_x45_spans_tile_each_pack(spark):
    """Invariant on real testdata: within every (source, seq_id) pack,
    spans tile [0, pack_fill) with no gaps or overlaps."""
    rows = QUERIES["x45_pack_attention_spans"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    packs: dict = {}
    for r in rows:
        packs.setdefault((r.source, r.seq_id), []).append(
            (r.span_start, r.span_len)
        )
    for key, spans in packs.items():
        spans.sort()
        pos = 0
        for start, ln in spans:
            assert start == pos, (key, spans)
            pos += ln


# --------------------------------------------------------------- x46


def _py_fim(doc_id, text):
    """Independent pure-Python restatement of the x46 split spec."""
    if text is None or len(text) < 3:
        return None, None, text
    n = len(text)
    h1 = int(hashlib.md5(f"{doc_id}:fim1".encode()).hexdigest()[:6], 16)
    h2 = int(hashlib.md5(f"{doc_id}:fim2".encode()).hexdigest()[:6], 16)
    p1 = 1 + h1 % (n - 2)
    p2 = p1 + 1 + h2 % (n - p1 - 1)
    fim = (
        "<PRE>" + text[:p1] + "<SUF>" + text[p2:] + "<MID>" + text[p1:p2]
    )
    return p1, p2, fim


def test_x46_matches_python_differential(spark, tmp_path):
    """Engine vs an independent pure-Python split computation on a
    corpus spanning short/empty/NULL docs, multi-byte chars (length
    and substring count CODE POINTS in Spark, DuckDB and Python), and
    texts containing the sentinel markers themselves."""
    rows = [
        (0, "s", "abcdef"),
        (1, "s", "ab"),            # too short: passthrough
        (2, "s", ""),
        (3, "s", None),
        (4, "s", "xyz"),           # minimal splittable: p1=1, p2=2
        (5, "s", "é\U0001f600日本語 test"),
        (6, "s", "has <MID> inside"),
        (7, None, "0123456789" * 20),
    ]
    sf = _staged_docs(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.p1, r.p2, r.fim_text)
        for r in QUERIES["x46_fim_transform"].fn(spark, sf).collect()
    }
    for doc_id, _src, text in rows:
        assert got[doc_id] == _py_fim(doc_id, text), doc_id
    # reconstruction identity: prefix+middle+suffix == text, bounds hold
    for doc_id, _src, text in rows:
        p1, p2, _ = got[doc_id]
        if p1 is None:
            continue
        assert 1 <= p1 < p2 <= len(text) - 1
        assert text[:p1] + text[p1:p2] + text[p2:] == text


def test_x46_oracle_agreement_hostile(spark, tmp_path):
    sf = _staged_docs(
        spark,
        tmp_path,
        [
            (0, "s", "abcdef"),
            (1, "s", "ab"),
            (2, "s", ""),
            (3, "s", None),
            (4, "s", "é\U0001f600日本語 test"),
            (5, None, "<PRE>nested<SUF>markers<MID>"),
        ],
    )
    q = QUERIES["x46_fim_transform"]
    mine = sorted(
        (r.doc_id, r.source, r.p1, r.p2, r.fim_text)
        for r in q.fn(spark, sf).collect()
    )
    import math

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return int(v) if isinstance(v, float) else v

    want = sorted(
        (
            int(r.doc_id),
            None if r.source is None else r.source,
            norm(r.p1),
            norm(r.p2),
            None if r.fim_text is None else r.fim_text,
        )
        for r in _oracle(q.sql, sf).itertuples()
    )
    assert mine == want


def test_x46_plan_row_local_codegen(spark, tmp_path):
    """Zero shuffle, zero Python: the whole transform is one
    whole-stage-codegen project over the scan."""
    sf = _staged_docs(spark, tmp_path, [(0, "s", "abcdef")])
    plan = _plan(QUERIES["x46_fim_transform"].fn(spark, sf))
    assert "Exchange" not in plan, plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    # formatted explain marks codegen membership per node, not with a
    # WholeStageCodegen wrapper line
    assert "[codegen id : 1]" in plan, plan


def test_x46_runs_under_structured_streaming(spark, tmp_path):
    """The FIM transform is stateless row-local expressions, so it
    runs UNCHANGED on a streaming DataFrame — readStream over the same
    docs yields exactly the batch result (deterministic md5 splits, no
    RNG state to diverge per trigger)."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        fim_transform,
    )

    rows = [(i, "s", f"document number {i} with some text") for i in range(30)]
    rows += [(100, None, "ab"), (101, "t", None)]
    in_dir = tmp_path / "in"
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(str(in_dir))

    batch = {
        r.doc_id: (r.p1, r.p2, r.fim_text)
        for r in fim_transform(spark.read.parquet(str(in_dir))).collect()
    }

    stream = spark.readStream.schema(
        "doc_id long, source string, text string"
    ).parquet(str(in_dir))
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        fim_transform(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    streamed = {
        r.doc_id: (r.p1, r.p2, r.fim_text)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == batch and len(batch) == 32


# --------------------------------------------------------------- n15


def test_n15_greedy_walk_hand_graph(spark):
    """Hand-built graph and vectors: the walk must follow the strictly
    improving chain 0 -> 2 -> 5 for a query at vec 5 (2 moves), stay
    put when the entry is already a local optimum (0 moves), and break
    equal-similarity ties to the LOWEST dst id."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.similarity import (
        graph_greedy_search,
    )

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.8, 0.6]),          # off-path distractor
            (2, [0.6, 0.8]),          # first hop toward the target
            (5, [0.0, 1.0]),          # the target
            (7, [0.0, 1.0]),          # duplicate of 5: tie at the end
        ],
        "vec_id long, embedding array<double>",
    )
    graph = spark.createDataFrame(
        [(0, 1), (0, 2), (2, 5), (5, 7)], "src long, dst long"
    )
    queries = spark.createDataFrame(
        [(100, [0.0, 1.0]), (200, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.query_id: (r.found_id, round(r.found_sim, 9), r.n_steps)
        for r in graph_greedy_search(
            queries, vecs, graph, steps=4
        ).collect()
    }
    # query 100: entry 0 (sim 0) -> best neighbor 2 (0.8) -> 5 (1.0);
    # 7 ties 5 at sim 1.0 but 5 stays (strict > only) — 2 moves
    assert got[100] == (5, 1.0, 2)
    # query 200: entry 0 IS the optimum (sim 1.0) — zero moves
    assert got[200] == (0, 1.0, 0)


def test_n15_tie_breaks_to_lowest_dst(spark):
    from retail_data_pipeline_and_forecasting_system_spark.operators.similarity import (
        graph_greedy_search,
    )

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    graph = spark.createDataFrame([(0, 4), (0, 3)], "src long, dst long")
    queries = spark.createDataFrame(
        [(9, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    rows = graph_greedy_search(queries, vecs, graph, steps=4).collect()
    assert rows[0].found_id == 3 and rows[0].n_steps == 1


def test_n15_registry_runs_and_converges(spark):
    """On real testdata the walk must terminate with n_steps <= 4 and
    found_sim at least the entry similarity for every query."""
    rows = QUERIES["n15_graph_greedy_search"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and len(rows) == len({r.query_id for r in rows})
    for r in rows:
        assert 0 <= r.n_steps <= 4
        assert r.found_sim is None or -1.0 - 1e-9 <= r.found_sim <= 1.0 + 1e-9
