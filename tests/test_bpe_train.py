"""x42 iterative BPE trainer — hand corpora where recounting CHANGES
a merge vs the single-pass table, seeded randomized differentials
against an independent pure-Python trainer, the (previously untested)
sweep-encoder == lowest-rank-encoder claim on REAL trained tables,
oracle agreement on hostile corpora, and plan shape (no Python in the
training loop)."""

from __future__ import annotations

import random
import re

import pytest

from retail_data_pipeline_and_forecasting_system_spark.operators import bpe as BP

from conftest import duck_connect

WS = "[ \t\n\f\r]+"
FOLD = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


# ---------------------------------------------------------------- #
# independent pure-Python restatement of the trainer spec (the
# differential oracle — NOT the engine's code path)
# ---------------------------------------------------------------- #
def py_train(texts, n_merges):
    wf: dict[str, int] = {}
    for t in texts:
        if not isinstance(t, str) or not t:
            continue
        for w in re.split(WS, t.translate(FOLD)):
            if len(w) >= 2:
                wf[w] = wf.get(w, 0) + 1
    words = {w: list(w) for w in wf}
    merges = []
    for k in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            f = wf[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        # count DESC, then (l, r) in UTF-8 byte order ASC
        (left, right), cnt = min(
            counts.items(),
            key=lambda kv: (-kv[1], kv[0][0].encode(), kv[0][1].encode()),
        )
        merges.append((k, left, right, cnt))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


def sweep_encode_word(word, merges):
    """The CLASSIC Sennrich encoder: apply merges in rank order, each
    one sweeping the word left-to-right merging every occurrence —
    independent of operators/bpe.py encode_word's lowest-rank loop."""
    syms = list(word)
    for left, right, _rank in sorted(merges, key=lambda m: m[2]):
        out, i = [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, "s", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    )


def test_recounting_changes_the_table_vs_single_pass(spark):
    """The defining property of TRUE training: after merging (a,a) in
    'aab', the next recount sees (aa,b) — a pair over a MERGED symbol
    that a single-pass frequency ranking can never emit."""
    texts = ["aab aab aab"]
    got = BP.bpe_train(_docs(spark, texts), 3)
    # iter 1: (a,a):3 ties (a,b):3 -> byte order picks (a,a)
    # iter 2: words are [aa, b] -> (aa,b):3
    # iter 3: words are [aab] -> no pairs -> early stop
    assert got == [(1, "a", "a", 3), (2, "aa", "b", 3)]
    # the single-pass table over the same corpus: rank2 is (a,b)
    single_pass = [("a", "a", 1), ("a", "b", 2)]
    trained = BP.trained_merge_table(got)
    assert trained != single_pass
    assert trained[1] == ("aa", "b", 2)


def test_trainer_matches_python_on_testdata_corpus(spark):
    texts = [
        r[0]
        for r in duck_connect()
        .execute(
            "SELECT text FROM '/root/testdata/sf0.001/documents.parquet'"
        )
        .fetchall()
    ]
    mine = BP.bpe_train(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), 12
    )
    assert mine == py_train(texts, 12)
    # training is genuinely iterative on the real corpus: some merge
    # has a multi-char side (impossible for any single-pass table)
    assert any(len(l) > 1 or len(r) > 1 for _, l, r, _ in mine)


@pytest.mark.parametrize("seed", [7, 1009])
def test_trainer_seeded_differential(spark, seed):
    """Collision-heavy random corpora (tiny alphabet -> dense tie
    traffic, plus multi-byte and >=0x80-boundary chars to exercise the
    UTF-8 byte-order tie-break) against the independent Python
    trainer."""
    rng = random.Random(seed)
    alphabet = list("abAB") + ["é", "世"]  # é (2B), 世 (3B)
    texts = []
    for _ in range(60):
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(0, 8))
        ]
        texts.append(" ".join(words))
    texts.append(None)
    texts.append("")
    mine = BP.bpe_train(_docs(spark, texts), 15)
    assert mine == py_train(texts, 15)


def test_trainer_early_stop_when_pairs_exhaust(spark):
    # one repeated 3-char word supports exactly 2 merges
    got = BP.bpe_train(_docs(spark, ["xyz xyz"]), 10)
    assert [m[0] for m in got] == [1, 2]
    assert got[1][1] + got[1][2] == "xyz"


def test_sweep_encoder_equals_lowest_rank_on_trained_tables(spark):
    """operators/bpe.py's header claim, previously untestable: on a
    TRAINED table, the leftmost-lowest-rank encoder (engine + oracle)
    equals the classic rank-order sweep encoder. Checked over every
    corpus word AND held-out words (unseen combinations of trained
    symbols)."""

    texts = [
        r[0]
        for r in duck_connect()
        .execute(
            "SELECT text FROM '/root/testdata/sf0.001/documents.parquet'"
        )
        .fetchall()
    ]
    trained = BP.trained_merge_table(
        BP.bpe_train(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
            20,
        )
    )
    ranks = {(l, r): k for l, r, k in trained}
    words = set()
    for t in texts:
        if isinstance(t, str):
            for w in re.split(WS, t.translate(FOLD)):
                if w:
                    words.add(w)
    held_out = {
        "windows", "scanscan", "columnar", "weriner", "xcolumny",
        "wparin", "aaaa", "erer", "paper",
    }
    for w in sorted(words | held_out):
        assert BP.encode_word(w, ranks) == sweep_encode_word(w, trained), w


def test_sweep_equivalence_on_random_trained_tables(spark):
    """Same claim, adversarial corpora: overlap-heavy words (aaa...,
    ababab...) that maximize boundary/tie interactions."""
    rng = random.Random(31)
    texts = []
    for _ in range(40):
        base = rng.choice(["a", "ab", "aab", "aba", "bba"])
        texts.append(
            " ".join(
                base * rng.randint(1, 4) for _ in range(rng.randint(1, 6))
            )
        )
    trained = BP.trained_merge_table(BP.bpe_train(_docs(spark, texts), 12))
    ranks = {(l, r): k for l, r, k in trained}
    probe = {w for t in texts for w in t.split()} | {
        "a" * n for n in range(2, 9)
    } | {"ab" * n for n in range(1, 5)} | {"ba" * n for n in range(1, 5)}
    for w in sorted(probe):
        assert BP.encode_word(w, ranks) == sweep_encode_word(w, trained), w


def test_x42_oracle_agreement_on_hostile_corpus(spark, tmp_path):
    """Registered fn vs registered SQL on a staged corpus with NULLs,
    empties, exotic in-word whitespace (NBSP/VT — separators in neither
    engine), multi-byte chars, ties, and fewer learnable merges than
    N_TRAIN_MERGES (early stop must agree too)."""

    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    rows = [
        (0, "s", None),
        (1, "s", ""),
        (2, "s", "   \t \r\n "),
        (3, "s", "Aa B aa\x0bb AA b"),  # NBSP/VT stay in-word
        (4, "t", "é世 世é é世"),
        (5, "t", "zz zz yy"),
        # U+2028/U+2029/NEL stay in-word; Java regex '.' skips
        # line terminators unless (?s) is set — the symbolization
        # must wrap them like any other char (round-10 fix)
        (6, "t", "g\u2028h g\u2028h x\u2029y n\u0085m"),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    sf = str(d)

    mine = [
        (r["rnk"], r["l"], r["r"], r["tok"], r["cnt"])
        for r in QUERIES["x42_bpe_train"].fn(spark, sf).collect()
    ]
    con = duck_connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    want = [
        tuple(t)
        for t in con.execute(QUERIES["x42_bpe_train"].sql).fetchall()
    ]
    assert mine == want
    texts = [t for _, _, t in rows]
    assert mine == [
        (k, l, r, l + r, c) for k, l, r, c in py_train(texts, 20)
    ]
    assert 0 < len(mine) < 20  # early stop exercised


def test_training_loop_plan_is_jvm_only(spark):
    """The per-iteration statistic must stay inside codegen: no Python
    eval nodes anywhere, and exactly ONE exchange (the pair-count agg's
    partial/final split)."""
    wf = (
        _docs(spark, ["the cat sat on the mat", "the cat"])
        .selectExpr("explode(split(text, ' ')) AS word")
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "freq")
    )
    plan = (
        BP.pair_counts(BP.symbolize_words(wf))
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    # no Python EVAL nodes (the local-rows source scan mentions
    # "applySchemaToPythonRDD" — that's the test fixture, not the op)
    for node in ("BatchEvalPython", "ArrowEvalPython", "InPandas", "FlatMapGroups"):
        assert node not in plan, node
    # count Arguments: hashpartitioning lines, not headers (house rule)
    n_exch = sum(
        1
        for ln in plan.splitlines()
        if ln.strip().startswith("Arguments: hashpartitioning")
    )
    # 2: one for the word-freq agg feeding the probe, one for the
    # pair-count agg itself
    assert n_exch == 2, plan
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_rank_sentinel_and_pair_validation():
    with pytest.raises(ValueError, match="sentinel"):
        BP.check_ranks([("a", "b", 999999)])
    with pytest.raises(ValueError, match="2-char"):
        BP.merges_from_pair_counts([{"pair": "abc", "rnk": 1}])
    assert BP.merges_from_pair_counts([{"pair": "ab", "rnk": 1}]) == [
        ("a", "b", 1)
    ]
