"""x43 tokenizer round-trip — encode∘decode identity on corpus and
held-out words (pure Python, any merge table), hand-corpus decode with
NULL/empty/hostile text, engine-vs-oracle agreement on a hostile
corpus, corpus-wide losslessness on real testdata, and plan shape
(zero exchanges in the encode→decode chain)."""

from __future__ import annotations

import random
import re

import pytest

from retail_data_pipeline_and_forecasting_system_spark.operators import bpe as BP

from conftest import duck_connect

WS = "[ \t\n\f\r]+"


def _roundtrip(word, merges):
    ranks, tok_ranks = BP._rank_maps(merges)
    syms = BP.encode_word(word, ranks)
    assert "".join(syms) == word, (word, syms)
    ids = BP.token_ids(syms, tok_ranks)
    assert BP.decode_ids(ids, BP.id_to_token_map(merges)) == word


def test_encode_decode_identity_fixed_tables():
    # duplicate token string from two different merge paths: 'abc' is
    # reachable as ab+c (rank 2) and a+bc (rank 3); token_ids and
    # id_to_token_map must agree on the MIN rank for the shared string
    merges = [("a", "b", 1), ("ab", "c", 2), ("a", "bc", 3), ("b", "c", 4)]
    for w in ("abc", "ab", "bc", "aabbcc", "abcabc", "x", "", "cba"):
        if w:
            _roundtrip(w, merges)
    # the shared-string id maps back to the string once, not twice
    id2tok = BP.id_to_token_map(merges)
    assert id2tok[BP.MERGED_ID_BASE + 2] == "abc"
    assert BP.MERGED_ID_BASE + 3 not in id2tok


@pytest.mark.parametrize("seed", [11, 47, 101])
def test_encode_decode_identity_random_tables_and_words(seed):
    """Identity holds for ANY merge table (merges only concatenate) —
    including held-out words whose characters never appear in the
    table, multi-byte chars, and collision-heavy random tables."""
    rng = random.Random(seed)
    alpha = "abé\U0001f600c"
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
        for _ in range(200)
    ]
    # trained-ish table: random adjacent fragments of the words
    merges = []
    rank = 1
    for _ in range(30):
        w = rng.choice(words)
        if len(w) < 2:
            continue
        i = rng.randrange(len(w) - 1)
        j = rng.randint(i + 1, len(w) - 1)
        merges.append((w[i:j], w[j : j + rng.randint(1, 3)], rank))
        rank += 1
    held_out = ["zzz", "ßß", "q\U0001f600q", "世界"]
    for w in words + held_out:
        _roundtrip(w, merges)


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )


def test_decode_hand_corpus(spark):
    """Hand merge table over a corpus with NULL text, empty text,
    whitespace-only text, case folding, and multi-word docs — decoded
    text, id counts, and verdicts all hand-checked."""
    merges = [("a", "b", 1), ("ab", "c", 2)]
    df = _docs(
        spark,
        [
            (0, "s", "ABC ab"),        # folds, merges to 2 tokens + sep
            (1, "s", "  x\ty \n"),     # runs + edge whitespace collapse
            (2, None, ""),             # empty: [] ids, decoded ''
            (3, "s", " \t\n"),         # whitespace-only: like empty
            (4, "s", None),            # NULL: NULL ids, NULL verdict
            (5, "s", "ab"),            # single word, single merged id
        ],
    )
    enc = BP.bpe_encode_ids(df, merges)
    got = {
        r.doc_id: (r.n_ids, r.decoded, r.lossless)
        for r in BP.bpe_decode_check(enc, BP.id_to_token_map(merges))
        .collect()
    }
    assert got[0] == (3, "abc ab", True)   # [abc, 32, ab]
    assert got[1] == (3, "x y", True)      # [x, 32, y]
    assert got[2] == (0, "", True)
    assert got[3] == (0, "", True)
    assert got[4] == (0, None, None)
    assert got[5] == (1, "ab", True)
    # the artifact itself: doc 0 is [id(abc), SPACE_ID, id(ab)]
    ids = {r.doc_id: r.ids for r in enc.collect()}
    assert ids[0] == [
        BP.MERGED_ID_BASE + 2, BP.SPACE_ID, BP.MERGED_ID_BASE + 1,
    ]
    assert ids[4] is None and ids[2] == []


def test_decoder_never_needs_ranks(spark):
    """A corrupted id→token map must FAIL the check — the verdict is
    computed from the map, not from re-encoding (which would be
    trivially lossless)."""
    merges = [("a", "b", 1)]
    df = _docs(spark, [(0, "s", "ab ab")])
    enc = BP.bpe_encode_ids(df, merges)
    bad = {BP.MERGED_ID_BASE + 1: "XX"}
    rows = BP.bpe_decode_check(enc, bad).collect()
    assert rows[0].decoded == "XX XX"
    assert rows[0].lossless is False


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


def test_x43_oracle_agreement_hostile_corpus(spark, tmp_path):
    """Engine (encode→ids→decode through the inverted vocab) lands
    exactly on the oracle's closed form (normalized source text) on a
    corpus with dialect-trap characters: \\x0b (Java \\s, not ours),
    NBSP (Python \\s, not ours), supplementary-plane emoji, unfolded
    non-ASCII uppercase, plus NULL/empty/whitespace-only docs."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    sf = _staged_docs(
        spark,
        tmp_path,
        [
            (0, "a", "the the the cat CAT"),
            (1, "a", "x\x0by x\x0by x\x0by"),      # \x0b stays IN-word
            (2, "b", "naïve café"),  # NBSP stays IN-word
            (3, "b", "\U0001f600\U0001f600 ok"),
            (4, "b", "Σω MiXeD"),          # Σ stays upper
            (5, None, "  tab\tsep  "),
            (6, "c", ""),
            (7, "c", None),
            (8, "c", " \t\n\f\r"),
        ],
    )
    q = QUERIES["x43_bpe_detokenize"]
    mine = sorted(
        (r.doc_id, r.source, r.n_ids, r.decoded, r.lossless)
        for r in q.fn(spark, sf).collect()
    )
    want = sorted(
        (
            int(r.doc_id),
            None if r.source is None else r.source,
            int(r.n_ids),
            None if r.decoded is None else r.decoded,
            None if r.lossless is None or r.lossless != r.lossless
            else bool(r.lossless),
        )
        for r in _oracle(q.sql, sf).itertuples()
    )
    assert mine == want
    verdicts = {d: ok for d, _, _, _, ok in mine}
    assert verdicts[7] is None
    assert all(verdicts[d] is True for d in range(7))
    assert verdicts[8] is True


def test_x43_corpus_wide_losslessness_sf0001(spark):
    """The check a pipeline runs before shipping: EVERY document in the
    real testdata corpus round-trips (ids + vocab → normalized source
    text), under the real x42-trained table."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    rows = QUERIES["x43_bpe_detokenize"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r.lossless is (None if r.decoded is None else True), r.doc_id


def test_x43_plan_has_zero_exchanges(spark, tmp_path):
    """Scale shape: the encode→decode chain is two chained row-local
    mapInPandas stages over the scan — nothing shuffles (training's
    vocab-sized aggs run in their own jobs, not in this plan)."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    sf = _staged_docs(spark, tmp_path, [(0, "s", "a b ab")])
    df = QUERIES["x43_bpe_detokenize"].fn(spark, sf)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan
    # formatted explain names each node twice (tree + detail section):
    # two MapInPandas stages -> exactly four mentions
    assert plan.count("MapInPandas") == 4, plan
