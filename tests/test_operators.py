"""Behavioral unit tests for the LLM-data operators and forecaster on
constructed inputs with known ground truth (the oracle-parity tests prove
cross-engine agreement; these prove the operators find what they should)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.forecast import (
    UnivariateForecaster,
)
from retail_data_pipeline_and_forecasting_system_spark.operators import dedup as D
from retail_data_pipeline_and_forecasting_system_spark.operators import (
    similarity as SIM,
)
from retail_data_pipeline_and_forecasting_system_spark.operators import (
    textstats as TX,
)

from conftest import duck_connect


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    far = "completely different words appear within this other document here now"
    dup = base
    return spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, dup)], "doc_id long, text string"
    )


def test_dedup_exact_finds_duplicate(docs):
    out = {r["keep_id"]: r["n_copies"] for r in D.dedup_exact(docs).collect()}
    assert out[1] == 2  # doc 4 == doc 1, lowest id kept
    assert out[2] == 1 and out[3] == 1


def test_jaccard_pairs_ranks_near_dup(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs, k=3, threshold=0.2).collect()
    }
    assert pairs[(1, 4)] == 1.0  # identical
    assert 0.5 < pairs[(1, 2)] < 1.0  # one word changed
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_from_words_variants_match_text_variants(docs):
    """The pre-tokenized entry points (x7's shared-scan path) must be
    bit-identical to the text-based ones they shortcut."""
    from retail_data_pipeline_and_forecasting_system_spark.functions import (
        tokens,
    )
    from retail_data_pipeline_and_forecasting_system_spark.operators import (
        textstats as TX,
    )

    words = docs.select("doc_id", tokens("text").alias("words"))
    a = sorted(map(tuple, D.jaccard_pairs(docs, k=3, threshold=0.2).collect()))
    b = sorted(
        map(
            tuple,
            D.jaccard_pairs_from_words(words, k=3, threshold=0.2).collect(),
        )
    )
    assert a == b
    sa = sorted(map(tuple, TX.curation_signals(docs).collect()))
    sb = sorted(map(tuple, TX.curation_signals_from_words(words).collect()))
    assert sa == sb


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(docs, threshold=0.2).collect()
    }
    assert (1, 4) in pairs  # identical always collides
    assert (1, 2) in pairs  # near-dup collides in some band
    assert (1, 3) not in pairs


def test_incremental_dedup_verdicts(spark):
    """New-batch-vs-corpus dedup: exact beats near, near needs bucket
    collision + Jaccard, unique matches nothing; corpus x corpus pairs
    are never reported."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    far = "completely different words appear within this other document here now"
    df = spark.createDataFrame(
        [
            (1, base),  # corpus
            (2, far),  # corpus
            (3, base),  # corpus: exact dup of 1 (must NOT be reported)
            (10, base),  # new: exact dup of 1 and 3 -> lowest corpus id 1
            (11, near),  # new: near-dup of 1
            (12, "nothing like any corpus text at all in here friend"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["status"], r["match_id"])
        for r in D.incremental_dedup(
            df, new_pred=F.col("doc_id") >= 10, threshold=0.2
        ).collect()
    }
    assert out[10] == ("exact", 1)
    assert out[11] == ("near", 1)
    assert out[12] == ("unique", None)
    assert set(out) == {10, 11, 12}  # corpus docs never in the output


def test_shingles_short_docs_yield_zero_shingles(spark):
    # Regression: unguarded sequence(1, 0) is the DESCENDING [1, 0] in
    # Spark; word path crashed (slice start 0), char path silently emitted
    # a bogus truncated shingle. Short docs must produce zero shingles,
    # matching the DuckDB oracle's empty range.
    from retail_data_pipeline_and_forecasting_system_spark.functions import (
        char_shingles,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "a b"), (4, "a b c"), (5, "ab")],
        "doc_id long, text string",
    )
    words = word_shingles(df, k=3).collect()
    assert {r["doc_id"] for r in words} == {4}
    assert [r["shingle"] for r in words] == ["a b c"]
    chars = sorted(
        (r["doc_id"], r["shingle"]) for r in char_shingles(df, k=5).collect()
    )
    assert chars == [(4, "a b c")]


def test_dedup_pairs_tolerate_short_docs(spark):
    # End-to-end: a corpus containing sub-k docs must not crash the pair
    # generators, and short docs simply never pair.
    df = spark.createDataFrame(
        [
            (1, "x"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "the quick brown fox jumps over the lazy cat today"),
        ],
        "doc_id long, text string",
    )
    jp = {(r["doc_a"], r["doc_b"]) for r in D.jaccard_pairs(df, k=3, threshold=0.2).collect()}
    assert jp == {(2, 3)}
    mh = {(r["doc_a"], r["doc_b"]) for r in D.minhash_lsh_pairs(df, threshold=0.2).collect()}
    assert mh == {(2, 3)}


def test_simhash_distance_orders_similarity(docs):
    sims = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, bits=16).collect()}
    assert sims[1] == sims[4]
    ham = lambda a, b: bin(sims[a] ^ sims[b]).count("1")
    assert ham(1, 2) < ham(1, 3)


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = SIM.cosine_topk(
        emb.filter(F.col("vec_id") != 0), [1.0, 0.0, 0.0], k=2
    ).collect()
    assert [r["vec_id"] for r in got] == [1, 2]
    assert got[0]["cos_sim"] == pytest.approx(0.9 / np.sqrt(0.82), rel=1e-6)


def test_language_scores_pred(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog is in it"),
            (2, "der hund ist ein tier und das ist gut mit der zeit"),
            (3, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in TX.language_scores(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "und"


def test_forecaster_deterministic_and_seasonal():
    # linear trend + weekly pattern, 4 weeks of data
    t = np.arange(28, dtype=float)
    weekly = np.tile([0, 5, -3, 2, 0, -4, 1], 4)
    y = 100 + 2 * t + weekly
    m = UnivariateForecaster()
    m.fit(y)
    pred = m.predict(7)
    # next week continues trend + weekly offsets (small OLS bias allowed:
    # the weekly pattern is not orthogonal to the trend within a week)
    expect = 100 + 2 * np.arange(28, 35) + weekly[:7]
    assert np.allclose(pred, expect, atol=1.0)
    # the *shape* of the weekly pattern must be recovered exactly
    assert np.allclose(np.diff(pred), np.diff(expect), atol=1e-6)
    metrics = m.get_metrics()
    assert metrics["mae"] < 1.0
    assert metrics["model_type"] == "ols_seasonal"
    # refitting produces identical results (determinism)
    m2 = UnivariateForecaster()
    m2.fit(y)
    assert np.allclose(m2.predict(7), pred)


def test_forecaster_short_series_no_seasonality():
    y = np.array([10.0, 12.0, 14.0, 16.0])
    m = UnivariateForecaster()
    m.fit(y)
    assert m.predict(1)[0] == pytest.approx(18.0, abs=1e-9)


def test_chunker_edge_cases_match_python(spark):
    """x10's chunk expansion vs a literal python oracle, incl. texts
    shorter than one window and exactly at stride boundaries."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )
    import tempfile, os

    texts = ["", "a", "x" * 150, "y" * 151, "z" * 200, "w" * 350, "v" * 500]
    rows = [(i, t, "en", "t", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = sorted(
            (r["doc_id"], r["chunk_start"], r["chunk"])
            for r in QUERIES["x10_chunk_documents"].fn(spark, d).collect()
        )
    want = sorted(
        (i, pos, t[pos - 1 : pos - 1 + 200])
        for i, t in enumerate(texts)
        for pos in range(1, max(len(t), 1) + 1, 150)
    )
    assert got == want


def test_repetition_signals_known_counts(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w"), (3, "q q q q")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.repetition_signals(df).collect()}
    assert out[1]["n_words"] == 4
    assert out[1]["dup_word_frac"] == pytest.approx(0.5)  # 2 of 4 repeat
    assert out[1]["top_word_share"] == pytest.approx(0.75)
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["top_word_share"] == pytest.approx(0.25)
    assert out[3]["dup_word_frac"] == pytest.approx(0.75)
    assert out[3]["top_word_share"] == 1.0


def test_hyperplane_lsh_finds_planted_neardup(spark):
    # a vector, a tiny perturbation of it, and orthogonal noise: the
    # perturbed pair must collide in a band and survive the verify
    rng = np.random.RandomState(7)
    base = rng.randn(64)
    near = base + 0.01 * rng.randn(64)
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near])]
    for i in range(2, 12):
        rows.append((i, [float(x) for x in rng.randn(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in SIM.hyperplane_lsh_pairs(emb, threshold=0.9).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99


def test_bloom_filter_has_no_false_negatives(spark):
    from retail_data_pipeline_and_forecasting_system_spark.operators.sketch import (
        bloom_build,
        bloom_member,
    )

    keys = spark.createDataFrame(
        [(k,) for k in range(0, 400, 7)], "k long"
    )
    flt = bloom_build(keys, "k", m_bits=256, n_hashes=3)
    probe = spark.createDataFrame([(k,) for k in range(400)], "k long")
    verdicts = (
        probe.select("k", F.md5(F.col("k").cast("string")).alias("__h"))
        .join(F.broadcast(flt))
        .withColumn("hit", bloom_member("__h", "bloom_bits", m_bits=256, n_hashes=3))
        .collect()
    )
    members = {r["k"] for r in verdicts if r["hit"]}
    # every built key MUST be reported present (no false negatives)...
    assert set(range(0, 400, 7)) <= members
    # ...and a 256-bit filter over 58 keys is far from saturated, so at
    # least some non-members must be rejected (sanity, not exact-rate)
    assert len(members) < 400


def test_count_min_never_underestimates(spark):
    from retail_data_pipeline_and_forecasting_system_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    # width=4 forces heavy collisions: estimates may exceed but must
    # NEVER undercount the true frequency (the CMS contract)
    rows = [(k,) for k in range(20) for _ in range(k + 1)]
    keys = spark.createDataFrame(rows, "k long")
    cms = cms_build(keys, "k", width=4, depth=3)
    exact = keys.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
    est = {
        r["k"]: (r["est_count"], r["exact"])
        for r in cms_estimate(exact, cms, "k", width=4, depth=3).collect()
    }
    assert len(est) == 20
    assert all(e >= x for e, x in est.values())
    # total cell mass per lane equals the input size
    per_lane = {r["lane"]: 0 for r in cms.collect()}
    for r in cms.collect():
        per_lane[r["lane"]] += r["cnt"]
    assert set(per_lane.values()) == {len(rows)}


def test_containment_catches_quote_that_jaccard_misses(spark):
    """A short doc quoted inside a long one: containment ~1.0 for the
    short->long direction, while Jaccard stays below any dedup cut."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"tok{i} mid{i} end{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, long)], ["doc_id", "text"]
    )
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_pairs(docs, k=3, threshold=0.6).collect()
    }
    # every shingle of the short doc appears in the long doc
    assert cont[(1, 2)] == 1.0
    # the reverse direction is far below threshold -> absent
    assert (2, 1) not in cont
    # symmetric Jaccard misses this pair entirely at the same cut
    assert jaccard_pairs(docs, k=3, threshold=0.6).count() == 0


def test_max_df_cap_binds_and_matches_oracle(spark):
    """Hot-shingle document-frequency cap (d2/d10): a boilerplate shingle
    shared by more docs than max_df is dropped from intersection AND sizes
    on BOTH engines. The sf* parity runs never exercise the cap (max df 25
    at sf0.1 < 50), so this synthetic corpus is the binding-case proof:
    Spark's capped output must equal the capped DuckDB oracle exactly, and
    pairs whose only overlap is the hot shingle must vanish."""
    import pandas as pd

    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        _sql_jaccard_pairs,
    )

    # "a b c" in 4 docs (df=4 > max_df=2 -> dropped); docs 5/6 identical
    # with all-rare shingles (df=2 -> kept).
    rows = [(i, f"a b c t{i} u{i}") for i in range(1, 5)]
    rows += [(5, "p q r s t"), (6, "p q r s t")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_pairs(docs, k=3, threshold=0.1, max_df=2).collect()
    }
    assert capped == {(5, 6): 1.0}  # hot-only pairs among 1..4 are gone
    uncapped = D.jaccard_pairs(docs, k=3, threshold=0.1, max_df=None)
    assert uncapped.count() == 7  # 6 hot-shingle pairs + (5, 6)

    con = duck_connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    oracle = {
        (a, b): j
        for a, b, j in con.execute(
            _sql_jaccard_pairs("0.1", max_df=2)
        ).fetchall()
    }
    assert oracle == capped

    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in D.containment_pairs(
            docs, k=3, threshold=0.1, max_df=2
        ).collect()
    }
    assert cont == {(5, 6): 1.0, (6, 5): 1.0}


def _py_capped_jaccard(rows, k, max_df, thr):
    """Brute-force capped-Jaccard ground truth in plain Python."""
    sets = {
        i: {
            " ".join(ws[j : j + k])
            for j in range(len(ws) - k + 1)
        }
        for i, t in rows
        for ws in [t.split(" ")]
    }
    df = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    rare = {i: {sh for sh in s if df[sh] <= max_df} for i, s in sets.items()}
    out = {}
    ids = sorted(rare)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(rare[a] & rare[b])
            union = len(rare[a]) + len(rare[b]) - inter
            if union and inter / union >= thr:
                out[(a, b)] = inter / union
    return out


def test_capped_jaccard_matches_bruteforce_on_random_corpora(spark):
    """Randomized cross-check of the distributed capped-Jaccard against a
    brute-force Python oracle: small vocab forces heavy shingle sharing,
    so the max_df cap binds on some shingles and not others."""
    import random

    for seed in (7, 23, 101):
        rng = random.Random(seed)
        vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 9))))
            for i in range(14)
        ]
        want = _py_capped_jaccard(rows, k=3, max_df=3, thr=0.3)
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in D.jaccard_pairs(
                spark.createDataFrame(rows, "doc_id long, text string"),
                k=3,
                threshold=0.3,
                max_df=3,
            ).collect()
        }
        assert set(got) == set(want), f"seed {seed}: pair sets differ"
        for pair in got:
            assert got[pair] == pytest.approx(want[pair], rel=1e-12), (
                seed,
                pair,
            )


def test_temperature_mixture_upsamples_small_sources(spark):
    import __spark_entry__ as e

    rows = e.queries()["smp5_temperature_mixture"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    total_w = sum(r["temp_weight"] for r in rows)
    assert abs(total_w - 1.0) < 1e-4  # normalized distribution
    smallest = min(rows, key=lambda r: r["n_tokens"])
    largest = max(rows, key=lambda r: r["n_tokens"])
    # alpha<1 compresses the range: small sources boosted, large damped
    assert smallest["boost"] > 1.0 > largest["boost"]
    assert smallest["temp_weight"] < largest["temp_weight"]  # order kept


def test_bigram_lm_prefers_natural_order(spark):
    """Repetitive natural-order docs outscore a scrambled doc with the
    SAME unigram distribution — the signal x17 (unigram) cannot see."""
    import __spark_entry__ as e
    import tempfile, os

    base = "the cat sat on the mat " * 10
    scrambled = "the the cat mat sat the on cat the sat mat on " * 5
    docs = [(i, base.strip(), "en", "src0", len(base)) for i in range(9)]
    docs.append((9, scrambled.strip(), "en", "src0", len(scrambled)))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            docs, ["doc_id", "text", "lang", "source", "n_chars"]
        ).write.parquet(os.path.join(d, "documents.parquet"))
        rows = {
            r["doc_id"]: r["avg_logprob"]
            for r in e.queries()["x19_bigram_lm"](spark, d).collect()
        }
    natural, odd = rows[0], rows[9]
    assert natural > odd


def test_bloom_prefilter_is_selective_and_lossless(spark):
    """The Bloom pre-filter pass discards most fact rows map-side (rate
    bounded by build selectivity + fpr) and never drops a true match."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.sketch import (
        bloom_build,
        bloom_member,
    )

    sfd = "/root/testdata/sf0.001"
    part = spark.read.parquet(f"{sfd}/part.parquet").filter(
        F.col("p_size") == 1
    )
    li = spark.read.parquet(f"{sfd}/lineitem.parquet")
    blm = bloom_build(part.select("p_partkey"), "p_partkey")
    pre = (
        li.withColumn("__h", F.md5(F.col("l_partkey").cast("string")))
        .join(F.broadcast(blm))
        .filter(bloom_member("__h", "bloom_bits"))
    )
    n_all, n_pre = li.count(), pre.count()
    n_true = li.join(part, li["l_partkey"] == part["p_partkey"]).count()
    assert n_true <= n_pre <= n_all  # no false negatives
    assert n_pre < 0.2 * n_all  # genuinely selective at ~2% build side


_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def test_incremental_dedup_soundness_properties(spark):
    """Property test (hypothesis) for incremental_dedup verdicts against
    a pure-Python checker: exact verdicts are truly byte-equal with the
    LOWEST matching corpus id; near verdicts have true shingle Jaccard
    >= threshold and no byte-equal corpus twin; unique verdicts have no
    byte-equal twin. (Near-miss recall is probabilistic by design —
    LSH — so 'unique despite high Jaccard' is NOT asserted.)"""
    from hypothesis import given, settings, strategies as st

    doc_strategy = st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=10).map(
            " ".join
        ),
        min_size=4,
        max_size=10,
    )

    def shingles(text, k=3):
        toks = text.split(" ")
        return {
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        } if len(toks) >= k else set()

    @settings(max_examples=8, deadline=None)
    @given(texts=doc_strategy, n_corpus=st.integers(2, 5))
    def run(texts, n_corpus):
        n_corpus = min(n_corpus, len(texts) - 1)
        rows = list(enumerate(texts))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: (r["status"], r["match_id"])
            for r in D.incremental_dedup(
                df, new_pred=F.col("doc_id") >= n_corpus, threshold=0.5
            ).collect()
        }
        corpus = dict(rows[:n_corpus])
        for doc_id, text in rows[n_corpus:]:
            status, match = out[doc_id]
            exact_ids = [i for i, t in corpus.items() if t == text]
            if status == "exact":
                assert exact_ids and match == min(exact_ids)
            elif status == "near":
                assert not exact_ids  # exact would have won
                a, b = shingles(text), shingles(corpus[match])
                assert a and b
                j = len(a & b) / len(a | b)
                assert j >= 0.5
            else:
                assert status == "unique" and match is None
                assert not exact_ids

    run()


def test_grouping_id_separates_subtotals_from_null_data(spark):
    """The a17 pattern on data with a GENUINE null group value: gid
    distinguishes the subtotal row (gid has the bit set) from the row
    aggregating real NULL values (gid 0)."""
    df = spark.createDataFrame(
        [("east", 1), (None, 2), ("east", 3), (None, 4)],
        "region string, v int",
    )
    rows = {
        (r["region"], r["gid"]): r["n"]
        for r in df.rollup("region")
        .agg(
            F.grouping("region").cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .collect()
    }
    assert rows[("east", 0)] == 2   # real group
    assert rows[(None, 0)] == 2     # GENUINE null region: gid 0
    assert rows[(None, 1)] == 4     # grand total: same NULL, gid 1
