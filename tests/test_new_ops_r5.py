"""Behavioral tests for the round-5 operators (segment dedup, multiprobe
LSH, n-gram repetition) on hand-built inputs with hand-computed answers —
the registry's DuckDB parity covers the corpus; these pin the semantics.
"""

from __future__ import annotations

import pytest

from retail_data_pipeline_and_forecasting_system_spark.operators.dedup import (
    segment_dedup,
)
from retail_data_pipeline_and_forecasting_system_spark.operators.similarity import (
    lsh_bucket_topk,
    lsh_multiprobe_topk,
)
from retail_data_pipeline_and_forecasting_system_spark.operators.textstats import (
    ngram_repetition,
)

from conftest import duck_connect


def test_segment_dedup_drops_repeated_segments(spark):
    # 3-word segments; doc 2 repeats doc 1's first segment (boilerplate),
    # doc 1 repeats its own first segment later in the same doc
    docs = spark.createDataFrame(
        [
            (1, "the cookie banner x y z the cookie banner"),
            (2, "the cookie banner fresh words here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in segment_dedup(docs, seg_words=3).collect()
    }
    # doc 1: segs = [the cookie banner][x y z][the cookie banner]
    assert got[1]["n_segs"] == 3
    assert got[1]["n_kept"] == 2  # its own repeat dropped
    assert got[1]["text_dedup"] == "the cookie banner x y z"
    # doc 2: first segment seen in doc 1 -> dropped, rest kept
    assert got[2]["n_segs"] == 2
    assert got[2]["n_kept"] == 1
    assert got[2]["text_dedup"] == "fresh words here"


def test_segment_dedup_all_duplicate_doc_empties(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in segment_dedup(docs, seg_words=3).collect()}
    assert got[2]["n_kept"] == 0
    assert got[2]["text_dedup"] == ""


def test_multiprobe_recovers_single_probe_miss(spark):
    """A neighbor on the far side of exactly ONE hyperplane: invisible
    to the single-probe scan, found by the Hamming-1 probes."""
    # 8 dims = 8 hyperplanes (axis signs). query: all-positive.
    query = [1.0] * 8
    near = [1.0] * 8
    near[0] = -0.1  # flips bit 0 only; cosine to query still ~0.83
    far = [-1.0] * 8  # opposite orthant
    rows = [(1, near), (2, far), (3, [0.9] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    single = {
        r["vec_id"]
        for r in lsh_bucket_topk(emb, query, k=10, n_bits=8).collect()
    }
    multi = {
        r["vec_id"]
        for r in lsh_multiprobe_topk(emb, query, k=10, n_bits=8).collect()
    }
    assert single == {3}  # same-bucket only
    assert multi == {1, 3}  # + the one-flip neighbor; far stays invisible


def test_multiprobe_ranks_by_cosine(spark):
    query = [1.0] * 8
    rows = [
        (1, [1.0, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1]),  # same bucket, off-axis
        (2, [1.0] * 8),  # parallel to the query -> cosine 1.0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = lsh_multiprobe_topk(emb, query, k=2, n_bits=8).collect()
    assert [r["vec_id"] for r in got] == [2, 1]
    assert got[0]["cos_sim"] > got[1]["cos_sim"]


def test_multiprobe_cells_recover_cross_cell_neighbor(spark):
    """The n9 vs n10 recall story at operator level: a query sits just
    inside cluster X's cell while its TRUE nearest neighbor lives in
    cluster Y — single-probe assignment misses it, the 2-probe fan-out
    finds it."""
    from pyspark.sql import functions as F

    from retail_data_pipeline_and_forecasting_system_spark.operators.similarity import (
        assign_cells,
        assign_cells_multiprobe,
        cosine,
        kmeans_lloyd,
    )

    def v(a, b):
        return [float(a), float(b), 0.0, 0.0]

    # corpus: tight cluster X near (1,0), tight cluster Y near (0,1)
    corpus_rows = [
        (10, v(1.0, 0.0)), (11, v(0.98, 0.05)), (12, v(1.02, -0.05)),
        (20, v(0.0, 1.0)), (21, v(0.05, 0.98)), (22, v(-0.05, 1.02)),
    ]
    # query: between the clusters, barely X-side — but its best cosine
    # match is Y's member 23, angled toward the query
    query_rows = [(1, v(0.75, 0.70))]
    corpus_rows.append((23, v(0.72, 0.73)))

    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        query_rows, "vec_id long, embedding array<double>"
    )
    cents = kmeans_lloyd(corpus, k=2, n_iter=3, exact_mean=True)

    def top1(qc):
        cc = assign_cells(corpus, cents).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cvec"),
            "cent_id",
        )
        scored = cc.join(qc, "cent_id").select(
            "neighbor_id", cosine("cvec", "qvec").alias("cos_sim")
        )
        return scored.orderBy(F.desc("cos_sim"), "neighbor_id").head()

    single = top1(
        assign_cells(queries, cents).select(
            F.col("embedding").alias("qvec"), "cent_id"
        )
    )
    multi = top1(
        assign_cells_multiprobe(queries, cents, n_probe=2).select(
            F.col("embedding").alias("qvec"), "cent_id"
        )
    )
    # 23 sits in whichever cluster the fit put it; the point is the
    # 2-probe search must find the GLOBAL best (23), while single-probe
    # is confined to the query's own cell
    assert multi["neighbor_id"] == 23
    assert multi["cos_sim"] >= single["cos_sim"]
    if single["neighbor_id"] == 23:
        # fit landed query and 23 in one cell — strengthen the setup
        # assumption rather than silently passing
        cells = {
            r["vec_id"]: r["cent_id"]
            for r in assign_cells(corpus, cents).collect()
        }
        qcell = assign_cells(queries, cents).head()["cent_id"]
        assert cells[23] == qcell
    else:
        assert single["cos_sim"] < multi["cos_sim"]


def test_ngram_repetition_hand_computed(spark):
    # "buy cheap pills buy cheap pills": bigrams = [buy cheap, cheap
    # pills, pills buy, buy cheap, cheap pills] -> 5 instances, top
    # (buy cheap / cheap pills) = 2/5; dup instances = 4/5.
    # trigrams = [b c p, c p b, p b c, b c p] -> 4, top 2/4, dup 2/4.
    docs = spark.createDataFrame(
        [(1, "buy cheap pills buy cheap pills")], "doc_id long, text string"
    )
    r = ngram_repetition(docs).collect()[0]
    assert r["n_bigrams"] == 5
    assert r["top_bigram_share"] == pytest.approx(2 / 5)
    assert r["dup_bigram_frac"] == pytest.approx(4 / 5)
    assert r["n_trigrams"] == 4
    assert r["top_trigram_share"] == pytest.approx(2 / 4)
    assert r["dup_trigram_frac"] == pytest.approx(2 / 4)


def test_bpe_pair_counts_hand_computed(spark):
    """corpus = 'low low lower': wf = {low: 2, lower: 1}; pairs
    lo (2+1=3), ow (2+1=3), we (1), er (1) -> top by (cnt desc, pair):
    lo, ow, er, we."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.textstats import (
        bpe_pair_counts,
    )

    docs = spark.createDataFrame(
        [(1, "low low lower")], "doc_id long, text string"
    )
    got = [
        (r["rnk"], r["pair"], r["cnt"])
        for r in bpe_pair_counts(docs, top_n=3).collect()
    ]
    assert got == [(1, "lo", 3), (2, "ow", 3), (3, "er", 1)]


def test_segment_dedup_random_corpus_matches_python_oracle(spark):
    """200 random docs from a tiny vocab (dup segments guaranteed):
    Spark's windowed first-occurrence dedup must equal a sequential
    Python sweep keyed by (doc_id, seg_idx)."""
    import numpy as np

    rng = np.random.default_rng(7)
    vocab = ["a", "b", "c", "d"]
    docs = [
        (i, " ".join(rng.choice(vocab, size=int(rng.integers(1, 18)))))
        for i in range(200)
    ]
    seen: set[str] = set()
    oracle = {}
    for doc_id, text in docs:  # doc_id ascending == first-occurrence order
        w = text.split(" ")
        segs = [
            " ".join(w[i : i + 3]) for i in range(0, len(w), 3)
        ]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        oracle[doc_id] = (len(segs), len(kept), " ".join(kept))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_segs"], r["n_kept"], r["text_dedup"])
        for r in segment_dedup(df, seg_words=3).collect()
    }
    assert got == oracle


def test_bpe_pair_counts_random_corpus_matches_python_oracle(spark):
    from collections import Counter

    import numpy as np

    rng = np.random.default_rng(11)
    vocab = ["low", "lower", "newest", "widest", "a", "bb"]
    docs = [
        (i, " ".join(rng.choice(vocab, size=int(rng.integers(1, 30)))))
        for i in range(60)
    ]
    wf: Counter = Counter()
    for _, text in docs:
        for w in text.lower().split():
            if len(w) >= 2:
                wf[w] += 1
    pc: Counter = Counter()
    for w, f in wf.items():
        for i in range(len(w) - 1):
            pc[w[i : i + 2]] += f
    want = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    from retail_data_pipeline_and_forecasting_system_spark.operators.textstats import (
        bpe_pair_counts,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r["pair"], r["cnt"])
        for r in bpe_pair_counts(df, top_n=10).orderBy("rnk").collect()
    ]
    assert got == want


def test_ngram_repetition_no_repeats_and_short_doc(spark):
    docs = spark.createDataFrame(
        [(1, "all words here differ fully"), (2, "two words")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ngram_repetition(docs).collect()}
    assert got[1]["dup_bigram_frac"] == 0.0
    assert got[1]["top_bigram_share"] == pytest.approx(1 / 4)
    # a 2-word doc has one bigram and NO trigrams
    assert got[2]["n_bigrams"] == 1
    assert got[2]["n_trigrams"] is None


def test_segment_dedup_md5_key_identical_output(spark):
    """VERDICT r5 #4: key="md5" (the 100 TB shuffle shape — groupBy-min
    over 16-byte hashes, text re-derived row-local) returns exactly the
    text-keyed window's output on a random dup-heavy corpus."""
    import numpy as np

    rng = np.random.default_rng(17)
    vocab = ["a", "b", "c", "d", "e"]
    docs = [
        (i, " ".join(rng.choice(vocab, size=int(rng.integers(1, 20)))))
        for i in range(300)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def run(key):
        return sorted(
            tuple(r)
            for r in segment_dedup(df, seg_words=3, key=key).collect()
        )

    assert run("md5") == run("text")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown key mode"):
        segment_dedup(df, key="sha9")


def test_x28_sampled_tertile_arm_matches_oracle(spark):
    """VERDICT r5 #5: force the a16 sampled-tertile switch (thresh=1 ->
    every source samples 1-in-8 by md5(doc_id)) and check the Spark
    result against the SAME-threshold DuckDB oracle — the sampled arm
    is exact-checkable too, and it genuinely diverges from the exact
    arm (different tertile inputs), proving it activated."""

    from retail_data_pipeline_and_forecasting_system_spark.functions import (
        sql_md5_fraction,
    )
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        X28_SQL_TMPL,
        x28_perplexity_buckets,
    )

    sf = "/root/testdata/sf0.001"
    mine = (
        x28_perplexity_buckets(spark, sf, thresh=1)
        .toPandas()
        .sort_values(["source", "bucket"])
        .reset_index(drop=True)
    )
    con = duck_connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = (
        con.execute(
            X28_SQL_TMPL.format(thresh=1, draw=sql_md5_fraction("__h", 6))
        )
        .df()
        .sort_values(["source", "bucket"])
        .reset_index(drop=True)
    )
    assert mine.shape == want.shape
    assert (mine["n_docs"].values == want["n_docs"].astype("int64").values).all()
    assert (abs(mine["mean_lp"].values - want["mean_lp"].values) == 0).all()

    exact = (
        x28_perplexity_buckets(spark, sf)
        .toPandas()
        .sort_values(["source", "bucket"])
        .reset_index(drop=True)
    )
    assert not (
        mine["n_docs"].tolist() == exact["n_docs"].tolist()
    ), "sampled arm never diverged — the switch did not activate"


def test_duplicate_spans_hand_computed(spark):
    """x31 semantics on a hand-built corpus: a shared 10-token phrase
    between docs 1 and 2 yields 3 duplicated windows (positions 0..2 of
    the phrase in each doc) merging into one 10-token span; a doc with
    no 8-token window in common flags nothing; a short doc (<8 tokens)
    has zero windows. Within-doc repetition also counts (doc 4 repeats
    its own phrase)."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )
    import os
    import tempfile

    phrase = "a b c d e f g h i j"  # 10 tokens -> 3 windows of 8
    docs = [
        (1, phrase + " tail1 tail2"),
        (2, "lead1 lead2 " + phrase),
        (3, "x y z w v u t s r q p o n m"),  # 14 unique tokens
        (4, "m1 m2 m3 m4 m5 m6 m7 m8 gap m1 m2 m3 m4 m5 m6 m7 m8"),
        (5, "too short doc"),
    ]
    tmp = tempfile.mkdtemp(prefix="x31_")
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    got = {
        r["doc_id"]: (
            r["n_windows"],
            r["n_dup_windows"],
            r["dup_cover_tokens"],
        )
        for r in QUERIES["x31_duplicate_spans"].fn(spark, tmp).collect()
    }
    # docs 1,2: phrase at pos 0 / pos 2; windows of the phrase = 3
    # (positions p, p+1, p+2), merged span = [p, p+2+8) = 10 tokens
    assert got[1] == (5, 3, 10)   # 12 tokens -> 5 windows
    assert got[2] == (5, 3, 10)
    assert got[3] == (7, 0, 0)
    # doc 4: "m1..m8" appears at pos 0 and pos 9 -> both windows of the
    # SAME doc duplicated; each is a single window (8 tokens), spans
    # [0,8) and [9,17) -> 16 covered tokens
    assert got[4] == (10, 2, 16)
    assert got[5] == (0, 0, 0)
