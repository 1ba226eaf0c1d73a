"""Round-9 fixes: truncated-PNG-chunk quarantine (ADVICE r8 medium),
dhash_neardup_pairs enforced max_bucket hot-key cap (VERDICT r8 #4)
and the band-width grid guard (ADVICE r8 low). Hand-built corpora
independent of the DuckDB oracles (the done-bundle's second leg)."""

from __future__ import annotations

import pytest

from retail_data_pipeline_and_forecasting_system_spark.operators.imagecodec import (
    append_text_chunks,
    encode_png,
    read_text_chunks,
)
from retail_data_pipeline_and_forecasting_system_spark.operators.multimodal import (
    dhash_neardup_pairs,
    extract_png_metadata,
)

from conftest import duck_connect


def _png(w, h, c, px, filt=0):
    return bytearray(encode_png(w, h, c, bytes(px), filter_type=filt))


def test_read_text_chunks_truncated_mid_crc_raises_valueerror():
    """A PNG cut mid-CRC (body complete, CRC field short) must raise
    ValueError like every other corruption — before the round-9 fix it
    escaped as struct.error and job-killed the quarantine path."""
    png = bytes(
        append_text_chunks(bytes(_png(2, 2, 1, [1, 2, 3, 4])), [("k", "v")])
    )
    # IEND is the last 12 bytes (len+type+crc); cutting 2 bytes off the
    # tail leaves IEND's body (empty) intact but its CRC short.
    for cut in (1, 2, 3, 4):
        with pytest.raises(ValueError, match="truncated chunk"):
            read_text_chunks(png[:-cut])


def test_extract_png_metadata_quarantines_truncated_mid_crc(spark):
    """The Spark chain must quarantine (NULL key/value row), not fail
    the task, when a payload is truncated mid-CRC (reproduced ADVICE
    case: struct.error escaping the except ValueError path)."""
    good = bytes(
        append_text_chunks(
            bytes(_png(2, 2, 1, [9, 9, 9, 9])), [("title", "ok")]
        )
    )
    rows = [(1, bytearray(good)), (2, bytearray(good[:-3]))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = sorted(
        (r["doc_id"], r["meta_key"], r["meta_value"])
        for r in extract_png_metadata(df).collect()
    )
    assert got == [(1, "title", "ok"), (2, None, None)]
    with pytest.raises(Exception, match="truncated chunk"):
        extract_png_metadata(df, strict=True).collect()


def _hashed(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, dhash_hi long, dhash_lo long"
    )


def _py_capped_pairs(rows, max_hamming, max_bucket):
    """Independent pure-Python statement of the capped semantics: a
    pair within max_hamming is emitted iff it agrees in >= 1 band
    whose bucket holds <= max_bucket rows (whole-bucket drop)."""
    bands = {
        doc: (hi & 0xFFFF, hi >> 16, lo & 0xFFFF, lo >> 16)
        for doc, hi, lo in rows
    }
    from collections import Counter

    bn = Counter((k, b[k]) for b in bands.values() for k in range(4))
    out = set()
    full = {doc: (hi, lo) for doc, hi, lo in rows}
    for a in full:
        for b in full:
            if a >= b:
                continue
            ham = bin(full[a][0] ^ full[b][0]).count("1") + bin(
                full[a][1] ^ full[b][1]
            ).count("1")
            if ham > max_hamming:
                continue
            shared_cool = any(
                bands[a][k] == bands[b][k]
                and (max_bucket is None or bn[(k, bands[a][k])] <= max_bucket)
                for k in range(4)
            )
            if shared_cool:
                out.add((a, b, ham))
    return out


def test_dhash_max_bucket_drops_hot_buckets_whole(spark):
    """Degenerate band staged on purpose: six docs share dhash_hi=0, so
    band buckets (0,0) and (1,0) hold 6 rows — hot at max_bucket=3.
    Pairs whose ONLY agreement is those buckets must drop WHOLE; pairs
    also agreeing in a cool lo-band bucket must survive."""
    rows = [
        (1, 0, (1 << 16) * 1 + 0),
        (2, 0, (1 << 16) * 1 + 1),
        (3, 0, (1 << 16) * 2 + 0),
        (4, 0, (1 << 16) * 4 + 8),
        (5, 0, (1 << 16) * 5 + 9),
        (6, 0, (1 << 16) * 15 + 51),
    ]
    hashed = _hashed(spark, rows)
    uncapped = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dhash_neardup_pairs(hashed, max_hamming=3).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dhash_neardup_pairs(
            hashed, max_hamming=3, max_bucket=3
        ).collect()
    }
    # kept: (1,2) share band3 bucket value 1 (2 rows, cool); (1,3)
    # share band2 bucket value 0 (2 rows, cool). dropped: (4,5) et al.
    # agree ONLY in the hot hi-band buckets.
    assert capped == {(1, 2, 1), (1, 3, 2)}
    assert (4, 5, 2) in uncapped and (4, 5, 2) not in capped
    assert capped < uncapped
    assert uncapped == _py_capped_pairs(rows, 3, None)
    assert capped == _py_capped_pairs(rows, 3, 3)


@pytest.mark.parametrize("seed", [11, 307])
def test_dhash_max_bucket_randomized_differential(spark, seed):
    """Seeded random hash corpus with engineered band collisions vs the
    independent Python capped semantics — boundary (== cap) and
    multi-band-agreement cases the hand corpus misses."""
    import random

    rng = random.Random(seed)
    rows = [
        (
            doc,
            (rng.choice([0, 1, 5]) << 16) | rng.choice([0, 2, 7]),
            (rng.choice([0, 3]) << 16) | rng.choice([0, 1, 4, 9]),
        )
        for doc in range(60)
    ]
    hashed = _hashed(spark, rows)
    for cap in (5, 20, None):
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dhash_neardup_pairs(
                hashed, max_hamming=3, max_bucket=cap
            ).collect()
        }
        assert got == _py_capped_pairs(rows, 3, cap), f"cap={cap}"


def test_dhash_grid_guard_rejects_non_32bit_halves(spark):
    """Non-default perceptual_hash grids whose halves are not exactly
    32 bits must raise loudly (pre-fix: silent recall loss); 32-bit-
    half grids (5x16, 17x4) remain accepted."""
    hashed = _hashed(spark, [(1, 0, 0)])
    for gw, gh in ((9, 6), (8, 8), (33, 8), (9, 16)):
        with pytest.raises(ValueError, match="incompatible"):
            dhash_neardup_pairs(hashed, grid_w=gw, grid_h=gh)
    for gw, gh in ((9, 8), (5, 16), (17, 4)):
        assert dhash_neardup_pairs(hashed, grid_w=gw, grid_h=gh) is not None


def test_line_total_cents_matches_decimal_twin(spark):
    """a1's fixed-point cents rewrite vs the original decimal
    expression on adversarial money values: .5-cent HALF_UP
    boundaries, negative totals (discount > 1), NULLs, zero — the
    cents sum must equal the decimal sum exactly."""
    from pyspark.sql import functions as F

    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        _line_total_cents,
        dec,
    )

    rows = [
        (1.005, 0.0),     # cast-to-dec(18,2) boundary on the price
        (2.0, 0.5),       # exact half dollar
        (0.01, 0.5),      # 0.005 -> HALF_UP to 0.01
        (0.01, 0.25),     # 0.0075 -> 0.01
        (0.03, 0.25),     # 0.0225 -> 0.02
        (5.0, 1.5),       # negative total: -2.50
        (0.01, 1.5),      # -0.005 -> HALF_UP away from zero: -0.01
        (0.03, 1.25),     # -0.0075 -> -0.01
        (None, 0.1),      # NULL price
        (4.0, None),      # NULL discount
        (0.0, 0.3),       # zero
        (99999999.99, 0.33),
    ]
    df = spark.createDataFrame(
        rows, "l_extendedprice double, l_discount double"
    )
    decimal_twin = F.round(
        dec("l_extendedprice") * (F.lit(1) - dec("l_discount")), 2
    ).cast("decimal(18,2)")
    got = df.select(
        _line_total_cents("l_extendedprice", "l_discount").alias("cents"),
        (decimal_twin * 100).cast("bigint").alias("want"),
    ).collect()
    for r in got:
        assert r["cents"] == r["want"], (r["cents"], r["want"])
    # and the aggregate forms agree (sum of cents / 100 vs decimal sum)
    agg = df.agg(
        (F.sum(_line_total_cents("l_extendedprice", "l_discount"))
         .cast("double") / 100).alias("a"),
        F.sum(decimal_twin).cast("double").alias("b"),
    ).collect()[0]
    assert agg["a"] == agg["b"]


def test_a1_plan_shape_long_partials_and_broadcast(spark):
    """a1's 100 TB posture, post-cents-rewrite: ONE hash exchange, a
    map-side partial sum over BIGINT cents (not decimal) below it, and
    the orders side broadcast — nothing between scan and two-phase agg."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    df = QUERIES["a1_orders_rollup"].fn(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan
    # the partial agg buffer is a long: no decimal sum function remains
    assert "sum(cast(round" not in plan


# ---------------------------------------------------------------- BPE encode


def _enc_independent(word, merges):
    """Independent restatement of the encode spec for the differential:
    build the candidate list fresh each step with min() over enumerate
    (different code shape from operators/bpe.py encode_word)."""
    ranks = {}
    for l, r, k in merges:
        ranks.setdefault((l, r), k)
        ranks[(l, r)] = min(ranks[(l, r)], k)
    syms = list(word)
    while True:
        cands = [
            (ranks[(a, b)], i)
            for i, (a, b) in enumerate(zip(syms, syms[1:]))
            if (a, b) in ranks
        ]
        if not cands:
            return syms
        _, i = min(cands)
        syms = syms[:i] + [syms[i] + syms[i + 1]] + syms[i + 2 :]


def test_bpe_encode_word_hand_values():
    """Greedy lowest-rank-leftmost by hand: rank precedence over
    position, leftmost on equal rank (same pair twice), cascade onto a
    just-merged symbol, and the no-merge fall-through."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.bpe import (
        encode_word,
    )

    ranks = {("a", "b"): 1, ("b", "c"): 2, ("ab", "c"): 3, ("x", "y"): 4}
    # rank wins over position ("bc" at pos 1 loses to "ab" at pos 2),
    # then the cascade merge ("ab","c") fires on the created symbol
    assert encode_word("babc", ranks) == ["b", "abc"]
    assert encode_word("abc", ranks) == ["abc"]
    # leftmost on equal rank: both "ab"s rank 1 -> left one first; the
    # cascade then eats the c after the FIRST ab
    assert encode_word("abcab", ranks) == ["abc", "ab"]
    # overlapping occurrences: "aab" -> only one "ab" (positions overlap)
    assert encode_word("aab", ranks) == ["a", "ab"]
    # no applicable merge
    assert encode_word("zzz", ranks) == ["z", "z", "z"]
    # single char and empty
    assert encode_word("q", ranks) == ["q"]
    assert encode_word("", ranks) == []


def test_bpe_token_ids_scheme():
    from retail_data_pipeline_and_forecasting_system_spark.operators.bpe import (
        MERGED_ID_BASE,
        token_ids,
    )

    assert token_ids(["a", "ab"], {"ab": 3}) == [97, MERGED_ID_BASE + 3]


def test_bpe_encode_stats_and_tokens_hand_corpus(spark):
    """Tiny staged corpus with hand-computed totals; empty text and a
    doc with no in-table pairs emit honest zeros/char-ids."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.bpe import (
        MERGED_ID_BASE,
        bpe_encode_stats,
        bpe_encode_tokens,
    )

    merges = [("t", "h", 1), ("h", "e", 2), ("th", "e", 3)]
    rows = [
        (1, "s0", "the the zz"),   # "the" -> ["the"]; "zz" -> z z
        (2, "s0", "he  he"),       # multi-space split; "he" -> ["he"]
        (3, "s1", ""),             # empty -> zeros
        (4, "s1", "TH E"),         # lowercased: "th" -> ["th"], "e"
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["n_merged"], r["id_sum"])
        for r in bpe_encode_stats(df, merges).collect()
    }
    B = MERGED_ID_BASE
    assert got[1] == ("s0", 4, 2, 2 * (B + 3) + 2 * ord("z"))
    assert got[2] == ("s0", 2, 2, 2 * (B + 2))
    assert got[3] == ("s1", 0, 0, 0)
    assert got[4] == ("s1", 2, 1, (B + 1) + ord("e"))

    toks = [
        (r["doc_id"], r["pos"], r["token"], r["token_id"])
        for r in bpe_encode_tokens(df, merges)
        .orderBy("doc_id", "pos")
        .collect()
    ]
    assert toks == [
        (1, 0, "the", B + 3), (1, 1, "the", B + 3),
        (1, 2, "z", ord("z")), (1, 3, "z", ord("z")),
        (2, 0, "he", B + 2), (2, 1, "he", B + 2),
        (4, 0, "th", B + 1), (4, 1, "e", ord("e")),
    ]


@pytest.mark.parametrize("seed", [5, 1729])
def test_bpe_encode_randomized_differential(spark, seed):
    """Seeded random corpus over a tiny alphabet (dense pair overlaps,
    cascades onto merged symbols) + random multi-level merge table vs
    an independent restatement of the spec."""
    import random

    from retail_data_pipeline_and_forecasting_system_spark.operators.bpe import (
        MERGED_ID_BASE,
        bpe_encode_tokens,
    )

    rng = random.Random(seed)
    alpha = "abc"
    base = ["".join(p) for p in zip(alpha, alpha[1:] + alpha[0])]
    merges = []
    rank = 1
    syms_pool = list(alpha)
    for _ in range(6):
        l = rng.choice(syms_pool)
        r = rng.choice(syms_pool)
        merges.append((l, r, rank))
        syms_pool.append(l + r)  # later merges may involve merged syms
        rank += 1
    docs = []
    for doc_id in range(40):
        words = [
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
            for _ in range(rng.randint(1, 6))
        ]
        docs.append((doc_id, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in bpe_encode_tokens(df, merges).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["pos"], r["token"], r["token_id"])
        )
    tok_ranks = {}
    for l, r, k in merges:
        tok_ranks[l + r] = min(tok_ranks.get(l + r, k), k)
    for doc_id, text in docs:
        want, pos = [], 0
        for w in text.split(" "):
            for s in _enc_independent(w, merges):
                tid = ord(s) if len(s) == 1 else MERGED_ID_BASE + tok_ranks[s]
                want.append((pos, s, tid))
                pos += 1
        assert sorted(got.get(doc_id, [])) == want, doc_id


def test_x35_plan_zero_shuffle_and_x36_oracle_feed(spark):
    """x35's returned frame is scan -> MapInPandas with ZERO exchanges
    (the merge table rides the closure); x36 packs those counts with
    the same greedy rule as the pure-Python pack oracle."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.packing import (
        pack_oracle,
    )
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    sf = "/root/testdata/sf0.001"
    df = QUERIES["x35_bpe_encode"].fn(spark, sf)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" in plan
    assert "Arguments: hashpartitioning" not in plan
    assert "Exchange" not in plan

    stats = {
        (r["source"], r["doc_id"]): r["n_tokens"] for r in df.collect()
    }
    packed = QUERIES["x36_bpe_sequence_pack"].fn(spark, sf).collect()
    by_src: dict[str, list] = {}
    for r in sorted(packed, key=lambda r: (r["source"], r["doc_id"])):
        by_src.setdefault(r["source"], []).append(r)
    for src, rows in by_src.items():
        toks = [r["n_tokens"] for r in rows]
        assert toks == [stats[(src, r["doc_id"])] for r in rows]
        want = pack_oracle(toks, 1024)
        assert [r["seq_id"] for r in rows] == want, src


def test_bpe_encode_runs_under_structured_streaming(spark, tmp_path):
    """bpe_encode_stats is stateless mapInPandas with the merge table
    in the closure, so it must run UNCHANGED on a streaming DataFrame —
    readStream over the same docs yields exactly the batch stats (the
    codec-family streaming claim extended to the tokenizer stage)."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.bpe import (
        bpe_encode_stats,
    )

    merges = [("t", "h", 1), ("h", "e", 2), ("th", "e", 3), ("a", "n", 4)]
    rows = [
        (i, f"s{i % 3}", " ".join(["the", "an", "than", "x"][: 1 + i % 4]))
        for i in range(30)
    ]
    in_dir = tmp_path / "in"
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(str(in_dir))

    batch = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["n_merged"], r["id_sum"])
        for r in bpe_encode_stats(
            spark.read.parquet(str(in_dir)), merges
        ).collect()
    }

    stream = spark.readStream.schema(
        "doc_id long, source string, text string"
    ).parquet(str(in_dir))
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        bpe_encode_stats(stream, merges)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    streamed = {
        r["doc_id"]: (r["source"], r["n_tokens"], r["n_merged"], r["id_sum"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == batch and len(batch) == 30


def test_x39_compression_counts_nonspace_chars(spark):
    """chars_per_token's numerator is NON-WHITESPACE chars of the
    lowercased text (the tokenizer's actual input mass): tabs/newlines/
    runs of spaces contribute nothing; ratio = chars/tokens exactly."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    # reuse the registered query on the real sf0.001 corpus, then check
    # the definition on one source independently
    sf = "/root/testdata/sf0.001"
    rows = {r["source"]: r for r in QUERIES["x39_bpe_compression"].fn(
        spark, sf).collect()}

    con = duck_connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    chars = dict(con.execute(
        "SELECT source, SUM(length(regexp_replace(text, "
        "'[ \\t\\n\\f\\r]+', '', 'g'))) FROM documents GROUP BY 1"
    ).fetchall())
    assert rows and set(rows) == set(chars)
    for src, r in rows.items():
        assert r["n_chars"] == chars[src]
        assert r["chars_per_token"] == r["n_chars"] / r["n_tokens"]
        # sanity: merges compress, so strictly more than 1 char/token
        assert r["chars_per_token"] > 1.0


def test_x40_packing_efficiency_matches_hand_fold(spark):
    """Waste accounting by hand from x36's own output: per-source
    sequence fills re-folded in pure Python (pack_oracle), then the
    registered aggregates recomputed independently."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    sf = "/root/testdata/sf0.001"
    packed = sorted(
        (
            (r["source"], r["doc_id"], r["n_tokens"], r["seq_id"])
            for r in QUERIES["x36_bpe_sequence_pack"].fn(spark, sf).collect()
        ),
    )
    got = {r["source"]: r for r in QUERIES["x40_packing_efficiency"].fn(
        spark, sf).collect()}
    per_src: dict[str, dict[int, int]] = {}
    docs_per_src: dict[str, int] = {}
    for src, _doc, n, seq in packed:
        per_src.setdefault(src, {}).setdefault(seq, 0)
        per_src[src][seq] += n
        docs_per_src[src] = docs_per_src.get(src, 0) + 1
    assert set(got) == set(per_src)
    for src, fills in per_src.items():
        r = got[src]
        n_seqs, total = len(fills), sum(fills.values())
        assert r["n_seqs"] == n_seqs
        assert r["n_docs"] == docs_per_src[src]
        assert r["total_tokens"] == total
        assert r["mean_fill"] == total / n_seqs
        assert r["waste_frac"] == (n_seqs * 1024 - total) / (n_seqs * 1024)
        # every fill respects the budget unless a single doc overflows
        for seq, fill in fills.items():
            docs_in_seq = [n for s, _d, n, q in packed
                           if s == src and q == seq]
            assert fill <= 1024 or len(docs_in_seq) == 1


def _staged_docs(spark, tmp_path, rows):
    """Write a documents.parquet a registered fn can read via sf_dir."""
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


def test_zero_token_source_yields_null_ratios_not_crash(spark, tmp_path):
    """Review finding (reproduced DIVIDE_BY_ZERO): a source whose docs
    all encode to zero tokens must produce NULL weight/ratio in BOTH
    engines — never an ANSI task kill."""
    import math

    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    sf = _staged_docs(
        spark,
        tmp_path,
        [(1, "live", "the cat"), (2, "live", "dog"),
         (3, "hollow", ""), (4, "hollow", "   ")],
    )
    for name, ratio_col in (
        ("x37_bpe_mixture_weights", "weight"),
        ("x39_bpe_compression", "chars_per_token"),
    ):
        mine = {
            r["source"]: r[ratio_col]
            for r in QUERIES[name].fn(spark, sf).collect()
        }
        want = {}
        for r in _oracle(QUERIES[name].sql, sf).itertuples():
            v = getattr(r, ratio_col)
            if v is None or (isinstance(v, float) and math.isnan(v)):
                v = None
            want[r.source] = v
        assert mine["hollow"] is None, name
        assert want["hollow"] is None, name
        assert mine["live"] == want["live"], name


def test_x36_packs_null_source_group_like_oracle(spark, tmp_path):
    """Review finding: the walk join must be null-safe — multiple
    NULL-source docs pack as ONE group in both engines (pre-fix the
    oracle silently dropped all but the first)."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    # doc 0: OVERLONG first doc of the NULL group (1025 one-char words
    # > capacity 1024). Round-9 ADVICE: with a None start sentinel the
    # kernel's first row skipped the group-reset branch and opened the
    # NULL group at seq_id 1; the oracle anchors rn=1 at 0. The unique
    # _UNSET sentinel makes the first row always reset.
    sf = _staged_docs(
        spark,
        tmp_path,
        [(0, None, " ".join(["z"] * 1025)),
         (1, None, "a b c"), (2, None, "d e"), (3, None, "f"),
         (4, "s", "g h")],
    )
    mine = sorted(
        (r["doc_id"], r["source"], r["n_tokens"], r["seq_id"])
        for r in QUERIES["x36_bpe_sequence_pack"].fn(spark, sf).collect()
    )
    want = sorted(
        (int(r.doc_id), None if r.source is None else r.source,
         int(r.n_tokens), int(r.seq_id))
        for r in _oracle(QUERIES["x36_bpe_sequence_pack"].sql, sf)
        .itertuples()
    )
    assert mine == want
    assert len(mine) == 5  # every NULL-source doc present
    by_id = {d: s for d, _, _, s in mine}
    # overlong first doc anchors its sequence at 0; the next NULL doc
    # overflows into seq 1 (1025 + 3 > 1024)
    assert by_id[0] == 0 and by_id[1] == 1


def test_x35_whitespace_class_is_dialect_proof(spark, tmp_path):
    """Review finding: \\s is dialect-local (Python adds NBSP/U+2028,
    Java adds \\x0b, RE2 neither). With the explicit class in x27 and
    x35, NBSP and \\x0b stay INSIDE words in both engines, the merge
    table trains identically, and the hash-compared stats agree."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    sf = _staged_docs(
        spark,
        tmp_path,
        [
            (1, "s", "a\u00a0b c"),        # NBSP inside one word
            (2, "s", "d\x0be f"),           # VT inside one word
            (3, "s", "g\u2028h"),           # LS inside one word
            (4, "s", "i\tj\nk\fl\rm n"),    # the five real separators
        ],
    )
    mine = sorted(
        (r["doc_id"], r["n_tokens"], r["n_merged"], r["id_sum"])
        for r in QUERIES["x35_bpe_encode"].fn(spark, sf).collect()
    )
    want = sorted(
        (int(r.doc_id), int(r.n_tokens), int(r.n_merged), int(r.id_sum))
        for r in _oracle(QUERIES["x35_bpe_encode"].sql, sf).itertuples()
    )
    assert mine == want
    stats = {d: (n, m) for d, n, m, _ in mine}
    # docs 1-3 keep their exotic char INSIDE a word: that multi-char
    # word trains pairs (tiny corpus -> all pairs in the top-20), so at
    # least one merged token appears; had the char split the word, the
    # doc would be all single-char words and n_merged would be 0
    assert stats[1][1] >= 1 and stats[2][1] >= 1 and stats[3][1] >= 1
    # doc 4: all five REAL separators split -> six single-char words,
    # which can never merge
    assert stats[4] == (6, 0)


def test_bpe_vocab_hand_values_and_self_consistency(spark):
    """Vocab artifact by hand (fixed merge table, staged corpus) and
    self-consistency: bpe_vocab must equal the groupBy of
    bpe_encode_tokens' exploded stream."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.bpe import (
        MERGED_ID_BASE,
        bpe_encode_tokens,
        bpe_vocab,
    )

    merges = [("t", "h", 1), ("h", "e", 2), ("th", "e", 3)]
    rows = [
        (1, "the the he"),
        (2, "thee z"),
        (3, "he   the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["token"], r["token_id"]): r["freq"]
        for r in bpe_vocab(df, merges).collect()
    }
    B = MERGED_ID_BASE
    # "the" x3 -> ["the"]; "he" x2 -> ["he"]; "z" -> ["z"];
    # "thee": t,h,e,e -> rank-1 ("t","h") -> [th,e,e] -> rank-3
    # ("th","e") leftmost -> [the, e]
    assert got == {
        ("the", B + 3): 4,
        ("he", B + 2): 2,
        ("e", ord("e")): 1,
        ("z", ord("z")): 1,
    }
    from collections import Counter

    stream = Counter(
        (r["token"], r["token_id"])
        for r in bpe_encode_tokens(df, merges).collect()
    )
    assert dict(stream) == got


def test_x41_plan_shape_vocab_sized_encode(spark):
    """x41's scale contract asserted: the corpus collapses to the
    word-frequency agg BEFORE the encode (MapInPandas sits above the
    word exchange), and exactly two hash exchanges exist — word agg
    and token rollup; token-grain rows never shuffle at corpus size."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    df = QUERIES["x41_bpe_vocab"].fn(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Arguments: hashpartitioning") == 2
    assert plan.count("MapInPandas") >= 1
    # numbered tree: the scan feeds an aggregate below the MapInPandas
    tree = plan.split("(1) Scan")[0]
    assert tree.index("MapInPandas") < tree.index("Scan parquet")
    assert tree.index("Exchange") < tree.index("Scan parquet")
    assert tree.count("HashAggregate") == 4  # two 2-phase aggs


def test_bpe_family_case_fold_is_dialect_proof(spark, tmp_path):
    """Round-9 review catch #2 (verified live pre-fix): full-Unicode
    lower() disagrees across JVM/utf8proc/Python on final sigma and
    dotted I, shifting trained merge ranks. With explicit ASCII
    translate, Greek/Turkish corpora hash identically engine vs
    oracle, and ASCII letters still fold."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    sf = _staged_docs(
        spark,
        tmp_path,
        [
            (1, "s", "ΦΩΣ φως"),  # ΦΩΣ φως
            (2, "s", "İstanbul istanbul"),                   # İstanbul
            (3, "s", "The THE the"),                              # ASCII fold
        ],
    )
    for name in ("x35_bpe_encode", "x41_bpe_vocab"):
        mine = sorted(
            tuple(r) for r in QUERIES[name].fn(spark, sf).collect()
        )
        want = sorted(
            tuple(r)[1:]
            for r in _oracle(QUERIES[name].sql, sf).itertuples()
        )
        assert [tuple(map(str, m)) for m in mine] == [
            tuple(map(str, w)) for w in want
        ], name
    # the three 'the' spellings fold to ONE vocab entry family
    vocab = {r["token"]: r["freq"]
             for r in QUERIES["x41_bpe_vocab"].fn(spark, sf).collect()}
    assert sum(f for t, f in vocab.items() if "t" in t or t == "the") >= 1
    assert not any(t for t in vocab if "T" in t or "H" in t or "E" in t)


@pytest.mark.parametrize("seed", [3, 77])
def test_bpe_encode_is_lossless(seed):
    """Detokenization property: BPE merging only ever concatenates
    adjacent symbols, so joining a word's tokens must reconstruct the
    word exactly — for random words, random multi-level merge tables,
    and hostile all-same-char words."""
    import random

    from retail_data_pipeline_and_forecasting_system_spark.operators.bpe import (
        encode_word,
    )

    rng = random.Random(seed)
    syms_pool = list("abcd")
    ranks = {}
    for rank in range(1, 9):
        pair = (rng.choice(syms_pool), rng.choice(syms_pool))
        if pair not in ranks:
            ranks[pair] = rank
            syms_pool.append(pair[0] + pair[1])
    for _ in range(300):
        w = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 12)))
        assert "".join(encode_word(w, ranks)) == w, w
    assert "".join(encode_word("a" * 50, ranks)) == "a" * 50


# ------------------------------------------------------------ Holt-Winters


def test_holt_winters_closed_forms():
    """The kernel on series with known closed-form behavior: a flat
    series forecasts the constant; a pure linear trend continues the
    line exactly (dyadic weights make both exact, not approximate);
    a pure period-7 pattern reproduces the pattern; under two seasons
    returns None."""
    from retail_data_pipeline_and_forecasting_system_spark.forecast.univariate import (
        holt_winters_kernel,
    )

    flat = holt_winters_kernel([5.0] * 21)
    assert flat is not None and all(v == 5.0 for _, v in flat)

    # y_t = 2t: the textbook init (level = season-1 mean, at the
    # season's center) is NOT a fixed point of a line, but the coupled
    # smoothing converges to it geometrically — by T=700 the per-slot
    # seasonal error has decayed through ~99 0.75-factor updates and
    # forecasts continue the line to < 1e-4 absolute (measured law:
    # 0.53 @ T=140, 0.037 @ T=350, 9.4e-5 @ T=700)
    line = holt_winters_kernel([2.0 * t for t in range(1, 701)])
    assert line is not None
    for h, v in line:
        assert abs(v - 2.0 * (700 + h)) < 1e-3, (h, v)

    pattern = [float(10 + (t % 7)) for t in range(28)]
    seas = holt_winters_kernel(pattern)
    assert seas is not None
    for h, v in seas:
        assert abs(v - pattern[(28 + h - 1) % 7]) < 1e-9, (h, v)

    assert holt_winters_kernel([1.0] * 13) is None


def test_holt_winters_distributed_matches_kernel(spark):
    """applyInPandas fan-out equals the pure kernel per group,
    including the short-group drop and bucket co-residency."""
    from retail_data_pipeline_and_forecasting_system_spark.forecast.univariate import (
        holt_winters_forecast,
        holt_winters_kernel,
    )

    import random

    rng = random.Random(17)
    series = {
        "a": [round(rng.uniform(1, 100), 2) for _ in range(40)],
        "b": [round(rng.uniform(1, 100), 2) for _ in range(19)],
        "short": [1.0] * 10,
    }
    rows = [
        (g, i, float(v))
        for g, ys in series.items()
        for i, v in enumerate(ys)
    ]
    df = spark.createDataFrame(rows, "g string, d int, y double")
    got = {}
    for r in holt_winters_forecast(df).collect():
        got.setdefault(r["g"], []).append((r["h"], r["forecast"]))
    assert "short" in series and "short" not in got
    for g in ("a", "b"):
        assert sorted(got[g]) == holt_winters_kernel(series[g]), g


def test_m21_plan_shape(spark):
    """m21's scale contract: one (g,d) rollup exchange + one g-bucket
    exchange into the Arrow fold — nothing else; Python receives the
    daily rollup, never order rows."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    df = QUERIES["m21_holt_winters"].fn(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Arguments: hashpartitioning") == 2
    assert "FlatMapGroupsInPandas" in plan


def test_holt_winters_null_group_key_survives(spark):
    """Review finding (reproduced crash): pandas groupby(dropna=False)
    surfaces a NULL group key as float nan, which Arrow rejects in the
    string-typed group column — a NULL-group series must forecast like
    any other group, keyed None."""
    from retail_data_pipeline_and_forecasting_system_spark.forecast.univariate import (
        holt_winters_forecast,
        holt_winters_kernel,
    )

    ys = [float(10 + (t % 7)) for t in range(28)]
    rows = [(None, i, v) for i, v in enumerate(ys)] + [
        ("g1", i, v + 1) for i, v in enumerate(ys)
    ]
    df = spark.createDataFrame(rows, "g string, d int, y double")
    got = {}
    for r in holt_winters_forecast(df).collect():
        got.setdefault(r["g"], []).append((r["h"], r["forecast"]))
    assert sorted(got[None]) == holt_winters_kernel(ys)
    assert sorted(got["g1"]) == holt_winters_kernel([v + 1 for v in ys])


def test_m22_intervals_against_independent_statistics(spark, tmp_path):
    """m22's band math vs an independent numpy computation of the OLS
    prediction interval (different algorithm: residual pass instead of
    the normal-equations identity) on a staged noisy series; and the
    perfect-fit closed form: RSS clamps to ~0 so lo == hi == forecast
    up to the +-2*sqrt(eps) collapse."""
    import math
    import random

    import numpy as np

    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    def stage_orders(rows):
        d = tmp_path / f"sf{len(list(tmp_path.iterdir()))}"
        d.mkdir()
        spark.createDataFrame(
            rows, "o_orderdate timestamp, o_totalprice double"
        ).write.parquet(str(d / "orders.parquet"))
        return str(d)

    import datetime as dt

    base = dt.datetime(1995, 1, 1)
    rng = random.Random(99)
    noisy = [
        (base + dt.timedelta(days=i),
         round(1000.0 + 5.0 * i + rng.uniform(-40, 40), 2))
        for i in range(60)
    ]
    sf = stage_orders(noisy)
    got = {r["h"]: r for r in QUERIES["m22_forecast_intervals"].fn(
        spark, sf).collect()}
    xs = np.array([i for i in range(60)], dtype=float)
    ys = np.array([v for _, v in noisy], dtype=float)
    b, a = np.polyfit(xs, ys, 1)
    resid = ys - (a + b * xs)
    s2 = float((resid ** 2).sum()) / (60 - 2)
    xbar = xs.mean()
    sxx_c = float(((xs - xbar) ** 2).sum())
    for h in range(1, 15):
        x0 = 59 + h
        fc = a + b * x0
        se = math.sqrt(s2 * (1 + 1 / 60 + (x0 - xbar) ** 2 / sxx_c))
        r = got[h]
        assert abs(r["forecast"] - fc) < 1e-6 * abs(fc)
        assert abs(r["lo"] - (fc - 2 * se)) < 1e-6 * abs(fc)
        assert abs(r["hi"] - (fc + 2 * se)) < 1e-6 * abs(fc)
        assert r["lo"] < r["forecast"] < r["hi"]

    exact = [
        (base + dt.timedelta(days=i), 100.0 + 2.0 * i) for i in range(30)
    ]
    sf2 = stage_orders(exact)
    for r in QUERIES["m22_forecast_intervals"].fn(spark, sf2).collect():
        want = 100.0 + 2.0 * (29 + r["h"])
        assert abs(r["forecast"] - want) < 1e-9 * want
        # RSS clamps at >= 0; a perfect fit leaves at most fp crumbs
        assert r["hi"] - r["lo"] < 1e-3
