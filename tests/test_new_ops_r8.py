"""Round-8 operators: hand-built-corpus tests independent of the DuckDB
oracles (the done-bundle's second leg) for the REAL image resize and
REAL visual features paths (round-7 verdict Missing #1)."""

from __future__ import annotations

import hashlib

from retail_data_pipeline_and_forecasting_system_spark.operators.imagecodec import (
    encode_png,
)
from retail_data_pipeline_and_forecasting_system_spark.operators.multimodal import (
    extract_features_real,
    resize_media_real,
    synthesize_gradient_png_payloads,
)

from conftest import duck_connect


def _png(w, h, c, px, filt=0):
    return bytearray(encode_png(w, h, c, bytes(px), filter_type=filt))


def test_resize_media_real_hand_values(spark):
    """NN resize checked against by-hand source-index math:
    4x2 gray [[10,20,30,40],[50,60,70,80]] to long-edge 2 ->
    rw=2, rh=max(1,(2*2)//4)=1; sy=[0], sx=[(0*4)//2,(1*4)//2]=[0,2]
    -> resized bytes [10,30]; garbage quarantines to a NULL row."""
    rows = [
        (1, _png(4, 2, 1, [10, 20, 30, 40, 50, 60, 70, 80], filt=1)),
        (2, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in resize_media_real(df, target=2).collect()}

    r = got[1]
    assert (r["width"], r["height"]) == (4, 2)
    assert (r["rs_width"], r["rs_height"]) == (2, 1)
    assert r["resized_md5"] == hashlib.md5(bytes([10, 30])).hexdigest()
    assert r["rs_mean_luma"] == 20.0

    bad = got[2]
    assert bad["rs_width"] is None and bad["resized_md5"] is None


def test_resize_media_real_upsample_and_rgb(spark):
    """Upsample (2x3 -> long-edge 6: rw=4, rh=6, sx=[0,0,1,1]) must
    REPLICATE source pixels, and RGB planes resize interleaved."""
    # 2x3 gray, column values [1, 2] on every row
    gray = _png(2, 3, 1, [1, 2] * 3, filt=2)
    # 2x1 RGB: pixel0=(9,8,7), pixel1=(3,2,1) -> target 4: rw=4, rh=2
    rgb = _png(2, 1, 3, [9, 8, 7, 3, 2, 1], filt=4)
    df = spark.createDataFrame(
        [(1, gray), (2, rgb)], "doc_id long, payload binary"
    )
    by_id = {
        r["doc_id"]: r
        for r in resize_media_real(df, target=6).collect()
        if r["doc_id"] == 1
    }
    r = by_id[1]
    assert (r["rs_width"], r["rs_height"]) == (4, 6)
    # every output row is [1,1,2,2]; 6 rows
    assert r["resized_md5"] == hashlib.md5(bytes([1, 1, 2, 2] * 6)).hexdigest()
    assert r["rs_mean_luma"] == 1.5

    r2 = {
        r["doc_id"]: r for r in resize_media_real(df, target=4).collect()
    }[2]
    # rw=4 (sx=[0,0,1,1]), rh=max(1,(1*4)//2)=2 (sy=[0,0])
    want = bytes([9, 8, 7, 9, 8, 7, 3, 2, 1, 3, 2, 1] * 2)
    assert (r2["rs_width"], r2["rs_height"]) == (4, 2)
    assert r2["resized_md5"] == hashlib.md5(want).hexdigest()


def test_extract_features_real_hand_values(spark):
    """Pixel stats + edge counts by hand: 3x2 gray
    [[0,5,20],[100,6,21]], thresh 8 -> h diffs |5|,|15|;|94|,|15| = 3
    edges; v diffs |100|,|1|,|1| = 1 edge; sum 152, min 0, max 100."""
    rows = [
        (1, _png(3, 2, 1, [0, 5, 20, 100, 6, 21], filt=3)),
        (2, bytearray(b"\x89PNG truncated garbage")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r
        for r in extract_features_real(df, edge_thresh=8).collect()
    }
    r = got[1]
    assert (r["width"], r["height"], r["channels"]) == (3, 2, 1)
    assert (r["n_pixels"], r["sum_px"]) == (6, 152)
    assert r["mean_px"] == 152.0 / 6
    assert (r["min_px"], r["max_px"]) == (0, 100)
    assert (r["h_edges"], r["v_edges"]) == (3, 1)
    assert got[2]["n_pixels"] is None and got[2]["h_edges"] is None


def test_extract_features_real_rgb_channel0_edges(spark):
    """Multichannel: sum/min/max run over ALL samples, edge counts over
    channel 0 only — an image whose R plane is flat but G jumps must
    report zero edges."""
    # 2x1 RGB: (50, 0, 0) and (50, 255, 0)
    df = spark.createDataFrame(
        [(7, _png(2, 1, 3, [50, 0, 0, 50, 255, 0]))],
        "doc_id long, payload binary",
    )
    r = extract_features_real(df, edge_thresh=8).collect()[0]
    assert r["channels"] == 3
    assert (r["h_edges"], r["v_edges"]) == (0, 0)
    assert (r["sum_px"], r["min_px"], r["max_px"]) == (355, 0, 255)
    assert r["n_pixels"] == 6


def test_gradient_corpus_round_trips_for_both_ops(spark):
    """The registry corpus: gradient PNGs decode to the closed-form
    grid — spot-check doc 0 (4x3, pixel(x,y)=32+(x+3y)%95) through
    both real operators against pure-Python recomputation."""
    ids = spark.createDataFrame([(0,)], "doc_id long")
    payload_df = synthesize_gradient_png_payloads(ids)

    w, h = 4, 3
    grid = [[32 + (x + 3 * y) % 95 for x in range(w)] for y in range(h)]

    r = resize_media_real(payload_df, target=8).collect()[0]
    rw, rh = (w * 8) // 4, (h * 8) // 4  # long edge 4 -> 8x6
    sx = [(j * w) // rw for j in range(rw)]
    sy = [(i * h) // rh for i in range(rh)]
    want = bytes(grid[y][x] for y in sy for x in sx)
    assert (r["rs_width"], r["rs_height"]) == (rw, rh)
    assert r["resized_md5"] == hashlib.md5(want).hexdigest()
    assert r["rs_mean_luma"] == sum(want) / len(want)

    f = extract_features_real(payload_df, edge_thresh=8).collect()[0]
    flat = [v for row in grid for v in row]
    assert (f["n_pixels"], f["sum_px"]) == (12, sum(flat))
    h_edges = sum(
        1
        for y in range(h)
        for x in range(w - 1)
        if abs(grid[y][x + 1] - grid[y][x]) >= 8
    )
    v_edges = sum(
        1
        for y in range(h - 1)
        for x in range(w)
        if abs(grid[y + 1][x] - grid[y][x]) >= 8
    )
    assert (f["h_edges"], f["v_edges"]) == (h_edges, v_edges)


def test_nn_descent_rejects_narrow_embeddings(spark):
    """ADVICE fix: a vector too narrow for two independent sign-LSH
    bucketings must raise loudly instead of silently collapsing the
    second hash into one global bucket (quadratic seed join). The
    guard is LAZY and per-row (assert_true in the bucketing
    expression), so plan building stays free and mixed-width tables
    can't slip a narrow row past a sampled probe."""
    import pytest

    from retail_data_pipeline_and_forecasting_system_spark.operators.similarity import (
        nn_descent,
    )

    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [-1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    narrow = nn_descent(df, k=1, iters=1, n_bits=8)  # plan builds fine
    with pytest.raises(Exception, match="dim >= 2\\*n_bits"):
        narrow.count()
    # mixed-width: one wide row can't mask a narrow one
    mixed = spark.createDataFrame(
        [(1, [1.0] * 16), (2, [0.5] * 16), (3, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="dim >= 2\\*n_bits"):
        nn_descent(mixed, k=1, iters=0, n_bits=8).count()
    # wide enough: no raise; same-bucket pair seeds one edge each way
    wide = spark.createDataFrame(
        [(1, [1.0] * 16), (2, [0.5] * 16)],
        "vec_id long, embedding array<double>",
    )
    assert nn_descent(wide, k=1, iters=0, n_bits=8).count() == 2


def test_ohlc_order_key_guards_preconditions(spark):
    """ADVICE fix: negative or >20-digit inputs raise instead of
    silently truncating/mis-ordering; NULLs pass through as NULL keys;
    valid inputs produce the unchanged zero-padded key."""
    import pytest
    from pyspark.sql import functions as F

    from retail_data_pipeline_and_forecasting_system_spark.operators.ohlc import (
        ohlc_order_key,
    )

    ok = spark.createDataFrame(
        [(1_700_000_000_000_000, 42), (None, 7)],
        "t_us long, event_id long",
    ).select(ohlc_order_key(F.col("t_us"), F.col("event_id")).alias("k"))
    rows = {r["k"] for r in ok.collect()}
    assert "00001700000000000000|00000000000000000042" in rows
    assert None in rows  # NULL input -> NULL key, not an error

    bad = spark.createDataFrame(
        [(-5, 1)], "t_us long, event_id long"
    ).select(ohlc_order_key(F.col("t_us"), F.col("event_id")).alias("k"))
    with pytest.raises(Exception, match="ohlc_order_key"):
        bad.collect()

    wide = spark.createDataFrame(
        [("123456789012345678901", 1)], "t_us string, event_id long"
    ).select(
        ohlc_order_key(F.col("t_us").cast("decimal(26,0)"),
                       F.col("event_id")).alias("k")
    )
    with pytest.raises(Exception, match="ohlc_order_key"):
        wide.collect()


def test_streaming_attribution_touch_cap_saturates(spark, tmp_path):
    """ADVICE fix: max_touches bounds per-user state — a purchase after
    an epoch boundary sees at most cap-many carried touches (count
    saturates at the cap), while the carry-forward last touch is
    unaffected. Uncapped twin on the same slices stays exact."""
    import os
    import time as _time
    from datetime import datetime, timezone
    from pathlib import Path

    from retail_data_pipeline_and_forecasting_system_spark.streaming.aggregates import (
        streaming_attribution,
    )

    def ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc)

    slice1 = [(i, ts(1000 * i), 1, "view") for i in range(1, 5)]
    slice2 = [(9, ts(5000), 1, "purchase")]
    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def run(cap):
        in_dir = tmp_path / f"in_{cap}"
        in_dir.mkdir()
        for i, rows in enumerate((slice1, slice2)):
            p = in_dir / f"s{i}.parquet"
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(p))
            t = _time.time() - 100 + i
            os.utime(p, (t, t))
            for f in Path(p).glob("*"):
                os.utime(f, (t, t))
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(in_dir / "*.parquet"))
        out, ck = str(tmp_path / f"out_{cap}"), str(tmp_path / f"ck_{cap}")
        q = (
            streaming_attribution(stream, max_touches=cap)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    capped = run(2)
    assert len(capped) == 1
    r = capped[0]
    assert r["n_touches_7d"] == 2  # saturated at the cap
    assert r["last_touch_id"] == 4  # carry-forward unaffected
    assert r["us_since_touch"] == 1000 * 1_000_000

    exact = run(None)
    assert exact[0]["n_touches_7d"] == 4


def test_perceptual_hash_hand_values(spark):
    """dHash by hand: 2x2 gray [[10,20],[30,5]] -> 9x8 NN grid repeats
    row 0 for i<4 (bit at j=4 where 10->20 rises: row value 16) and
    row 1 for i>=4 (falling 30->5: no bits) -> hi = 16*0x01010101,
    lo = 0. A monotone brightness shift (+50) must not change the
    hash; garbage quarantines."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.multimodal import (
        perceptual_hash,
    )

    rows = [
        (1, _png(2, 2, 1, [10, 20, 30, 5])),
        (2, _png(2, 2, 1, [60, 70, 80, 55])),  # +50 everywhere
        (3, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in perceptual_hash(df).collect()}
    assert got[1]["dhash_hi"] == 16 * 0x01010101
    assert got[1]["dhash_lo"] == 0
    assert (got[2]["dhash_hi"], got[2]["dhash_lo"]) == (
        got[1]["dhash_hi"], got[1]["dhash_lo"],
    )
    assert got[3]["dhash_hi"] is None and got[3]["width"] is None


def test_dq6_detects_orphans_and_null_fks(spark, tmp_path):
    """The audit's detection leg (testdata is integrity-clean, so the
    registry oracle proves zeros): a child with one orphan FK and one
    NULL FK reports n_orphan_rows=1, n_null_fk=1, and the orphan rate
    excludes NULL FKs from its denominator."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    sf = tmp_path / "sf"
    sf.mkdir()

    def w(name, schema, rows):
        spark.createDataFrame(rows, schema).write.parquet(
            str(sf / f"{name}.parquet")
        )

    w("customer", "c_custkey long", [(1,), (2,)])
    w("orders", "o_orderkey long, o_custkey long",
      [(10, 1), (11, 2), (12, 99), (13, None)])
    w("lineitem", "l_orderkey long, l_partkey long, l_suppkey long",
      [(10, 7, 3), (55, 7, 3)])
    w("part", "p_partkey long", [(7,)])
    w("supplier", "s_suppkey long", [(3,)])
    w("events", "event_id long, ts timestamp, user_id long, "
      "event_type string", [])

    out = {
        r["rel"]: r
        for r in QUERIES["dq6_referential_integrity"]
        .fn(spark, str(sf)).collect()
    }
    oc = out["orders.o_custkey->customer"]
    assert (oc["n_rows"], oc["n_null_fk"]) == (4, 1)
    assert oc["n_distinct_fk"] == 3
    assert oc["n_orphan_rows"] == 1
    assert oc["orphan_rate"] == 1.0 / 3  # NULL FK excluded from denom
    lo = out["lineitem.l_orderkey->orders"]
    assert (lo["n_orphan_rows"], lo["n_null_fk"]) == (1, 0)
    assert out["lineitem.l_partkey->part"]["n_orphan_rows"] == 0
    ev = out["events.user_id->customer"]
    assert ev["n_rows"] == 0 and ev["orphan_rate"] is None  # nullif


def test_e13_paths_hand_values(spark, tmp_path):
    """Conversion paths by hand: a 3-prior purchase, a cold-start
    purchase (empty path), and a 1-prior purchase."""
    from datetime import datetime, timezone

    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    def ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc)

    rows = [
        (1, ts(1), 1, "view"), (2, ts(2), 1, "click"),
        (3, ts(3), 1, "view"), (4, ts(4), 1, "purchase"),
        (5, ts(1), 2, "purchase"),
        (6, ts(1), 3, "click"), (7, ts(2), 3, "purchase"),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.parquet(str(sf / "events.parquet"))
    got = {
        r["path"]: r["n_conversions"]
        for r in QUERIES["e13_conversion_paths"].fn(spark, str(sf)).collect()
    }
    assert got == {"view>click>view": 1, "": 1, "click": 1}


def test_dhash_neardup_pairs_hand_values(spark):
    """Banded near-dup by hand: A=[10,20,30,5] and its +50 brightness
    twin hash identically (hamming 0); C=[5,5,5,200] differs from A in
    8 bits (rising edge moves rows) — excluded at max_hamming 3. Caps
    above 3 must raise (4 bands cannot pigeonhole 4 flips)."""
    import pytest

    from retail_data_pipeline_and_forecasting_system_spark.operators.multimodal import (
        dhash_neardup_pairs,
        perceptual_hash,
    )

    rows = [
        (1, _png(2, 2, 1, [10, 20, 30, 5])),
        (2, _png(2, 2, 1, [60, 70, 80, 55])),
        (3, _png(2, 2, 1, [5, 5, 5, 200])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashed = perceptual_hash(df).select("doc_id", "dhash_hi", "dhash_lo")
    got = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dhash_neardup_pairs(hashed, max_hamming=3).collect()
    ]
    assert got == [(1, 2, 0)]
    with pytest.raises(ValueError, match="pigeonhole"):
        dhash_neardup_pairs(hashed, max_hamming=4)


def test_scene_cuts_hand_values(spark):
    """Scene cuts by hand: 2x2 clip with uniform frames 10 -> 80 -> 85
    (MADs 70, 5; thresh 50) cuts once at frame 1, mean MAD 37.5; a
    non-uniform pair averages pixel-level |diffs| (not frame means); a
    single-frame clip keeps NULL mean_mad; garbage quarantines."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.multimodal import (
        scene_cuts,
    )
    from retail_data_pipeline_and_forecasting_system_spark.operators.videocodec import (
        encode_y4m,
    )

    three = encode_y4m(
        2, 2, [bytes([10] * 4), bytes([80] * 4), bytes([85] * 4)]
    )
    # |0-10|, |40-20|, |0-30|, |80-40| -> mean 25; no cut at thresh 50
    ragged = encode_y4m(
        2, 2, [bytes([10, 20, 30, 40]), bytes([0, 40, 0, 80])]
    )
    single = encode_y4m(2, 2, [bytes([7] * 4)])
    rows = [
        (1, bytearray(three)),
        (2, bytearray(ragged)),
        (3, bytearray(single)),
        (4, bytearray(b"not a video")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in scene_cuts(df, thresh=50.0).collect()}

    r = got[1]
    assert (r["n_frames"], r["n_cuts"], r["first_cut_idx"]) == (3, 1, 1)
    assert r["mean_mad"] == 37.5

    r2 = got[2]
    assert (r2["n_cuts"], r2["first_cut_idx"]) == (0, None)
    assert r2["mean_mad"] == 25.0

    r3 = got[3]
    assert (r3["n_frames"], r3["n_cuts"]) == (1, 0)
    assert r3["mean_mad"] is None and r3["first_cut_idx"] is None

    assert got[4]["n_frames"] is None and got[4]["n_cuts"] is None


def test_e14_rfm_hand_values(spark, tmp_path):
    """RFM by hand on 5 customers, one order each, spends 10..50 and
    one day apart: with distinct values the ceil(5*CDF) score IS the
    rank — most recent / highest spend get 5 — and a count tie shares
    the frequency score (all five have n_orders=1 -> f_score 5)."""
    from datetime import datetime, timezone

    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    def d(day):
        return datetime(2024, 1, day, tzinfo=timezone.utc)

    rows = [
        (100 + i, i, f"2024010{i}", float(10 * i), d(i))
        for i in range(1, 6)
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(ok, ck, tp, od) for ok, ck, _, tp, od in rows],
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp",
    ).write.parquet(str(sf / "orders.parquet"))

    got = {
        r["customer_id"]: r
        for r in QUERIES["e14_rfm_segmentation"].fn(spark, str(sf)).collect()
    }
    assert len(got) == 5
    # customer 5 ordered last (recency 0) and spent most -> R5 M5; all
    # tie on frequency (one order) -> F5 for everyone
    assert (got[5]["recency_days"], got[5]["r_score"]) == (0, 5)
    assert (got[5]["m_score"], got[5]["f_score"]) == (5, 5)
    assert got[5]["rfm"] == 555
    # customer 1 ordered first (recency 4) and spent least -> R1 M1
    assert (got[1]["r_score"], got[1]["m_score"]) == (1, 1)
    assert got[1]["rfm"] == 151
    # middle customer: scores follow rank exactly on distinct values
    assert (got[3]["r_score"], got[3]["m_score"]) == (3, 3)
    assert got[3]["monetary"] == 30


def test_j10_interval_overlap_hand_values(spark, tmp_path):
    """Bucketed interval overlap equals a brute-force oracle on hand
    intervals, including a cross-bucket pair and the half-open
    boundary (an interval ending exactly where another starts does
    NOT overlap)."""
    from datetime import datetime, timezone

    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    starts = {1: 0, 2: 600, 3: 3000, 4: 7200, 5: 1700, 6: 1800}
    rows = [
        (eid, datetime.fromtimestamp(s, tz=timezone.utc), 1, "purchase")
        for eid, s in starts.items()
    ] + [(99, datetime.fromtimestamp(3, tz=timezone.utc), 1, "view")]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.parquet(str(sf / "events.parquet"))

    L = 1800
    want = {}
    for a in starts:
        for b in starts:
            if a < b:
                lo = max(starts[a], starts[b])
                hi = min(starts[a] + L, starts[b] + L)
                if lo < hi:
                    want[(a, b)] = (hi - lo) * 1_000_000
    got = {
        (r["id_a"], r["id_b"]): r["overlap_us"]
        for r in QUERIES["j10_interval_overlap_join"]
        .fn(spark, str(sf)).collect()
    }
    assert got == want
    assert (1, 6) not in got  # half-open: [0,1800) vs [1800,3600)
    assert got[(1, 5)] == 100 * 1_000_000  # cross-bucket pair


def test_h9_dwell_time_hand_values(spark, tmp_path):
    """Dwell rollup by hand: view holds 100 s then click holds 300 s
    for user 1; user 2's single event contributes nothing; the last
    state (purchase) never appears."""
    from datetime import datetime, timezone

    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    def ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc)

    rows = [
        (1, ts(0), 1, "view"), (2, ts(100), 1, "click"),
        (3, ts(400), 1, "purchase"),
        (4, ts(50), 2, "view"),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).write.parquet(str(sf / "events.parquet"))
    got = {
        r["event_type"]: r
        for r in QUERIES["h9_dwell_time"].fn(spark, str(sf)).collect()
    }
    assert set(got) == {"view", "click"}  # purchase: terminal only
    assert got["view"]["total_dwell_us"] == 100 * 1_000_000
    assert got["click"]["total_dwell_us"] == 300 * 1_000_000
    assert got["view"]["dwell_share"] == 0.25
    assert got["click"]["mean_dwell_us"] == 300e6


def test_codec_chain_runs_under_structured_streaming(spark, tmp_path):
    """The real-pixel chain (synthesize -> decode -> NN resize) is
    stateless mapInPandas, so it must run UNCHANGED on a streaming
    DataFrame — readStream over the same ids yields exactly the batch
    result (the multimodal family's streaming claim, proven, not
    asserted in prose)."""
    ids = [(i,) for i in range(40)]
    in_dir = tmp_path / "in"
    spark.createDataFrame(ids, "doc_id long").write.parquet(str(in_dir))

    batch = {
        r["doc_id"]: (r["rs_width"], r["rs_height"], r["resized_md5"])
        for r in resize_media_real(
            synthesize_gradient_png_payloads(
                spark.read.parquet(str(in_dir))
            ),
            target=8,
        ).collect()
    }

    stream = spark.readStream.schema("doc_id long").parquet(str(in_dir))
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        resize_media_real(synthesize_gradient_png_payloads(stream), target=8)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()
    streamed = {
        r["doc_id"]: (r["rs_width"], r["rs_height"], r["resized_md5"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == batch and len(batch) == 40


def test_pr5_association_rules_hand_values(spark, tmp_path):
    """Rules by hand: 4 baskets — {1,2}, {1,2}, {1,2,3}, {1} (a
    duplicate line proves the distinct): pair (1,2) has support 3,
    conf 1->2 = 3/4, conf 2->1 = 1, lift = 3*4/(4*3) = 1.0; pair
    (2,3) support 1 falls below the >=3 floor."""
    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    rows = [
        (10, 1), (10, 2), (10, 2),       # dup line -> distinct
        (11, 1), (11, 2),
        (12, 1), (12, 2), (12, 3),
        (13, 1),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(str(sf / "lineitem.parquet"))
    got = QUERIES["pr5_association_rules"].fn(spark, str(sf)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["item_a"], r["item_b"], r["support_count"]) == (1, 2, 3)
    assert (r["n_a"], r["n_b"]) == (4, 3)
    assert r["conf_a_to_b"] == 0.75 and r["conf_b_to_a"] == 1.0
    assert r["lift"] == 1.0


def test_e14_null_spend_customer_matches_oracle(spark, tmp_path):
    """Round-8 review regression: a customer whose only order has NULL
    o_totalprice puts a NULL row in the monetary alphabet — Spark's
    bare asc window (NULLS FIRST) counted it into every real value's
    CDF while DuckDB (NULLS LAST) did not, shifting every other
    customer's m_score. The asc_nulls_last fix must keep both engines
    identical; the NULL customer itself drops (NULL never equi-joins
    its score) in BOTH engines."""
    from datetime import datetime, timezone


    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    def d(day):
        return datetime(2024, 1, day, tzinfo=timezone.utc)

    rows = [(100 + i, i, float(10 * i), d(i)) for i in range(1, 6)]
    rows.append((200, 9, None, d(6)))  # NULL-spend customer
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp",
    ).write.parquet(str(sf / "orders.parquet"))

    got = (
        QUERIES["e14_rfm_segmentation"].fn(spark, str(sf)).toPandas()
    )
    con = duck_connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the part glob
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"'{sf}/orders.parquet/*.parquet'"
    )
    want = con.execute(QUERIES["e14_rfm_segmentation"].sql).df()
    got = got[sorted(got.columns)].sort_values(
        sorted(got.columns)).reset_index(drop=True)
    want = want[sorted(want.columns)].sort_values(
        sorted(want.columns)).reset_index(drop=True)
    assert got.shape == want.shape == (5, 8)  # NULL customer dropped
    assert (got.astype(str).values == want.astype(str).values).all()
    # with five distinct spends the scores stay rank-exact
    assert sorted(got["m_score"]) == [1, 2, 3, 4, 5]


def test_png_metadata_extraction_hand_values(spark):
    """tEXt extraction by hand: two chunks in stream order, a clean
    PNG with no metadata emits NOTHING, a CRC-corrupted payload emits
    one NULL quarantine row, and ev6-style strictness raises."""
    import pytest

    from retail_data_pipeline_and_forecasting_system_spark.operators.imagecodec import (
        append_text_chunks,
    )
    from retail_data_pipeline_and_forecasting_system_spark.operators.multimodal import (
        extract_png_metadata,
    )

    base = bytes(_png(2, 1, 1, [5, 6]))
    tagged = append_text_chunks(
        base, [("source", "cam-3"), ("license", "cc-by")]
    )
    corrupt = bytearray(tagged)
    corrupt[-20] ^= 0xFF  # break a CRC
    df = spark.createDataFrame(
        [(1, bytearray(tagged)), (2, bytearray(base)), (3, corrupt)],
        "doc_id long, payload binary",
    )
    rows = extract_png_metadata(df).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["meta_key"], r["meta_value"])
        )
    assert by_doc[1] == [("source", "cam-3"), ("license", "cc-by")]
    assert 2 not in by_doc  # no metadata -> no rows, not a NULL row
    assert by_doc[3] == [(None, None)]  # corrupt -> quarantine

    with pytest.raises(Exception):
        extract_png_metadata(
            spark.createDataFrame(
                [(9, corrupt)], "doc_id long, payload binary"
            ),
            strict=True,
        ).collect()


def test_ev6_bins_partition_the_prediction_set(spark):
    """ev6's bins must PARTITION x25's predictions: doc and correct
    totals across bins equal the classifier's own totals (engine-side
    consistency, independent of the SQL oracle), and per-bin accuracy
    is the exact ratio."""
    from pyspark.sql import functions as F

    from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (
        QUERIES,
    )

    sf = "/root/testdata/sf0.001"
    bins = QUERIES["ev6_margin_reliability"].fn(spark, sf).collect()
    preds = QUERIES["x25_nb_classifier"].fn(spark, sf)
    n, n_correct = preds.agg(
        F.count(F.lit(1)),
        F.sum(F.when(F.col("correct"), 1).otherwise(0)),
    ).collect()[0]
    assert sum(r["n_docs"] for r in bins) == n
    assert sum(r["n_correct"] for r in bins) == n_correct
    for r in bins:
        assert r["accuracy_v"] == round(r["n_correct"] / r["n_docs"], 6)
        assert r["margin_bin"] is not None and r["margin_bin"] >= 0
