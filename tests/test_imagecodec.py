"""Stdlib PNG/PPM codec (operators/imagecodec.py) + the real decode path.

The golden literal below is an externally-produced 71-byte PNG (a 2x2
uniform-gray-128 image, 8-bit grayscale, zlib-compressed, CRC-intact) —
decoding it exercises the full chunk walk, CRC verification, inflate and
unfilter against bytes this repo's own encoder never touched. Round-trip
property tests then cover every PNG filter type and color type, and the
Spark-side decode_media_real path is checked end-to-end.
"""

from __future__ import annotations

import hashlib

import pytest

from retail_data_pipeline_and_forecasting_system_spark.operators.imagecodec import (
    DecodedImage,
    decode_image,
    decode_png,
    decode_ppm,
    encode_png,
    sniff_format,
)

# 2x2 8-bit grayscale PNG, every pixel 128 — produced by a real-world
# encoder (ships as IPython's codec test fixture), NOT by encode_png.
GOLDEN_2X2_GRAY_PNG = (
    b"\x89PNG\r\n\x1a\n\x00\x00\x00\rIHDR\x00\x00\x00\x02\x00\x00\x00\x02"
    b"\x08\x00\x00\x00\x00W\xddR\xf8\x00\x00\x00\x0eIDATx\x9ccl``b`\x00\x00"
    b"\x02\x92\x00\x84\xf7|\xa3X\x00\x00\x00\x00IEND\xaeB`\x82"
)


def test_golden_png_literal_decodes_exactly():
    img = decode_png(GOLDEN_2X2_GRAY_PNG)
    assert (img.width, img.height, img.channels) == (2, 2, 1)
    assert img.format == "png"
    assert list(img.pixels) == [128, 128, 128, 128]


def test_golden_png_corruption_is_caught_by_crc():
    bad = bytearray(GOLDEN_2X2_GRAY_PNG)
    bad[40] ^= 0x01  # flip one bit inside IDAT
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_all_filters_and_color_types(filter_type, channels):
    """encode_png forward-filters with the spec's equations; decode must
    invert them exactly for every (filter, color type) combination."""
    w, h = 5, 4
    pixels = bytes(
        (x * 37 + y * 101 + c * 53) % 256
        for y in range(h)
        for x in range(w)
        for c in range(channels)
    )
    data = encode_png(w, h, channels, pixels, filter_type=filter_type)
    img = decode_png(data)
    assert (img.width, img.height, img.channels) == (w, h, channels)
    assert img.pixels == pixels


def test_png_filter_choice_does_not_change_pixels():
    """The same image under different scanline filters must decode to
    identical pixels (pixel_md5's filter-independence claim)."""
    w, h, c = 7, 3, 3
    pixels = bytes((x * 11 + 5) % 256 for x in range(w * h * c))
    hashes = {
        hashlib.md5(decode_png(encode_png(w, h, c, pixels, f)).pixels).hexdigest()
        for f in range(5)
    }
    assert len(hashes) == 1


def test_png_palette_expansion():
    """Color type 3: indexed pixels expand through PLTE to RGB."""
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red green blue
    scan = bytes([0, 0, 1, 0, 2, 0])  # rows: [red, green], [blue, red]
    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    img = decode_png(data)
    assert (img.width, img.height, img.channels) == (2, 2, 3)
    assert list(img.pixels) == [
        255, 0, 0, 0, 255, 0,
        0, 0, 255, 255, 0, 0,
    ]


def test_png_unsupported_variants_raise_precisely():
    import struct
    import zlib

    def mk(bit_depth=8, color_type=0, interlace=0):
        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(
            ">IIBBBBB", 1, 1, bit_depth, color_type, 0, 0, interlace
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
            + chunk(b"IEND", b"")
        )

    with pytest.raises(ValueError, match="bit depth"):
        decode_png(mk(bit_depth=16))
    with pytest.raises(ValueError, match="interlace"):
        decode_png(mk(interlace=1))
    with pytest.raises(ValueError, match="bad signature"):
        decode_png(b"nope")


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    channels=st.sampled_from([1, 2, 3, 4]),
    filter_type=st.integers(0, 4),
    data=st.data(),
)
@settings(max_examples=150, deadline=None)
def test_png_roundtrip_property(w, h, channels, filter_type, data):
    """decode(encode(pixels)) == pixels for arbitrary images across all
    sizes, color types, and filter types — the decoder's unfilter is a
    true inverse, not tuned to the fixed test fixtures."""
    n = w * h * channels
    pixels = bytes(
        data.draw(
            st.lists(st.integers(0, 255), min_size=n, max_size=n)
        )
    )
    img = decode_png(encode_png(w, h, channels, pixels, filter_type))
    assert (img.width, img.height, img.channels) == (w, h, channels)
    assert img.pixels == pixels


def test_ppm_and_pgm_decode():
    ppm = b"P6\n# a comment\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    img = decode_ppm(ppm)
    assert (img.width, img.height, img.channels) == (2, 1, 3)
    assert list(img.pixels) == [10, 20, 30, 40, 50, 60]
    assert img.format == "ppm"

    pgm = b"P5 3 1 255 " + bytes([1, 2, 3])
    img = decode_ppm(pgm)
    assert (img.width, img.height, img.channels) == (3, 1, 1)
    assert img.format == "pgm"

    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6 2 2 255 " + b"\x00" * 3)


def test_truncated_and_corrupt_payloads_raise_valueerror():
    """Truncation (struct.error territory) and bad deflate bytes
    (zlib.error) must surface as ValueError — the one exception type
    decode_media_real quarantines on."""
    whole = encode_png(4, 3, 3, bytes(36), filter_type=1)
    for cut in (10, 20, len(whole) - 3):
        with pytest.raises(ValueError):
            decode_image(whole[:cut])
    # CRC-valid chunk wrapping garbage deflate bytes -> zlib.error inside
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", b"\xff\xfe\xfd\xfc")
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="corrupt payload"):
        decode_image(bad)


def test_sniff_format():
    assert sniff_format(GOLDEN_2X2_GRAY_PNG) == "png"
    assert sniff_format(b"P6 1 1 255 abc") == "ppm"
    assert sniff_format(b"P5 1 1 255 a") == "pgm"
    assert sniff_format(b"plain text payload") is None
    with pytest.raises(ValueError, match="not a supported image"):
        decode_image(b"plain text payload")


def test_decode_media_real_end_to_end(spark):
    """Spark path: mixed batch of real PNG / PPM / junk payloads through
    decode_media_real — real decodes get true dims + pixel stats, junk
    gets NULL metadata (and strict=True raises)."""
    from pyspark.sql import functions as F

    from retail_data_pipeline_and_forecasting_system_spark.operators.multimodal import (
        decode_media_real,
    )

    rgb = encode_png(3, 2, 3, bytes(range(18)), filter_type=4)
    ppm = b"P6 2 2 255 " + bytes(range(12))
    rows = [
        (1, bytearray(GOLDEN_2X2_GRAY_PNG)),
        (2, bytearray(rgb)),
        (3, bytearray(ppm)),
        (4, bytearray(b"not an image at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: r for r in decode_media_real(df).collect()
    }
    assert got[1]["format"] == "png"
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (2, 2, 1)
    assert got[1]["mean_luma"] == 128.0
    assert got[2]["pixel_md5"] == hashlib.md5(bytes(range(18))).hexdigest()
    assert got[3]["format"] == "ppm"
    assert got[3]["mean_luma"] == sum(range(12)) / 12
    assert got[4]["format"] is None and got[4]["width"] is None
    assert got[4]["n_bytes"] == len(b"not an image at all")

    with pytest.raises(Exception):  # strict mode surfaces the ValueError
        decode_media_real(df, strict=True).collect()


def test_decode_batch_sniffs_real_images(spark):
    """The m1 registry path (decode_media): real image payloads now get
    TRUE dimensions; non-image payloads keep the deterministic stub that
    the SQL oracle mirrors."""
    from retail_data_pipeline_and_forecasting_system_spark.operators.multimodal import (
        _fake_dims,
        decode_media,
    )

    rgb = encode_png(9, 5, 3, bytes(135), filter_type=2)
    rows = [(1, bytearray(rgb)), (2, bytearray(b"synthetic text bytes"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_media(df).collect()}
    assert (got[1]["width"], got[1]["height"]) == (9, 5)
    import pandas as pd

    fw, fh = _fake_dims(pd.Series([len(b"synthetic text bytes")]))
    assert (got[2]["width"], got[2]["height"]) == (int(fw[0]), int(fh[0]))


def test_sniff_rejects_text_with_ppm_magic():
    """ADVICE r5: a text payload that merely STARTS with 'P6'/'P5' must
    not sniff as an image (the 2-byte magic matched 'P6 chip
    benchmarks...' and crashed the decode job)."""
    assert sniff_format(b"P6 chip benchmarks beat last gen") is None
    assert sniff_format(b"P5 highway exit ahead") is None
    assert sniff_format(b"P6") is None
    assert sniff_format(b"P6\n# comment\n  12 7 255 ") == "ppm"
    assert sniff_format(b"P5\t3 3 255 " + bytes(9)) == "pgm"


def test_decode_batch_quarantines_corrupt_sniffed_payloads(spark):
    """ADVICE r5 (medium): payloads that sniff as an image but fail to
    decode (PNG magic + corrupt body) fall back to the stub dims instead
    of killing the whole decode_media job."""
    import pandas as pd

    from retail_data_pipeline_and_forecasting_system_spark.operators.multimodal import (
        _fake_dims,
        decode_media,
    )

    corrupt_png = GOLDEN_2X2_GRAY_PNG[:20] + b"\x00garbage-body\xff" * 3
    assert sniff_format(corrupt_png) == "png"
    rows = [(1, bytearray(corrupt_png)), (2, bytearray(b"plain text"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_media(df).collect()}
    fw, fh = _fake_dims(pd.Series([len(corrupt_png)]))
    assert (got[1]["width"], got[1]["height"]) == (int(fw[0]), int(fh[0]))


def test_png_decode_bomb_guards():
    """ADVICE r5 (low): hostile IHDR dims / deflate bombs raise
    ValueError BEFORE any large allocation or full inflate — they must
    quarantine, never OOM an executor."""
    import struct
    import zlib

    from retail_data_pipeline_and_forecasting_system_spark.operators import (
        imagecodec,
    )

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    # 1) huge-dims IHDR (would be ~16 GB raw) with a tiny IDAT
    ihdr = struct.pack(">IIBBBBB", 65536, 65536, 8, 2, 0, 0, 0)
    huge = (
        imagecodec.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="exceeds cap"):
        decode_png(huge)

    # 2) deflate bomb: claims 2x2 but the stream inflates to ~10 MB.
    #    The bounded inflate stops at expected+1 bytes.
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bomb = (
        imagecodec.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="decompressed size"):
        decode_png(bomb)

    # 3) zero-dims image
    ihdr = struct.pack(">IIBBBBB", 0, 5, 8, 0, 0, 0, 0)
    zero = (
        imagecodec.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b""))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="zero-sized"):
        decode_png(zero)
