"""The one quarantine path of the multimodal operators under hostile
payloads: every decoding operator, fed empty bytes, plain text and a
valid payload of another media kind, yields exactly one quarantine row
of its documented shape, and re-raises the codec's ValueError under
``strict=True``."""

from __future__ import annotations

import pytest
from pyspark.errors import PythonException

from retail_data_pipeline_and_forecasting_system_spark.operators import (
    multimodal as MM,
)
from retail_data_pipeline_and_forecasting_system_spark.operators.audiocodec import (
    encode_wav,
)

from conftest import png_payload

WAV = encode_wav(bytes([100]) * 32, sample_rate=8000, bit_depth=8, channels=1)
PNG = bytes(png_payload(3, 2, 1, range(6)))

# operator, a valid payload of a DIFFERENT media kind, and the columns a
# quarantine row fills (besides doc_id): n_bytes for the two decoders,
# frame_idx 0 for the two frame samplers, nothing for the rest
OPERATORS = {
    "decode_media_real": (MM.decode_media_real, WAV, {"n_bytes": len}),
    "decode_audio_real": (MM.decode_audio_real, PNG, {"n_bytes": len}),
    "sample_frames_real": (MM.sample_frames_real, PNG, {"frame_idx": lambda _: 0}),
    "audio_frame_features": (
        MM.audio_frame_features, PNG, {"frame_idx": lambda _: 0}
    ),
    "resize_media_real": (MM.resize_media_real, WAV, {}),
    "extract_features_real": (MM.extract_features_real, WAV, {}),
    "perceptual_hash": (MM.perceptual_hash, WAV, {}),
    "scene_cuts": (MM.scene_cuts, WAV, {}),
    "extract_png_metadata": (MM.extract_png_metadata, WAV, {}),
}

PAYLOADS = ["empty", "text", "other_kind"]


@pytest.mark.parametrize("payload_kind", PAYLOADS)
@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_bad_payload_quarantines_once_and_strict_raises(
    spark, name, payload_kind
):
    op, other_kind, fixed = OPERATORS[name]
    payload = {
        "empty": b"",
        "text": b"plain text, not media",
        "other_kind": other_kind,
    }[payload_kind]
    df = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id long, payload binary"
    )

    rows = op(df).collect()
    assert len(rows) == 1
    got = rows[0].asDict()
    want = {c: None for c in got}
    want["doc_id"] = 7
    want.update({c: f(payload) for c, f in fixed.items()})
    assert got == want

    with pytest.raises(PythonException, match="ValueError"):
        op(df, strict=True).collect()
