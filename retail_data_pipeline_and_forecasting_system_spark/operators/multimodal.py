"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through Spark as ``binary`` columns with struct
metadata. IMAGE decode is real: a stdlib-only PNG/PPM/PGM codec
(:mod:`operators.imagecodec` — zlib + struct + scanline unfiltering; no
PIL in this container) behind format sniffing in :func:`decode_media`
and the full :func:`decode_media_real` path. AUDIO decode is real too
(:func:`decode_audio_real` over :mod:`operators.audiocodec` — RIFF
chunk walk, 8/16-bit PCM) and VIDEO via the stdlib Y4M codec
(:func:`sample_frames_real` over :mod:`operators.videocodec`). Payloads
in none of the supported formats (the synthetic text-bytes test rows;
compressed codecs that genuinely need ffmpeg) keep a deterministic
stub: a pure function of the bytes, so tests and SQL oracles verify
the pipeline end-to-end.

Every operator here is one partition-local ``mapInPandas`` (streaming
Arrow batches, no grouping, no shuffle) built by :func:`_map_payloads`,
which owns the whole contract:

- Columns in: ``doc_id`` and ``payload`` (binary). The operator gives
  one per-payload call, ``bytes -> iterable of rows``, each row holding
  the output columns after ``doc_id`` in schema order. A payload may
  yield no rows or several; ``doc_id`` passes through onto each.
- Failure policy: a ``ValueError`` from the per-payload call re-raises
  under ``strict=True``; otherwise the payload yields ONE quarantine
  row, NULL in every column except ``doc_id`` and the operator's fixed
  values (``n_bytes`` for the two decoders, ``frame_idx`` 0 for the two
  frame samplers). A 100 TB corpus quarantines bad payloads, it does not
  die on one; corrupt and empty stay distinguishable.
- Dtypes: each output column's pandas dtype is derived once from the
  output ``StructType`` (integers as ``Int32``/``Int64``, nullable or
  not as declared; doubles as ``float64``), so a NULL stays NULL and an
  integer stays an integer on the way into Arrow.

Test corpora come from :func:`_synthesize`: id -> one genuinely encoded
payload, partition-local the same way.

At scale: binary payloads dominate partition size, so the reader should cap
``spark.sql.files.maxPartitionBytes``; the decode stage is one pass, no
shuffle, CPU-bound — exactly the shape a real decoder (PIL/ffmpeg) slots
into by replacing one per-payload call.
"""

from __future__ import annotations

import hashlib
import math
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import audiocodec, imagecodec, videocodec

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

_INT_BITS = {T.IntegerType: 32, T.LongType: 64}


def _pandas_dtypes(schema: T.StructType) -> dict[str, str]:
    """pandas dtype of every integer and double column after ``doc_id``;
    string and binary columns stay ``object``."""
    dtypes = {}
    for f in schema.fields[1:]:
        kind = type(f.dataType)
        if kind in _INT_BITS:
            prefix = "Int" if f.nullable else "int"
            dtypes[f.name] = f"{prefix}{_INT_BITS[kind]}"
        elif kind is T.DoubleType:
            dtypes[f.name] = "float64"
    return dtypes


def _map_payloads(
    df: DataFrame,
    schema: T.StructType,
    per_payload: Callable[[bytes], Iterable[tuple]],
    strict: bool = False,
    quarantine: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """The one ``mapInPandas`` driver behind every operator in this
    module (contract in the module docstring). ``quarantine(payload)``
    names the non-NULL columns of a failed payload's row."""
    names = schema.names
    dtypes = _pandas_dtypes(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                data = bytes(payload)
                try:
                    out = list(per_payload(data))
                except ValueError:
                    if strict:
                        raise
                    fixed = quarantine(data) if quarantine else {}
                    out = [tuple(fixed.get(n) for n in names[1:])]
                rows.extend((doc_id, *row) for row in out)
            cols = list(zip(*rows)) or [()] * len(names)
            yield pd.DataFrame(
                {
                    n: pd.Series(c, dtype=dtypes.get(n))
                    for n, c in zip(names, cols)
                }
            )

    return df.mapInPandas(run, schema=schema)


def _synthesize(df: DataFrame, encode: Callable[[int], bytes]) -> DataFrame:
    """Test-corpus builder: each ``doc_id`` becomes the payload
    ``encode(id)`` — (doc_id, payload) rows, mirroring a real payload
    fetch (id -> bytes)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids = batch["doc_id"].astype("int64")
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [encode(int(i)) for i in ids]}
            )

    return df.mapInPandas(run, schema=PAYLOAD_SCHEMA)


def _keep_n_bytes(data: bytes) -> dict:
    return {"n_bytes": len(data)}


def _first_frame(data: bytes) -> dict:
    return {"frame_idx": 0}


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("content_md5", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def _fake_dims(n_bytes):
    """Deterministic stand-in for decoded media dimensions (an int or a
    pandas Series of byte counts)."""
    width = 16 + (n_bytes % 617)
    height = 16 + ((n_bytes * 31) % 469)
    return width, height


def _stub_decoded(data: bytes) -> dict:
    n = len(data)
    width, height = _fake_dims(n)
    return {
        "n_bytes": n,
        "content_md5": hashlib.md5(data).hexdigest(),
        "width": width,
        "height": height,
    }


def read_binary_files(spark, path_glob: str) -> DataFrame:
    """Real media ingestion path: Spark's ``binaryFile`` source — one row
    per file with (path, modificationTime, length, content binary). Feed
    the result to :func:`decode_media` after renaming ``content`` to
    ``payload`` and deriving an id. At scale, cap partition size via
    ``spark.sql.files.maxPartitionBytes`` so large payloads don't blow up
    task memory."""
    df = spark.read.format("binaryFile").load(path_glob)
    return df.select(
        F.abs(F.hash("path")).cast("long").alias("doc_id"),
        F.col("path"),
        F.col("length").cast("int").alias("n_bytes_meta"),
        F.col("content").alias("payload"),
    )


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Testdata shim: treat the utf-8 bytes of ``text`` as the opaque
    media payload (real pipelines read payloads from object storage or
    ``binaryFile`` sources)."""
    return df.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )


def decode_media(df: DataFrame) -> DataFrame:
    """binary payload -> (n_bytes, content_md5, width, height).

    The codec slot: a payload that sniffs as PNG/PPM/PGM gets its TRUE
    dims from the stdlib decoder (all filter types, CRC-checked); any
    other payload (the synthetic text-bytes rows) keeps the
    deterministic :func:`_fake_dims` stub so the SQL oracles stay exact.
    A payload that sniffs like an image but does not decode (corrupt
    body, unsupported variant) quarantines to the same stub row — it
    never kills the job.
    """

    def decode(data: bytes):
        if imagecodec.sniff_format(data) is None:
            return [tuple(_stub_decoded(data).values())]
        img = imagecodec.decode_image(data)
        md5 = hashlib.md5(data).hexdigest()
        return [(len(data), md5, img.width, img.height)]

    return _map_payloads(df, DECODED_SCHEMA, decode, quarantine=_stub_decoded)


REAL_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("pixel_md5", T.StringType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
    ]
)


def decode_media_real(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL decode path — stdlib PNG/PPM/PGM codec
    (:mod:`operators.imagecodec`), no external library.

    Emits per-image typed metadata plus two pixel-derived columns that
    prove the decode actually ran: ``pixel_md5`` (md5 of the raw decoded
    pixel bytes — filter-independent, so the same image encoded with
    different PNG filters hashes identically) and ``mean_luma`` (mean of
    all samples, double). Non-image / unsupported payloads quarantine
    (``format`` NULL, ``n_bytes`` kept).
    """

    def decode(data: bytes):
        img = imagecodec.decode_image(data)
        px = img.pixels
        yield (
            len(data), img.format, img.width, img.height, img.channels,
            hashlib.md5(px).hexdigest(), sum(px) / len(px) if px else None,
        )

    return _map_payloads(
        df, REAL_DECODED_SCHEMA, decode, strict, quarantine=_keep_n_bytes
    )


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bit_depth", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
        T.StructField("pcm_md5", T.StringType(), True),
        T.StructField("mean_amp", T.DoubleType(), True),
    ]
)


def decode_audio_real(df: DataFrame, strict: bool = False) -> DataFrame:
    """REAL audio decode path — stdlib RIFF/WAVE PCM codec
    (:mod:`operators.audiocodec`), no external library; the audio twin of
    :func:`decode_media_real`.

    Emits per-clip typed metadata plus two sample-derived columns that
    prove the decode actually ran: ``pcm_md5`` (md5 of the raw data-chunk
    PCM bytes, i.e. of the decoded payload after the chunk walk stripped
    headers/JUNK chunks) and ``mean_amp`` (mean of all decoded samples,
    centred — 8-bit WAV's unsigned+128-bias handled by
    :func:`audiocodec.samples_int`). Non-WAV / corrupt / unsupported
    payloads quarantine (``format`` NULL, ``n_bytes`` kept).
    """

    def decode(data: bytes):
        audio = audiocodec.decode_audio(data)
        samples = audiocodec.samples_int(audio)
        yield (
            len(data), "wav", audio.sample_rate, audio.channels,
            audio.bit_depth, audio.n_samples,
            # raw IEEE division (no round): bit-identical in any
            # engine computing n*1000.0/rate as doubles — rule 2
            audio.n_samples * 1000.0 / audio.sample_rate,
            hashlib.md5(audio.pcm).hexdigest(),
            sum(samples) / len(samples) if samples else None,
        )

    return _map_payloads(
        df, AUDIO_SCHEMA, decode, strict, quarantine=_keep_n_bytes
    )


def synthesize_wav_payloads(df: DataFrame) -> DataFrame:
    """Deterministic REAL-WAV payload synthesis (test corpus builder):
    each id becomes a genuine RIFF/WAVE file — 8-bit mono PCM,
    ``16 + id%37`` samples of uniform unsigned value ``32 + id%95``
    (printable-ASCII range so a SQL oracle can md5 the identical PCM
    bytes via ``repeat(chr(v), n)`` — the m10 pixel_md5 play), sample
    rate ``8000 + 1000*(id%5)``. Every third clip carries an odd-length
    LIST junk chunk before ``data``, so decoding the corpus proves the
    chunk walk (incl. the pad byte) rather than a fixed 44-byte-header
    assumption — and the junk never changes the decoded output, which
    is what keeps the oracle closed-form.
    """

    def encode(i: int) -> bytes:
        return audiocodec.encode_wav(
            bytes([32 + i % 95]) * (16 + i % 37),
            sample_rate=8000 + 1000 * (i % 5),
            bit_depth=8,
            channels=1,
            junk_chunk=(i % 3 == 0),
        )

    return _synthesize(df, encode)


def synthesize_png_payloads(df: DataFrame) -> DataFrame:
    """Deterministic REAL-PNG payload synthesis (test corpus builder):
    each id becomes a genuine Paeth-filtered, zlib-compressed 8-bit
    grayscale PNG of ``(4 + id%13) x (3 + id%11)`` uniform pixels valued
    ``32 + id%95`` (printable-ASCII range so a SQL oracle can md5 the
    same pixel bytes via ``repeat(chr(v), n)``). Decoding these through
    :func:`decode_media_real` closes a real compress->decompress->
    unfilter loop on the executors — not a stub.
    """

    def encode(i: int) -> bytes:
        w, h = 4 + i % 13, 3 + i % 11
        return imagecodec.encode_png(
            w, h, 1, bytes([32 + i % 95]) * (w * h), filter_type=4
        )

    return _synthesize(df, encode)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("rs_width", T.IntegerType(), True),
        T.StructField("rs_height", T.IntegerType(), True),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("frame_md5", T.StringType(), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("dim_idx", T.IntegerType(), False),
        T.StructField("feat", T.IntegerType(), True),
    ]
)


def resize_media(df: DataFrame, target: int = 224) -> DataFrame:
    """Aspect-preserving resize to ``target`` on the long edge (stub codec
    — dimension math only, declared-dims in, no pixel access; the REAL
    pixel path is :func:`resize_media_real`). Scale factor and floor are
    plain IEEE double ops so the SQL oracle reproduces them bit-for-bit.
    """

    def resize(data: bytes):
        width, height = _fake_dims(len(data))
        scale = float(target) / max(width, height)
        yield (
            width, height,
            math.floor(width * scale), math.floor(height * scale),
        )

    return _map_payloads(df, RESIZED_SCHEMA, resize)


def sample_frames(df: DataFrame, max_frames: int = 4) -> DataFrame:
    """Evenly-spaced frame sampling from a (stub) video payload.

    One input row fans out to ``1 + n_bytes % max_frames`` frame rows
    inside the batch generator, so the fan-out never materializes a
    whole group (unlike explode-after-collect designs). The stub treats
    1 payload byte = 1 ms of video; a real sampler would call ffmpeg per
    payload with the same (doc_id, frame_idx, ts_ms) shape.
    """

    def frames(data: bytes):
        n_frames = 1 + len(data) % max_frames
        step = len(data) // n_frames
        for i in range(n_frames):
            md5 = hashlib.md5(data + f":{i}".encode()).hexdigest()
            yield i, i * step, md5

    return _map_payloads(df, FRAMES_SCHEMA, frames)


FRAMES_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("frame_md5", T.StringType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
    ]
)


def sample_frames_real(
    df: DataFrame, max_frames: int = 8, strict: bool = False
) -> DataFrame:
    """REAL video frame sampling — stdlib Y4M codec
    (:mod:`operators.videocodec`), no ffmpeg; the video twin of
    :func:`decode_media_real`.

    Decodes the stream's true frame count, selects up to ``max_frames``
    evenly-spaced frames (``floor(j * n / max_frames)``), and emits per
    selected frame: its true index, the true frame timestamp from the
    stream's fps (``idx * 1000 * fps_den // fps_num`` ms, exact integer
    math), ``frame_md5`` (md5 of the decoded LUMA plane — proves the
    planar slicing ran) and ``mean_luma``. Non-Y4M / corrupt payloads
    yield ONE quarantine row (``frame_idx`` 0, ``n_frames`` NULL).
    """

    def frames(data: bytes):
        vid = videocodec.decode_y4m(data)
        n = vid.n_frames
        if n <= max_frames:
            picks = range(n)
        else:
            picks = [j * n // max_frames for j in range(max_frames)]
        for idx in picks:
            y = vid.y_plane(idx)
            yield (
                idx, n, vid.width, vid.height,
                idx * 1000 * vid.fps_den // vid.fps_num,
                hashlib.md5(y).hexdigest(), sum(y) / len(y) if y else None,
            )

    return _map_payloads(
        df, FRAMES_REAL_SCHEMA, frames, strict, quarantine=_first_frame
    )


def synthesize_y4m_payloads(df: DataFrame) -> DataFrame:
    """Deterministic REAL-Y4M payload synthesis (test corpus builder):
    each id becomes a genuine YUV4MPEG2 stream — C420, 25 fps,
    ``2*(2 + id%4) x 2*(1 + id%3)`` pixels, ``1 + id%6`` frames, frame k
    a uniform luma plane valued ``32 + (id + 7*k) % 95``
    (printable-ASCII range so a SQL oracle can md5 the identical luma
    bytes via ``repeat(chr(v), w*h)`` — the m10/m11 play; chroma planes
    are neutral 128 and deliberately excluded from the hash). Each FRAME
    line carries an ``Xsynth`` parameter so decoding the corpus proves
    per-frame-parameter tolerance, not a bare-marker assumption.
    """

    def encode(i: int) -> bytes:
        w, h = 2 * (2 + i % 4), 2 * (1 + i % 3)
        frames = [
            bytes([32 + (i + 7 * k) % 95]) * (w * h) for k in range(1 + i % 6)
        ]
        return videocodec.encode_y4m(
            w, h, frames, fps=(25, 1), frame_param=b" Xsynth"
        )

    return _synthesize(df, encode)


def extract_features(df: DataFrame, dims: int = 8) -> DataFrame:
    """Per-payload feature vector (stub encoder), exploded to
    (doc_id, dim_idx, feat) rows.

    The stub derives dimension i from the i-th md5 nibble of the payload —
    deterministic and oracle-able. A real encoder (CLIP, wav2vec) replaces
    the nibble math and widens ``feat`` to float; the exploded long-format
    output is deliberate: it joins/aggregates without array-equality
    headaches and writes to columnar storage efficiently. The REAL
    decoded-pixel statistics path is :func:`extract_features_real`.
    """

    def features(data: bytes):
        hx = hashlib.md5(data).hexdigest()
        for i in range(1, dims + 1):
            yield i, int(hx[i - 1], 16)

    return _map_payloads(df, FEATURES_SCHEMA, features)


AUDIO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zcr", T.IntegerType(), True),
        T.StructField("mean_amp", T.DoubleType(), True),
    ]
)


def audio_frame_features(
    df: DataFrame, frame: int = 16, hop: int = 16, strict: bool = False
) -> DataFrame:
    """Librosa-style frame-level audio features over REAL decoded PCM:
    decode the WAV payload (:mod:`operators.audiocodec`), split the
    centred sample stream into fixed ``frame``-sample windows at
    ``hop``-sample stride (trailing partial window dropped, the librosa
    ``center=False`` convention), and emit per frame: RMS energy
    (sqrt of mean squared sample), zero-crossing COUNT (sign products
    < 0 between consecutive samples — the VAD/speech-music primitive),
    and mean amplitude. Multi-channel clips are framed on the
    interleaved stream (callers wanting per-channel features split
    first). Non-WAV / corrupt payloads yield one quarantine row
    (``frame_idx`` 0, ``n_frames`` NULL). A real mel/MFCC extractor
    replaces the numpy kernel.
    """

    def frames(data: bytes):
        audio = audiocodec.decode_audio(data)
        x = np.asarray(audiocodec.samples_int(audio), dtype="float64")
        n_frames = max(0, (len(x) - frame) // hop + 1)
        if n_frames == 0:
            # a VALID clip shorter than one window must stay visible
            # (n_frames 0), not vanish — else short clips are
            # indistinguishable from never-ingested docs downstream
            yield 0, 0, None, None, None
        for k in range(n_frames):
            w = x[k * hop : k * hop + frame]
            yield (
                k, n_frames, float(np.sqrt(np.mean(w * w))),
                int(np.sum(w[1:] * w[:-1] < 0)), float(np.mean(w)),
            )

    return _map_payloads(
        df, AUDIO_FRAMES_SCHEMA, frames, strict, quarantine=_first_frame
    )


def synthesize_square_wav_payloads(df: DataFrame) -> DataFrame:
    """Deterministic square-wave WAV synthesis (m13 corpus builder):
    each id becomes a genuine 8-bit mono RIFF file of ``16*(1 + id%4)``
    samples — a period-``2^(1 + id%3)`` square wave of amplitude
    ``1 + id%90`` around the 8-bit 128 bias. Periods divide the
    16-sample analysis window, so every frame's features are closed
    form: RMS = the amplitude exactly (sqrt of a perfect square),
    zero-crossing count = floor(15/(period/2)), mean = 0 — an oracle
    can state them without decoding anything, while the engine path
    genuinely decodes, centres, and frames real bytes.
    """

    def encode(i: int) -> bytes:
        p, v = 2 ** (1 + i % 3), 1 + i % 90
        pcm = bytes(
            128 + v if (j % p) < p // 2 else 128 - v
            for j in range(16 * (1 + i % 4))
        )
        return audiocodec.encode_wav(
            pcm, sample_rate=8000, bit_depth=8, channels=1
        )

    return _synthesize(df, encode)


def _gradient_png(i: int, phase: int = 0) -> bytes:
    """The ``(4 + i%13) x (3 + i%11)`` Paeth-filtered gradient PNG with
    ``pixel(x, y) = 32 + (x + 3*y + phase) % 95``."""
    w, h = 4 + i % 13, 3 + i % 11
    px = bytes(32 + (x + 3 * y + phase) % 95 for y in range(h) for x in range(w))
    return imagecodec.encode_png(w, h, 1, px, filter_type=4)


def synthesize_gradient_png_payloads(
    df: DataFrame, per_id_phase: bool = False
) -> DataFrame:
    """Deterministic REAL-PNG gradient synthesis (m15/m16/m17 corpus
    builder): each id becomes a genuine Paeth-filtered zlib-compressed
    8-bit grayscale PNG of ``(4 + id%13) x (3 + id%11)`` pixels valued
    ``pixel(x, y) = 32 + (x + 3*y + phase) % 95`` — NON-uniform, so a
    resize or feature kernel that samples the wrong source pixel
    produces a different byte stream (the uniform m10 corpus cannot
    catch that), while every pixel stays closed-form/printable-ASCII so
    a SQL oracle reconstructs the exact grid with integer arithmetic.
    ``per_id_phase=False`` (m15/m16) uses phase 0 — same-dims images
    are identical; ``True`` (m17) uses ``phase = id`` so image CONTENT
    varies per id and content-grouping operators have real work. Paeth
    filtering over a gradient exercises the decoder's unfilter path on
    non-trivial predictors.
    """
    return _synthesize(
        df, lambda i: _gradient_png(i, i if per_id_phase else 0)
    )


def _nn_indices(out_n: int, src_n: int):
    """All-integer nearest-neighbor source indices for ``out_n``
    samples over a ``src_n``-long axis: ``idx[k] = (k*src_n)//out_n``
    — the exactly-oracle-able gather shared by resize and dHash."""
    return (np.arange(out_n, dtype=np.int64) * src_n) // out_n


RESIZED_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("rs_width", T.IntegerType(), True),
        T.StructField("rs_height", T.IntegerType(), True),
        T.StructField("resized_md5", T.StringType(), True),
        T.StructField("rs_mean_luma", T.DoubleType(), True),
    ]
)


def resize_media_real(
    df: DataFrame, target: int = 8, strict: bool = False
) -> DataFrame:
    """REAL aspect-preserving resize over DECODED pixels — the real
    twin of the :func:`resize_media` dimension-math stub (the play
    m13 ran for audio): decode the payload via the stdlib codec
    (:mod:`operators.imagecodec`), nearest-neighbor resample every
    channel plane in numpy to ``target`` on the long edge, and emit
    true output dims plus two pixel-derived proofs that the resample
    actually ran: ``resized_md5`` (md5 of the resized interleaved
    pixel bytes) and ``rs_mean_luma`` (mean of all resized samples).

    Resample semantics are ALL-INTEGER so a SQL oracle reproduces them
    exactly: output dims ``rs = max(1, (dim * target) // long_edge)``
    (long edge lands on ``target`` exactly when it divides), source
    index ``src[j] = (j * src_dim) // out_dim`` — the classic
    floor-NN mapping, upsample and downsample alike. Non-image /
    unsupported payloads quarantine (NULL row). A real box/Lanczos
    kernel replaces the numpy gather.
    """

    def resize(data: bytes):
        img = imagecodec.decode_image(data)
        w, h, c = img.width, img.height, img.channels
        long_edge = max(w, h)
        rw = max(1, (w * target) // long_edge)
        rh = max(1, (h * target) // long_edge)
        arr = np.frombuffer(img.pixels, dtype=np.uint8).reshape(h, w, c)
        rs = arr[_nn_indices(rh, h)][:, _nn_indices(rw, w)]
        rs_bytes = rs.tobytes()
        yield (
            w, h, rw, rh, hashlib.md5(rs_bytes).hexdigest(),
            float(int(rs.sum(dtype=np.int64))) / len(rs_bytes),
        )

    return _map_payloads(df, RESIZED_REAL_SCHEMA, resize, strict)


VISUAL_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_pixels", T.IntegerType(), True),
        T.StructField("sum_px", T.LongType(), True),
        T.StructField("mean_px", T.DoubleType(), True),
        T.StructField("min_px", T.IntegerType(), True),
        T.StructField("max_px", T.IntegerType(), True),
        T.StructField("h_edges", T.IntegerType(), True),
        T.StructField("v_edges", T.IntegerType(), True),
    ]
)


def extract_features_real(
    df: DataFrame, edge_thresh: int = 8, strict: bool = False
) -> DataFrame:
    """REAL per-image visual features over DECODED pixels — the real
    twin of the :func:`extract_features` md5-nibble stub (the image
    counterpart of :func:`audio_frame_features`): decode via the
    stdlib codec and emit exactly-defined pixel statistics —
    ``n_pixels``/``sum_px``/``mean_px``/``min_px``/``max_px`` over ALL
    samples, plus ``h_edges``/``v_edges``: counts of adjacent
    channel-0 sample pairs (horizontal resp. vertical neighbors)
    whose absolute difference is ``>= edge_thresh`` — a gradient /
    edge-density primitive (the cheap proxy real curation pipelines
    threshold on before an expensive embed). Channel 0 (luma for
    grayscale, R for RGB) keeps the metric integer-exact; callers
    wanting true luma convert first. ``mean_px`` is one raw IEEE
    division of integer sum by integer count — bit-identical in any
    engine. Non-image payloads quarantine (NULL row). The numpy diff
    kernel is the slot a real feature extractor (CLIP embed) fills.
    """

    def features(data: bytes):
        img = imagecodec.decode_image(data)
        arr = np.frombuffer(img.pixels, dtype=np.uint8)
        plane = arr.reshape(img.height, img.width, img.channels)[
            :, :, 0
        ].astype(np.int64)
        hd = np.abs(np.diff(plane, axis=1))
        vd = np.abs(np.diff(plane, axis=0))
        total = int(arr.sum(dtype=np.int64))
        yield (
            img.width, img.height, img.channels, arr.size, total,
            float(total) / arr.size, int(arr.min()), int(arr.max()),
            int((hd >= edge_thresh).sum()), int((vd >= edge_thresh).sum()),
        )

    return _map_payloads(df, VISUAL_FEATURES_SCHEMA, features, strict)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("dhash_hi", T.LongType(), True),
        T.StructField("dhash_lo", T.LongType(), True),
    ]
)


def perceptual_hash(df: DataFrame, strict: bool = False) -> DataFrame:
    """Difference hash (dHash) over REAL decoded pixels — the standard
    perceptual image fingerprint: NN-resample the channel-0 plane to a
    ``grid_w x grid_h`` grid (9x8, the canonical dHash shape)
    with the same all-integer mapping as :func:`resize_media_real`
    (``src = (j*src_dim) // out_dim``), then bit ``i*(grid_w-1)+j`` is
    set iff ``grid[i][j+1] > grid[i][j]`` — 64 bits capturing local
    gradient STRUCTURE, invariant to resolution and monotone brightness
    shifts (unlike m14's exact pixel md5, which only unifies encodings
    of bit-identical pixels). Emitted as two non-negative 32-bit halves
    (``dhash_hi`` = grid rows 0..3, ``dhash_lo`` = rows 4..7) so a SQL
    oracle sums powers of two without BIGINT sign overflow, and
    Hamming-band blocking (the d5 pigeonhole play) can reuse either
    half as a coarse bucket. Non-image payloads quarantine (NULL row).
    Grouping / banding on the emitted 16 bytes is the caller's (m17's)
    one digest-sized exchange.
    """
    grid_w, grid_h = 9, 8
    half = grid_h // 2

    def dhash(data: bytes):
        img = imagecodec.decode_image(data)
        w, h = img.width, img.height
        plane = np.frombuffer(img.pixels, dtype=np.uint8).reshape(
            h, w, img.channels
        )[:, :, 0]
        g = plane[_nn_indices(grid_h, h)][:, _nn_indices(grid_w, w)].astype(
            np.int64
        )
        bits = g[:, 1:] > g[:, :-1]  # grid_h x (grid_w-1)
        shifts = np.arange(grid_w - 1, dtype=np.int64)
        row_vals = (bits.astype(np.int64) << shifts).sum(axis=1)
        row_shift = np.int64(grid_w - 1)
        hi = int(
            (row_vals[:half]
             << (np.arange(half, dtype=np.int64) * row_shift)).sum()
        )
        lo = int(
            (row_vals[half:]
             << (np.arange(grid_h - half, dtype=np.int64)
                 * row_shift)).sum()
        )
        yield w, h, hi, lo

    return _map_payloads(df, DHASH_SCHEMA, dhash, strict)


def dhash_neardup_pairs(
    hashed: DataFrame,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    grid_w: int = 9,
    grid_h: int = 8,
) -> DataFrame:
    """All image pairs within ``max_hamming`` bits on the dHash
    (columns ``doc_id``/``dhash_hi``/``dhash_lo`` from
    :func:`perceptual_hash`) — WITHOUT all-pairs: the 64-bit
    fingerprint splits into 4 16-bit bands, and a pair differing in
    <= 3 bits must agree exactly in at least one band (pigeonhole), so
    candidates come from 4 band-bucket equi-joins and a row-local XOR
    popcount verifies; ``distinct`` collapses multi-band hits.
    Recall-LOSSLESS for ``max_hamming <= 3`` (enforced — 4 bands
    cannot pigeonhole 4 scattered flips). Output: (doc_a, doc_b,
    hamming), doc_a < doc_b.

    ``grid_w``/``grid_h`` must match the :func:`perceptual_hash` call
    that produced ``hashed`` and are validated here: the band split is
    only correct when each hash half carries exactly 32 bits
    (``(grid_w-1) * (grid_h//2) == 32`` per half — the default 9x8, or
    e.g. 5x16); any other grid raises rather than silently losing
    recall on bits above the banded 32.

    ``max_bucket`` is the enforced hot-key cap (d3/d17 house rule):
    band buckets holding more than ``max_bucket`` rows are dropped
    WHOLE before the pair join, capping per-key fanout at
    ``max_bucket²`` — a degenerate band value (e.g. flat-color images
    hashing to a constant band) can no longer make one bucket
    quadratic. A pair is then emitted iff it agrees in at least one
    surviving band; callers' oracles must mirror the same rule.
    ``None`` disables the cap.

    Scale: one exchange per join side on the 16-bit bucket keys (the
    bucket-count filter shuffles on the SAME keys); pair volume is the
    sum of per-bucket products (never corpus²), bounded by
    ``max_bucket``.
    """
    if max_hamming > 3:
        raise ValueError(
            f"4 fixed bands pigeonhole at most 3 flips; got {max_hamming}"
        )
    half = grid_h // 2
    if (grid_w - 1) * half != 32 or (grid_w - 1) * (grid_h - half) != 32:
        raise ValueError(
            "dhash_neardup_pairs bands 32-bit halves into 4x16 bits; "
            f"grid {grid_w}x{grid_h} gives {(grid_w - 1) * half}/"
            f"{(grid_w - 1) * (grid_h - half)}-bit halves — incompatible"
        )
    bands = hashed.select(
        "doc_id", "dhash_hi", "dhash_lo",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band"),
                    F.col("dhash_hi").bitwiseAND(F.lit(65535)).alias("bval"),
                ),
                F.struct(
                    F.lit(1).alias("band"),
                    F.shiftright("dhash_hi", 16).alias("bval"),
                ),
                F.struct(
                    F.lit(2).alias("band"),
                    F.col("dhash_lo").bitwiseAND(F.lit(65535)).alias("bval"),
                ),
                F.struct(
                    F.lit(3).alias("band"),
                    F.shiftright("dhash_lo", 16).alias("bval"),
                ),
            )
        ).alias("bk"),
    ).select(
        "doc_id", "dhash_hi", "dhash_lo",
        F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"),
    )
    if max_bucket is not None:
        cool = (
            bands.groupBy("band", "bval")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band", "bval")
        )
        bands = bands.join(cool, on=["band", "bval"])
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("dhash_hi").alias("a_hi"),
        F.col("dhash_lo").alias("a_lo"), "band", "bval",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("dhash_hi").alias("b_hi"),
        F.col("dhash_lo").alias("b_lo"), "band", "bval",
    )
    ham = (
        F.bit_count(F.col("a_hi").bitwiseXOR(F.col("b_hi")))
        + F.bit_count(F.col("a_lo").bitwiseXOR(F.col("b_lo")))
    )
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(ham <= max_hamming)
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .distinct()
    )


SCENE_CUTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("n_cuts", T.IntegerType(), True),
        T.StructField("first_cut_idx", T.IntegerType(), True),
        T.StructField("mean_mad", T.DoubleType(), True),
    ]
)


def scene_cuts(
    df: DataFrame, thresh: float = 50.0, strict: bool = False
) -> DataFrame:
    """Scene-cut detection over REAL decoded video — the temporal
    feature of the codec family (decode: m12; spatial: m16; spectral:
    m13): decode the Y4M stream (:mod:`operators.videocodec`), compute
    the mean absolute LUMA difference (MAD) between every consecutive
    frame pair, and call a cut where ``MAD >= thresh`` — the classic
    shot-boundary primitive a video curation pipeline runs before
    per-scene frame sampling (one keyframe per scene beats every-N
    sampling for training-data diversity). Emits per clip: true frame
    count, cut count, first cut's frame index (NULL when no cut) and
    the mean MAD across pairs (NULL for single-frame clips — no pair
    exists, which must stay distinguishable from a quiet clip).
    Chroma is deliberately excluded (luma carries scene identity; the
    m12 convention). Non-Y4M / corrupt payloads quarantine (NULL row).
    Frames never leave the task that decoded them — at 100 TB the
    operator scales by executors, and only clip-grain stats cross the
    wire.
    """

    def cuts(data: bytes):
        vid = videocodec.decode_y4m(data)
        n = vid.n_frames
        mads = []
        prev = None
        for idx in range(n):
            y = np.frombuffer(vid.y_plane(idx), dtype=np.uint8).astype(np.int64)
            if prev is not None:
                mads.append(float(np.abs(y - prev).mean()))
            prev = y
        at = [k + 1 for k, m in enumerate(mads) if m >= thresh]
        yield (
            n, len(at), at[0] if at else None,
            sum(mads) / len(mads) if mads else None,
        )

    return _map_payloads(df, SCENE_CUTS_SCHEMA, cuts, strict)


PNG_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("meta_key", T.StringType(), True),
        T.StructField("meta_value", T.StringType(), True),
    ]
)


def synthesize_png_with_text(df: DataFrame) -> DataFrame:
    """Gradient PNGs carrying REAL ``tEXt`` metadata chunks (m20 corpus
    builder): every id gets ``source = cam-<id%7>``; ids divisible by 3
    also get ``author = u<id%11>`` — closed-form strings a SQL oracle
    regenerates exactly."""

    def encode(i: int) -> bytes:
        chunks = [("source", f"cam-{i % 7}")]
        if i % 3 == 0:
            chunks.append(("author", f"u{i % 11}"))
        return imagecodec.append_text_chunks(_gradient_png(i), chunks)

    return _synthesize(df, encode)


def extract_png_metadata(df: DataFrame, strict: bool = False) -> DataFrame:
    """PNG ``tEXt`` metadata extraction (the EXIF-role sidecar read a
    multimodal catalog runs at ingest): one (doc_id, meta_key,
    meta_value) row per tEXt chunk, in stream order. A VALID PNG with
    no metadata emits no rows (absence is a legitimate answer —
    downstream joins are left joins); a NON-decodable or CRC-corrupt
    payload emits one quarantine row (NULL key/value) — corrupt and
    empty must stay distinguishable.
    """
    return _map_payloads(
        df, PNG_META_SCHEMA, imagecodec.read_text_chunks, strict
    )
