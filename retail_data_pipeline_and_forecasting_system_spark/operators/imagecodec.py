"""Stdlib-only image decoding (PNG + PPM/PGM) for the multimodal path.

No codec library ships in this environment (no PIL/ffmpeg), but PNG is
zlib + struct + per-scanline unfiltering and PPM is a text header over
raw bytes — both decodable with the standard library alone. This module
is the real body behind :func:`operators.multimodal.decode_media_real`
and the format-sniffing branch of :func:`operators.multimodal.decode_media`.

Supported:

- PNG: 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette), 4
  (gray+alpha), 6 (RGBA), non-interlaced, all five filter types
  (None/Sub/Up/Average/Paeth), multi-IDAT. CRCs are verified.
- PPM family: ``P6`` (RGB), ``P5`` (gray), maxval <= 255.

Unsupported variants (16-bit, Adam7 interlace) raise ``ValueError`` with
a precise reason — never a silent wrong decode.

Scale note: decoding is per-row CPU work with zero data dependencies, so
it lives inside the multimodal ``mapInPandas`` stage — partition-local,
no shuffle; the only knob that matters at 100 TB is
``spark.sql.files.maxPartitionBytes`` so payload-heavy partitions fit in
task memory (see operators/multimodal.py module docstring).
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# Decode-bomb guard: reject images whose raw (unfiltered) size exceeds
# this many bytes BEFORE allocating or inflating anything. An
# attacker-controlled IHDR or a small deflate bomb must fail with
# ValueError (caught by the quarantine paths), never OOM an executor.
MAX_DECODED_BYTES = 64 * 1024 * 1024

# color type -> samples per pixel (before palette expansion)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


@dataclass(frozen=True)
class DecodedImage:
    """Raw decoded image: ``pixels`` is row-major, ``channels``
    interleaved, 1 byte per sample."""

    width: int
    height: int
    channels: int  # channels of ``pixels`` AFTER palette expansion
    pixels: bytes
    format: str  # "png" | "ppm" | "pgm"


def _ppm_headerish(data: bytes) -> bool:
    """True when the bytes after a P5/P6 magic look like a real PPM
    header: whitespace, then (after optional ``#`` comment lines) a
    digit. A 2-byte magic alone matches arbitrary text ("P6 chip
    benchmarks..."); requiring the width digit keeps such payloads on
    the stub path instead of raising mid-decode."""
    pos = 2
    if pos >= len(data) or not data[pos : pos + 1].isspace():
        return False
    while pos < len(data):
        ch = data[pos : pos + 1]
        if ch.isspace():
            pos += 1
        elif ch == b"#":
            while pos < len(data) and data[pos : pos + 1] != b"\n":
                pos += 1
        else:
            return ch.isdigit()
    return False


def sniff_format(data: bytes) -> str | None:
    """Return "png" / "ppm" / "pgm" when ``data`` starts like one of the
    supported formats, else None (caller falls back to the stub). P5/P6
    additionally require a plausible header (whitespace then a digit) so
    text payloads that merely start with the two magic bytes don't
    sniff as images."""
    if data[:8] == PNG_MAGIC:
        return "png"
    if data[:2] == b"P6" and _ppm_headerish(data):
        return "ppm"
    if data[:2] == b"P5" and _ppm_headerish(data):
        return "pgm"
    return None


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Reverse PNG scanline filtering (spec §9): each scanline is a
    filter-type byte + filtered samples; reconstruction is sequential per
    line against the line above."""
    stride = width * bpp
    out = bytearray(height * stride)
    pos = 0
    for y in range(height):
        ft = raw[pos]
        pos += 1
        line = raw[pos : pos + stride]
        if len(line) != stride:
            raise ValueError("png: truncated scanline data")
        pos += stride
        off = y * stride
        prev_off = off - stride
        if ft == 0:  # None
            out[off : off + stride] = line
        elif ft == 1:  # Sub
            for i in range(stride):
                a = out[off + i - bpp] if i >= bpp else 0
                out[off + i] = (line[i] + a) & 0xFF
        elif ft == 2:  # Up
            if y == 0:
                out[off : off + stride] = line
            else:
                for i in range(stride):
                    out[off + i] = (line[i] + out[prev_off + i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = out[off + i - bpp] if i >= bpp else 0
                b = out[prev_off + i] if y > 0 else 0
                out[off + i] = (line[i] + ((a + b) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = out[off + i - bpp] if i >= bpp else 0
                b = out[prev_off + i] if y > 0 else 0
                c = out[prev_off + i - bpp] if (y > 0 and i >= bpp) else 0
                out[off + i] = (line[i] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"png: unknown filter type {ft}")
    return out


def decode_png(data: bytes) -> DecodedImage:
    """Decode a PNG byte string with the stdlib only (zlib + struct)."""
    if data[:8] != PNG_MAGIC:
        raise ValueError("png: bad signature")
    pos = 8
    width = height = bit_depth = color_type = None
    interlace = 0
    palette = b""
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[
            pos + 4 : pos + 8
        ]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError("png: truncated chunk")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: bad CRC in {ctype!r}")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif ctype == b"PLTE":
            palette = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("png: missing IHDR")
    if bit_depth != 8:
        raise ValueError(f"png: unsupported bit depth {bit_depth} (only 8)")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"png: unsupported color type {color_type}")
    if interlace != 0:
        raise ValueError("png: Adam7 interlace not supported")
    bpp = _PNG_CHANNELS[color_type]
    expected = height * (1 + width * bpp)
    # Size sanity BEFORE any allocation/inflate: a hostile IHDR
    # (4-billion-pixel dims) or deflate bomb must raise, not OOM.
    if width == 0 or height == 0:
        raise ValueError("png: zero-sized image")
    if expected > MAX_DECODED_BYTES:
        raise ValueError(
            f"png: decoded size {expected} exceeds cap {MAX_DECODED_BYTES}"
        )
    dec = zlib.decompressobj()
    # Bounded inflate: ask for at most expected+1 bytes — if the stream
    # yields more than `expected`, it's malformed (or a bomb) and we
    # stop without materializing the excess.
    raw = dec.decompress(bytes(idat), expected + 1)
    if len(raw) != expected or not dec.eof or dec.unused_data:
        raise ValueError(
            f"png: decompressed size != expected {expected}"
        )
    pixels = _unfilter(raw, width, height, bpp)
    if color_type == 3:
        if not palette or len(palette) % 3:
            raise ValueError("png: palette image without valid PLTE")
        expanded = bytearray(width * height * 3)
        for i, idx in enumerate(pixels):
            if 3 * idx + 3 > len(palette):
                raise ValueError(f"png: palette index {idx} out of range")
            expanded[3 * i : 3 * i + 3] = palette[3 * idx : 3 * idx + 3]
        return DecodedImage(width, height, 3, bytes(expanded), "png")
    return DecodedImage(width, height, bpp, bytes(pixels), "png")


def decode_ppm(data: bytes) -> DecodedImage:
    """Decode binary PPM (P6, RGB) / PGM (P5, gray), maxval <= 255."""
    if data[:2] not in (b"P6", b"P5"):
        raise ValueError("ppm: bad magic")
    fmt = "ppm" if data[:2] == b"P6" else "pgm"
    channels = 3 if fmt == "ppm" else 1
    # header: magic, width, height, maxval — whitespace separated with
    # optional '#' comment lines
    tokens: list[bytes] = []
    pos = 2
    while len(tokens) < 3:
        if pos >= len(data):
            raise ValueError("ppm: truncated header")
        ch = data[pos : pos + 1]
        if ch == b"#":
            while pos < len(data) and data[pos : pos + 1] != b"\n":
                pos += 1
        elif ch.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(data) and not data[pos : pos + 1].isspace():
                pos += 1
            tokens.append(data[start:pos])
    width, height, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError(f"ppm: maxval {maxval} > 255 not supported")
    pos += 1  # single whitespace after maxval
    pixels = data[pos : pos + width * height * channels]
    if len(pixels) != width * height * channels:
        raise ValueError("ppm: truncated pixel data")
    return DecodedImage(width, height, channels, pixels, fmt)


def decode_image(data: bytes) -> DecodedImage:
    """Sniff and decode; raises ValueError for non-image payloads AND
    for corrupt ones — truncated chunks (struct.error) and bad deflate
    streams (zlib.error) are normalized to ValueError so a caller's
    quarantine path (decode_media_real) catches every bad payload with
    one except clause instead of a job-killing surprise type."""
    fmt = sniff_format(bytes(data))
    try:
        if fmt == "png":
            return decode_png(bytes(data))
        if fmt in ("ppm", "pgm"):
            return decode_ppm(bytes(data))
    except (struct.error, zlib.error) as ex:
        raise ValueError(f"{fmt}: corrupt payload ({ex})") from ex
    raise ValueError("not a supported image format (png/ppm/pgm)")


# ------------------------------------------------------------ test helper


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    filter_type: int = 0,
) -> bytes:
    """Minimal PNG ENCODER (test fixture builder, not a product path):
    writes 8-bit gray/gray+alpha/RGB/RGBA with one fixed filter type per
    scanline. Forward-filters with the spec's definitions, so a
    round-trip through :func:`decode_png` exercises the decoder's
    unfilter logic as a genuine inverse, not a copy of it."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    raw = bytearray()
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        prev = pixels[(y - 1) * stride : y * stride] if y else b"\x00" * stride
        raw.append(filter_type)
        for i, x in enumerate(line):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if (y and i >= channels) else 0
            if filter_type == 0:
                raw.append(x)
            elif filter_type == 1:
                raw.append((x - a) & 0xFF)
            elif filter_type == 2:
                raw.append((x - (b if y else 0)) & 0xFF)
            elif filter_type == 3:
                raw.append((x - ((a + (b if y else 0)) >> 1)) & 0xFF)
            elif filter_type == 4:
                raw.append(
                    (x - _paeth(a, b if y else 0, c if y else 0)) & 0xFF
                )
            else:
                raise ValueError(f"bad filter {filter_type}")

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def read_text_chunks(data: bytes) -> list[tuple[str, str]]:
    """Extract PNG ``tEXt`` metadata chunks (the PNG spec's EXIF-role
    key/value store: ``keyword\\0text``, both Latin-1) in stream
    order, CRC-verified like every other chunk this module touches.
    Raises ``ValueError`` on a non-PNG signature, a truncated chunk, a
    bad CRC, or a tEXt body with no keyword separator — corrupt
    metadata must quarantine upstream, never decode wrong."""
    if data[:8] != PNG_MAGIC:
        raise ValueError("png: bad signature")
    pos = 8
    out: list[tuple[str, str]] = []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError("png: truncated chunk")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"png: bad CRC in {ctype!r}")
        if ctype == b"tEXt":
            sep = body.find(b"\x00")
            if sep < 0:
                raise ValueError("png: tEXt without keyword separator")
            out.append(
                (body[:sep].decode("latin-1"),
                 body[sep + 1 :].decode("latin-1"))
            )
        if ctype == b"IEND":
            break
        pos += 12 + length
    return out


def append_text_chunks(png: bytes, chunks: list[tuple[str, str]]) -> bytes:
    """Insert ``tEXt`` chunks (keyword, text) before IEND of an
    existing PNG (fixture builder for the metadata-extraction path).
    Latin-1 per the PNG spec; CRCs computed the standard way so
    :func:`read_text_chunks` exercises real verification."""
    iend = png.rfind(b"IEND") - 4
    if iend < 8:
        raise ValueError("png: no IEND to insert before")
    parts = [png[:iend]]
    for k, v in chunks:
        body = k.encode("latin-1") + b"\x00" + v.encode("latin-1")
        parts.append(
            struct.pack(">I", len(body))
            + b"tEXt"
            + body
            + struct.pack(">I", zlib.crc32(b"tEXt" + body) & 0xFFFFFFFF)
        )
    parts.append(png[iend:])
    return b"".join(parts)
