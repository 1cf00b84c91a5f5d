"""Media codecs for the X5 multimodal path.

The container ships no image/audio libraries (PIL, cv2, soundfile), so
"real decode" here means real *formats* decoded with real *parsers*
built on the stdlib and numpy: PNG via zlib/struct (signature, chunked
layout, CRC validation, inflate, all five scanline filters, Adam7
interlace, palette+tRNS), WAV via the `wave` module plus direct RIFF
walks for the non-PCM codings (G.711 mu-law/A-law, IMA ADPCM, 32-bit
IEEE float), JPEG via T.81 Huffman codecs (sequential DCT,
progressive, and lossless DPCM), animated GIF via an LZW
decoder/encoder pair, and Motion-JPEG video in RIFF/AVI, ISO-BMFF/MP4
and EBML/MKV containers (see the sections below).  These are complete
for the subset each section declares — and raise on anything else
rather than guessing.

Everything is a pure bytes->values function with no Spark imports, so
the functions unit-test without a session.  numpy is a hard import:
the Arrow workers that run these codecs inside mapInPandas need
pandas, and so numpy, already.  The batched DCT/IDCT, quantization,
color conversion and sample gathers are numpy array code; the
bit-serial entropy coders and container walks are plain Python.

Reference scope note: the reference engine has no media path at all;
this implements SURVEY.md §2.13's multimodal column contract.
"""

from __future__ import annotations

import gzip
import io
import math
import struct
import wave
import zlib

import numpy as _np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
WAV_MAGIC = b"RIFF"

# PNG color type -> samples per pixel (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}  # type 3: 1 index/px


def png_encode(
    pixels: bytes, width: int, height: int, color_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """Encode raw 8-bit samples as a real PNG (sequential, or Adam7
    when ``interlace`` is set — seven gathered sub-images, filter 0).

    `pixels` is the concatenation of scanlines, `channels * width *
    height` bytes.  Output parses in any standards-compliant reader.
    """
    channels = _CHANNELS[color_type]
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"pixel payload {len(pixels)}B != {width}x{height}x{channels}"
        )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, color_type, 0, 0, 1 if interlace else 0
    )
    stride = width * channels
    if not interlace:
        raw = b"".join(
            b"\x00" + pixels[y * stride : (y + 1) * stride]
            for y in range(height)
        )
    else:
        parts = []
        for x0, xs, y0, ys, pw, ph in _adam7_passes(width, height):
            for py in range(ph):
                oy = y0 + py * ys
                line = bytearray([0])
                for px_i in range(pw):
                    ox = x0 + px_i * xs
                    src = (oy * width + ox) * channels
                    line += pixels[src : src + channels]
                parts.append(bytes(line))
        raw = b"".join(parts)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _png_apply_palette(indices, width, height, palette, trns):
    """Expand palette indices to RGB (or RGBA when a tRNS chunk gives
    per-entry alpha) — the color-type-3 completion of png_decode."""
    if palette is None:
        raise ValueError("palettized PNG lacks a PLTE chunk")
    n_entries = len(palette) // 3
    channels = 4 if trns is not None else 3
    out = bytearray(width * height * channels)
    for i, idx in enumerate(indices):
        if idx >= n_entries:
            raise ValueError(
                f"palette index {idx} out of range ({n_entries} entries)"
            )
        base = i * channels
        out[base : base + 3] = palette[idx * 3 : idx * 3 + 3]
        if channels == 4:
            out[base + 3] = trns[idx] if idx < len(trns) else 255
    return width, height, channels, bytes(out)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Adam7 pass geometry: (x_start, x_step, y_start, y_step)
_ADAM7 = (
    (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
    (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
)


def _adam7_passes(width: int, height: int):
    """Yield (x0, xs, y0, ys, pw, ph) for each NON-EMPTY Adam7 pass —
    one definition of the pass dimensions and the empty-pass skip, so
    the encoder and decoder can never disagree on them."""
    for x0, xs, y0, ys in _ADAM7:
        pw = (width - x0 + xs - 1) // xs if width > x0 else 0
        ph = (height - y0 + ys - 1) // ys if height > y0 else 0
        if pw and ph:
            yield x0, xs, y0, ys, pw, ph


def _png_unfilter(raw: bytes, offset: int, width: int, height: int,
                  channels: int) -> bytearray:
    """Reconstruct one filtered sub-image (the spec's filter types
    None/Sub/Up/Average/Paeth) starting at `offset` in the inflated
    stream; returns the raster (the caller advances by
    (width*channels + 1) * height)."""
    stride = width * channels
    out = bytearray(stride * height)
    prev = bytearray(stride)
    for y in range(height):
        base = offset + y * (stride + 1)
        if base + 1 + stride > len(raw):
            raise ValueError("PNG payload size mismatch")
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:  # Sub
            if width > 32:
                # Sub is a per-channel-lane prefix sum mod 256:
                # cumsum in int64 then & 0xFF equals the sequential
                # byte adds exactly (mod commutes with partial sums)
                arr = _np.frombuffer(bytes(line), dtype=_np.uint8)
                line = bytearray(
                    (
                        _np.cumsum(
                            arr.astype(_np.int64).reshape(
                                width, channels
                            ),
                            axis=0,
                        )
                        & 0xFF
                    ).astype(_np.uint8).tobytes()
                )
            else:
                for x in range(channels, stride):
                    line[x] = (line[x] + line[x - channels]) & 0xFF
        elif ftype == 2:  # Up
            if stride > 32:
                # uint8 addition wraps — exactly the & 0xFF
                line = bytearray(
                    (
                        _np.frombuffer(bytes(line), dtype=_np.uint8)
                        + _np.frombuffer(bytes(prev), dtype=_np.uint8)
                    ).tobytes()
                )
            else:
                for x in range(stride):
                    line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = line[x - channels] if x >= channels else 0
                line[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = line[x - channels] if x >= channels else 0
                ul = prev[x - channels] if x >= channels else 0
                line[x] = (line[x] + _paeth(left, prev[x], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return out


def png_decode(blob: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG: returns (width, height, channels, pixel bytes).

    Real decode: chunk walk with CRC validation, IHDR checks, IDAT
    inflate, and per-scanline unfiltering (None/Sub/Up/Average/Paeth).
    Supports 8-bit color types 0/2/6 plus palettized type 3 (8-bit
    indices through PLTE, with tRNS promoting the output to RGBA),
    sequential AND Adam7-interlaced (each of the seven passes
    unfilters as its own sub-image, then scatters into the canvas);
    raises ValueError on anything else (sub-byte palette
    indices, 16-bit depth) instead of guessing.
    """
    if blob[:8] != PNG_MAGIC:
        raise ValueError("not a PNG: bad signature")
    pos, width = 8, None
    height = channels = None
    color = None
    palette = trns = None
    interlace = 0
    idat = bytearray()
    while pos < len(blob):
        try:
            (length,) = struct.unpack_from(">I", blob, pos)
            tag = blob[pos + 4 : pos + 8]
            body = blob[pos + 8 : pos + 8 + length]
            (crc,) = struct.unpack_from(">I", blob, pos + 8 + length)
        except struct.error as e:  # truncated mid-chunk
            raise ValueError(f"truncated PNG chunk stream: {e}") from e
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        pos += 12 + length
        if tag == b"IHDR":
            if length != 13:
                raise ValueError(f"bad PNG IHDR length {length}")
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color not in _CHANNELS:
                raise ValueError(f"unsupported PNG: depth={depth} color={color}")
            if comp != 0 or filt != 0:
                raise ValueError(
                    f"bad PNG compression/filter method {comp}/{filt}"
                )
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
            channels = _CHANNELS[color]
        elif tag == b"PLTE":
            if len(body) % 3 or not 3 <= len(body) <= 768:
                raise ValueError(f"bad PLTE length {len(body)}")
            palette = body
        elif tag == b"tRNS":
            trns = body
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    if trns is not None and color != 3:
        # tRNS on greyscale/truecolor (types 0/2) defines a single
        # transparent color this RGB-only decoder has no channel to
        # carry — raise rather than silently dropping transparency
        # (the module's no-guessing stance)
        raise NotImplementedError(
            f"PNG tRNS transparency for color type {color} is out of "
            "scope (palette type 3 only)"
        )
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e
    stride = width * channels

    if not interlace:
        if len(raw) != (stride + 1) * height:
            raise ValueError("PNG payload size mismatch")
        out = _png_unfilter(raw, 0, width, height, channels)
        if color == 3:
            return _png_apply_palette(out, width, height, palette, trns)
        return width, height, channels, bytes(out)

    # Adam7: seven independently-filtered sub-images, scattered
    out = bytearray(stride * height)
    offset = 0
    for x0, xs, y0, ys, pw, ph in _adam7_passes(width, height):
        sub = _png_unfilter(raw, offset, pw, ph, channels)
        offset += (pw * channels + 1) * ph
        for py in range(ph):
            oy = y0 + py * ys
            for px_i in range(pw):
                ox = x0 + px_i * xs
                src = (py * pw + px_i) * channels
                dst = (oy * width + ox) * channels
                out[dst : dst + channels] = sub[src : src + channels]
    if offset != len(raw):
        raise ValueError("PNG payload size mismatch")
    if color == 3:
        return _png_apply_palette(out, width, height, palette, trns)
    return width, height, channels, bytes(out)


def wav_encode(
    pcm: bytes, sample_rate: int = 8000, n_channels: int = 1, sampwidth: int = 1
) -> bytes:
    """Encode raw PCM as a real WAV container (RIFF/fmt/data)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(sampwidth)
        w.setframerate(sample_rate)
        w.writeframes(pcm)
    return buf.getvalue()


def wav_decode(blob: bytes) -> tuple[int, int, int, bytes]:
    """Decode a WAV: (sample_rate, n_channels, n_frames, pcm bytes)."""
    if blob[:4] != WAV_MAGIC:
        raise ValueError("not a WAV: bad RIFF signature")
    try:
        with wave.open(io.BytesIO(blob), "rb") as w:
            return (
                w.getframerate(),
                w.getnchannels(),
                w.getnframes(),
                w.readframes(w.getnframes()),
            )
    except (wave.Error, EOFError, RuntimeError, struct.error) as e:
        # malformed RIFF body; the stdlib wave/chunk modules leak a
        # bare RuntimeError for a corrupt fmt-chunk size (found by the
        # codec fuzz test), so that wraps to ValueError here too
        raise ValueError(f"malformed WAV: {e}") from e


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 sequential DCT, Huffman entropy coding)
#
# Real format, real parser — the same contract as the PNG and WAV
# codecs above.  Scope (declared, enforced by explicit raises):
#   * decode: baseline SOF0, 8-bit, greyscale or 3-component YCbCr with
#     sampling factors in {1, 2} (4:4:4 / 4:2:2 / 4:4:0 / 4:2:0),
#     restart intervals, multi-table DQT/DHT, APPn/COM skipped; PLUS
#     progressive SOF2 at the same samplings with full spectral
#     selection + successive approximation; PLUS lossless SOF3 —
#     Huffman DPCM, exact by definition (its own section at the end of
#     this module).  Arithmetic coding and differential hierarchies
#     raise NotImplementedError — honestly out of scope, not silently
#     wrong.
#   * encode: greyscale or RGB input; 4:4:4, 4:2:0, 4:2:2 or 4:4:0
#     color; the Annex-K quality-50 quantization tables and standard
#     Huffman tables (written into the stream, so decode never assumes
#     them).
#
# The DCTs are the orthonormal 8x8 matrix forms F = M B M^T and
# B = M^T F M, batched per component as one stacked matmul, with an
# exact DC-only path (constant blocks encode to / decode from a lone
# DC coefficient), which is the shape the graded digest-block
# construction hits by design.
# ---------------------------------------------------------------------------

JPEG_MAGIC = b"\xff\xd8\xff"

# zigzag position i -> raster index (T.81 figure A.6)
_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex-K quality-50 quantization tables (raster order)
_Q_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_Q_CHR = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32

# Annex-K standard Huffman tables as (bits[16], values) — the encoder
# writes these into DHT, so encode/decode agree BY CONSTRUCTION even if
# a transcription differed from the spec byte-for-byte.
_H_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_H_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_H_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_H_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


_HUFF_CODES_CACHE: dict = {}
_HUFF_DECODE_CACHE: dict = {}

#: memoization caps — the fixture paths see a handful of distinct
#: tables/headers, but a real corpus of third-party blobs could carry
#: unboundedly many distinct DHT/DQT segments; a full cache resets
#: rather than growing without limit in a long-lived executor
_CODEC_CACHE_MAX = 1024


def _cache_put(cache: dict, key, value):
    if len(cache) >= _CODEC_CACHE_MAX:
        cache.clear()
    cache[key] = value
    return value


def _huff_codes(bits, vals):
    """Canonical Huffman assignment (T.81 C.2): symbol -> (code, len).

    Memoized: the encoders rebuild the same four Annex-K tables for
    every blob — 7% of per-doc encode CPU when profiled unmemoized —
    and the table is read-only downstream.  Keyed by value so decoder
    streams carrying custom tables cache correctly too."""
    key = (bytes(bits), bytes(vals))
    cached = _HUFF_CODES_CACHE.get(key)
    if cached is not None:
        return cached
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return _cache_put(_HUFF_CODES_CACHE, key, out)


def _huff_decode_table(bits, vals):
    """Canonical decode tables for the bit-serial decoder, in the
    T.81 F.16 form: (maxcode, mincode, valptr, vals) indexed by code
    length, where a code c of length L is a symbol iff
    mincode[L] <= c <= maxcode[L] (the exact membership the previous
    (length, code)->symbol dict encoded — canonical codes of one
    length are a contiguous range) and the symbol is
    vals[valptr[L] + c - mincode[L]].  Two int compares per candidate
    length instead of a dict probe.  Memoized like _huff_codes
    (decoders re-parse identical DHT segments once per blob across
    thousands of per-doc blobs)."""
    key = (bytes(bits), bytes(vals))
    cached = _HUFF_DECODE_CACHE.get(key)
    if cached is not None:
        return cached
    maxcode = [-1] * 17
    mincode = [0] * 17
    valptr = [0] * 17
    code, k = 0, 0
    for length in range(1, 17):
        n = bits[length - 1]
        if n:
            valptr[length] = k
            mincode[length] = code
            code += n
            k += n
            maxcode[length] = code - 1
        code <<= 1
    return _cache_put(
        _HUFF_DECODE_CACHE, key, (maxcode, mincode, valptr, tuple(vals))
    )


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code, length):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-pad per spec
        return bytes(self.buf)


class _BitReader:
    """Entropy-segment bit reader: unstuffs 0xFF00, stops at markers
    (exposes them so the MCU loop can consume RSTn)."""

    def __init__(self, data, pos):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # restart marker mid-fill
                raise _RestartMarker(nxt)
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                )
        else:
            self.pos += 1
        self.nbits += 8
        # trim consumed high bits: they are never read again (every
        # extraction masks below nbits), and without the trim acc
        # retains one bit per consumed stream bit — an unboundedly
        # growing Python int whose per-fill shift turns large entropy
        # streams quadratic
        self.acc = ((self.acc << 8) | b) & ((1 << self.nbits) - 1)

    def bit(self):
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n):
        # bulk form of n chained bit() calls: fill whole bytes until n
        # bits are buffered, then extract in one shift.  The fill
        # sequence consumes exactly the bytes the bit-serial loop
        # would (fills happen only when a needed bit is missing), so
        # valid streams read identically and malformed ones raise at
        # the same logical position.
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def align_to_restart(self):
        """Drop partial bits and consume an RSTn marker."""
        self.acc = 0
        self.nbits = 0
        while self.data[self.pos] != 0xFF or self.data[self.pos + 1] == 0x00:
            self.pos += 1
        nxt = self.data[self.pos + 1]
        if not (0xD0 <= nxt <= 0xD7):
            raise ValueError(f"expected RSTn, found 0xFF{nxt:02X}")
        self.pos += 2


class _RestartMarker(Exception):
    def __init__(self, marker):
        self.marker = marker


# The orthonormal 8x8 DCT-II matrix M: F = M B M^T and B = M^T F M are
# two 8x8 matmuls, stacked over every block of a component.  Row u is
# c(u)/2 * cos((2x+1)u pi/16), c(0) = 1/sqrt(2); built with math.cos so
# the matrix (and so every encoded byte) does not depend on numpy's
# vectorized cos.
_DCT_M = _np.array(
    [
        [
            0.25
            * (1.0 / math.sqrt(2.0) if u == 0 else 1.0)
            * math.cos((2 * x + 1) * u * math.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
) * 2.0
_ZZ_NP = _np.array(_ZZ)  # raster index of each zig-zag position

#: per-quantizer zig-zag-ordered float64 arrays for the vectorized
#: quantize/dequantize paths (two Annex-K tables in practice; decoder
#: streams may add a few more — keyed by value)
_QTAB_ZZ_CACHE: dict = {}

#: SOI..DRI prefix per (SOF marker, height, width, sampling factors,
#: restart_interval) — constant across blobs with fixed Annex-K tables
_JPEG_HEADER_CACHE: dict = {}


def _segment(out: bytearray, marker: bytes, body: bytes) -> None:
    """Append one marker segment: marker, 2-byte big-endian length
    (counting itself), body."""
    out.extend(marker)
    out.extend(struct.pack(">H", len(body) + 2))
    out.extend(body)


def _jpeg_header(sof, width, height, samp, restart_interval) -> bytes:
    """SOI, DQT, SOF, DHT and (when ``restart_interval``) DRI for the
    two DCT encoders, which differ only in the SOF marker (``sof``:
    SOF0 baseline or SOF2 progressive).  Component i+1 uses quantizer
    and Huffman tables 0 (luma) or 1 (chroma); all are the fixed
    Annex-K tables, so the prefix is a pure function of the arguments
    and is cached: per-doc fixture encoding re-emits the identical
    prefix thousands of times."""
    key = (sof, height, width, tuple(samp), restart_interval)
    cached = _JPEG_HEADER_CACHE.get(key)
    if cached is not None:
        return cached
    channels = len(samp)
    n_tabs = 1 if channels == 1 else 2  # luma, plus chroma for color
    out = bytearray(b"\xff\xd8")  # SOI
    for tq, qtab in enumerate((_Q_LUM, _Q_CHR)[:n_tabs]):
        _segment(out, b"\xff\xdb", bytes([tq] + [qtab[z] for z in _ZZ]))
    sof_body = bytearray(struct.pack(">BHHB", 8, height, width, channels))
    for ci, (h, v) in enumerate(samp):
        sof_body.extend(bytes([ci + 1, (h << 4) | v, 0 if ci == 0 else 1]))
    _segment(out, sof, bytes(sof_body))
    huff_tabs = ((_H_DC_LUM, _H_AC_LUM), (_H_DC_CHR, _H_AC_CHR))
    for th, pair in enumerate(huff_tabs[:n_tabs]):
        for tc, (bits, vals) in enumerate(pair):  # class 0 DC, 1 AC
            _segment(
                out,
                b"\xff\xc4",
                bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals),
            )
    if restart_interval:
        _segment(out, b"\xff\xdd", struct.pack(">H", restart_interval))
    return _cache_put(_JPEG_HEADER_CACHE, key, bytes(out))


def _sos(out: bytearray, comps, ss: int, se: int, ahal: int) -> None:
    """Append an SOS header over ``comps`` (0-based component
    indices; 0 takes Huffman tables 0, the others tables 1), spectral
    band ss..se and successive-approximation byte ahal."""
    body = bytearray([len(comps)])
    for ci in comps:
        body.extend(bytes([ci + 1, 0x00 if ci == 0 else 0x11]))
    body.extend(bytes([ss, se, ahal]))
    _segment(out, b"\xff\xda", bytes(body))


def _read_dqt(body, qtabs: dict) -> None:
    """Parse a DQT segment (one or more 8-bit tables) into
    ``qtabs[tid]`` as raster-order lists."""
    i = 0
    while i < len(body):
        prec, tid = body[i] >> 4, body[i] & 0x0F
        if prec != 0:
            raise ValueError("16-bit quantization tables unsupported")
        tab = [0] * 64
        for j in range(64):
            tab[_ZZ[j]] = body[i + 1 + j]
        qtabs[tid] = tab
        i += 65


def _read_dht(body, huff: dict) -> None:
    """Parse a DHT segment (one or more tables) into
    ``huff[(table class, tid)]`` decode tables."""
    i = 0
    while i < len(body):
        tclass, tid = body[i] >> 4, body[i] & 0x0F
        bits = list(body[i + 1 : i + 17])
        nvals = sum(bits)
        vals = list(body[i + 17 : i + 17 + nvals])
        huff[(tclass, tid)] = _huff_decode_table(bits, vals)
        i += 17 + nvals


def _qtab_zz_np(qtab):
    key = tuple(qtab)
    arr = _QTAB_ZZ_CACHE.get(key)
    if arr is None:
        arr = _cache_put(
            _QTAB_ZZ_CACHE,
            key,
            _np.array(
                [qtab[_ZZ[i]] for i in range(64)], dtype=_np.float64
            ),
        )
    return arr


def _idct_batch(coefs):
    """Batched inverse DCT over an (N, 64) raster-order dequantized
    coefficient array — one stacked matmul instead of N Python-level
    calls, with the DC-only exact path (coef[0] / 8.0) preserved per
    block.  Bitwise identical to a single-block M^T F M: numpy's stacked
    matmul runs the same GEMM per 8x8 slice (verified empirically on
    5000 random blocks)."""
    out = _np.empty_like(coefs)
    ac = (coefs[:, 1:] != 0.0).any(axis=1)
    dc_only = ~ac
    if dc_only.any():
        out[dc_only] = _np.repeat(coefs[dc_only, 0:1] / 8.0, 64, axis=1)
    if ac.any():
        f = coefs[ac].reshape(-1, 8, 8)
        out[ac] = (_DCT_M.T @ f @ _DCT_M).reshape(-1, 64)
    return out


def _blocks_to_plane2d(coef_blocks, bx_pad, by_pad):
    """(N, 64) raster coefficient blocks in grid order -> level-shifted
    (ph, pw) float64 plane via the batched IDCT."""
    coefs = _np.asarray(coef_blocks, dtype=_np.float64)
    px = _idct_batch(coefs)
    return (
        px.reshape(by_pad, bx_pad, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(by_pad * 8, bx_pad * 8)
        + 128.0
    )


def _planes_to_pixels_np(comps, width, height, hmax, vmax):
    """Shared decoder output stage: crop / replication-upsample /
    YCbCr->RGB / clamp, vectorized.  Arithmetic is the per-pixel
    path's exact expression order elementwise (numpy evaluates
    `lum + 1.402 * cr` with the same per-element IEEE rounding as the
    scalar loop), and clamp8's floor(v + 0.5) then clamp is
    clip(floor(v + 0.5), 0, 255) exactly."""
    if len(comps) == 1:
        p = comps[0]["plane2d"][:height, :width]
        return _np.clip(
            _np.floor(p + 0.5), 0.0, 255.0
        ).astype(_np.uint8).tobytes()
    cy, ccb, ccr = comps

    def up(c):
        ys = (_np.arange(height) * c["v"]) // vmax
        xs = (_np.arange(width) * c["h"]) // hmax
        return c["plane2d"][ys][:, xs]

    lum = up(cy)
    cb = up(ccb) - 128.0
    cr = up(ccr) - 128.0
    rgb = _np.stack(
        [
            lum + 1.402 * cr,
            lum - 0.344136 * cb - 0.714136 * cr,
            lum + 1.772 * cb,
        ],
        axis=-1,
    )
    return _np.clip(
        _np.floor(rgb + 0.5), 0.0, 255.0
    ).astype(_np.uint8).tobytes()


def _magnitude(v):
    """JPEG magnitude category + offset bits for a signed value."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _extend(received, s):
    if s == 0:
        return 0
    return received if received >= (1 << (s - 1)) else received - (1 << s) + 1


def _rgb_to_ycbcr(pixels):
    """JFIF RGB -> YCbCr as three flat float64 arrays, elementwise in
    the expression order written (numpy evaluates each +/- left to
    right per element)."""
    px = _np.frombuffer(bytes(pixels), dtype=_np.uint8).astype(_np.float64)
    r, g, b = px[0::3], px[1::3], px[2::3]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _plane_qz_blocks(plane, pw, ph, bx_pad, by_pad, qtab):
    """All of a component's quantized zig-zag blocks over the
    MCU-padded grid in row-major block order, batched: edge
    replication past the plane's right/bottom edge, one stacked-matmul
    FDCT for every non-constant block (bitwise identical to a
    single-block M B M^T — same GEMM per 8x8 slice), the exact DC-only
    path per constant block, and round-half-away-from-zero
    quantization (deterministic; Python round() is banker's and x/q
    hits exact .5 routinely, e.g. DC 8/16)."""
    pad_y, pad_x = by_pad * 8 - ph, bx_pad * 8 - pw
    p = plane  # 2D (ph, pw) float64
    if pad_y or pad_x:
        p = _np.pad(p, ((0, pad_y), (0, pad_x)), mode="edge")
    blocks = (
        p.reshape(by_pad, 8, bx_pad, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 64)
        - 128.0
    )
    const = (blocks == blocks[:, 0:1]).all(axis=1)
    coefs = _np.zeros_like(blocks)
    coefs[const, 0] = blocks[const, 0] * 8.0
    gen = ~const
    if gen.any():
        b = blocks[gen].reshape(-1, 8, 8)
        coefs[gen] = (_DCT_M @ b @ _DCT_M.T).reshape(-1, 64)
    r = coefs[:, _ZZ_NP] / _qtab_zz_np(qtab)
    qz = _np.where(r >= 0.0, _np.floor(r + 0.5), -_np.floor(0.5 - r))
    return qz.astype(_np.int64).tolist()


def _emit_block(writer, qz, dc_codes, ac_codes, pred):
    """Huffman-emit one quantized zig-zag block (T.81 F.1.2)."""
    diff = qz[0] - pred
    s, bits = _magnitude(diff)
    code, length = dc_codes[s]
    writer.write(code, length)
    if s:
        writer.write(bits, s)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if qz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        if qz[k] == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        s, bits = _magnitude(qz[k])
        code, length = ac_codes[(run << 4) | s]
        writer.write(code, length)
        writer.write(bits, s)
        run = 0
    if last_nz != 63:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return qz[0]


def _jpeg_planes(pixels, width, height, channels, subsample):
    """Shared plane preparation for the baseline AND progressive
    encoders (the cross-codec equality anchor depends on both using the
    exact same planes and chroma downsampling): -> (2D float64 planes,
    per-plane (width, height), per-plane (h, v) sampling factors)."""
    if channels not in (1, 3):
        raise ValueError(f"channels must be 1 or 3, got {channels}")
    factors = {"444": (1, 1), "420": (2, 2), "422": (2, 1), "440": (1, 2)}
    if subsample not in factors:
        raise ValueError(
            f"subsample must be one of {sorted(factors)}, got {subsample!r}"
        )
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match dimensions")
    if channels == 1:
        # uint8 -> float64 is exact
        plane = _np.frombuffer(bytes(pixels), dtype=_np.uint8).astype(
            _np.float64
        )
        return [plane.reshape(height, width)], [(width, height)], [(1, 1)]
    y, cb, cr = (p.reshape(height, width) for p in _rgb_to_ycbcr(pixels))
    fh, fv = factors[subsample]
    if (fh, fv) == (1, 1):
        return (
            [y, cb, cr],
            [(width, height)] * 3,
            [(1, 1), (1, 1), (1, 1)],
        )
    # fh x fv box-average chroma (420: 2x2; 422: 2x1; 440: 1x2) over
    # the in-bounds samples of each box, summed in (dy, dx) order.  An
    # out-of-bounds step adds +0.0, and the running sum can never be
    # -0.0 (IEEE 0.0 + -0.0 = +0.0), so x + 0.0 is bitwise x: edge
    # boxes average exactly their in-bounds samples
    cw = (width + fh - 1) // fh
    ch = (height + fv - 1) // fv
    acc_b = _np.zeros((ch, cw))
    acc_r = _np.zeros((ch, cw))
    cnt = _np.zeros((ch, cw))
    ys = fv * _np.arange(ch)
    xs = fh * _np.arange(cw)
    for dy in range(fv):
        for dx in range(fh):
            sy = ys + dy
            sx = xs + dx
            valid = (sy[:, None] < height) & (sx[None, :] < width)
            rows = _np.minimum(sy, height - 1)
            cols = _np.minimum(sx, width - 1)
            acc_b = acc_b + _np.where(valid, cb[rows][:, cols], 0.0)
            acc_r = acc_r + _np.where(valid, cr[rows][:, cols], 0.0)
            cnt = cnt + valid
    return (
        [y, acc_b / cnt, acc_r / cnt],
        [(width, height), (cw, ch), (cw, ch)],
        [(fh, fv), (1, 1), (1, 1)],
    )


def jpeg_encode(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode raw 8-bit samples as a real baseline JPEG (SOF0, Huffman).

    ``channels``: 1 (greyscale) or 3 (RGB, converted to YCbCr here).
    ``subsample``: "444", "420", "422" or "440" (color only).
    Quantization is the
    Annex-K quality-50 pair; all tables are written into the stream.
    Constant 8x8 blocks take the DC-only fast path end-to-end and
    (for even offsets from 128) round-trip EXACTLY — the property the
    graded digest-block query is built on."""
    planes, dims, samp = _jpeg_planes(
        pixels, width, height, channels, subsample
    )
    hmax = max(h for h, _v in samp)
    vmax = max(v for _h, v in samp)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)

    lum_codes = (_huff_codes(*_H_DC_LUM), _huff_codes(*_H_AC_LUM))
    chr_codes = (_huff_codes(*_H_DC_CHR), _huff_codes(*_H_AC_CHR))

    out = bytearray(
        _jpeg_header(b"\xff\xc0", width, height, samp, restart_interval)
    )
    _sos(out, range(channels), 0, 63, 0)

    # batch FDCT + quantization per component up front; the MCU loop
    # below only interleaves the Huffman emission
    qz_grids = [
        _plane_qz_blocks(
            planes[ci],
            dims[ci][0],
            dims[ci][1],
            mcus_x * samp[ci][0],
            mcus_y * samp[ci][1],
            _Q_LUM if ci == 0 else _Q_CHR,
        )
        for ci in range(channels)
    ]

    preds = [0] * channels
    writer = _BitWriter()
    rst = 0
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (
                restart_interval
                and mcu_index
                and mcu_index % restart_interval == 0
            ):
                out.extend(writer.flush())
                out.extend(bytes([0xFF, 0xD0 + rst]))
                rst = (rst + 1) % 8
                preds = [0] * channels
                writer = _BitWriter()
            for ci in range(channels):
                h, v = samp[ci]
                dc_c, ac_c = lum_codes if ci == 0 else chr_codes
                for by in range(v):
                    for bx in range(h):
                        qz = qz_grids[ci][
                            (my * v + by) * mcus_x * h + mx * h + bx
                        ]
                        preds[ci] = _emit_block(
                            writer, qz, dc_c, ac_c, preds[ci]
                        )
            mcu_index += 1
    out.extend(writer.flush())
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


def _decode_block(reader, dc_table, ac_table, qtab, pred):
    """Huffman-decode one block -> (raster coefficient list, new pred).

    The bit accumulator lives in closure variables for the whole block
    — the decoder's hottest loop (~45 symbol reads + magnitude fetches
    per block) no longer pays a method call per BIT.  fill/read_symbol/
    take are _BitReader._fill / the F.16 decode / bits(n) verbatim;
    reader state is written back before returning (and before raising
    a restart marker) so the reader resumes exactly where the
    method-based path would."""
    data = reader.data
    pos, acc, nbits = reader.pos, reader.acc, reader.nbits

    def fill():
        nonlocal pos, acc, nbits
        b = data[pos]
        if b == 0xFF:
            nxt = data[pos + 1]
            if nxt == 0x00:
                pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                reader.pos, reader.acc, reader.nbits = pos, acc, nbits
                raise _RestartMarker(nxt)
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                )
        else:
            pos += 1
        nbits += 8
        acc = ((acc << 8) | b) & ((1 << nbits) - 1)

    def read_symbol(table):
        nonlocal acc, nbits
        maxcode, mincode, valptr, vals = table
        code, length = 0, 0
        while True:
            if nbits == 0:
                fill()
            nbits -= 1
            code = (code << 1) | ((acc >> nbits) & 1)
            length += 1
            if mincode[length] <= code <= maxcode[length]:
                return vals[valptr[length] + code - mincode[length]]
            if length >= 16:
                raise ValueError("invalid Huffman stream")

    def take(n):
        nonlocal acc, nbits
        while nbits < n:
            fill()
        nbits -= n
        return (acc >> nbits) & ((1 << n) - 1)

    coef = [0] * 64
    s = read_symbol(dc_table)
    diff = _extend(take(s), s) if s else 0
    dc = pred + diff
    coef[0] = dc * qtab[0]
    k = 1
    while k <= 63:
        rs = read_symbol(ac_table)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += rs >> 4
        s = rs & 0x0F
        if k > 63:
            reader.pos, reader.acc, reader.nbits = pos, acc, nbits
            raise ValueError("AC run overflows block")
        coef[_ZZ[k]] = _extend(take(s), s) * qtab[_ZZ[k]]
        k += 1
    reader.pos, reader.acc, reader.nbits = pos, acc, nbits
    return coef, dc


def jpeg_decode(blob: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline JPEG: (width, height, channels, pixels).

    ``pixels``: raster 8-bit samples — greyscale plane for 1-component
    streams, interleaved RGB for 3-component YCbCr (JFIF conversion,
    replication chroma upsampling).  Supports sampling factors in
    {1, 2}, restart intervals, multi-table DQT/DHT segments; skips
    APPn/COM.  Progressive (SOF2) streams decode too (greyscale and
    color at every sampling the baseline path supports, with full
    spectral selection + successive approximation;
    `_jpeg_decode_progressive_impl`), and lossless (SOF3) streams
    decode exactly (Huffman DPCM; `_jpeg_decode_lossless_impl`);
    arithmetic-coded and differential
    streams raise NotImplementedError; every other malformation raises
    ValueError —
    ENFORCED at this boundary: the internal exception types malformed
    input can surface (a stray RSTn escaping as _RestartMarker, a
    truncated stream's IndexError, a missing-table KeyError, a short
    segment's struct.error) are all re-raised as ValueError here, so
    callers never see decoder internals."""
    try:
        return _jpeg_decode_impl(blob)
    except _RestartMarker as exc:
        raise ValueError(
            "malformed JPEG: restart marker outside restart cadence"
        ) from exc
    except (IndexError, KeyError, StopIteration, struct.error) as exc:
        raise ValueError(
            f"malformed JPEG: {type(exc).__name__}: {exc}"
        ) from exc


def _jpeg_decode_impl(blob: bytes) -> tuple[int, int, int, bytes]:
    if blob[:3] != JPEG_MAGIC:
        raise ValueError("not a JPEG: bad SOI signature")
    qtabs: dict = {}
    huff: dict = {}
    comps: list = []
    width = height = 0
    restart_interval = 0
    pos = 2
    while True:
        if blob[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("no scan data before EOI")
        if marker == 0xC2:  # SOF2 -> the progressive decoder
            return _jpeg_decode_progressive_impl(blob)
        if marker in (0xC6, 0xCA, 0xCE):
            raise NotImplementedError(
                "differential/arithmetic progressive JPEG is out of scope"
            )
        if marker in (0xC9, 0xCB, 0xCD, 0xCF, 0xC8):
            raise NotImplementedError(
                "arithmetic-coded JPEG is out of scope (Huffman only)"
            )
        if marker == 0xC3:  # SOF3 -> the lossless decoder
            return _jpeg_decode_lossless_impl(blob)
        if marker in (0xC5, 0xC7):
            raise NotImplementedError(
                "differential JPEG is out of scope"
            )
        (seglen,) = struct.unpack_from(">H", blob, pos)
        body = blob[pos + 2 : pos + seglen]
        end = pos + seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            _read_dqt(body, qtabs)
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1 (sequential Huffman)
            precision, height, width, nc = struct.unpack_from(">BHHB", body)
            if precision != 8:
                raise ValueError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                h, v = hv >> 4, hv & 0x0F
                if h not in (1, 2) or v not in (1, 2):
                    raise ValueError(f"sampling factor {h}x{v} unsupported")
                comps.append({"id": cid, "h": h, "v": v, "tq": tq})
        elif marker == 0xC4:  # DHT (possibly several tables)
            _read_dht(body, huff)
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body)
        elif marker == 0xDA:  # SOS -> entropy data follows
            ns = body[0]
            if not comps or ns != len(comps):
                raise ValueError("SOS does not match SOF components")
            for si in range(ns):
                cid, tables = body[1 + 2 * si], body[2 + 2 * si]
                comp = next(c for c in comps if c["id"] == cid)
                comp["dc"] = huff[(0, tables >> 4)]
                comp["ac"] = huff[(1, tables & 0x0F)]
                comp["q"] = qtabs[comp["tq"]]
            pos = end
            break
        elif 0xE0 <= marker <= 0xEF or marker == 0xFE:  # APPn / COM
            pass
        else:
            raise ValueError(f"unsupported marker 0xFF{marker:02X}")
        pos = end

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c["bx_pad"] = mcus_x * c["h"]
        c["by_pad"] = mcus_y * c["v"]
        # raster coefficient blocks in grid order; IDCT + plane
        # assembly happen batched after the entropy loop
        c["coef_blocks"] = [None] * (c["bx_pad"] * c["by_pad"])
        c["pred"] = 0

    reader = _BitReader(blob, pos)
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if (
                restart_interval
                and mcu_index
                and mcu_index % restart_interval == 0
            ):
                reader.align_to_restart()
                for c in comps:
                    c["pred"] = 0
            for c in comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef, c["pred"] = _decode_block(
                            reader, c["dc"], c["ac"], c["q"], c["pred"]
                        )
                        bi = (my * c["v"] + by) * c["bx_pad"] + mx * c["h"]
                        c["coef_blocks"][bi + bx] = coef
            mcu_index += 1

    for c in comps:
        c["plane2d"] = _blocks_to_plane2d(
            c["coef_blocks"], c["bx_pad"], c["by_pad"]
        )
    return (
        width,
        height,
        len(comps),
        _planes_to_pixels_np(comps, width, height, hmax, vmax),
    )


# -- Progressive JPEG (SOF2) ------------------------------------------------
#
# Scope (declared, enforced): greyscale and color (every sampling the
# baseline path supports) progressive streams with
# full spectral selection AND successive approximation — the T.81
# G.1/G.2 coding model: interleaved DC first scan at reduced precision
# (h x v blocks per component per MCU, per-component predictors), DC
# refinement bits, single-component AC band scans over each
# component's own non-interleaved grid (smaller than the MCU-padded
# storage grid when subsampled — the classic dual-grid subtlety), AC
# refinement scans with EOB-run coding and correction bits, and DRI
# restart cadence in every scan (byte-align onto RSTn, predictor and
# EOB-run reset).  Malformed input raises ValueError via the
# jpeg_decode boundary.  The encoder's greyscale script is six scans
# (DC Al=1, DC refine, AC 1-5 Al=1, AC 6-63 Al=1, their refinements);
# color adds per-component AC band + refinement scans — every feature
# the decoder implements is exercised by its own fixtures, and both
# paths quantize identically to the baseline codec, so progressive and
# baseline encodings of the same image decode to IDENTICAL samples
# (pinned in tests/test_codecs.py).


def jpeg_encode_progressive(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode raw samples as a real progressive JPEG (SOF2).

    ``channels``: 1 (greyscale) or 3 (RGB -> YCbCr); ``subsample``:
    "444", "420", "422" or "440" (color only) — the same
    planes/quantizers as the
    baseline encoder, which is the cross-codec equality anchor.  The
    greyscale script is six scans (DC Al=1, DC refine, two AC bands at
    Al=1, their refinements); color interleaves all components in the
    DC scans (h x v blocks per component per MCU) and emits
    per-component AC band + refinement scans over each component's own
    non-interleaved block grid (AC progressive scans are
    single-component by spec).  ``restart_interval`` (in MCUs —
    blocks, for the non-interleaved AC scans) inserts RSTn markers
    resetting the DC predictors and byte-aligning every scan, exactly
    like the baseline encoder's DRI handling."""
    planes, dims, samp = _jpeg_planes(
        pixels, width, height, channels, subsample
    )
    hmax = max(h for h, _v in samp)
    vmax = max(v for _h, v in samp)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)

    # per component: quantized blocks over the MCU-PADDED grid in
    # zig-zag order, plus that component's non-interleaved grid dims
    comp_blocks = []
    grids = []  # (bx_pad, nx, ny) per component
    for ci, plane in enumerate(planes):
        h, v = samp[ci]
        pw, ph = dims[ci]
        bx_pad, by_pad = mcus_x * h, mcus_y * v
        qtab = _Q_LUM if ci == 0 else _Q_CHR
        comp_blocks.append(
            _plane_qz_blocks(plane, pw, ph, bx_pad, by_pad, qtab)
        )
        grids.append((bx_pad, (pw + 7) // 8, (ph + 7) // 8))

    lum_dc, lum_ac = _huff_codes(*_H_DC_LUM), _huff_codes(*_H_AC_LUM)
    chr_dc, chr_ac = _huff_codes(*_H_DC_CHR), _huff_codes(*_H_AC_CHR)

    out = bytearray(
        _jpeg_header(b"\xff\xc2", width, height, samp, restart_interval)
    )

    def sos(comps, ss, se, ah, al, entropy):
        _sos(out, comps, ss, se, (ah << 4) | al)
        out.extend(entropy)

    def _ScanWriter(on_restart=None):
        return _ProgScanWriter(restart_interval, on_restart)

    def band_blocks(ci):
        """The component's blocks in NON-interleaved row-major order
        (the grid AC scans cover — smaller than the padded grid when
        subsampled)."""
        bx_pad, nx, ny = grids[ci]
        return [
            comp_blocks[ci][row * bx_pad + col]
            for row in range(ny)
            for col in range(nx)
        ]

    # scan 1: DC first, Al=1, all components interleaved,
    # per-component predictors (reset at restarts)
    preds = [0] * channels

    def _reset_preds():
        for ci in range(channels):
            preds[ci] = 0

    sw = _ScanWriter(on_restart=_reset_preds)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            sw.boundary()
            for ci in range(channels):
                h, v = samp[ci]
                bx_pad = grids[ci][0]
                for by in range(v):
                    for bx in range(h):
                        b = (my * v + by) * bx_pad + (mx * h + bx)
                        approx = comp_blocks[ci][b][0] >> 1
                        dc_codes = lum_dc if ci == 0 else chr_dc
                        s, bits = _magnitude(approx - preds[ci])
                        code, length = dc_codes[s]
                        sw.w.write(code, length)
                        if s:
                            sw.w.write(bits, s)
                        preds[ci] = approx
            sw.mcu += 1
    sos(range(channels), 0, 0, 0, 1, sw.done())

    # scan 2: DC refinement — one raw bit per block in MCU order
    sw = _ScanWriter()
    for my in range(mcus_y):
        for mx in range(mcus_x):
            sw.boundary()
            for ci, b in (
                (ci2, (my * samp[ci2][1] + by) * grids[ci2][0]
                 + (mx * samp[ci2][0] + bx))
                for ci2 in range(channels)
                for by in range(samp[ci2][1])
                for bx in range(samp[ci2][0])
            ):
                sw.w.write(comp_blocks[ci][b][0] & 1, 1)
            sw.mcu += 1
    sos(range(channels), 0, 0, 1, 0, sw.done())

    def ac_first(blocks, ac_codes, ss, se, al):
        sw = _ScanWriter()
        for blk in blocks:
            sw.boundary()
            w = sw.w
            sw.mcu += 1
            if not any(blk[ss:se + 1]):
                # all-raw-zero band emits exactly one EOB (the general
                # loop below reduces to this; C-speed any() short-cut
                # for the DC-heavy/constant-block common case)
                code, length = ac_codes[0x00]
                w.write(code, length)
                continue
            k = ss
            last = ss - 1
            for j in range(se, ss - 1, -1):
                if abs(blk[j]) >> al:
                    last = j
                    break
            run = 0
            while k <= last:
                v = blk[k]
                t = abs(v) >> al
                if t == 0:
                    run += 1
                    k += 1
                    continue
                while run >= 16:
                    code, length = ac_codes[0xF0]
                    w.write(code, length)
                    run -= 16
                sv = t if v > 0 else -t
                s, bits = _magnitude(sv)
                code, length = ac_codes[(run << 4) | s]
                w.write(code, length)
                w.write(bits, s)
                run = 0
                k += 1
            if last != se:
                code, length = ac_codes[0x00]  # EOB (run of exactly 1)
                w.write(code, length)
        return sw.done()

    def ac_refine(blocks, ac_codes, ss, se, al):
        # t = abs >> al classifies every coefficient: 0 = zero history
        # (counts toward the run), 1 = newly significant this scan,
        # >1 = already significant (sends one correction bit).  The
        # ZRL flush must happen at EVERY nonzero coefficient (both
        # kinds) so correction bits stay positionally interleaved with
        # the zero-run skips exactly as the decoder consumes them —
        # the libjpeg encode_mcu_AC_refine structure.
        sw = _ScanWriter()
        for blk in blocks:
            sw.boundary()
            w = sw.w
            sw.mcu += 1
            if not any(blk[ss:se + 1]):
                # all-raw-zero band: no significance history, no
                # corrections — exactly one EOB (same reduction as
                # ac_first's fast path)
                code, length = ac_codes[0x00]
                w.write(code, length)
                continue
            absv = [abs(blk[j]) >> al for j in range(ss, se + 1)]
            last = ss - 1
            for j in range(se, ss - 1, -1):
                if absv[j - ss] == 1:
                    last = j
                    break
            run = 0
            corrections: list = []

            def flush_zrl():
                nonlocal run, corrections
                while run > 15:
                    code, length = ac_codes[0xF0]
                    w.write(code, length)
                    for b in corrections:
                        w.write(b, 1)
                    corrections = []
                    run -= 16

            k = ss
            while k <= last:
                t = absv[k - ss]
                if t == 0:
                    run += 1
                    k += 1
                    continue
                flush_zrl()
                if t > 1:
                    # already significant: queue its correction bit
                    corrections.append(t & 1)
                    k += 1
                    continue
                code, length = ac_codes[(run << 4) | 1]
                w.write(code, length)
                w.write(1 if blk[k] > 0 else 0, 1)
                for b in corrections:
                    w.write(b, 1)
                corrections = []
                run = 0
                k += 1
            # tail: correction bits for already-significant coefficients
            # past the last newly-significant one
            while k <= se:
                if absv[k - ss] > 1:
                    corrections.append(absv[k - ss] & 1)
                k += 1
            if last != se or corrections:
                code, length = ac_codes[0x00]  # EOB run of 1
                w.write(code, length)
                for b in corrections:
                    w.write(b, 1)
        return sw.done()

    if channels == 1:
        spec = [0]
        blocks0 = band_blocks(0)
        sos(spec, 1, 5, 0, 1, ac_first(blocks0, lum_ac, 1, 5, 1))
        sos(spec, 6, 63, 0, 1, ac_first(blocks0, lum_ac, 6, 63, 1))
        sos(spec, 1, 5, 1, 0, ac_refine(blocks0, lum_ac, 1, 5, 0))
        sos(spec, 6, 63, 1, 0, ac_refine(blocks0, lum_ac, 6, 63, 0))
    else:
        # AC progressive scans are single-component by spec: one band
        # scan + one refinement per component, each over that
        # component's non-interleaved grid
        for ci in range(3):
            ac_codes = lum_ac if ci == 0 else chr_ac
            sos(
                [ci], 1, 63, 0, 1,
                ac_first(band_blocks(ci), ac_codes, 1, 63, 1),
            )
        for ci in range(3):
            ac_codes = lum_ac if ci == 0 else chr_ac
            sos(
                [ci], 1, 63, 1, 0,
                ac_refine(band_blocks(ci), ac_codes, 1, 63, 0),
            )
    out.extend(b"\xff\xd9")
    return bytes(out)


def _jpeg_decode_progressive_impl(blob: bytes) -> tuple[int, int, int, bytes]:
    """Multi-scan SOF2 decode: accumulate quantized coefficients across
    scans, then dequantize + IDCT once at EOI.  Greyscale or color at
    sampling factors in {1, 2} (4:4:4 / 4:2:0 / 4:2:2 / 4:4:0); DRI
    restart cadence honored in every scan (predictor/EOB-run reset +
    byte alignment at each RSTn)."""
    qtabs: dict = {}
    huff: dict = {}
    width = height = 0
    comps: list = []
    bx_n = by_n = 0
    restart_interval = 0
    pos = 2
    while True:
        if blob[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI — a stream may stop after any scan
            break
        (seglen,) = struct.unpack_from(">H", blob, pos)
        body = blob[pos + 2 : pos + seglen]
        end = pos + seglen
        if marker == 0xDB:
            _read_dqt(body, qtabs)
        elif marker == 0xC4:
            _read_dht(body, huff)
        elif marker == 0xC2:
            precision, height, width, nc = struct.unpack_from(">BHHB", body)
            if precision != 8:
                raise ValueError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported component count {nc}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                h, v = hv >> 4, hv & 0x0F
                if h not in (1, 2) or v not in (1, 2):
                    raise ValueError(f"sampling factor {h}x{v} unsupported")
                comps.append({"id": cid, "tq": tq, "h": h, "v": v})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
            for c in comps:
                # blocks live in the MCU-PADDED grid; AC scans cover
                # only the non-interleaved grid (nx x ny), which is
                # smaller when the component is subsampled
                c["bx_pad"] = mcus_x * c["h"]
                c["by_pad"] = mcus_y * c["v"]
                cw = (width * c["h"] + hmax - 1) // hmax
                chh = (height * c["v"] + vmax - 1) // vmax
                c["nx"], c["ny"] = (cw + 7) // 8, (chh + 7) // 8
                c["blocks"] = [
                    [0] * 64 for _ in range(c["bx_pad"] * c["by_pad"])
                ]
            bx_n, by_n = mcus_x, mcus_y  # MCU grid for the DC scans
        elif marker == 0xDD:  # DRI — restart cadence for every scan
            (restart_interval,) = struct.unpack_from(">H", body)
        elif marker == 0xDA:
            if not comps:
                raise ValueError("SOS before SOF2 header")
            ns = body[0]
            scan_comps = []
            for si in range(ns):
                cid, tables = body[1 + 2 * si], body[2 + 2 * si]
                comp = next(
                    (c for c in comps if c["id"] == cid), None
                )
                if comp is None:
                    raise ValueError("SOS names unknown component")
                scan_comps.append((comp, tables))
            ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if ss > se or se > 63:
                raise ValueError("bad spectral band")
            reader = _BitReader(blob, end)
            if ss == 0:
                if se != 0:
                    raise ValueError("DC scan must have Se=0")
                _prog_dc_scan_interleaved(
                    reader, scan_comps, huff, ah, al, bx_n, by_n, ns > 1,
                    restart_interval,
                )
            else:
                if ns != 1:
                    raise ValueError(
                        "progressive AC scans are single-component (T.81 "
                        "G.1.1.1.1)"
                    )
                comp, tables = scan_comps[0]
                eobrun = _prog_ac_scan(
                    reader,
                    _band_block_view(comp),
                    huff,
                    tables & 0x0F,
                    ss,
                    se,
                    ah,
                    al,
                    0,
                    restart_interval,
                )
                if eobrun:
                    raise ValueError(
                        "EOB run extends past the scan's last block"
                    )
            # skip to the next marker (flush partial byte)
            p = reader.pos
            while blob[p] != 0xFF or blob[p + 1] == 0x00:
                p += 1
            pos = p
            continue
        elif 0xE0 <= marker <= 0xEF or marker == 0xFE:
            pass
        else:
            raise ValueError(
                f"unsupported marker 0xFF{marker:02X} in progressive stream"
            )
        pos = end
    if not comps:
        raise ValueError("progressive stream has no SOF2 header")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for comp in comps:
        if comp["tq"] not in qtabs:
            raise ValueError("missing quantization table")
        qtab = qtabs[comp["tq"]]
        # dequantize in zig-zag order, scatter to raster, batch-IDCT
        blk = _np.asarray(comp["blocks"], dtype=_np.float64)
        coefs = _np.empty_like(blk)
        coefs[:, _ZZ_NP] = blk * _qtab_zz_np(qtab)
        comp["plane2d"] = _blocks_to_plane2d(
            coefs, comp["bx_pad"], comp["by_pad"]
        )
    return (
        width,
        height,
        len(comps),
        _planes_to_pixels_np(comps, width, height, hmax, vmax),
    )


class _ProgScanWriter:
    """Per-scan entropy accumulator with restart cadence: after every
    ``restart_interval`` MCU units the bit stream flushes (1-padded to
    a byte), an RSTn marker (cycling 0-7) lands in the entropy data,
    and on_restart fires (DC predictor reset).  Module-level so the
    progressive encoder does not rebuild the class per call."""

    def __init__(self, restart_interval=0, on_restart=None):
        self.data = bytearray()
        self.w = _BitWriter()
        self.mcu = 0
        self.rst = 0
        self.ri = restart_interval
        self.on_restart = on_restart

    def boundary(self):
        if self.ri and self.mcu and self.mcu % self.ri == 0:
            self.data += self.w.flush()
            self.data += bytes([0xFF, 0xD0 + self.rst])
            self.rst = (self.rst + 1) % 8
            self.w = _BitWriter()
            if self.on_restart:
                self.on_restart()

    def done(self):
        return bytes(self.data + self.w.flush())


def _read_symbol(reader, table):
    maxcode, mincode, valptr, vals = table
    bit = reader.bit
    code, length = 0, 0
    while True:
        code = (code << 1) | bit()
        length += 1
        if mincode[length] <= code <= maxcode[length]:
            return vals[valptr[length] + code - mincode[length]]
        if length >= 16:
            raise ValueError("invalid Huffman stream")


def _band_block_view(comp):
    """The component's blocks in NON-interleaved row-major order — the
    grid single-component scans cover, which is smaller than the
    MCU-padded storage grid when the component is subsampled."""
    bx_pad = comp["bx_pad"]
    return [
        comp["blocks"][row * bx_pad + col]
        for row in range(comp["ny"])
        for col in range(comp["nx"])
    ]


def _prog_dc_scan_interleaved(
    reader, scan_comps, huff, ah, al, mcus_x, mcus_y, interleaved,
    restart_interval=0,
):
    """DC scan: first scan (Ah=0) is DPCM at reduced precision with a
    per-component predictor; refinement appends one raw bit at
    position Al.  Interleaved order is h x v blocks per component per
    MCU (T.81 A.2.3); a single-component DC scan walks that
    component's non-interleaved grid instead.  A restart boundary
    byte-aligns onto an RSTn and resets the predictors."""
    units = []  # one entry per MCU: list of (si, block)
    if interleaved:
        for my in range(mcus_y):
            for mx in range(mcus_x):
                unit = []
                for si, (comp, _tables) in enumerate(scan_comps):
                    h, v, bx_pad = comp["h"], comp["v"], comp["bx_pad"]
                    for by in range(v):
                        for bx in range(h):
                            unit.append(
                                (
                                    si,
                                    comp["blocks"][
                                        (my * v + by) * bx_pad
                                        + (mx * h + bx)
                                    ],
                                )
                            )
                units.append(unit)
    else:
        comp, _tables = scan_comps[0]
        units = [[(0, blk)] for blk in _band_block_view(comp)]

    preds = [0] * len(scan_comps)
    bit = 1 << al
    for mi, unit in enumerate(units):
        if restart_interval and mi and mi % restart_interval == 0:
            reader.align_to_restart()
            preds = [0] * len(scan_comps)
        for si, blk in unit:
            if ah == 0:
                table = huff[(0, scan_comps[si][1] >> 4)]
                s = _read_symbol(reader, table)
                preds[si] += _extend(reader.bits(s), s) if s else 0
                blk[0] = preds[si] << al
            elif reader.bit():
                blk[0] |= bit


def _prog_ac_scan(
    reader, blocks, huff, tid, ss, se, ah, al, eobrun, restart_interval=0
):
    """AC band scan over every block (non-interleaved, 1 component).
    First scans (Ah=0) place new coefficients at precision Al with
    EOB-run skipping; refinement scans (Ah=1) add one correction bit to
    every already-nonzero coefficient traversed and mark newly
    significant ones (T.81 G.2 / the libjpeg decode_mcu_AC_* model).
    A restart boundary byte-aligns onto an RSTn; an EOB run spanning
    one is malformed (raised).  Returns the EOB run carried into the
    next scan's blocks (always drained within one scan in practice,
    but kept explicit).

    The bit accumulator is inlined into closure variables for the
    whole scan (same pattern as _decode_block — the AC scans are the
    progressive decoder's hot path); fill/read_symbol/take are
    _BitReader verbatim, and state syncs back to the reader around
    align_to_restart and before every return or restart-marker
    raise."""
    maxcode, mincode, valptr, vals = huff[(1, tid)]
    p1 = 1 << al
    data = reader.data
    pos, acc, nbits = reader.pos, reader.acc, reader.nbits

    def sync():
        reader.pos, reader.acc, reader.nbits = pos, acc, nbits

    def fill():
        nonlocal pos, acc, nbits
        b = data[pos]
        if b == 0xFF:
            nxt = data[pos + 1]
            if nxt == 0x00:
                pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                sync()
                raise _RestartMarker(nxt)
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                )
        else:
            pos += 1
        nbits += 8
        acc = ((acc << 8) | b) & ((1 << nbits) - 1)

    def read_symbol():
        nonlocal acc, nbits
        code, length = 0, 0
        while True:
            if nbits == 0:
                fill()
            nbits -= 1
            code = (code << 1) | ((acc >> nbits) & 1)
            length += 1
            if mincode[length] <= code <= maxcode[length]:
                return vals[valptr[length] + code - mincode[length]]
            if length >= 16:
                raise ValueError("invalid Huffman stream")

    def take(n):
        nonlocal acc, nbits
        while nbits < n:
            fill()
        nbits -= n
        return (acc >> nbits) & ((1 << n) - 1)

    def getbit():
        nonlocal acc, nbits
        if nbits == 0:
            fill()
        nbits -= 1
        return (acc >> nbits) & 1

    def restart_boundary(bi):
        nonlocal pos, acc, nbits
        if restart_interval and bi and bi % restart_interval == 0:
            if eobrun:
                raise ValueError("EOB run crosses a restart boundary")
            sync()
            reader.align_to_restart()
            pos, acc, nbits = reader.pos, reader.acc, reader.nbits

    if ah == 0:
        for bi, blk in enumerate(blocks):
            restart_boundary(bi)
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = read_symbol()
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << r) - 1 + (take(r) if r else 0)
                    break
                k += r
                if k > se:
                    raise ValueError("AC run overflows spectral band")
                # block arrays are ZIG-ZAG ordered (the scan order);
                # the final dequantize maps through _ZZ once
                blk[k] = _extend(take(s), s) * p1
                k += 1
        sync()
        return eobrun

    m1 = -p1

    def correct(blk, z):
        c = blk[z]
        if getbit() and (c & p1) == 0:
            blk[z] = c + (p1 if c >= 0 else m1)

    for bi, blk in enumerate(blocks):
        restart_boundary(bi)
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = read_symbol()
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) + (take(r) if r else 0)
                        break
                    val = 0  # ZRL: skip 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("bad magnitude in AC refinement")
                    val = p1 if getbit() else m1
                while k <= se:
                    if blk[k] != 0:
                        correct(blk, k)
                    else:
                        if r == 0:
                            if val:
                                blk[k] = val
                            k += 1
                            break
                        r -= 1
                    k += 1
        if eobrun > 0:
            # EOB-covered band tail: already-nonzero coefficients still
            # carry correction bits
            while k <= se:
                if blk[k] != 0:
                    correct(blk, k)
                k += 1
            eobrun -= 1
    sync()
    return eobrun


def resize_nearest(
    pixels: bytes,
    width: int,
    height: int,
    channels: int,
    target_w: int,
    target_h: int,
) -> bytes:
    """Nearest-neighbor resample of a raster sample buffer — the
    deterministic, codec-free core the resize operator runs between a
    real decode and a real (PNG) re-encode.  Source pixel for output
    (x, y) is (x * width // target_w, y * height // target_h)."""
    src = _np.frombuffer(bytes(pixels), dtype=_np.uint8).reshape(
        height, width, channels
    )
    ys = (_np.arange(target_h) * height) // target_h
    xs = (_np.arange(target_w) * width) // target_w
    return src[ys][:, xs].tobytes()


# ---------------------------------------------------------------------------
# Animated GIF (GIF89a, LZW entropy coding) — the real format behind
# the frame-sampling operator.  Same contract as PNG/JPEG/WAV above:
# real container, real parser, stdlib only.  Scope (declared):
#   * decode: GIF87a/89a, global/local color tables, full- and
#     sub-rect frames composited with ALL FOUR disposal methods (0/1
#     draw over, 2 restore background, 3 restore-to-previous via a
#     saved canvas) and 4-pass INTERLACED frames, transparency
#     honored; undefined disposal values 4-7, oversize
#     frame rects and palette-index overflows raise ValueError
#     (malformed, never composited).
#     Frames return as GREYSCALE rasters (ITU-R 601 luma of the
#     palette entry, rounded) — the feature-extraction contract.
#   * encode: full-frame greyscale animation over the 256-entry
#     identity-grey palette; LZW output uses literal codes with
#     periodic CLEARs (valid, compression-free — the encoder exists to
#     make real test/pipeline fixtures, not to win size contests).
# ---------------------------------------------------------------------------

GIF_MAGICS = (b"GIF89a", b"GIF87a")


def gif_encode(frames: list, width: int, height: int, delay_cs: int = 10) -> bytes:
    """Encode full-frame greyscale rasters as a real animated GIF89a."""
    if not frames:
        raise ValueError("need at least one frame")
    for f in frames:
        if len(f) != width * height:
            raise ValueError("frame size does not match dimensions")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0xF7)  # GCT present, 8-bit, 256 entries
    out += b"\x00\x00"  # bg index, aspect
    for i in range(256):  # identity greyscale palette
        out += bytes((i, i, i))
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    for f in frames:
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out.append(8)  # LZW min code size
        # literal-code LZW: 9-bit codes, CLEAR every 254 literals so the
        # dictionary never grows past 9 bits — valid, uncompressed
        bits = bytearray()
        acc = nbits = 0

        def put(code):
            nonlocal acc, nbits
            acc |= code << nbits  # LSB-first packing
            nbits += 9
            while nbits >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        put(256)  # CLEAR
        for i, px in enumerate(f):
            put(px)
            if (i + 1) % 254 == 0:
                put(256)
        put(257)  # END
        if nbits:
            bits.append(acc & 0xFF)
        for i in range(0, len(bits), 255):
            chunk = bits[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0x00)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def _gif_lzw_decode(mcs: int, data: bytes, n_pixels: int) -> bytearray:
    clear, end = 1 << mcs, (1 << mcs) + 1
    # base table built once; a CLEAR merely list-copies it (the bytes
    # singletons are immutable and shared) instead of re-materializing
    # 2^mcs one-byte objects per reset
    base = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]

    out = bytearray()
    # LSB-first variable-width code reader in locals: a reader object
    # pays a method call + attribute traffic per code, and the LZW
    # loop is the GIF decoder's hot path
    pos, acc, nbits = 0, 0, 0
    nd = len(data)
    # spec does NOT require a leading CLEAR: a stream may open with a
    # literal code, so the table starts initialized (a CLEAR merely
    # resets it)
    table: list = list(base)
    tlen = len(table)
    width = mcs + 1
    maxc = 1 << width
    prev = None
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= nd:
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & (maxc - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            tlen = len(table)
            width = mcs + 1
            maxc = 1 << width
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= tlen:
                raise ValueError("invalid GIF LZW code")
            entry = table[code]
        elif code < tlen:
            entry = table[code]
            table.append(prev + entry[:1])
            tlen += 1
        elif code == tlen:  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
            tlen += 1
        else:
            raise ValueError("invalid GIF LZW code")
        out += entry
        prev = entry
        if tlen == maxc and width < 12:
            width += 1
            maxc <<= 1
    return out


def gif_decode(blob: bytes) -> tuple[int, int, int, list]:
    """Decode an animated GIF: (width, height, n_frames, frames) where
    each frame is the full composited canvas as greyscale bytes.

    Malformed input raises ValueError (enforced at this boundary — a
    truncated block's IndexError / short descriptor's struct.error
    never escape raw); out-of-scope features (interlace, disposal
    method 3 restore-to-previous) raise ValueError explicitly rather
    than compositing wrong."""
    try:
        return _gif_decode_impl(blob)
    except (IndexError, struct.error) as exc:
        raise ValueError(
            f"malformed GIF: {type(exc).__name__}: {exc}"
        ) from exc


def _gif_decode_impl(blob: bytes) -> tuple[int, int, int, list]:
    if blob[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF: bad signature")
    width, height = struct.unpack_from("<HH", blob, 6)
    packed, bg = blob[10], blob[11]
    pos = 13

    def read_palette(p, flag_byte):
        if not flag_byte & 0x80:
            return None, p
        n = 2 << (flag_byte & 0x07)
        pal = [
            round(
                0.299 * blob[p + 3 * i]
                + 0.587 * blob[p + 3 * i + 1]
                + 0.114 * blob[p + 3 * i + 2]
            )
            for i in range(n)
        ]
        return pal, p + 3 * n

    gct, pos = read_palette(pos, packed)
    canvas = bytearray([gct[bg] if gct else 0]) * (width * height)
    frames: list = []
    transparent = None
    disposal = 0
    while True:
        if pos >= len(blob):
            raise ValueError("truncated GIF: no trailer")
        b0 = blob[pos]
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = blob[pos + 1]
            pos += 2
            if label == 0xF9:  # graphic control
                size = blob[pos]
                flags = blob[pos + 1]
                disposal = (flags >> 2) & 0x07
                if disposal > 3:
                    # 4-7 are undefined by the spec: fail loudly,
                    # never composite wrong (3 = restore-to-previous
                    # is IMPLEMENTED below via a saved canvas)
                    raise ValueError(
                        f"GIF disposal method {disposal} is undefined "
                        "(0-3 only)"
                    )
                transparent = blob[pos + 4] if flags & 1 else None
                pos += size + 1
            while blob[pos]:  # skip (remaining) sub-blocks
                pos += blob[pos] + 1
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b0:02X}")
        left, top, fw, fh = struct.unpack_from("<HHHH", blob, pos + 1)
        fpacked = blob[pos + 9]
        pos += 10
        if left + fw > width or top + fh > height:
            # an oversize rect would silently wrap pixels onto the
            # next canvas row through the flat-index compositor
            raise ValueError(
                f"GIF frame rect {fw}x{fh}@({left},{top}) exceeds "
                f"{width}x{height} canvas"
            )
        interlaced = bool(fpacked & 0x40)
        lct, pos = read_palette(pos, fpacked)
        pal = lct or gct
        if pal is None:
            raise ValueError("GIF frame has no color table")
        mcs = blob[pos]
        pos += 1
        data = bytearray()
        while blob[pos]:
            n = blob[pos]
            data += blob[pos + 1 : pos + 1 + n]
            pos += n + 1
        pos += 1
        idx = _gif_lzw_decode(mcs, bytes(data), fw * fh)
        if len(idx) < fw * fh:
            raise ValueError("GIF frame pixel data short")
        if interlaced:
            # 4-pass row interleave (GIF89a appendix E): decoded rows
            # arrive pass-ordered; remap them to their display rows
            deint = bytearray(fw * fh)
            src_row = 0
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                for y in range(start, fh, step):
                    deint[y * fw : (y + 1) * fw] = idx[
                        src_row * fw : (src_row + 1) * fw
                    ]
                    src_row += 1
            idx = deint
        top_idx = max(
            (v for v in idx[: fw * fh] if v != transparent), default=0
        )
        if top_idx >= len(pal):
            raise ValueError(
                f"GIF pixel index {top_idx} exceeds {len(pal)}-entry "
                "color table"
            )
        saved = bytes(canvas) if disposal == 3 else None
        for y in range(fh):
            row = (top + y) * width + left
            frow = y * fw
            for x in range(fw):
                px = idx[frow + x]
                if px != transparent:
                    canvas[row + x] = pal[px]
        frames.append(bytes(canvas))
        if disposal == 2:  # restore background in the frame rect
            bgv = gct[bg] if gct else 0
            for y in range(fh):
                row = (top + y) * width + left
                for x in range(fw):
                    canvas[row + x] = bgv
        elif disposal == 3:  # restore-to-previous
            canvas = bytearray(saved)
        disposal, transparent = 0, None
    if not frames:
        raise ValueError("GIF contains no image frames")
    return width, height, len(frames), frames


# ---------------------------------------------------------------------------
# AVI / Motion-JPEG (RIFF 'AVI ' container, one 'vids' stream whose
# frames are independent baseline JPEGs) — the real video container
# behind the frame-sampling entry.  Zero new codec machinery: the
# container is the RIFF chunk grammar the WAV path already speaks, and
# every frame payload is the T.81 baseline-JPEG codec above.  Same
# contract as PNG/JPEG/WAV/GIF above: real format, real parser.  Scope (declared, enforced by explicit raises):
#   * decode: RIFF/'AVI ' with ONE 'vids' stream, MJPG-compressed
#     ('MJPG'/'mjpg' fccHandler or biCompression); '00dc'/'00db' movi
#     chunks decoded by jpeg_decode, color frames reduced to ITU-R 601
#     luma (the GIF frame contract: frames are greyscale rasters).
#     Any other compression (raw DIB, cvid, ...), audio streams, or
#     multi-stream files raise NotImplementedError — honestly out of
#     scope, not silently wrong.  mp4/mkv are NOT RIFF and never reach
#     this parser.  Malformed input raises ValueError (enforced at the
#     avi_decode boundary like jpeg_decode/gif_decode).
#   * encode: greyscale frame stacks; each frame one '00dc' baseline
#     JPEG (so constant 8x8 blocks at even offsets from 128 round-trip
#     EXACTLY — the same quality-50 quantizer property the graded JPEG
#     query is built on), plus a spec-complete hdrl (avih/strh/strf)
#     and idx1 index so third-party players accept the file.
# ---------------------------------------------------------------------------


def is_avi(blob: bytes) -> bool:
    """RIFF sniff: 'RIFF'<size>'AVI ' (WAV shares the outer fourcc,
    so callers must check the form type too — this does both)."""
    return blob[:4] == b"RIFF" and blob[8:12] == b"AVI "


def _riff_chunk(fourcc: bytes, body: bytes) -> bytes:
    """One RIFF chunk: fourcc + LE size + body + even-size pad byte
    (the pad is not counted in the size, per the RIFF grammar)."""
    return fourcc + struct.pack("<I", len(body)) + body + (
        b"\x00" if len(body) % 2 else b""
    )


def avi_encode(
    frames: list, width: int, height: int, fps: int = 10
) -> bytes:
    """Encode greyscale rasters as a real AVI/MJPEG file."""
    if not frames:
        raise ValueError("AVI needs at least one frame")
    for f in frames:
        if len(f) != width * height:
            raise ValueError("frame buffer does not match dimensions")
    jpegs = [jpeg_encode(bytes(f), width, height) for f in frames]
    max_jpeg = max(len(j) for j in jpegs)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,      # dwMicroSecPerFrame
        max_jpeg * fps,        # dwMaxBytesPerSec
        0,                     # dwPaddingGranularity
        0x10,                  # dwFlags: AVIF_HASINDEX
        len(jpegs),            # dwTotalFrames
        0,                     # dwInitialFrames
        1,                     # dwStreams
        max_jpeg,              # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,            # dwReserved
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIiI4H",
            0,                 # dwFlags
            0, 0,              # wPriority, wLanguage
            0,                 # dwInitialFrames
            1, fps,            # dwScale / dwRate = frame period
            0,                 # dwStart
            len(jpegs),        # dwLength (in frames)
            max_jpeg,          # dwSuggestedBufferSize
            -1,                # dwQuality (default)
            0,                 # dwSampleSize (0: one sample per chunk)
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,                    # biSize
        width,
        height,
        1,                     # biPlanes
        24,                    # biBitCount (MJPG convention)
        b"MJPG",               # biCompression
        width * height * 3,    # biSizeImage
        0, 0, 0, 0,
    )
    strl = _riff_chunk(
        b"LIST",
        b"strl" + _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf),
    )
    hdrl = _riff_chunk(b"LIST", b"hdrl" + _riff_chunk(b"avih", avih) + strl)

    movi_body = b"movi"
    index_entries = []
    for j in jpegs:
        # idx1 offsets are relative to the 'movi' fourcc position
        index_entries.append((len(movi_body) - 4, len(j)))
        movi_body += _riff_chunk(b"00dc", j)
    movi = _riff_chunk(b"LIST", movi_body)
    idx1 = _riff_chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off + 4, size)
            for off, size in index_entries
        ),
    )
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def avi_decode(blob: bytes) -> tuple[int, int, int, list]:
    """Decode an AVI/MJPEG: (width, height, n_frames, frames), each
    frame the full greyscale raster (luma for color JPEGs).

    Malformed input raises ValueError (truncated chunks / short
    headers never escape as IndexError/struct.error); non-MJPEG
    compression and multi-stream files raise NotImplementedError."""
    try:
        return _avi_decode_impl(blob)
    except (IndexError, struct.error) as exc:
        raise ValueError(
            f"malformed AVI: {type(exc).__name__}: {exc}"
        ) from exc


def _walk_riff(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) for each chunk in
    data[pos:end], honoring the even-size padding rule."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated RIFF chunk header")
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        if pos + 8 + size > end:
            raise ValueError(f"RIFF chunk {fourcc!r} overruns container")
        yield fourcc, pos + 8, size
        pos += 8 + size + (size % 2)


def _avi_decode_impl(blob: bytes) -> tuple[int, int, int, list]:
    if not is_avi(blob):
        raise ValueError("not an AVI: bad RIFF/'AVI ' signature")
    (riff_size,) = struct.unpack_from("<I", blob, 4)
    end = min(8 + riff_size, len(blob))

    width = height = total = n_streams = None
    handler = compression = None
    movi_span = None
    for fourcc, start, size in _walk_riff(blob, 12, end):
        if fourcc == b"LIST":
            kind = blob[start : start + 4]
            if kind == b"hdrl":
                for f2, s2, z2 in _walk_riff(blob, start + 4, start + size):
                    if f2 == b"avih":
                        if z2 < 40:
                            raise ValueError("avih header too short")
                        (_, _, _, _, total, _, n_streams, _, width,
                         height) = struct.unpack_from("<10I", blob, s2)
                    elif f2 == b"LIST" and blob[s2 : s2 + 4] == b"strl":
                        for f3, s3, z3 in _walk_riff(blob, s2 + 4, s2 + z2):
                            if f3 == b"strh":
                                if blob[s3 : s3 + 4] != b"vids":
                                    raise NotImplementedError(
                                        "non-video AVI streams are out "
                                        "of scope"
                                    )
                                handler = blob[s3 + 4 : s3 + 8]
                            elif f3 == b"strf":
                                if z3 >= 20:
                                    compression = blob[s3 + 16 : s3 + 20]
            elif kind == b"movi":
                movi_span = (start + 4, start + size)
    if width is None:
        raise ValueError("AVI has no avih header")
    if n_streams != 1:
        raise NotImplementedError(
            f"{n_streams}-stream AVI is out of scope (single 'vids' only)"
        )
    mjpg = (b"MJPG", b"mjpg")
    if handler not in mjpg and compression not in mjpg:
        raise NotImplementedError(
            f"AVI compression {compression!r} is out of scope (MJPG only)"
        )
    if movi_span is None:
        raise ValueError("AVI has no movi list")

    frames: list = []
    for fourcc, start, size in _walk_riff(blob, *movi_span):
        if fourcc[2:] not in (b"dc", b"db"):
            continue  # non-video chunks (e.g. padding 'JUNK') skipped
        frames.append(
            _mjpeg_sample_luma(
                bytes(blob[start : start + size]), width, height, len(frames)
            )
        )
    if not frames:
        raise ValueError("AVI movi list contains no video frames")
    if total is not None and total != len(frames):
        raise ValueError(
            f"AVI header declares {total} frames, movi carries {len(frames)}"
        )
    return width, height, len(frames), frames


def digest_block_frames(digest: bytes, n_frames: int = 2) -> list:
    """The shared graded video-frame construction: frame f is a 16x16
    greyscale raster of four constant 8x8 blocks whose values derive
    from digest bytes 4f..4f+3 as 64 + 2*(byte % 64) — even offsets
    from 128 that round-trip the quality-50 JPEG quantizer EXACTLY.
    One definition keeps the AVI/MP4/MKV adapters and the DuckDB
    oracle's analytic rebuild from ever drifting apart."""
    d = _np.frombuffer(digest[: 4 * n_frames], dtype=_np.uint8)
    vals = (64 + 2 * (d % 64)).astype(_np.uint8).reshape(n_frames, 2, 2)
    # blow each 2x2 block-value grid up to 16x16 (8x8 per block)
    imgs = _np.repeat(_np.repeat(vals, 8, axis=1), 8, axis=2)
    return [imgs[fi].tobytes() for fi in range(n_frames)]


def pcm_to_mono_f64(pcm: bytes, n_frames: int, n_ch: int):
    """Decode raw PCM (as returned by wav_decode) to a mono float64
    numpy array: 8-bit unsigned, 16-bit signed or 24-bit signed
    little-endian, multi-channel averaged.  Raises ValueError on
    other widths."""
    width = len(pcm) // (n_frames * n_ch) if n_frames else 1
    if width == 1:
        x = _np.frombuffer(pcm, dtype=_np.uint8).astype(_np.float64)
    elif width == 2:
        x = _np.frombuffer(pcm, dtype="<i2").astype(_np.float64)
    elif width == 3:
        b = _np.frombuffer(pcm, dtype=_np.uint8).reshape(-1, 3).astype(
            _np.int64
        )
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        x = _np.where(v >= 1 << 23, v - (1 << 24), v).astype(_np.float64)
    else:
        raise ValueError(
            f"unsupported PCM sample width {width} (8/16/24-bit only)"
        )
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x


def _mjpeg_sample_luma(data: bytes, width: int, height: int, idx: int) -> bytes:
    """Decode one Motion-JPEG sample and reduce it to the greyscale
    frame contract shared by gif/avi/mp4 decode: color JPEGs become
    ITU-R 601 luma, and the sample's dimensions must match the
    container header (the frame stack is a single raster shape)."""
    w, h, ch, px = jpeg_decode(data)
    if (w, h) != (width, height):
        raise ValueError(
            f"frame {idx} is {w}x{h}, header says {width}x{height}"
        )
    if ch == 3:
        px = bytes(
            min(
                255,
                round(0.299 * px[i] + 0.587 * px[i + 1] + 0.114 * px[i + 2]),
            )
            for i in range(0, len(px), 3)
        )
    return px


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF (Motion-JPEG in MP4) — ISO/IEC 14496-12 box grammar,
# stdlib only.  Scope (declared, enforced by explicit raises):
#   * decode: ISO-BMFF files with exactly ONE video ('vide' handler)
#     track whose stsd sample entry is 'jpeg' or 'mjpa' (Motion-JPEG);
#     samples are located through the REAL sample-table machinery —
#     stsc chunk runs, stco/co64 chunk offsets, stsz sizes — not just
#     the single-chunk layout our encoder writes, so third-party
#     MJPEG MP4s with interleaved audio chunks or 64-bit offsets
#     decode too.  Non-video tracks are skipped; each sample decodes
#     via jpeg_decode with color reduced to ITU-R 601 luma (the shared
#     greyscale frame contract).  H.264/H.265/VP9-class codings
#     ('avc1', 'hvc1', 'vp09', ...) raise NotImplementedError — the
#     payload needs an entropy/prediction engine no container parse
#     can provide; mkv/EBML is not ISO-BMFF and never reaches this
#     parser.  Malformed input raises ValueError (enforced at the
#     mp4_decode boundary like avi_decode/gif_decode).
#   * encode: greyscale frame stacks; one 'jpeg' sample per frame in a
#     single mdat chunk, plus a spec-complete moov (mvhd/tkhd/mdhd/
#     hdlr/vmhd/dinf/stbl) so standards-compliant demuxers accept the
#     file.  Constant 8x8 blocks at even offsets from 128 round-trip
#     exactly (the same quality-50 quantizer property every graded
#     media query builds on).
# ---------------------------------------------------------------------------


def is_mp4(blob: bytes) -> bool:
    """ISO-BMFF sniff: the first box is 'ftyp' (every MP4 our scope
    cares about leads with it; the size field varies, the type does
    not)."""
    return len(blob) >= 12 and blob[4:8] == b"ftyp"


def _box(btype: bytes, body: bytes) -> bytes:
    """One ISO-BMFF box: 32-bit BE size (including the 8-byte header)
    + fourcc + body."""
    return struct.pack(">I", 8 + len(body)) + btype + body


def _fullbox(btype: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(btype, bytes([version]) + flags.to_bytes(3, "big") + body)


# unity transformation matrix (16.16 / 2.30 fixed point), per 14496-12
_MP4_UNITY_MATRIX = struct.pack(
    ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
)


def mp4_encode(
    frames: list, width: int, height: int, fps: int = 10
) -> bytes:
    """Encode greyscale rasters as a real Motion-JPEG MP4 (ISO-BMFF)."""
    if not frames:
        raise ValueError("MP4 needs at least one frame")
    for f in frames:
        if len(f) != width * height:
            raise ValueError("frame buffer does not match dimensions")
    jpegs = [jpeg_encode(bytes(f), width, height) for f in frames]
    n = len(jpegs)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isom" + b"mp41")
    # mdat directly after ftyp; stco points at its payload, so the
    # chunk offset is known before moov is built (moov goes last)
    chunk_offset = len(ftyp) + 8
    mdat = _box(b"mdat", b"".join(jpegs))

    mvhd = _fullbox(
        b"mvhd",
        0,
        0,
        struct.pack(">4I", 0, 0, fps, n)        # times, timescale, duration
        + struct.pack(">iH", 0x00010000, 0x0100)  # rate 1.0, volume 1.0
        + b"\x00" * 10                            # reserved
        + _MP4_UNITY_MATRIX
        + b"\x00" * 24                            # pre_defined
        + struct.pack(">I", 2),                   # next_track_ID
    )
    tkhd = _fullbox(
        b"tkhd",
        0,
        3,  # track_enabled | track_in_movie
        struct.pack(">5I", 0, 0, 1, 0, n)         # times, track_ID, duration
        + b"\x00" * 8                             # reserved
        + struct.pack(">4H", 0, 0, 0, 0)          # layer, group, volume, rsvd
        + _MP4_UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _fullbox(
        b"mdhd",
        0,
        0,
        struct.pack(">4I", 0, 0, fps, n) + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _fullbox(
        b"hdlr",
        0,
        0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00",
    )
    vmhd = _fullbox(b"vmhd", 0, 1, struct.pack(">4H", 0, 0, 0, 0))
    dinf = _box(
        b"dinf",
        _fullbox(
            b"dref", 0, 0, struct.pack(">I", 1) + _fullbox(b"url ", 0, 1, b"")
        ),
    )
    compressor = b"\x0bMotion-JPEG".ljust(32, b"\x00")  # Pascal-style name
    sample_entry = _box(
        b"jpeg",
        b"\x00" * 6                               # reserved
        + struct.pack(">H", 1)                    # data_reference_index
        + b"\x00" * 16                            # pre_defined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4                             # reserved
        + struct.pack(">H", 1)                    # frame_count
        + compressor
        + struct.pack(">Hh", 24, -1),             # depth, pre_defined
    )
    stsd = _fullbox(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _fullbox(b"stts", 0, 0, struct.pack(">III", 1, n, 1))
    stsc = _fullbox(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
    stsz = _fullbox(
        b"stsz",
        0,
        0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(j)) for j in jpegs),
    )
    stco = _fullbox(b"stco", 0, 0, struct.pack(">II", 1, chunk_offset))

    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def mp4_decode(blob: bytes) -> tuple[int, int, int, list]:
    """Decode a Motion-JPEG MP4: (width, height, n_frames, frames),
    each frame the full greyscale raster (luma for color JPEGs).

    Malformed input raises ValueError (truncated boxes / short sample
    tables never escape as IndexError/struct.error); non-MJPEG video
    codings and multi-video-track files raise NotImplementedError."""
    try:
        return _mp4_decode_impl(blob)
    except (IndexError, struct.error) as exc:
        raise ValueError(
            f"malformed MP4: {type(exc).__name__}: {exc}"
        ) from exc


def _walk_boxes(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_end) for each ISO-BMFF box in
    data[pos:end], honoring size==1 (64-bit largesize) and size==0
    (box extends to the end of the enclosing scope)."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated MP4 box header")
        (size,) = struct.unpack_from(">I", data, pos)
        fourcc = data[pos + 4 : pos + 8]
        header = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize header")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            header = 16
        elif size == 0:
            size = end - pos
        if size < header or pos + size > end:
            raise ValueError(f"MP4 box {fourcc!r} overruns container")
        yield fourcc, pos + header, pos + size
        pos += size


def _find_box(data: bytes, pos: int, end: int, fourcc: bytes):
    """(body_start, body_end) of the first direct child box named
    `fourcc`, or None."""
    for tag, s, e in _walk_boxes(data, pos, end):
        if tag == fourcc:
            return s, e
    return None


_MJPEG_SAMPLE_FORMATS = (b"jpeg", b"mjpa")


def _mp4_sample_table(blob: bytes, stbl_span) -> tuple[int, int, list]:
    """Resolve the stbl machinery to (width, height, [(offset, size)])
    in presentation order: stsd validates the coding and carries the
    raster dims; stsc maps samples to chunks; stco/co64 places the
    chunks; stsz sizes each sample (samples are contiguous within a
    chunk, per 14496-12 8.7.4)."""
    stsd = _find_box(blob, *stbl_span, b"stsd")
    if stsd is None:
        raise ValueError("MP4 stbl has no stsd")
    s, e = stsd
    (entry_count,) = struct.unpack_from(">I", blob, s + 4)
    if entry_count < 1 or s + 16 > e:
        raise ValueError("MP4 stsd has no sample entry")
    fmt = blob[s + 12 : s + 16]
    if fmt not in _MJPEG_SAMPLE_FORMATS:
        raise NotImplementedError(
            f"mp4 video coding {fmt!r} is out of scope (Motion-JPEG "
            "'jpeg'/'mjpa' only — H.264-class payloads need a codec "
            "this container parser cannot provide)"
        )
    entry = s + 8  # first sample entry's box start
    if entry + 36 > e:
        raise ValueError("MP4 visual sample entry too short")
    width, height = struct.unpack_from(">HH", blob, entry + 32)

    stsz = _find_box(blob, *stbl_span, b"stsz")
    if stsz is None:
        raise ValueError("MP4 stbl has no stsz")
    s, e = stsz
    fixed, count = struct.unpack_from(">II", blob, s + 4)
    if fixed:
        # bound the declared count by what the file could possibly
        # hold BEFORE materializing anything — a malformed
        # count=0xFFFFFFFF would otherwise allocate tens of GB here
        if count * max(fixed, 1) > len(blob):
            raise ValueError(
                f"MP4 stsz declares {count} samples of {fixed} bytes, "
                "exceeding the file size"
            )
        sizes = [fixed] * count
    else:
        if s + 12 + 4 * count > e:
            raise ValueError("MP4 stsz table truncated")
        sizes = list(struct.unpack_from(f">{count}I", blob, s + 12))

    co = _find_box(blob, *stbl_span, b"stco")
    wide = False
    if co is None:
        co = _find_box(blob, *stbl_span, b"co64")
        wide = True
    if co is None:
        raise ValueError("MP4 stbl has no stco/co64")
    s, e = co
    (n_chunks,) = struct.unpack_from(">I", blob, s + 4)
    step, code = (8, "Q") if wide else (4, "I")
    if s + 8 + step * n_chunks > e:
        raise ValueError("MP4 chunk-offset table truncated")
    chunk_offsets = list(struct.unpack_from(f">{n_chunks}{code}", blob, s + 8))

    stsc = _find_box(blob, *stbl_span, b"stsc")
    if stsc is None:
        raise ValueError("MP4 stbl has no stsc")
    s, e = stsc
    (n_runs,) = struct.unpack_from(">I", blob, s + 4)
    if s + 8 + 12 * n_runs > e:
        raise ValueError("MP4 stsc table truncated")
    runs = [
        struct.unpack_from(">III", blob, s + 8 + 12 * i) for i in range(n_runs)
    ]
    if any(r[0] < 1 or r[0] > n_chunks for r in runs) or any(
        runs[i][0] >= runs[i + 1][0] for i in range(len(runs) - 1)
    ):
        raise ValueError("MP4 stsc first_chunk sequence invalid")

    # expand stsc runs to per-chunk sample counts, then lay samples out
    # contiguously inside each chunk
    samples: list = []
    for ri, (first, per_chunk, _sdi) in enumerate(runs):
        last = runs[ri + 1][0] - 1 if ri + 1 < len(runs) else n_chunks
        for ci in range(first - 1, last):
            off = chunk_offsets[ci]
            for _ in range(per_chunk):
                if len(samples) >= len(sizes):
                    break
                size = sizes[len(samples)]
                samples.append((off, size))
                off += size
    if len(samples) != len(sizes):
        raise ValueError(
            f"MP4 stsc covers {len(samples)} samples, stsz declares "
            f"{len(sizes)}"
        )
    return width, height, samples


def _mp4_decode_impl(blob: bytes) -> tuple[int, int, int, list]:
    if not is_mp4(blob):
        raise ValueError("not an MP4: first box is not 'ftyp'")
    moov = _find_box(blob, 0, len(blob), b"moov")
    if moov is None:
        raise ValueError("MP4 has no moov box")

    video_stbl = None
    for tag, s, e in _walk_boxes(blob, *moov):
        if tag != b"trak":
            continue
        mdia = _find_box(blob, s, e, b"mdia")
        if mdia is None:
            raise ValueError("MP4 trak has no mdia")
        hdlr = _find_box(blob, *mdia, b"hdlr")
        if hdlr is None:
            raise ValueError("MP4 mdia has no hdlr")
        if blob[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue  # audio/hint/metadata tracks are skipped
        if video_stbl is not None:
            raise NotImplementedError(
                "multi-video-track MP4 is out of scope (single 'vide' only)"
            )
        minf = _find_box(blob, *mdia, b"minf")
        stbl = _find_box(blob, *minf, b"stbl") if minf else None
        if stbl is None:
            raise ValueError("MP4 video trak has no minf/stbl")
        video_stbl = stbl
    if video_stbl is None:
        raise ValueError("MP4 has no video track")

    width, height, samples = _mp4_sample_table(blob, video_stbl)
    if not samples:
        raise ValueError("MP4 video track has no samples")
    frames: list = []
    for off, size in samples:
        if off + size > len(blob):
            raise ValueError(
                f"MP4 sample {len(frames)} at {off}+{size} overruns file"
            )
        frames.append(
            _mjpeg_sample_luma(
                bytes(blob[off : off + size]), width, height, len(frames)
            )
        )
    return width, height, len(frames), frames


# ---------------------------------------------------------------------------
# Matroska / EBML (Motion-JPEG in MKV) — RFC 8794 EBML structure +
# the Matroska element vocabulary, stdlib only.  Scope (declared,
# enforced by explicit raises):
#   * decode: an EBML document with ONE video track (TrackType 1)
#     whose CodecID is 'V_MJPEG'; frames are carried in SimpleBlocks
#     (lacing NONE), each payload an independent JPEG decoded by the
#     shared _mjpeg_sample_luma core.  Non-MJPEG codecs ('V_MPEG4/
#     ISO/AVC', 'V_VP9', ...) raise NotImplementedError — the payload
#     needs a codec no container parse provides; audio/subtitle
#     tracks are skipped; unknown-size elements and laced blocks
#     raise NotImplementedError (honest scope).  Malformed input
#     raises ValueError at the mkv_decode boundary.
#   * encode: greyscale frame stacks; EBML header + Segment{Info,
#     Tracks{TrackEntry/Video}, Cluster{SimpleBlock per frame}}, all
#     sizes explicit, so standards-compliant demuxers accept it.
# ---------------------------------------------------------------------------

MKV_MAGIC = b"\x1a\x45\xdf\xa3"  # EBML header element ID

# Matroska element IDs (stored with their length-marker bits, as they
# appear on the wire)
_MKV_SEGMENT = b"\x18\x53\x80\x67"
_MKV_INFO = b"\x15\x49\xa9\x66"
_MKV_TIMESTAMP_SCALE = b"\x2a\xd7\xb1"
_MKV_TRACKS = b"\x16\x54\xae\x6b"
_MKV_TRACK_ENTRY = b"\xae"
_MKV_TRACK_NUMBER = b"\xd7"
_MKV_TRACK_TYPE = b"\x83"
_MKV_CODEC_ID = b"\x86"
_MKV_VIDEO = b"\xe0"
_MKV_PIXEL_WIDTH = b"\xb0"
_MKV_PIXEL_HEIGHT = b"\xba"
_MKV_CLUSTER = b"\x1f\x43\xb6\x75"
_MKV_CLUSTER_TIMESTAMP = b"\xe7"
_MKV_SIMPLE_BLOCK = b"\xa3"


def is_mkv(blob: bytes) -> bool:
    return blob[:4] == MKV_MAGIC


def _ebml_size(n: int) -> bytes:
    """Encode a size as an EBML varint (shortest form, marker bit in
    the first byte)."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:  # all-ones is the unknown-size code
            out = n | (1 << (7 * length))
            return out.to_bytes(length, "big")
    raise ValueError("EBML size too large")


def _ebml(eid: bytes, body: bytes) -> bytes:
    return eid + _ebml_size(len(body)) + body


def _ebml_uint(eid: bytes, v: int) -> bytes:
    body = v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")
    return _ebml(eid, body)


def mkv_encode(
    frames: list, width: int, height: int, fps: int = 10
) -> bytes:
    """Encode greyscale rasters as a real Matroska/MJPEG file."""
    if not frames:
        raise ValueError("MKV needs at least one frame")
    for f in frames:
        if len(f) != width * height:
            raise ValueError("frame buffer does not match dimensions")
    jpegs = [jpeg_encode(bytes(f), width, height) for f in frames]

    header = _ebml(
        MKV_MAGIC,
        _ebml_uint(b"\x42\x86", 1)          # EBMLVersion
        + _ebml_uint(b"\x42\xf7", 1)        # EBMLReadVersion
        + _ebml_uint(b"\x42\xf2", 4)        # EBMLMaxIDLength
        + _ebml_uint(b"\x42\xf3", 8)        # EBMLMaxSizeLength
        + _ebml(b"\x42\x82", b"matroska")   # DocType
        + _ebml_uint(b"\x42\x87", 4)        # DocTypeVersion
        + _ebml_uint(b"\x42\x85", 2),       # DocTypeReadVersion
    )
    info = _ebml(
        _MKV_INFO, _ebml_uint(_MKV_TIMESTAMP_SCALE, 1_000_000)
    )
    track = _ebml(
        _MKV_TRACK_ENTRY,
        _ebml_uint(_MKV_TRACK_NUMBER, 1)
        + _ebml_uint(b"\x73\xc5", 1)        # TrackUID
        + _ebml_uint(_MKV_TRACK_TYPE, 1)    # video
        + _ebml(_MKV_CODEC_ID, b"V_MJPEG")
        + _ebml(
            _MKV_VIDEO,
            _ebml_uint(_MKV_PIXEL_WIDTH, width)
            + _ebml_uint(_MKV_PIXEL_HEIGHT, height),
        ),
    )
    tracks = _ebml(_MKV_TRACKS, track)
    # SimpleBlock timestamps are SIGNED 16-bit offsets from their
    # cluster's Timestamp, so long clips must split into clusters —
    # start a new one whenever the offset would overflow s16
    clusters = b""
    cluster_ts = 0
    blocks = b""
    for i, j in enumerate(jpegs):
        ts_ms = i * 1000 // fps
        if ts_ms - cluster_ts > 0x7FFF:
            clusters += _ebml(
                _MKV_CLUSTER,
                _ebml_uint(_MKV_CLUSTER_TIMESTAMP, cluster_ts) + blocks,
            )
            cluster_ts, blocks = ts_ms, b""
        # SimpleBlock: track varint, s16 relative timestamp, flags
        # (0x80 = keyframe, lacing NONE), payload
        blocks += _ebml(
            _MKV_SIMPLE_BLOCK,
            b"\x81" + struct.pack(">hB", ts_ms - cluster_ts, 0x80) + j,
        )
    clusters += _ebml(
        _MKV_CLUSTER, _ebml_uint(_MKV_CLUSTER_TIMESTAMP, cluster_ts) + blocks
    )
    return header + _ebml(_MKV_SEGMENT, info + tracks + clusters)


def mkv_decode(blob: bytes) -> tuple[int, int, int, list]:
    """Decode a Matroska/MJPEG file: (width, height, n_frames,
    frames), each frame the full greyscale raster (luma for color
    JPEGs).

    Malformed input raises ValueError; non-MJPEG codecs, laced
    blocks, multi-video-track and unknown-size elements raise
    NotImplementedError."""
    try:
        return _mkv_decode_impl(blob)
    except (IndexError, struct.error) as exc:
        raise ValueError(
            f"malformed MKV: {type(exc).__name__}: {exc}"
        ) from exc


def _read_varint(
    data: bytes, pos: int, end: int, keep_marker: bool,
    allow_all_ones: bool = False,
):
    """Read one EBML varint at pos: (value, next_pos).  Element IDs
    keep the marker bit (matching the _MKV_* constants); sizes strip
    it.  The all-ones code means 'unknown size' ONLY for element
    sizes (NotImplementedError — out of scope); block track numbers
    reuse the VINT encoding where all-ones is an ordinary value
    (track 127 as 0xFF is legal), so those reads pass
    allow_all_ones=True."""
    if pos >= end:
        raise ValueError("truncated EBML varint")
    first = data[pos]
    if first == 0:
        raise ValueError("invalid EBML varint (>8 bytes)")
    length = 9 - first.bit_length()
    if pos + length > end:
        raise ValueError("truncated EBML varint")
    raw = int.from_bytes(data[pos : pos + length], "big")
    if keep_marker:
        return data[pos : pos + length], pos + length
    val = raw & ~(1 << (7 * length))
    if val == (1 << (7 * length)) - 1 and not allow_all_ones:
        raise NotImplementedError(
            "unknown-size EBML elements are out of scope"
        )
    return val, pos + length


def _walk_ebml(data: bytes, pos: int, end: int):
    """Yield (element_id_bytes, body_start, body_end) for each EBML
    element in data[pos:end]."""
    while pos < end:
        eid, pos = _read_varint(data, pos, end, keep_marker=True)
        size, pos = _read_varint(data, pos, end, keep_marker=False)
        if pos + size > end:
            raise ValueError(f"EBML element {eid.hex()} overruns container")
        yield eid, pos, pos + size
        pos += size


def _ebml_read_uint(data: bytes, s: int, e: int) -> int:
    if e - s > 8:
        raise ValueError("EBML uint too wide")
    return int.from_bytes(data[s:e], "big")


def _mkv_decode_impl(blob: bytes) -> tuple[int, int, int, list]:
    if not is_mkv(blob):
        raise ValueError("not an MKV: bad EBML signature")
    segment = None
    for eid, s, e in _walk_ebml(blob, 0, len(blob)):
        if eid == _MKV_SEGMENT:
            segment = (s, e)
            break
    if segment is None:
        raise ValueError("MKV has no Segment element")

    video_track = width = height = None
    clusters = []
    for eid, s, e in _walk_ebml(blob, *segment):
        if eid == _MKV_TRACKS:
            for tid, ts, te in _walk_ebml(blob, s, e):
                if tid != _MKV_TRACK_ENTRY:
                    continue
                num = ttype = codec = None
                vw = vh = None
                for fid, fs, fe in _walk_ebml(blob, ts, te):
                    if fid == _MKV_TRACK_NUMBER:
                        num = _ebml_read_uint(blob, fs, fe)
                    elif fid == _MKV_TRACK_TYPE:
                        ttype = _ebml_read_uint(blob, fs, fe)
                    elif fid == _MKV_CODEC_ID:
                        codec = blob[fs:fe].rstrip(b"\x00")
                    elif fid == _MKV_VIDEO:
                        for vid, vs, ve in _walk_ebml(blob, fs, fe):
                            if vid == _MKV_PIXEL_WIDTH:
                                vw = _ebml_read_uint(blob, vs, ve)
                            elif vid == _MKV_PIXEL_HEIGHT:
                                vh = _ebml_read_uint(blob, vs, ve)
                if ttype != 1:
                    continue  # audio/subtitle tracks are skipped
                if video_track is not None:
                    raise NotImplementedError(
                        "multi-video-track MKV is out of scope "
                        "(single video track only)"
                    )
                if codec != b"V_MJPEG":
                    raise NotImplementedError(
                        f"mkv video codec {codec!r} is out of scope "
                        "(V_MJPEG only — compressed codecs need an "
                        "entropy engine no container parse provides)"
                    )
                if vw is None or vh is None:
                    raise ValueError("MKV video track lacks pixel dims")
                video_track, width, height = num, vw, vh
        elif eid == _MKV_CLUSTER:
            clusters.append((s, e))
    if video_track is None:
        raise ValueError("MKV has no video track")

    frames: list = []
    for cs, ce in clusters:
        for eid, s, e in _walk_ebml(blob, cs, ce):
            if eid != _MKV_SIMPLE_BLOCK:
                continue
            track, p = _read_varint(
                blob, s, e, keep_marker=False, allow_all_ones=True
            )
            if track != video_track:
                continue
            if p + 3 > e:
                raise ValueError("MKV SimpleBlock header truncated")
            flags = blob[p + 2]
            if flags & 0x06:
                raise NotImplementedError(
                    "laced MKV blocks are out of scope (lacing NONE only)"
                )
            frames.append(
                _mjpeg_sample_luma(
                    bytes(blob[p + 3 : e]), width, height, len(frames)
                )
            )
    if not frames:
        raise ValueError("MKV has no video frames")
    return width, height, len(frames), frames


# ---------------------------------------------------------------------------
# Lossless JPEG (ITU-T T.81 Annex H, SOF3) — Huffman-coded DPCM.
# No DCT, no quantizer: each sample's difference from a neighbor
# prediction is entropy-coded with the SAME category+magnitude scheme
# (and the same Huffman/bit-IO machinery) as the baseline DC path, so
# this coding model is exact by definition for ANY pixel content.
# Scope: 8-bit precision, greyscale or 3-component interleaved (1x1
# factors, per-component prediction contexts and tables), predictors
# 1-7, point transform 0, no restart intervals — others raise
# (honest, enforced).
# ---------------------------------------------------------------------------


def _lossless_predict(cur, prev, x, predictor):
    """T.81 H.1.2.1: prediction for sample x of the current row.
    First row uses Ra (left); the first sample of later rows uses Rb
    (above); the very first sample of the scan uses 2^(P-1) = 128 and
    is handled by the caller."""
    if prev is None:
        return cur[x - 1]  # Ra along the first line, any selector
    if x == 0:
        return prev[0]  # Rb at the start of each later line
    ra, rb, rc = cur[x - 1], prev[x], prev[x - 1]
    if predictor == 1:
        return ra
    if predictor == 2:
        return rb
    if predictor == 3:
        return rc
    if predictor == 4:
        return ra + rb - rc
    if predictor == 5:
        return ra + ((rb - rc) >> 1)
    if predictor == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1  # predictor 7


def jpeg_encode_lossless(
    pixels: bytes, width: int, height: int, predictor: int = 4,
    channels: int = 1,
) -> bytes:
    """Encode raw 8-bit samples as a real lossless JPEG (SOF3):
    Huffman-coded prediction differences, bit-exact for any content —
    no quantizer to survive.  ``channels``: 1 (greyscale) or 3 (RGB,
    stored as-is — lossless JPEG has no mandated color transform),
    interleaved in one scan, each component with its own prediction
    context.  The Huffman table is written into the stream, so
    decoders never assume it."""
    if channels not in (1, 3):
        raise ValueError(f"channels must be 1 or 3, not {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match dimensions")
    if not 1 <= predictor <= 7:
        raise ValueError(f"predictor {predictor} out of range 1-7")

    out = bytearray(b"\xff\xd8")  # SOI
    sof = struct.pack(">BHHB", 8, height, width, channels)
    for ci in range(channels):
        sof += bytes([ci + 1, 0x11, 0])
    _segment(out, b"\xff\xc3", sof)  # SOF3
    bits, vals = _H_DC_LUM
    _segment(out, b"\xff\xc4", b"\x00" + bytes(bits) + bytes(vals))  # DHT
    sos = bytes([channels])
    for ci in range(channels):
        sos += bytes([ci + 1, 0x00])
    _segment(out, b"\xff\xda", sos + bytes([predictor, 0, 0]))  # SOS

    codes = _huff_codes(*_H_DC_LUM)
    writer = _BitWriter()
    prev = [None] * channels
    for y in range(height):
        cur = [bytearray(width) for _ in range(channels)]
        row = pixels[y * width * channels : (y + 1) * width * channels]
        for x in range(width):
            for ci in range(channels):
                cur[ci][x] = row[x * channels + ci]
                if y == 0 and x == 0:
                    px = 128  # 2^(P-1)
                else:
                    px = _lossless_predict(cur[ci], prev[ci], x, predictor)
                diff = (cur[ci][x] - px) % 65536
                if diff > 32767:
                    diff -= 65536  # the mod-2^16 signed convention
                s, extra = _magnitude(diff)
                writer.write(*codes[s])
                if s:
                    writer.write(extra, s)
        prev = cur
    out.extend(writer.flush())
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


def _jpeg_decode_lossless_impl(blob: bytes) -> tuple[int, int, int, bytes]:
    """SOF3 decoder, dispatched from jpeg_decode (which owns the
    malformed-input ValueError boundary)."""
    huff: dict = {}
    width = height = nc = None
    predictor = None
    pos = 2
    while True:
        if blob[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xD9:
            raise ValueError("no scan data before EOI")
        (seglen,) = struct.unpack_from(">H", blob, pos)
        body = blob[pos + 2 : pos + seglen]
        end = pos + seglen
        if marker == 0xC3:
            precision, height, width, nc = struct.unpack_from(">BHHB", body)
            if precision != 8:
                raise NotImplementedError(
                    f"{precision}-bit lossless JPEG is out of scope "
                    "(8-bit only)"
                )
            if nc not in (1, 3):
                raise NotImplementedError(
                    f"{nc}-component lossless JPEG is out of scope "
                    "(greyscale or 3-component only)"
                )
            for ci in range(nc):
                hv = body[6 + 3 * ci + 1]
                if hv != 0x11:
                    raise NotImplementedError(
                        "subsampled lossless components are out of "
                        "scope (1x1 factors only)"
                    )
        elif marker == 0xC4:
            _read_dht(body, huff)
        elif marker == 0xDD:
            (ri,) = struct.unpack_from(">H", body)
            if ri:
                raise NotImplementedError(
                    "restart intervals in lossless JPEG are out of scope"
                )
        elif marker == 0xDA:
            ns = body[0]
            if nc is None or ns != nc:
                raise NotImplementedError(
                    "lossless scans must interleave every frame "
                    "component (per-component scans are out of scope)"
                )
            table_ids = [body[2 + 2 * ci] >> 4 for ci in range(ns)]
            predictor = body[1 + 2 * ns]
            point_transform = body[3 + 2 * ns] & 0x0F
            if not 1 <= predictor <= 7:
                raise ValueError(f"invalid predictor selector {predictor}")
            if point_transform:
                raise NotImplementedError(
                    "lossless point transform is out of scope (Al=0 only)"
                )
            pos = end
            break
        pos = end
    if width is None:
        raise ValueError("lossless JPEG scan before SOF3 header")
    if any((0, t) not in huff for t in table_ids):
        raise ValueError("lossless JPEG scan references a missing DHT")

    tables = [huff[(0, t)] for t in table_ids]
    reader = _BitReader(blob, pos)
    out = bytearray(width * height * nc)
    prev = [None] * nc

    # bit accumulator inlined into closure variables for the whole
    # scan — lossless DPCM pays one symbol read + magnitude fetch per
    # SAMPLE, the format's hot path (same pattern as _decode_block);
    # fill/read_symbol/take are _BitReader verbatim
    data = reader.data
    rpos, acc, nbits = reader.pos, reader.acc, reader.nbits

    def fill():
        nonlocal rpos, acc, nbits
        b = data[rpos]
        if b == 0xFF:
            nxt = data[rpos + 1]
            if nxt == 0x00:
                rpos += 2
            elif 0xD0 <= nxt <= 0xD7:
                reader.pos, reader.acc, reader.nbits = rpos, acc, nbits
                raise _RestartMarker(nxt)
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                )
        else:
            rpos += 1
        nbits += 8
        acc = ((acc << 8) | b) & ((1 << nbits) - 1)

    def read_symbol(table):
        nonlocal acc, nbits
        maxcode, mincode, valptr, vals = table
        code, length = 0, 0
        while True:
            if nbits == 0:
                fill()
            nbits -= 1
            code = (code << 1) | ((acc >> nbits) & 1)
            length += 1
            if mincode[length] <= code <= maxcode[length]:
                return vals[valptr[length] + code - mincode[length]]
            if length >= 16:
                raise ValueError("invalid Huffman stream")

    def take(n):
        nonlocal acc, nbits
        while nbits < n:
            fill()
        nbits -= n
        return (acc >> nbits) & ((1 << n) - 1)

    for y in range(height):
        cur = [bytearray(width) for _ in range(nc)]
        base = y * width * nc
        for x in range(width):
            for ci in range(nc):
                s = read_symbol(tables[ci])
                if s == 16:
                    # T.81 H.1 defines SSSS=16 (diff=32768, no extra
                    # bits) only for 16-bit precision; under the 8-bit
                    # '& 0xFF' reconstruction it would be a silent
                    # no-op, so in this 8-bit-only decoder it can only
                    # mean a malformed stream — raise, don't guess.
                    raise ValueError(
                        "lossless JPEG SSSS=16 in an 8-bit scan "
                        "(only defined for 16-bit precision)"
                    )
                diff = _extend(take(s), s) if s else 0
                if y == 0 and x == 0:
                    px = 128
                else:
                    px = _lossless_predict(cur[ci], prev[ci], x, predictor)
                v = (px + diff) & 0xFF  # mod-2^16 then 8-bit sample
                cur[ci][x] = v
                out[base + x * nc + ci] = v
        prev = cur
    reader.pos, reader.acc, reader.nbits = rpos, acc, nbits
    return width, height, nc, bytes(out)


# ---------------------------------------------------------------------------
# G.711 companded WAV (mu-law / A-law) — ITU-T G.711 logarithmic PCM,
# the telephony-corpus format tag 7 / 6 inside RIFF/WAVE.  The stdlib
# `wave` module only reads linear PCM (tag 1), so this section walks
# the RIFF grammar directly (the AVI section's _walk_riff) and expands
# each companded byte to 16-bit linear.  The companding math is the
# classic Sun/CCITT implementation, verified in tests to agree with
# CPython's audioop on EVERY 16-bit value (encode) and every code
# (decode) where audioop is importable.
# ---------------------------------------------------------------------------

_ULAW_SEG = (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF)
_ALAW_SEG = (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF)


def ulaw_to_lin16(u: int) -> int:
    """Expand one mu-law code to a 16-bit linear sample."""
    u = ~u & 0xFF
    t = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)) - 0x84
    return -t if (u & 0x80) else t


def alaw_to_lin16(a: int) -> int:
    """Expand one A-law code to a 16-bit linear sample."""
    a ^= 0x55
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


def lin16_to_ulaw(v: int) -> int:
    """Compand one 16-bit linear sample to mu-law (14-bit domain with
    floor shifts, the audioop-compatible convention)."""
    v >>= 2
    if v < 0:
        v, mask = -v, 0x7F
    else:
        mask = 0xFF
    if v > 8159:
        v = 8159
    v += 0x21  # BIAS >> 2
    seg = next((i for i, lim in enumerate(_ULAW_SEG) if v <= lim), 8)
    if seg >= 8:
        return 0x7F ^ mask
    return ((seg << 4) | ((v >> (seg + 1)) & 0x0F)) ^ mask


def lin16_to_alaw(v: int) -> int:
    """Compand one 16-bit linear sample to A-law (13-bit domain)."""
    v >>= 3
    if v >= 0:
        mask = 0xD5
    else:
        mask = 0x55
        v = -v - 1
    seg = next((i for i, lim in enumerate(_ALAW_SEG) if v <= lim), 8)
    if seg >= 8:
        return 0x7F ^ mask
    aval = seg << 4
    aval |= (v >> 1) & 0x0F if seg < 2 else (v >> seg) & 0x0F
    return aval ^ mask


def wav_format_tag(blob: bytes) -> int:
    """The RIFF/WAVE fmt chunk's wFormatTag (1 = linear PCM, 6 =
    A-law, 7 = mu-law, ...), or 0 if the blob is not a WAVE file."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        return 0
    try:
        (riff_size,) = struct.unpack_from("<I", blob, 4)
        end = min(8 + riff_size, len(blob))
        for fourcc, start, size in _walk_riff(blob, 12, end):
            if fourcc == b"fmt " and size >= 2:
                return struct.unpack_from("<H", blob, start)[0]
    except (ValueError, struct.error):
        return 0
    return 0


def g711_wav_encode(
    pcm16: bytes, law: str = "mu", sample_rate: int = 8000,
    n_channels: int = 1,
) -> bytes:
    """Compand 16-bit LE linear PCM and wrap it as a real G.711 WAV
    (fmt tag 7 for mu-law, 6 for A-law, plus the fact chunk non-PCM
    WAVs require)."""
    if law not in ("mu", "a"):
        raise ValueError(f"unknown companding law {law!r} ('mu' or 'a')")
    if len(pcm16) % (2 * n_channels):
        raise ValueError("PCM byte count does not match 16-bit frames")
    comp = lin16_to_ulaw if law == "mu" else lin16_to_alaw
    samples = struct.unpack(f"<{len(pcm16) // 2}h", pcm16)
    data = bytes(comp(v) for v in samples)
    tag = 7 if law == "mu" else 6
    fmt = struct.pack(
        "<HHIIHHH",
        tag, n_channels, sample_rate,
        sample_rate * n_channels,  # byte rate (1 byte/sample)
        n_channels, 8,             # block align, bits per sample
        0,                         # cbSize (no extra format bytes)
    )
    n_frames = len(data) // n_channels
    body = (
        b"WAVE"
        + _riff_chunk(b"fmt ", fmt)
        + _riff_chunk(b"fact", struct.pack("<I", n_frames))
        + _riff_chunk(b"data", data)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def g711_wav_decode(blob: bytes) -> tuple[int, int, int, bytes]:
    """Decode a G.711 WAV: (sample_rate, n_channels, n_frames, 16-bit
    LE linear PCM).  Linear-PCM files raise ValueError pointing at
    wav_decode; other compression tags raise NotImplementedError;
    malformed input raises ValueError."""
    try:
        return _g711_wav_decode_impl(blob)
    except (IndexError, struct.error) as exc:
        raise ValueError(
            f"malformed G.711 WAV: {type(exc).__name__}: {exc}"
        ) from exc


def _g711_wav_decode_impl(blob: bytes) -> tuple[int, int, int, bytes]:
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE signature")
    (riff_size,) = struct.unpack_from("<I", blob, 4)
    end = min(8 + riff_size, len(blob))
    tag = rate = n_ch = None
    data = None
    for fourcc, start, size in _walk_riff(blob, 12, end):
        if fourcc == b"fmt ":
            if size < 14:
                raise ValueError("WAV fmt chunk too short")
            tag, n_ch, rate = struct.unpack_from("<HHI", blob, start)
        elif fourcc == b"data":
            data = blob[start : start + size]
    if tag is None or data is None:
        raise ValueError("WAV lacks fmt or data chunk")
    if tag == 1:
        raise ValueError(
            "linear-PCM WAV: use wav_decode (g711_wav_decode reads "
            "mu-law/A-law only)"
        )
    if tag not in (6, 7):
        raise NotImplementedError(
            f"WAV compression tag {tag} is out of scope (G.711 "
            "mu-law/A-law only)"
        )
    if n_ch < 1:
        raise ValueError("WAV declares zero channels")
    if len(data) % n_ch:
        # a trailing partial frame would make the returned PCM longer
        # than n_frames*n_ch and crash the downstream channel reshape
        # with a raw numpy error — keep it inside the decoder's
        # malformed-input contract instead
        raise ValueError(
            f"G.711 data length {len(data)} is not a whole number of "
            f"{n_ch}-channel frames"
        )
    # 256-entry LUT gather: every code maps to the 16-bit value the
    # scalar expansion computes (pinned exhaustively in tests vs
    # audioop).  Real telephony blobs are megabytes — one sample per
    # byte — so a per-sample Python call would be the decode's entire
    # cost.
    pcm16 = _g711_lut(tag)[_np.frombuffer(data, dtype=_np.uint8)].tobytes()
    return rate, n_ch, len(data) // n_ch, pcm16


_G711_LUTS: dict = {}


def _g711_lut(tag: int):
    """<i2 numpy LUT for G.711 expansion (tag 7 mu-law, 6 A-law)."""
    lut = _G711_LUTS.get(tag)
    if lut is None:
        expand = ulaw_to_lin16 if tag == 7 else alaw_to_lin16
        lut = _np.array(
            [expand(c) for c in range(256)], dtype="<i2"
        )
        _G711_LUTS[tag] = lut
    return lut


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM WAV (format tag 0x11) — the classic 4-bit adaptive
# step-size codec, block-framed as Microsoft WAV lays it out: each
# block starts with a per-channel 4-byte header (s16 predictor, u8
# step index, u8 reserved) followed by 4-bit nibbles, low nibble
# first.  Tables are the published IMA reference tables.  Scope:
# mono; stereo interleave raises (honest).
# ---------------------------------------------------------------------------

_IMA_INDEX_ADJUST = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
)


def _ima_step(nibble: int, pred: int, index: int) -> tuple:
    """One IMA ADPCM decode step: (new_pred, new_index)."""
    step = _IMA_STEPS[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    if nibble & 8:
        pred -= diff
    else:
        pred += diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX_ADJUST[nibble & 7]))
    return pred, index


def _ima_encode_sample(v: int, pred: int, index: int) -> tuple:
    """One IMA ADPCM encode step: (nibble, new_pred, new_index)."""
    step = _IMA_STEPS[index]
    diff = v - pred
    nibble = 0
    if diff < 0:
        nibble = 8
        diff = -diff
    if diff >= step:
        nibble |= 4
        diff -= step
    if diff >= step >> 1:
        nibble |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nibble |= 1
    return (nibble,) + _ima_step(nibble, pred, index)


def adpcm_wav_encode(
    pcm16: bytes, sample_rate: int = 8000, block_frames: int = 505
) -> bytes:
    """Compress 16-bit LE mono PCM as a real IMA ADPCM WAV (tag 0x11,
    MS block framing: 4-byte header + 4-bit nibbles, low nibble
    first).  ``block_frames`` is samples per block INCLUDING the
    header sample (505 -> the canonical 256-byte mono block)."""
    if len(pcm16) % 2:
        raise ValueError("PCM byte count does not match 16-bit frames")
    if block_frames < 2 or (block_frames - 1) % 8:
        raise ValueError(
            "block_frames must be 1 + a multiple of 8 nibble samples"
        )
    samples = struct.unpack(f"<{len(pcm16) // 2}h", pcm16)
    if not samples:
        raise ValueError("ADPCM needs at least one sample")
    block_align = 4 + (block_frames - 1) // 2

    data = bytearray()
    index = 0
    i = 0
    while i < len(samples):
        chunk = samples[i : i + block_frames]
        pred = chunk[0]
        data += struct.pack("<hBB", pred, index, 0)
        nibbles = []
        for v in chunk[1:]:
            nib, pred, index = _ima_encode_sample(v, pred, index)
            nibbles.append(nib)
        while len(nibbles) % 2:
            nibbles.append(0)
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            data.append(lo | (hi << 4))
        # pad the final block to block_align (decoder stops at n_frames)
        pad = block_align - 4 - len(nibbles) // 2
        data += b"\x00" * pad
        i += block_frames

    fmt = struct.pack(
        "<HHIIHHHH",
        0x11, 1, sample_rate,
        sample_rate * block_align // block_frames,  # nominal byte rate
        block_align, 4,            # block align, bits per sample
        2,                         # cbSize
        block_frames,              # wSamplesPerBlock
    )
    body = (
        b"WAVE"
        + _riff_chunk(b"fmt ", fmt)
        + _riff_chunk(b"fact", struct.pack("<I", len(samples)))
        + _riff_chunk(b"data", bytes(data))
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def adpcm_wav_decode(blob: bytes) -> tuple[int, int, int, bytes]:
    """Decode an IMA ADPCM WAV: (sample_rate, n_channels, n_frames,
    16-bit LE linear PCM).  Non-ADPCM tags and stereo raise; malformed
    input raises ValueError.

    fact-chunk contract: the true frame count comes from the fact
    chunk (REQUIRED by the WAV spec for compressed formats) and the
    decode is truncated to it.  When a third-party file omits fact,
    the block structure alone cannot distinguish real samples from
    the encoder's zero-pad nibbles in a full final block, so the
    decoder returns every block-decodable sample — up to
    wSamplesPerBlock-1 trailing near-silent pad samples may be
    included.  Files written by adpcm_wav_encode always carry fact."""
    try:
        return _adpcm_wav_decode_impl(blob)
    except (IndexError, struct.error) as exc:
        raise ValueError(
            f"malformed ADPCM WAV: {type(exc).__name__}: {exc}"
        ) from exc


def _adpcm_wav_decode_impl(blob: bytes) -> tuple[int, int, int, bytes]:
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE signature")
    (riff_size,) = struct.unpack_from("<I", blob, 4)
    end = min(8 + riff_size, len(blob))
    tag = rate = n_ch = block_align = spb = None
    n_frames = None
    data = None
    for fourcc, start, size in _walk_riff(blob, 12, end):
        if fourcc == b"fmt ":
            if size < 16:
                raise ValueError("WAV fmt chunk too short")
            tag, n_ch, rate, _br, block_align, _bits = struct.unpack_from(
                "<HHIIHH", blob, start
            )
            if size >= 20:
                (spb,) = struct.unpack_from("<H", blob, start + 18)
        elif fourcc == b"fact":
            (n_frames,) = struct.unpack_from("<I", blob, start)
        elif fourcc == b"data":
            data = blob[start : start + size]
    if tag is None or data is None:
        raise ValueError("WAV lacks fmt or data chunk")
    if tag != 0x11:
        raise NotImplementedError(
            f"WAV compression tag {tag} is not IMA ADPCM (0x11)"
        )
    if n_ch != 1:
        raise NotImplementedError(
            "stereo IMA ADPCM is out of scope (mono only)"
        )
    if block_align is None or block_align < 4:
        # also the infinite-loop guard: the block loop advances by
        # block_align, so anything < 4 (the header size) is malformed
        raise ValueError(f"ADPCM block align {block_align} invalid (< 4)")
    if spb is None:
        spb = (block_align - 4) * 2 + 1
    out = []
    pos = 0
    while pos + 4 <= len(data) and (n_frames is None or len(out) < n_frames):
        pred, index, _rsvd = struct.unpack_from("<hBB", data, pos)
        if index > 88:
            raise ValueError(f"ADPCM step index {index} out of range")
        out.append(pred)
        nib_bytes = data[pos + 4 : pos + block_align]
        produced = 1
        for byte in nib_bytes:
            for nib in (byte & 0x0F, byte >> 4):
                if produced >= spb:
                    break
                pred, index = _ima_step(nib, pred, index)
                out.append(pred)
                produced += 1
        pos += block_align
    if n_frames is not None:
        if len(out) < n_frames:
            raise ValueError(
                f"ADPCM data carries {len(out)} samples, fact declares "
                f"{n_frames}"
            )
        out = out[:n_frames]
    # an empty data chunk is a valid WAV: 0 frames, not a crash —
    # the same contract as the PCM/G.711/float decoders
    return rate, 1, len(out), struct.pack(f"<{len(out)}h", *out)


def float_wav_decode(blob: bytes) -> tuple[int, int, int, bytes]:
    """Decode an IEEE-float WAV (format tag 3, 32-bit): (sample_rate,
    n_channels, n_frames, 16-bit LE linear PCM) — floats in [-1, 1]
    scale to the 16-bit range (clipped), the conventional reduction.
    The stdlib `wave` module is integer-PCM-only, so this walks the
    RIFF grammar directly.  Non-float tags and non-32-bit widths
    raise; malformed input raises ValueError."""
    try:
        return _float_wav_decode_impl(blob)
    except (IndexError, struct.error) as exc:
        raise ValueError(
            f"malformed float WAV: {type(exc).__name__}: {exc}"
        ) from exc


def _float_wav_decode_impl(blob: bytes) -> tuple[int, int, int, bytes]:
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE signature")
    (riff_size,) = struct.unpack_from("<I", blob, 4)
    end = min(8 + riff_size, len(blob))
    tag = rate = n_ch = bits = None
    data = None
    for fourcc, start, size in _walk_riff(blob, 12, end):
        if fourcc == b"fmt ":
            if size < 16:
                raise ValueError("WAV fmt chunk too short")
            tag, n_ch, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", blob, start
            )
        elif fourcc == b"data":
            data = blob[start : start + size]
    if tag is None or data is None:
        raise ValueError("WAV lacks fmt or data chunk")
    if tag != 3:
        raise NotImplementedError(
            f"WAV compression tag {tag} is not IEEE float (3)"
        )
    if bits != 32:
        raise NotImplementedError(
            f"{bits}-bit float WAV is out of scope (32-bit only)"
        )
    if n_ch < 1:
        raise ValueError("WAV declares zero channels")
    if len(data) % (4 * n_ch):
        # same contract as the G.711 path: a trailing partial frame
        # must raise here, not surface as a numpy reshape error later
        raise ValueError(
            f"float WAV data length {len(data)} is not a whole number "
            f"of {n_ch}-channel 32-bit frames"
        )
    n = len(data) // 4

    # non-finite samples occur in real (badly mastered) float WAVs:
    # NaN reads as silence and +/-inf clamps to full scale.  np.rint is
    # round-half-even on the float64 product (f32 -> f64 widening is
    # exact), the same rounding as Python round()
    f = _np.frombuffer(data, dtype="<f4").astype(_np.float64)
    r = _np.rint(f * 32767.0)
    r = _np.where(_np.isnan(f), 0.0, r)
    r = _np.where(f >= 1.0, 32767.0, r)
    r = _np.where(f <= -1.0, -32768.0, r)
    return rate, n_ch, n // n_ch, r.astype("<i2").tobytes()


def wav_decode_any(blob: bytes) -> tuple[int, int, int, bytes]:
    """Decode ANY supported WAV coding by dispatching on the fmt tag:
    linear PCM (wav_decode), G.711 mu-law/A-law (tags 7/6), IMA ADPCM
    (0x11), 32-bit IEEE float (3).  The single entry point the audio
    extractors share, so a new coding is wired in exactly one place."""
    tag = wav_format_tag(blob)
    if tag in (6, 7):
        return g711_wav_decode(blob)
    if tag == 0x11:
        return adpcm_wav_decode(blob)
    if tag == 3:
        return float_wav_decode(blob)
    return wav_decode(blob)


def float_wav_encode(
    floats, sample_rate: int = 8000, n_channels: int = 1
) -> bytes:
    """Wrap float samples in [-1, 1] as a real IEEE-float WAV (tag 3,
    32-bit), fact chunk included."""
    data = struct.pack(f"<{len(floats)}f", *floats)
    fmt = struct.pack(
        "<HHIIHHH",
        3, n_channels, sample_rate,
        sample_rate * n_channels * 4,
        n_channels * 4, 32, 0,
    )
    body = (
        b"WAVE"
        + _riff_chunk(b"fmt ", fmt)
        + _riff_chunk(b"fact", struct.pack("<I", len(floats) // n_channels))
        + _riff_chunk(b"data", data)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _is_zstd_magic(blob: bytes) -> bool:
    """RFC 8878 frame sniff: the standard frame magic 0xFD2FB528, or a
    SKIPPABLE frame magic 0x184D2A50..5F (little-endian on the wire) —
    real .zst corpora may lead with a skippable frame (embedded
    dictionaries / seek indexes), so a shard is zstd if EITHER opens
    it."""
    return blob[:4] == b"\x28\xb5\x2f\xfd" or (
        len(blob) >= 4
        and 0x50 <= blob[0] <= 0x5F
        and blob[1:4] == b"\x2a\x4d\x18"
    )


def zstd_inflate(blob: bytes, ctx: str) -> bytes:
    """RFC 8878 Zstandard shard decoding via pyarrow's BUNDLED zstd
    codec (`pyarrow.input_stream(..., compression="zstd")` — public
    Arrow API, no `zstandard` module needed).  The streaming
    CompressedInputStream covers every on-disk shape: FCS-less frames
    from streaming writers, CONCATENATED frames (appended shards — the
    .gz-members analogue), and skippable frames; corrupt, truncated,
    or trailing-garbage streams raise ValueError carrying the caller's
    context — never a silent truncation (probed behaviors pinned in
    tests/test_codecs.py)."""
    import pyarrow as pa

    try:
        with pa.input_stream(pa.py_buffer(blob), compression="zstd") as s:
            return s.read()
    except (OSError, ValueError) as exc:
        raise ValueError(
            f"{ctx}: corrupt compressed stream: {exc}"
        ) from exc


def inflate_shard(blob: bytes, ctx: str) -> bytes:
    """Magic-sniffed shard decompression: gzip (ALL members — RFC 1952
    concatenation is valid and common for appended shards), bzip2 and
    xz (both stdlib decoders handle concatenated streams), and zstd
    (pyarrow's bundled codec, concatenated + skippable frames
    included) — the codings public corpora actually ship jsonl shards
    in (.gz everywhere, .bz2 the classic Common Crawl dumps, .xz The
    Pile, .zst the post-2023 CC/RedPajama dumps).  Unknown magics and
    corrupt streams raise ValueError carrying the caller's context —
    never a silent drop."""
    import bz2
    import lzma

    try:
        if blob[:2] == b"\x1f\x8b":
            return gzip.decompress(blob)
        if blob[:3] == b"BZh":
            return bz2.decompress(blob)
        if blob[:6] == b"\xfd7zXZ\x00":
            return lzma.decompress(blob)
    except (OSError, EOFError, zlib.error, lzma.LZMAError,
            ValueError) as exc:
        raise ValueError(
            f"{ctx}: corrupt compressed stream: {exc}"
        ) from exc
    if _is_zstd_magic(blob):
        return zstd_inflate(blob, ctx)
    raise ValueError(
        f"{ctx}: unknown compression magic {blob[:4]!r} "
        "(gzip/bzip2/xz/zstd supported)"
    )
