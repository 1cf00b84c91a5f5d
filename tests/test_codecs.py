"""Media codecs (extensions.codecs) — no Spark needed.

The decoder must be a *real* parser: round-trips with our encoder are
necessary but not sufficient, so the filter tests hand-build PNG
streams with every scanline filter type (1-4) the encoder itself never
emits, and the corruption tests check CRC/format validation rejects
bad bytes instead of decoding garbage.
"""

from __future__ import annotations

import math
import struct
import zlib

import pytest

from isaac_kafka_streaming_spark.extensions.codecs import (
    PNG_MAGIC,
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)


def test_png_roundtrip_gray():
    pixels = bytes(range(256)) * 4  # 32x32 greyscale
    blob = png_encode(pixels, 32, 32)
    assert blob[:8] == PNG_MAGIC
    w, h, ch, out = png_decode(blob)
    assert (w, h, ch) == (32, 32, 1)
    assert out == pixels


@pytest.mark.parametrize("color_type,channels", [(2, 3), (6, 4)])
def test_png_roundtrip_color(color_type, channels):
    pixels = bytes((i * 7 + c) % 256 for i in range(60) for c in range(channels))
    blob = png_encode(pixels, 10, 6, color_type=color_type)
    w, h, ch, out = png_decode(blob)
    assert (w, h, ch) == (10, 6, channels)
    assert out == pixels


def _hand_png(width, height, scanlines_with_filters, color_type=0):
    """Build a PNG from explicit (filter_type, filtered_bytes) lines."""

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(bytes([f]) + bytes(line) for f, line in scanlines_with_filters)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_unfilters_sub_up_average_paeth():
    """Decode a stream using all five filter types; expected pixels
    computed from the spec's reconstruction functions by hand."""
    # 4-wide, 5-tall greyscale; target image rows:
    rows = [
        [10, 20, 30, 40],  # filter 0 (None): stored as-is
        [15, 25, 35, 45],  # filter 1 (Sub): stored diffs vs left
        [20, 30, 40, 50],  # filter 2 (Up): stored diffs vs above
        [30, 40, 50, 60],  # filter 3 (Average)
        [35, 45, 55, 65],  # filter 4 (Paeth)
    ]
    lines = [(0, rows[0])]
    # Sub: raw[x] - raw[x-1]
    lines.append((1, [rows[1][0]] + [
        (rows[1][x] - rows[1][x - 1]) & 0xFF for x in range(1, 4)
    ]))
    # Up: raw[x] - prior[x]
    lines.append((2, [(rows[2][x] - rows[1][x]) & 0xFF for x in range(4)]))
    # Average: raw[x] - floor((left + up)/2)
    avg = []
    for x in range(4):
        left = rows[3][x - 1] if x else 0
        avg.append((rows[3][x] - ((left + rows[2][x]) >> 1)) & 0xFF)
    lines.append((3, avg))
    # Paeth: raw[x] - paeth(left, up, upleft)
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    pae = []
    for x in range(4):
        left = rows[4][x - 1] if x else 0
        ul = rows[3][x - 1] if x else 0
        pae.append((rows[4][x] - paeth(left, rows[3][x], ul)) & 0xFF)
    lines.append((4, pae))

    w, h, ch, out = png_decode(_hand_png(4, 5, lines))
    assert (w, h, ch) == (4, 5, 1)
    assert list(out) == [p for row in rows for p in row]


def test_png_rejects_corruption():
    blob = bytearray(png_encode(bytes(64), 8, 8))
    with pytest.raises(ValueError, match="signature"):
        png_decode(b"JUNK" + bytes(blob[4:]))
    blob[40] ^= 0xFF  # flip a byte inside a chunk body -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(blob))


def test_png_rejects_unsupported():
    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)  # 16-bit depth
    blob = PNG_MAGIC + chunk(b"IHDR", ihdr16)
    with pytest.raises(ValueError, match="unsupported"):
        png_decode(blob)


def test_png_rejects_malformed_ihdr():
    """A CRC-valid IHDR of the wrong length, or one declaring a
    compression or filter method other than 0, raises ValueError
    instead of being decoded as method 0."""

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    good = png_encode(bytes(range(8)), 4, 2)
    rest = good[8 + 12 + 13 :]  # the chunks after IHDR

    def with_ihdr(body):
        return PNG_MAGIC + chunk(b"IHDR", body) + rest

    ok = struct.pack(">IIBBBBB", 4, 2, 8, 0, 0, 0, 0)
    assert png_decode(with_ihdr(ok))[:3] == (4, 2, 1)
    with pytest.raises(ValueError, match="IHDR length"):
        png_decode(with_ihdr(struct.pack(">IIBBBB", 4, 2, 8, 0, 0, 0)))
    for comp, filt in ((1, 0), (0, 7)):
        ihdr = struct.pack(">IIBBBBB", 4, 2, 8, 0, comp, filt, 0)
        with pytest.raises(ValueError, match="compression/filter"):
            png_decode(with_ihdr(ihdr))


def test_wav_roundtrip():
    pcm = bytes((i * 13) % 256 for i in range(320))
    blob = wav_encode(pcm, sample_rate=8000, n_channels=1)
    rate, ch, n, out = wav_decode(blob)
    assert (rate, ch, n) == (8000, 1, 320)
    assert out == pcm


def test_wav_rejects_non_riff():
    with pytest.raises(ValueError, match="RIFF"):
        wav_decode(b"\x89PNG\r\n\x1a\nnot audio")


# -- property-based round-trips (no Spark) ---------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    color=st.sampled_from([0, 2, 6]),
    data=st.data(),
)
def test_png_roundtrip_property(w, h, color, data):
    """encode . decode is the identity for every dim/color-type combo."""
    channels = {0: 1, 2: 3, 6: 4}[color]
    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * channels,
                max_size=w * h * channels,
            )
        )
    )
    dw, dh, dch, out = png_decode(png_encode(pixels, w, h, color_type=color))
    assert (dw, dh, dch) == (w, h, channels)
    assert out == pixels


@settings(max_examples=50, deadline=None)
@given(
    pcm=st.binary(min_size=1, max_size=2048),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(pcm, rate):
    drate, dch, dn, out = wav_decode(wav_encode(pcm, sample_rate=rate))
    assert (drate, dch, dn) == (rate, 1, len(pcm))
    assert out == pcm


@settings(max_examples=50, deadline=None)
@given(
    segments=st.lists(st.binary(min_size=0, max_size=512), min_size=1,
                      max_size=5),
    lead_skippable=st.booleans(),
    streamed=st.booleans(),
)
def test_zstd_shard_concat_property(segments, lead_skippable, streamed):
    """inflate_shard over any concatenation of independently-compressed
    zstd frames (the appended-shard shape) recovers the exact byte
    concatenation — with or without a leading skippable frame, and for
    both the FCS-carrying one-shot frames and FCS-less streamed
    frames."""
    import struct as _struct

    import pyarrow as pa

    from isaac_kafka_streaming_spark.extensions.codecs import inflate_shard

    zc = pa.Codec("zstd")
    blob = bytearray()
    if lead_skippable:
        blob += _struct.pack("<II", 0x184D2A50, 8) + b"\x00" * 8
    for seg in segments:
        if streamed:
            sink = pa.BufferOutputStream()
            with pa.CompressedOutputStream(sink, "zstd") as w:
                w.write(seg)
            blob += sink.getvalue().to_pybytes()
        else:
            blob += zc.compress(seg, asbytes=True)
    assert inflate_shard(bytes(blob), "prop") == b"".join(segments)


def test_decoders_never_escape_valueerror_fuzz():
    """The module-wide malformed-input contract, enforced by sweep:
    EVERY truncation point and 300 seeded single-bit corruptions of a
    valid blob, for all eleven decoder families, must either decode or
    raise the declared ValueError / NotImplementedError — never an
    IndexError / struct.error / KeyError / ZeroDivisionError from
    inside a parser, and never a hang (alarm-guarded; a corrupt
    length field driving a zero-progress walk would show up here).
    The two 32x32 4:2:0 color JPEGs are the only streams carrying
    chroma DQT/DHT tables (and, for the baseline one, an RSTn marker at
    restart_interval=2).  ~13k probes, ~3 s."""
    import random
    import signal

    from isaac_kafka_streaming_spark.extensions import codecs as C

    grad = bytes((3 * x + 5 * y) % 256 for y in range(16) for x in range(16))
    rgb = bytes(
        (x * 7 + y * 3 + c) % 256
        for y in range(8) for x in range(8) for c in range(3)
    )
    rgb32 = bytes(
        (x * 7 + y * 3 + c * 60 + (x * y) % 13) % 256
        for y in range(32) for x in range(32) for c in range(3)
    )
    blobs = {
        "jpeg": (C.jpeg_encode(grad, 16, 16), C.jpeg_decode),
        "jpeg_prog": (C.jpeg_encode_progressive(grad, 16, 16), C.jpeg_decode),
        "jpeg_ll": (C.jpeg_encode_lossless(grad, 16, 16), C.jpeg_decode),
        "png": (C.png_encode(rgb, 8, 8, color_type=2), C.png_decode),
        "wav": (C.wav_encode(bytes(range(64))), C.wav_decode),
        "g711": (C.g711_wav_encode(bytes(range(64))), C.wav_decode_any),
        "adpcm": (C.adpcm_wav_encode(bytes(range(128))), C.wav_decode_any),
        # 3-frame containers: corruptions land in the frame WALK
        # (chunk/box/element traversal), not just the first payload
        "gif": (C.gif_encode([grad] * 3, 16, 16), C.gif_decode),
        "avi": (C.avi_encode([grad] * 3, 16, 16), C.avi_decode),
        "mp4": (C.mp4_encode([grad] * 3, 16, 16), C.mp4_decode),
        "mkv": (C.mkv_encode([grad] * 3, 16, 16), C.mkv_decode),
        "jpeg_420_rst": (
            C.jpeg_encode(
                rgb32, 32, 32, channels=3, subsample="420",
                restart_interval=2,
            ),
            C.jpeg_decode,
        ),
        "jpeg_prog_420": (
            C.jpeg_encode_progressive(
                rgb32, 32, 32, channels=3, subsample="420"
            ),
            C.jpeg_decode,
        ),
    }

    class Hang(Exception):
        pass

    def on_alarm(*_):
        raise Hang()

    old = signal.signal(signal.SIGALRM, on_alarm)
    bad = []
    try:
        rng = random.Random(0x5EED)
        for name, (blob, dec) in blobs.items():
            probes = [blob[:k] for k in range(len(blob))]
            for _ in range(300):
                b = bytearray(blob)
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
                probes.append(bytes(b))
            for p in probes:
                signal.alarm(5)
                try:
                    dec(p)
                except (ValueError, NotImplementedError):
                    pass
                except Exception as exc:
                    bad.append((name, type(exc).__name__, len(p)))
                finally:
                    signal.alarm(0)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    assert not bad, bad[:10]


def test_inflate_shard_never_escapes_valueerror_fuzz():
    """The shard-inflate contract under the same sweep: every
    truncation and 300 seeded bit-flips of a valid gzip / bzip2 / xz /
    zstd shard either inflate or raise ValueError with the caller's
    context — the four stdlib/pyarrow error taxonomies all normalize
    at this boundary."""
    import bz2
    import gzip
    import lzma
    import random

    import pyarrow as pa

    from isaac_kafka_streaming_spark.extensions.codecs import inflate_shard

    payload = b'{"id": 1, "text": "alpha beta gamma"}\n' * 20
    blobs = {
        "gzip": gzip.compress(payload, mtime=0),
        "bz2": bz2.compress(payload),
        "xz": lzma.compress(payload),
        "zstd": pa.Codec("zstd").compress(payload, asbytes=True),
    }
    bad = []
    rng = random.Random(0x5EED)
    for name, blob in blobs.items():
        probes = [blob[:k] for k in range(len(blob))]
        for _ in range(300):
            b = bytearray(blob)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            probes.append(bytes(b))
        for p in probes:
            try:
                inflate_shard(p, "fuzz")
            except ValueError:
                pass
            except Exception as exc:
                bad.append((name, type(exc).__name__, len(p)))
    assert not bad, bad[:10]


def test_truncated_blobs_raise_valueerror():
    """Truncation mid-structure surfaces as the declared ValueError,
    never a raw struct/wave error from inside the parser."""
    whole = png_encode(bytes(64), 8, 8)
    with pytest.raises(ValueError, match="truncated"):
        png_decode(whole[: len(whole) // 2])
    wav = wav_encode(bytes(range(64)))
    with pytest.raises(ValueError, match="malformed WAV"):
        wav_decode(wav[:10])


# -- property: arbitrary pixels x arbitrary per-line filters ---------------

from hypothesis import given, settings, strategies as st

_CHANNELS_BY_COLOR = {0: 1, 2: 3, 6: 4}


def _forward_filter(ftype, line, prev, channels):
    """The spec's filter transform (inverse of the decoder's
    reconstruction), over the RECONSTRUCTED previous line."""

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    out = bytearray(len(line))
    for x in range(len(line)):
        left = line[x - channels] if x >= channels else 0
        up = prev[x]
        ul = prev[x - channels] if x >= channels else 0
        if ftype == 0:
            v = line[x]
        elif ftype == 1:
            v = line[x] - left
        elif ftype == 2:
            v = line[x] - up
        elif ftype == 3:
            v = line[x] - ((left + up) >> 1)
        else:
            v = line[x] - paeth(left, up, ul)
        out[x] = v & 0xFF
    return bytes(out)


@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_png_decode_roundtrips_random_filtered_streams(data):
    """Any 8-bit image, filtered with any per-scanline filter choice,
    must decode back to the original pixels — every (filter, random
    content) combination exercises the reconstruction arithmetic the
    hand-built cases only spot-check."""
    color = data.draw(st.sampled_from([0, 2, 6]))
    channels = _CHANNELS_BY_COLOR[color]
    width = data.draw(st.integers(1, 9))
    height = data.draw(st.integers(1, 9))
    stride = width * channels
    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=stride * height,
                max_size=stride * height,
            )
        )
    )
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=height, max_size=height)
    )

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    prev = bytes(stride)
    raw = bytearray()
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        raw += bytes([filters[y]]) + _forward_filter(
            filters[y], line, prev, channels
        )
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    blob = (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    w, h, ch, out = png_decode(blob)
    assert (w, h, ch) == (width, height, channels)
    assert out == pixels


@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_wav_roundtrip_random_pcm(data):
    """Any PCM payload x (rate, channels, sample width) must round-trip
    through the RIFF container byte-for-byte with its parameters."""
    rate = data.draw(st.sampled_from([8000, 16000, 44100]))
    channels = data.draw(st.integers(1, 2))
    width = data.draw(st.sampled_from([1, 2]))
    n_frames = data.draw(st.integers(0, 200))
    frame = channels * width
    pcm = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=n_frames * frame,
                max_size=n_frames * frame,
            )
        )
    )
    blob = wav_encode(pcm, sample_rate=rate, n_channels=channels, sampwidth=width)
    got_rate, got_ch, got_frames, got_pcm = wav_decode(blob)
    assert (got_rate, got_ch, got_frames) == (rate, channels, n_frames)
    assert got_pcm == pcm


# -- baseline JPEG ----------------------------------------------------------


def test_jpeg_constant_blocks_roundtrip_exactly():
    """Constant 8x8 blocks at even offsets from 128 survive the q50
    quantizer bit-exactly — the invariant the graded digest-block
    query (media_jpeg_features) is built on."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
    )

    vals = [64, 190, 128, 100]
    img = bytearray(256)
    for bi, v in enumerate(vals):
        oy, ox = (bi // 2) * 8, (bi % 2) * 8
        for y in range(8):
            for x in range(8):
                img[(oy + y) * 16 + ox + x] = v
    w, h, c, px = jpeg_decode(jpeg_encode(bytes(img), 16, 16))
    assert (w, h, c) == (16, 16, 1)
    assert px == bytes(img)
    # restart intervals change the entropy segmentation, not the pixels
    w, h, c, px = jpeg_decode(
        jpeg_encode(bytes(img), 16, 16, restart_interval=1)
    )
    assert px == bytes(img)


def test_jpeg_gradient_and_noise_tolerance():
    """General content is lossy but bounded at q50: a smooth gradient
    reconstructs within a couple of levels, pseudo-random noise within
    the usual DCT error envelope, and dimensions are exact even when
    they are not block multiples (edge-clamp padding)."""
    import hashlib as _h

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
    )

    grad = bytes((x * 255) // 31 for _y in range(32) for x in range(32))
    w, h, c, px = jpeg_decode(jpeg_encode(grad, 32, 32))
    assert (w, h, c) == (32, 32, 1)
    assert max(abs(a - b) for a, b in zip(grad, px)) <= 4

    noise = b"".join(
        _h.sha256(bytes([i])).digest() for i in range(9)
    )[: 17 * 13]
    w, h, c, px = jpeg_decode(jpeg_encode(noise, 17, 13))
    assert (w, h, c) == (17, 13, 1)
    mean_err = sum(abs(a - b) for a, b in zip(noise, px)) / len(noise)
    assert mean_err < 30  # noise is the DCT's worst case; bounded, not tight


def test_jpeg_color_roundtrip_444_and_420():
    """Color encode/decode: constant-color images reconstruct within
    one level per channel under both 4:4:4 and subsampled 4:2:0 (the
    chroma quantizer's DC step rounds, so exactness is not claimed)."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
    )

    rgb = bytes([120, 60, 200]) * 64
    w, h, c, px = jpeg_decode(jpeg_encode(rgb, 8, 8, channels=3))
    assert (w, h, c) == (8, 8, 3)
    assert max(abs(a - b) for a, b in zip(rgb, px)) <= 2

    rgb2 = bytes([10, 200, 90]) * 256
    w, h, c, px = jpeg_decode(
        jpeg_encode(rgb2, 16, 16, channels=3, subsample="420")
    )
    assert (w, h, c) == (16, 16, 3)
    assert max(abs(a - b) for a, b in zip(rgb2, px)) <= 2


def test_jpeg_rejects_out_of_scope():
    """Out-of-scope markers are HONEST NotImplementedError; a baseline
    stream merely RELABELED SOF0->SOF2 is malformed-as-progressive
    (greyscale SOF2 decodes for real since round 12 — but a baseline
    SOS scan script is invalid progressive: Ss=0 with Se=63); garbage
    and non-JPEG bytes are ValueError."""
    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
    )

    blob = jpeg_encode(bytes([130] * 64), 8, 8)
    i = blob.index(b"\xff\xc0")
    relabeled = blob[:i] + b"\xff\xc2" + blob[i + 2 :]
    with pytest.raises(ValueError, match="Se=0"):
        jpeg_decode(relabeled)
    arithmetic = blob[:i] + b"\xff\xc9" + blob[i + 2 :]
    with pytest.raises(NotImplementedError, match="arithmetic"):
        jpeg_decode(arithmetic)
    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"\x00\x01\x02")
    with pytest.raises(ValueError):
        jpeg_encode(bytes(10), 8, 8)  # buffer/dims mismatch


def test_resize_nearest_samples_correctly():
    """Nearest-neighbor core: exact source-pixel selection for up- and
    down-scale, greyscale and RGB."""
    from isaac_kafka_streaming_spark.extensions.codecs import resize_nearest

    # 2x2 grey quadrants -> 4x4: each quadrant replicates 2x2
    src = bytes([10, 20, 30, 40])
    up = resize_nearest(src, 2, 2, 1, 4, 4)
    assert up == bytes(
        [10, 10, 20, 20, 10, 10, 20, 20, 30, 30, 40, 40, 30, 30, 40, 40]
    )
    # 4x4 -> 2x2 picks the top-left of each quadrant
    down = resize_nearest(up, 4, 4, 1, 2, 2)
    assert down == src
    # RGB pixels move as units
    rgb = bytes([1, 2, 3, 4, 5, 6])
    assert resize_nearest(rgb, 2, 1, 3, 1, 1) == bytes([1, 2, 3])


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_jpeg_roundtrip_property(data):
    """Property sweep of the JPEG pair: arbitrary small greyscale
    images round-trip with exact dimensions and bounded error; images
    built from constant 8x8-aligned blocks at even offsets from 128
    round-trip EXACTLY (the graded construction's invariant, here over
    arbitrary block grids, dims and restart intervals)."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
    )

    exact = data.draw(st.booleans())
    if exact:
        bw = data.draw(st.integers(1, 3))
        bh = data.draw(st.integers(1, 3))
        w, h = bw * 8, bh * 8
        blocks = data.draw(
            st.lists(
                st.integers(0, 63), min_size=bw * bh, max_size=bw * bh
            )
        )
        img = bytearray(w * h)
        for by in range(bh):
            for bx in range(bw):
                v = 64 + 2 * blocks[by * bw + bx]
                for y in range(8):
                    row = (by * 8 + y) * w + bx * 8
                    for x in range(8):
                        img[row + x] = v
        rst = data.draw(st.sampled_from([0, 1, 2]))
        got = jpeg_decode(jpeg_encode(bytes(img), w, h, restart_interval=rst))
        assert got == (w, h, 1, bytes(img))
    else:
        w = data.draw(st.integers(1, 24))
        h = data.draw(st.integers(1, 24))
        img = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=w * h, max_size=w * h
                )
            )
        )
        gw, gh, gc, px = jpeg_decode(jpeg_encode(img, w, h))
        assert (gw, gh, gc) == (w, h, 1) and len(px) == w * h
        # q50 worst-case bound on arbitrary content: generous but real —
        # a regression to garbled entropy coding blows past it instantly
        mean_err = sum(abs(a - b) for a, b in zip(img, px)) / len(px)
        assert mean_err < 40


# The textbook separable DCT loops: the references the batched numpy
# kernels are pinned against
_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16.0) for x in range(8)]
    for u in range(8)
]
_INV_SQRT2 = 1.0 / math.sqrt(2.0)


def _ref_fdct(block):
    """Forward DCT of a level-shifted 64-float raster block."""
    out = [0.0] * 64
    for v in range(8):
        for u in range(8):
            s = 0.0
            cu, cv = _COS[u], _COS[v]
            for y in range(8):
                row = block[y * 8 : y * 8 + 8]
                cvy = cv[y]
                s += cvy * (
                    row[0] * cu[0] + row[1] * cu[1] + row[2] * cu[2]
                    + row[3] * cu[3] + row[4] * cu[4] + row[5] * cu[5]
                    + row[6] * cu[6] + row[7] * cu[7]
                )
            scale = 0.25
            if u == 0:
                scale *= _INV_SQRT2
            if v == 0:
                scale *= _INV_SQRT2
            out[v * 8 + u] = scale * s
    return out


def _ref_idct(coef):
    """Inverse DCT of 64 raster-order dequantized coefficients."""
    out = [0.0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                cvy = _COS[v][y] * (_INV_SQRT2 if v == 0 else 1.0)
                for u in range(8):
                    c = coef[v * 8 + u]
                    if c:
                        cux = _COS[u][x] * (_INV_SQRT2 if u == 0 else 1.0)
                        s += cux * cvy * c
            out[y * 8 + x] = 0.25 * s
    return out


def test_jpeg_dct_kernels_match_reference_loops():
    """The numpy DCTs against the textbook loops: the matrix FDCT
    M B M^T to 1e-9, _plane_qz_blocks (edge replication, level shift,
    FDCT, zig-zag, round-half-away-from-zero quantization) on a 21x13
    plane with one constant block, and _idct_batch to 1e-9 (with a
    DC-only row).  A quantized value may differ from the loop's only
    where the loop's quotient sits within 1e-6 of a .5 tie (matmul and
    loop fold order differ in the last ulp), and then by one step at
    most."""
    import random

    import numpy as np

    from isaac_kafka_streaming_spark.extensions import codecs as C

    rng = random.Random(7)
    pw, ph = 21, 13
    plane = np.array(
        [[float(rng.randrange(256)) for _ in range(pw)] for _ in range(ph)]
    )
    plane[0:8, 8:16] = 77.0  # block (1, 0) is constant: the DC-only path
    got = C._plane_qz_blocks(plane, pw, ph, 3, 2, C._Q_LUM)
    assert len(got) == 6
    for by in range(2):
        for bx in range(3):
            block = [
                plane[min(by * 8 + y, ph - 1), min(bx * 8 + x, pw - 1)]
                - 128.0
                for y in range(8)
                for x in range(8)
            ]
            coef = _ref_fdct(block)
            b = np.array(block).reshape(8, 8)
            fdct = (C._DCT_M @ b @ C._DCT_M.T).reshape(64).tolist()
            assert max(abs(a - c) for a, c in zip(fdct, coef)) < 1e-9
            for i, qz in enumerate(got[by * 3 + bx]):
                r = coef[C._ZZ[i]] / C._Q_LUM[C._ZZ[i]]
                want = (
                    math.floor(r + 0.5) if r >= 0 else -math.floor(0.5 - r)
                )
                if abs(abs(r) % 1.0 - 0.5) > 1e-6:
                    assert qz == want, (bx, by, i, r)
                else:
                    assert abs(qz - want) <= 1, (bx, by, i, r)
    # DC (77 - 128) * 8 / 16 = -25.5 rounds away from zero
    assert got[1] == [-26] + [0] * 63

    coefs = [
        [float(rng.randint(-300, 300)) for _ in range(64)] for _ in range(10)
    ]
    coefs.append([-96.0] + [0.0] * 63)
    out = C._idct_batch(np.array(coefs))
    for row, coef in zip(out.tolist(), coefs):
        assert max(abs(a - b) for a, b in zip(row, _ref_idct(coef))) < 1e-9
    assert out[-1].tolist() == [-12.0] * 64  # DC-only: exactly coef / 8


# -- animated GIF -----------------------------------------------------------


def test_gif_roundtrip_and_multiframe():
    """Full-frame greyscale animations round-trip byte-exactly (GIF is
    lossless over the identity palette), across sub-block boundaries
    and LZW CLEAR cadence."""
    import hashlib as _h

    from isaac_kafka_streaming_spark.extensions.codecs import (
        gif_decode,
        gif_encode,
    )

    frames = [bytes([v] * 64) for v in (0, 130, 255)]
    assert gif_decode(gif_encode(frames, 8, 8)) == (8, 8, 3, frames)

    big = b"".join(_h.sha256(bytes([i])).digest() for i in range(32))
    w, h, n, out = gif_decode(gif_encode([big], 32, 32))
    assert (w, h, n) == (32, 32, 1) and out[0] == big


def test_gif_subrect_disposal_and_transparency():
    """A hand-built stream (our encoder is full-frame-only by design):
    frame 2 is a 2x2 sub-rect at (1,1) with one transparent pixel and
    disposal 2 — the decoder must composite over the prior canvas, keep
    the transparent pixel's underlying value, and restore the
    background inside the rect before any third frame."""
    import struct

    from isaac_kafka_streaming_spark.extensions.codecs import (
        gif_decode,
        gif_encode,
    )

    base = bytes(range(16))  # 4x4 frame 0: pixel (x,y) = 4y+x

    def lzw_literals(pixels):
        bits = bytearray()
        acc = nbits = 0

        def put(code):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += 9
            while nbits >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        put(256)
        for p in pixels:
            put(p)
        put(257)
        if nbits:
            bits.append(acc & 0xFF)
        return bytes([8]) + bytes([len(bits)]) + bytes(bits) + b"\x00"

    blob = bytearray(gif_encode([base], 4, 4)[:-1])  # drop trailer
    # GCE: disposal 2 (restore bg), transparent index 99
    blob += b"\x21\xf9\x04" + bytes([(2 << 2) | 1, 0, 0, 99]) + b"\x00"
    # image descriptor: 2x2 at (1,1); pixels 200, transparent, 201, 202
    blob += b"\x2c" + struct.pack("<HHHH", 1, 1, 2, 2) + b"\x00"
    blob += lzw_literals([200, 99, 201, 202])
    blob += b"\x3b"

    w, h, n, frames = gif_decode(bytes(blob))
    assert (w, h, n) == (4, 4, 2)
    assert frames[0] == base
    want = bytearray(base)
    want[5] = 200  # (1,1)
    # (2,1) transparent -> keeps base value 6
    want[9], want[10] = 201, 202  # (1,2), (2,2)
    assert frames[1] == bytes(want)


def test_gif_rejects_out_of_scope():
    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        gif_decode,
        gif_encode,
    )

    with pytest.raises(ValueError, match="signature"):
        gif_decode(b"NOPE")
    with pytest.raises(ValueError):
        gif_encode([b"\x00" * 10], 4, 4)  # size mismatch
    # undefined disposal values 4-7 are malformed, not composited
    base = bytes(range(16))
    blob = bytearray(gif_encode([base], 4, 4)[:-1])
    blob += b"\x21\xf9\x04" + bytes([(5 << 2), 0, 0, 0]) + b"\x00\x3b"
    with pytest.raises(ValueError, match="undefined"):
        gif_decode(bytes(blob))


def test_gif_interlaced_frame_deinterlaces():
    """Round-12: interlaced frames decode for real.  Flip the interlace
    bit on an encoder stream whose rows were pre-PERMUTED into 4-pass
    order — the decoder must put them back into display order."""
    import struct

    from isaac_kafka_streaming_spark.extensions.codecs import (
        gif_decode,
        gif_encode,
    )

    # 8 rows of 8, row y filled with value 10*y: display-order target
    target = bytes(v for y in range(8) for v in [10 * y] * 8)
    # pass order for height 8: rows 0, 4, 2, 6, 1, 3, 5, 7
    pass_rows = [0, 4, 2, 6, 1, 3, 5, 7]
    stored = bytes(v for y in pass_rows for v in [10 * y] * 8)
    blob = bytearray(gif_encode([stored], 8, 8))
    idx = blob.index(b"\x2c" + struct.pack("<HHHH", 0, 0, 8, 8))
    blob[idx + 9] |= 0x40  # interlace flag
    w, h, n, frames = gif_decode(bytes(blob))
    assert (w, h, n) == (8, 8, 1)
    assert frames[0] == target


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    n_frames=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
def test_gif_roundtrip_property(w, h, n_frames, data):
    """GIF is lossless over the identity palette: encode . decode is
    the identity for arbitrary frame stacks, dims and frame counts."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        gif_decode,
        gif_encode,
    )

    frames = [
        bytes(
            data.draw(
                st.lists(st.integers(0, 255), min_size=w * h, max_size=w * h)
            )
        )
        for _ in range(n_frames)
    ]
    assert gif_decode(gif_encode(frames, w, h)) == (w, h, n_frames, frames)

def test_jpeg_malformed_input_raises_valueerror_only():
    """Round-12 advice closure: the docstring's 'every other
    malformation raises ValueError' is now ENFORCED at the decode
    boundary — a stray RSTn in entropy data (previously the private
    _RestartMarker escaped) and a truncated stream (previously
    IndexError) both surface as ValueError."""
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
    )

    grad = bytes((3 * x + 5 * y) % 256 for y in range(16) for x in range(16))
    blob = jpeg_encode(grad, 16, 16)  # no restart interval declared
    i = blob.index(b"\xff\xda")
    (seglen,) = _s.unpack_from(">H", blob, i + 2)
    entropy = i + 2 + seglen

    stray = blob[:entropy] + b"\xff\xd0" + blob[entropy:]
    with pytest.raises(ValueError, match="restart marker"):
        jpeg_decode(stray)

    with pytest.raises(ValueError, match="malformed JPEG"):
        jpeg_decode(blob[: entropy + 2])  # truncated mid-entropy

    with pytest.raises(ValueError, match="malformed JPEG"):
        jpeg_decode(blob[:i])  # truncated mid-header


def test_gif_lzw_stream_without_leading_clear():
    """Spec-legal LZW streams may open with a literal code — the code
    table must be initialized before the loop, not only on CLEAR."""
    import struct as _s

    from isaac_kafka_streaming_spark.extensions.codecs import (
        gif_decode,
        gif_encode,
    )

    base = bytes(range(16))
    blob = bytearray(gif_encode([base], 4, 4))
    idx = blob.index(b"\x2c" + _s.pack("<HHHH", 0, 0, 4, 4))
    head = bytes(blob[: idx + 10])

    bits = bytearray()
    acc = nbits = 0

    def put(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += 9
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    for p in base:  # literals only: NO leading CLEAR
        put(p)
    put(257)  # END
    if nbits:
        bits.append(acc & 0xFF)
    stream = bytes([8, len(bits)]) + bytes(bits) + b"\x00"
    assert gif_decode(head + stream + b"\x3b") == (4, 4, 1, [base])


def test_gif_disposal_restore_to_previous():
    """Round-12: disposal 3 composites for real — the frame shows over
    the prior canvas, then the canvas reverts before the next frame
    (which must NOT see the disposal-3 frame's pixels)."""
    import struct as _s

    from isaac_kafka_streaming_spark.extensions.codecs import (
        gif_decode,
        gif_encode,
    )

    base = bytes(range(16))
    blob = bytearray(gif_encode([base], 4, 4)[:-1])  # drop trailer
    # frame 2: GCE disposal 3, full-frame constant 200
    blob += b"\x21\xf9\x04" + bytes([(3 << 2), 0, 0, 0]) + b"\x00"
    blob += b"\x2c" + _s.pack("<HHHH", 0, 0, 4, 4) + b"\x00"

    def lzw_literals(pixels):
        bits = bytearray()
        acc = nbits = 0

        def put(code):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += 9
            while nbits >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        put(256)
        for p in pixels:
            put(p)
        put(257)
        if nbits:
            bits.append(acc & 0xFF)
        return bytes([8]) + bytes([len(bits)]) + bytes(bits) + b"\x00"

    blob += lzw_literals([200] * 16)
    # frame 3: single changed pixel at (0,0) = 77, draw-over
    blob += b"\x2c" + _s.pack("<HHHH", 0, 0, 1, 1) + b"\x00"
    blob += lzw_literals([77])
    blob += b"\x3b"

    w, h, n, frames = gif_decode(bytes(blob))
    assert (w, h, n) == (4, 4, 3)
    assert frames[0] == base
    assert frames[1] == bytes([200] * 16)  # disposal-3 frame displays
    want3 = bytearray(base)  # ...then the canvas reverted to frame 0
    want3[0] = 77
    assert frames[2] == bytes(want3)


def test_gif_out_of_scope_and_malformed_raise_valueerror():
    """Round-12 advice closure: an oversize frame rect raises instead
    of wrapping rows; a pixel index past the palette raises ValueError
    (not IndexError); truncation raises ValueError."""
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        gif_decode,
        gif_encode,
    )

    base = bytes(range(16))

    # frame rect past the canvas edge (2x2 at (3,3) on a 4x4 canvas)
    blob = bytearray(gif_encode([base], 4, 4))
    idx = blob.index(b"\x2c" + _s.pack("<HHHH", 0, 0, 4, 4))
    blob[idx + 1 : idx + 9] = _s.pack("<HHHH", 3, 3, 2, 2)
    with pytest.raises(ValueError, match="exceeds"):
        gif_decode(bytes(blob))

    # pixel index past a 2-entry palette (hand-built: mcs=2 stream
    # emitting CLEAR(4), literal 3, literal 0, END(5) in 3-bit codes)
    hdr = b"GIF89a" + _s.pack("<HH", 2, 1) + bytes([0x80, 0, 0])
    pal = bytes([0, 0, 0, 255, 255, 255])
    desc = b"\x2c" + _s.pack("<HHHH", 0, 0, 2, 1) + b"\x00"
    codes = [4, 3, 0, 5]
    acc = 0
    for j, c in enumerate(codes):
        acc |= c << (3 * j)
    lzw = bytes([2, 2, acc & 0xFF, (acc >> 8) & 0xFF, 0])
    with pytest.raises(ValueError, match="color table"):
        gif_decode(hdr + pal + desc + lzw + b"\x3b")

    # truncation mid-palette surfaces as ValueError, never IndexError
    full = gif_encode([base], 4, 4)
    with pytest.raises(ValueError, match="GIF"):
        gif_decode(full[:100])

def _const_block_frame(vals):
    """16x16 greyscale: four constant 8x8 blocks — the exact-roundtrip
    JPEG construction the graded queries use."""
    img = bytearray(256)
    for bi, v in enumerate(vals):
        oy, ox = (bi // 2) * 8, (bi % 2) * 8
        for y in range(8):
            row = (oy + y) * 16 + ox
            for x in range(8):
                img[row + x] = v
    return bytes(img)


def test_avi_mjpeg_roundtrip():
    """A real RIFF/'AVI ' container of independent baseline JPEGs
    decodes back to the exact frame stack (constant even-offset blocks
    survive the quality-50 quantizer bit-exactly)."""
    import hashlib as _h

    from isaac_kafka_streaming_spark.extensions.codecs import (
        avi_decode,
        avi_encode,
        is_avi,
    )

    d = _h.sha256(b"round-12").digest()
    frames = [
        _const_block_frame([64 + 2 * (d[4 * f + i] % 64) for i in range(4)])
        for f in range(4)
    ]
    blob = avi_encode(frames, 16, 16, fps=5)
    assert is_avi(blob) and not is_avi(b"RIFF\x00\x00\x00\x00WAVE")
    assert avi_decode(blob) == (16, 16, 4, frames)


def test_avi_rejects_malformed_and_out_of_scope():
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        avi_decode,
        avi_encode,
    )

    frames = [_const_block_frame([100, 102, 104, 106])]
    blob = avi_encode(frames, 16, 16)

    with pytest.raises(ValueError, match="signature"):
        avi_decode(b"RIFF" + blob[4:8] + b"WAVE" + blob[12:])
    with pytest.raises(ValueError, match="overruns|truncated"):
        avi_decode(blob[:64])  # truncated inside hdrl
    with pytest.raises(ValueError):
        avi_decode(avi_encode(frames, 16, 16)[:-30])  # truncated movi/idx1

    # non-MJPG compression is out of scope, not silently wrong
    raw = bytearray(blob)
    i = raw.index(b"MJPG")  # strh fccHandler (first occurrence)
    j = raw.index(b"MJPG", i + 4)  # strf biCompression
    raw[i : i + 4] = b"DIB "
    raw[j : j + 4] = b"DIB "
    with pytest.raises(NotImplementedError, match="compression"):
        avi_decode(bytes(raw))

    # multi-stream files are out of scope
    raw = bytearray(blob)
    k = raw.index(b"avih") + 8  # avih body
    _s.pack_into("<I", raw, k + 24, 2)  # dwStreams = 2
    with pytest.raises(NotImplementedError, match="stream"):
        avi_decode(bytes(raw))

    # header/movi frame-count mismatch is malformed
    raw = bytearray(blob)
    _s.pack_into("<I", raw, k + 16, 7)  # dwTotalFrames = 7
    with pytest.raises(ValueError, match="declares 7 frames"):
        avi_decode(bytes(raw))

    with pytest.raises(ValueError, match="at least one"):
        avi_encode([], 16, 16)
    with pytest.raises(ValueError, match="dimensions"):
        avi_encode([bytes(10)], 16, 16)


@settings(max_examples=15, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
def test_avi_roundtrip_property(n_frames, data):
    """encode . decode is the identity for any stack of constant-block
    frames (the even-offset construction is exact through JPEG)."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        avi_decode,
        avi_encode,
    )

    frames = [
        _const_block_frame(
            [
                64 + 2 * data.draw(st.integers(min_value=0, max_value=63))
                for _ in range(4)
            ]
        )
        for _ in range(n_frames)
    ]
    assert avi_decode(avi_encode(frames, 16, 16)) == (16, 16, n_frames, frames)

def test_progressive_jpeg_equals_baseline_decode():
    """Round-12 progressive (SOF2) decoder: both encoders share one
    quantizer, so progressive and baseline encodings of the SAME image
    must decode to IDENTICAL samples — across random dims, gradients,
    hard edges and saturation."""
    import random

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    rng = random.Random(2026)
    cases = [
        (bytes((3 * x + 5 * y) % 256 for y in range(32) for x in range(32)), 32, 32),
        (bytes(64 * [0] + 64 * [255] + 64 * [0] + 64 * [255]), 16, 16),
        (bytes(256 * [255]), 16, 16),
    ]
    for _ in range(12):
        w, h = rng.randrange(1, 40), rng.randrange(1, 40)
        cases.append(
            (bytes(rng.randrange(256) for _ in range(w * h)), w, h)
        )
    for data, w, h in cases:
        base = jpeg_decode(jpeg_encode(data, w, h))
        prog = jpeg_decode(jpeg_encode_progressive(data, w, h))
        assert base == prog
    # color (4:4:4 AND 4:2:0): same anchor — shared planes/quantizers,
    # identical decode
    for _ in range(8):
        w, h = rng.randrange(1, 25), rng.randrange(1, 25)
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        for sub in ("444", "420"):
            base = jpeg_decode(
                jpeg_encode(rgb, w, h, channels=3, subsample=sub)
            )
            prog = jpeg_decode(
                jpeg_encode_progressive(rgb, w, h, channels=3, subsample=sub)
            )
            assert base == prog


def test_progressive_jpeg_const_blocks_exact_and_prefix_decodable():
    """The digest construction (constant even-offset blocks) is exact
    through the progressive pipeline too — all its energy is DC, so a
    PREFIX of the stream cut after the two DC scans already decodes to
    the exact image (progressive's defining property)."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode_progressive,
    )

    img = _const_block_frame([100, 102, 200, 64])
    blob = jpeg_encode_progressive(img, 16, 16)
    assert jpeg_decode(blob) == (16, 16, 1, img)

    # cut after scan 2: offsets of the 3rd SOS marker (entropy data is
    # FF-stuffed, so a raw FFDA can only be a real marker)
    sos_offsets = []
    i = 0
    while True:
        i = blob.find(b"\xff\xda", i)
        if i < 0:
            break
        sos_offsets.append(i)
        i += 2
    assert len(sos_offsets) == 6
    prefix = blob[: sos_offsets[2]] + b"\xff\xd9"
    assert jpeg_decode(prefix) == (16, 16, 1, img)


def test_progressive_jpeg_out_of_scope_and_malformed():
    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode_progressive,
    )

    img = bytes(range(256))
    blob = jpeg_encode_progressive(img, 16, 16)

    # out-of-range sampling factor in a color progressive SOF2 (3x3 is
    # outside even the baseline {1,2} envelope)
    rgb = bytes((i * 3 + c) % 256 for i in range(256) for c in range(3))
    cblob = jpeg_encode_progressive(rgb, 16, 16, channels=3)
    sofc = cblob.index(b"\xff\xc2")
    bad = bytearray(cblob)
    bad[sofc + 4 + 5 + 2] = 0x33  # comp 1 h/v inside SOF2 payload
    with pytest.raises(ValueError, match="sampling factor"):
        jpeg_decode(bytes(bad))

    sof = blob.index(b"\xff\xc2")

    # truncation inside a scan surfaces as ValueError
    with pytest.raises(ValueError, match="malformed JPEG"):
        jpeg_decode(blob[: len(blob) // 2])

    # DRI decodes for real now — but declaring a cadence the entropy
    # data doesn't honor (no RSTn at MCU 2 of this restart-less
    # stream) is malformed, not silently misread
    with_dri = blob[:sof] + b"\xff\xdd\x00\x04\x00\x02" + blob[sof:]
    with pytest.raises(ValueError, match="RST|malformed"):
        jpeg_decode(with_dri)


def _custom_dht(tclass, tid, symbols):
    """DHT segment assigning 1..n-bit canonical codes to `symbols` —
    for hand-built streams exercising EOBn codes the Annex-K tables
    cannot express."""
    import struct as _s

    bits = [0] * 16
    for i, _ in enumerate(symbols):
        bits[i] = 1  # one symbol per length: code i is i zeros + a one
    body = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(symbols)
    return b"\xff\xc4" + _s.pack(">H", len(body) + 2) + body


def test_progressive_jpeg_multiblock_eob_runs():
    """EOBRUN > 1 (the path the Annex-K tables cannot emit): hand-built
    two-block streams with a custom AC table containing the EOB1 symbol
    0x10.  First-scan form: EOB1 covers both blocks' bands (all AC stay
    zero -> decodes DC-flat).  Refinement form: EOB1 covers both blocks
    while their already-significant coefficients absorb correction bits."""
    import struct as _s

    from isaac_kafka_streaming_spark.extensions import codecs as C

    # canonical 1-symbol-per-length table: symbols get codes 0, 10,
    # 110... (leading zeros then a one) — decode via _huff_decode_table
    # mirrors _custom_dht's assignment
    def headers(w, h):
        out = bytearray(b"\xff\xd8")
        q = bytes([1] * 64)  # flat qtab=1: coefficients pass through
        out += b"\xff\xdb" + _s.pack(">H", 67) + b"\x00" + q
        out += (
            b"\xff\xc2"
            + _s.pack(">H", 11)
            + _s.pack(">BHHB", 8, h, w, 1)
            + bytes([1, 0x11, 0])
        )
        out += _custom_dht(0, 0, [0, 2])      # DC: categories 0 and 2
        # AC: EOB1='0', (1,1)='10', (0,1)='110', EOB0='1110'
        out += _custom_dht(1, 0, [0x10, 0x11, 0x01, 0x00])
        return out

    def sos(ss, se, ah, al, payload_bits):
        bits = "".join(payload_bits)
        pad = (-len(bits)) % 8
        data = int(bits + "1" * pad, 2).to_bytes((len(bits) + pad) // 8, "big")
        # FF-stuff
        stuffed = bytearray()
        for b in data:
            stuffed.append(b)
            if b == 0xFF:
                stuffed.append(0)
        return (
            b"\xff\xda"
            + _s.pack(">H", 8)
            + bytes([1, 1, 0x00, ss, se, (ah << 4) | al])
            + bytes(stuffed)
        )

    dc_cat0 = "0"          # DC category 0 (diff 0)
    # --- first-scan EOBRUN: 16x8 canvas, 2 blocks, DC=0, AC scan emits
    # EOB1 once (code '0' for symbol 0x10) + 1 extra bit '0' ->
    # eobrun = 2^1 - 1 + 0 = 1: covers this block + the next
    blob = headers(16, 8)
    blob += sos(0, 0, 0, 0, [dc_cat0, dc_cat0])
    blob += sos(1, 63, 0, 0, ["0", "0"])  # symbol 0x10, extrabit 0
    blob += b"\xff\xd9"
    w, h, c, px = C.jpeg_decode(bytes(blob))
    assert (w, h, c) == (16, 8, 1)
    assert px == bytes([128] * 128)  # DC 0 -> flat mid-grey

    # --- refinement EOBRUN with correction bits: make coef k=1 nonzero
    # in both blocks at Al=1 (AC first scan: symbol (0,1)='110', sign
    # bit; value ±1 <<1 = ±2), then refine at Al=0 with EOB1 covering
    # both blocks; each block's nonzero coef absorbs one correction bit
    # (block0: bit 1 -> 2+1=3; block1: bit 0 -> -2 stays)
    blob = headers(16, 8)
    blob += sos(0, 0, 0, 0, [dc_cat0, dc_cat0])
    # per block: sym(0,1)+sign placing coef k=1, then EOB0 ('1110')
    # ending only this block's band (blk0 +1 -> +2 at Al=1; blk1 -1 ->
    # -2)
    blob += sos(1, 63, 0, 1, ["110", "1", "1110", "110", "0", "1110"])
    blob += sos(1, 63, 1, 0, ["0", "0", "1", "0"])
    # refine: EOB1 (code '0') + extrabit '0' -> eobrun=2 covers both
    # blocks; correction bits: blk0 coef -> '1', blk1 coef -> '0'
    blob += b"\xff\xd9"
    w, h, c, px = C.jpeg_decode(bytes(blob))
    assert (w, h, c) == (16, 8, 1)
    # expected: block0 has zigzag k=1 coef = 3, block1 = -2 (qtab 1)
    def expect_block(k1):
        coef = [0.0] * 64
        coef[C._ZZ[1]] = float(k1)
        px8 = _ref_idct(coef)
        return [
            max(0, min(255, math.floor(v + 128.0 + 0.5))) for v in px8
        ]

    b0, b1 = expect_block(3), expect_block(-2)
    got0 = [px[y * 16 + x] for y in range(8) for x in range(8)]
    got1 = [px[y * 16 + 8 + x] for y in range(8) for x in range(8)]
    assert got0 == b0 and got1 == b1


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    mode=st.sampled_from([(1, "444"), (3, "444"), (3, "420")]),
    data=st.data(),
)
def test_progressive_equals_baseline_property(w, h, mode, data):
    """Property form of the cross-codec anchor: for ANY image
    (greyscale, 4:4:4 or 4:2:0 color), the progressive and baseline
    encoders share planes and quantizers, so their decodes are
    byte-equal."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    channels, sub = mode
    n = w * h * channels
    pixels = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    )
    assert jpeg_decode(
        jpeg_encode_progressive(pixels, w, h, channels=channels, subsample=sub)
    ) == jpeg_decode(
        jpeg_encode(pixels, w, h, channels=channels, subsample=sub)
    )


def test_progressive_jpeg_restart_intervals():
    """DRI in progressive streams: RSTn markers byte-align every scan
    and reset DC predictors — decode stays byte-identical to the
    baseline encoding of the same image at every cadence, and a stray
    restart off-cadence is malformed (ValueError)."""
    import random

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    rng = random.Random(77)
    for _ in range(4):
        w, h = rng.randrange(9, 33), rng.randrange(9, 33)
        grey = bytes(rng.randrange(256) for _ in range(w * h))
        base = jpeg_decode(jpeg_encode(grey, w, h))
        for ri in (1, 2, 5):
            prog = jpeg_decode(
                jpeg_encode_progressive(grey, w, h, restart_interval=ri)
            )
            assert prog == base
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        basec = jpeg_decode(jpeg_encode(rgb, w, h, channels=3, subsample="420"))
        progc = jpeg_decode(
            jpeg_encode_progressive(
                rgb, w, h, channels=3, subsample="420", restart_interval=2
            )
        )
        assert progc == basec

    # stray RSTn where no restart is due -> malformed, not decoded wrong
    blob = jpeg_encode_progressive(bytes(range(256)), 16, 16)
    i = blob.index(b"\xff\xda")
    (seglen,) = __import__("struct").unpack_from(">H", blob, i + 2)
    entropy = i + 2 + seglen
    stray = blob[:entropy] + b"\xff\xd0" + blob[entropy:]
    with pytest.raises(ValueError):
        jpeg_decode(stray)


def test_jpeg_422_and_440_sampling_roundtrip_both_codecs():
    """The decoders always claimed sampling factors in {1,2} (4:2:2 /
    4:4:0 included) but no encoder exercised them — round 12 adds the
    subsample modes, so the claim is now tested: real 2x1 / 1x2 SOF
    sampling bytes in the stream, identical decode between the baseline
    and progressive codecs (with and without restart intervals)."""
    import random

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    rng = random.Random(31)
    for sub, hv in (("422", 0x21), ("440", 0x12)):
        blob = jpeg_encode(bytes(192), 8, 8, channels=3, subsample=sub)
        i = blob.index(b"\xff\xc0")
        assert blob[i + 11] == hv  # luma sampling byte in SOF0
        for _ in range(4):
            w, h = rng.randrange(1, 28), rng.randrange(1, 28)
            rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
            base = jpeg_decode(
                jpeg_encode(rgb, w, h, channels=3, subsample=sub)
            )
            assert base[:3] == (w, h, 3)
            assert base == jpeg_decode(
                jpeg_encode_progressive(rgb, w, h, channels=3, subsample=sub)
            )
            assert base == jpeg_decode(
                jpeg_encode_progressive(
                    rgb, w, h, channels=3, subsample=sub, restart_interval=2
                )
            )


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF (Motion-JPEG)
# ---------------------------------------------------------------------------


def test_mp4_mjpeg_roundtrip_and_avi_parity():
    """A real ISO-BMFF container of independent baseline JPEGs decodes
    back to the exact frame stack, and — since both containers wrap
    the same T.81 codec — AVI and MP4 of the same frames decode to
    identical rasters."""
    import hashlib as _h

    from isaac_kafka_streaming_spark.extensions.codecs import (
        avi_decode,
        avi_encode,
        is_avi,
        is_mp4,
        mp4_decode,
        mp4_encode,
    )

    d = _h.sha256(b"round-12-mp4").digest()
    frames = [
        _const_block_frame([64 + 2 * (d[4 * f + i] % 64) for i in range(4)])
        for f in range(4)
    ]
    blob = mp4_encode(frames, 16, 16, fps=5)
    assert is_mp4(blob)
    assert not is_mp4(b"\x00\x00\x00\x08free") and not is_avi(blob)
    assert mp4_decode(blob) == (16, 16, 4, frames)
    assert mp4_decode(blob)[3] == avi_decode(avi_encode(frames, 16, 16))[3]


def _build_mp4(
    jpeg_chunks,  # list of lists: jpegs per chunk, in chunk order
    stsc_runs,  # [(first_chunk, samples_per_chunk, sdi)]
    use_co64=False,
    largesize_mdat=False,
    moov_size_zero=False,
    audio_trak_first=False,
    coding=b"jpeg",
):
    """Hand-assemble an ISO-BMFF MJPEG file with an arbitrary chunk
    layout — the adversarial counterpart to mp4_encode's single-chunk
    output, used to prove the decoder resolves real sample tables."""
    import struct as _s

    from isaac_kafka_streaming_spark.extensions.codecs import _box, _fullbox

    ftyp = _box(b"ftyp", b"isom" + _s.pack(">I", 512) + b"isom" + b"mp41")
    n = sum(len(c) for c in jpeg_chunks)
    payload = b"".join(b"".join(c) for c in jpeg_chunks)
    mdat_header = 16 if largesize_mdat else 8
    if largesize_mdat:
        mdat = (
            _s.pack(">I", 1)
            + b"mdat"
            + _s.pack(">Q", 16 + len(payload))
            + payload
        )
    else:
        mdat = _box(b"mdat", payload)
    # chunk offsets are absolute file offsets into mdat's payload
    offs, pos = [], len(ftyp) + mdat_header
    for c in jpeg_chunks:
        offs.append(pos)
        pos += sum(len(j) for j in c)

    mvhd = _fullbox(
        b"mvhd",
        0,
        0,
        _s.pack(">4I", 0, 0, 10, n)
        + _s.pack(">iH", 0x00010000, 0x0100)
        + b"\x00" * 10
        + _s.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + _s.pack(">I", 3),
    )
    matrix = _s.pack(
        ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
    )
    tkhd = _fullbox(
        b"tkhd",
        0,
        3,
        _s.pack(">5I", 0, 0, 1, 0, n)
        + b"\x00" * 8
        + _s.pack(">4H", 0, 0, 0, 0)
        + matrix
        + _s.pack(">II", 16 << 16, 16 << 16),
    )
    mdhd = _fullbox(
        b"mdhd", 0, 0, _s.pack(">4I", 0, 0, 10, n) + _s.pack(">HH", 0x55C4, 0)
    )
    hdlr = _fullbox(
        b"hdlr",
        0,
        0,
        _s.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"V\x00",
    )
    vmhd = _fullbox(b"vmhd", 0, 1, _s.pack(">4H", 0, 0, 0, 0))
    dinf = _box(
        b"dinf",
        _fullbox(
            b"dref",
            0,
            0,
            _s.pack(">I", 1) + _fullbox(b"url ", 0, 1, b""),
        ),
    )
    entry = _box(
        coding,
        b"\x00" * 6
        + _s.pack(">H", 1)
        + b"\x00" * 16
        + _s.pack(">HH", 16, 16)
        + _s.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + _s.pack(">H", 1)
        + b"\x00" * 32
        + _s.pack(">Hh", 24, -1),
    )
    stsd = _fullbox(b"stsd", 0, 0, _s.pack(">I", 1) + entry)
    stts = _fullbox(b"stts", 0, 0, _s.pack(">III", 1, n, 1))
    stsc = _fullbox(
        b"stsc",
        0,
        0,
        _s.pack(">I", len(stsc_runs))
        + b"".join(_s.pack(">III", *r) for r in stsc_runs),
    )
    sizes = [len(j) for c in jpeg_chunks for j in c]
    stsz = _fullbox(
        b"stsz",
        0,
        0,
        _s.pack(">II", 0, n)
        + b"".join(_s.pack(">I", z) for z in sizes),
    )
    if use_co64:
        co = _fullbox(
            b"co64",
            0,
            0,
            _s.pack(">I", len(offs))
            + b"".join(_s.pack(">Q", o) for o in offs),
        )
    else:
        co = _fullbox(
            b"stco",
            0,
            0,
            _s.pack(">I", len(offs))
            + b"".join(_s.pack(">I", o) for o in offs),
        )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + co)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)

    traks = trak
    if audio_trak_first:
        soun_hdlr = _fullbox(
            b"hdlr",
            0,
            0,
            _s.pack(">I", 0) + b"soun" + b"\x00" * 12 + b"S\x00",
        )
        soun_trak = _box(
            b"trak", tkhd + _box(b"mdia", mdhd + soun_hdlr)
        )
        traks = soun_trak + trak
    moov = _box(b"moov", mvhd + traks)
    if moov_size_zero:
        moov = _s.pack(">I", 0) + moov[4:]
    return ftyp + mdat + moov


def test_mp4_third_party_layouts():
    """The decoder resolves the REAL sample-table machinery, not just
    our encoder's single-chunk layout: multi-run stsc with interleaved
    chunks, co64 offsets, a 64-bit largesize mdat, a size==0 tail
    moov, and a skipped non-video track all decode to the same
    frames."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_encode,
        mp4_decode,
        mp4_encode,
    )

    frames = [_const_block_frame([80 + 2 * i] * 4) for i in range(4)]
    jpegs = [jpeg_encode(f, 16, 16) for f in frames]
    want = mp4_decode(mp4_encode(frames, 16, 16))

    # 1) interleaved multi-chunk layout: chunks of 1,2,1 samples
    layout = [[jpegs[0]], [jpegs[1], jpegs[2]], [jpegs[3]]]
    runs = [(1, 1, 1), (2, 2, 1), (3, 1, 1)]
    assert mp4_decode(_build_mp4(layout, runs)) == want

    # 2) co64 chunk offsets
    assert mp4_decode(_build_mp4(layout, runs, use_co64=True)) == want

    # 3) 64-bit largesize mdat
    assert mp4_decode(_build_mp4(layout, runs, largesize_mdat=True)) == want

    # 4) size==0 moov tail box
    assert mp4_decode(_build_mp4(layout, runs, moov_size_zero=True)) == want

    # 5) a non-video track before the video track is skipped
    assert mp4_decode(_build_mp4(layout, runs, audio_trak_first=True)) == want

    # 6) 'mjpa' coding fourcc is accepted too
    assert mp4_decode(_build_mp4(layout, runs, coding=b"mjpa")) == want


@settings(max_examples=25, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=6),
    data=st.data(),
)
def test_mp4_random_chunk_layout_property(n_frames, data):
    """ANY partition of the samples into chunks, expressed as minimal
    stsc runs (adjacent equal counts collapsed, per the spec), decodes
    identically to the canonical single-chunk encoding — the full
    stsc expansion logic under adversarial layouts."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_encode,
        mp4_decode,
        mp4_encode,
    )

    frames = [
        _const_block_frame(
            [
                64 + 2 * data.draw(st.integers(min_value=0, max_value=63))
                for _ in range(4)
            ]
        )
        for _ in range(n_frames)
    ]
    jpegs = [jpeg_encode(f, 16, 16) for f in frames]
    want = mp4_decode(mp4_encode(frames, 16, 16))

    # draw a random composition of n_frames into chunk sizes
    sizes, left = [], n_frames
    while left:
        k = data.draw(st.integers(min_value=1, max_value=left))
        sizes.append(k)
        left -= k
    chunks, pos = [], 0
    for k in sizes:
        chunks.append(jpegs[pos : pos + k])
        pos += k
    # minimal stsc runs: a new run only where the per-chunk count changes
    runs = []
    for ci, k in enumerate(sizes, start=1):
        if not runs or runs[-1][1] != k:
            runs.append((ci, k, 1))
    use_co64 = data.draw(st.booleans())
    assert mp4_decode(_build_mp4(chunks, runs, use_co64=use_co64)) == want


def test_mp4_rejects_malformed_and_out_of_scope():
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        mp4_decode,
        mp4_encode,
    )

    frames = [_const_block_frame([100, 102, 104, 106])]
    blob = mp4_encode(frames, 16, 16)

    with pytest.raises(ValueError, match="ftyp"):
        mp4_decode(b"\x00" * 32)
    with pytest.raises(ValueError, match="overruns|truncated|moov"):
        mp4_decode(blob[:-40])  # truncated inside moov
    with pytest.raises(ValueError, match="moov"):
        mp4_decode(blob[: blob.index(b"moov") - 4])  # moov gone entirely

    # H.264-class coding is out of scope, not silently wrong
    raw = bytearray(blob)
    i = raw.index(b"jpeg", raw.index(b"stsd"))
    raw[i : i + 4] = b"avc1"
    with pytest.raises(NotImplementedError, match="avc1"):
        mp4_decode(bytes(raw))

    # a second video track is out of scope
    raw = bytearray(blob)
    moov_at = raw.index(b"moov") - 4
    trak_at = raw.index(b"trak", moov_at) - 4
    (trak_size,) = _s.unpack_from(">I", raw, trak_at)
    trak = bytes(raw[trak_at : trak_at + trak_size])
    doubled = bytearray(raw[:moov_at])
    moov_body = bytes(raw[moov_at + 8 : moov_at + _s.unpack_from(">I", raw, moov_at)[0]])
    new_moov_body = moov_body + trak
    doubled += _s.pack(">I", 8 + len(new_moov_body)) + b"moov" + new_moov_body
    with pytest.raises(NotImplementedError, match="multi-video-track"):
        mp4_decode(bytes(doubled))

    # stsc/stsz disagreement is malformed
    raw = bytearray(blob)
    k = raw.index(b"stsz") + 4  # fullbox version/flags
    _s.pack_into(">I", raw, k + 8, 3)  # sample_count = 3, table has 1
    with pytest.raises(ValueError):
        mp4_decode(bytes(raw))

    # a sample that points past EOF is malformed
    raw = bytearray(blob)
    k = raw.index(b"stco") + 4
    _s.pack_into(">I", raw, k + 8, len(blob) - 4)  # chunk offset near EOF
    with pytest.raises(ValueError, match="overruns|malformed"):
        mp4_decode(bytes(raw))

    with pytest.raises(ValueError, match="at least one"):
        mp4_encode([], 16, 16)
    with pytest.raises(ValueError, match="dimensions"):
        mp4_encode([bytes(10)], 16, 16)


@settings(max_examples=10, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
def test_mp4_roundtrip_property(n_frames, data):
    """encode . decode is the identity for any stack of constant-block
    frames (the even-offset construction is exact through JPEG)."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        mp4_decode,
        mp4_encode,
    )

    frames = [
        _const_block_frame(
            [
                64 + 2 * data.draw(st.integers(min_value=0, max_value=63))
                for _ in range(4)
            ]
        )
        for _ in range(n_frames)
    ]
    assert mp4_decode(mp4_encode(frames, 16, 16)) == (16, 16, n_frames, frames)


# ---------------------------------------------------------------------------
# Matroska / EBML (Motion-JPEG)
# ---------------------------------------------------------------------------


def test_mkv_mjpeg_roundtrip_and_container_parity():
    """A real EBML/Matroska container of independent baseline JPEGs
    decodes back to the exact frame stack, and all three video
    containers (RIFF, ISO-BMFF, EBML) of the same frames decode to
    identical rasters — one MJPEG core, three container grammars."""
    import hashlib as _h

    from isaac_kafka_streaming_spark.extensions.codecs import (
        avi_decode,
        avi_encode,
        is_mkv,
        mkv_decode,
        mkv_encode,
        mp4_decode,
        mp4_encode,
    )

    d = _h.sha256(b"round-12-mkv").digest()
    frames = [
        _const_block_frame([64 + 2 * (d[4 * f + i] % 64) for i in range(4)])
        for f in range(4)
    ]
    blob = mkv_encode(frames, 16, 16, fps=5)
    assert is_mkv(blob) and not is_mkv(b"\x00\x00\x00\x20ftypisom")
    assert mkv_decode(blob) == (16, 16, 4, frames)
    assert (
        mkv_decode(blob)[3]
        == avi_decode(avi_encode(frames, 16, 16))[3]
        == mp4_decode(mp4_encode(frames, 16, 16))[3]
    )


def test_mkv_rejects_malformed_and_out_of_scope():
    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        mkv_decode,
        mkv_encode,
    )

    frames = [_const_block_frame([100, 102, 104, 106])]
    blob = mkv_encode(frames, 16, 16)

    with pytest.raises(ValueError, match="signature"):
        mkv_decode(b"\x00" * 16)
    with pytest.raises(ValueError, match="overruns|truncated"):
        mkv_decode(blob[:-20])

    # a compressed codec ID is out of scope, not silently wrong
    raw = bytearray(blob)
    i = raw.index(b"V_MJPEG")
    raw[i : i + 7] = b"V_MPEG4"  # same length: sizes stay valid
    with pytest.raises(NotImplementedError, match="V_MPEG4"):
        mkv_decode(bytes(raw))

    # lacing flags are out of scope — parse to the first SimpleBlock's
    # flags byte (a bare index() would match 0xa3 inside JPEG entropy)
    from isaac_kafka_streaming_spark.extensions.codecs import _MKV_CLUSTER

    raw = bytearray(blob)
    p = raw.index(_MKV_CLUSTER) + len(_MKV_CLUSTER)
    sl = 9 - raw[p].bit_length()
    p += sl  # into the cluster body
    assert raw[p] == 0xE7  # Timestamp element
    p += 1
    sl = 9 - raw[p].bit_length()
    ts_body = int.from_bytes(raw[p : p + sl], "big") & ~(1 << (7 * sl))
    p += sl + ts_body
    assert raw[p] == 0xA3  # SimpleBlock
    p += 1
    sl = 9 - raw[p].bit_length()
    p += sl  # into the block body
    flags_at = p + 1 + 2  # track varint (0x81) + s16 timestamp
    assert raw[flags_at] == 0x80
    raw[flags_at] |= 0x02
    with pytest.raises(NotImplementedError, match="laced"):
        mkv_decode(bytes(raw))

    # unknown-size elements are out of scope
    raw = bytearray(blob)
    seg_at = raw.index(b"\x18\x53\x80\x67")
    size_len = 9 - raw[seg_at + 4].bit_length()
    raw[seg_at + 4 : seg_at + 4 + size_len] = b"\x01" + b"\xff" * 7
    with pytest.raises(NotImplementedError, match="unknown-size"):
        mkv_decode(bytes(raw))

    with pytest.raises(ValueError, match="at least one"):
        mkv_encode([], 16, 16)
    with pytest.raises(ValueError, match="dimensions"):
        mkv_encode([bytes(10)], 16, 16)


def test_mkv_skips_non_video_tracks():
    """An audio TrackEntry before the video one is skipped, and its
    SimpleBlocks (different track number) are ignored."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        _MKV_CLUSTER,
        _MKV_CODEC_ID,
        _MKV_SEGMENT,
        _MKV_SIMPLE_BLOCK,
        _MKV_TRACKS,
        _MKV_TRACK_ENTRY,
        _MKV_TRACK_NUMBER,
        _MKV_TRACK_TYPE,
        _ebml,
        _ebml_uint,
        mkv_decode,
        mkv_encode,
    )

    frames = [_const_block_frame([90, 92, 94, 96])]
    blob = bytearray(mkv_encode(frames, 16, 16))

    audio_entry = _ebml(
        _MKV_TRACK_ENTRY,
        _ebml_uint(_MKV_TRACK_NUMBER, 2)
        + _ebml_uint(_MKV_TRACK_TYPE, 2)  # audio
        + _ebml(_MKV_CODEC_ID, b"A_PCM/INT/LIT"),
    )
    audio_block = _ebml(_MKV_SIMPLE_BLOCK, b"\x82\x00\x00\x80" + b"\x01\x02")

    # splice: grow the Tracks body and the first Cluster body; easiest
    # is to rebuild the file with the library encoder's parts swapped,
    # so decode the existing structure and re-emit
    import struct as _s

    def grow(container_id, extra, insert_at_start):
        i = blob.index(container_id)
        p = i + len(container_id)
        first = blob[p]
        size_len = 9 - first.bit_length()
        old = int.from_bytes(blob[p : p + size_len], "big") & ~(
            1 << (7 * size_len)
        )
        new_size = old + len(extra)
        assert new_size < (1 << (7 * size_len)) - 1  # fits same width
        blob[p : p + size_len] = (
            new_size | (1 << (7 * size_len))
        ).to_bytes(size_len, "big")
        body_at = p + size_len
        at = body_at if insert_at_start else body_at + old
        blob[at:at] = extra
        return len(extra)

    # NOTE: Segment size must grow by both insertions too
    seg_at = blob.index(_MKV_SEGMENT)
    sp = seg_at + len(_MKV_SEGMENT)
    seg_size_len = 9 - blob[sp].bit_length()
    seg_old = int.from_bytes(blob[sp : sp + seg_size_len], "big") & ~(
        1 << (7 * seg_size_len)
    )
    grew = grow(_MKV_TRACKS, audio_entry, insert_at_start=True)
    grew += grow(_MKV_CLUSTER, audio_block, insert_at_start=True)
    blob[sp : sp + seg_size_len] = (
        (seg_old + grew) | (1 << (7 * seg_size_len))
    ).to_bytes(seg_size_len, "big")

    assert mkv_decode(bytes(blob)) == (16, 16, 1, frames)


def test_mp4_rejects_duplicate_stsc_first_chunk():
    """Two stsc runs claiming the same first_chunk would double-assign
    samples; the decoder rejects the table instead."""
    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_encode,
        mp4_decode,
    )

    frames = [_const_block_frame([70 + 2 * i] * 4) for i in range(2)]
    jpegs = [jpeg_encode(f, 16, 16) for f in frames]
    layout = [[jpegs[0]], [jpegs[1]]]
    with pytest.raises(ValueError, match="stsc first_chunk"):
        mp4_decode(_build_mp4(layout, [(1, 1, 1), (1, 1, 1)]))


@settings(max_examples=10, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=5),
    data=st.data(),
)
def test_mkv_roundtrip_property(n_frames, data):
    """encode . decode is the identity for any stack of constant-block
    frames (the even-offset construction is exact through JPEG)."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        mkv_decode,
        mkv_encode,
    )

    frames = [
        _const_block_frame(
            [
                64 + 2 * data.draw(st.integers(min_value=0, max_value=63))
                for _ in range(4)
            ]
        )
        for _ in range(n_frames)
    ]
    assert mkv_decode(mkv_encode(frames, 16, 16)) == (16, 16, n_frames, frames)


def test_mkv_long_clip_splits_clusters():
    """SimpleBlock timestamps are s16 offsets from their cluster, so a
    clip longer than ~32s at fps=10 must split into clusters instead
    of overflowing struct.pack (the 330-frame regression)."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        MKV_MAGIC,
        _MKV_CLUSTER,
        mkv_decode,
        mkv_encode,
    )

    frames = [_const_block_frame([64 + 2 * (i % 64)] * 4) for i in range(340)]
    blob = mkv_encode(frames, 16, 16)  # fps=10 -> 34s: needs 2 clusters
    assert blob[:4] == MKV_MAGIC
    assert blob.count(_MKV_CLUSTER) >= 2
    assert mkv_decode(blob) == (16, 16, 340, frames)


def test_mkv_accepts_all_ones_track_number():
    """Track 127 encodes as the 1-byte VINT 0xFF — all-ones is only
    the 'unknown size' code for element SIZES, not block track
    numbers; a valid third-party MKV using it must decode."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        mkv_decode,
        mkv_encode,
    )

    from isaac_kafka_streaming_spark.extensions.codecs import _MKV_CLUSTER

    frames = [_const_block_frame([88, 90, 92, 94])]
    blob = bytearray(mkv_encode(frames, 16, 16))
    # TrackNumber element: 0xd7 uint body 1 -> rewrite to 127
    i = blob.index(b"\xd7\x81\x01")  # TrackNumber id, size 1, value 1
    blob[i + 2] = 127
    # parse to the first SimpleBlock's track varint (same navigation
    # as the lacing test: Cluster -> Timestamp -> SimpleBlock)
    p = blob.index(_MKV_CLUSTER) + len(_MKV_CLUSTER)
    p += 9 - blob[p].bit_length()  # cluster size varint
    assert blob[p] == 0xE7
    p += 1
    sl = 9 - blob[p].bit_length()
    ts_body = int.from_bytes(blob[p : p + sl], "big") & ~(1 << (7 * sl))
    p += sl + ts_body
    assert blob[p] == 0xA3
    p += 1
    p += 9 - blob[p].bit_length()  # block size varint
    assert blob[p] == 0x81  # track varint (value 1)
    blob[p] = 0xFF  # track 127 as the all-ones 1-byte VINT
    assert mkv_decode(bytes(blob)) == (16, 16, 1, frames)


def test_mp4_rejects_absurd_fixed_stsz_count():
    """A malformed stsz declaring 2^32-ish fixed-size samples must be
    rejected by a bound check BEFORE any allocation happens."""
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        mp4_decode,
        mp4_encode,
    )

    frames = [_const_block_frame([100, 102, 104, 106])]
    raw = bytearray(mp4_encode(frames, 16, 16))
    k = raw.index(b"stsz") + 4  # fullbox version/flags
    _s.pack_into(">II", raw, k + 4, 7, 0xFFFFFFFF)  # fixed=7, count=4B
    with pytest.raises(ValueError, match="exceeding the file size"):
        mp4_decode(bytes(raw))


# ---------------------------------------------------------------------------
# Lossless JPEG (SOF3, Huffman DPCM)
# ---------------------------------------------------------------------------


def test_lossless_jpeg_exact_for_any_content():
    """SOF3 has no quantizer: encode . decode is the identity for
    arbitrary pixels under every predictor, through the public
    jpeg_decode entry point."""
    import random

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode_lossless,
    )

    rng = random.Random(42)
    for pred in range(1, 8):
        for w, h in [(1, 1), (7, 3), (16, 16), (31, 5)]:
            px = bytes(rng.randrange(256) for _ in range(w * h))
            blob = jpeg_encode_lossless(px, w, h, predictor=pred)
            assert blob[:3] == b"\xff\xd8\xff"
            assert jpeg_decode(blob) == (w, h, 1, px), (pred, w, h)


def test_lossless_jpeg_rejects_malformed_and_out_of_scope():
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode_lossless,
    )

    px = bytes(range(64))
    blob = jpeg_encode_lossless(px, 8, 8)

    with pytest.raises(ValueError, match="malformed"):
        jpeg_decode(blob[:24])  # truncated in the header run
    with pytest.raises(ValueError):
        jpeg_decode(blob[:-12])  # truncated entropy data

    # 16-bit precision is out of scope
    raw = bytearray(blob)
    k = raw.index(b"\xff\xc3") + 4
    raw[k] = 16
    with pytest.raises(NotImplementedError, match="16-bit"):
        jpeg_decode(bytes(raw))

    # a 2-component frame is out of scope (1 or 3 only) — note the
    # SOF3 length field must grow too, so build it via the encoder's
    # segment layout: easiest is Nf=2 with the original 1-entry body,
    # which the component-factor read then catches as truncation or
    # the scope check rejects first
    raw = bytearray(blob)
    raw[k + 5] = 2  # Nf
    with pytest.raises(NotImplementedError, match="2-component"):
        jpeg_decode(bytes(raw))

    # a 3-component frame whose scan interleaves only 1 component is
    # out of scope (the encoder always writes full interleave)
    color = jpeg_encode_lossless(bytes(range(48)) * 3, 12, 4, channels=3)
    raw = bytearray(color)
    sos = raw.index(b"\xff\xda")
    # rewrite SOS from Ns=3 to Ns=1 (shrink body by 4 bytes)
    pred_byte = raw[sos + 4 + 1 + 6]
    new_body = bytes([1, 1, 0x00, pred_byte, 0, 0])
    raw[sos + 2 : sos + 4 + 9] = _s.pack(">H", len(new_body) + 2) + new_body
    with pytest.raises(NotImplementedError, match="per-component scans"):
        jpeg_decode(bytes(raw))

    # restart intervals are out of scope in lossless: splice a DRI in
    raw = bytearray(blob)
    sos_at = raw.index(b"\xff\xda")
    dri = b"\xff\xdd" + _s.pack(">H", 4) + _s.pack(">H", 2)
    raw[sos_at:sos_at] = dri
    with pytest.raises(NotImplementedError, match="restart"):
        jpeg_decode(bytes(raw))

    # invalid predictor selector is malformed
    raw = bytearray(blob)
    sos_at = raw.index(b"\xff\xda")
    raw[sos_at + 7] = 0  # Ss (predictor) = 0
    with pytest.raises(ValueError, match="predictor"):
        jpeg_decode(bytes(raw))

    with pytest.raises(ValueError, match="dimensions"):
        jpeg_encode_lossless(bytes(10), 8, 8)
    with pytest.raises(ValueError, match="predictor"):
        jpeg_encode_lossless(px, 8, 8, predictor=8)


def test_lossless_jpeg_ssss16_and_custom_table():
    """A hand-assembled third-party-style stream with a custom DHT:
    the decoder reads tables from the stream, never assumes the
    encoder's — and SSSS=16 (defined by T.81 H.1 only for 16-bit
    precision, where it means diff 32768 with NO extra bits) raises
    in this 8-bit-only decoder instead of decoding as a silent no-op
    under the '& 0xFF' reconstruction."""
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        _BitWriter,
        _huff_codes,
        jpeg_decode,
    )

    # table: symbols 0..16 all present (counts by code length)
    bits = [0, 0, 0, 0, 16, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    vals = list(range(17))
    codes = _huff_codes(bits, vals)

    def stream(payload_syms):
        out = bytearray(b"\xff\xd8")

        def segment(marker, body):
            out.extend(marker)
            out.extend(_s.pack(">H", len(body) + 2))
            out.extend(body)

        segment(
            b"\xff\xc3", _s.pack(">BHHB", 8, 1, 2, 1) + bytes([1, 0x11, 0])
        )
        segment(b"\xff\xc4", b"\x00" + bytes(bits) + bytes(vals))
        segment(b"\xff\xda", bytes([1, 1, 0x00, 1, 0, 0]))  # predictor 1
        w = _BitWriter()
        for sym, extra in payload_syms:
            w.write(*codes[sym])
            if sym and sym < 16:
                w.write(extra, sym)
        out.extend(w.flush())
        out.extend(b"\xff\xd9")
        return bytes(out)

    # the custom table decodes: diffs +2 then -1 from the 128 default
    ok = stream([(2, 0b10), (1, 0b0)])
    assert jpeg_decode(ok) == (2, 1, 1, bytes([130, 129]))

    # SSSS=16 in an 8-bit scan is malformed — raise, don't guess
    with pytest.raises(ValueError, match="SSSS=16"):
        jpeg_decode(stream([(2, 0b10), (16, 0)]))


# ---------------------------------------------------------------------------
# Cross-codec boundary fuzz: the malformed-input contract
# ---------------------------------------------------------------------------


def test_all_decoders_never_leak_internal_exceptions():
    """Every decoder's documented contract: malformed input raises
    ValueError (or NotImplementedError for honest scope limits), NEVER
    IndexError/struct.error/KeyError/zlib.error.  Seeded fuzz over
    three malformation classes per format: random bytes behind a valid
    magic, truncations of a valid file, and single-byte corruptions."""
    import hashlib as _h
    import random

    from isaac_kafka_streaming_spark.extensions import codecs as C

    frames = [
        _const_block_frame([64 + 2 * (b % 64) for b in _h.sha256(bytes([i])).digest()[:4]])
        for i in range(2)
    ]
    gray = bytes(range(256))

    subjects = [
        ("png", C.png_decode, C.png_encode(gray, 16, 16), C.PNG_MAGIC),
        ("jpeg", C.jpeg_decode, C.jpeg_encode(gray, 16, 16), b"\xff\xd8\xff"),
        (
            "ljpeg",
            C.jpeg_decode,
            C.jpeg_encode_lossless(gray, 16, 16),
            b"\xff\xd8\xff",
        ),
        (
            "pjpeg",
            C.jpeg_decode,
            C.jpeg_encode_progressive(gray, 16, 16),
            b"\xff\xd8\xff",
        ),
        ("gif", C.gif_decode, C.gif_encode(frames[:2], 16, 16), b"GIF89a"),
        ("avi", C.avi_decode, C.avi_encode(frames, 16, 16), None),
        ("mp4", C.mp4_decode, C.mp4_encode(frames, 16, 16), None),
        ("mkv", C.mkv_decode, C.mkv_encode(frames, 16, 16), C.MKV_MAGIC),
        ("wav", C.wav_decode, C.wav_encode(gray), b"RIFF"),
        (
            "g711",
            C.g711_wav_decode,
            C.g711_wav_encode(bytes(512), "mu"),
            None,
        ),
        (
            "adpcm",
            C.adpcm_wav_decode,
            C.adpcm_wav_encode(bytes(1024)),
            None,
        ),
        (
            "fwav",
            C.float_wav_decode,
            C.float_wav_encode([0.0] * 64),
            None,
        ),
    ]

    rng = random.Random(0x5EED)
    allowed = (ValueError, NotImplementedError)
    for name, decode, valid, magic in subjects:
        # sanity: the valid blob decodes
        decode(valid)
        probes = []
        if magic is not None:
            for _ in range(8):
                probes.append(
                    magic + bytes(rng.randrange(256) for _ in range(64))
                )
        for _ in range(20):  # truncations
            probes.append(valid[: rng.randrange(1, len(valid))])
        for _ in range(40):  # single-byte corruptions
            b = bytearray(valid)
            b[rng.randrange(len(b))] ^= 1 + rng.randrange(255)
            probes.append(bytes(b))
        for i, p in enumerate(probes):
            try:
                decode(p)
            except allowed:
                pass
            except Exception as exc:  # noqa: BLE001 - the assertion
                raise AssertionError(
                    f"{name} probe {i} leaked {type(exc).__name__}: {exc}"
                ) from exc


# ---------------------------------------------------------------------------
# G.711 companded WAV (mu-law / A-law)
# ---------------------------------------------------------------------------


def test_g711_companding_matches_audioop_exactly():
    """The Sun/CCITT companding here agrees with CPython's audioop on
    every 16-bit value (encode) and every code (decode), both laws —
    when audioop is importable (it is on 3.11; gated for 3.13+)."""
    import struct as _s

    from isaac_kafka_streaming_spark.extensions.codecs import (
        alaw_to_lin16,
        lin16_to_alaw,
        lin16_to_ulaw,
        ulaw_to_lin16,
    )

    try:
        import audioop
    except ImportError:
        import pytest

        pytest.skip("audioop removed from this Python")

    for c in range(256):
        assert ulaw_to_lin16(c) == _s.unpack(
            "<h", audioop.ulaw2lin(bytes([c]), 2)
        )[0]
        assert alaw_to_lin16(c) == _s.unpack(
            "<h", audioop.alaw2lin(bytes([c]), 2)
        )[0]
    for v in range(-32768, 32768):
        pv = _s.pack("<h", v)
        assert lin16_to_ulaw(v) == audioop.lin2ulaw(pv, 2)[0]
        assert lin16_to_alaw(v) == audioop.lin2alaw(pv, 2)[0]


def test_g711_wav_roundtrip_and_rejection():
    import math
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        g711_wav_decode,
        g711_wav_encode,
        wav_encode,
        wav_format_tag,
    )

    pcm = _s.pack(
        "<256h",
        *(round(9000 * math.sin(2 * math.pi * 20 * t / 256)) for t in range(256)),
    )
    for law, tag in (("mu", 7), ("a", 6)):
        blob = g711_wav_encode(pcm, law)
        assert wav_format_tag(blob) == tag
        rate, ch, n, out = g711_wav_decode(blob)
        assert (rate, ch, n) == (8000, 1, 256)
        # companding is idempotent on its lattice: re-encoding the
        # decoded signal reproduces the file byte-for-byte
        assert g711_wav_encode(out, law) == blob

    pcm_wav = wav_encode(bytes(range(64)))
    assert wav_format_tag(pcm_wav) == 1
    with pytest.raises(ValueError, match="use wav_decode"):
        g711_wav_decode(pcm_wav)

    raw = bytearray(g711_wav_encode(pcm, "mu"))
    k = raw.index(b"fmt ") + 8
    _s.pack_into("<H", raw, k, 2)  # ADPCM tag
    with pytest.raises(NotImplementedError, match="tag 2"):
        g711_wav_decode(bytes(raw))

    with pytest.raises(ValueError):
        g711_wav_decode(g711_wav_encode(pcm, "mu")[:30])
    with pytest.raises(ValueError, match="law"):
        g711_wav_encode(pcm, "opus")
    assert wav_format_tag(b"\x00" * 16) == 0


def test_g711_negative_zero_alias():
    """Companding is byte-idempotent on its expansion lattice EXCEPT
    for exactly one mu-law code: 0x7F (negative zero) decodes to 0,
    which re-encodes as 0xFF (positive zero).  A-law has no alias.
    documents_as_companded_media's docstring leans on this: decoded
    VALUES are exactly the expansion of the digest bytes, but a
    byte-level blob oracle would break on any digest containing 0x7F
    — pin the alias so that claim can never silently drift."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        alaw_to_lin16,
        lin16_to_alaw,
        lin16_to_ulaw,
        ulaw_to_lin16,
    )

    assert ulaw_to_lin16(0x7F) == 0
    assert lin16_to_ulaw(0) == 0xFF
    assert lin16_to_ulaw(ulaw_to_lin16(0x7F)) == 0xFF
    # ... and 0x7F is the ONLY non-fixed point in either law
    mu_aliases = [
        c for c in range(256) if lin16_to_ulaw(ulaw_to_lin16(c)) != c
    ]
    a_aliases = [
        c for c in range(256) if lin16_to_alaw(alaw_to_lin16(c)) != c
    ]
    assert mu_aliases == [0x7F]
    assert a_aliases == []
    # values still agree across the alias — the per-sample grading's
    # actual invariant
    assert ulaw_to_lin16(0xFF) == ulaw_to_lin16(0x7F) == 0


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    pred=st.integers(min_value=1, max_value=7),
    channels=st.sampled_from([1, 3]),
    data=st.data(),
)
def test_lossless_jpeg_roundtrip_property(w, h, pred, channels, data):
    """encode . decode is the identity for arbitrary content at every
    predictor, greyscale and 3-component interleaved."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode_lossless,
    )

    n = w * h * channels
    px = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    )
    blob = jpeg_encode_lossless(px, w, h, predictor=pred, channels=channels)
    assert jpeg_decode(blob) == (w, h, channels, px)


def test_adpcm_wav_roundtrip_quality_and_rejection():
    """IMA ADPCM is lossy-but-adaptive: block-header samples are
    exact, mean error on a smooth tone stays tiny relative to the
    amplitude, and the WAV framing (fact count, odd lengths, custom
    block sizes) round-trips; stereo/non-ADPCM/corrupt inputs
    raise."""
    import math
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        adpcm_wav_decode,
        adpcm_wav_encode,
        wav_format_tag,
    )

    n = 2048
    orig = [round(12000 * math.sin(2 * math.pi * 50 * t / n)) for t in range(n)]
    pcm = _s.pack(f"<{n}h", *orig)
    blob = adpcm_wav_encode(pcm, 8000)
    assert wav_format_tag(blob) == 0x11
    rate, ch, nf, out = adpcm_wav_decode(blob)
    assert (rate, ch, nf) == (8000, 1, n)
    dec = _s.unpack(f"<{n}h", out)
    assert dec[0] == orig[0]  # block header carries the exact sample
    mean_err = sum(abs(a - b) for a, b in zip(orig, dec)) / n
    assert mean_err < 400  # ~-30 dB of a 12000-amplitude signal

    # odd length + non-default block size: fact trimming works
    odd = _s.pack("<777h", *orig[:777])
    blob2 = adpcm_wav_encode(odd, 16000, block_frames=129)
    rate2, _ch, nf2, out2 = adpcm_wav_decode(blob2)
    assert (rate2, nf2, len(out2)) == (16000, 777, 777 * 2)

    with pytest.raises(NotImplementedError, match="not IMA ADPCM"):
        raw = bytearray(blob)
        _s.pack_into("<H", raw, raw.index(b"fmt ") + 8, 2)
        adpcm_wav_decode(bytes(raw))
    with pytest.raises(NotImplementedError, match="mono"):
        raw = bytearray(blob)
        _s.pack_into("<H", raw, raw.index(b"fmt ") + 10, 2)
        adpcm_wav_decode(bytes(raw))
    with pytest.raises(ValueError, match="step index"):
        raw = bytearray(blob)
        raw[raw.index(b"data") + 8 + 2] = 99  # first block's index byte
        adpcm_wav_decode(bytes(raw))
    with pytest.raises(ValueError):
        adpcm_wav_decode(blob[:40])
    with pytest.raises(ValueError, match="block_frames"):
        adpcm_wav_encode(pcm, 8000, block_frames=10)
    with pytest.raises(ValueError, match="at least one"):
        adpcm_wav_encode(b"", 8000)


def test_float_wav_roundtrip_and_rejection():
    import math
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        float_wav_decode,
        float_wav_encode,
        wav_encode,
        wav_format_tag,
    )

    n = 512
    fl = [0.7 * math.sin(2 * math.pi * 30 * t / n) for t in range(n)]
    blob = float_wav_encode(fl, 16000)
    assert wav_format_tag(blob) == 3
    rate, ch, nf, pcm = float_wav_decode(blob)
    assert (rate, ch, nf) == (16000, 1, n)
    vals = _s.unpack(f"<{n}h", pcm)
    assert abs(max(vals) - round(0.7 * 32767)) <= 1
    # out-of-range floats clip, not wrap
    clip = float_wav_decode(float_wav_encode([2.0, -2.0]))
    assert _s.unpack("<2h", clip[3]) == (32767, -32768)

    with pytest.raises(NotImplementedError, match="not IEEE float"):
        float_wav_decode(wav_encode(bytes(16)))
    raw = bytearray(float_wav_encode(fl))
    _s.pack_into("<H", raw, raw.index(b"fmt ") + 8 + 14, 64)  # bits=64
    with pytest.raises(NotImplementedError, match="64-bit"):
        float_wav_decode(bytes(raw))
    with pytest.raises(ValueError):
        float_wav_decode(blob[:30])


def test_pcm24_mono_conversion():
    """24-bit signed LE PCM converts exactly, including negatives."""
    from isaac_kafka_streaming_spark.extensions.codecs import pcm_to_mono_f64

    vals = [0, 1, -1, 8_388_607, -8_388_608, 123_456, -123_456]
    pcm = b"".join(v.to_bytes(3, "little", signed=True) for v in vals)
    out = pcm_to_mono_f64(pcm, len(vals), 1)
    assert out.tolist() == [float(v) for v in vals]


# ---------------------------------------------------------------------------
# Adam7 interlaced PNG
# ---------------------------------------------------------------------------


def test_png_adam7_hand_built_filtered_passes():
    """A hand-assembled interlaced PNG with a FILTERED pass (the
    encoder only emits filter 0, so this pins the decoder against
    streams it never produces): each pass unfilters independently —
    2x2 image => pass 1 = (0,0), pass 6 = (1,0), pass 7 = row 1 with
    a Sub-filtered line."""
    import struct as _s
    import zlib as _z

    from isaac_kafka_streaming_spark.extensions.codecs import (
        PNG_MAGIC,
        png_decode,
    )

    def chunk(tag, body):
        return (
            _s.pack(">I", len(body)) + tag + body
            + _s.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)  # interlace=1
    raw = bytes(
        [0, 10]        # pass 1: filter None, pixel (0,0)=10
        + [0, 20]      # pass 6: filter None, pixel (1,0)=20
        + [1, 30, 11]  # pass 7: filter Sub -> 30, (11+30)=41
    )
    blob = (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert png_decode(blob) == (2, 2, 1, bytes([10, 20, 30, 41]))

    # truncated pass stream and trailing garbage are both malformed
    import pytest

    for bad_raw in (raw[:-1], raw + b"\x00"):
        bad = (
            PNG_MAGIC
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _z.compress(bad_raw))
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="size mismatch"):
            png_decode(bad)

    # interlace method 2 is invalid
    bad_ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 2)
    with pytest.raises(ValueError, match="interlace"):
        png_decode(
            PNG_MAGIC
            + chunk(b"IHDR", bad_ihdr)
            + chunk(b"IDAT", _z.compress(raw))
            + chunk(b"IEND", b"")
        )


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    color=st.sampled_from([0, 2, 6]),
    data=st.data(),
)
def test_png_adam7_roundtrip_property(w, h, color, data):
    """encode(interlace) . decode is the identity for every dim/color
    combo — incl. dims where several passes are empty."""
    from isaac_kafka_streaming_spark.extensions.codecs import (
        png_decode,
        png_encode,
    )

    channels = {0: 1, 2: 3, 6: 4}[color]
    n = w * h * channels
    px = bytes(data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n)))
    got = png_decode(png_encode(px, w, h, color_type=color, interlace=True))
    assert got == (w, h, channels, px)


def test_adpcm_and_float_wav_edge_contracts():
    """The second-review regressions: a zero block-align ADPCM WAV
    must raise (not hang), an empty ADPCM data chunk yields 0 frames
    (the sibling decoders' contract), and non-finite float samples
    clamp/zero instead of leaking OverflowError."""
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        adpcm_wav_decode,
        adpcm_wav_encode,
        float_wav_decode,
        float_wav_encode,
        wav_decode_any,
    )

    blob = adpcm_wav_encode(bytes(1024))
    raw = bytearray(blob)
    _s.pack_into("<H", raw, raw.index(b"fmt ") + 8 + 12, 0)  # block_align=0
    with pytest.raises(ValueError, match="block align"):
        adpcm_wav_decode(bytes(raw))

    # empty data chunk: rebuild with fact=0, data empty
    from isaac_kafka_streaming_spark.extensions.codecs import _riff_chunk

    fmt = _s.pack("<HHIIHHHH", 0x11, 1, 8000, 4000, 256, 4, 2, 505)
    body = (
        b"WAVE"
        + _riff_chunk(b"fmt ", fmt)
        + _riff_chunk(b"fact", _s.pack("<I", 0))
        + _riff_chunk(b"data", b"")
    )
    empty = b"RIFF" + _s.pack("<I", len(body)) + body
    assert adpcm_wav_decode(empty) == (8000, 1, 0, b"")

    rate, ch, n, pcm = float_wav_decode(
        float_wav_encode([0.5, float("inf"), float("-inf"), float("nan")])
    )
    assert _s.unpack("<4h", pcm) == (round(0.5 * 32767), 32767, -32768, 0)

    # the shared dispatch reaches every coding from one entry point
    assert wav_decode_any(empty)[2] == 0
    assert wav_decode_any(float_wav_encode([1.0]))[3] == _s.pack("<h", 32767)


def test_wav_partial_trailing_frame_raises():
    """A multi-channel G.711 or float WAV whose data chunk ends in a
    partial frame raises the decoder's ValueError — not a raw numpy
    reshape error downstream in pcm_to_mono_f64 (the third-review
    boundary item)."""
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        _riff_chunk,
        float_wav_decode,
        g711_wav_decode,
    )

    def wav(fmt_body, data):
        body = (
            b"WAVE" + _riff_chunk(b"fmt ", fmt_body)
            + _riff_chunk(b"data", data)
        )
        return b"RIFF" + _s.pack("<I", len(body)) + body

    # stereo mu-law, 5 data bytes: 2.5 frames — malformed
    g711_fmt = _s.pack("<HHIIHH", 7, 2, 8000, 16000, 2, 8)
    with pytest.raises(ValueError, match="whole number"):
        g711_wav_decode(wav(g711_fmt, b"\x00" * 5))
    # ...while 3 whole stereo frames decode: 6 bytes -> 3 frames
    rate, ch, n, pcm = g711_wav_decode(wav(g711_fmt, b"\x00" * 6))
    assert (rate, ch, n, len(pcm)) == (8000, 2, 3, 12)

    # stereo float, 12 bytes: 1.5 two-channel 32-bit frames
    f_fmt = _s.pack("<HHIIHH", 3, 2, 8000, 64000, 8, 32)
    with pytest.raises(ValueError, match="whole number"):
        float_wav_decode(wav(f_fmt, _s.pack("<3f", 0.0, 0.5, -0.5)))
    rate, ch, n, pcm = float_wav_decode(
        wav(f_fmt, _s.pack("<4f", 0.0, 0.5, -0.5, 1.0))
    )
    assert (rate, ch, n, len(pcm)) == (8000, 2, 2, 8)


def test_png_trns_on_nonpalette_raises():
    """tRNS alongside color types 0/2 defines single-color
    transparency this decoder cannot carry — NotImplementedError, not
    silently-dropped alpha (the no-guessing stance)."""
    import struct as _s
    import zlib as _z

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        PNG_MAGIC,
        png_decode,
    )

    def chunk(tag, body):
        return (
            _s.pack(">I", len(body)) + tag + body
            + _s.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    for color, ch, trns in ((0, 1, _s.pack(">H", 7)),
                            (2, 3, _s.pack(">HHH", 1, 2, 3))):
        ihdr = _s.pack(">IIBBBBB", 1, 1, 8, color, 0, 0, 0)
        raw = bytes([0]) + bytes(ch)  # one filtered row
        blob = (
            PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"tRNS", trns)
            + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError, match="tRNS"):
            png_decode(blob)
        # without tRNS the same image decodes
        ok = (
            PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b"")
        )
        assert png_decode(ok) == (1, 1, ch, bytes(ch))


def test_png_palette_decode():
    """Color type 3: 8-bit indices map through PLTE to RGB, tRNS
    promotes to RGBA with missing entries opaque, out-of-range indices
    and a missing PLTE raise, and the palettized path composes with
    Adam7 interlacing."""
    import struct as _s
    import zlib as _z

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import (
        PNG_MAGIC,
        png_decode,
    )

    def chunk(tag, body):
        return (
            _s.pack(">I", len(body)) + tag + body
            + _s.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = bytes([0, 0, 1, 0, 2, 0])  # 2x2 indices 0 1 / 2 0
    ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)

    blob = (
        PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"PLTE", pal)
        + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b"")
    )
    assert png_decode(blob) == (
        2, 2, 3,
        bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 0, 0]),
    )

    with_trns = (
        PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"PLTE", pal)
        + chunk(b"tRNS", bytes([128]))
        + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b"")
    )
    w, h, ch, px = png_decode(with_trns)
    assert (w, h, ch) == (2, 2, 4)
    assert px[3] == 128 and px[7] == 255  # entry 0 translucent, rest opaque

    ihdr_i = _s.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 1)
    interlaced = (
        PNG_MAGIC + chunk(b"IHDR", ihdr_i) + chunk(b"PLTE", pal)
        + chunk(b"IDAT", _z.compress(bytes([0, 0, 0, 1, 0, 2, 0])))
        + chunk(b"IEND", b"")
    )
    assert png_decode(interlaced)[2] == 3

    with pytest.raises(ValueError, match="out of range"):
        png_decode(
            PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"PLTE", pal[:3])
            + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b"")
        )
    with pytest.raises(ValueError, match="lacks a PLTE"):
        png_decode(
            PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b"")
        )
    with pytest.raises(ValueError, match="bad PLTE"):
        png_decode(
            PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"PLTE", pal[:4])
            + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b"")
        )


def test_bitreader_accumulator_stays_bounded():
    """Regression for the quadratic-decode finding: _BitReader._fill
    must trim consumed high bits, or acc grows one bit per consumed
    stream bit and each subsequent fill's shift makes long entropy
    streams quadratic (256x256 decode measured 0.83 -> 0.07 s).  Read
    100 KB through every access pattern and pin the accumulator's bit
    length to the live window."""
    from isaac_kafka_streaming_spark.extensions.codecs import _BitReader

    data = bytes((i * 37 + 11) % 251 for i in range(100_000))  # no 0xFF
    r = _BitReader(data, 0)
    total = 0
    while r.pos < len(data) - 4:
        total = (total + r.bit() + r.bits(7) + r.bits(16)) & 0xFFFF
        # the trim runs at fill time (acc &= (1 << nbits) - 1 after
        # each byte), so between fills consumed bits may linger below
        # a CONSTANT ceiling — what matters is that the ceiling no
        # longer grows with bytes consumed (was ~1 bit per stream bit)
        assert r.acc.bit_length() <= 32
    # same stream through the bit-serial path agrees (sanity that the
    # trim changed no values)
    r2 = _BitReader(data, 0)
    total2 = 0
    while r2.pos < len(data) - 4:
        v = r2.bit()
        w = 0
        for _ in range(7):
            w = (w << 1) | r2.bit()
        x = 0
        for _ in range(16):
            x = (x << 1) | r2.bit()
        total2 = (total2 + v + w + x) & 0xFFFF
    assert total == total2


def test_cross_codec_anchor_multi_mcu():
    """The cross-codec equality anchor at MULTI-MCU scale: 64x64 (an
    8x8 MCU grid for greyscale; 4x4 for 4:2:0) random-content images
    through every subsampling must decode byte-equal from the
    progressive and baseline encoders — this is the size class where
    the round-14 batched FDCT/IDCT, the grid-order coefficient
    scatter, and the inlined entropy loops all genuinely engage
    (the 16x16 fixtures exercise one MCU row at most)."""
    import random

    from isaac_kafka_streaming_spark.extensions.codecs import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    rng = random.Random(4242)
    grey = bytes(rng.randrange(256) for _ in range(64 * 64))
    assert jpeg_decode(jpeg_encode_progressive(grey, 64, 64)) == \
        jpeg_decode(jpeg_encode(grey, 64, 64))
    rgb = bytes(rng.randrange(256) for _ in range(64 * 64 * 3))
    for sub in ("444", "420", "422", "440"):
        a = jpeg_decode(
            jpeg_encode_progressive(rgb, 64, 64, channels=3, subsample=sub)
        )
        b = jpeg_decode(
            jpeg_encode(rgb, 64, 64, channels=3, subsample=sub)
        )
        assert a == b, f"cross-codec mismatch at {sub}"


def test_jpeg_encoders_emit_pinned_bytes():
    """The three JPEG encoders' exact output bytes, pinned by sha256
    prefix on a 21x18 image (edge padding in both directions): the
    baseline and progressive encoders for greyscale and for color at
    every subsampling, each without and with restart intervals, and
    the lossless encoder for every predictor at 1 and 3 channels.
    Decoding round-trips do not notice a reordered segment or a
    changed table; these digests do.  Each baseline/progressive case
    encodes twice, so the header-cache hit path is pinned too."""
    import hashlib

    from isaac_kafka_streaming_spark.extensions import codecs as C

    w, h = 21, 18
    grey = bytes(
        (x * 37 + y * 91 + (x * y * 13) % 29) % 256
        for y in range(h) for x in range(w)
    )
    rgb = bytes(
        (x * 37 + y * 91 + (x * y * 13) % 29 + c * 85) % 256
        for y in range(h) for x in range(w) for c in range(3)
    )
    want = {
        ("jpeg_encode", "grey", 0): "f3d03281818f40de",
        ("jpeg_encode", "444", 0): "62f6aff25ae1f489",
        ("jpeg_encode", "420", 0): "a167038011c88855",
        ("jpeg_encode", "422", 0): "28453d22554ccec5",
        ("jpeg_encode", "440", 0): "22281dca58ae7e6b",
        ("jpeg_encode", "grey", 3): "6076c2274ddb81d8",
        ("jpeg_encode", "444", 3): "8344e4b27ed04d7c",
        ("jpeg_encode", "420", 3): "934f39e8252dae77",
        ("jpeg_encode", "422", 3): "ce69e57837dcb736",
        ("jpeg_encode", "440", 3): "be88e9bb2a8ae7ec",
        ("jpeg_encode_progressive", "grey", 0): "114368a9d337bd05",
        ("jpeg_encode_progressive", "444", 0): "7fa2b296f3b79a27",
        ("jpeg_encode_progressive", "420", 0): "e326fa14150a32df",
        ("jpeg_encode_progressive", "422", 0): "d727585310ff120d",
        ("jpeg_encode_progressive", "440", 0): "efb1857191570566",
        ("jpeg_encode_progressive", "grey", 3): "46bb598182579487",
        ("jpeg_encode_progressive", "444", 3): "6b6ad961ff0fc0f0",
        ("jpeg_encode_progressive", "420", 3): "44edaf21fd080e5b",
        ("jpeg_encode_progressive", "422", 3): "099ec2f6bd199574",
        ("jpeg_encode_progressive", "440", 3): "bca72b1d8ccedc38",
        ("jpeg_encode_lossless", 1, 1): "44c15aa716698a8c",
        ("jpeg_encode_lossless", 3, 1): "56c87c81a299aa66",
        ("jpeg_encode_lossless", 1, 2): "d9af77b372863cbe",
        ("jpeg_encode_lossless", 3, 2): "fba47506114faef0",
        ("jpeg_encode_lossless", 1, 3): "67241da345f32250",
        ("jpeg_encode_lossless", 3, 3): "4d3992c17afae18f",
        ("jpeg_encode_lossless", 1, 4): "1ce27029d3c37070",
        ("jpeg_encode_lossless", 3, 4): "27eb08b9689fd45f",
        ("jpeg_encode_lossless", 1, 5): "affd9973bff2d726",
        ("jpeg_encode_lossless", 3, 5): "09998e434c44aa47",
        ("jpeg_encode_lossless", 1, 6): "aefd7be595ae1a45",
        ("jpeg_encode_lossless", 3, 6): "8ddbe8de26b4c34b",
        ("jpeg_encode_lossless", 1, 7): "87d76b997711a8d6",
        ("jpeg_encode_lossless", 3, 7): "0953fa5bab22c6cf",
    }
    got = {}
    for name in ("jpeg_encode", "jpeg_encode_progressive"):
        enc = getattr(C, name)
        for ri in (0, 3):
            for sub in ("grey", "444", "420", "422", "440"):
                px, ch = (grey, 1) if sub == "grey" else (rgb, 3)
                kw = dict(
                    channels=ch,
                    subsample="444" if sub == "grey" else sub,
                    restart_interval=ri,
                )
                blob = enc(px, w, h, **kw)
                assert enc(px, w, h, **kw) == blob
                got[(name, sub, ri)] = blob
    for pred in range(1, 8):
        for ch, px in ((1, grey), (3, rgb)):
            got[("jpeg_encode_lossless", ch, pred)] = C.jpeg_encode_lossless(
                px, w, h, pred, ch
            )
    got = {k: hashlib.sha256(v).hexdigest()[:16] for k, v in got.items()}
    assert got == want


def test_png_unfilter_wide_rows_match_spec_filters():
    """Rows wider than 32 samples take the numpy Sub (lane cumsum mod
    256) and Up (uint8 wrap add) unfilters.  Random 80-wide images,
    filtered line by line with the spec's forward transform (every
    filter type, Sub and Up repeated, each row chaining through the
    reconstructed previous row), must decode back to the exact
    pixels."""
    import random

    rng = random.Random(13)
    filters = [1, 2, 1, 2, 3, 4, 0, 1, 2, 4, 3, 2]
    for color in (0, 2):
        channels = _CHANNELS_BY_COLOR[color]
        w, h = 80, len(filters)
        stride = w * channels
        pixels = bytes(rng.randrange(256) for _ in range(stride * h))
        prev = bytes(stride)
        lines = []
        for y, f in enumerate(filters):
            line = pixels[y * stride : (y + 1) * stride]
            lines.append((f, _forward_filter(f, line, prev, channels)))
            prev = line
        blob = _hand_png(w, h, lines, color_type=color)
        assert png_decode(blob) == (w, h, channels, pixels)
