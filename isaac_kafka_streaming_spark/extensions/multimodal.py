"""X5 — multimodal (image/audio/video) column plumbing.

Design: media travels as opaque BinaryType columns with a typed
metadata struct alongside; decode / feature-extract / resize /
frame-sample run as Arrow-batched functions over mapInPandas, so each
task processes a columnar batch of blobs without JVM<->Python row
churn.  At 100 TB the binary column lives in its own parquet column
chunk (column pruning means metadata-only queries never read bytes),
and partitioning is by content-defined bucket (hash of media_id), never
by blob size.

Decode tiers (the container ships no PIL/cv2/ffmpeg):
  * PNG, baseline JPEG and WAV blobs are decoded FOR REAL —
    `extensions.codecs` implements the formats on the stdlib and
    numpy (zlib inflate + scanline unfiltering; T.81 Huffman + IDCT;
    RIFF/`wave`), and `extract_image_features` /
    `extract_audio_features` dispatch on the magic bytes.  The graded queries `media_png_features` /
    `media_jpeg_features` / `media_wav_stats` run these paths
    end-to-end over real encoded bytes, oracle-checked.
  * Frame sampling is REAL for animated GIF (codecs.gif_decode: LZW,
    sub-rect compositing, disposal, transparency) — graded as
    `media_gif_frames`, every sampled frame byte-exact vs the oracle —
    and (round 12) for AVI/MJPEG video containers (codecs.avi_decode:
    RIFF chunk walk + the T.81 JPEG decoder per frame) — graded as
    `media_avi_frames`, every frame's 256-pixel payload byte-exact —
    and for MP4/MJPEG (codecs.mp4_decode: ISO-BMFF box walk +
    stsc/stco/stsz sample tables + the same T.81 decoder per sample)
    and MKV/MJPEG (codecs.mkv_decode: EBML element walk + SimpleBlock
    payloads through the same decoder core) — every mainstream video
    CONTAINER now parses for real; only compressed CODINGS are out of
    scope.
  * Progressive JPEG (SOF2 — greyscale, 4:4:4 and 4:2:0 color:
    spectral selection + successive approximation) decodes FOR REAL
    as of round 12 through the same jpeg_decode entry point.
  * Non-MJPEG video CODINGS (H.264/H.265/VP9-class payloads inside
    MP4/MKV) and arithmetic-coded JPEG remain STUBS: they raise
    NotImplementedError unless `fake=True`, in which case a
    deterministic fake decoder (derived from the blob's bytes)
    exercises the full plumbing — schema, batching, partitioning —
    with real data shapes.  Swapping in PIL/ffmpeg later changes only
    the nested decoder bodies.
Worker-side code is nested inside each builder (or shipped by value
via cloudpickle's register_pickle_by_value for `codecs`) — executors
never need this package on their sys.path.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import normalized_text_hash

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("blob", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("mime", T.StringType()),
                    T.StructField("source", T.StringType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("brightness", T.DoubleType()),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter for tests: treat document text bytes as media blobs so
    the plumbing runs against real driver data (no media tables ship)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "utf-8").alias("blob"),
        F.struct(
            F.octet_length(F.encode("text", "utf-8")).cast("long").alias(
                "n_bytes"
            ),
            F.lit("application/octet-stream").alias("mime"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _ship_codecs_by_value() -> None:
    """Make cloudpickle serialize `extensions.codecs` by value: workers
    don't have this package on sys.path (the grading driver runs from
    an arbitrary cwd), so module-by-reference pickling would fail."""
    from pyspark import cloudpickle

    from . import codecs

    cloudpickle.register_pickle_by_value(codecs)


def _spread_for_decode(docs: DataFrame, heavy: bool = True) -> DataFrame:
    """Decouple decode parallelism from scan splits before the
    per-document codec work.

    The media pipelines are embarrassingly parallel CPU (encode/decode
    per row, zero cross-row state), but their parallelism was
    inherited from the parquet scan — and a small single-file table
    reads as ONE split, serializing the entire codec chain onto one
    core of a 32-core executor (measured: the two most expensive
    queries on the round-12 board ran single-threaded).  When the
    batch input has fewer partitions than the cluster's default
    parallelism, hash-repartition the tiny (doc_id, text) projection
    up to it; rows are independent, so placement cannot change any
    value.  At real scale — inputs with >= cores splits — and on
    streaming inputs (micro-batch partitioning is the source's) this
    is a no-op, so no extra Exchange appears where the scan already
    provides the parallelism.

    ``heavy`` draws the measured cost line (same-session min-of-5 A/B
    at sf0.1, SCALE_DESIGN.md rounds 13-15 — re-measured after the
    round-14 per-doc codec speedups; heavy paths still win 1.6-3.0x,
    and the cheap-tier wav path re-confirmed 1.7x faster WITHOUT the
    spread in the round-15 refresh): the exchange + 32-task
    Python fan-out costs ~0.3-0.5 s, so it pays only where per-doc
    codec CPU dominates — T.81 Huffman+IDCT (all JPEG families, the
    MJPEG containers), GIF LZW, FFT/STFT synthesis+analysis: 2-4.5x
    wins.  Cheap per-doc work (stdlib-zlib PNG at digest sizes, PCM
    WAV, gzip, jsonl pack, G.711 expansion) runs FASTER single-split
    than paying the fan-out; those adapters pass heavy=False and keep
    the scan's partitioning."""
    out = docs.select("doc_id", "text")
    if not heavy:
        return out
    from ..io import spread_small_scan

    return spread_small_scan(out)


# width lookup for the digest-pixel PNGs: digest[0] % 4 -> a factor
# pair of 32, so every layout holds exactly the 32 digest bytes with
# no padding (brightness stays the plain mean of the digest bytes)
_PNG_DIMS = [(4, 8), (8, 4), (16, 2), (32, 1)]


def documents_as_png_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL greyscale PNG whose pixel
    payload is the sha256 digest of its text (32 bytes, dims chosen by
    digest[0] % 4).  The encoding runs in mapInPandas with the stdlib
    encoder, so the graded query downstream decodes genuine PNG bytes —
    while staying DuckDB-checkable, because every decoded feature is a
    function of sha256(text), which the oracle recomputes in SQL."""
    _ship_codecs_by_value()
    from .codecs import png_encode

    dims = _PNG_DIMS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                w, h = dims[digest[0] % 4]
                rows.append(
                    (
                        doc_id,
                        "image",
                        png_encode(digest, w, h),
                        {
                            "n_bytes": len(raw),
                            "mime": "image/png",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs, heavy=False).mapInPandas(run, schema=MEDIA_SCHEMA)


def documents_as_ljpeg_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL lossless JPEG (SOF3) with
    the SAME digest-pixel payload and dims as the PNG adapter — DPCM
    is exact for any content, so no quantizer construction is needed,
    and the PNG entry's oracle applies verbatim.  The predictor
    selector varies per document (1 + digest[1] % 7), so the graded
    path exercises all seven T.81 predictors every run."""
    _ship_codecs_by_value()
    from .codecs import jpeg_encode_lossless

    dims = _PNG_DIMS

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                w, h = dims[digest[0] % 4]
                rows.append(
                    (
                        doc_id,
                        "image",
                        jpeg_encode_lossless(
                            digest, w, h, predictor=1 + digest[1] % 7
                        ),
                        {
                            "n_bytes": len(raw),
                            "mime": "image/jpeg",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs).mapInPandas(run, schema=MEDIA_SCHEMA)


def documents_as_jpeg_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL baseline JPEG — 16x16
    greyscale, four constant 8x8 blocks whose values derive from the
    first four sha256 digest bytes as 64 + 2*(byte % 64).  Constant
    blocks with EVEN offsets from 128 round-trip bit-exactly through
    the quality-50 quantizer (DC step 16 divides 8*even evenly), so
    downstream decode is EXACT despite JPEG being lossy in general —
    which is what keeps every decoded feature a pure SQL function of
    sha256(text) for the oracle."""
    _ship_codecs_by_value()
    from .codecs import digest_block_frames, jpeg_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                # frame 0 of the shared graded construction (codecs
                # digest_block_frames): four constant 8x8 blocks from
                # digest bytes 0-3 as 64 + 2*(byte % 64)
                img = digest_block_frames(digest, 1)[0]
                rows.append(
                    (
                        doc_id,
                        "image",
                        jpeg_encode(img, 16, 16),
                        {
                            "n_bytes": len(raw),
                            "mime": "image/jpeg",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs).mapInPandas(run, schema=MEDIA_SCHEMA)


def documents_as_gif_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL two-frame animated GIF —
    4x4 greyscale frames whose pixels are the two halves of the sha256
    digest of its text.  GIF is lossless over the identity-grey
    palette, so every sampled frame is byte-exact against the digest —
    which keeps the frame-sampling features pure SQL functions of
    sha256(text) for the oracle."""
    _ship_codecs_by_value()
    from .codecs import gif_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                rows.append(
                    (
                        doc_id,
                        "video",
                        gif_encode([digest[:16], digest[16:]], 4, 4),
                        {
                            "n_bytes": len(raw),
                            "mime": "image/gif",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs).mapInPandas(run, schema=MEDIA_SCHEMA)


def documents_as_pjpeg_media(docs: DataFrame) -> DataFrame:
    """Adapter: the media_jpeg_features digest-block image, but encoded
    as a real PROGRESSIVE JPEG (SOF2, six-scan script: DC at Al=1 + DC
    refinement + two AC band scans + their refinements).  Constant
    even-offset blocks are exact through the shared quantizer, so the
    progressive decode pipeline stays a pure SQL function of
    sha256(text) — the same oracle as the baseline entry, which is the
    point: two genuinely different coding models, one answer."""
    _ship_codecs_by_value()
    from .codecs import digest_block_frames, jpeg_encode_progressive

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                # same frame-0 digest-block construction as the
                # baseline adapter (shared via codecs)
                img = digest_block_frames(digest, 1)[0]
                rows.append(
                    (
                        doc_id,
                        "image",
                        jpeg_encode_progressive(img, 16, 16),
                        {
                            "n_bytes": len(raw),
                            "mime": "image/jpeg",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs).mapInPandas(run, schema=MEDIA_SCHEMA)


def documents_as_avi_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL two-frame AVI/MJPEG video —
    16x16 greyscale frames, each four constant 8x8 blocks whose values
    derive from sha256 digest bytes (frame 0: bytes 0-3, frame 1:
    bytes 4-7) as 64 + 2*(byte % 64), the construction that round-trips
    the quality-50 JPEG quantizer EXACTLY.  So a genuine RIFF container
    holding genuine T.81 streams decodes to frames that stay pure SQL
    functions of sha256(text) for the oracle."""
    _ship_codecs_by_value()
    from .codecs import digest_block_frames, avi_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                frames = digest_block_frames(hashlib.sha256(raw).digest())
                rows.append(
                    (
                        doc_id,
                        "video",
                        avi_encode(frames, 16, 16),
                        {
                            "n_bytes": len(raw),
                            "mime": "video/x-msvideo",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs).mapInPandas(run, schema=MEDIA_SCHEMA)


def documents_as_mp4_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL two-frame MP4/MJPEG video
    — the SAME digest-derived constant-block frames as
    documents_as_avi_media, wrapped in an ISO-BMFF container instead
    of RIFF, so the two adapters are a cross-container parity pair:
    both must decode to identical rasters (pure SQL functions of
    sha256(text) for the oracle)."""
    _ship_codecs_by_value()
    from .codecs import digest_block_frames, mp4_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                frames = digest_block_frames(hashlib.sha256(raw).digest())
                rows.append(
                    (
                        doc_id,
                        "video",
                        mp4_encode(frames, 16, 16),
                        {
                            "n_bytes": len(raw),
                            "mime": "video/mp4",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs).mapInPandas(run, schema=MEDIA_SCHEMA)


def documents_as_mkv_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL two-frame Matroska/MJPEG
    video — the SAME digest-derived constant-block frames as the AVI
    and MP4 adapters, wrapped in an EBML container, completing the
    three-container parity family: one MJPEG core, three container
    grammars, identical rasters."""
    _ship_codecs_by_value()
    from .codecs import digest_block_frames, mkv_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                frames = digest_block_frames(hashlib.sha256(raw).digest())
                rows.append(
                    (
                        doc_id,
                        "video",
                        mkv_encode(frames, 16, 16),
                        {
                            "n_bytes": len(raw),
                            "mime": "video/x-matroska",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs).mapInPandas(run, schema=MEDIA_SCHEMA)


def documents_as_wav_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL WAV (8 kHz mono 8-bit PCM)
    whose samples are the sha256 digest bytes of its text — real RIFF
    container, real `wave` decode downstream, SQL-checkable features."""
    _ship_codecs_by_value()
    from .codecs import wav_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                rows.append(
                    (
                        doc_id,
                        "audio",
                        wav_encode(digest, sample_rate=8000, n_channels=1),
                        {
                            "n_bytes": len(raw),
                            "mime": "audio/wav",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs, heavy=False).mapInPandas(run, schema=MEDIA_SCHEMA)


def extract_image_features(
    media: DataFrame, fake: bool = False, hash_mode: str = "sha256"
) -> DataFrame:
    """Decode + feature-extract over mapInPandas (Arrow batches).

    PNG and JPEG blobs (magic-sniffed; baseline AND progressive SOF2
    at every supported sampling, via the shared jpeg_decode entry
    point) take the REAL stdlib decoders — dimensions from the header,
    brightness as the mean decoded sample, content_hash/n_bytes over
    the decoded pixel payload (for color JPEG: the interleaved RGB
    plane); GIF/AVI/MP4/MKV videos decode as frame 0.  Other blobs
    fall back to the deterministic fake decoder when `fake=True`
    (payload = the raw blob, so hash/n_bytes keep their raw-bytes
    semantics) and raise otherwise — arithmetic-coded JPEG and
    compressed video codings need a codec this container doesn't
    ship.

    ``hash_mode``: "sha256" (default) emits sha256(payload) as
    content_hash; "hex" emits the payload itself hex-encoded — used by
    the graded PNG query, whose payload is already a sha256 digest
    (DuckDB 1.0 can't hash BLOBs, and payload-equals-digest is the
    stronger decode assertion anyway).

    One output row per input row; the blob column is dropped on output
    so downstream stages never shuffle bytes they don't need.
    """
    if hash_mode not in ("sha256", "hex"):
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    _ship_codecs_by_value()
    from .codecs import (
        GIF_MAGICS,
        JPEG_MAGIC,
        PNG_MAGIC,
        avi_decode,
        gif_decode,
        is_avi,
        is_mkv,
        is_mp4,
        jpeg_decode,
        mkv_decode,
        mp4_decode,
        png_decode,
    )

    _video_decoders = [(is_avi, avi_decode), (is_mp4, mp4_decode),
                       (is_mkv, mkv_decode)]

    def decode_one(blob: bytes) -> tuple[int, int, float, bytes]:
        if bytes(blob[:8]) == PNG_MAGIC:
            w, h, _channels, pixels = png_decode(bytes(blob))
            return w, h, (sum(pixels) / len(pixels)) / 255.0, pixels
        if bytes(blob[:3]) == JPEG_MAGIC:
            w, h, _channels, pixels = jpeg_decode(bytes(blob))
            return w, h, (sum(pixels) / len(pixels)) / 255.0, pixels
        if bytes(blob[:6]) in GIF_MAGICS:
            # an animated GIF is also an image: features of frame 0
            w, h, _n, frames = gif_decode(bytes(blob))
            first = frames[0]
            return w, h, (sum(first) / len(first)) / 255.0, first
        for sniff, dec in _video_decoders:
            if sniff(bytes(blob[:12])):
                # an MJPEG video (AVI/MP4/MKV) is also an image: frame 0
                w, h, _n, frames = dec(bytes(blob))
                first = frames[0]
                return w, h, (sum(first) / len(first)) / 255.0, first
        if not fake:
            raise NotImplementedError(
                "only PNG, JPEG (baseline + progressive SOF2), GIF and "
                "AVI/MP4/MKV Motion-JPEG decode without an external "
                "codec (PIL/opencv); run with fake=True for the "
                "deterministic test decoder"
            )
        digest = hashlib.sha256(blob).digest()
        return (
            64 + digest[0] % 192,
            64 + digest[1] % 192,
            digest[2] / 255.0,
            bytes(blob),
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_one(b) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_bytes": [len(d[3]) for d in decoded],
                    "content_hash": [
                        d[3].hex()
                        if hash_mode == "hex"
                        else hashlib.sha256(d[3]).hexdigest()
                        for d in decoded
                    ],
                    "brightness": [d[2] for d in decoded],
                }
            )

    return media.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode over mapInPandas: WAV blobs parsed with the
    stdlib `wave` reader; RMS over 8-bit unsigned PCM samples."""
    _ship_codecs_by_value()
    from .codecs import wav_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                rate, n_ch, n_frames, pcm = wav_decode(bytes(blob))
                # empty data chunk is a valid WAV: rms 0.0, not a crash
                rms = (
                    math.sqrt(sum((b - 128) ** 2 for b in pcm) / len(pcm))
                    if pcm
                    else 0.0
                )
                rows.append((mid, rate, n_ch, n_frames, rms))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "n_channels",
                    "n_frames",
                    "rms",
                ],
            )

    return media.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


AUDIO_SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("dominant_bin", T.IntegerType()),
        T.StructField("dominant_freq_hz", T.DoubleType()),
    ]
)


def extract_audio_spectral(media: DataFrame) -> DataFrame:
    """REAL spectral analysis over mapInPandas: WAV blobs parsed with
    the stdlib `wave` reader, then a genuine numpy real FFT per clip —
    dominant_bin is the argmax of the magnitude spectrum over the
    non-DC bins (the mean is removed first, so the 8-bit unsigned
    offset never wins), dominant_freq_hz = bin * rate / n_samples.

    Supports 8-bit unsigned and 16-bit signed PCM, plus G.711
    mu-law/A-law WAVs (format tags 7/6), IMA ADPCM WAVs (tag 0x11)
    and 32-bit IEEE-float WAVs (tag 3),
    each expanded to 16-bit linear by the matching codecs decoder
    behind a format-tag dispatch; multi-channel audio is averaged to mono
    before the transform.  Empty data chunks give (bin 0, 0.0 Hz),
    not a crash — the extract_audio_features contract."""
    _ship_codecs_by_value()
    from .codecs import pcm_to_mono_f64, wav_decode_any

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                rate, n_ch, n_frames, pcm = wav_decode_any(bytes(blob))
                x = pcm_to_mono_f64(pcm, n_frames, n_ch)
                n = len(x)
                if n >= 2:
                    mag = np.abs(np.fft.rfft(x - x.mean()))
                    dom = int(mag[1:].argmax()) + 1  # skip the DC bin
                    freq = dom * rate / n
                else:
                    dom, freq = 0, 0.0
                rows.append((mid, rate, n, dom, freq))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "n_samples",
                    "dominant_bin",
                    "dominant_freq_hz",
                ],
            )

    return media.mapInPandas(run, schema=AUDIO_SPECTRAL_SCHEMA)


AUDIO_SPECTROGRAM_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("dominant_bin", T.IntegerType()),
        T.StructField("dominant_freq_hz", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def extract_audio_spectrogram(
    media: DataFrame, frame_len: int = 256, hop: int | None = None
) -> DataFrame:
    """STFT over mapInPandas: each WAV becomes one row per analysis
    frame (1->N expansion, the frame-sampling contract) carrying that
    frame's dominant FFT bin/frequency and RMS — the windowed twin of
    extract_audio_spectral, for signals whose content changes over
    time.  Hann-windowed numpy rfft per frame; ``hop`` defaults to
    ``frame_len`` (non-overlapping); a trailing partial frame is
    dropped (the standard STFT framing).  Same PCM scope as the
    whole-clip path: 8-bit unsigned / 16-bit signed / G.711
    mu-law/A-law / IMA ADPCM / 32-bit IEEE float, channel-mean."""
    if hop is None:
        hop = frame_len
    if frame_len < 2 or hop < 1:
        raise ValueError("frame_len must be >= 2 and hop >= 1")
    _ship_codecs_by_value()
    from .codecs import pcm_to_mono_f64, wav_decode_any

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        window = None  # one Hann window per task, reused across rows
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                rate, n_ch, n_frames, pcm = wav_decode_any(bytes(blob))
                x = pcm_to_mono_f64(pcm, n_frames, n_ch)
                if window is None:
                    window = np.hanning(frame_len)
                fno = 0
                for start in range(0, len(x) - frame_len + 1, hop):
                    seg = x[start : start + frame_len]
                    seg = (seg - seg.mean()) * window
                    mag = np.abs(np.fft.rfft(seg))
                    dom = int(mag[1:].argmax()) + 1
                    rows.append(
                        (
                            mid,
                            fno,
                            dom,
                            dom * rate / frame_len,
                            float(np.sqrt((seg**2).mean())),
                        )
                    )
                    fno += 1
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "frame_no",
                    "dominant_bin",
                    "dominant_freq_hz",
                    "rms",
                ],
            )

    return media.mapInPandas(run, schema=AUDIO_SPECTROGRAM_SCHEMA)


def documents_as_tone_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL WAV carrying a pure sine
    tone at an exact DFT bin — bin = 1 + digest[0] % 100 of 256
    samples at 8 kHz, amplitude 100 around the 8-bit midpoint.  A
    whole-bin sinusoid concentrates ALL its DFT energy in that bin, so
    the numpy FFT downstream must recover the bin exactly (quantization
    to 8-bit spreads <1 LSB of broadband noise, orders of magnitude
    below the tone), which makes the spectrum's argmax a pure SQL
    function of sha256(text): the analytic oracle for a real FFT."""
    _ship_codecs_by_value()
    from .codecs import wav_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        n, amp = 256, 100.0
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                bin_ = 1 + digest[0] % 100
                pcm = bytes(
                    min(
                        255,
                        max(
                            0,
                            round(128 + amp * math.sin(2 * math.pi * bin_ * t / n)),
                        ),
                    )
                    for t in range(n)
                )
                rows.append(
                    (
                        doc_id,
                        "audio",
                        wav_encode(pcm, sample_rate=8000),
                        {
                            "n_bytes": len(raw),
                            "mime": "audio/wav",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs).mapInPandas(run, schema=MEDIA_SCHEMA)


DECOMPRESSED_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("codec", T.StringType()),
    ]
)


def documents_as_compressed(docs: DataFrame) -> DataFrame:
    """Adapter: each document's text compressed into an opaque binary
    blob — gzip when sha256(text)[0] is even, raw zlib when odd — so
    the downstream auto-sniffing decompressor must genuinely dispatch
    on the magic bytes, and the codec choice stays a pure SQL function
    of sha256(text) for the oracle.  This is the compressed-corpus
    ingestion shape (WARC/jsonl.gz shards) a training pipeline reads
    at the petabyte tier."""
    import gzip
    import zlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                if digest[0] % 2 == 0:
                    blob, mime, codec = (
                        gzip.compress(raw, mtime=0), "application/gzip", "gzip"
                    )
                else:
                    blob, mime, codec = (
                        zlib.compress(raw), "application/zlib", "zlib"
                    )
                rows.append(
                    (
                        doc_id,
                        "text",
                        blob,
                        {"n_bytes": len(raw), "mime": mime, "source": codec},
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs, heavy=False).mapInPandas(run, schema=MEDIA_SCHEMA)


def decompress_text_blobs(media: DataFrame) -> DataFrame:
    """Compressed-corpus ingestion over mapInPandas: auto-sniff each
    blob's compression from its magic bytes — gzip (1f 8b), zlib
    (0x78 CMF with a valid FCHECK), zstd (RFC 8878 frame or skippable
    magic, via pyarrow's bundled codec like the shard tier) — inflate,
    and decode UTF-8.  Unknown magics raise ValueError (honest, not
    silently wrong) and corrupt streams surface as ValueError too,
    the codec-module malformed-input contract.  Stateless and
    per-row, so it runs unchanged on streams and costs zero shuffle
    at any scale."""
    _ship_codecs_by_value()
    from .codecs import _is_zstd_magic, zstd_inflate

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip as _gz
        import zlib as _z

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                b = bytes(blob)
                try:
                    if b[:2] == b"\x1f\x8b":
                        # gzip.decompress inflates ALL members (a
                        # concatenated .gz is valid per RFC 1952);
                        # zlib(wbits=31) stops after the first
                        raw, codec = _gz.decompress(b), "gzip"
                    elif (
                        len(b) >= 2
                        and (b[0] & 0x0F) == 8      # CM = deflate
                        and (b[0] >> 4) <= 7        # CINFO <= 32K window
                        and (b[0] << 8 | b[1]) % 31 == 0  # FCHECK
                    ):
                        raw, codec = _z.decompress(b), "zlib"
                    elif _is_zstd_magic(b):
                        raw, codec = (
                            zstd_inflate(b, f"media {mid}"), "zstd"
                        )
                    else:
                        raise ValueError(
                            f"unknown compression magic {b[:2]!r} "
                            "(gzip/zlib/zstd only)"
                        )
                except (OSError, EOFError, _z.error) as exc:
                    raise ValueError(f"corrupt compressed blob: {exc}") from exc
                rows.append((mid, raw.decode("utf-8"), len(raw), codec))
            yield pd.DataFrame(
                rows, columns=["media_id", "text", "n_bytes", "codec"]
            )

    return media.mapInPandas(run, schema=DECOMPRESSED_TEXT_SCHEMA)


JSONL_SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType()),
        T.StructField("blob", T.BinaryType()),
        T.StructField("n_docs", T.IntegerType()),
    ]
)

JSONL_DOC_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType()),
        T.StructField("line_no", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _shard_compressor(codec: str):
    """The write-side shard coder: 'gzip' (deterministic, mtime=0) or
    'zstd' (one RFC 8878 frame per shard via pyarrow's bundled codec,
    the .zst convention).  Returned callable is closure-shippable to
    executors; unknown codecs raise up front, not per batch."""
    if codec == "gzip":

        def compress(raw: bytes) -> bytes:
            import gzip

            return gzip.compress(raw, mtime=0)

        return compress
    if codec == "zstd":

        def compress(raw: bytes) -> bytes:
            # imported per call, NOT captured: a pyarrow Codec is a C
            # extension object with no pickle guarantee across the
            # cloudpickle ship to executors; construction is trivial
            # next to compressing a multi-doc shard
            import pyarrow as pa

            return pa.Codec("zstd").compress(raw, asbytes=True)

        return compress
    raise ValueError(f"unknown shard codec {codec!r} (gzip/zstd)")


def documents_as_jsonl_gz_shards(
    docs: DataFrame, docs_per_shard: int = 8, codec: str = "gzip"
) -> DataFrame:
    """Adapter: documents packed into REAL jsonl.gz shards — the
    multi-document-per-blob layout web-scale corpora actually ship in
    (one compressed member per shard, one JSON object per line).
    Shard assignment is floor(doc_id / docs_per_shard) and lines are
    sorted by doc_id, so the whole layout stays a pure SQL function of
    the documents table for the oracle.  ``codec``: "gzip" (default,
    the graded layout) or "zstd" (round 15 — the post-2023 corpus
    coding; the exploder reads either, pinned by the cross-coding
    equality test).

    Scale shape: the group is formed by a JVM-side
    collect_list(struct) whose width is the CONSTANT docs_per_shard —
    never corpus-bounded — and the compression of each shard is one
    Arrow batch row.  This is the write side; real pipelines mostly
    run the read side (explode_jsonl_gz_shards) against shards that
    already exist."""
    if docs_per_shard < 1:
        raise ValueError("docs_per_shard must be >= 1")
    compress = _shard_compressor(codec)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        for pdf in batches:
            rows = []
            for shard_id, members in zip(pdf["shard_id"], pdf["docs"]):
                lines = "\n".join(
                    json.dumps(
                        {"id": int(m["doc_id"]), "text": m["text"]},
                        ensure_ascii=False,
                        sort_keys=True,
                    )
                    for m in members
                )
                rows.append(
                    (
                        shard_id,
                        compress(lines.encode("utf-8")),
                        len(members),
                    )
                )
            yield pd.DataFrame(rows, columns=["shard_id", "blob", "n_docs"])

    grouped = (
        _spread_for_decode(docs, heavy=False)
        .select(
            F.floor(F.col("doc_id") / docs_per_shard)
            .cast("long")
            .alias("shard_id"),
            F.struct("doc_id", "text").alias("s"),
        )
        .groupBy("shard_id")
        .agg(F.sort_array(F.collect_list("s")).alias("docs"))
    )
    return grouped.mapInPandas(run, schema=JSONL_SHARD_SCHEMA)


def explode_jsonl_gz_shards(shards: DataFrame) -> DataFrame:
    """Compressed-shard ingestion over mapInPandas: inflate each
    jsonl shard blob (magic-sniffed via codecs.inflate_shard — gzip
    with ALL members, bzip2, xz, zstd via pyarrow's bundled codec;
    unknown magics raise — the module's no-guessing stance), split
    into lines, json-parse each into one output row
    (shard_id, line_no, doc_id, text).  A 1->N row expansion that is
    stateless and per-blob: it runs unchanged on a stream of shard
    files and costs zero shuffle at any scale — THE read shape of a
    petabyte jsonl shard corpus, in the four codings public corpora
    actually use (.gz everywhere, .bz2 the classic CC dumps, .xz The
    Pile, .zst the post-2023 CC/RedPajama dumps).  Malformed streams,
    JSON, or a line that is not an {id: int, text: str} document raise
    ValueError with the shard id, not a silent drop."""
    _ship_codecs_by_value()
    from .codecs import inflate_shard

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        # flush at shard boundaries once the accumulator crosses this
        # bound: peak memory is ONE inflated shard plus the bound, not
        # a whole Arrow batch of inflated shards (inflation ratio x
        # shards-per-batch would otherwise multiply)
        _FLUSH_ROWS = 10_000
        _COLS = ["shard_id", "line_no", "doc_id", "text"]

        for pdf in batches:
            rows = []
            for shard_id, blob in zip(pdf["shard_id"], pdf["blob"]):
                raw = inflate_shard(bytes(blob), f"shard {shard_id}")
                # POSIX jsonl files newline-TERMINATE every line (and
                # may carry blank separator lines); json.loads("")
                # would abort the whole job on the standard shape, so
                # blank lines are skipped and line_no counts DOCUMENTS
                # within the shard — the same rank the oracle computes
                # (second-review finding, live-repro'd)
                doc_lines = (
                    ln for ln in raw.decode("utf-8").split("\n")
                    if ln.strip()
                )
                for line_no, line in enumerate(doc_lines):
                    try:
                        obj = json.loads(line)
                    except json.JSONDecodeError as exc:
                        raise ValueError(
                            f"shard {shard_id} line {line_no}: bad JSON: "
                            f"{exc}"
                        ) from exc
                    if (
                        not isinstance(obj, dict)
                        or not isinstance(obj.get("id"), int)
                        or isinstance(obj.get("id"), bool)
                        or not isinstance(obj.get("text"), str)
                    ):
                        raise ValueError(
                            f"shard {shard_id} line {line_no}: JSON is "
                            "not an {id: int, text: str} document"
                        )
                    rows.append(
                        (shard_id, line_no, obj["id"], obj["text"])
                    )
                if len(rows) >= _FLUSH_ROWS:
                    yield pd.DataFrame(rows, columns=_COLS)
                    rows = []
            if rows:
                yield pd.DataFrame(rows, columns=_COLS)

    return shards.mapInPandas(run, schema=JSONL_DOC_SCHEMA)


WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType()),
        T.StructField("rec_no", T.IntegerType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def documents_as_warc_shards(
    docs: DataFrame, docs_per_shard: int = 8, codec: str = "gzip"
) -> DataFrame:
    """Adapter: documents packed into REAL .warc.gz shards — the
    ISO 28500 / web-archive layout pretraining crawls actually ship
    in.  With the default ``codec="gzip"`` each WARC record is its
    OWN gzip member (record-at-a-time compression, the convention
    that lets a reader resync at member boundaries) and the shard
    blob is the member concatenation — exactly the multi-member
    stream codecs.inflate_shard already reads; ``codec="zstd"``
    compresses the whole record stream as ONE RFC 8878 frame, the
    .warc.zst convention (round 15).  Record framing is the spec's:
    a WARC/1.0 version line, named headers, CRLF CRLF, a
    Content-Length-delimited block, and the CRLF CRLF record
    terminator — blocks are LENGTH-delimited, never
    sentinel-delimited, so payload text containing blank lines or
    even 'WARC/1.0' cannot break the framing.  Shard assignment is
    floor(doc_id / docs_per_shard) with records sorted by doc_id, so
    the whole layout stays a pure SQL function of the documents table
    for the oracle.  Same constant-width collect_list shape as the
    jsonl packer (write side; real pipelines mostly run the read
    side)."""
    if docs_per_shard < 1:
        raise ValueError("docs_per_shard must be >= 1")
    # per-record members for gzip (the resync convention); one
    # whole-shard frame for zstd.  Validate the codec NAME up front
    # either way.
    shard_compress = _shard_compressor(codec)
    per_record = codec == "gzip"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip

        for pdf in batches:
            rows = []
            for shard_id, members in zip(pdf["shard_id"], pdf["docs"]):
                blob = bytearray()
                for m in members:
                    doc_id = int(m["doc_id"])
                    payload = m["text"].encode("utf-8")
                    header = (
                        "WARC/1.0\r\n"
                        "WARC-Type: resource\r\n"
                        f"WARC-Record-ID: <urn:doc:{doc_id}>\r\n"
                        f"WARC-Target-URI: doc://{doc_id}\r\n"
                        "Content-Type: text/plain; charset=utf-8\r\n"
                        f"Content-Length: {len(payload)}\r\n"
                        "\r\n"
                    ).encode("ascii")
                    rec = header + payload + b"\r\n\r\n"
                    blob += gzip.compress(rec, mtime=0) if per_record else rec
                if not per_record:
                    blob = shard_compress(bytes(blob))
                rows.append((shard_id, bytes(blob), len(members)))
            yield pd.DataFrame(
                rows, columns=["shard_id", "blob", "n_docs"]
            )

    grouped = (
        _spread_for_decode(docs, heavy=False)
        .select(
            F.floor(F.col("doc_id") / docs_per_shard)
            .cast("long")
            .alias("shard_id"),
            F.struct("doc_id", "text").alias("s"),
        )
        .groupBy("shard_id")
        .agg(F.sort_array(F.collect_list("s")).alias("docs"))
    )
    return grouped.mapInPandas(run, schema=JSONL_SHARD_SCHEMA)


def explode_warc_shards(shards: DataFrame) -> DataFrame:
    """WARC-shard ingestion over mapInPandas: inflate each shard blob
    (multi-member gzip / bzip2 / xz / zstd via codecs.inflate_shard —
    .warc.zst with whole-shard frames included), then
    walk the record framing — version line, header fields, blank
    line, Content-Length block, CRLF CRLF terminator — emitting one
    row per record (shard_id, rec_no, record_id, warc_type,
    content_length, text).  Stateless and per-blob like the jsonl
    exploder: zero shuffle at any scale, runs unchanged on a stream
    of shard files.  Malformed framing (bad version line, header
    without a colon, missing Content-Length, truncated block, absent
    terminator) raises ValueError naming the shard and record — no
    silent drops.  Bounded flush per the jsonl exploder's memory
    contract: peak is one inflated shard plus the 10k-row bound, not
    an Arrow batch of inflated shards."""
    _ship_codecs_by_value()
    from .codecs import inflate_shard

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _FLUSH_ROWS = 10_000
        _COLS = [
            "shard_id", "rec_no", "record_id", "warc_type",
            "content_length", "text",
        ]

        for pdf in batches:
            rows = []
            for shard_id, blob in zip(pdf["shard_id"], pdf["blob"]):
                raw = inflate_shard(bytes(blob), f"warc shard {shard_id}")
                pos, rec_no, n = 0, 0, len(raw)
                while pos < n:
                    hdr_end = raw.find(b"\r\n\r\n", pos)
                    if hdr_end < 0:
                        raise ValueError(
                            f"warc shard {shard_id} record {rec_no}: "
                            "unterminated header block"
                        )
                    lines = raw[pos:hdr_end].decode("utf-8").split("\r\n")
                    if not lines[0].startswith("WARC/"):
                        raise ValueError(
                            f"warc shard {shard_id} record {rec_no}: bad "
                            f"version line {lines[0]!r}"
                        )
                    fields = {}
                    for ln in lines[1:]:
                        name, sep, value = ln.partition(":")
                        if not sep:
                            raise ValueError(
                                f"warc shard {shard_id} record {rec_no}: "
                                f"header line without a colon: {ln!r}"
                            )
                        fields[name.strip().lower()] = value.strip()
                    if "content-length" not in fields:
                        raise ValueError(
                            f"warc shard {shard_id} record {rec_no}: "
                            "missing Content-Length"
                        )
                    try:
                        clen = int(fields["content-length"])
                    except ValueError as exc:
                        raise ValueError(
                            f"warc shard {shard_id} record {rec_no}: "
                            f"non-numeric Content-Length "
                            f"{fields['content-length']!r}"
                        ) from exc
                    if clen < 0:
                        # a negative length would slice an empty block
                        # (Python negative-index wraparound) and could
                        # even line the terminator check up by accident
                        # — reject instead of silently emitting ''
                        raise ValueError(
                            f"warc shard {shard_id} record {rec_no}: "
                            f"negative Content-Length {clen}"
                        )
                    body_start = hdr_end + 4
                    body_end = body_start + clen
                    if raw[body_end:body_end + 4] != b"\r\n\r\n":
                        raise ValueError(
                            f"warc shard {shard_id} record {rec_no}: "
                            "block not followed by the CRLF CRLF record "
                            "terminator (truncated or wrong "
                            "Content-Length)"
                        )
                    rows.append(
                        (
                            shard_id,
                            rec_no,
                            fields.get("warc-record-id", ""),
                            fields.get("warc-type", ""),
                            clen,
                            raw[body_start:body_end].decode("utf-8"),
                        )
                    )
                    rec_no += 1
                    pos = body_end + 4
                if len(rows) >= _FLUSH_ROWS:
                    yield pd.DataFrame(rows, columns=_COLS)
                    rows = []
            if rows:
                yield pd.DataFrame(rows, columns=_COLS)

    return shards.mapInPandas(run, schema=WARC_RECORD_SCHEMA)


def ingest_warc_dir(spark, path: str) -> DataFrame:
    """One-call ingestion of a directory of real ``*.warc.gz`` shard
    files: binaryFile listing + shard-id-from-filename (shared with
    the jsonl readers, including the duplicate/overflow guards) + the
    WARC record exploder."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.{gz,bz2,xz,zst}")
        .load(path)
    )
    return explode_warc_shards(_shards_from_binary_files(files))


def stream_warc_dir(spark, path: str) -> DataFrame:
    """The streaming twin of ingest_warc_dir: a binaryFile FILE STREAM
    over the WARC shard directory through the same stateless record
    exploder (append mode, zero state, zero shuffle) — the
    arriving-crawl-dump shape.  Like stream_jsonl_gz_dir, duplicate
    shard-id detection is not possible statelessly across
    micro-batches; validate a directory once with the batch reader
    before tailing it."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.warc.{gz,bz2,xz,zst}")
        .load(path)
    )
    return explode_warc_shards(_shards_from_binary_files(files))


def _shards_from_binary_files(files: DataFrame) -> DataFrame:
    """(path, content) from the binaryFile source -> (shard_id, blob).
    shard_id is the last integer run in each file NAME after the
    extension chain is stripped (the ``shard-00042.jsonl.gz``
    convention; digits in parent directories must not leak in, and
    neither may the digit in a ``.bz2`` extension); id-less files
    raise rather than colliding on a guessed id, as do ids whose digit run OVERFLOWS BIGINT (try_cast
    NULL would otherwise bypass the dedup join and conflate such files
    under shard_id NULL), and so do DUPLICATE ids (shard-7 next to batch-7, or
    shard-007 next to shard-7 — silently merging two files' documents
    under one shard_id would conflate their line_no spaces).  The
    duplicate check joins a tiny (id, count) frame broadcast onto the
    file list — blob bytes never shuffle.  On a STREAMING file list
    the check is skipped (a cross-batch aggregation would make the
    stateless exploder stateful); the streaming reader documents that
    it trusts the writer's naming."""
    # extension chain stripped BEFORE the digit-run extract: ".bz2"
    # contains a digit, so `(\d+)\D*$` on the raw name would extract
    # the 2 from the EXTENSION of every .bz2 shard (shard-9.jsonl.bz2
    # -> id 2 — a silent mislabel, and any two .bz2 shards collide at
    # 2).  Each extension starts with a letter, so stripping
    # `(\.[A-Za-z][A-Za-z0-9]*)+$` removes the whole chain while
    # leaving digit-run tails like "shard.00042" intact.  Latent since
    # round 14 (the bz2/xz sniff predates it); caught in the round-15
    # zstd audit, pinned in tests/test_multimodal.py.
    named = files.select(
        F.regexp_extract(
            F.regexp_replace(
                F.element_at(F.split(F.col("path"), "/"), -1),
                r"(\.[A-Za-z][A-Za-z0-9]*)+$",
                "",
            ),
            r"(\d+)\D*$",
            1,
        ).alias("__sid_str"),
        F.col("path"),
        F.col("content").alias("blob"),
    ).withColumn(
        # try_cast: an id-less file ("" -> NULL) must fall through to
        # the dedicated no-numeric-id raise below, not die in ANSI
        # cast; a digit run that OVERFLOWS BIGINT also casts to NULL
        # and gets its own raise — NULL ids must never reach the dedup
        # join (NULL groups don't equi-join back, so two overflowing
        # files would silently merge under shard_id NULL with
        # colliding line_no spaces, exactly the conflation the check
        # exists to prevent)
        "__sid", F.expr("try_cast(__sid_str AS BIGINT)")
    )
    if not files.isStreaming:
        # dedup on the NUMERIC id — "shard-7" and "batch-007" collide
        # at 7 even though their digit strings differ
        dups = (
            named.select("__sid")
            .groupBy("__sid")
            .agg(F.count("*").alias("__n_files"))
            .filter(F.col("__n_files") > 1)
        )
        named = named.join(F.broadcast(dups), "__sid", "left").select(
            F.when(
                F.col("__n_files").isNotNull(),
                F.raise_error(
                    F.concat(
                        F.lit("duplicate shard id across files (id "),
                        F.col("__sid_str"),
                        F.lit("): "),
                        F.col("path"),
                    )
                ).cast("long"),
            ).otherwise(F.col("__sid")).alias("__sid"),
            "__sid_str",
            "path",
            "blob",
        )
    return named.select(
        F.when(
            F.col("__sid_str") == "", F.raise_error(
                F.concat(
                    F.lit("shard file name carries no numeric id: "),
                    F.col("path"),
                )
            ).cast("long")
        ).when(
            F.col("__sid").isNull(), F.raise_error(
                F.concat(
                    F.lit("shard file id overflows BIGINT (id "),
                    F.col("__sid_str"),
                    F.lit("): "),
                    F.col("path"),
                )
            ).cast("long")
        ).otherwise(F.col("__sid")).alias("shard_id"),
        "blob",
    )


#: binaryFile's fixed schema, declared for the streaming reader (a
#: streaming source cannot infer it)
_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def ingest_jsonl_gz_dir(spark, path: str) -> DataFrame:
    """One-call ingestion of a directory of real ``*.jsonl.gz`` shard
    FILES — the shape a reference user actually has on disk/object
    store: Spark's binaryFile source lists and reads the blobs
    (distributed, splittable by FILE — exactly the parallelism a
    100 TB shard corpus provides naturally), then
    explode_jsonl_gz_shards inflates and parses one row per document."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.jsonl.{gz,bz2,xz,zst}")
        .load(path)
    )
    return explode_jsonl_gz_shards(_shards_from_binary_files(files))


def stream_jsonl_gz_dir(spark, path: str) -> DataFrame:
    """The streaming twin of ingest_jsonl_gz_dir: a binaryFile FILE
    STREAM over the shard directory (new shards picked up per
    micro-batch — the arriving-crawl-dump shape), through the same
    stateless exploder.  Append-mode, zero state, zero shuffle.
    Unlike the batch reader, duplicate-shard-id detection is NOT
    possible statelessly across micro-batches — the stream trusts the
    writer's file naming (use the batch reader to validate a directory
    once before tailing it)."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.jsonl.{gz,bz2,xz,zst}")
        .load(path)
    )
    return explode_jsonl_gz_shards(_shards_from_binary_files(files))


def documents_as_companded_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL non-PCM WAV in one of the
    three round-12 codings, chosen by digest parity — G.711 mu-law
    (tag 7), G.711 A-law (tag 6), or 32-bit IEEE float (tag 3).  The
    sample values are constructed to round-trip EXACTLY: for G.711 the
    PCM fed to the encoder is expand(digest byte), so the file's data
    bytes are the digest UP TO the mu-law 0x7F/0xFF negative-zero
    alias (lin16_to_ulaw(ulaw_to_lin16(0x7F)) == 0xFF — negative zero
    re-encodes as positive zero; A-law has no alias) and the decoded
    VALUES are exactly the expansion of the digest bytes — the
    per-sample grading below depends only on values, never on file
    bytes (alias pinned in tests/test_codecs.py
    test_g711_negative_zero_alias); for float the samples are k/32767
    with integer
    k = (byte-128)*200, which the decoder's round(v*32767) recovers as
    exactly k.  Every decoded sample is therefore a pure SQL function
    of sha256(text) — the analytic oracle for lossy-looking codecs."""
    _ship_codecs_by_value()
    from .codecs import (
        alaw_to_lin16,
        float_wav_encode,
        g711_wav_encode,
        ulaw_to_lin16,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _s

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                sel = digest[0] % 3
                if sel == 0:
                    pcm = _s.pack(
                        "<32h", *(ulaw_to_lin16(b) for b in digest)
                    )
                    blob, coding = g711_wav_encode(pcm, "mu"), "ulaw"
                elif sel == 1:
                    pcm = _s.pack(
                        "<32h", *(alaw_to_lin16(b) for b in digest)
                    )
                    blob, coding = g711_wav_encode(pcm, "a"), "alaw"
                else:
                    blob, coding = (
                        float_wav_encode(
                            [(b - 128) * 200 / 32767.0 for b in digest]
                        ),
                        "float32",
                    )
                rows.append(
                    (
                        doc_id,
                        "audio",
                        blob,
                        {
                            "n_bytes": len(raw),
                            "mime": "audio/wav",
                            "source": coding,
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs, heavy=False).mapInPandas(run, schema=MEDIA_SCHEMA)


def documents_as_adpcm_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL IMA ADPCM WAV (tag 0x11,
    MS block framing) compressing the 32 16-bit samples
    v_k = (digest[k] - 128) * 256.  Unlike the G.711/float codings
    there is no idempotent lattice to hide behind: ADPCM is genuinely
    lossy and STATEFUL — decoded sample k is the encoder's predictor
    after step k, a function of every prior sample — so the analytic
    oracle replays the whole (predictor, step-index) state machine as
    a recursive CTE over the digest bytes (the dedup_clusters
    transitive-closure recipe applied to a codec).  Decoded sample 0
    is the block-header predictor, stored verbatim.

    heavy=True (the default): unlike the G.711/float codings (LUT
    gather / vectorized rint — cheap tier), the IMA encode is a
    genuine per-sample Python predictor loop, and the measured line
    holds — interleaved min-of-5 at sf0.1 (2026-08-16): spread
    1.042 s vs single-split 3.145 s, spread wins 3.0x."""
    _ship_codecs_by_value()
    from .codecs import adpcm_wav_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _s

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                pcm = _s.pack("<32h", *((b - 128) * 256 for b in digest))
                rows.append(
                    (
                        doc_id,
                        "audio",
                        adpcm_wav_encode(pcm, sample_rate=8000),
                        {
                            "n_bytes": len(raw),
                            "mime": "audio/wav",
                            "source": "adpcm",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs).mapInPandas(run, schema=MEDIA_SCHEMA)


AUDIO_SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("coding", T.StringType()),
        T.StructField("sample_no", T.IntegerType()),
        T.StructField("value", T.IntegerType()),
    ]
)


def extract_audio_samples(media: DataFrame) -> DataFrame:
    """Per-sample audio extraction over mapInPandas (1->N row
    expansion): decode ANY supported WAV coding via wav_decode_any and
    emit every 16-bit sample as its own row — the shape that grades a
    decoder's full output rather than a summary statistic.  The coding
    label rides in from the adapter's meta.source.  Stateless and
    per-blob: runs unchanged on streams, zero shuffle."""
    _ship_codecs_by_value()
    from .codecs import wav_decode_any

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct as _s

        for pdf in batches:
            rows = []
            for mid, blob, meta in zip(
                pdf["media_id"], pdf["blob"], pdf["meta"]
            ):
                _rate, _n_ch, _n_frames, pcm = wav_decode_any(bytes(blob))
                vals = _s.unpack(f"<{len(pcm) // 2}h", pcm)
                coding = meta["source"]
                rows.extend(
                    (mid, coding, i, int(v)) for i, v in enumerate(vals)
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "coding", "sample_no", "value"]
            )

    return media.mapInPandas(run, schema=AUDIO_SAMPLES_SCHEMA)


def documents_as_chirp_media(docs: DataFrame) -> DataFrame:
    """Adapter: each document becomes a REAL WAV whose content CHANGES
    over time — 512 samples, the first 256 a pure sine at DFT bin
    1 + digest[0] % 100, the next 256 at bin 1 + digest[1] % 100
    (each a whole bin of its own 256-sample analysis frame).  A
    whole-clip FFT cannot represent this signal faithfully; the STFT
    must resolve frame 0 to the first bin and frame 1 to the second,
    so the windowed path's per-frame argmax stays a pure SQL function
    of sha256(text) — the analytic oracle for a real spectrogram."""
    _ship_codecs_by_value()
    from .codecs import wav_encode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        n, amp = 256, 100.0
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")
                digest = hashlib.sha256(raw).digest()
                pcm = bytearray()
                for bi in range(2):
                    b = 1 + digest[bi] % 100
                    pcm += bytes(
                        min(
                            255,
                            max(
                                0,
                                round(
                                    128
                                    + amp * math.sin(2 * math.pi * b * t / n)
                                ),
                            ),
                        )
                        for t in range(n)
                    )
                rows.append(
                    (
                        doc_id,
                        "audio",
                        wav_encode(bytes(pcm), sample_rate=8000),
                        {
                            "n_bytes": len(raw),
                            "mime": "audio/wav",
                            "source": "digest",
                        },
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "blob", "meta"]
            )

    return _spread_for_decode(docs).mapInPandas(run, schema=MEDIA_SCHEMA)


def resize_images(
    media: DataFrame, target_w: int, target_h: int, fake: bool = False
) -> DataFrame:
    """Resize over mapInPandas, preserving the media schema.

    REAL for PNG and JPEG blobs (baseline and progressive via the
    shared jpeg_decode entry point) and, round 12, for GIF/AVI/MP4/MKV
    videos (frame 0, the image-features dispatch): stdlib
    decode, nearest-neighbor resample (codecs.resize_nearest), PNG
    re-encode — lossless and deterministic on the way out regardless
    of the input format, which is why the output mime is image/png for
    all of them.  Other blobs fall back to the deterministic fake
    (truncate to w*h) when `fake=True` and raise otherwise."""
    _ship_codecs_by_value()
    from .codecs import (
        GIF_MAGICS,
        JPEG_MAGIC,
        PNG_MAGIC,
        avi_decode,
        gif_decode,
        is_avi,
        is_mkv,
        is_mp4,
        jpeg_decode,
        mkv_decode,
        mp4_decode,
        png_decode,
        png_encode,
        resize_nearest,
    )

    _video_decoders = [(is_avi, avi_decode), (is_mp4, mp4_decode),
                       (is_mkv, mkv_decode)]

    def _first_frame_decoder(blob: bytes):
        """A video (or animated GIF) is also an image: frame 0."""
        dec = gif_decode if blob[:6] in GIF_MAGICS else next(
            d for sniff, d in _video_decoders if sniff(blob[:12])
        )
        fw, fh, _n, frames = dec(blob)
        return fw, fh, 1, frames[0]

    def _resize_one(blob: bytes) -> tuple[bytes, str]:
        blob = bytes(blob)
        decode = None
        if blob[:8] == PNG_MAGIC:
            decode = png_decode
        elif blob[:3] == JPEG_MAGIC:
            decode = jpeg_decode
        elif blob[:6] in GIF_MAGICS or any(
            sniff(blob[:12]) for sniff, _d in _video_decoders
        ):
            decode = _first_frame_decoder
        if decode is not None:
            w, h, ch, px = decode(blob)
            if ch == 4:  # drop alpha for the re-encode (RGB color type)
                px = bytes(
                    px[i]
                    for i in range(len(px))
                    if i % 4 != 3
                )
                ch = 3
            resized = resize_nearest(px, w, h, ch, target_w, target_h)
            color_type = 0 if ch == 1 else 2
            return (
                png_encode(resized, target_w, target_h, color_type),
                "image/png",
            )
        if not fake:
            raise NotImplementedError(
                "image resize decodes PNG/JPEG/GIF/AVI/MP4/MKV only "
                "without an external codec; use fake=True for other blobs"
            )
        # deterministic fake: truncate/pad the blob to min(len, w*h)
        n = min(len(blob), target_w * target_h)
        return blob[:n], "application/octet-stream"

    out_schema = MEDIA_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [_resize_one(b) for b in pdf["blob"]]
            blobs = [b for b, _m in resized]
            meta = [
                {
                    "n_bytes": len(b),
                    "mime": mime
                    if mime != "application/octet-stream"
                    else (m["mime"] if isinstance(m, dict) else m.mime),
                    "source": m["source"] if isinstance(m, dict) else m.source,
                }
                for (b, mime), m in zip(resized, pdf["meta"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "media_type": pdf["media_type"].values,
                    "blob": blobs,
                    "meta": meta,
                }
            )

    return media.mapInPandas(run, schema=out_schema)


def sample_frames(
    media: DataFrame,
    every_n_bytes: int = 4096,
    fake: bool = False,
    every_n_frames: int = 1,
) -> DataFrame:
    """Frame sampling (video -> frames): 1->N row expansion through
    mapInPandas.

    REAL for animated GIF blobs (round 11) and all three Motion-JPEG
    video containers (round 12): the stdlib decoders (codecs.gif_decode
    / avi_decode / mp4_decode / mkv_decode — LZW compositing; RIFF
    walk, ISO-BMFF sample tables or EBML elements + per-frame T.81
    Huffman) produce the full greyscale canvas per frame, and every
    ``every_n_frames``-th one becomes an output row — frame_no is the
    ORIGINAL frame index, the standard frame-sampling contract.  Other
    blobs fall back to the deterministic byte-slice fake when
    `fake=True` (one row per ``every_n_bytes`` slice) and raise
    otherwise — H.264-class CODINGS need a codec this container
    doesn't ship."""
    _ship_codecs_by_value()
    from .codecs import (
        GIF_MAGICS,
        avi_decode,
        gif_decode,
        is_avi,
        is_mkv,
        is_mp4,
        mkv_decode,
        mp4_decode,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frame_nos, frames = [], [], []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                decoded = None
                if bytes(blob[:6]) in GIF_MAGICS:
                    _w, _h, n, decoded = gif_decode(bytes(blob))
                elif is_avi(bytes(blob[:12])):
                    _w, _h, n, decoded = avi_decode(bytes(blob))
                elif is_mp4(bytes(blob[:12])):
                    _w, _h, n, decoded = mp4_decode(bytes(blob))
                elif is_mkv(bytes(blob[:12])):
                    _w, _h, n, decoded = mkv_decode(bytes(blob))
                if decoded is not None:
                    for i in range(0, n, every_n_frames):
                        ids.append(mid)
                        frame_nos.append(i)
                        frames.append(decoded[i])
                    continue
                if not fake:
                    raise NotImplementedError(
                        "frame sampling decodes animated GIF and "
                        "AVI/MP4/MKV Motion-JPEG only without an external "
                        "codec; use fake=True for other blobs"
                    )
                for i, off in enumerate(range(0, len(blob), every_n_bytes)):
                    ids.append(mid)
                    frame_nos.append(i)
                    frames.append(bytes(blob[off : off + every_n_bytes]))
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": frame_nos, "frame": frames}
            )

    return media.mapInPandas(
        run,
        schema=T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("frame_no", T.IntegerType()),
                T.StructField("frame", T.BinaryType()),
            ]
        ),
    )


# -- registry ---------------------------------------------------------------
#
# The fake decoder is deterministic (sha256-derived), so the mapInPandas
# Arrow path itself is SQL-checkable: DuckDB recomputes width/height/
# brightness from the same content hash.  That makes the multimodal
# plumbing a first-class graded query, not just a unit-tested stub.


def media_features(spark, sf_dir: str) -> DataFrame:
    """X5 — decode + feature-extract over the documents-as-media adapter
    (blob = utf-8 text bytes; deterministic fake decoder)."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    feats = extract_image_features(documents_as_media(docs), fake=True)
    return feats.withColumn("brightness", F.round("brightness", 6))


def media_png_features(spark, sf_dir: str) -> DataFrame:
    """X5 — REAL image decode on a graded path: documents rendered as
    genuine PNGs (pixel payload = sha256 digest), decoded by the
    stdlib PNG decoder (no fake mode anywhere), features oracle-checked
    against DuckDB recomputing them from sha256(text)."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    feats = extract_image_features(
        documents_as_png_media(docs), hash_mode="hex"
    )
    return feats.withColumn("brightness", F.round("brightness", 6))


def media_ljpeg_features(spark, sf_dir: str) -> DataFrame:
    """X5 — REAL lossless-JPEG decode on a graded path: the PNG
    entry's digest-pixel image re-encoded as SOF3 Huffman-DPCM (a
    per-document predictor selector covers all seven T.81 predictors)
    and decoded through the same jpeg_decode entry point.  The oracle
    is shared VERBATIM with media_png_features — two genuinely
    different codings, one exact answer."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    feats = extract_image_features(
        documents_as_ljpeg_media(docs), hash_mode="hex"
    )
    return feats.withColumn("brightness", F.round("brightness", 6))


def media_jpeg_features(spark, sf_dir: str) -> DataFrame:
    """X5 — REAL baseline-JPEG decode on a graded path: documents
    rendered as genuine SOF0 JPEGs (four digest-derived constant
    blocks, exact through quantization by construction), decoded by
    the stdlib Huffman+IDCT decoder (extensions/codecs.py), features
    oracle-checked against DuckDB recomputing pixels from
    sha256(text)."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    feats = extract_image_features(
        documents_as_jpeg_media(docs), hash_mode="hex"
    )
    return feats.withColumn("brightness", F.round("brightness", 6))


def media_gif_frames(spark, sf_dir: str) -> DataFrame:
    """X5 — REAL animated-video frame sampling on a graded path:
    documents rendered as genuine two-frame GIF89a animations (LZW
    entropy coding, frames = the digest halves), sampled by the stdlib
    GIF decoder; every frame's full pixel payload is oracle-checked as
    a sha256(text) hex substring — frame sampling is no longer a
    fake-only operator."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    frames = sample_frames(documents_as_gif_media(docs))
    return frames.select(
        "media_id",
        "frame_no",
        F.octet_length("frame").cast("long").alias("frame_bytes"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


def media_pjpeg_features(spark, sf_dir: str) -> DataFrame:
    """X5 — REAL progressive-JPEG decode on a graded path: the
    media_jpeg_features image re-encoded as a six-scan SOF2 stream
    (spectral selection + successive approximation), decoded by the
    round-12 multi-scan decoder through the same jpeg_decode entry
    point, features oracle-checked against DuckDB recomputing pixels
    from sha256(text) — the identical oracle as the baseline entry,
    pinning that both coding models reconstruct the same image."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    feats = extract_image_features(
        documents_as_pjpeg_media(docs), hash_mode="hex"
    )
    return feats.withColumn("brightness", F.round("brightness", 6))


def media_avi_frames(spark, sf_dir: str) -> DataFrame:
    """X5 — REAL video-container frame sampling on a graded path:
    documents rendered as genuine two-frame AVI/MJPEG files (RIFF
    container walked by codecs.avi_decode, each frame an independent
    T.81 baseline JPEG), sampled by the stdlib decoders; every frame's
    full 256-pixel payload is oracle-checked against DuckDB rebuilding
    it from sha256(text) — video frame sampling now runs a real
    multi-codec container, not just GIF."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    frames = sample_frames(documents_as_avi_media(docs))
    return frames.select(
        "media_id",
        "frame_no",
        F.octet_length("frame").cast("long").alias("frame_bytes"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


def media_wav_stats(spark, sf_dir: str) -> DataFrame:
    """X5 — REAL audio decode on a graded path: documents rendered as
    genuine 8 kHz mono WAVs (samples = sha256 digest), decoded with the
    stdlib `wave` reader; RMS oracle-checked from sha256(text)."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    stats = extract_audio_features(documents_as_wav_media(docs))
    return stats.withColumn("rms", F.round("rms", 6))


def media_tone_spectral(spark, sf_dir: str) -> DataFrame:
    """X5 — REAL FFT on a graded path: documents rendered as genuine
    8 kHz WAVs carrying a pure sine at DFT bin 1 + digest[0] % 100,
    decoded by the stdlib `wave` reader and transformed by a genuine
    numpy rfft; the spectrum argmax must land on the synthesis bin
    exactly, so DuckDB's oracle computes the whole answer analytically
    from sha256(text) — a real spectral pipeline graded without the
    oracle ever running an FFT."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    return extract_audio_spectral(documents_as_tone_media(docs))


def compressed_ingest(spark, sf_dir: str) -> DataFrame:
    """X5 — compressed-corpus ingestion on a graded path: documents
    gzip- or zlib-compressed per a digest-parity codec choice, then
    auto-sniffed and inflated by decompress_text_blobs; the oracle
    checks the round-trip analytically (decompressed md5/length equal
    the plain text's, codec equals the digest parity) — the
    jsonl.gz-shard reading shape, graded."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = decompress_text_blobs(documents_as_compressed(docs))
    return out.select(
        "media_id",
        "n_bytes",
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        "codec",
    )


def media_codec_roundtrip(spark, sf_dir: str) -> DataFrame:
    """X5 — the round-12 audio codings graded end-to-end: documents
    rendered as REAL mu-law, A-law and 32-bit-float WAVs (coding by
    digest mod 3), decoded by wav_decode_any, EVERY 16-bit sample
    emitted as its own graded row.  The oracle recomputes each sample
    analytically from sha256(text): the G.711 files' data bytes are
    the digest itself (companding is idempotent on the expansion
    lattice), so the expected value is the pure ITU expansion formula
    in SQL; the float samples are k/32767 with k=(byte-128)*200, which
    the decoder recovers exactly.  Encode -> container -> sniff ->
    decode, hash-checked sample-for-sample."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    return extract_audio_samples(documents_as_companded_media(docs))


def media_adpcm_roundtrip(spark, sf_dir: str) -> DataFrame:
    """X5 — the IMA ADPCM coding graded end-to-end per decoded
    sample: documents rendered as real tag-0x11 WAVs
    (documents_as_adpcm_media), decoded by wav_decode_any's
    per-nibble predictor, every 16-bit sample emitted as its own
    graded row.  The DuckDB oracle replays the encoder's
    (predictor, step-index) recursion over the digest bytes — a full
    IMA ADPCM codec in SQL — closing the last audio coding that was
    probe-timed but never driver-hashed (round-14 probe:
    ~1 us/sample, the one justified sequential loop)."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    return extract_audio_samples(documents_as_adpcm_media(docs))


def jsonl_shard_ingest(spark, sf_dir: str) -> DataFrame:
    """X5 — multi-document compressed-shard ingestion on a graded
    path: documents packed 8-per-shard into REAL jsonl.gz blobs
    (documents_as_jsonl_gz_shards), then inflated + line-split +
    json-parsed back to one row per document
    (explode_jsonl_gz_shards).  The oracle rebuilds the whole layout
    analytically from the documents table — shard assignment is
    floor(doc_id/8), line order is doc_id rank within shard, and the
    text round-trips exactly (md5 + byte length) — so a full
    write-shards-then-ingest cycle is hash-graded.  This is the
    compressed_ingest entry one notch closer to the real pipeline
    shape: one blob carries MANY documents."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = explode_jsonl_gz_shards(documents_as_jsonl_gz_shards(docs))
    return out.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        F.octet_length(F.encode("text", "UTF-8"))
        .cast("long")
        .alias("n_bytes"),
        "shard_id",
        "line_no",
    )


def zstd_shard_ingest(spark, sf_dir: str) -> DataFrame:
    """X5 — the zstd-coded twin of jsonl_shard_ingest: the identical
    pack-then-ingest cycle with the shards carried as RFC 8878 frames
    (codec="zstd" on the packer; pyarrow's bundled codec both ways)
    instead of gzip members, so the driver hash would grade the zstd
    round-trip end-to-end.  Output and oracle are byte-for-byte
    jsonl_shard_ingest's — the coding is the ONLY delta, which is the
    point (the warc_curation_pipeline precedent).  Implemented but
    not registered (COVERAGE.md 'Round-16 registration option')."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = explode_jsonl_gz_shards(
        documents_as_jsonl_gz_shards(docs, codec="zstd")
    )
    return out.select(
        "doc_id",
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        F.octet_length(F.encode("text", "UTF-8"))
        .cast("long")
        .alias("n_bytes"),
        "shard_id",
        "line_no",
    )


def warc_shard_ingest(spark, sf_dir: str) -> DataFrame:
    """X5 — WARC-shard ingestion on a graded path: documents packed
    8-per-shard into REAL .warc.gz blobs (one gzip member per record,
    the web-archive convention — documents_as_warc_shards), then
    inflated and record-parsed back (explode_warc_shards).  The
    oracle rebuilds the layout analytically from the documents table
    — shard assignment floor(doc_id/8), record order = doc_id rank
    within shard, Content-Length = utf-8 byte length, and the block
    round-trips exactly (md5) — so the full
    write-shards-then-ingest cycle is hash-graded.  Together with
    jsonl_shard_ingest this covers both container framings public
    pretraining corpora actually use: line-delimited JSON and
    length-delimited WARC records."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = explode_warc_shards(documents_as_warc_shards(docs))
    return out.select(
        F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
        .cast("long")
        .alias("doc_id"),
        "warc_type",
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        "content_length",
        "shard_id",
        "rec_no",
    )


def curation_pipeline(spark, sf_dir: str) -> DataFrame:
    """End-to-end curation integration — the composition the
    per-operator rows never check: documents packed into real
    jsonl.gz shards, ingested back (inflate + line-split + parse),
    doc metadata recovered by a doc_id equi-join against the
    documents table (the id-keyed metadata-store shape), the fused
    curation gate applied (the three map-side tiers of
    corpus_curation: token-count/length quality, stopword lang-id,
    normalized-hash canonical), and a temperature mixture plan
    (alpha = 0.7, the temperature_mixture rule) derived over the
    SURVIVORS per language.  Text must round-trip the shard coding
    byte-exactly or every downstream hash, token count and share in
    the plan drifts — which is precisely what the driver's
    hash-grading checks.

    Scale shape: one corpus pass packs (constant-width collect_list),
    one stateless mapInPandas inflates, the metadata join is a plain
    doc_id equi-join (exchange-free on a doc_id-bucketed layout), the
    gate is map-side except the one normalized-hash window shuffle,
    and the mixture's scalar chain (totals -> wsum -> budget) rides
    unpartitioned window aggregates over the |langs|-row per-language
    frame (round 15; one SinglePartition exchange of a handful of
    rows, no per-scalar aggregate jobs or broadcasts) — identical to
    temperature_mixture's audited plan.  per_lang is cached so the
    window chain does not re-run the corpus lineage."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    ingested = explode_jsonl_gz_shards(
        documents_as_jsonl_gz_shards(docs)
    ).select("doc_id", "text")
    return _curate_and_mix(ingested, docs)


def warc_curation_pipeline(spark, sf_dir: str) -> DataFrame:
    """The curation_pipeline composition over the OTHER container
    framing: documents packed into real per-record-gzip .warc.gz
    shards (documents_as_warc_shards), record-parsed back with doc_id
    recovered from the WARC-Record-ID urn, then the IDENTICAL
    downstream — metadata join, fused gate, temperature mixture
    (_curate_and_mix, shared with curation_pipeline by construction).
    Round 14 pinned jsonl-vs-WARC row equality at the INGEST level
    (tests/test_multimodal.py); this entry makes the driver hash the
    full WARC -> gate -> mixture composition, so a framing bug that
    corrupts text in a way the per-record md5 row happens to miss
    (e.g. in records that never reach the graded 500-doc window)
    still has to reproduce the exact survivor shares.  The oracle is
    the same analytic recompute as curation_pipeline's — the entries
    differ ONLY in the Spark-side container coding under test, which
    is exactly the point."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    ingested = explode_warc_shards(documents_as_warc_shards(docs)).select(
        F.regexp_extract("record_id", r"<urn:doc:(\d+)>", 1)
        .cast("long")
        .alias("doc_id"),
        "text",
    )
    return _curate_and_mix(ingested, docs)


def _curate_and_mix(ingested: DataFrame, docs: DataFrame) -> DataFrame:
    """The shared curation downstream: metadata join -> fused gate
    (token-count/length quality, stopword lang-id, normalized-hash
    canonical) -> alpha=0.7 temperature mixture over the survivors.
    ``ingested``: (doc_id, text) as recovered from a shard coding;
    ``docs``: the metadata table."""
    from pyspark.sql import Window

    from .text import _tokens
    from .text import _STOPWORDS, _n_in

    joined = ingested.join(docs.select("doc_id", "lang"), "doc_id")
    norm_hash = normalized_text_hash("text")
    w = Window.partitionBy("text_hash")
    avg_len = F.round(
        F.aggregate(
            F.col("tokens"), F.lit(0.0), lambda acc, t: acc + F.length(t)
        )
        / F.greatest(F.size("tokens"), F.lit(1)),
        4,
    )
    kept = (
        joined.withColumn("text_hash", norm_hash)
        .withColumn("tokens", _tokens(F.col("text")))
        .withColumn(
            "keep_quality",
            (F.size("tokens") >= 5) & avg_len.between(2, 15),
        )
        .withColumn("lang_ok", _n_in(F.col("tokens"), _STOPWORDS) > 0)
        .withColumn(
            "is_canonical", F.col("doc_id") == F.min("doc_id").over(w)
        )
        .filter("keep_quality AND lang_ok AND is_canonical")
    )
    per_lang = (
        kept.select(
            "lang", F.size("tokens").cast("long").alias("n_tok")
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tok").alias("n_tokens_kept"),
        )
        # the cache is kept for the EXPENSIVE upstream (shard decode +
        # gate): repeated reads of the plan reuse the |langs|-row
        # result instead of re-decoding the shards (measured: dropping
        # it costs the warm path 0.4-0.6 s at sf0.1)
        .cache()
    )
    # scalar chain as unpartitioned window aggregates over the
    # |langs|-row frame — one SinglePartition exchange, no sort,
    # instead of an aggregate job + broadcast build per scalar (the
    # temperature_mixture recipe)
    w_all = Window.partitionBy()
    planned = (
        per_lang
        .withColumn("total_tokens", F.sum("n_tokens_kept").over(w_all))
        .withColumn(
            "nat_share", F.col("n_tokens_kept") / F.col("total_tokens")
        )
        .withColumn("w", F.pow(F.col("nat_share"), F.lit(0.7)))
        .withColumn("wsum", F.sum("w").over(w_all))
        .withColumn("target_share", F.col("w") / F.col("wsum"))
        .withColumn(
            "budget",
            F.min(F.col("n_tokens_kept") / F.col("target_share")).over(
                w_all
            ),
        )
    )
    return planned.select(
        "lang",
        "n_docs_kept",
        "n_tokens_kept",
        F.round("nat_share", 6).alias("nat_share"),
        F.round("target_share", 6).alias("target_share"),
        F.round(
            F.least(
                F.lit(1.0),
                F.col("target_share")
                * F.col("budget")
                / F.col("n_tokens_kept"),
            ),
            6,
        ).alias("keep_frac"),
        F.round(F.col("target_share") * F.col("budget"), 2).alias(
            "expected_tokens"
        ),
    )


def media_stft_bins(spark, sf_dir: str) -> DataFrame:
    """X5 — REAL STFT on a graded path: documents rendered as genuine
    two-tone WAVs (bin changes mid-clip), analyzed by the Hann-windowed
    numpy spectrogram (extract_audio_spectrogram, frame_len=256); each
    analysis frame's argmax must land on its own tone's synthesis bin,
    so DuckDB grades a real windowed FFT analytically from
    sha256(text) — per-frame rows, the frame-sampling contract."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    spec = extract_audio_spectrogram(
        documents_as_chirp_media(docs), frame_len=256
    )
    return spec.select(
        "media_id", "frame_no", "dominant_bin", "dominant_freq_hz"
    )


def media_frame_stats(spark, sf_dir: str) -> DataFrame:
    """X5 — video frame-sampling shape (1->N row expansion via
    mapInPandas); emits per-frame byte counts, not the bytes, so the
    oracle compares scalars."""
    from ..io import read_table

    docs = read_table(spark, sf_dir, "documents")
    frames = sample_frames(documents_as_media(docs), every_n_bytes=4096, fake=True)
    return frames.select(
        "media_id",
        "frame_no",
        F.octet_length("frame").cast("long").alias("frame_bytes"),
    )


def _curation_stop_list() -> str:
    """The curation oracle's stopword IN-list — the same _STOPWORDS
    tuple the Spark gate uses, quoted for DuckDB (mirrors
    text.register()'s stop_list)."""
    from .text import _STOPWORDS

    return ", ".join(f"'{w}'" for w in _STOPWORDS)


def _adpcm_recursion_sql(samples_sql: str) -> str:
    """The IMA ADPCM decode replayed as a recursive SQL CTE over an
    arbitrary 16-bit sample relation ``samples_sql`` (must yield
    (media_id BIGINT, k INTEGER, v INTEGER) with k dense from 0 —
    single-block framing, i.e. <= wSamplesPerBlock samples).  Decoded
    sample k is the encoder's predictor after step k (encoder and
    decoder share the state transitions); sample 0 is the verbatim
    block-header predictor.  Shared by the graded oracle (samples =
    sha256-digest bytes) and the property test that drives it with
    arbitrary full-range int16 sequences
    (tests/test_multimodal.py)."""
    from .codecs import _IMA_STEPS

    steps = "[" + ", ".join(str(s) for s in _IMA_STEPS) + "]"
    return f"""
            WITH RECURSIVE b AS (
                {samples_sql}
            ), st AS (
                SELECT media_id, CAST(0 AS INTEGER) AS k, v AS pred,
                       0 AS idx
                FROM b WHERE k = 0
                UNION ALL
                SELECT media_id, k, pred2 AS pred, idx2 AS idx FROM (
                    SELECT s.media_id, s.k,
                           list_extract({steps}, st.idx + 1)
                               AS step,
                           s.v - st.pred AS d0,
                           CASE WHEN d0 < 0 THEN 1 ELSE 0 END AS sgn,
                           abs(d0) AS ad0,
                           CASE WHEN ad0 >= step THEN 1 ELSE 0 END AS b4,
                           ad0 - b4 * step AS ad1,
                           CASE WHEN ad1 >= step // 2 THEN 1 ELSE 0 END
                               AS b2,
                           ad1 - b2 * (step // 2) AS ad2,
                           CASE WHEN ad2 >= step // 4 THEN 1 ELSE 0 END
                               AS b1,
                           (step // 8) + b1 * (step // 4)
                               + b2 * (step // 2) + b4 * step AS dd,
                           GREATEST(-32768, LEAST(32767,
                               st.pred + CASE WHEN sgn = 1
                                              THEN -dd ELSE dd END))
                               AS pred2,
                           GREATEST(0, LEAST(88, st.idx + list_extract(
                               [-1, -1, -1, -1, 2, 4, 6, 8],
                               b4 * 4 + b2 * 2 + b1 + 1))) AS idx2
                    FROM st JOIN b s
                      ON s.media_id = st.media_id AND s.k = st.k + 1
                )
            )
            SELECT media_id, 'adpcm' AS coding, k AS sample_no,
                   CAST(pred AS INTEGER) AS value
            FROM st
            """


def _curation_oracle_sql() -> str:
    """The analytic recompute of the curation composition, shared by
    curation_pipeline (jsonl.gz framing) and warc_curation_pipeline
    (WARC framing): both Spark paths must round-trip text byte-exactly
    through their shard coding to reproduce these survivor shares —
    the framing under test is the only difference between the two
    graded entries."""
    return f"""
            WITH d AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(lower(text),
                           '[^a-z0-9]+'), t -> t <> '') AS tokens,
                       MIN(doc_id) OVER (PARTITION BY
                           sha256(TRIM(regexp_replace(lower(text), '\\s+',
                                       ' ', 'g')))) AS canon
                FROM documents
            ), kept AS (
                SELECT lang, len(tokens) AS n_tok
                FROM d
                WHERE len(tokens) >= 5
                  AND ROUND(COALESCE(list_sum(list_transform(tokens,
                          t -> length(t))), 0)
                      / GREATEST(len(tokens), 1), 4) BETWEEN 2 AND 15
                  AND len(list_filter(tokens,
                          t -> t IN ({_curation_stop_list()}))) > 0
                  AND doc_id = canon
            ), per_lang AS (
                SELECT lang, COUNT(*) AS n_docs_kept,
                       CAST(SUM(n_tok) AS BIGINT) AS n_tokens_kept
                FROM kept GROUP BY lang
            ), t AS (
                SELECT SUM(n_tokens_kept) AS total_tokens FROM per_lang
            ), weighted AS (
                SELECT lang, n_docs_kept, n_tokens_kept,
                       n_tokens_kept / total_tokens AS nat_share,
                       POW(n_tokens_kept / total_tokens, 0.7) AS w
                FROM per_lang CROSS JOIN t
            ), ws AS (
                SELECT SUM(w) AS wsum FROM weighted
            ), planned AS (
                SELECT lang, n_docs_kept, n_tokens_kept, nat_share,
                       w / wsum AS target_share
                FROM weighted CROSS JOIN ws
            ), b AS (
                SELECT MIN(n_tokens_kept / target_share) AS budget
                FROM planned
            )
            SELECT lang, n_docs_kept, n_tokens_kept,
                   ROUND(nat_share, 6) AS nat_share,
                   ROUND(target_share, 6) AS target_share,
                   ROUND(LEAST(CAST(1.0 AS DOUBLE),
                               target_share * budget / n_tokens_kept), 6)
                       AS keep_frac,
                   ROUND(target_share * budget, 2) AS expected_tokens
            FROM planned CROSS JOIN b
            """


def register() -> dict:
    from ..queries import QueryDef

    # hex digit -> int, for reading sha256 digest bytes in ANSI SQL
    def _hexbyte(pos: int) -> str:
        return (
            f"((position(substr(hash, {pos}, 1) IN '0123456789abcdef') - 1) * 16"
            f" + (position(substr(hash, {pos + 1}, 1) IN '0123456789abcdef') - 1))"
        )

    # shared by the PNG AND lossless-JPEG entries: both carry the raw
    # 32-byte digest as pixels at the digest[0] % 4 layout, and both
    # codings are exact, so one oracle rebuilds features for either
    digest_pixels_oracle = f"""
        WITH h AS (
            SELECT doc_id AS media_id, sha256(text) AS hash
            FROM documents
        )
        SELECT media_id,
               CAST(CASE {_hexbyte(1)} % 4
                    WHEN 0 THEN 4 WHEN 1 THEN 8
                    WHEN 2 THEN 16 ELSE 32 END AS INTEGER) AS width,
               CAST(CASE {_hexbyte(1)} % 4
                    WHEN 0 THEN 8 WHEN 1 THEN 4
                    WHEN 2 THEN 2 ELSE 1 END AS INTEGER) AS height,
               CAST(32 AS BIGINT) AS n_bytes,
               hash AS content_hash,
               ROUND(({
                   " + ".join(_hexbyte(2 * j + 1) for j in range(32))
               }) / 32.0 / 255.0, 6) AS brightness
        FROM h
        """

    # shared by the baseline AND progressive JPEG entries — the four
    # 8x8 block values v_i = 64 + 2*(digest byte_i % 64) survive both
    # coding models' shared quantizer exactly, so one oracle rebuilds
    # the decoded 256-pixel payload (hex) and its mean from sha256(text)
    # alone: rows 0-7 are (v0 x8)(v1 x8), rows 8-15 are (v2 x8)(v3 x8)
    jpeg_features_oracle = f"""
        WITH h AS (
            SELECT doc_id AS media_id, sha256(text) AS hash
            FROM documents
        ), v AS (
            SELECT media_id,
                   {", ".join(
                       f"64 + 2 * ({_hexbyte(2 * j + 1)} % 64) AS v{j}"
                       for j in range(4)
                   )}
            FROM h
        )
        SELECT media_id,
               CAST(16 AS INTEGER) AS width,
               CAST(16 AS INTEGER) AS height,
               CAST(256 AS BIGINT) AS n_bytes,
               repeat(repeat(lower(to_hex(v0)), 8)
                      || repeat(lower(to_hex(v1)), 8), 8)
               || repeat(repeat(lower(to_hex(v2)), 8)
                         || repeat(lower(to_hex(v3)), 8), 8)
                   AS content_hash,
               ROUND((v0 + v1 + v2 + v3) / 4.0 / 255.0, 6)
                   AS brightness
        FROM v
        """

    return {
        "media_features": QueryDef(
            media_features,
            f"""
            WITH h AS (
                SELECT doc_id AS media_id, sha256(text) AS hash,
                       octet_length(encode(text)) AS n_bytes
                FROM documents
            )
            SELECT media_id,
                   CAST(64 + {_hexbyte(1)} % 192 AS INTEGER) AS width,
                   CAST(64 + {_hexbyte(3)} % 192 AS INTEGER) AS height,
                   CAST(n_bytes AS BIGINT) AS n_bytes,
                   hash AS content_hash,
                   ROUND({_hexbyte(5)} / 255.0, 6) AS brightness
            FROM h
            """,
            "X5 image decode/feature-extract via mapInPandas (fake codec)",
        ),
        "media_png_features": QueryDef(
            media_png_features,
            digest_pixels_oracle,
            "X5 REAL PNG decode (stdlib inflate+unfilter) via mapInPandas",
        ),
        "media_ljpeg_features": QueryDef(
            media_ljpeg_features,
            # shared VERBATIM with media_png_features: same digest
            # pixels, same dims — lossless JPEG is exact by definition
            digest_pixels_oracle,
            "X5 REAL lossless-JPEG decode (SOF3 Huffman-DPCM, all 7 "
            "predictors) via mapInPandas",
        ),
        "media_jpeg_features": QueryDef(
            media_jpeg_features,
            jpeg_features_oracle,
            "X5 REAL baseline-JPEG decode (stdlib Huffman+IDCT) via "
            "mapInPandas",
        ),
        "media_pjpeg_features": QueryDef(
            media_pjpeg_features,
            jpeg_features_oracle,
            "X5 REAL progressive-JPEG decode (SOF2 spectral selection + "
            "successive approximation) via mapInPandas",
        ),
        "media_gif_frames": QueryDef(
            media_gif_frames,
            # GIF is lossless: each sampled 4x4 frame is byte-exact one
            # half of the sha256 digest, so frame_hex is a hex substring
            """
            WITH h AS (
                SELECT doc_id AS media_id, sha256(text) AS hash
                FROM documents
            )
            SELECT media_id, CAST(0 AS INTEGER) AS frame_no,
                   CAST(16 AS BIGINT) AS frame_bytes,
                   substr(hash, 1, 32) AS frame_hex
            FROM h
            UNION ALL
            SELECT media_id, CAST(1 AS INTEGER) AS frame_no,
                   CAST(16 AS BIGINT) AS frame_bytes,
                   substr(hash, 33, 32) AS frame_hex
            FROM h
            """,
            "X5 REAL animated-GIF frame sampling (stdlib LZW) via "
            "mapInPandas",
        ),
        "media_avi_frames": QueryDef(
            media_avi_frames,
            # each frame is four constant 8x8 blocks that survive the
            # quality-50 quantizer exactly (the media_jpeg_features
            # construction), so the oracle rebuilds each 256-pixel
            # frame's hex from sha256(text): frame f uses digest bytes
            # 4f..4f+3 as v0..v3; rows 0-7 = (v0 x8)(v1 x8), rows 8-15
            # = (v2 x8)(v3 x8)
            f"""
            WITH h AS (
                SELECT doc_id AS media_id, sha256(text) AS hash
                FROM documents
            ), v AS (
                SELECT media_id,
                       {", ".join(
                           f"64 + 2 * ({_hexbyte(2 * j + 1)} % 64) AS v{j}"
                           for j in range(8)
                       )}
                FROM h
            )
            SELECT media_id, CAST(0 AS INTEGER) AS frame_no,
                   CAST(256 AS BIGINT) AS frame_bytes,
                   repeat(repeat(lower(to_hex(v0)), 8)
                          || repeat(lower(to_hex(v1)), 8), 8)
                   || repeat(repeat(lower(to_hex(v2)), 8)
                             || repeat(lower(to_hex(v3)), 8), 8)
                       AS frame_hex
            FROM v
            UNION ALL
            SELECT media_id, CAST(1 AS INTEGER) AS frame_no,
                   CAST(256 AS BIGINT) AS frame_bytes,
                   repeat(repeat(lower(to_hex(v4)), 8)
                          || repeat(lower(to_hex(v5)), 8), 8)
                   || repeat(repeat(lower(to_hex(v6)), 8)
                             || repeat(lower(to_hex(v7)), 8), 8)
                       AS frame_hex
            FROM v
            """,
            "X5 REAL AVI/MJPEG video frame sampling (RIFF walk + stdlib "
            "T.81 per frame) via mapInPandas",
        ),
        "media_wav_stats": QueryDef(
            media_wav_stats,
            f"""
            WITH h AS (
                SELECT doc_id AS media_id, sha256(text) AS hash
                FROM documents
            )
            SELECT media_id,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   CAST(1 AS INTEGER) AS n_channels,
                   CAST(32 AS BIGINT) AS n_frames,
                   ROUND(SQRT(({
                       " + ".join(
                           f"POWER({_hexbyte(2 * j + 1)} - 128, 2)"
                           for j in range(32)
                       )
                   }) / 32.0), 6) AS rms
            FROM h
            """,
            "X5 REAL WAV decode (stdlib wave reader) via mapInPandas",
        ),
        "media_tone_spectral": QueryDef(
            media_tone_spectral,
            # a whole-bin sinusoid puts all DFT energy in its synthesis
            # bin, so the FFT argmax is analytic: bin = 1 + digest[0]
            # % 100, freq = bin * 8000 / 256 = bin * 31.25 Hz (exact in
            # binary floating point: 31.25 = 125 * 2^-2)
            f"""
            WITH h AS (
                SELECT doc_id AS media_id, sha256(text) AS hash
                FROM documents
            )
            SELECT media_id,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   CAST(256 AS BIGINT) AS n_samples,
                   CAST(1 + {_hexbyte(1)} % 100 AS INTEGER) AS dominant_bin,
                   CAST((1 + {_hexbyte(1)} % 100) * 31.25 AS DOUBLE)
                       AS dominant_freq_hz
            FROM h
            """,
            "X5 REAL FFT spectral analysis (numpy rfft over stdlib WAV "
            "decode) via mapInPandas, analytic whole-bin-tone oracle",
        ),
        "compressed_ingest": QueryDef(
            compressed_ingest,
            f"""
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS text_md5,
                   CASE WHEN {_hexbyte(1)} % 2 = 0
                        THEN 'gzip' ELSE 'zlib' END AS codec
            FROM (
                SELECT doc_id, text, sha256(text) AS hash FROM documents
            )
            """,
            "X5 compressed-corpus ingestion (gzip/zlib auto-sniff + "
            "stdlib inflate) via mapInPandas, round-trip oracle",
        ),
        "jsonl_shard_ingest": QueryDef(
            jsonl_shard_ingest,
            """
            SELECT doc_id,
                   md5(text) AS text_md5,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(floor(doc_id / 8) AS BIGINT) AS shard_id,
                   CAST(ROW_NUMBER() OVER (
                            PARTITION BY floor(doc_id / 8)
                            ORDER BY doc_id
                        ) - 1 AS INTEGER) AS line_no
            FROM documents
            """,
            "X5 multi-doc jsonl.gz shard ingestion (pack 8 docs/shard, "
            "gzip, inflate + line-split + json-parse back) via "
            "mapInPandas, analytic layout + round-trip oracle",
        ),
        "warc_shard_ingest": QueryDef(
            warc_shard_ingest,
            """
            SELECT doc_id,
                   'resource' AS warc_type,
                   md5(text) AS text_md5,
                   CAST(octet_length(encode(text)) AS BIGINT)
                       AS content_length,
                   CAST(floor(doc_id / 8) AS BIGINT) AS shard_id,
                   CAST(ROW_NUMBER() OVER (
                            PARTITION BY floor(doc_id / 8)
                            ORDER BY doc_id
                        ) - 1 AS INTEGER) AS rec_no
            FROM documents
            """,
            "X5 WARC shard ingestion (pack 8 records/shard as "
            "per-record gzip members, inflate + record-frame parse "
            "back) via mapInPandas, analytic layout + round-trip "
            "oracle",
        ),
        "curation_pipeline": QueryDef(
            curation_pipeline,
            _curation_oracle_sql(),
            "end-to-end curation: jsonl.gz shard ingest -> metadata "
            "join -> fused gate (quality+lang+canonical) -> "
            "temperature mixture over survivors",
        ),
        "warc_curation_pipeline": QueryDef(
            warc_curation_pipeline,
            # the SAME analytic recompute: the two pipeline entries
            # differ only in the container coding the Spark side must
            # round-trip byte-exactly to reproduce these shares
            _curation_oracle_sql(),
            "the curation composition over WARC record framing "
            "(shard ingest -> gate -> mixture; doc_id recovered from "
            "the WARC-Record-ID urn)",
        ),
        "media_codec_roundtrip": QueryDef(
            media_codec_roundtrip,
            # per-sample analytic oracle: the G.711 data bytes ARE the
            # digest (idempotent lattice), so expected values are the
            # ITU mu/A expansion formulas; float samples are exactly
            # (byte-128)*200.  byte b at digest position i; coding by
            # digest[0] % 3.
            f"""
            WITH h AS (
                SELECT doc_id AS media_id, sha256(text) AS hash
                FROM documents
            ),
            s AS (
                SELECT media_id, hash, {_hexbyte(1)} % 3 AS sel,
                       UNNEST(range(32)) AS i
                FROM h
            ),
            b AS (
                SELECT media_id, sel, CAST(i AS INTEGER) AS sample_no,
                       ((position(substr(hash, CAST(2 * i + 1 AS INTEGER),
                                         1) IN '0123456789abcdef') - 1) * 16
                        + (position(substr(hash, CAST(2 * i + 2 AS INTEGER),
                                           1) IN '0123456789abcdef') - 1))
                           AS byte
                FROM s
            )
            SELECT media_id,
                   CASE sel WHEN 0 THEN 'ulaw' WHEN 1 THEN 'alaw'
                            ELSE 'float32' END AS coding,
                   sample_no,
                   CAST(CASE sel
                        WHEN 0 THEN
                            (CASE WHEN (255 - byte) >= 128
                                  THEN -1 ELSE 1 END)
                            * ((((255 - byte) % 16) * 8 + 132)
                               * (1 << (((255 - byte) // 16) % 8)) - 132)
                        WHEN 1 THEN
                            (CASE WHEN xor(byte, 85) >= 128
                                  THEN 1 ELSE -1 END)
                            * (CASE ((xor(byte, 85) // 16) % 8)
                               WHEN 0 THEN (xor(byte, 85) % 16) * 16 + 8
                               WHEN 1 THEN (xor(byte, 85) % 16) * 16 + 264
                               ELSE ((xor(byte, 85) % 16) * 16 + 264)
                                    * (1 << (((xor(byte, 85) // 16) % 8)
                                             - 1))
                               END)
                        ELSE (byte - 128) * 200
                   END AS INTEGER) AS value
            FROM b
            """,
            "X5 G.711 mu/A-law + IEEE-float WAV codings graded "
            "end-to-end per decoded sample (analytic ITU expansion "
            "oracle on the idempotent companding lattice)",
        ),
        "media_adpcm_roundtrip": QueryDef(
            media_adpcm_roundtrip,
            # full IMA ADPCM codec replayed in SQL: decoded sample k
            # is the encoder's predictor after step k (the encoder and
            # decoder share the state transitions), so a recursive CTE
            # carrying (pred, idx) over the digest-byte samples — with
            # the 89-entry step table and the nibble threshold logic
            # inlined — reproduces every decoded 16-bit value exactly
            # (prototype-pinned 0 mismatches over 16k samples before
            # registration; arbitrary-sample property test in
            # tests/test_multimodal.py).  Sample 0 is the block header
            # predictor.
            _adpcm_recursion_sql(
                f"""SELECT media_id, CAST(i AS INTEGER) AS k,
                       (((position(substr(hash, CAST(2 * i + 1 AS INTEGER),
                                          1) IN '0123456789abcdef') - 1) * 16
                         + (position(substr(hash, CAST(2 * i + 2 AS INTEGER),
                                            1) IN '0123456789abcdef') - 1))
                        - 128) * 256 AS v
                FROM (SELECT doc_id AS media_id, sha256(text) AS hash,
                             UNNEST(range(32)) AS i
                      FROM documents)"""
            ),
            "X5 IMA ADPCM WAV coding graded end-to-end per decoded "
            "sample (the lossy stateful predictor replayed as a "
            "recursive-CTE codec in SQL)",
        ),
        "media_stft_bins": QueryDef(
            media_stft_bins,
            # each 256-sample frame carries a whole-bin tone of its
            # own: frame f's argmax = 1 + digest[f] % 100 analytically
            # (Hann main lobe peaks at the synthesis bin; quantization
            # noise is orders of magnitude below the tone)
            f"""
            WITH h AS (
                SELECT doc_id AS media_id, sha256(text) AS hash
                FROM documents
            )
            SELECT media_id, CAST(0 AS INTEGER) AS frame_no,
                   CAST(1 + {_hexbyte(1)} % 100 AS INTEGER) AS dominant_bin,
                   CAST((1 + {_hexbyte(1)} % 100) * 31.25 AS DOUBLE)
                       AS dominant_freq_hz
            FROM h
            UNION ALL
            SELECT media_id, CAST(1 AS INTEGER) AS frame_no,
                   CAST(1 + {_hexbyte(3)} % 100 AS INTEGER) AS dominant_bin,
                   CAST((1 + {_hexbyte(3)} % 100) * 31.25 AS DOUBLE)
                       AS dominant_freq_hz
            FROM h
            """,
            "X5 REAL STFT spectrogram (Hann-windowed numpy rfft per "
            "frame over stdlib WAV decode) via mapInPandas, analytic "
            "two-tone oracle",
        ),
        "media_frame_stats": QueryDef(
            media_frame_stats,
            """
            WITH n AS (
                SELECT doc_id AS media_id,
                       octet_length(encode(text)) AS n_bytes
                FROM documents
            )
            SELECT media_id,
                   CAST(UNNEST(range(0, CAST(CEIL(n_bytes / 4096.0) AS INT)))
                        AS INTEGER) AS frame_no,
                   CAST(LEAST(4096, n_bytes
                        - UNNEST(range(0, CAST(CEIL(n_bytes / 4096.0) AS INT)))
                          * 4096) AS BIGINT) AS frame_bytes
            FROM n
            """,
            "X5 frame-sampling 1->N expansion via mapInPandas (fake codec)",
        ),
    }
