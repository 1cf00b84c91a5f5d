"""X5 multimodal plumbing — schema, Arrow batching, 1->N expansion.

Decoders are stubbed (no codecs in the container): the fake path must
be deterministic, and the non-fake path must fail loudly, never
silently fabricate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from isaac_kafka_streaming_spark.extensions import multimodal as mm
from isaac_kafka_streaming_spark.io import read_table


@pytest.fixture(scope="module")
def media(spark, sf_smoke):
    return mm.documents_as_media(read_table(spark, sf_smoke, "documents"))


def test_media_schema(media):
    def shape(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    # nullability differs by construction path; names+types must match
    assert shape(media.schema) == shape(mm.MEDIA_SCHEMA)


def test_extract_image_features_fake(spark, media):
    feats = mm.extract_image_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == media.count()
    r = {row.media_id: row for row in rows}
    # deterministic: same content -> same fake decode on a second run
    rows2 = {row.media_id: row for row in mm.extract_image_features(media, fake=True).collect()}
    for mid, row in r.items():
        assert (row.width, row.height, row.brightness) == (
            rows2[mid].width,
            rows2[mid].height,
            rows2[mid].brightness,
        )
        assert 64 <= row.width <= 255 and 64 <= row.height <= 255
        assert len(row.content_hash) == 64
        assert row.n_bytes > 0


def test_extract_without_codec_raises(spark, media):
    with pytest.raises(Exception) as exc_info:
        mm.extract_image_features(media.limit(1), fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_resize_preserves_schema_updates_meta(spark, media):
    resized = mm.resize_images(media.limit(10), 16, 16, fake=True)
    assert resized.schema == mm.MEDIA_SCHEMA
    for row in resized.collect():
        assert row.meta.n_bytes == len(row.blob)
        assert row.meta.n_bytes <= 16 * 16


def test_sample_frames_expansion(spark, media):
    frames = mm.sample_frames(media.limit(5), every_n_bytes=100, fake=True)
    pdf = frames.toPandas()
    # 1->N: each media_id yields ceil(n_bytes/100) frames, numbered 0..N-1
    src = {r.media_id: r.meta.n_bytes for r in media.limit(5).collect()}
    for mid, n_bytes in src.items():
        got = pdf[pdf.media_id == mid].sort_values("frame_no")
        assert list(got.frame_no) == list(range(-(-n_bytes // 100)))
        assert sum(len(b) for b in got.frame) == n_bytes


def test_metadata_only_query_prunes_blob(spark, media, tmp_path):
    """Column pruning: a metadata-only aggregate over the parquet-backed
    media table must not read the blob column (ReadSchema check)."""
    path = str(tmp_path / "media.parquet")
    media.write.parquet(path)
    meta_only = (
        spark.read.parquet(path)
        .groupBy("media_type")
        .agg(F.sum("meta.n_bytes").alias("total_bytes"))
    )
    plan = meta_only._jdf.queryExecution().executedPlan().toString()
    assert "blob" not in plan


def test_audio_features_empty_wav(spark):
    """A WAV with an empty data chunk is valid: rms 0.0, no crash."""
    from isaac_kafka_streaming_spark.extensions.codecs import wav_encode
    from isaac_kafka_streaming_spark.extensions.multimodal import (
        extract_audio_features,
    )

    media = spark.createDataFrame(
        [(0, "audio", wav_encode(b"", sample_rate=8000),
          {"n_bytes": 0, "mime": "audio/wav", "source": "t"})],
        "media_id long, media_type string, blob binary, "
        "meta struct<n_bytes:long,mime:string,source:string>",
    )
    row = extract_audio_features(media).collect()[0]
    assert (row.sample_rate, row.n_channels, row.n_frames, row.rms) == (
        8000, 1, 0, 0.0,
    )


def test_resize_real_png_and_jpeg(spark, sf_smoke):
    """Round-11 real resize: PNG and baseline-JPEG blobs decode, resample
    nearest-neighbor, and re-encode as valid PNGs at the target dims —
    no fake mode anywhere on this path."""
    from isaac_kafka_streaming_spark.extensions.codecs import png_decode
    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(6)
    for adapter in (
        mm.documents_as_png_media,
        mm.documents_as_jpeg_media,
        mm.documents_as_pjpeg_media,  # progressive JPEG (round 12)
        mm.documents_as_gif_media,    # video frame 0 (round 12)
        mm.documents_as_avi_media,    # video frame 0 (round 12)
        mm.documents_as_mkv_media,    # video frame 0 (round 12, EBML)
    ):
        resized = mm.resize_images(adapter(docs), 12, 5)
        rows = resized.collect()
        assert len(rows) == 6
        for row in rows:
            w, h, ch, px = png_decode(bytes(row.blob))
            assert (w, h) == (12, 5)
            assert len(px) == 12 * 5 * ch
            assert row.meta.mime == "image/png"
            assert row.meta.n_bytes == len(row.blob)


def test_gif_sampling_stride_and_image_features(spark, sf_smoke):
    """The every_n_frames knob samples frame 0, 2, ... of the original
    indices; and extract_image_features treats a GIF blob as an image
    (frame-0 features) instead of raising."""
    import hashlib

    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(4)
    media = mm.documents_as_gif_media(docs)

    strided = mm.sample_frames(media, every_n_frames=2).collect()
    assert {r.frame_no for r in strided} == {0}  # 2 frames -> keep 0 only
    assert len(strided) == 4

    feats = {r.media_id: r for r in mm.extract_image_features(media).collect()}
    for d in docs.collect():
        digest = hashlib.sha256(d.text.encode()).digest()
        f = feats[d.doc_id]
        assert (f.width, f.height, f.n_bytes) == (4, 4, 16)
        assert f.content_hash == hashlib.sha256(digest[:16]).hexdigest()


def test_avi_sampling_stride_and_image_features(spark, sf_smoke):
    """Round-12 AVI twin of the GIF test: the every_n_frames knob
    samples original frame indices; extract_image_features treats an
    AVI blob as an image (frame-0 features) instead of raising; and
    each sampled frame equals the digest-derived constant-block raster
    exactly (the quality-50 even-offset construction)."""
    import hashlib

    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(4)
    media = mm.documents_as_avi_media(docs)

    strided = mm.sample_frames(media, every_n_frames=2).collect()
    assert {r.frame_no for r in strided} == {0}  # 2 frames -> keep 0 only
    assert len(strided) == 4

    def expect_frame(digest, fi):
        img = bytearray(256)
        for bi in range(4):
            v = 64 + 2 * (digest[4 * fi + bi] % 64)
            oy, ox = (bi // 2) * 8, (bi % 2) * 8
            for y in range(8):
                for x in range(8):
                    img[(oy + y) * 16 + ox + x] = v
        return bytes(img)

    frames = {
        (r.media_id, r.frame_no): bytes(r.frame)
        for r in mm.sample_frames(media).collect()
    }
    feats = {r.media_id: r for r in mm.extract_image_features(media).collect()}
    for d in docs.collect():
        digest = hashlib.sha256(d.text.encode()).digest()
        for fi in range(2):
            assert frames[(d.doc_id, fi)] == expect_frame(digest, fi)
        f = feats[d.doc_id]
        f0 = expect_frame(digest, 0)
        assert (f.width, f.height, f.n_bytes) == (16, 16, 256)
        assert f.content_hash == hashlib.sha256(f0).hexdigest()
        assert abs(f.brightness - (sum(f0) / 256) / 255.0) < 1e-9


def test_mp4_sampling_and_cross_container_parity(spark, sf_smoke):
    """Round-12 MP4 twin of the AVI test, plus the cross-container
    invariant: ISO-BMFF, RIFF and EBML containers of the same
    digest-derived frames must sample to IDENTICAL rasters, and the
    MP4 blob goes through frame sampling, image features (frame 0)
    and real resize without fake mode."""
    import hashlib

    from isaac_kafka_streaming_spark.extensions.codecs import png_decode
    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(4)
    media = mm.documents_as_mp4_media(docs)

    frames_mp4 = {
        (r.media_id, r.frame_no): bytes(r.frame)
        for r in mm.sample_frames(media).collect()
    }
    frames_avi = {
        (r.media_id, r.frame_no): bytes(r.frame)
        for r in mm.sample_frames(mm.documents_as_avi_media(docs)).collect()
    }
    frames_mkv = {
        (r.media_id, r.frame_no): bytes(r.frame)
        for r in mm.sample_frames(mm.documents_as_mkv_media(docs)).collect()
    }
    assert frames_mp4 == frames_avi == frames_mkv and len(frames_mp4) == 8

    strided = mm.sample_frames(media, every_n_frames=2).collect()
    assert {r.frame_no for r in strided} == {0}
    assert len(strided) == 4

    feats = {r.media_id: r for r in mm.extract_image_features(media).collect()}
    for d in docs.collect():
        f = feats[d.doc_id]
        f0 = frames_mp4[(d.doc_id, 0)]
        assert (f.width, f.height, f.n_bytes) == (16, 16, 256)
        assert f.content_hash == hashlib.sha256(f0).hexdigest()
        assert abs(f.brightness - (sum(f0) / 256) / 255.0) < 1e-9

    resized = mm.resize_images(media, 12, 5).collect()
    assert len(resized) == 4
    for row in resized:
        w, h, ch, px = png_decode(bytes(row.blob))
        assert (w, h, ch) == (12, 5, 1)
        assert row.meta.mime == "image/png"


def test_tone_spectral_fft_recovers_synthesis_bin(spark, sf_smoke):
    """The graded FFT path end-to-end: every document's tone WAV
    analyzes to dominant_bin == 1 + digest[0] % 100 and
    dominant_freq_hz == bin * 31.25 exactly."""
    import hashlib

    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(8)
    media = mm.documents_as_tone_media(docs)
    got = {r.media_id: r for r in mm.extract_audio_spectral(media).collect()}
    for d in docs.collect():
        bin_ = 1 + hashlib.sha256(d.text.encode()).digest()[0] % 100
        r = got[d.doc_id]
        assert (r.sample_rate, r.n_samples) == (8000, 256)
        assert r.dominant_bin == bin_
        assert r.dominant_freq_hz == bin_ * 31.25


def test_audio_spectral_is_a_real_argmax(spark):
    """The spectral extractor genuinely transforms the signal: with
    two tones present the STRONGER one wins regardless of order;
    16-bit stereo decodes through the signed/i2 + channel-mean path;
    an empty data chunk yields (bin 0, 0 Hz); an unsupported sample
    width raises."""
    import math
    import struct as _s

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import wav_encode

    n = 512

    def tone8(bins_amps):
        return bytes(
            min(
                255,
                max(
                    0,
                    round(
                        128
                        + sum(
                            a * math.sin(2 * math.pi * b * t / n)
                            for b, a in bins_amps
                        )
                    ),
                ),
            )
            for t in range(n)
        )

    def tone16_stereo(bins_amps):
        # left carries the signal, right is silence: the channel mean
        # halves the amplitude but keeps the argmax
        out = bytearray()
        for t in range(n):
            v = round(
                8000
                * sum(
                    a * math.sin(2 * math.pi * b * t / n)
                    for b, a in bins_amps
                )
            )
            out += _s.pack("<hh", v, 0)
        return bytes(out)

    rows = [
        (1, wav_encode(tone8([(10, 80.0), (40, 30.0)]))),
        (2, wav_encode(tone8([(10, 30.0), (40, 80.0)]))),
        (3, wav_encode(tone16_stereo([(23, 0.5), (70, 1.0)]), n_channels=2,
                       sampwidth=2)),
        (4, wav_encode(b"")),
    ]
    media = spark.createDataFrame(
        [(i, "audio", b, {"n_bytes": len(b), "mime": "audio/wav",
                          "source": "test"}) for i, b in rows],
        schema=mm.MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in mm.extract_audio_spectral(media).collect()}
    assert got[1].dominant_bin == 10
    assert got[2].dominant_bin == 40
    assert got[3].dominant_bin == 70
    assert got[3].sample_rate == 8000 and got[3].n_samples == n
    assert (got[4].dominant_bin, got[4].dominant_freq_hz) == (0, 0.0)
    assert got[2].dominant_freq_hz == 40 * 8000 / n

    bad = spark.createDataFrame(
        [(9, "audio", wav_encode(bytes(12), sampwidth=4),
          {"n_bytes": 12, "mime": "audio/wav", "source": "test"})],
        schema=mm.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="sample width"):
        mm.extract_audio_spectral(bad).collect()


def test_multimodal_pipeline_runs_on_a_stream(spark, sf_smoke, tmp_path):
    """The whole media surface is stateless mapInPandas, so it must
    compose with Structured Streaming unchanged: documents streamed
    file-by-file through tone synthesis + WAV decode + numpy FFT (and
    through GIF frame sampling) produce exactly the batch answer."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from isaac_kafka_streaming_spark.io import read_table
    from isaac_kafka_streaming_spark.streaming.topology import run_to_memory

    docs = read_table(spark, sf_smoke, "documents").limit(12).cache()
    mid = [r.doc_id for r in docs.select("doc_id").collect()]
    mid.sort()
    split = mid[len(mid) // 2]

    flat = tmp_path / "docs_stream"
    flat.mkdir()
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") <= split),
         docs.filter(F.col("doc_id") > split)]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        shutil.copy(src, flat / f"{i:03d}.parquet")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )

    got_spec = run_to_memory(
        mm.extract_audio_spectral(mm.documents_as_tone_media(stream)),
        "media_stream_spectral",
        output_mode="append",
    ).collect()
    want_spec = {
        r.media_id: r
        for r in mm.extract_audio_spectral(
            mm.documents_as_tone_media(docs)
        ).collect()
    }
    assert len(got_spec) == len(want_spec) == 12
    for r in got_spec:
        w = want_spec[r.media_id]
        assert (r.dominant_bin, r.dominant_freq_hz) == (
            w.dominant_bin, w.dominant_freq_hz,
        )

    got_frames = run_to_memory(
        mm.sample_frames(mm.documents_as_gif_media(stream)),
        "media_stream_frames",
        output_mode="append",
    ).collect()
    want_frames = {
        (r.media_id, r.frame_no): bytes(r.frame)
        for r in mm.sample_frames(mm.documents_as_gif_media(docs)).collect()
    }
    assert len(got_frames) == len(want_frames) == 24
    for r in got_frames:
        assert bytes(r.frame) == want_frames[(r.media_id, r.frame_no)]

    # compressed-corpus ingestion on a stream: the gzip/zlib sniff +
    # inflate round-trips every document's text exactly
    got_texts = {
        r.media_id: r
        for r in run_to_memory(
            mm.decompress_text_blobs(mm.documents_as_compressed(stream)),
            "media_stream_decompress",
            output_mode="append",
        ).collect()
    }
    assert len(got_texts) == 12
    for d in docs.collect():
        assert got_texts[d.doc_id].text == d.text

    # the companded-audio round-trip path (round 13) is stateless too:
    # identical per-sample rows on the stream, bit-for-bit
    got_samples = {
        (r.media_id, r.sample_no): (r.coding, r.value)
        for r in run_to_memory(
            mm.extract_audio_samples(mm.documents_as_companded_media(stream)),
            "media_stream_samples",
            output_mode="append",
        ).collect()
    }
    want_samples = {
        (r.media_id, r.sample_no): (r.coding, r.value)
        for r in mm.extract_audio_samples(
            mm.documents_as_companded_media(docs)
        ).collect()
    }
    assert got_samples == want_samples and len(got_samples) == 12 * 32


def test_audio_spectrogram_tracks_changing_content(spark):
    """The STFT path resolves time-varying content a whole-clip FFT
    cannot: a WAV whose first 256 samples carry bin 10 and next 256
    carry bin 40 yields frame 0 -> bin 10, frame 1 -> bin 40; a
    trailing partial frame is dropped; hop < frame_len produces the
    overlapping frame count; bad framing params raise."""
    import math

    import pytest

    from isaac_kafka_streaming_spark.extensions.codecs import wav_encode

    n = 256

    def tone(b, length=n):
        return [
            min(255, max(0, round(128 + 90 * math.sin(2 * math.pi * b * t / n))))
            for t in range(length)
        ]

    pcm = bytes(tone(10) + tone(40) + tone(7, 100))  # 612 samples
    media = spark.createDataFrame(
        [(1, "audio", wav_encode(pcm),
          {"n_bytes": len(pcm), "mime": "audio/wav", "source": "test"})],
        schema=mm.MEDIA_SCHEMA,
    )

    rows = sorted(
        mm.extract_audio_spectrogram(media, frame_len=256).collect(),
        key=lambda r: r.frame_no,
    )
    assert [r.frame_no for r in rows] == [0, 1]  # partial tail dropped
    assert rows[0].dominant_bin == 10
    assert rows[1].dominant_bin == 40
    assert rows[0].dominant_freq_hz == 10 * 8000 / 256
    assert all(r.rms > 0 for r in rows)

    overlapped = mm.extract_audio_spectrogram(media, frame_len=256, hop=128)
    assert overlapped.count() == (612 - 256) // 128 + 1

    with pytest.raises(Exception, match="frame_len"):
        mm.extract_audio_spectrogram(media, frame_len=1).collect()


def test_chirp_media_stft_recovers_both_bins(spark, sf_smoke):
    """The graded STFT path end-to-end: every document's two-tone WAV
    analyzes to frame 0 -> 1 + digest[0] % 100 and frame 1 ->
    1 + digest[1] % 100, with exact 31.25 Hz/bin frequencies."""
    import hashlib

    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(8)
    spec = mm.extract_audio_spectrogram(
        mm.documents_as_chirp_media(docs), frame_len=256
    )
    got = {(r.media_id, r.frame_no): r for r in spec.collect()}
    assert len(got) == 16
    for d in docs.collect():
        digest = hashlib.sha256(d.text.encode()).digest()
        for f in range(2):
            b = 1 + digest[f] % 100
            r = got[(d.doc_id, f)]
            assert r.dominant_bin == b
            assert r.dominant_freq_hz == b * 31.25


def test_compressed_ingest_roundtrip_and_rejection(spark, sf_smoke):
    """The compressed-corpus path: gzip and zlib blobs both auto-sniff
    and inflate back to the exact text (codec per digest parity, so
    both branches execute); unknown magic and corrupt streams raise
    ValueError, never a raw zlib.error."""
    import gzip as _gz
    import hashlib
    import zlib as _z

    import pytest

    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(10)
    out = {
        r.media_id: r
        for r in mm.decompress_text_blobs(
            mm.documents_as_compressed(docs)
        ).collect()
    }
    saw = set()
    for d in docs.collect():
        r = out[d.doc_id]
        parity = hashlib.sha256(d.text.encode()).digest()[0] % 2
        assert r.text == d.text
        assert r.n_bytes == len(d.text.encode())
        assert r.codec == ("gzip" if parity == 0 else "zlib")
        saw.add(r.codec)
    assert saw == {"gzip", "zlib"}  # both sniff branches exercised

    def media_of(blob):
        return spark.createDataFrame(
            [(1, "text", blob,
              {"n_bytes": len(blob), "mime": "x", "source": "t"})],
            schema=mm.MEDIA_SCHEMA,
        )

    # the zstd per-blob tier (pyarrow-backed, like the shard tier)
    import pyarrow as pa

    zblob = pa.Codec("zstd").compress("zeta ζ".encode(), asbytes=True)
    zrow = mm.decompress_text_blobs(media_of(zblob)).collect()[0]
    assert (zrow.text, zrow.codec) == ("zeta ζ", "zstd")
    with pytest.raises(Exception, match="corrupt compressed"):
        mm.decompress_text_blobs(
            media_of(b"\x28\xb5\x2f\xfdgarbage")
        ).collect()

    with pytest.raises(Exception, match="unknown compression magic"):
        mm.decompress_text_blobs(media_of(b"\x00\x01plain")).collect()
    corrupt = bytearray(_gz.compress(b"hello world", mtime=0))
    corrupt[-3] ^= 0xFF
    with pytest.raises(Exception, match="corrupt compressed blob"):
        mm.decompress_text_blobs(media_of(bytes(corrupt))).collect()
    # a 0x78 first byte with a bad FCHECK is NOT zlib -> unknown magic
    with pytest.raises(Exception, match="unknown compression magic"):
        mm.decompress_text_blobs(media_of(b"\x78\x00junk")).collect()
    # truncated zlib stream -> corrupt
    z = _z.compress(b"some text that compresses")
    with pytest.raises(Exception, match="corrupt compressed blob"):
        mm.decompress_text_blobs(media_of(z[: len(z) // 2])).collect()


def test_decompress_accepts_small_window_zlib(spark):
    """Third-party zlib streams with non-default windows (CMF 0x18,
    0x48, ...) sniff as zlib too — the check is CM/CINFO/FCHECK, not
    the literal 0x78 first byte."""
    import zlib as _z

    blobs = []
    for i, wbits in enumerate((9, 12, 15)):
        co = _z.compressobj(wbits=wbits)
        b = co.compress(f"window {wbits}".encode()) + co.flush()
        blobs.append((i, "text", b,
                      {"n_bytes": len(b), "mime": "x", "source": "t"}))
    media = spark.createDataFrame(blobs, schema=mm.MEDIA_SCHEMA)
    got = {r.media_id: r for r in mm.decompress_text_blobs(media).collect()}
    for i, wbits in enumerate((9, 12, 15)):
        assert got[i].text == f"window {wbits}"
        assert got[i].codec == "zlib"


def test_audio_spectral_randomized_tones(spark):
    """Seeded randomized sweep of the whole-clip FFT: 24 tones at
    random whole bins, lengths, rates, widths (8/16-bit) and channel
    counts all argmax back to their synthesis bin."""
    import math
    import random
    import struct as _s

    from isaac_kafka_streaming_spark.extensions.codecs import wav_encode

    rng = random.Random(0xC0FFEE)
    rows, want = [], {}
    for i in range(24):
        n = rng.choice([128, 256, 512, 1024])
        b = rng.randint(1, n // 2 - 1)
        rate = rng.choice([8000, 16000, 44100])
        width = rng.choice([1, 2])
        stereo = rng.choice([False, True]) if width == 2 else False
        if width == 1:
            pcm = bytes(
                min(255, max(0, round(128 + 90 * math.sin(2 * math.pi * b * t / n))))
                for t in range(n)
            )
            blob = wav_encode(pcm, sample_rate=rate)
        else:
            out = bytearray()
            for t in range(n):
                v = round(9000 * math.sin(2 * math.pi * b * t / n))
                out += _s.pack("<hh", v, 0) if stereo else _s.pack("<h", v)
            blob = wav_encode(
                bytes(out), sample_rate=rate,
                n_channels=2 if stereo else 1, sampwidth=2,
            )
        rows.append((i, "audio", blob,
                     {"n_bytes": len(blob), "mime": "audio/wav",
                      "source": "t"}))
        want[i] = (b, b * rate / n, n)
    media = spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)
    got = {r.media_id: r for r in mm.extract_audio_spectral(media).collect()}
    for i, (b, freq, n) in want.items():
        assert got[i].dominant_bin == b, (i, got[i], b)
        assert abs(got[i].dominant_freq_hz - freq) < 1e-9
        assert got[i].n_samples == n


def test_spectral_paths_decode_g711_wavs(spark):
    """A mu-law (and A-law) telephony WAV goes through the same FFT
    and STFT paths as linear PCM: companding quantization is ~38 dB
    below a 9000-amplitude tone, so the argmax still lands on the
    synthesis bin."""
    import math
    import struct as _s

    from isaac_kafka_streaming_spark.extensions.codecs import g711_wav_encode

    n = 256

    def tone16(b):
        return _s.pack(
            f"<{n}h",
            *(round(9000 * math.sin(2 * math.pi * b * t / n)) for t in range(n)),
        )

    media = spark.createDataFrame(
        [
            (0, "audio", g711_wav_encode(tone16(17), "mu"),
             {"n_bytes": n, "mime": "audio/basic", "source": "t"}),
            (1, "audio", g711_wav_encode(tone16(33), "a"),
             {"n_bytes": n, "mime": "audio/basic", "source": "t"}),
        ],
        schema=mm.MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in mm.extract_audio_spectral(media).collect()}
    assert got[0].dominant_bin == 17 and got[1].dominant_bin == 33
    assert got[0].sample_rate == 8000 and got[0].n_samples == n

    spec = {
        r.media_id: r
        for r in mm.extract_audio_spectrogram(media, frame_len=256).collect()
    }
    assert spec[0].dominant_bin == 17 and spec[1].dominant_bin == 33


def test_spectral_paths_decode_adpcm_wavs(spark):
    """An IMA ADPCM telephony WAV goes through the FFT path like
    linear PCM: ADPCM error on a steady tone is far below the tone,
    so the argmax still lands on the synthesis bin."""
    import math
    import struct as _s

    from isaac_kafka_streaming_spark.extensions.codecs import adpcm_wav_encode

    n = 1024
    pcm = _s.pack(
        f"<{n}h",
        *(round(12000 * math.sin(2 * math.pi * 60 * t / n)) for t in range(n)),
    )
    media = spark.createDataFrame(
        [(0, "audio", adpcm_wav_encode(pcm, 8000),
          {"n_bytes": n, "mime": "audio/x-adpcm", "source": "t"})],
        schema=mm.MEDIA_SCHEMA,
    )
    r = mm.extract_audio_spectral(media).collect()[0]
    assert (r.dominant_bin, r.n_samples, r.sample_rate) == (60, n, 8000)


def test_spread_for_decode_decouples_parallelism(spark, sf_smoke):
    """The codec chain must not inherit a single-split scan: a
    1-partition batch input spreads to defaultParallelism before the
    per-doc decode (the round-13 fix — both top-cost media queries had
    been running single-threaded), an input already at/above the
    target keeps its partitioning (no extra Exchange at real scale),
    and values are placement-independent (identical feature rows
    either way)."""
    docs = read_table(spark, sf_smoke, "documents").limit(20)
    target = spark.sparkContext.defaultParallelism

    narrow = docs.coalesce(1)
    spread = mm._spread_for_decode(narrow)
    assert spread.rdd.getNumPartitions() == target

    wide = docs.repartition(target + 7, "doc_id")
    kept = mm._spread_for_decode(wide)
    assert kept.rdd.getNumPartitions() == target + 7

    a = {
        (r.media_id, r.content_hash)
        for r in mm.extract_image_features(
            mm.documents_as_png_media(narrow)
        ).collect()
    }
    b = {
        (r.media_id, r.content_hash)
        for r in mm.extract_image_features(
            mm.documents_as_png_media(wide)
        ).collect()
    }
    assert a == b and len(a) == 20


def test_jsonl_gz_shards_roundtrip_and_rejection(spark, sf_smoke):
    """documents_as_jsonl_gz_shards packs 8 docs per gzip'd jsonl blob
    and explode_jsonl_gz_shards recovers every (doc_id, text) exactly,
    with line_no = doc_id rank within shard; malformed blobs raise the
    decoder's ValueError, not a silent drop."""
    import gzip

    import pytest

    docs = read_table(spark, sf_smoke, "documents")
    want = {(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()}

    shards = mm.documents_as_jsonl_gz_shards(docs).cache()
    srows = shards.collect()
    assert sum(r.n_docs for r in srows) == len(want)
    assert all(1 <= r.n_docs <= 8 for r in srows)
    assert all(bytes(r.blob)[:2] == b"\x1f\x8b" for r in srows)

    out = mm.explode_jsonl_gz_shards(shards).collect()
    assert {(r.doc_id, r.text) for r in out} == want
    for r in out:
        assert r.shard_id == r.doc_id // 8
    # line_no is the doc_id rank within the shard
    by_shard = {}
    for r in sorted(out, key=lambda r: (r.shard_id, r.doc_id)):
        assert r.line_no == by_shard.get(r.shard_id, 0)
        by_shard[r.shard_id] = r.line_no + 1

    def one(blob):
        df = spark.createDataFrame(
            [(0, blob, 1)], schema=mm.JSONL_SHARD_SCHEMA
        )
        return mm.explode_jsonl_gz_shards(df).collect()

    with pytest.raises(Exception, match="unknown compression magic"):
        one(b"\x78\x9cgarbage")
    with pytest.raises(Exception, match="corrupt compressed"):
        one(b"\x1f\x8b" + b"\x00" * 10)
    with pytest.raises(Exception, match="bad JSON"):
        one(gzip.compress(b'{"id": 1, "text": "ok"}\nnot json'))
    with pytest.raises(ValueError, match="docs_per_shard"):
        mm.documents_as_jsonl_gz_shards(docs, docs_per_shard=0)


def test_jsonl_gz_explode_runs_on_a_stream(spark, sf_smoke, tmp_path):
    """The ingest (read) side of the shard path is stateless 1->N, so
    the identical explode plan runs on a file stream of shard blobs
    bit-for-bit — the compressed-corpus streaming twin."""
    import glob
    import shutil

    from isaac_kafka_streaming_spark.streaming.topology import run_to_memory

    docs = read_table(spark, sf_smoke, "documents").limit(16)
    shards = mm.documents_as_jsonl_gz_shards(docs, docs_per_shard=4).cache()
    want = {
        (r.shard_id, r.line_no, r.doc_id, r.text)
        for r in mm.explode_jsonl_gz_shards(shards).collect()
    }

    flat = tmp_path / "shards_stream"
    flat.mkdir()
    ids = sorted(r.shard_id for r in shards.select("shard_id").collect())
    split = ids[len(ids) // 2]
    from pyspark.sql import functions as F

    for i, part in enumerate(
        [shards.filter(F.col("shard_id") <= split),
         shards.filter(F.col("shard_id") > split)]
    ):
        tmp = str(flat) + f"_tmp{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(f"{tmp}/part-*.parquet")
        shutil.copy(src, flat / f"{i:03d}.parquet")

    stream = (
        spark.readStream.schema(shards.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(flat))
    )
    got = run_to_memory(
        mm.explode_jsonl_gz_shards(stream),
        "jsonl_stream_explode",
        output_mode="append",
    ).collect()
    assert {(r.shard_id, r.line_no, r.doc_id, r.text) for r in got} == want


def test_companded_media_samples_exact(spark, sf_smoke):
    """media_codec_roundtrip's core claim, pinned in-process: every
    decoded sample equals the analytic expansion of the digest byte —
    G.711 via the ITU formulas on the idempotent lattice, float via
    exact k/32767 recovery — across all three codings."""
    import hashlib as _h

    from isaac_kafka_streaming_spark.extensions.codecs import (
        alaw_to_lin16,
        ulaw_to_lin16,
    )

    docs = read_table(spark, sf_smoke, "documents").limit(30)
    texts = {r.doc_id: r.text for r in docs.collect()}
    out = mm.extract_audio_samples(
        mm.documents_as_companded_media(docs)
    ).collect()
    assert len(out) == 30 * 32
    seen_codings = set()
    for r in out:
        digest = _h.sha256(texts[r.media_id].encode("utf-8")).digest()
        sel = digest[0] % 3
        b = digest[r.sample_no]
        if sel == 0:
            want_coding, want = "ulaw", ulaw_to_lin16(b)
        elif sel == 1:
            want_coding, want = "alaw", alaw_to_lin16(b)
        else:
            want_coding, want = "float32", (b - 128) * 200
        assert (r.coding, r.value) == (want_coding, want)
        seen_codings.add(r.coding)
    assert seen_codings == {"ulaw", "alaw", "float32"}


def test_jsonl_gz_shards_ingest_from_real_files(spark, sf_smoke, tmp_path):
    """The true pipeline shape: shards written to disk as real
    .jsonl.gz FILES, read back with Spark's binaryFile source (path ->
    content), and exploded by the same stateless reader — proving the
    ingest side needs nothing but a blob column, wherever it comes
    from."""
    import gzip
    import json

    from pyspark.sql import functions as F

    docs = read_table(spark, sf_smoke, "documents").limit(20)
    rows = sorted(
        ((r.doc_id, r.text) for r in docs.collect()), key=lambda t: t[0]
    )
    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    for s in range(0, len(rows), 8):
        chunk = rows[s : s + 8]
        sid = s // 8  # file-positional shard naming
        lines = "\n".join(
            json.dumps({"id": int(d), "text": t}, ensure_ascii=False,
                       sort_keys=True)
            for d, t in chunk
        )
        (shard_dir / f"shard-{sid:05d}.jsonl.gz").write_bytes(
            gzip.compress(lines.encode("utf-8"), mtime=0)
        )

    shards = (
        spark.read.format("binaryFile")
        .load(str(shard_dir))
        .select(
            F.regexp_extract(F.col("path"), r"shard-(\d+)", 1)
            .cast("long")
            .alias("shard_id"),
            F.col("content").alias("blob"),
        )
    )
    out = mm.explode_jsonl_gz_shards(shards).collect()
    assert {(r.doc_id, r.text) for r in out} == set(rows)


def test_jsonl_gz_shards_adversarial_text(spark):
    """The jsonl format survives exactly the content that breaks naive
    line-based packing: literal newlines (JSON-escaped, so one doc
    stays one line), quotes, backslashes, tabs, emoji, and empty
    strings all round-trip byte-exactly."""
    texts = [
        "line one\nline two\n\nline four",
        'quote " and \\ backslash \\" mix',
        "tab\there\r\nwindows newline",
        "emoji \U0001f600 and accents \u00e9\u00e8\u00ea",
        "",
        " leading and trailing ",
        "\x01 control char",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    shards = mm.documents_as_jsonl_gz_shards(docs, docs_per_shard=3)
    out = mm.explode_jsonl_gz_shards(shards).collect()
    assert {(r.doc_id, r.text) for r in out} == {
        (i, t) for i, t in enumerate(texts)
    }
    # one JSON line per doc even with embedded newlines
    assert sorted(r.line_no for r in out if r.shard_id == 0) == [0, 1, 2]


def test_jsonl_gz_multimember_and_shape_contract(spark):
    """Round-13 review findings, pinned: (a) a multi-member gzip shard
    (cat a.gz b.gz - valid per RFC 1952) inflates COMPLETELY instead
    of silently dropping every document after the first member; (b) a
    line that parses as JSON but is not an {id: int, text: str}
    document raises the decoder ValueError with shard context, not a
    bare KeyError.  decompress_text_blobs gets the same multi-member
    guarantee."""
    import gzip
    import json

    import pytest

    def shard_df(blob):
        return spark.createDataFrame(
            [(0, blob, 0)], schema=mm.JSONL_SHARD_SCHEMA
        )

    member_a = gzip.compress(
        json.dumps({"id": 1, "text": "alpha"}).encode() + b"\n"
        + json.dumps({"id": 2, "text": "beta"}).encode(),
        mtime=0,
    )
    member_b = gzip.compress(
        b"\n" + json.dumps({"id": 3, "text": "gamma"}).encode(), mtime=0
    )
    out = mm.explode_jsonl_gz_shards(shard_df(member_a + member_b)).collect()
    assert {(r.doc_id, r.text) for r in out} == {
        (1, "alpha"), (2, "beta"), (3, "gamma")
    }

    for bad in (
        {"doc_id": 1, "text": "missing id key"},
        {"id": "1", "text": "string id"},
        {"id": True, "text": "bool id"},
        {"id": 1},
        {"id": 1, "text": 7},
        [1, 2, 3],
        42,
    ):
        blob = gzip.compress(json.dumps(bad).encode(), mtime=0)
        with pytest.raises(Exception, match="not an .id: int, text: str."):
            mm.explode_jsonl_gz_shards(shard_df(blob)).collect()

    # decompress_text_blobs: multi-member gzip of one doc round-trips
    media = spark.createDataFrame(
        [(0, "text",
          gzip.compress(b"first half ", mtime=0)
          + gzip.compress(b"second half", mtime=0),
          {"n_bytes": 22, "mime": "application/gzip", "source": "gzip"})],
        schema=mm.MEDIA_SCHEMA,
    )
    row = mm.decompress_text_blobs(media).collect()[0]
    assert (row.text, row.codec) == ("first half second half", "gzip")


def test_ingest_jsonl_gz_dir(spark, tmp_path):
    """One-call directory ingestion: binaryFile listing + shard-id
    from the file name + the shared explode; a file without a numeric
    id raises instead of colliding on a guess."""
    import gzip
    import json

    import pytest

    d = tmp_path / "corpus"
    d.mkdir()
    docs = {0: "alpha", 1: "beta", 2: "gamma", 3: "delta"}
    for sid, ids in ((7, [0, 1]), (8, [2, 3])):
        lines = "\n".join(
            json.dumps({"id": i, "text": docs[i]}) for i in ids
        )
        (d / f"shard-{sid:05d}.jsonl.gz").write_bytes(
            gzip.compress(lines.encode(), mtime=0)
        )
    (d / "README.txt").write_text("not a shard")  # glob-filtered out

    out = mm.ingest_jsonl_gz_dir(spark, str(d)).collect()
    assert {(r.shard_id, r.doc_id, r.text) for r in out} == {
        (7, 0, "alpha"), (7, 1, "beta"), (8, 2, "gamma"), (8, 3, "delta")
    }

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "noid.jsonl.gz").write_bytes(
        gzip.compress(json.dumps({"id": 1, "text": "x"}).encode(), mtime=0)
    )
    with pytest.raises(Exception, match="no numeric id"):
        mm.ingest_jsonl_gz_dir(spark, str(bad)).collect()


def test_stream_jsonl_gz_dir_matches_batch(spark, tmp_path):
    """stream_jsonl_gz_dir: the binaryFile FILE STREAM over a shard
    directory produces exactly the batch ingest's rows (append mode,
    stateless) - the arriving-crawl-dump shape end-to-end on real
    files."""
    import gzip
    import json

    from isaac_kafka_streaming_spark.streaming.topology import run_to_memory

    d = tmp_path / "corpus"
    d.mkdir()
    docs = {i: f"doc {i}" for i in range(6)}
    for sid, ids in ((1, [0, 1]), (2, [2, 3]), (3, [4, 5])):
        lines = "\n".join(
            json.dumps({"id": i, "text": docs[i]}) for i in ids
        )
        (d / f"shard-{sid:03d}.jsonl.gz").write_bytes(
            gzip.compress(lines.encode(), mtime=0)
        )

    want = {
        (r.shard_id, r.line_no, r.doc_id, r.text)
        for r in mm.ingest_jsonl_gz_dir(spark, str(d)).collect()
    }
    got = run_to_memory(
        mm.stream_jsonl_gz_dir(spark, str(d)),
        "jsonl_dir_stream",
        output_mode="append",
    ).collect()
    assert {(r.shard_id, r.line_no, r.doc_id, r.text) for r in got} == want
    assert len(want) == 6


def test_jsonl_gz_posix_files_and_duplicate_ids(spark, tmp_path):
    """Second-review findings, pinned: (a) newline-TERMINATED jsonl.gz
    files (the POSIX shape every real writer produces) and blank
    separator lines ingest cleanly, with line_no counting documents;
    (b) two files whose names share a trailing integer run raise on
    the batch reader instead of silently conflating their documents
    under one shard_id."""
    import gzip
    import json

    import pytest

    d = tmp_path / "posix"
    d.mkdir()
    body = (
        json.dumps({"id": 0, "text": "alpha"}) + "\n"
        + json.dumps({"id": 1, "text": "beta"}) + "\n\n"
        + json.dumps({"id": 2, "text": "gamma"}) + "\n"
    )
    (d / "shard-001.jsonl.gz").write_bytes(
        gzip.compress(body.encode(), mtime=0)
    )
    out = sorted(
        mm.ingest_jsonl_gz_dir(spark, str(d)).collect(),
        key=lambda r: r.doc_id,
    )
    assert [(r.line_no, r.doc_id, r.text) for r in out] == [
        (0, 0, "alpha"), (1, 1, "beta"), (2, 2, "gamma")
    ]

    dup = tmp_path / "dup"
    dup.mkdir()
    blob = gzip.compress(
        json.dumps({"id": 9, "text": "x"}).encode(), mtime=0
    )
    (dup / "shard-7.jsonl.gz").write_bytes(blob)
    (dup / "batch-007.jsonl.gz").write_bytes(blob)
    with pytest.raises(Exception, match="duplicate shard id"):
        mm.ingest_jsonl_gz_dir(spark, str(dup)).collect()


def test_warc_shard_roundtrip(spark, sf_smoke):
    """documents_as_warc_shards -> explode_warc_shards recovers every
    document exactly: record ids carry the doc_id, Content-Length is
    the utf-8 byte length, rec_no is the doc_id rank within the
    shard, and text round-trips byte-exactly — including payloads
    that would break sentinel-based framing (length-delimited blocks
    are the WARC design point)."""
    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(20)
    want = {r.doc_id: r.text for r in docs.collect()}
    out = mm.explode_warc_shards(
        mm.documents_as_warc_shards(docs)
    ).collect()
    assert len(out) == len(want)
    for r in out:
        doc_id = int(r.record_id.split(":")[-1].rstrip(">"))
        assert r.text == want[doc_id]
        assert r.content_length == len(r.text.encode("utf-8"))
        assert r.warc_type == "resource"
        assert r.shard_id == doc_id // 8
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard_id, []).append(
            (r.rec_no, int(r.record_id.split(":")[-1].rstrip(">")))
        )
    for recs in by_shard.values():
        recs.sort()
        ids = [d for _, d in recs]
        assert [n for n, _ in recs] == list(range(len(recs)))
        assert ids == sorted(ids)  # records sorted by doc_id


def test_warc_framing_survives_hostile_payloads(spark):
    """A payload containing blank lines, CRLF runs and a literal
    'WARC/1.0' line must round-trip — Content-Length delimiting, not
    sentinel scanning."""
    hostile = "WARC/1.0\r\n\r\nContent-Length: 3\r\n\r\n\n\nplain tail"
    docs = spark.createDataFrame(
        [(0, hostile), (1, "ordinary")], "doc_id long, text string"
    )
    out = {
        int(r.record_id.split(":")[-1].rstrip(">")): r.text
        for r in mm.explode_warc_shards(
            mm.documents_as_warc_shards(docs)
        ).collect()
    }
    assert out == {0: hostile, 1: "ordinary"}


def test_warc_malformed_raises(spark):
    """Truncated blocks, missing Content-Length, and a bad version
    line raise ValueError naming the shard — no silent drops."""
    import gzip

    import pytest

    def shard_df(blob):
        return spark.createDataFrame(
            [(1, blob, 1)], schema=mm.JSONL_SHARD_SCHEMA
        )

    good = (
        b"WARC/1.0\r\nWARC-Record-ID: <urn:doc:5>\r\n"
        b"Content-Length: 2\r\n\r\nhi\r\n\r\n"
    )
    ok = mm.explode_warc_shards(
        shard_df(gzip.compress(good, mtime=0))
    ).collect()
    assert [(r.rec_no, r.text) for r in ok] == [(0, "hi")]

    bad_version = gzip.compress(good.replace(b"WARC/1.0", b"HTTP/1.1"), mtime=0)
    with pytest.raises(Exception, match="bad\\s+version line"):
        mm.explode_warc_shards(shard_df(bad_version)).collect()
    no_len = gzip.compress(
        b"WARC/1.0\r\nWARC-Record-ID: <urn:doc:5>\r\n\r\nhi\r\n\r\n", mtime=0
    )
    with pytest.raises(Exception, match="missing Content-Length"):
        mm.explode_warc_shards(shard_df(no_len)).collect()
    truncated = gzip.compress(good[:-4], mtime=0)
    with pytest.raises(Exception, match="terminator"):
        mm.explode_warc_shards(shard_df(truncated)).collect()
    wrong_len = gzip.compress(good.replace(b"Length: 2", b"Length: 1"), mtime=0)
    with pytest.raises(Exception, match="terminator"):
        mm.explode_warc_shards(shard_df(wrong_len)).collect()
    neg_len = gzip.compress(good.replace(b"Length: 2", b"Length: -4"), mtime=0)
    with pytest.raises(Exception, match="negative Content-Length"):
        mm.explode_warc_shards(shard_df(neg_len)).collect()


def test_warc_walk_never_escapes_valueerror(spark):
    """Adversarial sweep of the record walk: EVERY mid-record
    truncation of a valid record, and seeded random garbage (raw and
    'WARC/1.0'-prefixed), must either parse cleanly or raise the
    walk's own ValueError naming the shard — never an IndexError /
    struct.error / UnicodeDecodeError from inside the parser."""
    import gzip
    import random

    def explode(raw):
        df = spark.createDataFrame(
            [(1, gzip.compress(raw, mtime=0), 1)],
            schema=mm.JSONL_SHARD_SCHEMA,
        )
        return mm.explode_warc_shards(df).collect()

    good = (
        b"WARC/1.0\r\nWARC-Record-ID: <urn:doc:5>\r\n"
        b"Content-Length: 2\r\n\r\nhi\r\n\r\n"
    )
    probes = [good[:k] for k in range(1, len(good), 3)]
    rng = random.Random(0x5EED)
    probes += [bytes(rng.randrange(256) for _ in range(40)) for _ in range(6)]
    probes += [
        b"WARC/1.0\r\n" + bytes(rng.randrange(256) for _ in range(40))
        for _ in range(6)
    ]
    for raw in probes:
        try:
            explode(raw)
        except Exception as exc:
            # the walk's declared failure mode, surfaced through the
            # Arrow worker: its message (with the shard context) must
            # be present; a parser crash (IndexError etc.) would not
            # carry it
            assert "warc shard 1" in str(exc), (raw, exc)


def test_ingest_warc_dir(spark, tmp_path):
    """Directory of real *.warc.gz files through binaryFile + the
    shared shard-id naming guards + the record exploder."""
    import gzip

    d = tmp_path / "warcs"
    d.mkdir()
    for sid, items in ((3, [(0, "alpha"), (1, "beta")]), (4, [(2, "gamma")])):
        blob = bytearray()
        for doc_id, text in items:
            payload = text.encode()
            rec = (
                f"WARC/1.0\r\nWARC-Type: resource\r\n"
                f"WARC-Record-ID: <urn:doc:{doc_id}>\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode() + payload + b"\r\n\r\n"
            blob += gzip.compress(rec, mtime=0)
        (d / f"crawl-{sid:04d}.warc.gz").write_bytes(bytes(blob))
    out = mm.ingest_warc_dir(spark, str(d)).collect()
    assert {
        (r.shard_id, r.rec_no, r.record_id, r.text) for r in out
    } == {
        (3, 0, "<urn:doc:0>", "alpha"),
        (3, 1, "<urn:doc:1>", "beta"),
        (4, 0, "<urn:doc:2>", "gamma"),
    }


def test_stream_warc_dir_matches_batch(spark, tmp_path):
    """stream_warc_dir: the binaryFile FILE STREAM over a WARC shard
    directory produces exactly the batch reader's rows (append mode,
    stateless)."""
    import gzip

    from isaac_kafka_streaming_spark.streaming.topology import run_to_memory

    d = tmp_path / "warcs"
    d.mkdir()
    for sid, items in ((1, [(0, "a"), (1, "b")]), (2, [(2, "c")])):
        blob = bytearray()
        for doc_id, text in items:
            payload = text.encode()
            rec = (
                f"WARC/1.0\r\nWARC-Type: resource\r\n"
                f"WARC-Record-ID: <urn:doc:{doc_id}>\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode() + payload + b"\r\n\r\n"
            blob += gzip.compress(rec, mtime=0)
        (d / f"crawl-{sid:03d}.warc.gz").write_bytes(bytes(blob))

    want = {
        (r.shard_id, r.rec_no, r.record_id, r.text)
        for r in mm.ingest_warc_dir(spark, str(d)).collect()
    }
    got = run_to_memory(
        mm.stream_warc_dir(spark, str(d)),
        "warc_dir_stream",
        output_mode="append",
    ).collect()
    assert {
        (r.shard_id, r.rec_no, r.record_id, r.text) for r in got
    } == want
    assert len(want) == 3


def test_jsonl_shard_id_overflows_bigint(spark, tmp_path):
    """Advice finding, pinned: a filename digit run past BIGINT
    try_casts to NULL, and NULL groups never equi-join back against
    the dedup frame — without a guard, two such files would silently
    merge under shard_id NULL with colliding line_no spaces (exactly
    the conflation the duplicate check exists to prevent).  The reader
    must RAISE on an unrepresentable id instead."""
    import gzip
    import json

    import pytest

    d = tmp_path / "overflow"
    d.mkdir()
    # 20 digits > 9223372036854775807 (BIGINT max, 19 digits)
    for big in ("99999999999999999998", "99999999999999999999"):
        (d / f"shard-{big}.jsonl.gz").write_bytes(
            gzip.compress(
                json.dumps({"id": 1, "text": "x"}).encode(), mtime=0
            )
        )
    with pytest.raises(Exception, match="overflows BIGINT"):
        mm.ingest_jsonl_gz_dir(spark, str(d)).collect()


def test_jsonl_shard_explode_bounded_flush(spark):
    """Advice finding, pinned: the exploder flushes at shard
    boundaries once the accumulator crosses its bound (10k rows), so
    peak memory is one inflated shard, not a whole Arrow batch of
    them.  A 10,050-doc shard next to a small one must cross the bound
    mid-batch and still recover every row with intact per-shard
    line_no spaces."""
    import gzip
    import json

    n_big = 10_050
    big = "\n".join(
        json.dumps({"id": i, "text": f"d{i}"}) for i in range(n_big)
    )
    small = "\n".join(
        json.dumps({"id": 100_000 + i, "text": f"s{i}"}) for i in range(3)
    )
    shards = spark.createDataFrame(
        [
            (1, gzip.compress(big.encode(), mtime=0), n_big),
            (2, gzip.compress(small.encode(), mtime=0), 3),
        ],
        schema=mm.JSONL_SHARD_SCHEMA,
    ).coalesce(1)  # one partition -> both shards in one Arrow batch
    out = mm.explode_jsonl_gz_shards(shards).collect()
    assert len(out) == n_big + 3
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard_id, []).append((r.line_no, r.doc_id))
    assert sorted(by_shard[1]) == [(i, i) for i in range(n_big)]
    assert sorted(by_shard[2]) == [(i, 100_000 + i) for i in range(3)]


def test_jsonl_shard_codings_bz2_xz_zstd(spark, tmp_path):
    """The shard exploder reads the codings public corpora actually
    use: bzip2 (classic CC dumps), xz (The Pile), and zstd (post-2023
    CC/RedPajama, via pyarrow's bundled codec) — including
    concatenated streams for all three — and the directory readers
    glob all four suffixes."""
    import bz2
    import gzip
    import json
    import lzma
    import struct

    import pyarrow as pa
    import pytest

    def shard_df(blob):
        return spark.createDataFrame(
            [(0, blob, 0)], schema=mm.JSONL_SHARD_SCHEMA
        )

    line = json.dumps({"id": 1, "text": "alpha"}).encode()
    line2 = json.dumps({"id": 2, "text": "beta"}).encode()

    zc = pa.Codec("zstd")
    z = lambda b: zc.compress(b, asbytes=True)  # noqa: E731
    for codec in (bz2.compress, lzma.compress, z):
        # concatenated streams must inflate completely
        blob = codec(line + b"\n") + codec(line2 + b"\n")
        out = mm.explode_jsonl_gz_shards(shard_df(blob)).collect()
        assert {(r.doc_id, r.text) for r in out} == {
            (1, "alpha"), (2, "beta")
        }

    # zstd shards that LEAD with a skippable frame (embedded
    # dictionary / seek-index convention) sniff and inflate too
    skippable = struct.pack("<II", 0x184D2A50, 8) + b"\x00" * 8
    out = mm.explode_jsonl_gz_shards(
        shard_df(skippable + z(line + b"\n"))
    ).collect()
    assert [(r.doc_id, r.text) for r in out] == [(1, "alpha")]

    # FCS-less frame from a streaming writer (frame header carries no
    # content size — the shape `zstd --stream` pipelines produce)
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as w:
        w.write(line + b"\n")
    streamed = sink.getvalue().to_pybytes()
    assert streamed[4] & 0xC0 == 0  # descriptor: FCS field absent
    out = mm.explode_jsonl_gz_shards(shard_df(streamed)).collect()
    assert [(r.doc_id, r.text) for r in out] == [(1, "alpha")]

    # corrupt / truncated / trailing-garbage zstd all raise loudly
    good = z(line + b"\n")
    for bad in (
        b"\x28\xb5\x2f\xfdgarbage",
        good[: len(good) // 2],
        good + b"NOTAZSTDFRAME",
    ):
        with pytest.raises(Exception, match="corrupt compressed"):
            mm.explode_jsonl_gz_shards(shard_df(bad)).collect()
    with pytest.raises(Exception, match="corrupt compressed"):
        mm.explode_jsonl_gz_shards(shard_df(b"BZhgarbage")).collect()

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "shard-1.jsonl.gz").write_bytes(gzip.compress(line, mtime=0))
    (d / "shard-2.jsonl.bz2").write_bytes(bz2.compress(line2))
    (d / "shard-3.jsonl.xz").write_bytes(
        lzma.compress(json.dumps({"id": 3, "text": "gamma"}).encode())
    )
    (d / "shard-4.jsonl.zst").write_bytes(
        z(json.dumps({"id": 4, "text": "delta"}).encode())
    )
    out = mm.ingest_jsonl_gz_dir(spark, str(d)).collect()
    assert {(r.shard_id, r.doc_id, r.text) for r in out} == {
        (1, 1, "alpha"), (2, 2, "beta"), (3, 3, "gamma"),
        (4, 4, "delta"),
    }


def test_shard_id_ignores_extension_digits(spark, tmp_path):
    """The '2' in a .bz2 EXTENSION must never become the shard id:
    shard-9.jsonl.bz2 is shard 9 (the raw last-digit-run extract read
    it as 2 — a silent mislabel that also collided any two .bz2
    shards; caught in the round-15 zstd audit), and two .bz2 shards
    with distinct ids coexist.  Version-tagged names like
    shard-7.v2.jsonl.gz keep the id left of the extension chain."""
    import bz2
    import gzip
    import json

    d = tmp_path / "bz2ids"
    d.mkdir()
    mk = lambda i, t: json.dumps({"id": i, "text": t}).encode()  # noqa: E731
    (d / "shard-8.jsonl.bz2").write_bytes(bz2.compress(mk(80, "eight")))
    (d / "shard-9.jsonl.bz2").write_bytes(bz2.compress(mk(90, "nine")))
    (d / "shard-7.v2.jsonl.gz").write_bytes(
        gzip.compress(mk(70, "seven"), mtime=0)
    )
    out = mm.ingest_jsonl_gz_dir(spark, str(d)).collect()
    assert {(r.shard_id, r.doc_id, r.text) for r in out} == {
        (8, 80, "eight"), (9, 90, "nine"), (7, 70, "seven")
    }


def test_zstd_shard_ingest_matches_registered_twin(spark, sf_smoke):
    """The unregistered zstd_shard_ingest entry must produce the
    registered jsonl_shard_ingest's rows EXACTLY (same output schema,
    same values — the shard coding is the only delta, so the oracle
    is shared verbatim).  Direct parity here while the entry is not
    registered."""
    from isaac_kafka_streaming_spark.queries import all_queries

    want = sorted(
        map(tuple, all_queries()["jsonl_shard_ingest"].fn(
            spark, sf_smoke
        ).collect())
    )
    got_df = mm.zstd_shard_ingest(spark, sf_smoke)
    got = sorted(map(tuple, got_df.collect()))
    assert got == want
    assert got_df.columns == ["doc_id", "text_md5", "n_bytes",
                              "shard_id", "line_no"]


def test_packers_zstd_codec_cross_coding_equality(spark, sf_smoke):
    """The write side's codec knob: both packers emit REAL .zst shards
    (jsonl: one frame per shard; WARC: one frame over the plain record
    stream) that explode to exactly the rows of their gzip twins, and
    an unknown codec raises up front."""
    import pytest

    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(24)

    gz = mm.explode_jsonl_gz_shards(
        mm.documents_as_jsonl_gz_shards(docs)
    ).collect()
    zs = mm.explode_jsonl_gz_shards(
        mm.documents_as_jsonl_gz_shards(docs, codec="zstd")
    ).collect()
    assert sorted(map(tuple, zs)) == sorted(map(tuple, gz))
    # the zstd blobs really are zstd frames, not gzip members
    blob = bytes(
        mm.documents_as_jsonl_gz_shards(docs, codec="zstd")
        .limit(1).collect()[0].blob
    )
    assert blob[:4] == b"\x28\xb5\x2f\xfd"

    wgz = mm.explode_warc_shards(mm.documents_as_warc_shards(docs)).collect()
    wzs = mm.explode_warc_shards(
        mm.documents_as_warc_shards(docs, codec="zstd")
    ).collect()
    assert sorted(map(tuple, wzs)) == sorted(map(tuple, wgz))

    with pytest.raises(ValueError, match="unknown shard codec"):
        mm.documents_as_jsonl_gz_shards(docs, codec="lz4")
    with pytest.raises(ValueError, match="unknown shard codec"):
        mm.documents_as_warc_shards(docs, codec="lz4")


def test_warc_zstd_shard_roundtrip(spark, sf_smoke):
    """A .warc.zst shard — one whole-shard zstd frame over the plain
    record stream, the post-2023 crawl-dump coding — explodes to
    exactly the rows of its member-gzip twin: same records, same
    framing walk, only the shard coding differs."""
    import pyarrow as pa

    from isaac_kafka_streaming_spark.extensions import codecs
    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(8)
    packed = mm.documents_as_warc_shards(docs).collect()
    rows_gz = mm.explode_warc_shards(
        mm.documents_as_warc_shards(docs)
    ).collect()
    zc = pa.Codec("zstd")
    zdf = spark.createDataFrame(
        [
            (
                r.shard_id,
                zc.compress(
                    codecs.inflate_shard(bytes(r.blob), "test"),
                    asbytes=True,
                ),
                r.n_docs,
            )
            for r in packed
        ],
        schema=mm.JSONL_SHARD_SCHEMA,
    )
    rows_z = mm.explode_warc_shards(zdf).collect()
    assert sorted(map(tuple, rows_z)) == sorted(map(tuple, rows_gz))
    assert len(rows_z) == 8


def test_jsonl_and_warc_shard_formats_agree(spark, sf_smoke):
    """Cross-format invariant: the jsonl.gz and WARC packers cover the
    same shard layout (floor(doc_id/8), doc_id order within shard), so
    exploding either must recover the identical (shard_id, doc_id,
    text) set — one oracle-checkable contract behind both container
    framings."""
    from isaac_kafka_streaming_spark.io import read_table

    docs = read_table(spark, sf_smoke, "documents").limit(40)
    via_jsonl = {
        (r.shard_id, r.doc_id, r.text)
        for r in mm.explode_jsonl_gz_shards(
            mm.documents_as_jsonl_gz_shards(docs)
        ).collect()
    }
    via_warc = {
        (
            r.shard_id,
            int(r.record_id.split(":")[-1].rstrip(">")),
            r.text,
        )
        for r in mm.explode_warc_shards(
            mm.documents_as_warc_shards(docs)
        ).collect()
    }
    assert via_jsonl == via_warc
    assert len(via_jsonl) == 40


def test_warc_curation_pipeline_matches_jsonl_composition(
    spark, sf_smoke
):
    """The two graded curation entries differ ONLY in the container
    framing the text round-trips through — their outputs must be
    row-identical (the composition-level twin of the ingest-level
    jsonl-vs-WARC round-trip pins)."""
    via_jsonl = sorted(
        tuple(r) for r in mm.curation_pipeline(spark, sf_smoke).collect()
    )
    via_warc = sorted(
        tuple(r)
        for r in mm.warc_curation_pipeline(spark, sf_smoke).collect()
    )
    assert via_warc == via_jsonl
    assert via_jsonl  # the gate keeps at least one language


def test_media_adpcm_roundtrip_samples(spark, sf_smoke):
    """The graded ADPCM entry's decoded samples equal a direct
    encode->decode through the codec pair, 32 per document, with
    sample 0 the verbatim block-header predictor
    (digest[0]-128)*256."""
    import hashlib
    import struct

    from isaac_kafka_streaming_spark.extensions.codecs import (
        adpcm_wav_encode,
        wav_decode_any,
    )

    docs = read_table(spark, sf_smoke, "documents").limit(10)
    texts = {r.doc_id: r.text for r in docs.collect()}
    got = {}
    out = mm.extract_audio_samples(
        mm.documents_as_adpcm_media(docs)
    ).collect()
    for r in out:
        assert r.coding == "adpcm"
        got.setdefault(r.media_id, {})[r.sample_no] = r.value
    assert set(got) == set(texts)
    for doc_id, text in texts.items():
        digest = hashlib.sha256(text.encode("utf-8")).digest()
        pcm = struct.pack("<32h", *((b - 128) * 256 for b in digest))
        _r, _c, n_frames, dec = wav_decode_any(
            adpcm_wav_encode(pcm, sample_rate=8000)
        )
        vals = struct.unpack(f"<{len(dec) // 2}h", dec)
        assert n_frames == 32
        assert got[doc_id] == {i: int(v) for i, v in enumerate(vals)}
        assert got[doc_id][0] == (digest[0] - 128) * 256


def test_adpcm_sql_recursion_matches_codec_on_arbitrary_samples():
    """The graded oracle's recursive-CTE ADPCM replay
    (mm._adpcm_recursion_sql) against the real codec on ARBITRARY
    full-range int16 sequences — the graded path only ever feeds it
    digest-lattice samples ((byte-128)*256); this drives the clamp
    boundaries (+/-32767/-32768 predictors), step-index saturation
    (long monotone runs pin idx at 88, silence runs at 0), and odd
    lengths the lattice never exercises.  Pure DuckDB + codec — no
    Spark."""
    import random
    import struct

    import duckdb

    from isaac_kafka_streaming_spark.extensions.codecs import (
        adpcm_wav_encode,
        wav_decode_any,
    )

    rng = random.Random(1521)
    cases = [
        [32767] * 33,                      # positive clamp + idx saturation
        [-32768] * 33,                     # negative clamp
        [0] * 17,                          # silence: idx pinned at 0
        [32767, -32768] * 16,              # max alternation
        [1],                               # header-only (no nibbles)
        [-1, 1],                           # single nibble
        list(range(-32768, 32768, 2048)),  # ramp
    ] + [
        [rng.randint(-32768, 32767) for _ in range(rng.randint(1, 64))]
        for _ in range(12)
    ]

    con = duckdb.connect()
    values = ", ".join(
        f"({mid}, {k}, {v})"
        for mid, samples in enumerate(cases)
        for k, v in enumerate(samples)
    )
    sql = mm._adpcm_recursion_sql(
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(k AS INTEGER) AS k, CAST(v AS INTEGER) AS v "
        f"FROM (VALUES {values}) t(media_id, k, v)"
    )
    got = {}
    for mid, _coding, k, v in con.execute(sql).fetchall():
        got.setdefault(mid, {})[k] = v

    for mid, samples in enumerate(cases):
        pcm = struct.pack(f"<{len(samples)}h", *samples)
        _r, _c, n_frames, dec = wav_decode_any(
            adpcm_wav_encode(pcm, sample_rate=8000)
        )
        vals = struct.unpack(f"<{len(dec) // 2}h", dec)
        assert n_frames == len(samples)
        assert got[mid] == {
            i: int(v) for i, v in enumerate(vals)
        }, f"case {mid}"
