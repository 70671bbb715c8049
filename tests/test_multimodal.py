"""Multimodal plumbing tests: binary payload columns through
Arrow-batched mapInPandas decoders — the stdlib PNG/APNG and WAV
codecs, dHash, audio fingerprints and energy vectors, the synthetic
corpora's pinned payload bytes, and the Spark-side
schema/batching/partitioning around them.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapreducewordoccurences_spark.multimodal import (
    MEDIA_SCHEMA,
    decode_image_meta,
    sample_frames,
)
from mapreducewordoccurences_spark.multimodal.media import png_encode


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "image", png_encode(64, 48, 3, 1), ("s3://x/1", "image/png", 100)),
        (2, "image", png_encode(320, 240, 3, 1), ("s3://x/2", "image/png", 200)),
        (3, "video", png_encode(16, 16, 3, 10), ("s3://x/3", "image/apng", 300)),
        (4, "image", b"garbage-not-an-image", ("s3://x/4", "image/png", 20)),
        (5, "image", None, ("s3://x/5", "image/png", 0)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3)


def test_decode_image_meta(media_df):
    got = {r["media_id"]: (r["width"], r["height"], r["channels"], r["n_frames"])
           for r in decode_image_meta(media_df).collect()}
    assert got[1] == (64, 48, 3, 1)
    assert got[2] == (320, 240, 3, 1)
    assert got[3] == (16, 16, 3, 10)
    assert got[4] == (None, None, None, None)  # corrupt → NULLs, no failure
    assert got[5] == (None, None, None, None)


def test_sample_frames_fanout(media_df):
    out = sample_frames(media_df).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert sorted(by_id[3]) == [0, 2, 4, 6, 8]  # 10 frames, every 2nd
    assert sorted(by_id[1]) == [0]
    assert 4 not in by_id  # corrupt payload contributes no frames


def test_make_fake_media_closed_form_dims(spark):
    from mapreducewordoccurences_spark.multimodal.media import (
        decode_image_meta,
        make_fake_media,
    )

    ids = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    meta = {r["media_id"]: r for r in decode_image_meta(make_fake_media(ids)).collect()}
    for i in range(50):
        r = meta[i]
        assert (r["width"], r["height"], r["channels"], r["n_frames"]) == (
            16 + i % 48, 16 + (i * 7) % 40, 1 + i % 3, 1 + i % 5,
        )


# ---- real-codec path ------------------------------------------------
# PNG now decodes through the engine's own stdlib codec (zlib+struct)
# in ANY Python — no Pillow needed. A minimal valid PNG is
# hand-assembled here independently of the engine's encoder, so the
# decode assertions exercise the parser against foreign bytes, not
# just its own output. Pillow (when present) covers other formats.

def _png_bytes(w: int, h: int, rgb=(255, 0, 0)) -> bytes:
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + bytes(rgb) * w for _ in range(h))
    return sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_real_codec_decode_png(spark):
    rows = [(1, _png_bytes(3, 2)), (3, b"junk")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in decode_image_meta(df).collect()}
    # the corrupt path is codec-independent
    assert got[3]["width"] is None
    # foreign PNG bytes decode through the stdlib codec — no Pillow
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (3, 2, 3)
    assert got[1]["n_frames"] == 1


# ---- audio: REAL stdlib-wave codec path (no optional deps) ----------

class TestAudioCodecPath:
    def test_wav_roundtrip_exact_meta(self, spark):
        from mapreducewordoccurences_spark.multimodal.media import (
            _audio_params,
            decode_audio_meta,
            make_fake_audio,
        )

        df = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
        got = {
            r["media_id"]: r
            for r in decode_audio_meta(make_fake_audio(df)).collect()
        }
        for i in range(20):
            rate, ch, n, amp = _audio_params(i)
            r = got[i]
            assert (
                r["sample_rate"], r["n_channels"], r["n_samples"],
                r["rms"], r["peak"],
            ) == (rate, ch, n, amp, amp)

    def test_corrupt_and_null_payloads_take_null_path(self, spark):
        from mapreducewordoccurences_spark.multimodal.media import (
            decode_audio_meta,
            fake_audio_bytes,
        )

        rows = [
            (1, fake_audio_bytes(1)),
            (2, b"RIFFjunk not a wav"),
            (3, None),
            (4, fake_audio_bytes(4)[:20]),  # truncated header
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        got = {r["media_id"]: r for r in decode_audio_meta(df).collect()}
        assert got[1]["rms"] is not None
        for bad in (2, 3, 4):
            assert got[bad]["sample_rate"] is None
            assert got[bad]["rms"] is None

    def test_real_wav_from_stdlib_writer_decodes(self, spark):
        # a WAV produced independently of fake_audio_bytes (different
        # params: 3-channel, constant DC value) decodes through the
        # same path — proving the codec is real, not format-matched
        import io
        import struct as st
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(3)
            w.setsampwidth(2)
            w.setframerate(44100)
            w.writeframes(st.pack("<h", -123) * 3 * 50)
        from mapreducewordoccurences_spark.multimodal.media import (
            decode_audio_meta,
        )

        df = spark.createDataFrame(
            [(9, buf.getvalue())], "media_id long, payload binary"
        )
        r = decode_audio_meta(df).collect()[0]
        assert (r["sample_rate"], r["n_channels"], r["n_samples"]) == (44100, 3, 50)
        assert (r["rms"], r["peak"]) == (123, 123)


# ---- stdlib PNG/APNG codec ------------------------------------------

def test_png_codec_roundtrip_all_shapes():
    from mapreducewordoccurences_spark.multimodal.media import (
        _png_frame_pixels,
        _png_meta,
        _png_pixels,
        png_encode,
    )

    for (w, h, c, f) in [(16, 16, 1, 1), (20, 18, 3, 1), (63, 55, 3, 5),
                         (17, 19, 2, 3), (8, 8, 4, 2)]:
        p = png_encode(w, h, c, f)
        assert p.startswith(b"\x89PNG\r\n\x1a\n")
        assert _png_meta(p) == (w, h, c, f)
        for fr in range(f):
            assert _png_pixels(p, fr) == _png_frame_pixels(w, h, c, fr)


def test_png_codec_fails_closed_on_corruption():
    from mapreducewordoccurences_spark.multimodal.media import (
        _png_meta,
        _png_pixels,
        png_encode,
    )

    good = png_encode(10, 10, 3, 1)
    assert _png_meta(b"junk") is None
    assert _png_meta(good[:20]) is None
    flipped = bytearray(good)
    flipped[30] ^= 0xFF  # CRC mismatch somewhere in the chunk stream
    assert (_png_meta(bytes(flipped)) is None
            or _png_pixels(bytes(flipped)) is None)


def test_png_unfilter_all_filter_types():
    """The decoder must reconstruct rows written with every PNG filter
    type (Sub/Up/Average/Paeth), not just the filter-0 stream our own
    encoder emits — assemble a filtered image by hand and compare to
    the reference reconstruction from the spec."""
    import struct
    import zlib

    from mapreducewordoccurences_spark.multimodal.media import (
        _png_pixels,
    )

    w, h, c = 4, 5, 3
    px = [(y * 40 + x * 7 + k * 3) % 256
          for y in range(h) for x in range(w) for k in range(c)]
    row = w * c

    def raw_row(y):
        return px[y * row:(y + 1) * row]

    # filter each row with a different type (0..4)
    stream = bytearray()
    for y in range(h):
        ftype = y % 5
        stream.append(ftype)
        cur, prev = raw_row(y), (raw_row(y - 1) if y else [0] * row)
        for x in range(row):
            a = cur[x - c] if x >= c else 0
            b = prev[x]
            cc = prev[x - c] if x >= c else 0
            if ftype == 0:
                enc = cur[x]
            elif ftype == 1:
                enc = (cur[x] - a) % 256
            elif ftype == 2:
                enc = (cur[x] - b) % 256
            elif ftype == 3:
                enc = (cur[x] - (a + b) // 2) % 256
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                enc = (cur[x] - pr) % 256
            stream.append(enc)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(bytes(stream)))
               + chunk(b"IEND", b""))
    assert _png_pixels(payload) == bytes(px)


def test_make_fake_media_payloads_are_real_png(spark):
    from mapreducewordoccurences_spark.multimodal.media import (
        _png_meta,
        make_fake_media,
        sample_frames,
    )

    ids = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    rows = {r["media_id"]: r for r in make_fake_media(ids).collect()}
    for i in range(12):
        meta = _png_meta(bytes(rows[i]["payload"]))
        assert meta == (16 + i % 48, 16 + (i * 7) % 40, 1 + i % 3, 1 + i % 5)
        assert rows[i]["meta"]["mime"] == "image/png"
    # frame sampling reads APNG acTL frame counts through the codec
    by_id = {}
    for r in sample_frames(make_fake_media(ids)).collect():
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert sorted(by_id[4]) == [0, 2, 4]  # 1 + 4 % 5 = 5 frames


class TestDhashPerceptualDedup:
    def test_uniform_shift_invariance_and_distinctness(self):
        """A non-wrapping brightness shift must not change the dHash;
        distinct random patterns must (codec-level unit check)."""
        from mapreducewordoccurences_spark.multimodal.media import (
            _dhash_one,
            png_encode,
        )

        rng = np.random.RandomState(42)
        base = rng.randint(0, 246, 32 * 32).astype(np.uint8)
        other = rng.randint(0, 246, 32 * 32).astype(np.uint8)
        h_base = _dhash_one(png_encode(32, 32, 1, 1, frames=[base.tobytes()]))
        h_shift = _dhash_one(
            png_encode(32, 32, 1, 1, frames=[(base + np.uint8(9)).tobytes()])
        )
        h_other = _dhash_one(png_encode(32, 32, 1, 1, frames=[other.tobytes()]))
        assert h_base == h_shift
        assert h_base != h_other
        assert _dhash_one(b"not a png") is None

    def test_rgb_channel_mean_shift_invariance(self):
        """Grayscale = exact integer channel mean, so a uniform shift
        applied to EVERY channel stays a uniform gray shift."""
        from mapreducewordoccurences_spark.multimodal.media import (
            _dhash_one,
            png_encode,
        )

        rng = np.random.RandomState(7)
        base = rng.randint(0, 240, 16 * 16 * 3).astype(np.uint8)
        a = _dhash_one(png_encode(16, 16, 3, 1, frames=[base.tobytes()]))
        b = _dhash_one(
            png_encode(16, 16, 3, 1, frames=[(base + np.uint8(6)).tobytes()])
        )
        assert a == b and a is not None

    def test_planted_pairs_end_to_end(self, spark):
        """The distributed pipeline finds exactly the planted pairs."""
        from pyspark.sql import functions as F

        from mapreducewordoccurences_spark.multimodal.media import (
            dhash_images,
            make_planted_dup_images,
        )

        docs = spark.range(40).withColumnRenamed("id", "doc_id")
        h = dhash_images(make_planted_dup_images(docs))
        a = h.select(F.col("media_id").alias("doc_a"), "dhash")
        b = h.select(F.col("media_id").alias("doc_b"), "dhash")
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in a.join(b, "dhash")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .collect()
        }
        assert pairs == {(0, 1), (10, 11), (20, 21), (30, 31)}


class TestAudioFingerprintDedup:
    def test_gain_invariance_and_distinctness(self):
        from mapreducewordoccurences_spark.multimodal.media import (
            _audio_fingerprint_one,
        )

        def wav(amps):
            import io
            import wave

            samples = np.repeat(amps.astype(np.int16), 8)
            sign = np.where((np.arange(samples.size) // 4) % 2 == 0, 1, -1)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(8000)
                w.writeframes((samples * sign).astype("<i2").tobytes())
            return buf.getvalue()

        rng = np.random.RandomState(11)
        a = rng.randint(50, 1000, 64)
        b = rng.randint(50, 1000, 64)
        fp_a = _audio_fingerprint_one(wav(a))
        fp_scaled = _audio_fingerprint_one(wav(a * 5))
        fp_b = _audio_fingerprint_one(wav(b))
        assert fp_a == fp_scaled and fp_a is not None
        assert fp_a != fp_b
        assert _audio_fingerprint_one(b"not a wav") is None

    def test_planted_pairs_end_to_end(self, spark):
        from pyspark.sql import functions as F

        from mapreducewordoccurences_spark.multimodal.media import (
            audio_fingerprints,
            make_planted_dup_audio,
        )

        docs = spark.range(40).withColumnRenamed("id", "doc_id")
        h = audio_fingerprints(make_planted_dup_audio(docs))
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in h.select(F.col("media_id").alias("doc_a"), "afp")
            .join(h.select(F.col("media_id").alias("doc_b"), "afp"), "afp")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .collect()
        }
        assert pairs == {(2, 3), (12, 13), (22, 23), (32, 33)}


class TestVideoClipDhashDedup:
    def test_frame_fanout_and_shift_invariance(self, spark):
        from pyspark.sql import functions as F

        from mapreducewordoccurences_spark.multimodal.media import (
            dhash_frames,
            make_planted_dup_clips,
        )

        docs = spark.range(20).withColumnRenamed("id", "doc_id")
        fr = dhash_frames(make_planted_dup_clips(docs))
        # fan-out: 4 hash rows per clip, all frames decoded
        counts = {r["media_id"]: r["n"] for r in
                  fr.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
        assert all(v == 4 for v in counts.values()) and len(counts) == 20
        # planted copy (id 7 <- id 6, id 17 <- id 16): per-frame equal
        h = {(r["media_id"], r["frame_idx"]): r["dhash"] for r in fr.collect()}
        for f in range(4):
            assert h[(6, f)] == h[(7, f)]
            assert h[(16, f)] == h[(17, f)]
        # distinct patterns differ (frame 0 of clip 0 vs clip 2)
        assert h[(0, 0)] != h[(2, 0)]
        # frames within a clip differ (per-frame seeds)
        assert h[(0, 0)] != h[(0, 1)]

    def test_planted_clip_pairs_end_to_end(self, spark):
        from mapreducewordoccurences_spark.queries import QUERIES

        got = {
            (r["doc_a"], r["doc_b"])
            for r in QUERIES["media_video_clip_dhash_pairs"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert got == {(i - 1, i) for i in range(7, 500, 10)}


def test_window_energies_shape_and_gain_scaling():
    from mapreducewordoccurences_spark.multimodal.media import (
        _window_energies,
        fake_audio_bytes,
    )

    e = _window_energies(fake_audio_bytes(7))
    assert e is not None and e.shape == (64,) and (e > 0).all()
    # corrupt bytes take the NULL path
    assert _window_energies(b"RIFFgarbage") is None
    assert _window_energies(None) is None


def test_normalized_energy_vector_is_gain_invariant():
    """A gain-scaled clip must normalize to (numerically) the same
    vector — the property the audio IVF row's planted dups rely on."""
    import io
    import wave

    from mapreducewordoccurences_spark.multimodal.media import _window_energies

    def wav(gain: int) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            rng = np.random.RandomState(5)
            amps = rng.randint(50, 1000, 64)
            frames = np.repeat(amps * gain, 8).astype("<i2")
            frames[::2] *= -1
            w.writeframes(frames.tobytes())
        return buf.getvalue()

    a = _window_energies(wav(1)).astype(np.float64)
    b = _window_energies(wav(3)).astype(np.float64)
    na, nb = a / np.linalg.norm(a), b / np.linalg.norm(b)
    cos = float(na @ nb)
    assert cos > 1 - 1e-12


# ---- synthetic corpora: one shell, pinned payloads -------------------

# generator → (payload function, kind, mime, md5 of the payloads of
# ids 0..199 concatenated in id order). The digests pin every byte the
# catalog's media rows decode, so a refactor of a payload function
# that changes one pixel, header field or codec option fails here.
CORPORA = {
    "make_fake_media": (
        "fake_png_bytes", "image", "image/png",
        "24a8b6bdcc6ed67e067a43fefdc327d9",
    ),
    "make_fake_audio": (
        "fake_audio_bytes", "audio", "audio/wav",
        "8bd00073e8b5beb9dff27ad80e64c824",
    ),
    "make_planted_dup_images": (
        "planted_png_bytes", "image", "image/png",
        "f9d2c9c8998aa339b8ceee0f1850fb25",
    ),
    "make_planted_dup_audio": (
        "planted_wav_bytes", "audio", "audio/wav",
        "b43c664c73180a2ef5a3a527128568b6",
    ),
    "make_planted_dup_clips": (
        "planted_apng_bytes", "video", "image/apng",
        "72de0f72c26a285b9d163e5347069fc6",
    ),
    "make_planted_dup_jpegs": (
        "planted_jpeg_bytes", "image", "image/jpeg",
        "b49412106d9691b3e6bddaaf5e086ca3",
    ),
    "make_requant_dup_jpegs": (
        "requant_jpeg_bytes", "image", "image/jpeg",
        "237e39aea5da8f3a4c2b3bfeee64bfef",
    ),
    "make_fake_gif_media": (
        "fake_gif_bytes", "image", "image/gif",
        "61c81a39cf700bd5579a1623260c4e0e",
    ),
    "make_planted_dup_gifs": (
        "planted_gif_bytes", "image", "image/gif",
        "b3b5097b8462c1e6f97e1d37f0d723fc",
    ),
    "make_fake_jpeg_media": (
        "fake_jpeg_bytes", "image", "image/jpeg",
        "32ae95b0d6876d4283bd5336b8fd7fe4",
    ),
    "make_fake_mp4_media": (
        "fake_mp4_bytes", "video", "video/mp4",
        "3693a1eb56f44feb80cb77e1bd175e42",
    ),
    "make_planted_dup_mp4s": (
        "planted_mp4_bytes", "video", "video/mp4",
        "8884fd8e6b0603818d25a6f1b4a74b43",
    ),
}


@pytest.mark.parametrize("generator", sorted(CORPORA))
def test_payload_bytes_are_pinned(generator):
    from mapreducewordoccurences_spark.multimodal import media

    payload_of, _kind, _mime, md5 = CORPORA[generator]
    fn = getattr(media, payload_of)
    got = hashlib.md5(b"".join(fn(i) for i in range(200))).hexdigest()
    assert got == md5


def test_generators_wrap_their_payload_functions(spark):
    """Each generator is the one shell around its payload function:
    same bytes per id, its kind and mime, and the byte count in meta."""
    from mapreducewordoccurences_spark.multimodal import media

    ids = spark.range(4).select(F.col("id").alias("doc_id"))
    frames = [
        getattr(media, g)(ids).select(F.lit(g).alias("gen"), "*")
        for g in sorted(CORPORA)
    ]
    union = frames[0]
    for f in frames[1:]:
        union = union.unionByName(f)
    rows = union.collect()
    assert len(rows) == 4 * len(CORPORA)
    for r in rows:
        payload_of, kind, mime, _md5 = CORPORA[r["gen"]]
        want = getattr(media, payload_of)(r["media_id"])
        assert bytes(r["payload"]) == want, r["gen"]
        assert (r["kind"], r["meta"]["mime"]) == (kind, mime), r["gen"]
        assert r["meta"]["source"] == "synthetic"
        assert r["meta"]["bytes"] == len(want)
