"""Multimodal media rows over real PNG/APNG, WAV, JPEG, GIF and MP4 payloads: dims and frame-count histograms, audio statistics, frame sampling, perceptual near-dup pairs and audio ANN, all through Arrow-batched mapInPandas.

Importing this module registers its queries with the shared registry.
Every corpus is synthesized from the documents' ids
(multimodal/media.py), so each oracle predicts the engine's answer
arithmetically: the dims rows from closed-form headers, the pair rows
from the planted-pair list.
"""

from __future__ import annotations

from mapreducewordoccurences_spark.queries._shared import *  # noqa: F401,F403

# the planted-pair oracle: every doc_id with doc_id % 10 == residue
# carries the content of doc_id - 1 (the planted corpora of
# multimodal/media.py), counted only where that predecessor exists
_PLANTED = """
    FROM documents d JOIN documents o ON o.doc_id = d.doc_id - 1
    WHERE d.doc_id % 10 = {residue}
"""
_PLANTED_PAIRS = "SELECT d.doc_id - 1 AS doc_a, d.doc_id AS doc_b" + _PLANTED


def _fingerprints(df: DataFrame, key: str) -> DataFrame:
    """A media fingerprint frame without its undecodable (NULL-key)
    rows, persisted under the session's cache bound so the pairing
    join decodes each payload once."""
    return bounded_persist(df.filter(F.col(key).isNotNull()))


def _equal_key_pairs(df: DataFrame, key: str) -> DataFrame:
    """(doc_a, doc_b) for every two media with the same ``key``: the
    collision self-join (dedup/pairs.py collision_pairs) over one key
    per media id, so no duplicate-pair drop. The perceptual work is a
    map-only pass to one key per payload; pairing is one self-join
    shuffle on that key, and binary payloads never shuffle."""
    return collision_pairs(
        _fingerprints(df, key), "media_id", [key], distinct=False
    ).select("doc_a", "doc_b")


@register(
    "media_image_dims",
    # the Spark side round-trips encode (mapInPandas) -> binary payload
    # -> decode (mapInPandas) -> dims histogram; the oracle predicts
    # the same histogram arithmetically from make_fake_media's
    # closed-form dims — any plumbing break (header packing, Arrow
    # batch shape, NULL handling) diverges the hash.
    """
    SELECT CAST(16 + doc_id % 48 AS INT) AS width,
           CAST(16 + (doc_id * 7) % 40 AS INT) AS height,
           count(*) AS n_images
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_media_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: deterministic REAL PNG payloads
    (multimodal/media.py png_encode — stdlib zlib/struct codec, CRC'd
    chunks, deflated scanlines) encoded and decoded back through the
    codec in Arrow-batched mapInPandas, then a relational dims
    histogram. The oracle predicts the histogram arithmetically from
    the closed-form dims, so any codec or plumbing break diverges the
    hash."""
    from mapreducewordoccurences_spark.multimodal.media import (
        decode_image_meta,
        make_fake_media,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    meta = decode_image_meta(make_fake_media(docs))
    return meta.groupBy("width", "height").agg(F.count(F.lit(1)).alias("n_images"))


@register(
    "media_frame_sample",
    # n_frames = 1 + doc_id % 5 (make_fake_media), every 2nd frame
    # kept → frame indices range(0, n_frames, 2), oracle-computable
    # without touching payload bytes
    """
    SELECT doc_id AS media_id,
           CAST(unnest(range(0, CAST(1 + doc_id % 5 AS INT), 2)) AS INT) AS frame_idx
    FROM documents
    """,
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame-sampling fan-out (one row per kept frame)
    over deterministic REAL APNG clips — frame counts come from the
    acTL chunk via the stdlib codec."""
    from mapreducewordoccurences_spark.multimodal.media import (
        make_fake_media,
        sample_frames,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return sample_frames(make_fake_media(docs))


@register(
    "media_audio_stats",
    """
    WITH p AS (
      SELECT doc_id,
             8000 * (1 + doc_id % 3) AS sample_rate,
             1 + doc_id % 2 AS n_channels,
             64 + (doc_id * 13) % 400 AS n_samples,
             500 + (doc_id % 100) * 7 AS amp
      FROM documents
    )
    SELECT CAST(sample_rate AS INT) AS sample_rate,
           CAST(n_channels AS INT) AS n_channels,
           CAST(count(*) AS BIGINT) AS n_clips,
           CAST(sum(n_samples) AS BIGINT) AS total_samples,
           CAST(sum(n_samples) * 1000 AS DOUBLE) / sample_rate
             AS total_duration_ms,
           CAST(sum(amp) AS BIGINT) AS sum_rms,
           CAST(max(amp) AS BIGINT) AS max_peak
    FROM p GROUP BY sample_rate, n_channels
    """,
)
def q_media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-corpus profiling through a REAL codec end to end: WAV
    payloads are synthesized (stdlib ``wave`` encoder — genuine RIFF
    containers, square waves at id-derived amplitude), decoded back
    through the same codec, and profiled relationally (clips /
    samples / duration / RMS energy / peak per format bucket). Unlike
    the Pillow-optional image path, this real decode runs in ANY
    Python — no optional dependency — making it the always-on proof
    of the multimodal plumbing contract (multimodal/media.py).

    The oracle predicts every decoded field arithmetically from
    _audio_params: a square wave's RMS and peak are exactly its
    amplitude, so even the energy statistics are integer-exact
    cross-engine. duration is one int-to-double divide per group.

    Scale: encode/decode are Arrow-batched mapInPandas streaming
    batches (no whole-partition buffering); the aggregate is an
    ordinary groupBy on a 6-cell format key."""
    from mapreducewordoccurences_spark.multimodal.media import (
        decode_audio_meta,
        make_fake_audio,
    )

    docs = _t(spark, sf_dir, "documents")
    meta = decode_audio_meta(make_fake_audio(docs))
    return meta.groupBy("sample_rate", "n_channels").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("n_samples").alias("total_samples"),
        (
            (F.sum("n_samples") * 1000).cast("double") / F.col("sample_rate")
        ).alias("total_duration_ms"),
        F.sum("rms").alias("sum_rms"),
        F.max("peak").alias("max_peak"),
    )


@register(
    "media_image_dhash_pairs",
    # the planted pair list in closed form: every doc_id with
    # id % 10 == 1 carries the (brightness-shifted) pixel pattern of
    # id - 1 (make_planted_dup_images), and dHash is exactly
    # invariant under a non-wrapping uniform shift, so the engine's
    # hash-equal pair set IS the planted set (distinct base patterns
    # are per-id uniform draws: 64-bit collision odds ~2^-64)
    _PLANTED_PAIRS.format(residue=1),
)
def q_media_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup detection over REAL image bytes, end to
    end: synthesize grayscale PNGs with planted brightness-shifted
    duplicates (multimodal/media.py make_planted_dup_images), decode
    each through the stdlib codec and compute a 64-bit dHash
    (difference hash — grayscale, NN-resample to 9x8, one bit per
    adjacent-pixel comparison) in Arrow-batched mapInPandas, then
    pair up hash-equal images with the collision self-join
    (dedup/pairs.py collision_pairs, one key per image, so no
    duplicate-pair drop).

    This is the image-pipeline twin of exact text dedup: the
    expensive perceptual work is a map-only pass producing one
    64-bit key per image, and near-dup discovery is one self-join
    shuffle on that key — no pairwise image comparison anywhere, so the
    shape survives 100 TB of media (binary payloads never shuffle;
    only (id, hash) rows do). The acceptance oracle is the
    closed-form planted pair list, the planted-triangle pattern
    (queries/graph.py) applied to the multimodal tier."""
    from mapreducewordoccurences_spark.multimodal.media import (
        dhash_images,
        make_planted_dup_images,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return _equal_key_pairs(dhash_images(make_planted_dup_images(docs)), "dhash")


@register(
    "media_audio_fingerprint_pairs",
    # planted gain-scaled duplicates: ids with id % 10 == 3 carry the
    # window-amplitude profile of id - 1 times gain 3
    # (make_planted_dup_audio), and the energy-delta fingerprint is
    # exactly invariant under positive integer gain — the engine's
    # fingerprint-equal pair set IS the closed-form planted list
    _PLANTED_PAIRS.format(residue=3),
)
def q_media_audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection over REAL WAV bytes, end to end — the
    audio twin of media_image_dhash_pairs: synthesize PCM16 clips
    with planted gain-scaled duplicates, decode each through the
    stdlib wave codec and compute a 63-bit energy-delta fingerprint
    (sign of adjacent window-|amplitude| sums — gain-invariant
    because |c*x| = c*|x| preserves every comparison) in
    Arrow-batched mapInPandas, then pair fingerprint-equal clips
    with the collision self-join (dedup/pairs.py).

    Scale shape: identical to the image row — perceptual work is a
    map-only pass to one 64-bit key per clip; pairing is one
    self-join shuffle on that key; audio bytes never shuffle."""
    from mapreducewordoccurences_spark.multimodal.media import (
        audio_fingerprints,
        make_planted_dup_audio,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return _equal_key_pairs(audio_fingerprints(make_planted_dup_audio(docs)), "afp")


@register(
    "media_video_clip_dhash_pairs",
    # planted clip duplicates: ids with id % 10 == 7 carry every frame
    # of id - 1's clip brightness-shifted (make_planted_dup_clips);
    # per-frame dHash is shift-invariant, so the canonicalized clip
    # fingerprint matches exactly and the pair set is the closed-form
    # planted list
    _PLANTED_PAIRS.format(residue=7),
)
def q_media_video_clip_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-level (video) near-dup detection, completing the
    image/audio/video triad with a different distributed shape: each
    APNG clip fans out to one dHash row PER FRAME inside the decode
    batch (multimodal/media.py dhash_frames — payload decoded once,
    bytes never shuffle), then clip identity is an order-canonical
    aggregate (multimodal/media.py clip_fingerprints: sorted
    frame_idx:dhash list → md5) and pairing is the collision
    self-join on the clip fingerprint (dedup/pairs.py).

    Scale shape: the only shuffles carry (media_id, frame_idx, int64)
    and then (media_id, 128-bit fingerprint) rows — at 100 TB of
    video the shuffled bytes are ~20 B/frame, independent of frame
    size; the groupBy state is one row per clip."""
    from mapreducewordoccurences_spark.multimodal.media import (
        clip_fingerprints,
        dhash_frames,
        make_planted_dup_clips,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return _equal_key_pairs(
        clip_fingerprints(dhash_frames(make_planted_dup_clips(docs))), "clipfp"
    )


# ---------------------------------------------------------------------------
# JPEG, GIF and MP4 tiers — the vendored codecs (multimodal/jpeg.py,
# gif.py, mp4.py) under the oracle gate. Reference corpora are mostly
# JPEG; without these codecs a Pillow-less cluster would NULL every
# such payload's dims/features.
# ---------------------------------------------------------------------------


@register(
    "media_jpeg_dims",
    # make_fake_jpeg_media's dims/channels are closed-form in doc_id;
    # the Spark side must push every payload through a REAL JFIF
    # encode (gray + 4:2:0 color + restart markers) and re-derive the
    # histogram from the SOF headers via the vendored decoder
    """
    SELECT CAST(16 + doc_id % 48 AS INT) AS width,
           CAST(16 + (doc_id * 7) % 40 AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 3 END AS INT) AS channels,
           count(*) AS n_images
    FROM documents
    GROUP BY 1, 2, 3
    """,
)
def q_media_jpeg_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG plumbing end-to-end on a Pillow-less cluster: synthesize
    genuine baseline JFIF payloads (grayscale, 4:2:0 color, restart
    markers — multimodal/jpeg.py jpeg_encode), decode dims/channels
    back through the vendored SOF parser in Arrow-batched
    mapInPandas, and aggregate a dims histogram the oracle predicts
    arithmetically. Any container break (marker framing, SOF layout,
    component parsing) diverges the hash."""
    from mapreducewordoccurences_spark.multimodal.media import (
        decode_image_meta,
        make_fake_jpeg_media,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    meta = decode_image_meta(make_fake_jpeg_media(docs))
    return meta.groupBy("width", "height", "channels").agg(
        F.count(F.lit(1)).alias("n_images")
    )


@register(
    "media_jpeg_dhash_pairs",
    # planted BYTE-DISTINCT duplicates: ids with id % 10 == 1 encode
    # the same pixels as id - 1 under a different entropy stream
    # (restart markers reset DC prediction), which decodes
    # bit-identically — dHash equality pairing IS the planted list
    _PLANTED_PAIRS.format(residue=1),
)
def q_media_jpeg_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup over REAL JPEG bytes: the planted copies
    are different byte streams (DRI/RSTn entropy restarts) of the
    same pixels, so byte-level dedup can never pair them while the
    full decode → dHash → hash-equal self-join pipeline pairs them exactly
    (restart-variant decode equality is property-tested in
    tests/test_jpeg.py). Same 100 TB shape as the PNG row: map-only
    fingerprint pass, (id, hash) shuffle, binary payloads never
    move."""
    from mapreducewordoccurences_spark.multimodal.media import (
        dhash_images,
        make_planted_dup_jpegs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return _equal_key_pairs(dhash_images(make_planted_dup_jpegs(docs)), "dhash")


@register(
    "media_gif_dims",
    # make_fake_gif_media's dims/frame counts are closed-form in
    # doc_id; the Spark side pushes every payload through a REAL
    # GIF89a encode (incl. animation GCE blocks and interlacing) and
    # re-derives the histogram from block structure via the vendored
    # decoder (multimodal/gif.py) — no LZW work in the meta path
    """
    SELECT CAST(16 + doc_id % 48 AS INT) AS width,
           CAST(16 + (doc_id * 7) % 40 AS INT) AS height,
           CAST(sum(1 + doc_id % 3) AS BIGINT) AS total_frames,
           count(*) AS n_images
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_media_gif_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF plumbing end-to-end on a Pillow-less cluster: synthesize
    genuine GIF89a payloads (single- and
    multi-frame, every 3rd interlaced — multimodal/gif.py
    gif_encode), parse dims AND frame counts back through the
    vendored block walker in Arrow-batched mapInPandas, and aggregate
    a histogram the oracle predicts arithmetically. Any container
    break (LSD layout, sub-block framing, image-descriptor counting)
    diverges the hash."""
    from mapreducewordoccurences_spark.multimodal.media import (
        decode_image_meta,
        make_fake_gif_media,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    meta = decode_image_meta(make_fake_gif_media(docs))
    return meta.groupBy("width", "height").agg(
        F.sum("n_frames").alias("total_frames"),
        F.count(F.lit(1)).alias("n_images"),
    )


@register(
    "media_gif_dhash_pairs",
    # planted BYTE-DISTINCT duplicates: ids with id % 10 == 1 encode
    # the same pixels as id - 1 INTERLACED (different LZW stream,
    # identical pixels — GIF is lossless), so dHash equality pairing
    # IS the planted list
    _PLANTED_PAIRS.format(residue=1),
)
def q_media_gif_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup over REAL GIF bytes through the vendored
    LZW decoder: planted copies are interlaced re-encodes (byte-
    distinct, bit-identical pixels — property-tested in
    tests/test_gif.py and cross-validated against javax.imageio), so
    byte-level dedup can never pair them while decode → dHash →
    hash-equal self-join pairs them exactly. Same 100 TB shape as the
    PNG/JPEG rows: map-only fingerprint pass, (id, hash) shuffle,
    binary payloads never move."""
    from mapreducewordoccurences_spark.multimodal.media import (
        dhash_images,
        make_planted_dup_gifs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return _equal_key_pairs(dhash_images(make_planted_dup_gifs(docs)), "dhash")


@register(
    "media_mp4_dims",
    # make_fake_mp4_media's metadata is closed-form in doc_id; the
    # Spark side muxes genuine MJPEG MP4s (vendored ISO BMFF,
    # multimodal/mp4.py) and re-derives dims/frames/duration from the
    # sample tables — no sample bytes touched in the meta path
    """
    SELECT CAST(16 + doc_id % 48 AS INT) AS width,
           CAST(16 + (doc_id * 7) % 40 AS INT) AS height,
           CAST(sum(1 + doc_id % 4) AS BIGINT) AS total_frames,
           CAST(sum((1 + doc_id % 4) * 100) AS DOUBLE) AS total_ms,
           count(*) AS n_clips
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_media_mp4_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 container plumbing end-to-end WITHOUT ffmpeg: mux genuine
    MJPEG MP4s (every sample a complete JFIF stream), walk the ISO BMFF sample tables back (stsd dims,
    stts/stsz frame counts, mdhd timescale→duration) in Arrow-batched
    mapInPandas, and aggregate a histogram the oracle predicts
    arithmetically. Any container break (box framing, sample-table
    layout, 64-bit sizes) diverges the hash. The engine has no H.264
    sample decoder — this row proves the container layer itself is
    real with zero native deps."""
    from mapreducewordoccurences_spark.multimodal.media import (
        decode_mp4_meta,
        make_fake_mp4_media,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    meta = decode_mp4_meta(make_fake_mp4_media(docs))
    return meta.groupBy("width", "height").agg(
        F.sum("n_frames").alias("total_frames"),
        F.sum("duration_ms").alias("total_ms"),
        F.count(F.lit(1)).alias("n_clips"),
    )


@register(
    "media_mp4_clip_dhash_pairs",
    # planted BYTE-DISTINCT duplicate clips: ids with id % 10 == 1
    # carry the same frames as id - 1 with every sample re-encoded as
    # progressive JPEG — per-sample pixels decode bit-identically, so
    # the clip fingerprint pairing IS the planted list
    _PLANTED_PAIRS.format(residue=1),
)
def q_media_mp4_clip_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-level near-dup over REAL MP4 bytes in the default
    environment: demux each MJPEG MP4 (vendored ISO BMFF walker),
    dHash every sample through the vendored JPEG codec (one row per
    frame inside the decode batch — the media_video_clip_dhash_pairs
    fan-out shape), collapse to the same order-sensitive clip
    fingerprint (clip_fingerprints), and pair fingerprint-equal clips
    with the collision self-join.
    The planted copies are progressive re-encodes muxed into a
    different container stream — byte-level dedup can never pair
    them; bit-identical sample decode (tests/test_jpeg.py) guarantees
    the fingerprints match exactly. 100 TB shape: payloads never
    shuffle, ~20 B/frame moves."""
    from mapreducewordoccurences_spark.multimodal.media import (
        clip_fingerprints,
        dhash_frames,
        make_planted_dup_mp4s,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return _equal_key_pairs(
        clip_fingerprints(dhash_frames(make_planted_dup_mp4s(docs))), "clipfp"
    )


@register(
    "media_jpeg_requant_recall",
    # the acceptance contract of the Hamming-tolerant tier on a
    # deterministic 400-doc panel: n_planted is closed-form; recall
    # of the planted quality-re-encoded pairs must clear 0.9
    "SELECT CAST(count(*) AS BIGINT) AS n_planted, TRUE AS recall_ok"
    + _PLANTED.format(residue=1)
    + "AND d.doc_id < 400",
)
def q_media_jpeg_requant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real-corpus JPEG near-dup: same image re-encoded at a
    different quality (75 vs 90) — decoded pixels genuinely differ,
    so pairing needs the Hamming-tolerant tier
    (dedup/pairs.py hamming_ball_pairs, the one pigeonhole ball that
    SimHash also uses, over the signed 64-bit dHash, d ≤ 8). Measured on the smooth-pattern family: copy
    distance ≤ 5 across 120 ids, distinct patterns ~32 bits apart —
    the d=8 ball pairs every planted copy with margin. Panel-scoped
    (doc_id < 400) like the SemDeDup recall audit: the acceptance is
    a property of the codec+hash geometry, not of corpus size, and
    the ball join's selectivity floor (7-bit blocks) does not need
    scale exercise here — dedup_simhash_pairs covers that shape."""
    from mapreducewordoccurences_spark.multimodal.media import (
        dhash_images,
        make_requant_dup_jpegs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 400
    )
    h = _fingerprints(dhash_images(make_requant_dup_jpegs(docs)), "dhash")
    found = hamming_ball_pairs(
        h, "media_id", "dhash", max_distance=8, bits=64
    ).select(
        "doc_a", "doc_b", F.lit(1).alias("__hit")
    )
    # semi-join doc_a back to documents so both engines count the same
    # planted set: the oracle joins on the predecessor's EXISTENCE, so a
    # corpus with a gap right before an id ≡ 1 (mod 10) must not charge
    # recall for a pair that cannot exist
    ids = _t(spark, sf_dir, "documents").select("doc_id")
    planted = (
        ids.where((F.col("doc_id") % 10 == 1) & (F.col("doc_id") < 400))
        .select(
            (F.col("doc_id") - 1).alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
        .join(
            ids.select(F.col("doc_id").alias("doc_a")), "doc_a", "semi"
        )
    )
    marked = planted.join(found, ["doc_a", "doc_b"], "left")
    n = F.count(F.lit(1))
    return marked.agg(
        n.alias("n_planted"),
        ((n == 0) | (F.count("__hit") / n >= 0.9)).alias("recall_ok"),
    )


@register(
    "media_audio_ivf_topk",
    # same acceptance contract as the embedding ANN tiers, for audio:
    # per-probe recall@5 of the IVF tier vs brute force over the
    # window-energy vectors (both computed by the engine; the oracle
    # states the acceptance the booleans must meet)
    """
    SELECT doc_id AS query_id, CAST(5 AS INT) AS k, TRUE AS recall_ok
    FROM documents WHERE doc_id < 10
    """,
)
def q_media_audio_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-similarity ANN: the IVF lifecycle
    reused unchanged over AUDIO-derived vectors — synthesize the
    planted-dup WAV corpus, map each clip to its L2-normalized 64-d
    window-energy profile (multimodal/media.py audio_energy_vectors;
    the embedding stand-in this box can compute deterministically),
    then run the same inline IVF-flat tier the embedding rows gate
    (functions/similarity.py ivf_knn: k-means cells, nprobe-pruned
    candidate join, exact re-rank) against brute force. Acceptance:
    per-probe recall@5 >= 0.4 (nprobe 4 of nlist 8 scans ~half the
    cells; planted gain-dups sit at cosine ~1 and anchor recall).

    Scale shape: decode + vectorize is the map-only mapInPandas pass
    (audio bytes never shuffle, 64 doubles/clip move); the ANN is the
    embedding tier's own plan — at real scale the persisted
    build_ivf_index/ivf_probe layout applies verbatim to these
    vectors."""
    from mapreducewordoccurences_spark.functions.similarity import ivf_knn
    from mapreducewordoccurences_spark.multimodal.media import (
        audio_energy_vectors,
        make_planted_dup_audio,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    vecs = bounded_persist(
        audio_energy_vectors(make_planted_dup_audio(docs))
        .filter(F.col("embedding").isNotNull())
        .select(F.col("media_id").alias("vec_id"), "embedding")
    )
    queries = vecs.where(F.col("vec_id") < 10)
    approx = ivf_knn(vecs, queries, k=5, nlist=8, nprobe=4)
    exact = brute_force_knn(vecs, queries, k=5)
    return _knn_recall_acceptance(approx, exact, queries, k=5, min_recall=0.4)
