"""Multimodal (image/audio/video) column plumbing.

Media travels as opaque ``binary`` columns with typed metadata — the
standard Spark shape for multimodal training data (payloads stay
byte-for-byte, metadata is columnar and prunable). Heavy per-item work
(decode, feature extraction, frame sampling) runs in Arrow-batched
``mapInPandas`` so Python touches data once per batch, not once per
row, and each task streams batches — no executor needs a whole
partition of media in memory at once.

Two shells carry every media map. ``_synthetic_media`` turns an id
column into MEDIA_SCHEMA rows through a pure per-id payload function
(the ``*_bytes`` functions below); ``_map_payloads`` turns payloads
into typed rows through a pure per-payload row function. Everything
else in this module is Spark-free.

Codec note: image payloads go through a REAL PNG/APNG codec built on
stdlib ``zlib`` + ``struct`` (``png_encode`` / ``_png_meta`` /
``_png_pixels`` — CRC-checked chunks, deflated filtered scanlines,
spec-complete APNG for multi-frame clips), mirroring the audio
tier's stdlib-``wave`` path: genuine bit-format round-trips with
zero native deps. JPEG — the format most of a real training corpus
arrives in — is handled by a vendored codec (multimodal/jpeg.py:
full Huffman/DCT decode incl. 4:2:0, restart markers and progressive
SOF2 with successive approximation; encoders for planted corpora;
cross-validated against javax.imageio in tests/test_jpeg.py), GIF by
a vendored LZW codec (multimodal/gif.py), MJPEG MP4 by a vendored ISO
BMFF muxer/demuxer (multimodal/mp4.py), and Pillow remains a
try-import fallback for the REMAINING formats (TIFF/WebP/...) —
absent Pillow those yield NULL dims, the same graceful path corrupt
bytes take, so jobs never fail on codec availability. The Spark-side
contract — schemas, batch iteration, partitioning — is identical on
every path.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# (id, kind, payload, meta) — the engine's canonical media row
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType(), True),
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)


def _cpu_partitions(ids: DataFrame) -> DataFrame:
    """Repartition an id frame to the session's full parallelism
    before CPU-bound mapInPandas generation.

    A synthetic-media generator would otherwise inherit the parquet
    SCAN's partitioning, which is sized for IO (maxPartitionBytes):
    at sf1 the documents file yields TWO input splits, so a 500k-image
    pure-Python encode+decode chain ran on one or two of 32 cores
    (the JPEG row took ~30 min per run on one core vs ~55 s at full
    width). The shuffle this inserts moves only 8-byte ids — nothing
    against the decode CPU it unlocks; every downstream mapInPandas
    (decode/dHash/featurize) inherits the widened partitioning,
    payloads still never shuffle."""
    spark = ids.sparkSession
    return ids.repartition(spark.sparkContext.defaultParallelism)


def _synthetic_media(
    df: DataFrame,
    id_col: str,
    kind: str,
    mime: str,
    payload_of: Callable[[int], bytes],
) -> DataFrame:
    """MEDIA_SCHEMA rows ``(id, kind, payload_of(id), meta)`` for every
    id of ``df[id_col]``. The testdata has no binary media, so every
    corpus is a pure function of the id and oracles can predict what
    decodes from it. The encode runs in Arrow-batched mapInPandas over
    ids widened to every core (``_cpu_partitions``), exactly like a
    real media ingest would."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [payload_of(int(i)) for i in ids]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": kind,
                    "payload": payloads,
                    "meta": [
                        {"source": "synthetic", "mime": mime, "bytes": len(p)}
                        for p in payloads
                    ],
                }
            )

    return _cpu_partitions(df.select(id_col)).mapInPandas(gen, MEDIA_SCHEMA)


# pandas dtype per Spark field type: the nullable extension dtypes
# carry NULL through integer and double fields; other fields (strings,
# arrays) travel as Python objects
_PANDAS_DTYPE = {"integer": "Int32", "long": "Int64", "double": "Float64"}


def _map_payloads(
    df: DataFrame,
    schema: T.StructType,
    rows_of: Callable[[bytes | None], list[tuple]],
    payload_col: str,
    id_col: str,
) -> DataFrame:
    """payload → rows of ``schema`` via Arrow-batched mapInPandas.
    ``schema`` starts with ``media_id``; ``rows_of(payload)`` returns
    the other fields of each output row for one payload: one row for
    the meta, hash and vector decoders, 0..n for the frame fan-outs.
    Undecodable payloads yield NULL fields or no rows, never a failed
    job (at 100 TB some corruption is guaranteed), and payload bytes
    never shuffle."""
    fields = schema.fields[1:]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rows = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                for row in rows_of(payload):
                    ids.append(mid)
                    rows.append(row)
            cols = {"media_id": pd.array(ids, dtype="int64")}
            for k, f in enumerate(fields):
                col = [r[k] for r in rows]
                dtype = _PANDAS_DTYPE.get(f.dataType.typeName())
                cols[f.name] = col if dtype is None else pd.array(col, dtype=dtype)
            yield pd.DataFrame(cols)

    return df.select(id_col, payload_col).mapInPandas(decode, schema)


# ---------------------------------------------------------------------------
# Real image codec with ZERO optional deps: PNG / APNG via stdlib
# ``zlib`` + ``struct`` (mirrors the stdlib-``wave`` audio move).
# ``png_encode`` writes genuine bit-format files — 8-byte signature,
# CRC-checked chunks, zlib-deflated filtered scanlines, and for
# multi-frame clips a spec-complete APNG (acTL + per-frame fcTL/fdAT
# with shared sequence numbering). ``_png_meta`` / ``_png_pixels``
# parse them back through the codec, so the catalog's media rows
# exercise a real encode→decode round-trip in any Python. Pillow
# remains the try-import fallback for OTHER formats (TIFF/WebP/...).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels ↔ PNG color type (8-bit depth): gray, gray+alpha, RGB, RGBA
_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}
_PNG_N_CHANNELS = {0: 1, 4: 2, 2: 3, 6: 4}


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _png_frame_pixels(width: int, height: int, channels: int, frame: int) -> bytes:
    """Deterministic pixel bytes for synthetic frame ``frame``:
    byte i = (i·31 + 7 + frame·13) mod 256 — a closed form, so
    oracles stay arithmetic."""
    import numpy as np  # noqa: PLC0415 — worker-side

    n = width * height * channels
    return (
        ((np.arange(n, dtype=np.uint32) * 31 + 7 + frame * 13) % 256)
        .astype(np.uint8)
        .tobytes()
    )


def _png_filtered(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Raw pixel bytes → PNG scanline stream (filter byte 0 per row)."""
    import numpy as np  # noqa: PLC0415

    row = width * channels
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, row)
    out = np.zeros((height, row + 1), dtype=np.uint8)
    out[:, 1:] = arr
    return out.tobytes()


def png_encode(
    width: int,
    height: int,
    channels: int = 3,
    n_frames: int = 1,
    frames: list[bytes] | None = None,
) -> bytes:
    """A genuine PNG (n_frames == 1) or spec-complete APNG
    (n_frames > 1) built with stdlib zlib/struct only.

    ``frames`` supplies raw pixel bytes per frame (width·height·
    channels each); when omitted, deterministic synthetic frames are
    generated (``_png_frame_pixels``) so catalog oracles can predict
    content arithmetically."""
    if channels not in _PNG_COLOR_TYPE:
        raise ValueError(f"channels must be 1..4, got {channels}")
    if n_frames < 1:
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")
    if frames is not None and len(frames) != n_frames:
        raise ValueError(f"expected {n_frames} frames, got {len(frames)}")
    ihdr = struct.pack(
        ">IIBBBBB", width, height, 8, _PNG_COLOR_TYPE[channels], 0, 0, 0
    )
    out = [_PNG_SIG, _png_chunk(b"IHDR", ihdr)]

    def frame_stream(f: int) -> bytes:
        px = frames[f] if frames is not None else _png_frame_pixels(
            width, height, channels, f
        )
        return zlib.compress(_png_filtered(width, height, channels, px))

    if n_frames == 1:
        out.append(_png_chunk(b"IDAT", frame_stream(0)))
    else:
        out.append(_png_chunk(b"acTL", struct.pack(">II", n_frames, 0)))
        seq = 0
        for f in range(n_frames):
            fctl = struct.pack(
                ">IIIIIHHBB", seq, width, height, 0, 0, 1, 10, 0, 0
            )
            out.append(_png_chunk(b"fcTL", fctl))
            seq += 1
            data = frame_stream(f)
            if f == 0:
                out.append(_png_chunk(b"IDAT", data))
            else:
                out.append(
                    _png_chunk(b"fdAT", struct.pack(">I", seq) + data)
                )
                seq += 1
    out.append(_png_chunk(b"IEND", b""))
    return b"".join(out)


def _png_chunks(payload: bytes):
    """Yield (tag, data) for each CRC-valid chunk; stop (yield nothing
    more) on any structural violation — the caller's partial view then
    fails closed."""
    pos = len(_PNG_SIG)
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        end = pos + 8 + length
        if end + 4 > n:
            return
        data = payload[pos + 8 : end]
        (crc,) = struct.unpack_from(">I", payload, end)
        if crc != (zlib.crc32(tag + data) & 0xFFFFFFFF):
            return
        yield tag, data
        if tag == b"IEND":
            return
        pos = end + 4


def _png_meta(payload: bytes | None) -> tuple[int, int, int, int] | None:
    """(width, height, channels, n_frames) from PNG/APNG bytes via the
    stdlib parser, or None when the payload is not an 8-bit PNG."""
    if payload is None or not payload.startswith(_PNG_SIG):
        return None
    w = h = ch = None
    n_frames = 1
    for tag, data in _png_chunks(payload):
        if tag == b"IHDR":
            if len(data) != 13:
                return None
            w, h, depth, color = struct.unpack_from(">IIBB", data)
            if depth != 8 or color not in _PNG_N_CHANNELS:
                return None
            ch = _PNG_N_CHANNELS[color]
        elif tag == b"acTL" and len(data) >= 4:
            (n_frames,) = struct.unpack_from(">I", data)
        elif tag == b"IDAT":
            break  # acTL must precede IDAT (APNG spec); nothing left to learn
    if w is None:
        return None
    return w, h, ch, n_frames


def _png_unfilter(raw: bytes, width: int, height: int, channels: int) -> bytes | None:
    """PNG scanline stream → raw pixel bytes (all five filter types).
    The all-zero-filter fast path (what ``png_encode`` writes) is
    vectorized; filtered foreign rows fall back to the per-byte
    reconstruction from the spec."""
    import numpy as np  # noqa: PLC0415

    row = width * channels
    if len(raw) != height * (row + 1):
        return None
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, row + 1)
    if not arr[:, 0].any():
        return arr[:, 1:].tobytes()
    bpp = channels
    out = np.zeros((height, row), dtype=np.uint8)
    for y in range(height):
        ftype = int(arr[y, 0])
        line = arr[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(row, np.int32)
        if ftype == 0:
            out[y] = line
        elif ftype == 2:  # Up
            out[y] = (line + prev) % 256
        else:  # Sub / Average / Paeth need left-neighbor recurrence
            cur = np.zeros(row, dtype=np.int32)
            for x in range(row):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    cur[x] = (line[x] + a) % 256
                elif ftype == 3:
                    cur[x] = (line[x] + (a + b) // 2) % 256
                elif ftype == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    cur[x] = (line[x] + pr) % 256
                else:
                    return None
            out[y] = cur
    return out.tobytes()


def _png_frame_streams(payload: bytes) -> list[bytes] | None:
    """Per-frame compressed scanline streams: [IDAT..] for the first
    frame, then one stream per fdAT run (APNG frames each carry a
    complete zlib stream)."""
    if not payload.startswith(_PNG_SIG):
        return None
    idat: list[bytes] = []
    frames: list[bytes] = []
    cur: list[bytes] | None = None
    for tag, data in _png_chunks(payload):
        if tag == b"IDAT":
            idat.append(data)
        elif tag == b"fcTL" and idat:
            # an fcTL after IDAT opens a new fdAT frame
            if cur:
                frames.append(b"".join(cur))
            cur = []
        elif tag == b"fdAT" and cur is not None:
            cur.append(data[4:])  # strip the sequence number
    if cur:
        frames.append(b"".join(cur))
    if not idat:
        return None
    return [b"".join(idat), *frames]


def _png_pixels(payload: bytes | None, frame: int = 0) -> bytes | None:
    """Raw pixel bytes of one frame, through the full codec path
    (chunk walk → zlib inflate → unfilter), or None."""
    if payload is None:
        return None
    meta = _png_meta(payload)
    if meta is None:
        return None
    w, h, ch, _ = meta
    streams = _png_frame_streams(payload)
    if streams is None or frame >= len(streams):
        return None
    try:
        raw = zlib.decompress(streams[frame])
    except zlib.error:
        return None
    return _png_unfilter(raw, w, h, ch)


def _nn_resample(
    pixels: bytes, w: int, h: int, ch: int, tw: int, th: int
) -> bytes:
    """Nearest-neighbor resample of raw pixel bytes (vectorized)."""
    import numpy as np  # noqa: PLC0415

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, ch)
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return np.ascontiguousarray(arr[ys][:, xs]).tobytes()


def _try_import_pil():
    """Pillow, or None. Evaluated lazily inside worker batches so the
    real-codec path lights up wherever the executor image has Pillow,
    with zero hard dependency."""
    try:
        from PIL import Image  # noqa: PLC0415
    except ImportError:
        return None
    return Image


def _real_image_meta(payload: bytes | None) -> tuple[int, int, int, int] | None:
    """(width, height, channels, n_frames) via Pillow, or None when
    Pillow is absent or the bytes don't decode."""
    image_mod = _try_import_pil()
    if image_mod is None or payload is None:
        return None
    import io  # noqa: PLC0415

    try:
        with image_mod.open(io.BytesIO(payload)) as img:
            w, h = img.size
            return w, h, len(img.getbands()), int(getattr(img, "n_frames", 1))
    except Exception:  # noqa: BLE001 — corrupt bytes take the NULL path
        return None


def _any_image_meta(payload: bytes | None) -> tuple[int, int, int, int] | None:
    """The stdlib PNG/APNG codec first, then the vendored JPEG codec
    (multimodal/jpeg.py — baseline + progressive), then the vendored
    GIF codec (multimodal/gif.py), then Pillow for the remaining
    formats (TIFF/WebP/...)."""
    from mapreducewordoccurences_spark.multimodal.gif import gif_meta  # noqa: PLC0415
    from mapreducewordoccurences_spark.multimodal.jpeg import jpeg_meta  # noqa: PLC0415

    return (
        _png_meta(payload)
        or jpeg_meta(payload)
        or gif_meta(payload)
        or _real_image_meta(payload)
    )


def _any_image_pixels(payload: bytes | None) -> tuple[tuple[int, int, int, int], bytes] | None:
    """((w, h, channels, n_frames), interleaved 8-bit pixels of frame
    0) through whichever vendored codec claims the payload — PNG/APNG
    first, then JPEG (baseline AND progressive), then GIF. None when
    none decodes (corrupt, exotic format): callers take the NULL path,
    never fail."""
    from mapreducewordoccurences_spark.multimodal.gif import (  # noqa: PLC0415
        gif_meta,
        gif_pixels,
    )
    from mapreducewordoccurences_spark.multimodal.jpeg import (  # noqa: PLC0415
        jpeg_meta,
        jpeg_pixels,
    )

    meta = _png_meta(payload)
    if meta is not None:
        px = _png_pixels(payload)
        return None if px is None else (meta, px)
    meta = jpeg_meta(payload)
    if meta is not None:
        px = jpeg_pixels(payload)
        return None if px is None else (meta, px)
    meta = gif_meta(payload)
    if meta is not None:
        # frame-0-only: skip LZW + composite work for later frames
        px = gif_pixels(payload, max_frames=1)
        if px is None:
            return None
        w, h, _ch, _nf = meta
        return meta, px[: w * h * 3]
    return None


# ---------------------------------------------------------------------------
# Synthetic pixels. Every planted corpus copies ``id - 1`` into the ids
# with ``id % _PERIOD == residue``; its base patterns are per-id seeded
# draws, so distinct ids collide on a 64-bit hash with odds ~2^-64.
# ---------------------------------------------------------------------------

_PERIOD = 10
_SIDE = 32  # side of the planted PNG, JPEG and GIF images and MP4 frames
_KNUTH = 2654435761  # multiplicative hash spreading ids over the seeds


def _seeded_ints(seed: int, low: int, high: int, n: int):
    """``n`` uniform draws over [low, high) from the legacy MT19937
    stream seeded with ``seed mod 2^32`` (frozen by numpy's compat
    policy, so the payloads are the same on every platform)."""
    import numpy as np  # noqa: PLC0415 — worker-side

    return np.random.RandomState(seed % 2**32).randint(low, high, n)


def _noise_pixels(pattern_id: int) -> bytes:
    """Per-id seeded uniform grayscale noise over the full 8-bit range,
    one ``_SIDE`` x ``_SIDE`` frame."""
    import numpy as np  # noqa: PLC0415

    return (
        _seeded_ints(pattern_id * _KNUTH, 0, 256, _SIDE * _SIDE)
        .astype(np.uint8)
        .tobytes()
    )


def _smooth_pixels(pattern_id: int) -> bytes:
    """Per-id seeded smooth low-frequency field (sum of 4 random 2-D
    cosines): the JPEG-FRIENDLY pattern family — quality re-encoding
    moves its dHash by ≤5 bits (measured across 120 ids at q90 vs
    q75) while distinct ids stay ~32 bits apart."""
    import numpy as np  # noqa: PLC0415

    rng = np.random.RandomState((pattern_id * _KNUTH) % 2**32)
    xx, yy = np.meshgrid(np.arange(_SIDE), np.arange(_SIDE))
    img = np.full((_SIDE, _SIDE), 128.0)
    for _ in range(4):
        fx, fy = rng.uniform(0.3, 2.0, 2)
        ph1, ph2 = rng.uniform(0, 2 * np.pi, 2)
        amp = rng.uniform(25, 45)
        img += (
            amp
            * np.cos(2 * np.pi * fx * xx / _SIDE + ph1)
            * np.cos(2 * np.pi * fy * yy / _SIDE + ph2)
        )
    return np.clip(img, 5, 250).astype(np.uint8).tobytes()


def _fake_dims(i: int) -> tuple[int, int]:
    """(width, height) of the closed-form corpora's id ``i``."""
    return 16 + i % 48, 16 + (i * 7) % 40


def _gradient(i: int, f: int):
    """Frame ``f`` of id ``i`` over ``_fake_dims(i)``: the closed-form
    gradient (x·3 + y·5 + i + f·11) mod 200 + 20, as int64 rows."""
    import numpy as np  # noqa: PLC0415

    w, h = _fake_dims(i)
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    return (xx * 3 + yy * 5 + i + f * 11) % 200 + 20


# ---------------------------------------------------------------------------
# PNG / APNG corpora and image decoders
# ---------------------------------------------------------------------------


def fake_png_bytes(i: int) -> bytes:
    """A REAL PNG (APNG when n_frames > 1) whose header is closed-form
    in the id, so an oracle predicts every decoded dimension
    arithmetically, WITHOUT parsing payloads:

        width    = 16 + id % 48
        height   = 16 + (id * 7) % 40
        channels = 1 + id % 3
        n_frames = 1 + id % 5

    Pixels are ``_png_frame_pixels``."""
    return png_encode(*_fake_dims(i), 1 + i % 3, 1 + i % 5)


def make_fake_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image corpus of ``fake_png_bytes``: the catalog rows
    media_image_dims and media_frame_sample round-trip it through the
    stdlib codec and check the result against the closed-form
    oracle."""
    return _synthetic_media(df, id_col, "image", "image/png", fake_png_bytes)


def decode_image_meta(df: DataFrame, payload_col: str = "payload", id_col: str = "media_id") -> DataFrame:
    """payload → (media_id, width, height, channels, n_frames) through
    the vendored PNG/APNG, JPEG and GIF codecs, then Pillow when
    installed (``_any_image_meta``; n_frames for animated formats).
    Undecodable payloads yield NULL dims."""
    return _map_payloads(
        df,
        IMAGE_META_SCHEMA,
        lambda p: [_any_image_meta(p) or (None,) * 4],
        payload_col,
        id_col,
    )


def sample_frames(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Video-style frame sampling: one (media_id, frame_idx) row per
    kept frame, every 2nd frame from frame 0. Frame COUNTS come from
    the codec's n_frames (``_any_image_meta``: APNG acTL, GIF frame
    count, Pillow for other animated formats); undecodable payloads
    contribute no rows. Attaching the frame bytes would be one more
    field in the same rows; the row-multiplicity plumbing is the part
    that matters to the plan."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
        ]
    )

    def kept(payload: bytes | None) -> list[tuple]:
        hdr = _any_image_meta(payload)
        return [] if hdr is None else [(f,) for f in range(0, hdr[3], 2)]

    return _map_payloads(df, out_schema, kept, payload_col, id_col)


# ---------------------------------------------------------------------------
# Audio: a REAL codec path with zero optional deps — RIFF/WAVE PCM via
# the stdlib ``wave`` module. Unlike images (Pillow optional), audio
# decode is always-real in any Python: make_fake_audio writes genuine
# WAV containers and decode_audio_meta parses them back through the
# codec, end to end.
# ---------------------------------------------------------------------------

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),  # frames/channel
        T.StructField("rms", T.LongType(), True),
        T.StructField("peak", T.LongType(), True),
    ]
)


def _audio_params(media_id: int) -> tuple[int, int, int, int]:
    """(sample_rate, n_channels, n_samples, amplitude) as closed-form
    functions of the id, so catalog oracles can predict every decoded
    field arithmetically. The waveform is a square wave at amplitude
    A, whose RMS and peak are EXACTLY A — float-free oracle math."""
    i = int(media_id)
    return (
        8000 * (1 + i % 3),
        1 + i % 2,
        64 + (i * 13) % 400,
        500 + (i % 100) * 7,
    )


def _wav(rate: int, channels: int, pcm: bytes) -> bytes:
    """A RIFF/WAVE PCM16 container around interleaved samples (stdlib
    ``wave`` encoder)."""
    import io  # noqa: PLC0415
    import wave  # noqa: PLC0415

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm)
    return buf.getvalue()


def fake_audio_bytes(media_id: int) -> bytes:
    """A genuine WAV payload: a square wave with period 16 frames at
    the id-derived amplitude (``_audio_params``)."""
    rate, channels, n_samples, amp = _audio_params(media_id)
    frames = bytearray()
    for s in range(n_samples):
        val = amp if (s // 8) % 2 == 0 else -amp
        frames += struct.pack("<h", val) * channels
    return _wav(rate, channels, bytes(frames))


def make_fake_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Audio corpus of ``fake_audio_bytes``."""
    return _synthetic_media(df, id_col, "audio", "audio/wav", fake_audio_bytes)


def _wav_meta(payload: bytes | None) -> tuple:
    """(sample_rate, n_channels, n_samples, rms, peak) of one WAV
    payload; all NULL for corrupt or non-WAV bytes, NULL rms and peak
    for a sample width other than 16 bits."""
    import io  # noqa: PLC0415
    import wave  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload is None:
        return (None,) * 5
    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
            rate = w.getframerate()
            ch = w.getnchannels()
            nf = w.getnframes()
            if w.getsampwidth() != 2:
                return (rate, ch, nf, None, None)
            x = np.frombuffer(w.readframes(nf), dtype="<i2").astype(np.int64)
        if x.size == 0:
            return (rate, ch, nf, 0, 0)
        rms = int(round(float(np.sqrt(np.mean((x * x).astype(np.float64))))))
        return (rate, ch, nf, rms, int(np.max(np.abs(x))))
    except Exception:  # noqa: BLE001 — corrupt bytes → NULL path
        return (None,) * 5


def decode_audio_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """payload → (media_id, sample_rate, n_channels, n_samples, rms,
    peak) through the REAL stdlib WAV codec. rms/peak are integer
    (exact for PCM16: sum of squares stays well inside int64/float64
    exact range per clip; rms rounds half-up the same on every
    platform because the generator's square waves make it integral).
    Corrupt or non-WAV bytes take the NULL path, like images."""
    return _map_payloads(
        df, AUDIO_META_SCHEMA, lambda p: [_wav_meta(p)], payload_col, id_col
    )


# ---------------------------------------------------------------------------
# Perceptual image hashing (dHash) — the multimodal near-dup tier.
# dHash (difference hash, Krawetz 2013): grayscale → nearest-neighbor
# resample to 9x8 → one bit per horizontally adjacent pixel pair
# (left > right). The hash is EXACTLY invariant to a uniform
# brightness shift that doesn't wrap (strict > on both sides of a
# constant offset), which is what makes the planted-duplicate
# acceptance contract closed-form.
# ---------------------------------------------------------------------------

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), True),
    ]
)

_DHASH_SIDE = 8  # 8 rows of 8 adjacent-column bits: one signed int64


def _dhash(px: bytes, w: int, h: int, ch: int) -> int:
    """The dHash kernel over one frame's interleaved 8-bit pixels:
    integer grayscale (the exact channel mean, so a uniform
    per-channel shift stays a uniform gray shift) → NN-resample →
    adjacent-column bits."""
    import numpy as np  # noqa: PLC0415 — worker-side

    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
    gray = (arr.astype(np.uint32).sum(axis=2) // ch).astype(np.uint8)
    small = np.frombuffer(
        _nn_resample(gray.tobytes(), w, h, 1, _DHASH_SIDE + 1, _DHASH_SIDE),
        dtype=np.uint8,
    ).reshape(_DHASH_SIDE, _DHASH_SIDE + 1)
    bits = (small[:, :-1] > small[:, 1:]).flatten()
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def _dhash_one(payload: bytes | None) -> int | None:
    """dHash of one encoded image's first frame through the vendored
    codecs (``_any_image_pixels``), or None when the bytes don't
    decode."""
    decoded = _any_image_pixels(payload)
    if decoded is None:
        return None
    (w, h, ch, _), px = decoded
    return _dhash(px, w, h, ch)


def dhash_images(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """payload → (media_id, dhash). Undecodable payloads yield NULL
    hashes. Downstream near-dup pairing is an ordinary self-equi-join
    on the 64-bit hash — the exact dedup shuffle shape, bucketable, no
    all-pairs term."""
    return _map_payloads(
        df, DHASH_SCHEMA, lambda p: [(_dhash_one(p),)], payload_col, id_col
    )


def planted_png_bytes(i: int) -> bytes:
    """A 32x32 grayscale PNG with PLANTED near-duplicates: every id
    with ``id % 10 == 1`` carries the pixel pattern of ``id - 1``
    shifted uniformly by 7 gray levels.

    Base patterns are per-id seeded uniform draws over [0, 245], so a
    planted copy's shift cannot wrap (245 + 7 < 256) and therefore
    preserves every strict ">" comparison: its dHash is bit-identical
    to its source's. The acceptance oracle is the closed-form planted
    pair list — same pattern as the planted triangle row
    (queries/graph.py)."""
    import numpy as np  # noqa: PLC0415

    src, shift = (i - 1, 7) if i % _PERIOD == 1 else (i, 0)
    px = _seeded_ints(src * _KNUTH, 0, 246, _SIDE * _SIDE).astype(np.uint8)
    return png_encode(_SIDE, _SIDE, 1, 1, frames=[(px + np.uint8(shift)).tobytes()])


def make_planted_dup_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image corpus of ``planted_png_bytes``."""
    return _synthetic_media(df, id_col, "image", "image/png", planted_png_bytes)


# ---------------------------------------------------------------------------
# Audio fingerprinting — the audio twin of the dHash tier. The
# fingerprint is the sign pattern of adjacent WINDOW-ENERGY deltas
# (sum of |PCM16| per equal-width chunk): exactly invariant under a
# positive integer gain (|c*x| = c*|x| preserves every > and ==), so
# a planted gain-scaled copy fingerprints bit-identically while
# per-id random energy profiles collide with probability ~2^-63.
# ---------------------------------------------------------------------------

AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("afp", T.LongType(), True),
    ]
)

_N_WINDOWS = 64  # energy windows per clip: a 63-bit fingerprint, a 64-d vector


def _window_energies(payload: bytes | None):
    """Per-window |PCM16| sums of one WAV payload through the stdlib
    codec (int64 ndarray of length ``_N_WINDOWS``), or None when the
    bytes don't decode — the shared front half of the fingerprint AND
    the energy-vector tiers."""
    import io  # noqa: PLC0415
    import wave  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    if payload is None:
        return None
    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
            if w.getsampwidth() != 2:
                return None
            x = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    except Exception:  # noqa: BLE001 — corrupt bytes → NULL path
        return None
    if x.size < _N_WINDOWS:
        return None
    mag = np.abs(x.astype(np.int64))
    bounds = (np.arange(_N_WINDOWS + 1) * mag.size) // _N_WINDOWS
    return np.add.reduceat(mag, bounds[:-1])


def _audio_fingerprint_one(payload: bytes | None) -> int | None:
    """63-bit energy-delta fingerprint of one WAV payload through the
    stdlib codec, or None when the bytes don't decode."""
    import numpy as np  # noqa: PLC0415

    energy = _window_energies(payload)
    if energy is None:
        return None
    bits = np.zeros(64, dtype=bool)
    bits[: _N_WINDOWS - 1] = energy[:-1] > energy[1:]
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def audio_fingerprints(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """payload → (media_id, afp); near-dup pairing downstream is the
    collision self-join on the 64-bit fingerprint (dedup/pairs.py) —
    audio bytes never shuffle."""
    return _map_payloads(
        df,
        AUDIO_FP_SCHEMA,
        lambda p: [(_audio_fingerprint_one(p),)],
        payload_col,
        id_col,
    )


AUDIO_VEC_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), True),
    ]
)


def _energy_vector(payload: bytes | None) -> list[float] | None:
    """The L2-normalized window-energy profile of one WAV payload, or
    None when it doesn't decode or is silent."""
    import numpy as np  # noqa: PLC0415

    e = _window_energies(payload)
    if e is None:
        return None
    v = e.astype(np.float64)
    n = float(np.sqrt((v * v).sum()))
    return (v / n).tolist() if n > 0 else None


def audio_energy_vectors(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """payload → (media_id, embedding): the L2-normalized window-
    energy profile (the same |PCM16| window sums whose SIGNS make the
    fingerprint) as a 64-d dense vector — the audio twin of a learned
    audio embedding, derived instead of inferred so every downstream
    ANN contract is deterministic. Normalization makes the vector
    gain-invariant to within one ulp of the normalizing sqrt (a
    planted gain-scaled duplicate normalizes to the same vector up to
    the last bit — cosine 1 − O(eps²), unconditionally its source's
    nearest neighbor). Audio bytes never shuffle — only (id, 64
    doubles) rows move."""
    return _map_payloads(
        df, AUDIO_VEC_SCHEMA, lambda p: [(_energy_vector(p),)], payload_col, id_col
    )


def planted_wav_bytes(i: int) -> bytes:
    """A mono 8 kHz WAV with PLANTED gain-scaled duplicates: every id
    with ``id % 10 == 3`` carries the window-amplitude profile of
    ``id - 1`` multiplied by 3 (max amplitude 2997 stays far inside
    PCM16). Profiles are per-id seeded uniform draws over [50, 1000)
    for 64 windows of 8 frames; each window is a ±a_w square wave, so
    window energy is exactly 8·a_w — the fingerprint's closed-form
    ground truth, same acceptance pattern as the image dHash row."""
    import numpy as np  # noqa: PLC0415

    src, gain = (i - 1, 3) if i % _PERIOD == 3 else (i, 1)
    amps = _seeded_ints(src * _KNUTH + 17, 50, 1000, _N_WINDOWS) * gain
    samples = np.repeat(amps.astype(np.int16), 8)
    sign = np.where((np.arange(samples.size) // 4) % 2 == 0, 1, -1).astype(np.int16)
    return _wav(8000, 1, (samples * sign).astype("<i2").tobytes())


def make_planted_dup_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Audio corpus of ``planted_wav_bytes``."""
    return _synthetic_media(df, id_col, "audio", "audio/wav", planted_wav_bytes)


# ---------------------------------------------------------------------------
# Video (multi-frame clip) near-dup: per-frame dHash fan-out through
# the APNG codec or the MP4 demuxer, then clip-level re-aggregation.
# Completes the image/audio/video triad with a different distributed
# shape: one MEDIA row fans out to n_frames hash rows, and clip
# identity is an order-canonicalized aggregate over them.
# ---------------------------------------------------------------------------

FRAME_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("dhash", T.LongType(), True),
    ]
)


def _frame_hashes(payload: bytes | None) -> list[int | None]:
    """The dHash of every frame of one clip: APNG frames through the
    PNG codec, MJPEG MP4 samples (demuxed by the vendored ISO BMFF
    walker) through the JPEG codec. A frame that does not decode
    hashes to None; a payload that is neither yields no frames."""
    from mapreducewordoccurences_spark.multimodal.jpeg import (  # noqa: PLC0415
        jpeg_meta,
        jpeg_pixels,
    )
    from mapreducewordoccurences_spark.multimodal.mp4 import (  # noqa: PLC0415
        mp4_jpeg_frames,
    )

    meta = _png_meta(payload)
    if meta is not None:
        frames = [(meta, _png_pixels(payload, frame=f)) for f in range(meta[3])]
    else:
        samples = mp4_jpeg_frames(payload) or []
        metas = [jpeg_meta(s) for s in samples]
        frames = [
            (m, None if m is None else jpeg_pixels(s)) for m, s in zip(metas, samples)
        ]
    return [None if px is None else _dhash(px, *m[:3]) for m, px in frames]


def dhash_frames(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """payload → one (media_id, frame_idx, dhash) row PER FRAME — the
    frame fan-out happens inside the batch (pure map work), so a clip
    never needs to be decoded twice and payload bytes still never
    shuffle."""
    return _map_payloads(
        df,
        FRAME_DHASH_SCHEMA,
        lambda p: list(enumerate(_frame_hashes(p))),
        payload_col,
        id_col,
    )


def clip_fingerprints(frames: DataFrame) -> DataFrame:
    """``dhash_frames`` rows → one (media_id, clipfp) row per clip:
    the order-canonical md5 of the clip's sorted ``frame_idx:dhash``
    list, so two clips share a fingerprint iff every frame's dHash
    matches at the same index. Frames that failed to decode (NULL
    dhash) are left out. One groupBy: the shuffle carries
    (media_id, frame_idx, int64) rows, ~20 B per frame."""
    return (
        frames.filter(F.col("dhash").isNotNull())
        .groupBy("media_id")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.sort_array(
                        F.collect_list(F.concat_ws(":", "frame_idx", "dhash"))
                    ),
                )
            ).alias("clipfp")
        )
    )


def planted_apng_bytes(i: int) -> bytes:
    """A 4-frame 16x16 grayscale APNG clip with PLANTED
    near-duplicates: ids with ``id % 10 == 7`` carry every frame of
    ``id - 1``'s clip shifted uniformly by 7 gray levels
    (non-wrapping, so each frame's dHash — and hence the clip
    fingerprint — is preserved exactly). Frame patterns are seeded per
    (pattern_id, frame)."""
    import numpy as np  # noqa: PLC0415

    src, shift = (i - 1, 7) if i % _PERIOD == 7 else (i, 0)
    frames = [
        (
            _seeded_ints(src * _KNUTH + f * 97 + 29, 0, 246, 16 * 16).astype(np.uint8)
            + np.uint8(shift)
        ).tobytes()
        for f in range(4)
    ]
    return png_encode(16, 16, 1, 4, frames=frames)


def make_planted_dup_clips(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Video corpus of ``planted_apng_bytes``."""
    return _synthetic_media(df, id_col, "video", "image/apng", planted_apng_bytes)


# ---------------------------------------------------------------------------
# JPEG corpora — the vendored codec (multimodal/jpeg.py) means a
# Pillow-less cluster decodes the format a real training corpus mostly
# arrives in, instead of yielding NULL dims/features for it.
# ---------------------------------------------------------------------------


def planted_jpeg_bytes(i: int) -> bytes:
    """A 32x32 grayscale JPEG (q85) with planted BYTE-DISTINCT
    duplicates: every id with ``id % 10 == 1`` encodes the SAME noise
    pixels as ``id - 1`` through a different coding path — alternating
    between a restart-interval re-encode (DRI + RSTn markers, reset DC
    predictors) and a PROGRESSIVE (SOF2) re-encode (multi-scan
    spectral selection + successive approximation) — either way a
    genuinely different entropy stream that decodes bit-identically
    (property-tested: both coders quantize through the same
    ``_prepare_blocks``), so its dHash equals its source's exactly
    while byte-level dedup can never pair them. This is the JPEG twin
    of the PNG corpus's non-wrapping brightness shift: an EXACT
    invariance, closed-form oracle, no recall tolerance needed — and
    it proves the dHash tier reads the progressive slice a real web
    corpus carries."""
    from mapreducewordoccurences_spark.multimodal.jpeg import (  # noqa: PLC0415
        jpeg_encode,
        jpeg_encode_progressive,
    )

    if i % _PERIOD != 1:
        return jpeg_encode(_SIDE, _SIDE, 1, _noise_pixels(i), quality=85)
    if (i // _PERIOD) % 2 == 1:
        return jpeg_encode_progressive(
            _SIDE, _SIDE, 1, _noise_pixels(i - 1), quality=85
        )
    return jpeg_encode(
        _SIDE, _SIDE, 1, _noise_pixels(i - 1), quality=85, restart_interval=4
    )


def make_planted_dup_jpegs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image corpus of ``planted_jpeg_bytes``."""
    return _synthetic_media(df, id_col, "image", "image/jpeg", planted_jpeg_bytes)


def requant_jpeg_bytes(i: int) -> bytes:
    """A 32x32 smooth-pattern JPEG with planted QUALITY-RE-ENCODED
    duplicates: ids with ``id % 10 == 1`` carry the pixels of
    ``id - 1`` encoded at quality 75 instead of 90 — the classic
    real-corpus near-dup (same image, different compression), where
    the decoded pixels genuinely differ and only a Hamming-tolerant
    perceptual match can pair them."""
    from mapreducewordoccurences_spark.multimodal.jpeg import (  # noqa: PLC0415
        jpeg_encode,
    )

    src, quality = (i - 1, 75) if i % _PERIOD == 1 else (i, 90)
    return jpeg_encode(_SIDE, _SIDE, 1, _smooth_pixels(src), quality=quality)


def make_requant_dup_jpegs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image corpus of ``requant_jpeg_bytes``."""
    return _synthetic_media(df, id_col, "image", "image/jpeg", requant_jpeg_bytes)


def fake_jpeg_bytes(i: int) -> bytes:
    """A baseline JFIF (q85) exercising every encoder/decoder branch:
    dims are ``_fake_dims``, odd ids are grayscale, even ids are
    4:2:0-subsampled color, and every 4th id carries restart markers.
    Pixels are the cheap closed-form ``_gradient``, so the
    dims/channels oracles stay arithmetic."""
    import numpy as np  # noqa: PLC0415

    from mapreducewordoccurences_spark.multimodal.jpeg import (  # noqa: PLC0415
        jpeg_encode,
    )

    w, h = _fake_dims(i)
    base = _gradient(i, 0)
    rst = 4 if i % 4 == 0 else 0
    if i % 2 == 1:
        px = base.astype(np.uint8).tobytes()
        return jpeg_encode(w, h, 1, px, quality=85, restart_interval=rst)
    rgb = np.stack(
        [base, (base + 40) % 220 + 20, (base + 80) % 220 + 20], axis=2
    ).astype(np.uint8)
    return jpeg_encode(
        w, h, 3, rgb.tobytes(), quality=85, subsample=True, restart_interval=rst
    )


def make_fake_jpeg_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image corpus of ``fake_jpeg_bytes``."""
    return _synthetic_media(df, id_col, "image", "image/jpeg", fake_jpeg_bytes)


# ---------------------------------------------------------------------------
# GIF corpora — the vendored LZW codec (multimodal/gif.py)
# ---------------------------------------------------------------------------


def fake_gif_bytes(i: int) -> bytes:
    """A GIF89a with closed-form metadata, the GIF twin of
    ``fake_png_bytes``/``fake_jpeg_bytes``: dims are ``_fake_dims``,
    n_frames = 1 + id % 3 (animated GIFs via per-frame GCE blocks) of
    ``_gradient`` pixels, and every 3rd id is INTERLACED — so the
    dims/frame-count oracle stays pure arithmetic while the payloads
    exercise the vendored LZW decoder's branches (multi-frame
    compositing, interlace reorder)."""
    import numpy as np  # noqa: PLC0415

    from mapreducewordoccurences_spark.multimodal.gif import (  # noqa: PLC0415
        gif_encode,
    )

    frames = [_gradient(i, f).astype(np.uint8).tobytes() for f in range(1 + i % 3)]
    return gif_encode(*_fake_dims(i), frames, interlace=(i % 3 == 0))


def make_fake_gif_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image corpus of ``fake_gif_bytes``."""
    return _synthetic_media(df, id_col, "image", "image/gif", fake_gif_bytes)


def planted_gif_bytes(i: int) -> bytes:
    """A 32x32 grayscale GIF with planted BYTE-DISTINCT duplicates:
    every id with ``id % 10 == 1`` encodes the SAME noise pixels as
    ``id - 1`` but INTERLACED (4-pass row reorder) — a genuinely
    different LZW stream that decodes bit-identically (GIF is
    lossless), so its dHash equals its source's exactly. The GIF twin
    of the JPEG corpus's restart-interval/progressive variants: exact
    invariance, closed-form oracle, no recall tolerance."""
    from mapreducewordoccurences_spark.multimodal.gif import (  # noqa: PLC0415
        gif_encode,
    )

    planted = i % _PERIOD == 1
    src = i - 1 if planted else i
    return gif_encode(_SIDE, _SIDE, [_noise_pixels(src)], interlace=planted)


def make_planted_dup_gifs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image corpus of ``planted_gif_bytes``."""
    return _synthetic_media(df, id_col, "image", "image/gif", planted_gif_bytes)


# ---------------------------------------------------------------------------
# MP4 corpora — the vendored ISO BMFF muxer/demuxer (multimodal/mp4.py)
# gives the video tier a REAL container format served end-to-end with
# zero native deps: every sample is a complete JFIF stream through the
# vendored JPEG codec. Other video codecs (H.264/VP9) have no sample
# decoder here: their container metadata reads, their frames do not.
# ---------------------------------------------------------------------------

VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
    ]
)


def decode_mp4_meta(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """payload → (media_id, width, height, n_frames, codec,
    duration_ms) through the vendored MP4 sample-table walker — no
    sample bytes touched, so corpus profiling is cheap. Non-MP4/corrupt
    payloads yield NULL metadata."""
    from mapreducewordoccurences_spark.multimodal.mp4 import (  # noqa: PLC0415
        mp4_meta,
    )

    return _map_payloads(
        df,
        VIDEO_META_SCHEMA,
        lambda p: [mp4_meta(p) or (None,) * 5],
        payload_col,
        id_col,
    )


def fake_mp4_bytes(i: int) -> bytes:
    """An MJPEG MP4 with closed-form metadata: dims are ``_fake_dims``
    (odd dims are fine: the grayscale frames have no chroma
    constraint), n_frames = 1 + id % 4 at 10 fps (duration_ms =
    100·n_frames, timescale 1000). Every sample is a baseline JFIF
    (q85) of ``_gradient`` pixels; the dims/frames/duration oracle
    stays pure arithmetic."""
    import numpy as np  # noqa: PLC0415

    from mapreducewordoccurences_spark.multimodal.jpeg import (  # noqa: PLC0415
        jpeg_encode,
    )
    from mapreducewordoccurences_spark.multimodal.mp4 import (  # noqa: PLC0415
        mp4_encode_mjpeg,
    )

    w, h = _fake_dims(i)
    samples = [
        jpeg_encode(w, h, 1, _gradient(i, f).astype(np.uint8).tobytes(), quality=85)
        for f in range(1 + i % 4)
    ]
    return mp4_encode_mjpeg(w, h, samples, fps=10)


def make_fake_mp4_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Video corpus of ``fake_mp4_bytes``."""
    return _synthetic_media(df, id_col, "video", "video/mp4", fake_mp4_bytes)


def planted_mp4_bytes(i: int) -> bytes:
    """A 3-frame 32x32 MJPEG MP4 clip (q85, 10 fps) with planted
    BYTE-DISTINCT duplicates: ids with ``id % 10 == 1`` carry the SAME
    noise frames as ``id - 1`` but with every sample encoded as
    PROGRESSIVE JPEG (SOF2) — a different container byte stream whose
    samples decode bit-identically to their baseline siblings, so the
    per-frame dHash sequence — and hence the clip fingerprint —
    matches exactly while byte-level dedup can never pair them."""
    from mapreducewordoccurences_spark.multimodal.jpeg import (  # noqa: PLC0415
        jpeg_encode,
        jpeg_encode_progressive,
    )
    from mapreducewordoccurences_spark.multimodal.mp4 import (  # noqa: PLC0415
        mp4_encode_mjpeg,
    )

    planted = i % _PERIOD == 1
    encode = jpeg_encode_progressive if planted else jpeg_encode
    src = i - 1 if planted else i
    samples = [
        encode(_SIDE, _SIDE, 1, _noise_pixels(src * 131 + f * 977), quality=85)
        for f in range(3)
    ]
    return mp4_encode_mjpeg(_SIDE, _SIDE, samples, fps=10)


def make_planted_dup_mp4s(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Video corpus of ``planted_mp4_bytes``."""
    return _synthetic_media(df, id_col, "video", "video/mp4", planted_mp4_bytes)
