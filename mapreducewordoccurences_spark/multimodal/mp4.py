"""Vendored minimal MP4 (ISO BMFF) muxer/demuxer — Motion-JPEG
profile, ZERO optional deps (stdlib struct).

The engine carries no H.264/VP9 decoder, so instead of leaving the
video container format behind a native dependency, this module
vendors the PUBLIC ISO Base Media File Format (ISO/IEC 14496-12) for
the one video codec the engine already owns end-to-end: Motion-JPEG,
where every sample is a complete JFIF image served by the vendored
multimodal/jpeg.py codec (baseline AND progressive, itself
cross-validated against javax.imageio).

Coverage:

- DEMUX: top-level box walk (32- and 64-bit sizes), moov → trak
  selection by hdlr 'vide', mdhd timescale/duration, stsd sample
  entry (fourcc + visual dims), full stts/stsc/stsz/stco|co64 sample
  table resolution (any chunking layout, not just the one our muxer
  writes), sample byte extraction from mdat. ``mp4_meta`` never
  touches sample bytes; ``mp4_jpeg_frames`` returns the per-sample
  JPEG payloads for the existing per-frame dHash tier.
- MUX: single-video-track MJPEG MP4 (ftyp/mdat/moov, one chunk,
  'jpeg' VisualSampleEntry) — enough to synthesize planted-duplicate
  clip corpora whose samples exercise the full JPEG decoder.
- Untrusted-corpus task safety (the jpeg.py/gif.py contract): box
  sizes are validated against the payload, sample counts and table
  sizes are capped, all parse errors take the graceful-None path.

Scale shape: identical to the other vendored codecs — demux + frame
decode run inside Arrow-batched ``mapInPandas``; payload bytes never
shuffle; fingerprints (~20 B/frame) are all that moves. Swapping in
libav for H.264 corpora would change no schema, no shuffle, no test
contract.
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf"}
_MAX_SAMPLES = 4096
# Only plain-JFIF sample entries qualify for the dHash tier (ADVICE
# r11): 'mjpa'/'mjpb' are field-split (not whole JFIF streams) and
# 'mp4v' is MPEG-4 Part 2 bitstream — none of the three has a decoder
# here. Each sample is additionally validated
# to start with an SOI marker before being returned.
_JPEG_FOURCC = {b"jpeg"}


def _boxes(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("box overruns payload")
        yield typ, pos + hdr, pos + size
        pos += size


def _find(data: bytes, start: int, end: int, path: list[bytes]):
    """First box at ``path`` (e.g. [b'moov', b'trak']) → (start, end),
    or None. Yields ALL matches at the final level via _find_all."""
    for got in _find_all(data, start, end, path):
        return got
    return None


def _find_all(data: bytes, start: int, end: int, path: list[bytes]):
    head, rest = path[0], path[1:]
    for typ, s, e in _boxes(data, start, end):
        if typ != head:
            continue
        if not rest:
            yield s, e
        elif typ in _CONTAINERS:
            yield from _find_all(data, s, e, rest)


class _Track:
    __slots__ = (
        "fourcc", "width", "height", "timescale", "duration",
        "sizes", "chunk_offsets", "stsc", "n_frames",
    )


def _parse_video_track(data: bytes, trak_s: int, trak_e: int) -> _Track | None:
    mdia = _find(data, trak_s, trak_e, [b"mdia"])
    if mdia is None:
        return None
    hdlr = _find(data, mdia[0], mdia[1], [b"hdlr"])
    if hdlr is None or data[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
        return None
    t = _Track()
    mdhd = _find(data, mdia[0], mdia[1], [b"mdhd"])
    if mdhd is None:
        return None
    ver = data[mdhd[0]]
    if ver == 1:
        t.timescale, t.duration = struct.unpack_from(">IQ", data, mdhd[0] + 20)
    else:
        t.timescale, t.duration = struct.unpack_from(">II", data, mdhd[0] + 12)
    stbl = _find(data, mdia[0], mdia[1], [b"minf", b"stbl"])
    if stbl is None:
        return None
    s, e = stbl

    stsd = _find(data, s, e, [b"stsd"])
    if stsd is None:
        return None
    (n_entries,) = struct.unpack_from(">I", data, stsd[0] + 4)
    if n_entries < 1:
        return None
    entry = stsd[0] + 8
    t.fourcc = data[entry + 4 : entry + 8]
    # VisualSampleEntry: 8 hdr + 6 reserved + 2 dref + 16 predefined
    t.width, t.height = struct.unpack_from(">HH", data, entry + 32)

    stsz = _find(data, s, e, [b"stsz"])
    if stsz is None:
        return None
    uniform, count = struct.unpack_from(">II", data, stsz[0] + 4)
    if count > _MAX_SAMPLES:
        return None
    if uniform:
        t.sizes = [uniform] * count
    else:
        t.sizes = list(
            struct.unpack_from(f">{count}I", data, stsz[0] + 12)
        )
    t.n_frames = count

    stco = _find(data, s, e, [b"stco"])
    if stco is not None:
        (nc,) = struct.unpack_from(">I", data, stco[0] + 4)
        if nc > _MAX_SAMPLES:
            return None
        t.chunk_offsets = list(
            struct.unpack_from(f">{nc}I", data, stco[0] + 8)
        )
    else:
        co64 = _find(data, s, e, [b"co64"])
        if co64 is None:
            return None
        (nc,) = struct.unpack_from(">I", data, co64[0] + 4)
        if nc > _MAX_SAMPLES:
            return None
        t.chunk_offsets = list(
            struct.unpack_from(f">{nc}Q", data, co64[0] + 8)
        )

    stsc = _find(data, s, e, [b"stsc"])
    if stsc is None:
        return None
    (ne,) = struct.unpack_from(">I", data, stsc[0] + 4)
    if ne > _MAX_SAMPLES:
        return None
    t.stsc = [
        struct.unpack_from(">III", data, stsc[0] + 8 + 12 * i)[:2]
        for i in range(ne)
    ]
    return t


def _video_track(payload: bytes) -> _Track | None:
    for trak_s, trak_e in _find_all(
        payload, 0, len(payload), [b"moov", b"trak"]
    ):
        t = _parse_video_track(payload, trak_s, trak_e)
        if t is not None:
            return t
    return None


def _is_mp4(payload: bytes | None) -> bool:
    return (
        payload is not None
        and len(payload) > 16
        and payload[4:8] in (b"ftyp", b"moov", b"mdat")
    )


def mp4_meta(
    payload: bytes | None,
) -> tuple[int, int, int, str, float | None] | None:
    """(width, height, n_frames, codec_fourcc, duration_ms) from the
    sample tables alone — no sample bytes touched — or None."""
    if not _is_mp4(payload):
        return None
    try:
        t = _video_track(payload)
        if t is None or t.width == 0 or t.height == 0:
            return None
        dur = (
            t.duration * 1000.0 / t.timescale if t.timescale else None
        )
        return (
            t.width,
            t.height,
            t.n_frames,
            t.fourcc.decode("latin-1").strip(),
            dur,
        )
    except (ValueError, IndexError, struct.error):
        return None


def _sample_ranges(t: _Track) -> list[tuple[int, int]]:
    """Resolve stts-independent (offset, size) per sample from the
    stsc chunk map — general, not just our muxer's one-chunk layout."""
    ranges: list[tuple[int, int]] = []
    n_chunks = len(t.chunk_offsets)
    si = 0
    for ci in range(n_chunks):
        spc = 0
        for first_chunk, samples_per_chunk in t.stsc:
            if first_chunk <= ci + 1:
                spc = samples_per_chunk
            else:
                break
        off = t.chunk_offsets[ci]
        for _ in range(spc):
            if si >= len(t.sizes):
                break
            ranges.append((off, t.sizes[si]))
            off += t.sizes[si]
            si += 1
    return ranges


def mp4_jpeg_frames(
    payload: bytes | None, max_frames: int = 256
) -> list[bytes] | None:
    """Per-sample JPEG payloads of the first video track (MJPEG-family
    sample entries only), for the per-frame dHash tier, or None. Each
    returned sample is a complete JFIF stream served by
    multimodal/jpeg.py (baseline or progressive)."""
    if not _is_mp4(payload):
        return None
    try:
        t = _video_track(payload)
        if t is None or t.fourcc not in _JPEG_FOURCC:
            return None
        out = []
        n = len(payload)
        for off, size in _sample_ranges(t)[:max_frames]:
            if off + size > n:
                return None
            sample = payload[off : off + size]
            if sample[:2] != b"\xff\xd8":  # not a JFIF stream → not MJPEG
                return None
            out.append(sample)
        return out or None
    except (ValueError, IndexError, struct.error):
        return None


# ---------------------------------------------------------------------------
# Muxer — single-track MJPEG for planted corpora
# ---------------------------------------------------------------------------


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + typ + payload


def _full(typ: bytes, ver: int, flags: int, payload: bytes) -> bytes:
    return _box(typ, struct.pack(">I", (ver << 24) | flags) + payload)


_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def mp4_encode_mjpeg(
    width: int,
    height: int,
    jpeg_samples: list[bytes],
    fps: int = 10,
) -> bytes:
    """Mux complete JFIF streams (one per frame) into a single-track
    MJPEG MP4: ftyp + mdat + moov, one chunk, 'jpeg' visual sample
    entry, timescale 1000. Deterministic given its inputs (no
    timestamps — creation/modification times are zero), the property
    every planted corpus in this repo relies on."""
    if not jpeg_samples:
        raise ValueError("need at least one sample")
    n = len(jpeg_samples)
    delta = 1000 // fps
    duration = n * delta

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp41")
    mdat_payload = b"".join(jpeg_samples)
    mdat = _box(b"mdat", mdat_payload)
    chunk_offset = len(ftyp) + 8  # first sample byte inside mdat

    mvhd = _full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, 1000, duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8 + _MATRIX + b"\x00" * 24
        + struct.pack(">I", 2),
    )
    tkhd = _full(
        b"tkhd", 0, 7,
        struct.pack(">IIIII", 0, 0, 1, 0, duration)
        + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + _MATRIX
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _full(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, 1000, duration)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"MJPEG\x00",
    )
    entry = (
        b"\x00" * 6
        + struct.pack(">H", 1)  # data reference index
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame count per sample
        + b"\x05MJPEG" + b"\x00" * 26  # compressorname (pascal, 32 B)
        + struct.pack(">Hh", 24, -1)
    )
    stsd = _full(
        b"stsd", 0, 0, struct.pack(">I", 1) + _box(b"jpeg", entry)
    )
    stts = _full(
        b"stts", 0, 0, struct.pack(">III", 1, n, delta)
    )
    stsc = _full(
        b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1)
    )
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(s)) for s in jpeg_samples),
    )
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, chunk_offset))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    dref = _full(
        b"dref", 0, 0, struct.pack(">I", 1) + _full(b"url ", 0, 1, b"")
    )
    dinf = _box(b"dinf", dref)
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
