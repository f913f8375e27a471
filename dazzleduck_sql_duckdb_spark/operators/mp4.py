"""MP4 (ISO BMFF) container walk + MJPEG mux/demux — pure stdlib.

The CONTAINER — the ISO/IEC 14496-12 box tree — is plain big-endian
structs: container metadata (duration, track count, codec fourcc,
frame dimensions) is what a training-data pipeline needs to filter /
shard / route video columns before any decode happens, and the sample
tables (stsz/stco/stsc) are what a demuxer needs to slice frames out
of mdat. For MOTION-JPEG — where every sample is a complete baseline
JPEG — demux + the pure-python operators/jpeg.py decoder make frame
decode fully REAL (encode_mjpeg_mp4 / extract_video_samples +
multimodal.video_frame_features); inter-frame codecs (h264/h265/av1)
genuinely need a codec library and stay behind
multimodal.stub_decoder — the boundary is per-codec, not
per-operator.

`parse_mp4_metadata` walks ftyp / moov / mvhd / trak / tkhd / mdia /
hdlr / stbl / stsd (handling 64-bit `size==1` largesize boxes and
version-0/1 full boxes), returning the brand, movie duration, track
count, and the first video track's sample-entry fourcc + dimensions.
`encode_mp4_skeleton` builds a minimal VALID box tree (what a muxer
emits before writing samples) so tests and the oracle-gated catalog
entry can synthesize byte-real payloads deterministically.

`video_metadata` is the DataFrame operator: an Arrow-batched
mapInPandas stage over an opaque binary column, emitting one metadata
row per payload and dropping the payload itself before anything
shuffles (the 100 TB discipline shared by extract_features /
media_dedup_keys in multimodal.py).

Reference parity note: the reference engine has NO video support at
all (its multimodal surface stops at blob columns); this operator is
part of the engine-added training-pipeline surface (SURVEY.md §2,
"multimodal").
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# containers whose payload is a sequence of child boxes
_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts"}


def _boxes(buf: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in
    buf[start:end]; handles size==1 (64-bit largesize) and size==0
    (box extends to end)."""
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack_from(">I", buf, i)
        typ = buf[i + 4 : i + 8]
        hdr = 8
        if size == 1:
            if i + 16 > end:
                raise ValueError("truncated largesize box header")
            (size,) = struct.unpack_from(">Q", buf, i + 8)
            hdr = 16
        elif size == 0:
            size = end - i
        if size < hdr or i + size > end:
            raise ValueError(f"corrupt box {typ!r} at {i}: size {size}")
        yield typ, i + hdr, i + size
        i += size


def _fullbox(buf: bytes, b0: int) -> tuple[int, int]:
    """(version, body offset past version+flags) of a full box."""
    return buf[b0], b0 + 4


def parse_mp4_metadata(payload: bytes) -> dict:
    """Container metadata from an ISO BMFF payload.

    Returns {major_brand, timescale, duration_ms, n_tracks, codec,
    width, height}: duration from mvhd (version 0 or 1), rescaled to
    integer milliseconds; codec/width/height from the FIRST track whose
    hdlr handler is 'vide' (fourcc from its stsd sample entry, pixel
    dimensions from its tkhd 16.16 fixed-point fields); None where a
    box is absent. Raises ValueError on a structurally corrupt tree."""
    meta: dict = {
        "major_brand": None,
        "timescale": None,
        "duration_ms": None,
        "n_tracks": 0,
        "codec": None,
        "width": None,
        "height": None,
    }
    for typ, b0, b1 in _boxes(payload, 0, len(payload)):
        if typ == b"ftyp":
            meta["major_brand"] = payload[b0 : b0 + 4].decode("ascii")
        elif typ == b"moov":
            _parse_moov(payload, b0, b1, meta)
    return meta


def _parse_moov(buf: bytes, start: int, end: int, meta: dict) -> None:
    for typ, b0, b1 in _boxes(buf, start, end):
        if typ == b"mvhd":
            ver, p = _fullbox(buf, b0)
            if ver == 1:
                ts, dur = struct.unpack_from(">IQ", buf, p + 16)
            else:
                ts, dur = struct.unpack_from(">II", buf, p + 8)
            meta["timescale"] = ts
            meta["duration_ms"] = (dur * 1000) // ts if ts else None
        elif typ == b"trak":
            meta["n_tracks"] += 1
            trk = _parse_trak(buf, b0, b1)
            if trk.get("handler") == "vide" and meta["codec"] is None:
                meta["codec"] = trk.get("codec")
                meta["width"] = trk.get("width")
                meta["height"] = trk.get("height")


def _parse_trak(buf: bytes, start: int, end: int) -> dict:
    trk: dict = {}
    for typ, b0, b1 in _boxes(buf, start, end):
        if typ == b"tkhd":
            ver, p = _fullbox(buf, b0)
            # width/height are the LAST 8 body bytes (16.16 fixed)
            w, h = struct.unpack_from(">II", buf, b1 - 8)
            trk["width"], trk["height"] = w >> 16, h >> 16
        elif typ == b"mdia":
            for t2, c0, c1 in _boxes(buf, b0, b1):
                if t2 == b"hdlr":
                    # version/flags 4 + predefined 4, then handler
                    trk["handler"] = buf[c0 + 8 : c0 + 12].decode(
                        "ascii", "replace"
                    )
                elif t2 == b"minf":
                    for t3, d0, d1 in _boxes(buf, c0, c1):
                        if t3 == b"stbl":
                            for t4, e0, e1 in _boxes(buf, d0, d1):
                                if t4 == b"stsd" and e1 - e0 > 16:
                                    # fullbox 4 + entry_count 4, then
                                    # first sample entry's fourcc
                                    trk["codec"] = buf[
                                        e0 + 12 : e0 + 16
                                    ].decode("ascii", "replace")
    return trk


# ------------------------------------------------------------- encoder


def _box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


def _full(typ: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(typ, bytes([version]) + flags.to_bytes(3, "big") + body)


_UNITY_MATRIX = struct.pack(
    ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
)


def _tkhd(track_id: int, duration: int, w: int, h: int) -> bytes:
    body = (
        struct.pack(">IIII", 0, 0, track_id, 0)
        + struct.pack(">III", duration, 0, 0)
        + struct.pack(">HHHH", 0, 0, 0, 0)  # layer/altgroup/volume/res
        + _UNITY_MATRIX
        + struct.pack(">II", w << 16, h << 16)
    )
    return _full(b"tkhd", 0, 3, body)


def _mdhd(timescale: int, duration: int) -> bytes:
    # language 'und' packed 5-bit: 0x55C4
    body = struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0)
    return _full(b"mdhd", 0, 0, body)


def _hdlr(handler: bytes, name: bytes) -> bytes:
    body = b"\x00" * 4 + handler + b"\x00" * 12 + name + b"\x00"
    return _full(b"hdlr", 0, 0, body)


def _dinf() -> bytes:
    url = _full(b"url ", 0, 1, b"")  # flags=1: data in this file
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1) + url)
    return _box(b"dinf", dref)


def _empty_stbl(sample_entry: bytes) -> bytes:
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _full(b"stts", 0, 0, struct.pack(">I", 0))
    stsc = _full(b"stsc", 0, 0, struct.pack(">I", 0))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, 0))
    stco = _full(b"stco", 0, 0, struct.pack(">I", 0))
    return _box(b"stbl", stsd + stts + stsc + stsz + stco)


def _visual_entry(codec: str, w: int, h: int) -> bytes:
    body = (
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16  # predefined / reserved
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32  # compressorname
        + struct.pack(">Hh", 24, -1)  # depth, predefined
    )
    return _box(codec.encode("ascii"), body)


def _audio_entry(codec: str) -> bytes:
    body = (
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 8  # reserved
        + struct.pack(">HHHH", 2, 16, 0, 0)  # channels/bits/predef/res
        + struct.pack(">I", 44100 << 16)  # samplerate 16.16
    )
    return _box(codec.encode("ascii"), body)


def encode_mp4_skeleton(
    duration_ms: int,
    width: int,
    height: int,
    codec: str = "avc1",
    with_audio: bool = False,
    mdat: bytes = b"",
) -> bytes:
    """Minimal valid ISO BMFF tree: ftyp + moov(mvhd + video trak
    [+ audio trak]) + mdat. Timescale is fixed at 1000 so mvhd
    duration == duration_ms exactly (parse_mp4_metadata round-trips it
    with no rescaling loss). All boxes are fixed-size except mdat, so
    len(result) == VIDEO_SKELETON_BYTES [+ AUDIO_TRAK_BYTES] +
    len(mdat) — the size law the oracle-gated catalog entry pins."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"mp42")
    n_tracks = 2 if with_audio else 1
    mvhd = _full(
        b"mvhd",
        0,
        0,
        struct.pack(">IIII", 0, 0, 1000, duration_ms)
        + struct.pack(">IHHII", 0x00010000, 0x0100, 0, 0, 0)
        + _UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", n_tracks + 1),
    )
    vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    vminf = _box(b"minf", vmhd + _dinf() + _empty_stbl(
        _visual_entry(codec, width, height)
    ))
    vmdia = _box(
        b"mdia",
        _mdhd(1000, duration_ms)
        + _hdlr(b"vide", b"VideoHandler")
        + vminf,
    )
    traks = _box(b"trak", _tkhd(1, duration_ms, width, height) + vmdia)
    if with_audio:
        smhd = _full(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
        aminf = _box(
            b"minf", smhd + _dinf() + _empty_stbl(_audio_entry("mp4a"))
        )
        amdia = _box(
            b"mdia",
            _mdhd(1000, duration_ms)
            + _hdlr(b"soun", b"SoundHandler")
            + aminf,
        )
        traks += _box(b"trak", _tkhd(2, duration_ms, 0, 0) + amdia)
    moov = _box(b"moov", mvhd + traks)
    return ftyp + moov + _box(b"mdat", mdat)


# fixed-size law constants (asserted by tests/test_multimodal.py and
# baked into the multimodal_video_metadata oracle SQL)
VIDEO_SKELETON_BYTES = len(encode_mp4_skeleton(1, 16, 16))
AUDIO_TRAK_BYTES = len(
    encode_mp4_skeleton(1, 16, 16, with_audio=True)
) - VIDEO_SKELETON_BYTES


# -------------------------------------------- MJPEG sample round-trip
#
# Motion-JPEG closes the frame-DECODE stub for one real codec: each
# mp4 sample is a COMPLETE baseline JPEG (the 'jpeg' sample entry of
# QuickTime/ISO MJPEG), so demuxing through the REAL sample tables
# (stsz/stco/stsc) yields frames the pure-python decode_jpeg
# (operators/jpeg.py) turns into pixels — no codec library. Inter-
# frame codecs (h264/h265/av1) stay behind multimodal.stub_decoder.


def _sample_stbl(
    sample_entry: bytes, sizes: list[int], stco_offset: int
) -> bytes:
    """stbl with REAL sample tables: one chunk holding every sample
    consecutively (single stsc run), per-sample byte sizes (stsz), a
    fixed 40 ms frame delta at the 1000 timescale (stts)."""
    n = len(sizes)
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, 40))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
    stsz = _full(
        b"stsz",
        0,
        0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    stco = _full(b"stco", 0, 0, struct.pack(">II", 1, stco_offset))
    return _box(b"stbl", stsd + stts + stsc + stsz + stco)


def encode_mjpeg_mp4(
    width: int, height: int, frames: list[bytes]
) -> bytes:
    """Mux complete JPEG frames into a valid single-track MJPEG mp4 at
    25 fps (40 ms deltas, timescale 1000). The inverse of
    extract_video_samples; parse_mp4_metadata reads it too (codec
    fourcc 'jpeg', duration 40*n ms)."""
    if not frames:
        raise ValueError("encode_mjpeg_mp4: need at least one frame")
    sizes = [len(f) for f in frames]
    duration = 40 * len(frames)

    def head(stco_offset: int) -> bytes:
        ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"mp42")
        mvhd = _full(
            b"mvhd",
            0,
            0,
            struct.pack(">IIII", 0, 0, 1000, duration)
            + struct.pack(">IHHII", 0x00010000, 0x0100, 0, 0, 0)
            + _UNITY_MATRIX
            + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
        minf = _box(
            b"minf",
            vmhd
            + _dinf()
            + _sample_stbl(
                _visual_entry("jpeg", width, height), sizes, stco_offset
            ),
        )
        mdia = _box(
            b"mdia",
            _mdhd(1000, duration) + _hdlr(b"vide", b"VideoHandler") + minf,
        )
        trak = _box(b"trak", _tkhd(1, duration, width, height) + mdia)
        return ftyp + _box(b"moov", mvhd + trak)

    # stco carries the ABSOLUTE mdat payload offset; the head's size
    # depends only on len(frames) (the offset field is fixed-width),
    # so one probe pass resolves it
    probe = head(0)
    return head(len(probe) + 8) + _box(b"mdat", b"".join(frames))


def _parse_stbl_tables(buf: bytes, start: int, end: int):
    codec, sizes, chunk_offsets, stsc = None, [], [], []
    for typ, b0, b1 in _boxes(buf, start, end):
        _, p = _fullbox(buf, b0)
        if typ == b"stsd" and b1 - b0 > 16:
            codec = buf[b0 + 12 : b0 + 16].decode("ascii", "replace")
        elif typ == b"stsz":
            default, n = struct.unpack_from(">II", buf, p)
            if default:
                sizes = [default] * n
            else:
                sizes = list(struct.unpack_from(f">{n}I", buf, p + 8))
        elif typ == b"stco":
            (n,) = struct.unpack_from(">I", buf, p)
            chunk_offsets = list(struct.unpack_from(f">{n}I", buf, p + 4))
        elif typ == b"co64":
            # 64-bit chunk offsets — what large/foreign files (>4 GiB
            # mdat, or muxers that always emit co64) carry instead of
            # stco (without this they demux as 'no video track')
            (n,) = struct.unpack_from(">I", buf, p)
            chunk_offsets = list(struct.unpack_from(f">{n}Q", buf, p + 4))
        elif typ == b"stsc":
            (n,) = struct.unpack_from(">I", buf, p)
            stsc = [
                struct.unpack_from(">III", buf, p + 4 + 12 * i)
                for i in range(n)
            ]
    return codec, sizes, chunk_offsets, stsc


def extract_video_samples(payload: bytes) -> tuple[str, list[bytes]]:
    """(codec fourcc, per-frame byte slices) of the first video track,
    resolved through the real sample tables: stsz per-sample sizes,
    stco OR co64 chunk offsets (32/64-bit), stsc chunk->samples runs
    (samples are consecutive within a chunk) — the standard demux
    walk. Raises ValueError when no video track carries sample tables.

    Known limitation: only stsz version 0 (the universal form) is
    parsed; the stz2 compact-size variant and fragmented MP4s
    (moof/trun sample tables) degrade to the ValueError, not a wrong
    answer."""
    for typ, b0, b1 in _boxes(payload, 0, len(payload)):
        if typ != b"moov":
            continue
        for t1, c0, c1 in _boxes(payload, b0, b1):
            if t1 != b"trak":
                continue
            handler, tables = None, None
            for t2, d0, d1 in _boxes(payload, c0, c1):
                if t2 != b"mdia":
                    continue
                for t3, e0, e1 in _boxes(payload, d0, d1):
                    if t3 == b"hdlr":
                        handler = payload[e0 + 8 : e0 + 12]
                    elif t3 == b"minf":
                        for t4, f0, f1 in _boxes(payload, e0, e1):
                            if t4 == b"stbl":
                                tables = _parse_stbl_tables(
                                    payload, f0, f1
                                )
            if handler != b"vide" or tables is None:
                continue
            codec, sizes, offsets, stsc = tables
            if not sizes or not offsets:
                continue
            frames: list[bytes] = []
            si = 0
            for ci in range(len(offsets)):
                per = 0
                for first, spc, _sd in stsc:
                    if first <= ci + 1:
                        per = spc
                    else:
                        break
                off = offsets[ci]
                for _ in range(per):
                    if si >= len(sizes):
                        break
                    frames.append(payload[off : off + sizes[si]])
                    off += sizes[si]
                    si += 1
            return codec, frames
    raise ValueError("no video track with sample tables")


# ------------------------------------------------------- DataFrame op

VIDEO_META_SCHEMA = (
    "media_id BIGINT, major_brand STRING, n_bytes BIGINT,"
    " duration_ms BIGINT, n_tracks INT, codec STRING,"
    " width INT, height INT"
)


def video_metadata(
    media: DataFrame,
    *,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-payload MP4 container metadata, payload dropped in-stage.

    One Arrow-batched mapInPandas pass: the binary column never leaves
    the scan partition (only the ~60-byte metadata row can shuffle
    downstream), so the operator's exchange volume is independent of
    video size — the same discipline as extract_features. Corrupt
    payloads raise (fail-loud; route through a try/except wrapper at
    the caller if quarantine semantics are wanted)."""
    cols = media.select(id_col, payload_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload)
                m = parse_mp4_metadata(raw)
                out.append(
                    (
                        mid,
                        m["major_brand"],
                        len(raw),
                        m["duration_ms"],
                        m["n_tracks"],
                        m["codec"],
                        m["width"],
                        m["height"],
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "major_brand",
                    "n_bytes",
                    "duration_ms",
                    "n_tracks",
                    "codec",
                    "width",
                    "height",
                ],
            )

    return cols.mapInPandas(run, schema=VIDEO_META_SCHEMA)
