"""Multimodal (image/audio/video) column plumbing for training pipelines.

Media travel as opaque ``binary`` columns with typed metadata structs;
all heavy per-item work (decode, resize, feature extraction, frame
sampling) runs as Arrow-batched ``mapInPandas`` stages so executors
process media without ever materializing a partition as Python objects
row-by-row.

The decode kernel is pluggable: ``decoder=`` takes any ``bytes ->
np.ndarray`` callable. Decoded for REAL, with no external codec
library: PPM/PGM (netpbm P6/P5), BMP (24-bit BI_RGB), WAV (PCM
8/16-bit) in pure numpy, PNG (8-bit gray/RGB/RGBA/palette, all five
row filters) via stdlib ``zlib``, and baseline JPEG (SOF0 huffman +
dequant + IDCT; gray / 4:4:4 / 4:2:2 / 4:2:0, DRI restarts) in pure
numpy — see ``decode_media`` and ``jpeg.py``. MP4 CONTAINER metadata
(duration, track count, codec fourcc, dimensions) is also real — a
pure-stdlib ISO BMFF box walk in ``mp4.py`` — but video FRAME decode
(h264/h265 entropy coding) needs ffmpeg, which is NOT available in
this environment; that slot raises a clearly-marked NotImplementedError,
and ``deterministic_fake_decoder`` produces a seeded-by-content fake
pixel array so the Spark-side plumbing — schema, batch shapes,
partitioning, metadata propagation — stays fully testable. Swapping
decoders changes no plan shape.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),     # image | audio | video
        T.StructField("format", T.StringType()),   # e.g. jpeg, wav, mp4
        T.StructField("width", T.IntegerType()),   # media-kind metadata
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),  # opaque encoded bytes
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def stub_decoder(payload: bytes) -> np.ndarray:
    """The INTER-FRAME video-codec slot (h264/h265/av1). Not
    implemented in this container; MJPEG video is fully supported via
    video_frame_features (mp4 demux + the pure-python JPEG decoder)."""
    raise NotImplementedError(
        "h264/h265/av1 decode requires ffmpeg; MJPEG video decodes "
        "for real via video_frame_features, still images via "
        "decode_media (ppm/pgm/bmp/wav/png/jpeg), or plug a real "
        "`decoder=` into extract_features / use "
        "deterministic_fake_decoder"
    )


# ------------------------------------------------- real pure-numpy codecs
#
# Uncompressed container formats need only header parsing + frombuffer:
# these are REAL decoders (golden-pixel tested), not stubs. They cover
# the raw interchange formats a training pipeline's pre-decoded shards
# actually use. PNG is also real — its DEFLATE stream decodes with
# stdlib zlib (decode_png below), and baseline JPEG decodes in
# operators/jpeg.py; only inter-frame video codecs (h264 and kin)
# remain behind stub_decoder.


def _pnm_header(payload: bytes) -> tuple[bytes, list[int], int]:
    """Parse a netpbm header: magic + 3 ints (w, h, maxval), skipping
    whitespace and '#' comments; returns (magic, [w, h, maxval],
    data_offset)."""
    magic = payload[:2]
    vals: list[int] = []
    i = 2
    n = len(payload)
    while len(vals) < 3:
        while i < n and payload[i : i + 1].isspace():
            i += 1
        if i < n and payload[i : i + 1] == b"#":
            while i < n and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < n and not payload[j : j + 1].isspace():
            j += 1
        if j == i:
            raise ValueError("truncated netpbm header")
        vals.append(int(payload[i:j]))
        i = j
    return magic, vals, i + 1  # exactly ONE whitespace before raster


def decode_ppm(payload: bytes) -> np.ndarray:
    """netpbm binary raster: P6 (RGB) -> (h, w, 3) uint8, P5 (gray) ->
    (h, w) uint8. maxval <= 255 only (the 16-bit variant is rare)."""
    magic, (w, h, maxval), off = _pnm_header(payload)
    if magic not in (b"P6", b"P5"):
        raise ValueError(f"not a binary netpbm payload: {magic!r}")
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    ch = 3 if magic == b"P6" else 1
    need = w * h * ch
    raster = np.frombuffer(payload, dtype=np.uint8, count=need, offset=off)
    return raster.reshape(h, w, 3) if ch == 3 else raster.reshape(h, w)


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w[, 3]) uint8 -> P6/P5 bytes (round-trips decode_ppm)."""
    a = np.asarray(img, dtype=np.uint8)
    magic = b"P6" if a.ndim == 3 else b"P5"
    h, w = a.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + a.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BI_RGB Windows bitmap -> (h, w, 3) uint8 RGB.

    Handles the two quirks that make naive readers wrong: rows are
    padded to 4-byte boundaries, and a positive height means the raster
    is stored bottom-up."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BI_RGB supported")
    bottom_up = h > 0
    h = abs(h)
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit bottom-up BI_RGB bytes."""
    a = np.asarray(img, dtype=np.uint8)
    h, w = a.shape[:2]
    stride = ((w * 3 + 3) // 4) * 4
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # flip + BGR
    data = raster.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                      2835, 2835, 0, 0)
    return header + dib + data


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # color type -> channels


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> uint8 array, with REAL DEFLATE decode via stdlib zlib —
    no external codec library needed (this is the one entropy-coded
    format whose compression lives in the stdlib). Supports bit depth
    8, color types 0 (gray -> (h,w)), 2 (RGB -> (h,w,3)), 3 (palette
    -> (h,w,3)), 4 (gray+alpha -> (h,w,2)), 6 (RGBA -> (h,w,4)),
    non-interlaced; all five row filters (none/sub/up/average/paeth,
    RFC 2083 §6) are unfiltered."""
    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    i, n = len(_PNG_SIG), len(payload)
    ihdr = palette = None
    idat = bytearray()
    while i + 8 <= n:
        (ln,), typ = struct.unpack_from(">I", payload, i), payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + ln]
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif typ == b"PLTE":
            palette = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        i += 12 + ln  # length + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            "only 8-bit non-interlaced PNG supported "
            f"(depth={depth} interlace={interlace})"
        )
    if ctype not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {ctype}")
    bpp = _PNG_CHANNELS[ctype]  # bytes/pixel == channels at depth 8
    stride = w * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG raster size mismatch")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, np.uint8, stride, y * (stride + 1) + 1
        ).astype(np.int64)
        if ftype == 0:  # None
            pass
        elif ftype == 2:  # Up — fully vectorized
            row = (row + prev) & 0xFF
        elif ftype in (1, 3, 4):
            # Sub/Average/Paeth recur on the just-reconstructed left
            # neighbor -> sequential in x (vector across channels only).
            # Fine here: pixel loops are tiny vs the zlib inflate, and
            # this runs inside an Arrow-batched mapInPandas worker.
            for x in range(0, stride, bpp):
                left = row[x - bpp : x] if x else np.zeros(bpp, np.int64)
                up = prev[x : x + bpp]
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) // 2
                else:
                    ul = (
                        prev[x - bpp : x] if x else np.zeros(bpp, np.int64)
                    )
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, ul),
                    )
                row[x : x + bpp] = (row[x : x + bpp] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = row
        prev = row
    if ctype == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        return palette[out.reshape(h, w)]
    return out.reshape(h, w) if bpp == 1 else out.reshape(h, w, bpp)


def encode_png(img: np.ndarray) -> bytes:
    """uint8 (h,w) gray / (h,w,3) RGB / (h,w,4) RGBA -> PNG bytes
    (filter 0 rows, one zlib-deflated IDAT; round-trips decode_png)."""
    a = np.asarray(img, dtype=np.uint8)
    h, w = a.shape[:2]
    ch = 1 if a.ndim == 2 else a.shape[2]
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(typ: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(typ + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + typ + body + struct.pack(">I", crc)

    raster = a.reshape(h, w * ch)
    raw = b"".join(b"\x00" + raster[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_wav(payload: bytes) -> np.ndarray:
    """RIFF/WAVE PCM (8- or 16-bit) -> (n_frames, n_channels) float32
    in [-1, 1]. Walks the chunk list (fmt /data can be preceded by
    LIST/fact chunks), so real-world files parse too."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(payload)
    fmt = data = None
    while i + 8 <= n:
        cid = payload[i : i + 4]
        (sz,) = struct.unpack_from("<I", payload, i + 4)
        body = payload[i + 8 : i + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels = struct.unpack_from("<HH", fmt, 0)
    (bits,) = struct.unpack_from("<H", fmt, 14)
    if audio_format != 1 or bits not in (8, 16):
        raise ValueError("only PCM 8/16-bit supported")
    if bits == 16:
        samples = np.frombuffer(
            data, dtype="<i2", count=len(data) // 2
        ).astype(np.float32) / 32768.0
    else:
        samples = (
            np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0
        ) / 128.0
    frames = len(samples) // channels
    return samples[: frames * channels].reshape(frames, channels)


def encode_wav(
    samples: np.ndarray, *, sample_rate: int = 16_000
) -> bytes:
    """(n_frames, n_channels) float in [-1, 1] -> 16-bit PCM WAV bytes."""
    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 1:
        a = a[:, None]
    pcm = np.clip(np.round(a * 32768.0), -32768, 32767).astype("<i2")
    channels = pcm.shape[1]
    data = pcm.tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16
    )
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _decode_jpeg(payload: bytes) -> np.ndarray:
    from .jpeg import decode_jpeg

    return decode_jpeg(payload)


REAL_DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {
    "ppm": decode_ppm,
    "pgm": decode_ppm,
    "bmp": decode_bmp,
    "wav": decode_wav,
    "png": decode_png,
    "jpeg": _decode_jpeg,
    "jpg": _decode_jpeg,
}


def decode_media(payload: bytes, media_format: str) -> np.ndarray:
    """Dispatch by container format: pure-numpy decode for the
    uncompressed formats, explicit NotImplementedError for codec ones."""
    f = media_format.lower()
    if f in REAL_DECODERS:
        return REAL_DECODERS[f](payload)
    raise NotImplementedError(
        f"format {media_format!r} needs a codec library (PIL/ffmpeg); "
        f"pure-numpy formats available here: {sorted(REAL_DECODERS)}"
    )


def deterministic_fake_decoder(payload: bytes) -> np.ndarray:
    """Seeded-by-content fake decode: 8x8 'pixels' derived from the sha256
    of the payload — deterministic, so tests can assert exact outputs."""
    digest = hashlib.sha256(payload).digest()
    arr = np.frombuffer((digest * 2)[:64], dtype=np.uint8)
    return arr.reshape(8, 8).astype(np.float32)


def extract_features(
    media: DataFrame,
    *,
    decoder: Callable[[bytes], np.ndarray] = stub_decoder,
    feature_dim: int = 16,
) -> DataFrame:
    """payload -> fixed-dim feature vector, one Arrow batch at a time.

    Scale shape: narrow (no shuffle) mapInPandas over whatever
    partitioning the media table already has; output drops the payload
    column so downstream stages never reshuffle the heavy bytes.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, hashes, sizes = [], [], []
            for payload in pdf["payload"]:
                b = bytes(payload)
                sizes.append(len(b))
                hashes.append(hashlib.sha256(b).hexdigest())
                decoded = decoder(b)
                flat = decoded.astype(np.float64).ravel()
                # fixed-dim pooling: mean over equal chunks (pad w/ 0)
                pad = (-len(flat)) % feature_dim
                if pad:
                    flat = np.pad(flat, (0, pad))
                feats.append(
                    flat.reshape(feature_dim, -1).mean(axis=1).astype(np.float32)
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "content_sha256": hashes,
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def video_frame_features(
    media: DataFrame,
    *,
    frame_decoder: Callable[[bytes], np.ndarray] | None = None,
    feature_dim: int = 16,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL video frame decode for MJPEG: demux each mp4 payload
    through its sample tables (operators/mp4.py
    extract_video_samples), decode every frame — each sample of an
    MJPEG track is a complete baseline JPEG, handled by the
    pure-python operators/jpeg.py decoder — and pool the same
    fixed-dim chunk-mean feature as extract_features, one row per
    (media_id, frame_idx).

    Scale shape: a single narrow mapInPandas pass; payload bytes never
    shuffle (only ~80-byte frame-feature rows leave the stage), and
    the per-payload fan-out (frames per video) happens inside the
    stage, not through an explode of the binary column.

    ``frame_decoder`` defaults to decode_jpeg for the 'jpeg' fourcc;
    inter-frame codecs (avc1/hev1/av01) raise through stub_decoder —
    the codec-library boundary is now PER-CODEC, not per-operator."""
    from .jpeg import decode_jpeg
    from .mp4 import extract_video_samples

    cols = media.select(id_col, payload_col)
    # decode parallelism = input partitions. A compacted source (one
    # fat parquet file, a coalesced upstream) would otherwise pin the
    # CPU-bound demux+decode fan-out to a few cores — measured 1
    # partition = 1 core = ~12 frames/s at sf0.1 vs ~330/s after the
    # guard (BENCH_NOTES r8). The shuffle moves each payload once and
    # only fires when the input arrives under-split; on a well-split
    # 100 TB source (every file >= one split) it is a no-op.
    sc = media.sparkSession.sparkContext
    if cols.rdd.getNumPartitions() < sc.defaultParallelism:
        cols = cols.repartition(sc.defaultParallelism, id_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, idxs, codecs, feats = [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                codec, frames = extract_video_samples(bytes(payload))
                if frame_decoder is not None:
                    dec = frame_decoder
                elif codec == "jpeg":
                    dec = decode_jpeg
                else:
                    dec = stub_decoder
                for fi, fb in enumerate(frames):
                    flat = dec(fb).astype(np.float64).ravel()
                    pad = (-len(flat)) % feature_dim
                    if pad:
                        flat = np.pad(flat, (0, pad))
                    mids.append(int(mid))
                    idxs.append(fi)
                    codecs.append(codec)
                    feats.append(
                        flat.reshape(feature_dim, -1)
                        .mean(axis=1)
                        .astype(np.float32)
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "codec": codecs,
                    "feature": feats,
                }
            )

    return cols.mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)


def frame_sample_plan(
    media: DataFrame, *, every_ms: int = 1000
) -> DataFrame:
    """Video -> (media_id, frame_idx, frame_ts_ms) expansion — the
    *plan* of a frame sampler: pure Spark expressions (no decode), so the
    expensive decode stage downstream receives an exact work list."""
    n = F.greatest(
        (F.col("duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.posexplode(F.sequence(F.lit(0), n - 1)).alias(
                "frame_idx", "_i"
            ),
        )
        .select(
            "media_id", "frame_idx",
            (F.col("frame_idx") * every_ms).alias("frame_ts_ms"),
        )
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),  # uint8 row-major
    ]
)


def resize_images(
    media: DataFrame,
    *,
    out_hw: tuple[int, int] = (4, 4),
    decoder: Callable[[bytes], np.ndarray] = stub_decoder,
) -> DataFrame:
    """Decode -> block-mean downsample -> re-emit compact pixel bytes.

    The resample itself is pure numpy (no codec): the H x W plane is
    cut into an out_h x out_w grid and each cell averaged — real math,
    not a stub; only the decode slot is pluggable. Same narrow (no
    shuffle) mapInPandas shape as extract_features; the output carries
    out_h*out_w bytes per item instead of the original payload, so a
    100 TB corpus leaves this stage orders of magnitude smaller.
    """
    oh, ow = out_hw

    def _block_mean(img: np.ndarray) -> np.ndarray:
        if img.ndim == 3:  # RGB -> luminance-free channel mean
            img = img.mean(axis=2)
        h, w = img.shape[:2]
        # cell boundaries via integer bucketing (handles non-divisible
        # shapes; every source pixel lands in exactly one cell)
        ri = (np.arange(h) * oh) // max(h, 1)
        ci = (np.arange(w) * ow) // max(w, 1)
        out = np.zeros((oh, ow), dtype=np.float64)
        cnt = np.zeros((oh, ow), dtype=np.int64)
        np.add.at(out, (ri[:, None], ci[None, :]), img.astype(np.float64))
        np.add.at(cnt, (ri[:, None], ci[None, :]), 1)
        return (out / np.maximum(cnt, 1)).round().astype(np.uint8)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pix = [
                _block_mean(decoder(bytes(p))).tobytes()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "out_h": np.int32(oh),
                    "out_w": np.int32(ow),
                    "pixels": pix,
                }
            )

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


def media_dedup_keys(media: DataFrame) -> DataFrame:
    """Exact media dedup key: sha256 of payload bytes (JVM-side, no
    Python round-trip) + size. The canonical first pass before any
    perceptual/feature-space near-dup stage."""
    return media.select(
        "media_id",
        F.sha2(F.col("payload"), 256).alias("content_sha256"),
        F.octet_length(F.col("payload")).cast("long").alias("n_bytes"),
    )
