"""Multimodal entries: media dedup keys and decoded image, JPEG and
video features over synthesized payloads.
"""

from __future__ import annotations

from .queries import q


# Media-as-binary columns (operators/multimodal.py) exercised on real
# bytes: documents.text encoded as the opaque payload. The dedup-key
# stage is JVM-side (sha2/octet_length — oracle-checked); the feature
# stages synthesize valid images per document and run the REAL
# pure-numpy/stdlib decoders through mapInPandas — and because the
# payloads are deterministic byte arithmetic over documents.text, the
# decode+pool output has a closed form a DuckDB oracle can mirror, so
# the end-to-end pipelines are HASH-GATED, not rows-only.
# The package depends on no codec library: PNG decodes via stdlib
# zlib and baseline JPEG in operators/jpeg.py; only inter-frame video
# codecs stay stubbed.


def _build_media_keys(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..operators.multimodal import media_dedup_keys

    media = spark.table("documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    return media_dedup_keys(media)


@q("multimodal_media_keys", spark=_build_media_keys)
def _media_keys_q(d: str) -> str:
    return """
SELECT doc_id AS media_id, sha256(text) AS content_sha256,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


# hex("P6\n8 8\n255\n") — the 11-byte PPM header every synthesized
# payload starts with; total payload = 11 + 192 raster bytes = 203
_PPM_HDR_HEX = "P6\n8 8\n255\n".encode().hex().upper()

# DuckDB mirror of extract_features' pooling over an 8x8x3 raster whose
# bytes are `rh` (384 uppercase hex chars = 192 bytes): for each of the
# 16 chunks, the EXACT integer sum of its 12 bytes, '|'-joined. The
# Spark side rescales each float32 chunk-mean m to round(m*12), which
# provably recovers the integer sum for sums <= 3060.
_CHUNK_SUMS_ORACLE = """array_to_string(list_transform(
    list_transform(range(0, 16), j ->
      list_sum(list_transform(range(0, 12), i ->
        (strpos('0123456789ABCDEF',
                substr(rh, CAST(j*12+i AS INT)*2 + 1, 1)) - 1) * 16
        + strpos('0123456789ABCDEF',
                 substr(rh, CAST(j*12+i AS INT)*2 + 2, 1)) - 1
      ))), s -> CAST(s AS VARCHAR)), '|')"""

# Spark twin: float32 chunk-mean -> exact integer byte sum
_CHUNK_SUMS_SPARK = (
    "concat_ws('|', transform(feature, x -> CAST(round(x * 12) AS INT)))"
)


def _build_media_features(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from ..operators.multimodal import decode_ppm, extract_features

    media = _synth_ppm_media(spark)
    # payload_sha is computed on the synthesized payload pre-decode and
    # broadcast-joined back onto the (payload-free) feature rows
    shas = media.select(
        "media_id",
        F.sha2(F.lower(F.hex("payload")), 256).alias("payload_sha"),
    )
    feats = extract_features(media, decoder=decode_ppm)
    return (
        feats.join(F.broadcast(shas), "media_id")
        .select(
            "media_id",
            "kind",
            "n_bytes",
            "payload_sha",
            # float32 chunk-mean -> exact integer byte sum (see oracle)
            F.expr(_CHUNK_SUMS_SPARK).alias("feature"),
        )
    )


@q("multimodal_features", spark=_build_media_features)
def _media_features_q(d: str) -> str:
    """HASH-GATED oracle for the real-decode feature pipeline. The
    Spark side synthesizes
    a valid 8x8 P6 payload per doc (header + first 192 text bytes,
    zero-padded), runs the REAL pure-numpy PPM decoder through
    mapInPandas, and pools 16 chunk-means; deterministic pixel math
    means every output is a computable constant per doc, so DuckDB can
    mirror it with blob/hex byte arithmetic:

    - `payload_sha`: sha256 over the LOWERCASE HEX of the payload
      (DuckDB 1.0's sha256 is VARCHAR-only, so raw-byte sha256 is not
      oracle-computable; hex is injective, so hashing the hex pins the
      exact payload bytes just as hard). The raw-byte sha256 that
      extract_features itself emits stays pinned by pytest
      (tests/test_multimodal.py).
    - `feature`: each float32 chunk-mean m rescaled to the EXACT integer
      byte sum round(m*12) — float32(s/12)*12 rounds back to s for all
      s <= 3060 (error <= s*2^-24 < 0.5), so both engines compare
      exact integers instead of decimal-formatted floats.

    Reference-spirit anchor: the differential pattern of
    test/sql/dd_read_arrow_split.test_slow:40-62 (pipeline vs direct
    recomputation over identical inputs)."""
    return f"""
WITH hexed AS (
  SELECT doc_id AS media_id,
         rpad(substr(upper(hex(encode(text))), 1, 384), 384, '0') AS rh
  FROM documents
)
SELECT media_id, 'image' AS kind, CAST(203 AS BIGINT) AS n_bytes,
  sha256(lower('{_PPM_HDR_HEX}' || rh)) AS payload_sha,
  {_CHUNK_SUMS_ORACLE} AS feature
FROM hexed
"""


def _synth_ppm_media(spark):
    """(media_id, kind, payload) with a VALID 8x8 P6 payload per doc:
    header + the doc's first 192 text bytes as RGB raster (zero-padded,
    truncated at 192 — Spark's binary rpad does both)."""
    from pyspark.sql import functions as F

    return spark.table("documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.expr(
            f"concat(X'{_PPM_HDR_HEX}',"
            " rpad(encode(text, 'UTF-8'), 192, X'00'))"
        ).alias("payload"),
    )


def _build_png_features(spark, sf_dir: str):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ..operators.multimodal import (
        decode_png, encode_png, extract_features,
    )

    raw = spark.table("documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.expr("rpad(encode(text, 'UTF-8'), 192, X'00')").alias("raster"),
    )

    def encode(batches):
        for pdf in batches:
            payloads = [
                encode_png(
                    np.frombuffer(bytes(r), np.uint8).reshape(8, 8, 3)
                )
                for r in pdf["raster"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                }
            )

    media = raw.mapInPandas(
        encode, schema="media_id BIGINT, kind STRING, payload BINARY"
    )
    feats = extract_features(media, decoder=decode_png)
    return feats.select(
        "media_id", "kind", F.expr(_CHUNK_SUMS_SPARK).alias("feature")
    )


@q("multimodal_png_features", spark=_build_png_features)
def _png_features_q(d: str) -> str:
    """HASH-GATED end-to-end PNG pipeline: per doc the
    Spark side packs the first 192 text bytes (zero-padded) into an
    8x8x3 raster, ENCODES it as a real PNG (stdlib zlib DEFLATE) in one
    mapInPandas stage, DECODES it with decode_png (chunk walk, inflate,
    row unfiltering) in the feature stage, and pools chunk sums. The
    zlib-compressed payload bytes themselves are codec-dependent, so
    n_bytes/sha stay out of this gate (the PPM twin pins payload
    bytes); the DECODED pixels are deterministic byte arithmetic the
    oracle mirrors exactly — any corruption across encode->deflate->
    inflate->unfilter->pool breaks the hash."""
    return f"""
WITH hexed AS (
  SELECT doc_id AS media_id,
         rpad(substr(upper(hex(encode(text))), 1, 384), 384, '0') AS rh
  FROM documents
)
SELECT media_id, 'image' AS kind,
  {_CHUNK_SUMS_ORACLE} AS feature
FROM hexed
"""


def _build_jpeg_features(spark, sf_dir: str):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ..operators.jpeg import decode_jpeg, encode_jpeg
    from ..operators.multimodal import extract_features

    raw = spark.table("documents").select(
        F.col("doc_id").alias("media_id"),
        F.expr("rpad(encode(text, 'UTF-8'), 64, X'00')").alias("vals"),
    )

    def encode(batches):
        for pdf in batches:
            ids, kinds, payloads = [], [], []
            for mid, r in zip(pdf["media_id"], pdf["vals"]):
                blocks = np.frombuffer(bytes(r), np.uint8).reshape(8, 8)
                img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                ids.append(mid)
                kinds.append("gray")
                payloads.append(encode_jpeg(img, quant=1))
                # r=g=b 4:2:2 twin: Y=v / Cb=Cr=128 exactly, so the
                # decoded RGB is bit-exact and the oracle derivation
                # is shared (entry docstring)
                rgb = np.repeat(img[:, :, None], 3, axis=2)
                ids.append(mid)
                kinds.append("rgb422")
                payloads.append(encode_jpeg(rgb, quant=1, subsample="422"))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": kinds,
                    "payload": payloads,
                }
            )

    media = raw.mapInPandas(
        encode, schema="media_id BIGINT, kind STRING, payload BINARY"
    )
    feats = extract_features(media, decoder=decode_jpeg)
    return feats.select(
        "media_id",
        "kind",
        F.expr(
            "concat_ws('|', transform(feature,"
            " x -> CAST(round(x * 8) AS INT)))"
        ).alias("feature"),
    )


@q("multimodal_jpeg_features", spark=_build_jpeg_features)
def _jpeg_features_q(d: str) -> str:
    """HASH-GATED end-to-end baseline-JPEG pipeline: per doc the
    Spark side expands the first 64 text bytes
    (zero-padded) into a 64x64 grayscale image of UNIFORM 8x8 blocks
    (block (i,j) = byte 8i+j), ENCODES it as a real baseline JPEG
    (FDCT, all-ones quant, T.81 Huffman, byte stuffing) in one
    mapInPandas stage, DECODES it with decode_jpeg (marker walk,
    canonical Huffman, dequant, IDCT) in the feature stage, and pools
    16 chunk-means. A constant 8x8 block at quant=1 is DC-only and
    survives the full entropy->IDCT path byte-exactly (operators/
    jpeg.py docstring derivation), so the decoded pixels are integer
    arithmetic the oracle mirrors: chunk c covers 4 image rows inside
    block-row b = c//2, so its mean is sum(bytes[8b:8b+8]) / 8 — and
    float32(S/8) is exact (S * 2^-3), so round(m*8) recovers S with no
    rounding slack at all. The Huffman byte stream itself is
    codec-shaped, so n_bytes/sha stay out of this gate (the PPM twin
    pins payload bytes); any corruption across encode->huffman->
    decode->IDCT->pool breaks the hash.

    TWO rows per doc, to cover chroma subsampling end to end:
    kind='gray' is the single-component path above;
    kind='rgb422' encodes the SAME blocks as an RGB image with r=g=b
    at 4:2:2 (2x1 luma sampling). With r=g=b the BT.601 conversion
    gives Y=v exactly and Cb=Cr=128 exactly (float residue ~1e-13,
    crushed by DC rounding), so the decoded RGB is bit-exact (v,v,v)
    — the oracle derivation is IDENTICAL per kind (each chunk's 768
    interleaved channel values triplicate the 256 gray pixels, so the
    chunk mean is unchanged) while the Spark path exercises
    3-component SOF, chroma Huffman tables, 2x1 MCU geometry, chroma
    upsampling and YCbCr->RGB reconstruction under the driver hash."""
    return """
WITH hexed AS (
  SELECT doc_id AS media_id,
         rpad(substr(upper(hex(encode(text))), 1, 128), 128, '0') AS rh
  FROM documents
)
SELECT media_id, k.kind,
  array_to_string(list_transform(range(0, 16), j ->
    CAST(list_sum(list_transform(range(0, 8), i ->
      (strpos('0123456789ABCDEF',
              substr(rh, CAST((j // 2) * 8 + i AS INT) * 2 + 1, 1)) - 1)
      * 16
      + strpos('0123456789ABCDEF',
               substr(rh, CAST((j // 2) * 8 + i AS INT) * 2 + 2, 1)) - 1
    )) AS VARCHAR)), '|') AS feature
FROM hexed, (VALUES ('gray'), ('rgb422')) AS k(kind)
"""


def _build_video_frames(spark, sf_dir: str):
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ..operators.multimodal import video_frame_features

    raw = spark.table("documents").select(
        F.col("doc_id").alias("media_id"),
        F.expr("encode(text, 'UTF-8')").alias("tb"),
    )
    # the encode fixture fans out CPU-bound JPEG-encode work per doc;
    # a single-file scan would pin it (and everything downstream) to
    # one core — spread the narrow (id, text) rows BEFORE the fan-out
    # (same guard as video_frame_features; measured 28x at sf0.1)
    sc = spark.sparkContext
    if raw.rdd.getNumPartitions() < sc.defaultParallelism:
        raw = raw.repartition(sc.defaultParallelism, "media_id")

    def encode(batches):
        from ..operators.jpeg import encode_jpeg
        from ..operators.mp4 import encode_mjpeg_mp4

        for pdf in batches:
            payloads = []
            for mid, tb in zip(pdf["media_id"], pdf["tb"]):
                mid = int(mid)
                b = bytes(tb) if tb is not None else b""
                frames = []
                for f in range(1 + mid % 3):
                    chunk = b[64 * f : 64 * f + 64].ljust(64, b"\x00")
                    blocks = np.frombuffer(chunk, np.uint8).reshape(8, 8)
                    img = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
                    if f % 3:
                        # frame 1 is r=g=b RGB at
                        # 4:2:2, frame 2 at 4:2:0 — bit-exact decode
                        # for both (multimodal_jpeg_features
                        # docstring: Y=v exactly, Cb=Cr=128 exactly,
                        # and 2x2 luma sampling keeps each 8x8 luma
                        # block constant), so the oracle's per-frame
                        # chunk sums are UNCHANGED while the demux->
                        # decode path exercises ALL THREE sampling
                        # modes inside MJPEG under the driver hash
                        rgb = np.repeat(img[:, :, None], 3, 2)
                        mode = "422" if f % 3 == 1 else "420"
                        frames.append(
                            encode_jpeg(rgb, quant=1, subsample=mode)
                        )
                    else:
                        frames.append(encode_jpeg(img, quant=1))
                payloads.append(encode_mjpeg_mp4(64, 64, frames))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = raw.mapInPandas(
        encode, schema="media_id BIGINT, payload BINARY"
    )
    feats = video_frame_features(media)
    return feats.select(
        "media_id",
        "frame_idx",
        "codec",
        F.expr(
            "concat_ws('|', transform(feature,"
            " x -> CAST(round(x * 8) AS INT)))"
        ).alias("feature"),
    )


@q("multimodal_video_frames", spark=_build_video_frames)
def _video_frames_q(d: str) -> str:
    """HASH-GATED MJPEG frame-decode pipeline — the frame-decode slot
    is REAL for one codec: per doc the
    Spark side encodes 1 + doc_id%3 frames (frame f = text bytes
    [64f, 64f+64) zero-padded, expanded to a 64x64 grayscale image of
    uniform 8x8 blocks), each as a complete baseline JPEG
    (operators/jpeg.py encode_jpeg, quant=1), MUXES them into a valid
    MJPEG mp4 with real sample tables (operators/mp4.py
    encode_mjpeg_mp4: stsz/stco/stsc/stts), then DEMUXES through those
    tables and DECODES every frame (video_frame_features ->
    extract_video_samples -> decode_jpeg) into 16 chunk-means. The
    uniform-block/quant=1 construction survives the entropy->IDCT
    path byte-exactly (the multimodal_jpeg_features derivation), so
    the oracle mirrors every frame's chunk sums with integer
    arithmetic over hex windows of the text — any corruption across
    encode->mux->demux->entropy-decode->IDCT->pool breaks the hash.
    Frame 1 is encoded as r=g=b RGB at 4:2:2
    and frame 2 at 4:2:0 — bit-exact decode by the Y=v / Cb=Cr=128
    construction (multimodal_jpeg_features docstring; 2x2 luma
    sampling keeps each 8x8 luma block constant), so this oracle is
    unchanged while the MJPEG demux->decode path exercises all three
    sampling modes under the driver hash.
    Inter-frame codecs (avc1/hev1/av01) remain the declared stub;
    the codec-library boundary is per-codec, not per-operator."""
    return """
WITH frames AS (
  SELECT doc_id AS media_id,
         CAST(f AS INT) AS frame_idx,
         rpad(substr(upper(hex(encode(text))),
                     1 + 128 * CAST(f AS INT), 128), 128, '0') AS rh
  FROM (SELECT doc_id, text, unnest(range(0, 1 + doc_id % 3)) AS f
        FROM documents) t
)
SELECT media_id, frame_idx, 'jpeg' AS codec,
  array_to_string(list_transform(range(0, 16), j ->
    CAST(list_sum(list_transform(range(0, 8), i ->
      (strpos('0123456789ABCDEF',
              substr(rh, CAST((j // 2) * 8 + i AS INT) * 2 + 1, 1)) - 1)
      * 16
      + strpos('0123456789ABCDEF',
               substr(rh, CAST((j // 2) * 8 + i AS INT) * 2 + 2, 1)) - 1
    )) AS VARCHAR)), '|') AS feature
FROM frames
"""


def _build_video_metadata(spark, sf_dir: str):
    import pandas as pd
    from pyspark.sql import functions as F

    from ..operators.mp4 import encode_mp4_skeleton, video_metadata

    raw = spark.table("documents").select(
        F.col("doc_id").alias("media_id"),
        F.expr("substring(encode(text, 'UTF-8'), 1, 64)").alias("mdat"),
    )
    codecs = ["avc1", "hev1", "mp4v", "av01"]

    def encode(batches):
        for pdf in batches:
            payloads = []
            for mid, md in zip(pdf["media_id"], pdf["mdat"]):
                mid = int(mid)
                payloads.append(
                    encode_mp4_skeleton(
                        1 + (mid * 37) % 7_200_000,
                        16 * (1 + mid % 120),
                        16 * (1 + mid % 68),
                        codec=codecs[mid % 4],
                        with_audio=(mid % 2 == 1),
                        mdat=bytes(md) if md is not None else b"",
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = raw.mapInPandas(
        encode, schema="media_id BIGINT, payload BINARY"
    )
    return video_metadata(media)


@q("multimodal_video_metadata", spark=_build_video_metadata)
def _video_metadata_q(d: str) -> str:
    """HASH-GATED MP4 container-metadata pipeline (plumbing level):
    per doc the Spark side builds a byte-real ISO
    BMFF tree (operators/mp4.py encode_mp4_skeleton — ftyp + moov with
    mvhd, tkhd, mdhd, hdlr, stsd sample entries; every doc_id-derived
    field below becomes big-endian struct bytes) in one mapInPandas
    stage, then walks it back with parse_mp4_metadata in a second
    stage (video_metadata operator: payload dropped in-stage, only
    ~60-byte metadata rows survive). All boxes are fixed-size except
    mdat (the doc's first 64 text bytes), so the oracle mirrors every
    output — including total byte size via the skeleton size law —
    with integer arithmetic; any corruption in the box writer or the
    walker breaks the hash. Frame DECODE is real for MJPEG
    (multimodal_video_frames); inter-frame codecs stay behind
    multimodal.py stub_decoder."""
    from ..operators.mp4 import AUDIO_TRAK_BYTES, VIDEO_SKELETON_BYTES

    return f"""
SELECT doc_id AS media_id, 'isom' AS major_brand,
  CAST({VIDEO_SKELETON_BYTES} + (doc_id % 2) * {AUDIO_TRAK_BYTES}
       + least(octet_length(encode(text)), 64) AS BIGINT) AS n_bytes,
  CAST(1 + (doc_id * 37) % 7200000 AS BIGINT) AS duration_ms,
  CAST(1 + doc_id % 2 AS INT) AS n_tracks,
  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
       WHEN 2 THEN 'mp4v' ELSE 'av01' END AS codec,
  CAST(16 * (1 + doc_id % 120) AS INT) AS width,
  CAST(16 * (1 + doc_id % 68) AS INT) AS height
FROM documents
"""
