"""Multimodal smoke query for the driver gate.

The driver testdata has no media table, so this query synthesizes a
deterministic one in-session (same rows every run — payloads are pure
functions of the media id, PPM/WAV bytes built with the engine's own
encoders) and pushes it through the REAL decode kernels.  Rows-only for
the driver; the feature values themselves are golden-pinned in
tests/test_merge_multimodal.py.
"""

from __future__ import annotations

import io
import struct
import wave

from pyspark.sql import functions as F

from medical_ocr_pipeline_spark.queries.base import register

N_MEDIA = 24


def _ppm(i: int) -> bytes:
    from medical_ocr_pipeline_spark.multimodal import encode_ppm
    import numpy as np

    w, h = 4 + i % 3, 3 + i % 2
    px = np.fromfunction(
        lambda y, x, c: (37 * i + 11 * y + 5 * x + 3 * c) % 256, (h, w, 3)
    ).astype(np.uint8)
    return encode_ppm(px)


def _wav(i: int) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        frames = b"".join(
            struct.pack("<h", ((13 * i + 7 * k) % 24000) - 12000)
            for k in range(160 + 16 * i)
        )
        wf.writeframes(frames)
    return buf.getvalue()


@register("media_features_real")
def media_features_real(spark, sf_dir):
    """Real-decode feature extraction over a deterministic in-session
    media table (PPM images + PCM WAV audio built by the engine's own
    encoders): one row per media item with its decoded feature summary.
    Rows-only — no SQL engine can run the decode; determinism and exact
    feature values are pinned by the golden tests."""
    from medical_ocr_pipeline_spark.multimodal import (
        MEDIA_SCHEMA,
        media_features,
    )

    rows = []
    for i in range(N_MEDIA):
        if i % 2 == 0:
            rows.append((
                f"img{i:03d}", "image", _ppm(i),
                {"mime": "image/x-portable-pixmap", "width": 4 + i % 3,
                 "height": 3 + i % 2, "duration_ms": 0},
            ))
        else:
            rows.append((
                f"aud{i:03d}", "audio", _wav(i),
                {"mime": "audio/wav", "width": 0, "height": 0,
                 "duration_ms": (160 + 16 * i) // 8},
            ))
    # compressed-audio rows (round 4): the same deterministic waveform
    # re-containered through the from-scratch G.711 / IMA ADPCM codecs,
    # plus a truncated compressed payload that must cost one row (null
    # features), never the task
    from medical_ocr_pipeline_spark.audio import encode_wav

    xs = [((13 * 5 + 7 * k) % 24000) - 12000 for k in range(320)]
    for codec in ("ulaw", "alaw", "ima_adpcm"):
        rows.append((
            f"aud_{codec}", "audio", encode_wav(xs, 8000, 1, codec=codec),
            {"mime": "audio/wav", "width": 0, "height": 0,
             "duration_ms": 40},
        ))
    from medical_ocr_pipeline_spark.flac import encode_flac

    rows.append((
        "aud_flac", "audio", encode_flac(xs, 8000, 1),
        {"mime": "audio/flac", "width": 0, "height": 0,
         "duration_ms": 40},
    ))
    rows.append((
        "aud_truncated", "audio",
        encode_wav(xs, 8000, 1, codec="ulaw")[:24],
        {"mime": "audio/wav", "width": 0, "height": 0, "duration_ms": 0},
    ))
    # video row (round 4): an animated GIF decodes frames natively
    import numpy as np

    from medical_ocr_pipeline_spark.multimodal import encode_gif_animated

    frames = [
        np.fromfunction(
            lambda y, x, c: (23 * f + 13 * y + 7 * x + 3 * c) % 256,
            (6, 8, 3),
        ).astype(np.uint8)
        for f in range(4)
    ]
    rows.append((
        "vid_gif", "video", encode_gif_animated(frames, delays_cs=[10] * 4),
        {"mime": "image/gif", "width": 8, "height": 6, "duration_ms": 400},
    ))
    # TIFF rows (round 4, third session): the archival scanned-page
    # format through the from-scratch baseline decoder — an
    # uncompressed RGB round-trip of the engine's own encoder, plus a
    # hand-assembled big-endian PackBits grayscale strip image (the
    # shape a bilevel/gray document scan actually arrives in)
    from medical_ocr_pipeline_spark.multimodal import encode_tiff

    tiff_px = np.fromfunction(
        lambda y, x, c: (41 + 17 * y + 9 * x + 5 * c) % 256, (5, 7, 3)
    ).astype(np.uint8)
    rows.append((
        "img_tiff", "image", encode_tiff(tiff_px),
        {"mime": "image/tiff", "width": 7, "height": 5,
         "duration_ms": 0},
    ))
    gray = np.arange(24, dtype=np.uint8).reshape(4, 6) * 10
    strips = [
        bytes([11]) + gray[0:2].tobytes(),
        bytes([11]) + gray[2:4].tobytes(),
    ]
    pixel = b"".join(strips)
    ifd_off = 8 + len(pixel)
    arr_off = ifd_off + 2 + 8 * 12 + 4
    ifd = struct.pack(">H", 8)
    for tag, typ, cnt, val in (
        (256, 4, 1, 6), (257, 4, 1, 4), (258, 3, 1, 8 << 16),
        (259, 3, 1, 32773 << 16), (262, 3, 1, 1 << 16),
        (273, 4, 2, arr_off), (278, 4, 1, 2), (279, 4, 2, arr_off + 8),
    ):
        ifd += struct.pack(">HHII", tag, typ, cnt, val)
    ifd += struct.pack(">I", 0)
    ifd += struct.pack(">II", 8, 8 + len(strips[0]))
    ifd += struct.pack(">II", len(strips[0]), len(strips[1]))
    rows.append((
        "img_tiff_pb", "image",
        b"MM" + struct.pack(">H", 42) + struct.pack(">I", ifd_off)
        + pixel + ifd,
        {"mime": "image/tiff", "width": 6, "height": 4,
         "duration_ms": 0},
    ))
    # CCITT rows (round 5): the fax compressions a medical scan archive
    # actually uses — a G4 (T.6 2-D) and an MH (T.4 1-D) bilevel page
    # through the from-scratch ccitt.py codecs, text-like row pattern
    # so vertical, horizontal AND pass modes all execute
    from medical_ocr_pipeline_spark.multimodal import encode_tiff_ccitt

    bil = np.zeros((10, 40), dtype=np.uint8)
    for y in range(10):
        for s in range(3 + y % 2):
            x0 = (7 * y + 11 * s) % 34
            bil[y, x0:x0 + 2 + (y + s) % 4] = 1
    rows.append((
        "img_tiff_g4", "image", encode_tiff_ccitt(bil, g4=True),
        {"mime": "image/tiff", "width": 40, "height": 10,
         "duration_ms": 0},
    ))
    rows.append((
        "img_tiff_mh", "image", encode_tiff_ccitt(bil, g4=False),
        {"mime": "image/tiff", "width": 40, "height": 10,
         "duration_ms": 0},
    ))
    # LZW + horizontal predictor (round 5): the photographic-scan
    # combination, through the from-scratch §13 codec
    rows.append((
        "img_tiff_lzw", "image",
        encode_tiff(tiff_px, compression=5, predictor=2),
        {"mime": "image/tiff", "width": 7, "height": 5,
         "duration_ms": 0},
    ))
    # JPEG-in-TIFF (round 5): compression 7, two strips, each a full
    # JFIF stream through the from-scratch jpeg.py codec
    from medical_ocr_pipeline_spark.multimodal import encode_tiff_jpeg

    jt = np.fromfunction(
        lambda y, x, c: (50 + 13 * y + 7 * x + 9 * c) % 256, (12, 10, 3)
    ).astype(np.uint8)
    rows.append((
        "img_tiff_jpeg", "image", encode_tiff_jpeg(jt, rows_per_strip=6),
        {"mime": "image/tiff", "width": 10, "height": 12,
         "duration_ms": 0},
    ))
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = media_features(media, real_decode=True)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "checksum",
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 4
        ).alias("feature_sum"),
    ).orderBy("media_id")


@register("media_thumbnails_smoke")
def media_thumbnails_smoke(spark, sf_dir):
    """Decode -> resize -> re-encode thumbnail stage over a deterministic
    in-session media table covering the native image codecs (PPM P6,
    8-bit RGB PNG, GIF89a via the from-scratch LZW codec, baseline JPEG
    from the round-3 from-scratch codec, plus a MALFORMED JPEG row that
    must be dropped per-row, never fatally).  Rows-only — the exact
    thumbnail bytes are golden-pinned in tests (PNG / PPM / GIF twins
    of the same pixels must produce identical thumbnails)."""
    from medical_ocr_pipeline_spark.jpeg import encode_jpeg
    from medical_ocr_pipeline_spark.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        encode_gif,
        encode_png,
        media_thumbnails,
    )

    rows = []
    for i in range(0, N_MEDIA, 2):
        ppm = _ppm(i)
        w, h = 4 + i % 3, 3 + i % 2
        meta = {"mime": "", "width": w, "height": h, "duration_ms": 0}
        rows.append((f"ppm{i:03d}", "image", ppm,
                     {**meta, "mime": "image/x-portable-pixmap"}))
        rows.append((f"png{i:03d}", "image", encode_png(decode_image(ppm)[2]),
                     {**meta, "mime": "image/png"}))
    jw, jh = 4, 3
    rows.append(("jpg000", "image",
                 encode_jpeg(decode_image(_ppm(0))[2], quality=92),
                 {"mime": "image/jpeg", "width": jw, "height": jh,
                  "duration_ms": 0}))
    rows.append(("gif000", "image", encode_gif(decode_image(_ppm(0))[2]),
                 {"mime": "image/gif", "width": jw, "height": jh,
                  "duration_ms": 0}))
    rows.append(("jpg_bad", "image", b"\xff\xd8\xff\xe0 not decodable",
                 {"mime": "image/jpeg", "width": 0, "height": 0,
                  "duration_ms": 0}))
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    thumbs = media_thumbnails(media, out_w=3, out_h=3)
    return thumbs.select(
        "media_id", "width", "height",
        F.length("thumbnail").alias("thumb_bytes"),
        F.crc32("thumbnail").alias("thumb_crc"),
    ).orderBy("media_id")
