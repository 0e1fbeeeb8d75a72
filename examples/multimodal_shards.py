"""Multimodal shard-ingest example: WebDataset TARs end-to-end.

Synthesizes two WebDataset shards in a temp dir (GIF/JPEG/PNG/WebP
images — lossy VP8 and a VP8X+alpha still included — plus captions and
MP4/MP3 sidecars; every payload built by this repo's own codec-free
encoders), then runs the ingest chain a multimodal curation job would:

    read_webdataset (one task per shard)
    -> image_features on real decoded pixels (GIF/JPEG/PNG/WebP)
    -> resize_images thumbnails
    -> video_metadata / mp3_metadata container probes
    -> caption quality gate (pure expressions)

Run: python examples/multimodal_shards.py
"""

from __future__ import annotations

import io
import os
import sys
import tarfile
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# This example's lossy-WebP samples were encoded by THIS repo's own VP8
# encoder, so the shared entropy tables round-trip them exactly — safe
# to opt into the experimental lossy decode here. Leave this unset for
# crawled (externally-encoded) WebP; see scale/_vp8l.py for why.
os.environ["SPARK_TRACKINTEL_VP8_EXPERIMENTAL"] = "1"

import numpy as np
from pyspark.sql import functions as F

from trackintel_spark import get_spark
from trackintel_spark.scale.multimodal import (
    encode_gif,
    encode_png,
    image_features,
    mp3_metadata,
    resize_images,
    video_metadata,
)
from trackintel_spark.scale._jpeg import encode_jpeg
from trackintel_spark.scale._vp8 import encode_webp_lossy, encode_webp_vp8x
from trackintel_spark.scale.text import quality_score
from trackintel_spark.sources import read_webdataset


def _mp4_bytes(duration_s=4.0, w=320, h=240):
    import struct

    def box(typ, body):
        return struct.pack(">I", 8 + len(body)) + typ + body

    mvhd = b"\x00" * 4 + b"\x00" * 8 + struct.pack(">I", 1000) \
        + struct.pack(">I", int(duration_s * 1000)) + b"\x00" * 80
    tkhd = b"\x00" * 4 + b"\x00" * 20 + b"\x00" * 52 + struct.pack(">II", w << 16, h << 16)
    stsd = box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + box(b"avc1", b"\x00" * 70))
    trak = box(b"trak", box(b"tkhd", tkhd) + box(b"mdia", box(b"minf", box(b"stbl", stsd))))
    return box(b"ftyp", b"isom\x00\x00\x02\x00") + box(b"moov", box(b"mvhd", mvhd) + trak)


def _mp3_bytes(n_frames=20):
    out = bytearray()
    for _ in range(n_frames):
        out += bytes([0xFF, 0xFB, (9 << 4), 0x00]) + b"\x00" * (144 * 128 * 1000 // 44100 - 4)
    return bytes(out)


def _shard(members):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, payload in members:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


def main() -> None:
    spark = get_spark(app_name="multimodal_shards")
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.RandomState(0)

    tmp = tempfile.mkdtemp(prefix="wds_")
    gradient = np.clip(
        np.mgrid[0:32, 0:48][1] * 5 + rng.standard_normal((32, 48)) * 2, 0, 255
    ).astype(np.uint8)
    rgb = np.stack([gradient, gradient[::-1], np.full_like(gradient, 64)], axis=2)
    flat = np.full((16, 16, 3), [10, 200, 60], dtype=np.uint8)
    shard0 = _shard(
        [
            ("000000.jpg", encode_jpeg(rgb)),
            ("000000.txt", b"a smooth two-way gradient over a blue base"),
            ("000001.gif", encode_gif(flat)),
            ("000001.txt", b"flat green card"),
            # r11: lossy WebP (VP8 key frame) and a VP8X still with a
            # real ALPH alpha plane — both decode in-container
            ("000002.webp", encode_webp_lossy(rgb, qi=20)),
            ("000002.txt", b"the gradient again, lossy webp"),
            ("000003.webp", encode_webp_vp8x(flat, np.full((16, 16), 128, np.uint8), qi=8)),
            ("000003.txt", b"green card with 50% alpha (vp8x)"),
        ]
    )
    shard1 = _shard(
        [
            ("000100.png", encode_png(rgb)),
            ("000100.txt", b"the same gradient, lossless this time"),
            ("000101.mp4", _mp4_bytes()),
            ("000101.txt", b"four seconds of avc1"),
            ("000102.mp3", _mp3_bytes()),
            ("000102.txt", b"a short cbr clip"),
        ]
    )
    open(os.path.join(tmp, "shard-000.tar"), "wb").write(shard0)
    open(os.path.join(tmp, "shard-001.tar"), "wb").write(shard1)

    wds = read_webdataset(spark, tmp).cache()
    print(f"samples: {wds.count()} across {wds.select('shard').distinct().count()} shards")

    img_payload = F.coalesce(*[F.col("parts")[e] for e in ("jpg", "gif", "png", "webp")])
    images = wds.filter(img_payload.isNotNull()).select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("key"),
        img_payload.alias("payload"),
        F.col("parts")["txt"].cast("string").alias("caption"),
    ).cache()
    feats = image_features(images)
    for r in feats.join(images.select("doc_id", "key"), "doc_id").orderBy("key").collect():
        print(f"  image {r.key}: {r.width}x{r.height} mean_rgb=({r.mean_r:.0f},{r.mean_g:.0f},{r.mean_b:.0f})")
    thumbs = resize_images(images, 8, 8)
    print(f"thumbnails: {thumbs.count()} (8x8, re-encoded in their own format)")

    vids = wds.filter(F.col("parts")["mp4"].isNotNull()).select(
        F.lit(1).alias("doc_id"), F.col("parts")["mp4"].alias("payload")
    )
    for r in video_metadata(vids).collect():
        print(f"  video: {r.duration_s}s {r.width}x{r.height} codecs={r.codecs}")
    auds = wds.filter(F.col("parts")["mp3"].isNotNull()).select(
        F.lit(1).alias("doc_id"), F.col("parts")["mp3"].alias("payload")
    )
    for r in mp3_metadata(auds).collect():
        print(f"  audio: {r.duration_s}s {r.bitrate_kbps}kbps vbr={r.vbr}")

    gated = quality_score(images.withColumnRenamed("caption", "text")).filter(
        F.col("quality") > 0.1
    )
    print(f"caption-gated image samples: {gated.count()} / {images.count()}")
    spark.stop()


if __name__ == "__main__":
    main()
