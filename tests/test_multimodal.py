"""Multimodal column operators: image resize/features/quality, and
audio/video feature extraction over the AUD1 / VID1 containers."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from aws_medallion_datalake_spark.functions.codec import decode_image, render_image
from aws_medallion_datalake_spark.functions.multimodal import (
    audio_features,
    grid_features,
    image_features_udf,
    image_resize_udf,
    resize_nn,
    video_frame_sample,
)
from aws_medallion_datalake_spark.sources.generator import generate_images


def test_resize_nn_kernel():
    img = render_image(7, 64, 48)
    out = resize_nn(img, 16, 16)
    assert out.shape == (16, 16, 3) and out.dtype == np.uint8
    # corner pixels map to corner source pixels
    assert (out[0, 0] == img[0, 0]).all()


def test_image_resize_udf_roundtrip(spark):
    df = generate_images(spark, 12, n_files=2)
    out = df.select(
        "image_id", image_resize_udf(F.col("bytes"), 16, 16, "png").alias("small")
    )
    rows = out.collect()
    assert len(rows) == 12
    for r in rows:
        img = decode_image(bytes(r["small"]))
        assert img.shape == (16, 16, 3)


def test_image_features_udf(spark):
    df = generate_images(spark, 8, n_files=1)
    out = df.select(image_features_udf(F.col("bytes"), grid=4).alias("f")).collect()
    for r in out:
        assert len(r["f"]) == 4 * 4 * 3
        assert all(0.0 <= v <= 1.0 for v in r["f"])
    # parity with the local kernel on row 0
    row0 = df.orderBy("image_id").first()
    expected = grid_features(decode_image(bytes(row0["bytes"])), 4)
    got = (
        df.orderBy("image_id")
        .select(image_features_udf(F.col("bytes"), grid=4).alias("f"))
        .first()["f"]
    )
    assert np.allclose(expected, got, atol=1e-6)


def _media_df(spark, payloads):
    pdf = pd.DataFrame(
        {"media_id": [f"m{i}" for i in range(len(payloads))], "bytes": payloads}
    )
    return spark.createDataFrame(pdf)


def test_audio_real_codec_end_to_end(spark):
    """AUD1 container: render → encode → distributed decode+features;
    features match the numpy ground truth and bad magic still raises."""
    from aws_medallion_datalake_spark.functions.codec import (
        encode_audio,
        render_audio,
    )

    waves = [render_audio(seed, 2000, 8000) for seed in range(4)]
    payloads = [encode_audio(w, 8000) for w in waves]
    out = {
        r["media_id"]: r
        for r in audio_features(_media_df(spark, payloads)).collect()
    }
    assert len(out) == 4
    for i, w in enumerate(waves):
        r = out[f"m{i}"]
        assert r["n_samples"] == 2000 and r["sample_rate"] == 8000
        assert abs(r["rms"] - float(np.sqrt(np.mean(w ** 2)))) < 1e-3
        # sign changes of the 16-bit PCM samples the container stores
        neg = np.round(w.astype(np.float64) * 32767.0) < 0
        assert r["zero_crossings"] == np.count_nonzero(neg[1:] != neg[:-1]) > 0
    with pytest.raises(Exception, match="AUD1"):
        audio_features(_media_df(spark, [b"\x00" * 100])).collect()


def test_video_real_codec_end_to_end(spark):
    """VID1 container: lossless frame round trip through the sampled
    PNG rows (byte-identical pixels)."""
    from aws_medallion_datalake_spark.functions.codec import (
        encode_video,
        render_video,
    )

    clips = [render_video(seed, 6, 10, 8) for seed in range(3)]
    payloads = [encode_video(c, fps=4) for c in clips]
    rows = video_frame_sample(
        _media_df(spark, payloads), every_nth=3
    ).collect()
    assert len(rows) == 6  # frames 0 and 3 of each of 3 clips
    for r in rows:
        mid = int(r["media_id"][1:])
        assert (r["w"], r["h"]) == (10, 8)
        img = decode_image(bytes(r["frame_png"]))
        assert (img == clips[mid][r["frame_idx"]]).all()
    with pytest.raises(Exception, match="VID1"):
        video_frame_sample(_media_df(spark, [b"junk"])).collect()


def test_image_quality_udf(spark):
    from pyspark.sql import functions as F

    from aws_medallion_datalake_spark.functions.multimodal import (
        image_quality_udf,
    )
    from aws_medallion_datalake_spark.sources.generator import generate_images

    df = generate_images(spark, 40, n_files=2)
    q = df.select(
        "image_id", image_quality_udf(F.col("bytes")).alias("q")
    ).select("image_id", "q.*")
    rows = q.collect()
    assert len(rows) == 40
    for r in rows:
        assert r["blur"] is not None and r["blur"] > 0
        assert 0.0 <= r["brightness"] <= 255.0
        assert r["contrast"] >= 0.0
    # undecodable payloads yield NULLs, not a crash
    bad = spark.createDataFrame(
        [("x", bytearray(b"nope"))], "id string, b binary"
    )
    r = bad.select(image_quality_udf(F.col("b")).alias("q")).first()["q"]
    assert r["blur"] is None
