"""Multimodal column operators: decode / resize / feature-extract /
frame-sample over opaque ``binary`` payload columns.

Per the brief, image/audio/video are treated as opaque binary columns
with typed metadata; transforms run as vectorized pandas UDFs /
``mapInPandas`` (Arrow batches — never per-row Python). This container
ships no image/audio libraries, so:

- **images** — fully real: our own codec (`functions/codec.py`, real PNG
  + deterministic lossy stand-in), numpy nearest-neighbor resize, and a
  grid-pooled feature vector.
- **audio/video** — fully real against our own containers: ``AUD1``
  (16-bit PCM, zlib-framed) and ``VID1`` (raw RGB frame stack), both
  implemented from scratch in `functions/codec.py` like the image
  codecs. Swapping in soundfile/pyav on a real cluster is a
  one-function change (`_decode_audio` / `_decode_video_frames`).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# image kernels (real)
# ---------------------------------------------------------------------------


def resize_nn(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, 3) uint8 array — pure numpy."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * (h / out_h)).astype(np.int64).clip(0, h - 1)
    xs = (np.arange(out_w) * (w / out_w)).astype(np.int64).clip(0, w - 1)
    return img[ys][:, xs]


def grid_features(img: np.ndarray, grid: int = 4) -> np.ndarray:
    """Mean-pooled grid features: resize to (grid, grid), flatten RGB →
    float32 vector of length grid*grid*3, scaled to [0, 1]."""
    small = resize_nn(img, grid, grid).astype(np.float32) / 255.0
    return small.reshape(-1)


@lru_cache(maxsize=None)
def _resize_udf(out_w: int, out_h: int, fmt: str):
    from .codec import decode_image, encode_image

    @F.pandas_udf("binary")
    def resize(payload: pd.Series) -> pd.Series:
        out = []
        for p in payload:
            if p is None:
                out.append(None)
                continue
            out.append(encode_image(resize_nn(decode_image(p), out_w, out_h), fmt))
        return pd.Series(out)

    return resize


def image_resize_udf(payload: Column, out_w: int, out_h: int, fmt: str = "png") -> Column:
    """Re-encode every image at (out_w, out_h) — real decode+resize+encode."""
    return _resize_udf(out_w, out_h, fmt)(payload)


@lru_cache(maxsize=None)
def _features_udf(grid: int):
    from .codec import decode_image

    @F.pandas_udf("array<float>")
    def feats(payload: pd.Series) -> pd.Series:
        out = []
        for p in payload:
            if p is None:
                out.append(None)
            else:
                out.append([float(x) for x in grid_features(decode_image(p), grid)])
        return pd.Series(out)

    return feats


def image_features_udf(payload: Column, grid: int = 4) -> Column:
    """Grid-pooled embedding (length grid*grid*3) from decoded pixels."""
    return _features_udf(grid)(payload)


@lru_cache(maxsize=None)
def _quality_udf():
    from .codec import decode_image

    @F.pandas_udf("blur double, brightness double, contrast double")
    def quality(payload: pd.Series) -> pd.DataFrame:
        rows = []
        for p in payload:
            if p is None:
                rows.append((None, None, None))
                continue
            try:
                img = decode_image(bytes(p)).astype(np.float64)
            except Exception:
                rows.append((None, None, None))  # undecodable: filtered on
                continue
            g = img.mean(axis=2) if img.ndim == 3 else img
            # 4-neighbor Laplacian response; its VARIANCE is the classic
            # blur score (sharp edges → high variance, blur → low)
            lap = (
                -4.0 * g[1:-1, 1:-1]
                + g[:-2, 1:-1]
                + g[2:, 1:-1]
                + g[1:-1, :-2]
                + g[1:-1, 2:]
            )
            rows.append(
                (float(lap.var()), float(g.mean()), float(g.std()))
            )
        return pd.DataFrame(
            rows, columns=["blur", "brightness", "contrast"]
        )

    return quality


def image_quality_udf(payload: Column) -> Column:
    """Decoded-pixel quality scores for image filtering: Laplacian-
    variance blur score, mean brightness, std-dev contrast — the
    image-side analogue of the text quality heuristics. Arrow-batched
    (numpy slicing per image, no per-row Spark UDF); NULL for
    undecodable payloads so a quality gate can filter rather than
    crash."""
    return _quality_udf()(payload)


# ---------------------------------------------------------------------------
# audio / video (real decode of our own AUD1 / VID1 containers)
# ---------------------------------------------------------------------------

AUDIO_FEATURES_SCHEMA = (
    "media_id string, n_samples int, sample_rate int, rms double, "
    "zero_crossings int"
)

VIDEO_FRAMES_SCHEMA = (
    "media_id string, frame_idx int, frame_png binary, w int, h int"
)


def _decode_audio(payload: bytes):
    # real decode of our AUD1 container (functions/codec.py) — swap in
    # soundfile/librosa here for WAV/FLAC/MP3 on a real cluster
    from .codec import decode_audio

    return decode_audio(payload)


def audio_features(df: DataFrame, *, id_col: str = "media_id",
                   payload_col: str = "bytes") -> DataFrame:
    """Distributed audio feature extraction via ``mapInPandas``.

    Returns (media_id, n_samples, sample_rate, rms, zero_crossings).
    """

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                wave, sr = _decode_audio(bytes(payload))
                zc = int(np.sum(np.abs(np.diff(np.signbit(wave)))))
                rows.append(
                    (mid, int(wave.size), sr, float(np.sqrt(np.mean(wave**2))), zc)
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "sample_rate", "rms", "zero_crossings"],
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        gen, schema=AUDIO_FEATURES_SCHEMA
    )


def _decode_video_frames(payload: bytes, every_nth: int):
    # real decode of our VID1 container (functions/codec.py) — swap in
    # pyav/ffmpeg here for MP4/WebM on a real cluster
    from .codec import decode_video

    frames, _fps = decode_video(payload)
    for i in range(0, frames.shape[0], every_nth):
        yield i, frames[i]


def video_frame_sample(df: DataFrame, *, id_col: str = "media_id",
                       payload_col: str = "bytes", every_nth: int = 2) -> DataFrame:
    """Sample every-nth frame of each video into PNG-encoded rows.

    Returns (media_id, frame_idx, frame_png, w, h) — one row per sampled
    frame, fanned out by ``mapInPandas`` so frame extraction parallelizes
    with the input partitioning.
    """
    from .codec import encode_png

    def gen(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                for idx, frame in _decode_video_frames(bytes(payload), every_nth):
                    rows.append(
                        (mid, idx, encode_png(frame), frame.shape[1], frame.shape[0])
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_png", "w", "h"]
            )

    return df.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        gen, schema=VIDEO_FRAMES_SCHEMA
    )
