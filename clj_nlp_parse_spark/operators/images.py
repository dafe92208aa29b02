"""Image-column operators: decode, pixel stats, perceptual hash, resize —
the multimodal plumbing of the engine (BASELINE.json north_star).

Design for 100 TB:
  - bytes NEVER cross a shuffle: decode → stats → DROP bytes happens in one
    mapInPandas stage straight off the scan; only ~48 bytes/row of stats
    continue into joins (SURVEY.md §4.4).
  - decode is Arrow-batched numpy (vectorized per image, zero-copy buffers);
    never per-row Python object churn.
  - real png/jpeg codecs are absent in this container → decode for those
    formats is stubbed behind NotImplementedError; 'raw' and 'jpegq8'
    (deterministic quantizer, PSNR ≈ 40.9 dB) are fully real, so schema,
    partitioning, UDF signature and batch shape are all exercised.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_FEATURES_FIELDS = (
    "image_id string, entity_id string, feature_ts timestamp, "
    "phash long, phash_bucket long, "
    "px_mean_r double, px_mean_g double, px_mean_b double, "
    "px_std double, sharpness double, decode_ok boolean")


def decode_image(b: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """bytes → HxWx3 uint8. Real for raw/jpegq8; stubbed for codecs whose
    libraries are not in this container."""
    if fmt in ("raw", "jpegq8"):
        return np.frombuffer(b, dtype=np.uint8).reshape(h, w, 3)
    if fmt in ("png", "jpeg", "jpg", "webp"):
        try:
            from PIL import Image  # noqa: F401  (absent in sandbox)
        except ImportError as e:
            raise NotImplementedError(
                f"codec '{fmt}' requires an image library not present "
                f"in this container") from e
        import io
        from PIL import Image
        return np.asarray(Image.open(io.BytesIO(b)).convert("RGB"))
    raise NotImplementedError(f"unknown image format: {fmt}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 ** 2 / mse))


def _stats_one(arr: np.ndarray) -> tuple:
    f = arr.astype(np.float64)
    means = f.mean(axis=(0, 1))
    std = float(f.std())
    # sharpness: mean absolute horizontal+vertical gradient of gray
    gray = f.mean(axis=2)
    sharp = float(np.abs(np.diff(gray, axis=0)).mean()
                  + np.abs(np.diff(gray, axis=1)).mean())
    return float(means[0]), float(means[1]), float(means[2]), std, sharp


def extract_image_features(df: DataFrame, buckets: int = 64,
                           on_error: str = "null") -> DataFrame:
    """One Arrow stage: decode → pixel stats → drop bytes.
    Output schema: IMAGE_FEATURES_FIELDS (feature_ts = event_ts).

    on_error: at 10^12 rows corrupt bytes are a certainty; 'null' (default)
    emits the row with NULL stats + decode_ok=false so one bad image cannot
    kill a 1000-executor stage and the bad-row rate is queryable downstream;
    'raise' fails the task (strict mode for fixture validation)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in ("image_id", "entity_id", "feature_ts",
                                   "phash", "phash_bucket", "px_mean_r",
                                   "px_mean_g", "px_mean_b", "px_std",
                                   "sharpness", "decode_ok")}
            for r in pdf.itertuples(index=False):
                try:
                    arr = decode_image(r.bytes, r.w, r.h, r.fmt)
                    mr, mg, mb, std, sharp = _stats_one(arr)
                    ok = True
                except Exception:
                    if on_error == "raise":
                        raise
                    mr = mg = mb = std = sharp = None
                    ok = False
                out["image_id"].append(r.image_id)
                out["entity_id"].append(r.entity_id)
                out["feature_ts"].append(r.event_ts)
                # NULL phash must not kill the task, and it must not
                # corrupt its batch-mates either: a nullable long column
                # crosses Arrow→pandas as float64, which silently rounds
                # every phash above 2^53. We therefore ship phash as a
                # STRING through the Arrow stage (cast below) and parse it
                # back to an exact Python int here — strings survive NULLs
                # without a dtype demotion.
                ph_ok = r.phash is not None and not pd.isna(r.phash)
                ph = int(r.phash) if ph_ok else None
                out["phash"].append(ph)
                out["phash_bucket"].append(
                    ph % buckets if ph_ok else None)
                out["px_mean_r"].append(mr)
                out["px_mean_g"].append(mg)
                out["px_mean_b"].append(mb)
                out["px_std"].append(std)
                out["sharpness"].append(sharp)
                out["decode_ok"].append(ok)
            res = pd.DataFrame(out)
            # the OUTPUT side has the same trap: pd.DataFrame coerces an
            # int column containing a None to float64, rounding >2^53
            # values. Nullable Int64 keeps 64-bit exactness through Arrow.
            res["phash"] = pd.array(out["phash"], dtype="Int64")
            res["phash_bucket"] = pd.array(out["phash_bucket"], dtype="Int64")
            yield res

    cols = [F.col(c) for c in ("image_id", "bytes", "w", "h", "fmt",
                               "entity_id", "event_ts")]
    # string-typed phash: exact through pandas even when NULLs are present
    cols.append(F.col("phash").cast("string").alias("phash"))
    return df.select(*cols).mapInPandas(run, schema=IMAGE_FEATURES_FIELDS)


def resize_nearest(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize (library-free)."""
    h, w = arr.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return arr[ys][:, xs]


RESIZED_FIELDS = ("image_id string, bytes binary, w int, h int, "
                  "fmt string, resize_ok boolean")


def resize_images(df: DataFrame, out_w: int, out_h: int,
                  on_error: str = "null") -> DataFrame:
    """Table-level resize — the standard preprocessing step of an image
    training pipeline (normalize every image to the model's input size):
    decode → nearest-neighbor resize → re-encode as 'raw', one Arrow stage.

    Unlike the feature extractors this op's OUTPUT is the bytes (a resized
    images table for the training reader), so the bytes-never-shuffle rule
    applies to what follows: write the result straight to storage
    partitioned by its natural key; do not join it. Deterministic
    (nearest-neighbor, no filtering), so re-runs are byte-identical —
    resumable at the partition level like every materialization here.
    on_error='null' emits resize_ok=false with NULL bytes instead of
    killing the stage on one corrupt image."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt",
                                   "resize_ok")}
            for r in pdf.itertuples(index=False):
                try:
                    arr = decode_image(r.bytes, r.w, r.h, r.fmt)
                    rb = resize_nearest(arr, out_w, out_h).tobytes()
                    ok = True
                except Exception:
                    if on_error == "raise":
                        raise
                    rb, ok = None, False
                out["image_id"].append(r.image_id)
                out["bytes"].append(rb)
                out["w"].append(out_w if ok else None)
                out["h"].append(out_h if ok else None)
                out["fmt"].append("raw" if ok else None)
                out["resize_ok"].append(ok)
            yield pd.DataFrame(out)

    return df.select("image_id", "bytes", "w", "h", "fmt") \
             .mapInPandas(run, schema=RESIZED_FIELDS)


# ------------------------------------------------------------ video / audio
# Same design contract as images: opaque binary column + typed metadata,
# one Arrow stage decode → features → drop bytes; 'raw*'/pcm16 paths fully
# real (schema, partitioning, UDF signature, batch shape all exercised),
# real codecs stubbed behind NotImplementedError (libs absent in container).
VIDEO_FRAME_FIELDS = (
    "video_id string, frame_idx int, ts_ms long, "
    "px_mean double, px_std double")


def decode_video(b: bytes, w: int, h: int, n_frames: int,
                 fmt: str) -> np.ndarray:
    """bytes → (n_frames, h, w, 3) uint8. Real for rawvid; stubbed codecs."""
    if fmt == "rawvid":
        return np.frombuffer(b, dtype=np.uint8).reshape(n_frames, h, w, 3)
    if fmt in ("mp4", "webm", "avi"):
        raise NotImplementedError(
            f"codec '{fmt}' requires a video library not present "
            f"in this container")
    raise NotImplementedError(f"unknown video format: {fmt}")


def sample_video_frames(df: DataFrame, every_k: int = 10) -> DataFrame:
    """Frame-sample operator: decode → keep every k-th frame → per-frame
    stats; bytes dropped inside the stage. Input columns:
    (video_id, bytes, w, h, n_frames, fps, fmt)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in ("video_id", "frame_idx", "ts_ms",
                                   "px_mean", "px_std")}
            for r in pdf.itertuples(index=False):
                vid = decode_video(r.bytes, r.w, r.h, r.n_frames, r.fmt)
                for i in range(0, r.n_frames, every_k):
                    f = vid[i].astype(np.float64)
                    out["video_id"].append(r.video_id)
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(int(i * 1000 / r.fps))
                    out["px_mean"].append(float(f.mean()))
                    out["px_std"].append(float(f.std()))
            yield pd.DataFrame(out)

    cols = ["video_id", "bytes", "w", "h", "n_frames", "fps", "fmt"]
    return df.select(*cols).mapInPandas(run, schema=VIDEO_FRAME_FIELDS)


AUDIO_FEATURES_FIELDS = (
    "audio_id string, duration_s double, rms double, peak double, "
    "zero_crossing_rate double")


def decode_audio(b: bytes, fmt: str) -> np.ndarray:
    """bytes → float64 samples in [-1, 1]. Real for pcm16; stubbed codecs."""
    if fmt == "pcm16":
        return np.frombuffer(b, dtype="<i2").astype(np.float64) / 32768.0
    if fmt in ("mp3", "ogg", "flac", "wav"):
        raise NotImplementedError(
            f"codec '{fmt}' requires an audio library not present "
            f"in this container")
    raise NotImplementedError(f"unknown audio format: {fmt}")


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Audio feature-extract: decode → duration/RMS/peak/ZCR → drop bytes.
    Input columns: (audio_id, bytes, sr, fmt)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {k: [] for k in ("audio_id", "duration_s", "rms", "peak",
                                   "zero_crossing_rate")}
            for r in pdf.itertuples(index=False):
                x = decode_audio(r.bytes, r.fmt)
                out["audio_id"].append(r.audio_id)
                out["duration_s"].append(len(x) / r.sr)
                out["rms"].append(float(np.sqrt(np.mean(x * x)))
                                  if len(x) else 0.0)
                out["peak"].append(float(np.abs(x).max()) if len(x) else 0.0)
                zc = float(np.mean(np.abs(np.diff(np.signbit(x))))) \
                    if len(x) > 1 else 0.0
                out["zero_crossing_rate"].append(zc)
            yield pd.DataFrame(out)

    return df.select("audio_id", "bytes", "sr", "fmt") \
             .mapInPandas(run, schema=AUDIO_FEATURES_FIELDS)
