"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video payloads travel as `binary` columns with a typed metadata
struct; decode/resize/probe/frame-sample run as Arrow-batched mapInPandas
stages.

Codec status: PNG decodes END-TO-END via the from-scratch stdlib decoder
(kernels/png_codec.py), feeding the real resize math in
kernels/image_ops.py — the reference's image pipeline semantics
(lib/idp_common_pkg/idp_common/image/__init__.py:13-96 resize) run on
real pixels. Audio/video containers: WAV PCM decodes end-to-end
(kernels/audio_codec.py RIFF chunk walker, 8/16/24-bit) feeding
integer-exact signal stats; MP3 frame-header walking and AVI avih
parsing give real (n_frames, sample_rate, bitrate, duration) metadata.
Every other image payload raises NotImplementedError in `_decode_image`,
which `decode_resize_images` turns into an error row.

Schema contract for a multimodal table:
  (item_id long, modality string, payload binary,
   meta struct<width:int, height:int, sample_rate:int, n_frames:int>)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

MULTIMODAL_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", META_SCHEMA),
    ]
)


def _decode_image(payload: bytes):
    """Codec dispatch: PNG decodes with the from-scratch stdlib kernel;
    anything else raises NotImplementedError."""
    from ..kernels.png_codec import PNG_SIG, decode_png

    if payload.startswith(PNG_SIG):
        return decode_png(payload)
    raise NotImplementedError("decode supports PNG only")


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("in_width", T.IntegerType()),
        T.StructField("in_height", T.IntegerType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("resized_sha1", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def decode_resize_images(items: DataFrame, target_w: int = 951,
                         target_h: int = 1268) -> DataFrame:
    """(item_id, in/out dims, resized_sha1, error) — the reference's image
    preprocessing (lib/idp_common_pkg/idp_common/image/__init__.py:54-66:
    aspect-preserving fit-within, downscale-only, defaults 951x1268) run
    END-TO-END on real pixels: stdlib PNG decode -> bilinear resize ->
    sha1 of the resized RGB bytes.
    Unsupported / malformed payloads land in the error column
    (loud-degrade convention), never kill the job. Map-only Arrow
    lineage — scales exactly like the scan."""
    from ..kernels.image_ops import resize_array
    from ..kernels.png_codec import PngError

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {k.name: [] for k in RESIZE_SCHEMA.fields}
            for item_id, payload in zip(pdf["item_id"], pdf["payload"]):
                rows["item_id"].append(int(item_id))
                try:
                    img = _decode_image(bytes(payload) if payload else b"")
                    if img.ndim == 2:
                        img = np.dstack([img, img, img])
                    img = img[:, :, :3]           # drop alpha for resize
                    h, w = img.shape[:2]
                    out = resize_array(img, target_w, target_h)
                    oh, ow = out.shape[:2]
                    rows["in_width"].append(w)
                    rows["in_height"].append(h)
                    rows["out_width"].append(ow)
                    rows["out_height"].append(oh)
                    rows["resized_sha1"].append(
                        hashlib.sha1(out.tobytes()).hexdigest())
                    rows["error"].append(None)
                except (PngError, NotImplementedError) as e:
                    rows["in_width"].append(None)
                    rows["in_height"].append(None)
                    rows["out_width"].append(None)
                    rows["out_height"].append(None)
                    rows["resized_sha1"].append(None)
                    rows["error"].append(f"{type(e).__name__}: {e}"[:200])
            yield pd.DataFrame(rows)

    return items.select("item_id", "payload").mapInPandas(run, RESIZE_SCHEMA)


def probe_image_meta(items: DataFrame) -> DataFrame:
    """Fill meta.width/height for image rows from the payload's own file
    header (stdlib PNG/JPEG/GIF parse, kernels/image_meta.py) — the
    metadata no longer depends on fixture-supplied values. Non-image rows
    and unparseable payloads keep their existing meta unchanged."""
    from ..kernels.image_meta import image_size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            metas = []
            for modality, payload, meta in zip(
                pdf["modality"], pdf["payload"], pdf["meta"]
            ):
                meta = dict(meta) if meta is not None else {
                    "width": None, "height": None,
                    "sample_rate": None, "n_frames": None,
                }
                if modality == "image":
                    size = image_size(bytes(payload) if payload is not None else b"")
                    if size:
                        meta["width"], meta["height"] = size
                metas.append(meta)
            pdf = pdf.copy()
            pdf["meta"] = metas
            yield pdf

    return items.select("item_id", "modality", "payload", "meta").mapInPandas(
        run, MULTIMODAL_SCHEMA
    )


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak_abs", T.IntegerType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def audio_signal_stats(items: DataFrame) -> DataFrame:
    """WAV PCM decode + integer-exact signal statistics, END-TO-END on
    executors: the from-scratch RIFF/WAVE decoder
    (kernels/audio_codec.py) runs on every payload; 8/16/24-bit PCM
    yields (sample_rate, channels, n_samples, peak_abs, sum_abs, sum_sq,
    zero_crossings, exact duration_ms). Non-PCM codecs and malformed
    containers land in the error column (loud-degrade convention).
    Map-only Arrow lineage — zero shuffles, scales exactly like the
    scan. Every stat is integer arithmetic so an oracle can re-derive
    it from a closed-form sample formula with no float drift."""
    from ..kernels.audio_codec import AudioError, decode_wav, wav_signal_stats

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {f.name: [] for f in AUDIO_STATS_SCHEMA.fields}
            for item_id, payload in zip(pdf["item_id"], pdf["payload"]):
                rows["item_id"].append(int(item_id))
                try:
                    sr, ch, bits, samples = decode_wav(
                        bytes(payload) if payload is not None else b"")
                    st = wav_signal_stats(samples)
                    rows["sample_rate"].append(sr)
                    rows["channels"].append(ch)
                    rows["bits"].append(bits)
                    rows["n_samples"].append(st["n_samples"])
                    rows["peak_abs"].append(st["peak_abs"])
                    rows["sum_abs"].append(st["sum_abs"])
                    rows["sum_sq"].append(st["sum_sq"])
                    rows["zero_crossings"].append(st["zero_crossings"])
                    rows["duration_ms"].append(
                        (st["n_samples"] // ch) * 1000 // sr)
                    rows["error"].append(None)
                except AudioError as e:
                    for k in ("sample_rate", "channels", "bits", "n_samples",
                              "peak_abs", "sum_abs", "sum_sq",
                              "zero_crossings", "duration_ms"):
                        rows[k].append(None)
                    rows["error"].append(f"AudioError: {e}"[:200])
            yield pd.DataFrame(rows)

    return items.select("item_id", "payload").mapInPandas(
        run, AUDIO_STATS_SCHEMA)


AV_META_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("container", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("bitrate_kbps", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


def probe_av_meta(items: DataFrame) -> DataFrame:
    """Audio/video container metadata probe: dispatches on payload magic
    (RIFF/WAVE -> PCM header walk, MPEG sync -> MP3 frame walk,
    RIFF/'AVI ' -> avih) using the from-scratch stdlib parsers in
    kernels/audio_codec.py. WAV n_frames is the per-channel frame count
    (data bytes / block_align); MP3 duration is the exact integer
    1152-samples-per-frame formula; AVI duration is frames *
    us_per_frame // 1000. Map-only Arrow stage, loud-degrade errors."""
    from ..kernels.audio_codec import (
        AudioError,
        decode_wav,
        parse_avi,
        parse_mp3,
    )

    def probe(payload: bytes) -> dict:
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            sr, ch, _bits, samples = decode_wav(payload)
            frames = len(samples) // ch
            return {
                "modality": "audio", "container": "wav", "sample_rate": sr,
                "n_frames": frames, "bitrate_kbps": None, "width": None,
                "height": None, "duration_ms": frames * 1000 // sr,
            }
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            a = parse_avi(payload)
            return {
                "modality": "video", "container": "avi", "sample_rate": None,
                "n_frames": a["n_frames"], "bitrate_kbps": None,
                "width": a["width"], "height": a["height"],
                "duration_ms": a["duration_ms"],
            }
        m = parse_mp3(payload)  # sync-scans; raises AudioError otherwise
        return {
            "modality": "audio", "container": "mp3",
            "sample_rate": m["sample_rate"], "n_frames": m["n_frames"],
            "bitrate_kbps": m["bitrate_kbps"], "width": None,
            "height": None, "duration_ms": m["duration_ms"],
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {f.name: [] for f in AV_META_SCHEMA.fields}
            for item_id, payload in zip(pdf["item_id"], pdf["payload"]):
                rows["item_id"].append(int(item_id))
                try:
                    meta = probe(bytes(payload) if payload is not None else b"")
                    for k, v in meta.items():
                        rows[k].append(v)
                    rows["error"].append(None)
                except AudioError as e:
                    for f in AV_META_SCHEMA.fields:
                        if f.name not in ("item_id", "error"):
                            rows[f.name].append(None)
                    rows["error"].append(f"AudioError: {e}"[:200])
            yield pd.DataFrame(rows)

    return items.select("item_id", "payload").mapInPandas(run, AV_META_SCHEMA)


def frame_sample(items: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: emits one row per sampled frame index
    using metadata only (decode stubbed); schema + fan-out shape are real."""
    from pyspark.sql import functions as F

    frames = F.explode(
        F.sequence(F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n))
    ).alias("frame_idx")
    return items.where(F.col("modality") == "video").select(
        "item_id", frames, F.lit(None).cast("binary").alias("frame_payload")
    )
