"""Multimodal columns: opaque binary payloads + typed metadata.

Image payloads travel as `binary` columns with a typed metadata struct;
decode/resize and the header probe run as Arrow-batched mapInPandas
stages.

Codec status: PNG decodes END-TO-END via the from-scratch stdlib decoder
(kernels/png_codec.py), feeding the real resize math in
kernels/image_ops.py — the reference's image pipeline semantics
(lib/idp_common_pkg/idp_common/image/__init__.py:13-96 resize) run on
real pixels. Every other image payload raises NotImplementedError in
`_decode_image`, which `decode_resize_images` turns into an error row.

Schema contract for a multimodal table:
  (item_id long, modality string, payload binary,
   meta struct<width:int, height:int>)
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

