"""Spark extraction stage: pages -> main-content rows.

The narrow hot path of the engine: one Arrow-batched ``mapInArrow`` over
the `pages` table calling the pure per-page kernel
(kernels/extract.extract_page). The one shuffle is the salted
repartitioning by url hash before the map, which handles giant-host input
skew (SURVEY.md §4 "Skew handling").

Replaces the reference's OCR/classification/extraction Lambda fan-out
(lib/idp_common_pkg/idp_common/ocr/service.py:316-491) with a single
vectorized stage. Zero per-row Python at the plan level: the physical plan
contains only a MapInPandas/ArrowEvalPython node, never BatchEvalPython
(tests/test_plan_vectorized.py asserts this).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.extract import extract_page_safe

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans_json", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)


def _extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow-native batch transform (mapInArrow).

    Each page's span triples `[start, end, block_id]` are serialized once,
    as compact JSON in `spans_json`; the url/warc_ts/lang columns pass
    through as the input Arrow buffers untouched (zero-copy)."""
    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        urls = rb.column(0).to_pylist()
        htmls = rb.column(2).to_pylist()
        ctypes: list[str | None] = []
        texts: list[str | None] = []
        spans_json: list[str] = []
        confs: list[float] = []
        nblocks: list[int] = []
        errors: list[str | None] = []
        for i, content in enumerate(htmls):
            ctype, res, err = extract_page_safe(
                content if isinstance(content, bytes) else bytes(content),
                urls[i],
            )
            ctypes.append(ctype)
            errors.append(err)
            texts.append(res.extracted_text)
            triples = [[s.start, s.end, s.block_id] for s in res.spans]
            spans_json.append(json.dumps(triples, separators=(",", ":")))
            confs.append(res.confidence)
            nblocks.append(res.n_blocks)
        yield pa.RecordBatch.from_arrays(
            [
                rb.column(0),                        # url (zero-copy)
                rb.column(1),                        # warc_ts (zero-copy)
                rb.column(3),                        # lang (zero-copy)
                pa.array(ctypes, pa.string()),
                pa.array(texts, pa.string()),
                pa.array(spans_json, pa.string()),
                pa.array(confs, pa.float64()),
                pa.array(nblocks, pa.int32()),
                pa.array(errors, pa.string()),
            ],
            names=[
                "url", "warc_ts", "lang", "content_type", "extracted_text",
                "spans_json", "confidence", "n_blocks", "error",
            ],
        )


def extract_pages(pages: DataFrame, salt_partitions: int | None = None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extraction result rows.

    The pages are hash-repartitioned by xxhash64(url) into P partitions
    first — spreads a giant host's pages evenly (url-hash salt), the skew
    strategy SURVEY.md §4 calls out for 100 TB inputs. P is
    salt_partitions, or else the session's spark.sql.shuffle.partitions
    (a spark-submit --conf value, or the local task slots). The salt is
    the full 64-bit url hash: pre-reducing it mod P would leave only P
    distinct keys for the partitioner's own hash to place, so some
    partitions collide and others stay empty.
    """
    n = salt_partitions or int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return pages.select("url", "warc_ts", "html", "lang") \
        .repartition(n, F.xxhash64("url")) \
        .mapInArrow(_extract_batches, RESULT_SCHEMA)
