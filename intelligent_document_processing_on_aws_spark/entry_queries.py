"""Driver-contract query registry: Spark queries + matching DuckDB oracles.

Each entry implements one operator family of the paper's dataflow
(SURVEY.md §2: extraction and decoders, images and media, sectioning,
attributes, assessment, summaries, evaluation, validation and status,
metering) or of the Common-Crawl ingest path (WARC response records)
as a (spark, sf_dir) -> DataFrame callable, paired with an
ANSI-SQL oracle DuckDB runs on the same inputs. From sf_dir the queries
read only the ``documents`` and ``events`` tables. Column names and dtypes
are aligned pair-wise; float-valued columns are either bit-identical by
construction (same IEEE expression tree over the same ints) or rounded on
both sides.

Fixture-backed queries (extraction / sectioning / evaluation) read the
committed parquet under fixtures_data/ — deterministic, generated by
fixtures/build.py — and their oracles read the independently generated
golden parquet via read_parquet().
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import eval_config_rows
from .operators.attributes import extract_section_attributes
from .operators.classify import classify_and_section
from .operators.evaluation import evaluate_attributes, metrics_rollup
from .operators.extraction import extract_pages
from .pyfiles import build

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO_ROOT, "fixtures_data")


def _fx(name: str) -> str:
    return os.path.join(FIXTURES, name)


_SHIPPED_SESSIONS: set[int] = set()
# (temp directory, archive in it): the directory goes when the process exits
_ARCHIVE: tuple[tempfile.TemporaryDirectory, str] | None = None


def ensure_workers(spark: SparkSession) -> None:
    """Ship this checkout's package to executor Python workers as the
    spark-submit --py-files archive, so cloudpickled mapInPandas functions
    can import it regardless of the harness's cwd/PYTHONPATH. The archive
    is built once per process, into a temp directory of its own, so two
    checkouts on one machine never ship each other's package. Idempotent
    per session; Spark ignores a repeat add of the same path."""
    global _ARCHIVE
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    if _ARCHIVE is None:
        tmp = tempfile.TemporaryDirectory(prefix="idp_spark_pyfiles_")
        _ARCHIVE = tmp, build(os.path.join(tmp.name, "idp_spark_pkg.zip"))
    spark.sparkContext.addPyFile(_ARCHIVE[1])
    _SHIPPED_SESSIONS.add(key)


def _wrap(fn):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_workers(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def q_document_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracking-service current-status read (reference docs_service +
    models.py Status enum): deterministic transition history per document
    (stage reach decided by doc_id arithmetic), latest = furthest stage via
    the monotone sequence window, FAILED outranking COMPLETED."""
    from .plans.status import STATUS_ORDER, latest_status_df

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id"
    )
    seq = {s: i for i, s in enumerate(STATUS_ORDER)}
    stages = [  # (status, reach-predicate on doc_id)
        ("QUEUED", F.lit(True)),
        ("CLASSIFYING", F.lit(True)),
        ("EXTRACTING", F.col("doc_id") % 10 != 0),
        ("SUMMARIZING", (F.col("doc_id") % 10).isin(1, 2, 3, 4, 5, 6, 7, 8)),
        ("COMPLETED", (F.col("doc_id") % 10).isin(1, 2, 3, 4, 5, 6, 7)),
        ("FAILED", F.col("doc_id") % 10 == 8),
    ]
    transitions = None
    for status, pred in stages:
        t = docs.where(pred).select(
            "doc_id", F.lit(status).alias("status"),
            F.lit(seq[status]).cast("int").alias("seq"),
        )
        transitions = t if transitions is None else transitions.unionByName(t)
    return latest_status_df(transitions)


def _sql_document_status() -> str:
    from .plans.status import STATUS_ORDER

    seq = {s: i for i, s in enumerate(STATUS_ORDER)}
    stage_selects = " UNION ALL ".join(
        f"SELECT doc_id, '{status}' AS status, {seq[status]} AS seq "
        f"FROM docs WHERE {pred}"
        for status, pred in (
            ("QUEUED", "TRUE"),
            ("CLASSIFYING", "TRUE"),
            ("EXTRACTING", "doc_id % 10 != 0"),
            ("SUMMARIZING", "doc_id % 10 BETWEEN 1 AND 8"),
            ("COMPLETED", "doc_id % 10 BETWEEN 1 AND 7"),
            ("FAILED", "doc_id % 10 = 8"),
        )
    )
    return f"""
        WITH docs AS (SELECT doc_id FROM documents),
        transitions AS ({stage_selects}),
        ranked AS (
            SELECT doc_id, status,
                   row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
            FROM transitions
        )
        SELECT doc_id, status FROM ranked WHERE rn = 1
    """


# ---------------------------------------------------------------------------
# reporting-table analytics (§2.11 SQL query surface)
# ---------------------------------------------------------------------------

def q_events_metering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metering-style additive rollup (utils/__init__.py:76-113 analog)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # sum in DECIMAL: double accumulation is association-order-dependent
    # (observed 3e-6 drift vs DuckDB on 20k-row groups at sf0.1); decimal
    # addition is exact, so the rollup is bit-stable at ANY scale
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        # exact decimal sum, then one double cast (identical bits on both
        # engines because the decimal is identical)
        F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double").alias("total_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


def _sql_events_metering() -> str:
    return """
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY event_type
    """


_PRICING = (  # deterministic pricing dim; 'error' intentionally unpriced
    ("click", 0.0002), ("purchase", 0.012), ("signup", 0.005), ("view", 0.0001),
)


def q_metering_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metering merge + pricing-dim broadcast join + cost computation
    (reference metering/cost reporting: utils merge_metering_data + unit
    pricing). 'error' events have no pricing row -> unit_cost 0 fallback."""
    from .operators.metering import merge_metering, with_costs

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        F.col("user_id").alias("document_id"),
        F.col("event_type").alias("service_api"),
        F.lit("units").alias("unit"),
        # decimal sum: exact/associative -> scale-independent oracle match
        F.col("value").cast("decimal(18,6)").alias("value"),
    )
    pricing = spark.createDataFrame(
        [(t, "units", c) for t, c in _PRICING],
        "service_api string, unit string, unit_cost double",
    )
    return with_costs(merge_metering(ev), pricing).select(
        "service_api", "unit", F.col("value").cast("double").alias("value"),
        F.col("n_documents").cast("long").alias("n_documents"),
        "unit_cost", "estimated_cost",
    )


def _sql_metering_costs() -> str:
    cost_case = ("CASE service_api "
                 + " ".join(f"WHEN '{t}' THEN {c}" for t, c in _PRICING)
                 + " ELSE 0.0 END")
    return f"""
        WITH mrows AS (
            SELECT user_id AS document_id, event_type AS service_api,
                   'units' AS unit, CAST(value AS DECIMAL(18,6)) AS value
            FROM events
        ),
        merged AS (
            SELECT service_api, unit, sum(value) AS value,
                   CAST(count(DISTINCT document_id) AS BIGINT) AS n_documents
            FROM mrows GROUP BY 1, 2
        )
        SELECT service_api, unit, CAST(value AS DOUBLE) AS value,
               n_documents,
               {cost_case} AS unit_cost,
               CAST(value AS DOUBLE) * {cost_case} AS estimated_cost
        FROM merged
    """


def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-column extraction (get_json_object / json_tuple surface):
    props = {"k": int} -> bucket stats per event_type."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.count_distinct("k").alias("distinct_k"),
    )


def _sql_events_props() -> str:
    return """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
               CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS distinct_k
        FROM events GROUP BY event_type
    """


# ---------------------------------------------------------------------------
# extraction / sectioning / attributes / evaluation (fixture-backed)
# ---------------------------------------------------------------------------

def q_extract_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = spark.read.parquet(_fx("t2_pages.parquet"))
    return extract_pages(pages, salt_partitions=32).select(
        "url", "extracted_text", "spans_json", "lang", "confidence", "content_type"
    )


def _sql_extract_main_content() -> str:
    return (
        "SELECT url, extracted_text, spans_json, lang, confidence, content_type "
        f"FROM read_parquet('{_fx('t2_golden.parquet')}')"
    )


def q_extract_office(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX/XLSX decode branch (stdlib zip+XML) through the same Arrow-
    batched kernel dispatch — payload binary in, reference-format
    markdown/text out, keyed by doc_id for the golden compare."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.extract import extract_page_safe

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("extracted_text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts = [], []
            for p in pdf["payload"]:
                ct, res, _err = extract_page_safe(bytes(p))
                kinds.append(ct)
                texts.append(res.extracted_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": kinds, "extracted_text": texts}
            )

    src = spark.read.parquet(_fx("office_docs.parquet")).select("doc_id", "payload")
    return src.mapInPandas(run, schema)


def _sql_extract_office() -> str:
    return (
        "SELECT doc_id, kind, extracted_text "
        f"FROM read_parquet('{_fx('office_golden.parquet')}')"
    )


def q_extract_xls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy binary .xls (BIFF8-in-CFB) decode branch: from-scratch
    compound-file + BIFF record parsing (kernels/xls_biff) through the
    standard dispatch, producing the same per-sheet markdown as the xlsx
    path. Parity: document_converter.py:164-221 (pandas/xlrd)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.extract import extract_page_safe

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("extracted_text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts = [], []
            for p, u in zip(pdf["payload"], pdf["url"]):
                ct, res, _err = extract_page_safe(bytes(p), u)
                kinds.append(ct)
                texts.append(res.extracted_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": kinds,
                 "extracted_text": texts}
            )

    src = spark.read.parquet(_fx("xls_docs.parquet")).select(
        "doc_id", "url", "payload")
    return src.mapInPandas(run, schema)


def _sql_extract_xls() -> str:
    return (
        "SELECT doc_id, 'xls' AS kind, extracted_text "
        f"FROM read_parquet('{_fx('xls_golden.parquet')}')"
    )


def q_extract_rtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF decode branch (kernels/rtf — beyond reference: GenAIIDP's
    converter matrix has no RTF branch): from-scratch group-stack walk,
    cp1252 hex + signed \\uN + surrogate-pair escapes, skip-destination
    handling, through the standard dispatch. Corrupt payloads (truncated,
    unbalanced, bad hex) must land on the error path with empty text.
    Oracle: the generator's construction-derived golden (never the
    kernel)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.extract import extract_page_safe

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("extracted_text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts = [], []
            for p, u in zip(pdf["payload"], pdf["url"]):
                ct, res, _err = extract_page_safe(bytes(p), u)
                kinds.append(ct)
                texts.append(res.extracted_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": kinds,
                 "extracted_text": texts}
            )

    src = spark.read.parquet(_fx("rtf_docs.parquet")).select(
        "doc_id", "url", "payload")
    return src.mapInPandas(run, schema)


def _sql_extract_rtf() -> str:
    return (
        "SELECT doc_id, kind, extracted_text "
        f"FROM read_parquet('{_fx('rtf_golden.parquet')}')"
    )


def q_charset_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniff + transcode (kernels/charset — beyond reference,
    whose decode fallback is strict-UTF-8-only, ocr/service.py:1632-1678):
    the WHATWG/CCNet chain — BOM (UTF-32 before UTF-16), declared
    <meta>/<?xml?> label through the alias registry (latin-1 ->
    windows-1252), BOM-less UTF-16 NUL-parity, strict UTF-8, total
    windows-1252 fallback. Arrow-batched map over raw binary; zero
    shuffles. Oracle: the generator's composition facts (original string
    + the family's specified chain outcome), never the kernel."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.charset import sniff_decode

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("encoding", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            encs, srcs, lens, texts = [], [], [], []
            for raw in pdf["raw"]:
                r = sniff_decode(bytes(raw))
                encs.append(r.encoding)
                srcs.append(r.source)
                lens.append(len(r.text))
                texts.append(r.text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "encoding": encs, "source": srcs,
                 "n_chars": lens, "text": texts}
            )

    src = spark.read.parquet(_fx("charset_docs.parquet")).select("doc_id", "raw")
    return src.mapInPandas(run, schema)


def _sql_charset_transcode() -> str:
    return (
        "SELECT doc_id, encoding, source, n_chars, text "
        f"FROM read_parquet('{_fx('charset_golden.parquet')}')"
    )


def q_extract_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary Word 97 (.doc) decode branch: from-scratch FIB + piece-table
    parsing over the shared CFB machinery (kernels/doc_word), routed by
    directory stream names. BEYOND the reference, whose .doc path goes to
    python-docx and errors (ocr/service.py:1653-1654)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.extract import extract_page_safe

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("extracted_text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts = [], []
            for p, u in zip(pdf["payload"], pdf["url"]):
                ct, res, _err = extract_page_safe(bytes(p), u)
                kinds.append(ct)
                texts.append(res.extracted_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": kinds,
                 "extracted_text": texts}
            )

    src = spark.read.parquet(_fx("doc_docs.parquet")).select(
        "doc_id", "url", "payload")
    return src.mapInPandas(run, schema)


def _sql_extract_doc() -> str:
    return (
        "SELECT doc_id, 'doc' AS kind, extracted_text "
        f"FROM read_parquet('{_fx('doc_golden.parquet')}')"
    )


def q_ocr_table_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Textract-style block tree -> page markdown with tables as pipe grids
    (reference _parse_textract_response / textractor to_markdown analog,
    ocr/service.py:1560-1610): cell grids with spans, pipe escaping,
    table-row LINE dedup, geometric reading order. Arrow-batched
    mapInPandas over the blocks JSON — row-parallel, no shuffle."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.textract_blocks import blocks_to_markdown

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("page_md", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "page_md": [
                        blocks_to_markdown(_json.loads(b))
                        for b in pdf["blocks_json"]
                    ],
                }
            )

    src = spark.read.parquet(_fx("ocrblocks_docs.parquet"))
    return src.mapInPandas(run, schema)


def _sql_ocr_table_markdown() -> str:
    return (
        "SELECT doc_id, page_md "
        f"FROM read_parquet('{_fx('ocrblocks_golden.parquet')}')"
    )


def q_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata probing: deterministic PNG/JPEG/GIF/BMP/TIFF/
    WEBP payloads (real headers, both TIFF byte orders, all three WEBP
    container shapes) built on executors; probe_image_meta must recover
    the constructed dimensions. Oracle recomputes them from the SAME
    integer formulas without parsing any bytes."""
    from collections.abc import Iterator

    import pandas as pd

    from .fixtures.media_gen import (
        bmp_bytes,
        gif_bytes,
        jpeg_bytes,
        png_bytes,
        tiff_bytes,
        webp_bytes,
    )
    from .operators.multimodal import MULTIMODAL_SCHEMA, probe_image_meta

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        builders = (png_bytes, jpeg_bytes, gif_bytes,
                    bmp_bytes, tiff_bytes, webp_bytes)
        for pdf in batches:
            rows = {"item_id": [], "modality": [], "payload": [], "meta": []}
            for i in pdf["id"]:
                i = int(i)
                w, h = i * 7 % 500 + 1, i * 13 % 400 + 1
                rows["item_id"].append(i)
                rows["modality"].append("image")
                rows["payload"].append(builders[i % 6](w, h))
                rows["meta"].append(None)
            yield pd.DataFrame(rows)

    items = spark.range(0, 200, numPartitions=8).mapInPandas(gen, MULTIMODAL_SCHEMA)
    probed = probe_image_meta(items)
    return probed.select(
        "item_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def _sql_image_meta() -> str:
    return """
        SELECT CAST(id AS BIGINT) AS item_id,
               CAST(id * 7 % 500 + 1 AS INT) AS width,
               CAST(id * 13 % 400 + 1 AS INT) AS height
        FROM range(200) t(id)
    """


_IMAGE_RESIZE_N = 64


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-backed image preprocessing END-TO-END: deterministic
    real-pixel PNGs (gradient content, gray/RGB/RGBA, every scanline
    filter, some payloads truncated) are encoded on executors, then
    decode_resize_images runs the from-scratch stdlib PNG decoder
    (kernels/png_codec.py) + the reference's fit-within bilinear resize
    (image_ops.resize_array; reference image/__init__.py:54-66, 951x1268
    default) and hashes the resized pixels. The oracle re-derives the
    expected pixel hashes from the SAME closed-form pixel formulas
    WITHOUT touching PNG bytes — so the decoder's inflate/defilter path
    is inside the verified loop: any decode defect flips the hash."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .fixtures.media_gen import gradient_png
    from .operators.multimodal import decode_resize_images

    schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {"item_id": ids, "payload": [gradient_png(i) for i in ids]}
            )

    items = spark.range(0, _IMAGE_RESIZE_N, numPartitions=8).mapInPandas(
        gen, schema)
    return decode_resize_images(items)


def _sql_image_resize() -> str:
    """Expected rows re-derived driver-side from the pure pixel formula +
    shared resize kernel (the IVF-centroid oracle pattern): pixels come
    straight from gradient_image — the PNG encode/decode roundtrip on the
    Spark side is the thing under test. Error rows for truncated payloads
    reproduce the operator's loud-degrade formatting via the same shared
    kernel."""
    import hashlib as _hl

    import numpy as _np

    from .fixtures.media_gen import gradient_image, gradient_png
    from .kernels.image_ops import resize_array
    from .kernels.png_codec import PngError, decode_png

    rows = []
    for i in range(_IMAGE_RESIZE_N):
        if i % 16 == 5:
            try:
                decode_png(gradient_png(i))
                raise AssertionError("fixture should be malformed")
            except PngError as e:
                err = f"PngError: {e}"[:200].replace("'", "''")
            rows.append(
                f"({i}, NULL, NULL, NULL, NULL, NULL, '{err}')")
            continue
        img = gradient_image(i)
        if img.ndim == 2:
            img = _np.dstack([img, img, img])
        img = img[:, :, :3]
        h, w = img.shape[:2]
        out = resize_array(img, 951, 1268)
        oh, ow = out.shape[:2]
        sha = _hl.sha1(out.tobytes()).hexdigest()
        rows.append(f"({i}, {w}, {h}, {ow}, {oh}, '{sha}', NULL)")
    values = ",\n               ".join(rows)
    return f"""
        SELECT CAST(item_id AS BIGINT) AS item_id,
               CAST(in_width AS INT) AS in_width,
               CAST(in_height AS INT) AS in_height,
               CAST(out_width AS INT) AS out_width,
               CAST(out_height AS INT) AS out_height,
               resized_sha1, error
        FROM (VALUES {values})
             t(item_id, in_width, in_height, out_width, out_height,
               resized_sha1, error)
    """


def q_extract_real_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine %PDF byte streams (xref/objects/FlateDecode/text operators,
    written byte-level by the fixture generator) through the standard
    extraction stage; golden computed from the template line data before
    rendering. Parity target: the reference's PDF OCR ingestion
    (lib/idp_common_pkg/idp_common/ocr/service.py:1144-1252)."""
    pages = spark.read.parquet(_fx("realpdf_pages.parquet"))
    return extract_pages(pages, salt_partitions=32).select(
        "url", "extracted_text", "spans_json", "lang", "confidence", "content_type"
    )


def _sql_extract_real_pdf() -> str:
    return (
        "SELECT url, extracted_text, spans_json, lang, confidence, content_type "
        f"FROM read_parquet('{_fx('realpdf_golden.parquet')}')"
    )


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-style WARC ingestion end-to-end: committed
    `.warc.gz` fixtures (per-record gzip members; chunked / gzip /
    deflate wire forms; utf-8 / declared-cp1252 / meta-sniffed-cp1252
    charsets; 404s; one corrupted record per 13) through the
    from-scratch reader (kernels/warc.py via sources/warc.read_warc).
    The oracle is the writer's closed-form golden
    (fixtures/warc_gen.golden_rows — derived from the record plan, never
    from the reading kernel), so gzip-member walking, WARC header parse,
    HTTP envelope, de-chunk, content-decode and charset resolution are
    all inside the verified loop."""
    from .sources.warc import read_warc

    recs = read_warc(spark, _fx("warc"))
    return recs.select(
        "warc_file", "record_id", "url", "warc_date",
        F.col("status").cast("int").alias("status"),
        "content_type", "charset",
        F.when(F.col("text").isNotNull(),
               F.sha1(F.encode("text", "utf-8"))).alias("text_sha1"),
        F.when(F.col("text").isNotNull(),
               F.length("text")).cast("int").alias("n_chars"),
        "error",
    )


def _sql_warc_extract() -> str:
    return (
        "SELECT warc_file, record_id, url, warc_date, status, "
        "content_type, charset, text_sha1, n_chars, error "
        f"FROM read_parquet('{_fx('warc_golden.parquet')}')"
    )


def q_extract_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV decode branch: extension-hint routing (even doc_ids carry a
    .csv name; odd rely on the content sniff) -> csv_to_markdown with the
    reference numeric formats (document_converter.py:113-162,920-968)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .kernels.extract import extract_page_safe

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("extracted_text", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds, texts = [], []
            for p, name in zip(pdf["payload"], pdf["name"]):
                ct, res, _err = extract_page_safe(bytes(p), name)
                kinds.append(ct)
                texts.append(res.extracted_text)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "kind": kinds, "extracted_text": texts}
            )

    src = spark.read.parquet(_fx("csv_docs.parquet")).select("doc_id", "name", "payload")
    return src.mapInPandas(run, schema)


def _sql_extract_csv() -> str:
    return (
        "SELECT doc_id, 'csv' AS kind, extracted_text "
        f"FROM read_parquet('{_fx('csv_golden.parquet')}')"
    )


def q_sectioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = spark.read.parquet(_fx("packet_pages.parquet"))
    return classify_and_section(pages).select(
        "doc_id", "section_id", "classification",
        F.to_json("page_nums").alias("page_nums_json"), "section_text",
    )


def _sql_sectioning() -> str:
    return (
        "SELECT doc_id, section_id, classification, page_nums_json, section_text "
        f"FROM read_parquet('{_fx('golden_sections.parquet')}')"
    )


def q_section_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = spark.read.parquet(_fx("packet_pages.parquet"))
    return extract_section_attributes(classify_and_section(pages))


def _sql_section_attributes() -> str:
    return (
        "SELECT doc_id, section_id, classification, attributes_json "
        f"FROM read_parquet('{_fx('golden_attributes.parquet')}')"
    )


def _flat(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.parquet(_fx(f"{name}.parquet"))


def q_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    cfg = spark.createDataFrame(eval_config_rows())
    counted = evaluate_attributes(
        _flat(spark, "flat_expected"), _flat(spark, "flat_actual"), cfg
    )
    return metrics_rollup(counted, "classification").select(
        "classification", "tp", "fp", "fn", "tn", "fp1", "fp2",
        "precision", "recall", "f1_score", "accuracy",
        "false_alarm_rate", "false_discovery_rate",
    )


def _sql_eval_metrics() -> str:
    """Full independent DuckDB re-implementation of align + compare + count
    + metrics over the flattened golden parquet files."""
    cfg_values = ", ".join(
        f"('{r['classification']}', '{r['norm_path']}', '{r['method']}', {r['threshold']})"
        for r in eval_config_rows()
    )
    norm = "lower(trim(regexp_replace(regexp_replace({v}, '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g')))"
    ne, na = norm.format(v="expected"), norm.format(v="actual")
    nne = "TRY_CAST(replace(replace(replace(replace(expected,'$',''),',',''),'(',''),')','') AS DOUBLE)"
    nna = "TRY_CAST(replace(replace(replace(replace(actual,'$',''),',',''),'(',''),')','') AS DOUBLE)"
    sim = (f"CASE WHEN {ne} = {na} THEN 1.0 "
           f"WHEN length({ne}) = 0 OR length({na}) = 0 THEN 0.0 "
           f"ELSE 1.0 - levenshtein({ne}, {na}) / greatest(length({ne}), length({na})) END")
    exact_eq = f"({ne} = {na})"
    numeric_eq = (f"CASE WHEN {nne} IS NOT NULL AND {nna} IS NOT NULL "
                  f"THEN {nne} = {nna} ELSE {exact_eq} END")
    matched = (f"CASE WHEN method = 'NUMERIC_EXACT' THEN {numeric_eq} "
               f"WHEN method = 'FUZZY' THEN {sim} >= threshold "
               f"ELSE {exact_eq} END")
    e_empty = "(expected IS NULL OR trim(expected) = '')"
    a_empty = "(actual IS NULL OR trim(actual) = '')"
    return f"""
        WITH e AS (SELECT doc_id, section_id, classification, attr_path,
                          value AS expected
                   FROM read_parquet('{_fx('flat_expected.parquet')}')),
        a AS (SELECT doc_id, section_id, classification, attr_path,
                     value AS actual
              FROM read_parquet('{_fx('flat_actual.parquet')}')),
        cfg(classification, norm_path, method, threshold) AS (VALUES {cfg_values}),
        aligned AS (
            SELECT COALESCE(e.doc_id, a.doc_id) AS doc_id,
                   COALESCE(e.section_id, a.section_id) AS section_id,
                   COALESCE(e.classification, a.classification) AS classification,
                   COALESCE(e.attr_path, a.attr_path) AS attr_path,
                   e.expected, a.actual
            FROM e FULL OUTER JOIN a
              ON e.doc_id = a.doc_id AND e.section_id = a.section_id
             AND e.attr_path = a.attr_path
        ),
        with_cfg AS (
            SELECT aligned.*,
                   COALESCE(cfg.method, 'EXACT') AS method,
                   COALESCE(cfg.threshold, 0.8) AS threshold
            FROM aligned LEFT JOIN cfg
              ON cfg.classification = aligned.classification
             AND cfg.norm_path = regexp_replace(aligned.attr_path, '\\[\\d+\\]', '[]', 'g')
        ),
        counted AS (
            SELECT classification,
                   CASE WHEN {e_empty} AND {a_empty} THEN 1 ELSE 0 END AS tn,
                   CASE WHEN {e_empty} AND NOT {a_empty} THEN 1
                        WHEN NOT {e_empty} AND NOT {a_empty} AND NOT ({matched}) THEN 1
                        ELSE 0 END AS fp,
                   CASE WHEN NOT {e_empty} AND {a_empty} THEN 1 ELSE 0 END AS fn,
                   CASE WHEN NOT {e_empty} AND NOT {a_empty} AND ({matched}) THEN 1 ELSE 0 END AS tp,
                   CASE WHEN {e_empty} AND NOT {a_empty} THEN 1 ELSE 0 END AS fp1,
                   CASE WHEN NOT {e_empty} AND NOT {a_empty} AND NOT ({matched}) THEN 1 ELSE 0 END AS fp2
            FROM with_cfg
        ),
        sums AS (
            SELECT classification,
                   CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
                   CAST(sum(fn) AS BIGINT) AS fn, CAST(sum(tn) AS BIGINT) AS tn,
                   CAST(sum(fp1) AS BIGINT) AS fp1, CAST(sum(fp2) AS BIGINT) AS fp2
            FROM counted GROUP BY classification
        ),
        pr AS (
            SELECT *,
                   CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS precision,
                   CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS recall
            FROM sums
        )
        SELECT classification, tp, fp, fn, tn, fp1, fp2, precision, recall,
               CASE WHEN precision + recall > 0
                    THEN 2 * precision * recall / (precision + recall)
                    ELSE 0.0 END AS f1_score,
               CASE WHEN tp + fp + fn + tn > 0
                    THEN (tp + tn) / (tp + fp + fn + tn) ELSE 0.0 END AS accuracy,
               CASE WHEN fp1 + tn > 0 THEN fp1 / (fp1 + tn) ELSE 0.0 END AS false_alarm_rate,
               CASE WHEN fp2 + tp > 0 THEN fp2 / (fp2 + tp) ELSE 0.0 END AS false_discovery_rate
        FROM pr
    """


def q_flatten_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upstream explainability_info -> per-path confidence rows
    (evaluation/service.py:232-321 parity); golden computed by the fixture
    generator from its own construction, never via the kernel."""
    from .operators.evaluation import flatten_confidence_payloads

    return flatten_confidence_payloads(
        spark.read.parquet(_fx("extraction_payloads.parquet"))
    )


def _sql_flatten_confidence() -> str:
    return (
        "SELECT doc_id, section_id, attr_path, confidence, confidence_threshold "
        f"FROM read_parquet('{_fx('golden_flat_confidence.parquet')}')"
    )


def q_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document evaluation markdown report (reference
    evaluation/models.py:117-330 to_markdown analog); the oracle is a full
    independent DuckDB re-implementation: align + compare + score + emoji
    status + string_agg assembly of the identical markdown."""
    from .operators.evaluation import evaluation_report

    from .operators.evaluation import flatten_confidence_payloads

    cfg = spark.createDataFrame(eval_config_rows())
    counted = evaluate_attributes(
        _flat(spark, "flat_expected"), _flat(spark, "flat_actual"), cfg
    )
    confidences = flatten_confidence_payloads(
        spark.read.parquet(_fx("extraction_payloads.parquet"))
    )
    return evaluation_report(counted, confidences)


def _sql_eval_report() -> str:
    cfg_values = ", ".join(
        f"('{r['classification']}', '{r['norm_path']}', '{r['method']}', {r['threshold']})"
        for r in eval_config_rows()
    )
    norm = "lower(trim(regexp_replace(regexp_replace({v}, '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g')))"
    ne, na = norm.format(v="expected"), norm.format(v="actual")
    nne = "TRY_CAST(replace(replace(replace(replace(expected,'$',''),',',''),'(',''),')','') AS DOUBLE)"
    nna = "TRY_CAST(replace(replace(replace(replace(actual,'$',''),',',''),'(',''),')','') AS DOUBLE)"
    sim = (f"CASE WHEN {ne} = {na} THEN 1.0 "
           f"WHEN length({ne}) = 0 OR length({na}) = 0 THEN 0.0 "
           f"ELSE 1.0 - levenshtein({ne}, {na}) / greatest(length({ne}), length({na})) END")
    exact_eq = f"({ne} = {na})"
    numeric_eq = (f"CASE WHEN {nne} IS NOT NULL AND {nna} IS NOT NULL "
                  f"THEN {nne} = {nna} ELSE {exact_eq} END")
    matched = (f"CASE WHEN method = 'NUMERIC_EXACT' THEN {numeric_eq} "
               f"WHEN method = 'FUZZY' THEN {sim} >= threshold "
               f"ELSE {exact_eq} END")
    e_empty = "(expected IS NULL OR trim(expected) = '')"
    a_empty = "(actual IS NULL OR trim(actual) = '')"
    pct = "(CAST(round({v} * 100, 0) AS INT) || '%')"
    return f"""
        WITH e AS (SELECT doc_id, section_id, classification, attr_path,
                          value AS expected
                   FROM read_parquet('{_fx('flat_expected.parquet')}')),
        a AS (SELECT doc_id, section_id, classification, attr_path,
                     value AS actual
              FROM read_parquet('{_fx('flat_actual.parquet')}')),
        cfg(classification, norm_path, method, threshold) AS (VALUES {cfg_values}),
        aligned AS (
            SELECT COALESCE(e.doc_id, a.doc_id) AS doc_id,
                   COALESCE(e.section_id, a.section_id) AS section_id,
                   COALESCE(e.classification, a.classification) AS classification,
                   COALESCE(e.attr_path, a.attr_path) AS attr_path,
                   e.expected, a.actual
            FROM e FULL OUTER JOIN a
              ON e.doc_id = a.doc_id AND e.section_id = a.section_id
             AND e.attr_path = a.attr_path
        ),
        with_cfg AS (
            SELECT aligned.*,
                   COALESCE(cfg.method, 'EXACT') AS method,
                   COALESCE(cfg.threshold, 0.8) AS threshold
            FROM aligned LEFT JOIN cfg
              ON cfg.classification = aligned.classification
             AND cfg.norm_path = regexp_replace(aligned.attr_path, '\\[\\d+\\]', '[]', 'g')
        ),
        scored AS (
            SELECT doc_id, section_id, classification, attr_path,
                   expected, actual, method, threshold,
                   CASE WHEN {e_empty} AND {a_empty} THEN 1 ELSE 0 END AS tn,
                   CASE WHEN {e_empty} AND NOT {a_empty} THEN 1
                        WHEN NOT {e_empty} AND NOT {a_empty} AND NOT ({matched}) THEN 1
                        ELSE 0 END AS fp,
                   CASE WHEN NOT {e_empty} AND {a_empty} THEN 1 ELSE 0 END AS fn,
                   CASE WHEN NOT {e_empty} AND NOT {a_empty} AND ({matched}) THEN 1 ELSE 0 END AS tp,
                   CASE WHEN {e_empty} AND NOT {a_empty} THEN 1 ELSE 0 END AS fp1,
                   CASE WHEN NOT {e_empty} AND NOT {a_empty} AND NOT ({matched}) THEN 1 ELSE 0 END AS fp2,
                   CASE WHEN {e_empty} AND {a_empty} THEN 1.0
                        WHEN {e_empty} OR {a_empty} THEN 0.0
                        WHEN method = 'FUZZY' THEN {sim}
                        WHEN ({matched}) THEN 1.0 ELSE 0.0 END AS score
            FROM with_cfg
        ),
        conf AS (
            SELECT doc_id, section_id, attr_path, confidence,
                   confidence_threshold
            FROM read_parquet('{_fx('golden_flat_confidence.parquet')}')
        ),
        rows_md AS (
            SELECT s.doc_id, s.section_id, s.classification, s.attr_path,
                   tp, fp, fn, tn, fp1, fp2,
                   '| ' || CASE WHEN tp + tn = 1 THEN '✅' ELSE '❌' END
                   || ' | ' || s.attr_path
                   || ' | ' || COALESCE(replace(expected, chr(10), ' '), 'None')
                   || ' | ' || COALESCE(replace(actual, chr(10), ' '), 'None')
                   || ' | ' || COALESCE({pct.format(v='c.confidence')}, 'N/A')
                   || ' | ' || COALESCE({pct.format(v='c.confidence_threshold')}, 'N/A')
                   || ' | ' || {pct.format(v='score')}
                   || ' | ' || CASE WHEN method = 'FUZZY'
                                    THEN method || ' (threshold: ' || {pct.format(v='threshold')} || ')'
                                    ELSE method END
                   || ' |' AS row_md
            FROM scored s
            LEFT JOIN conf c
              ON c.doc_id = s.doc_id AND c.section_id = s.section_id
             AND c.attr_path = s.attr_path
        ),
        sec AS (
            SELECT doc_id, section_id, any_value(classification) AS cls,
                   string_agg(row_md, chr(10) ORDER BY attr_path) AS attr_rows,
                   CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
                   CAST(sum(fn) AS BIGINT) AS fn, CAST(sum(tn) AS BIGINT) AS tn,
                   CAST(sum(fp1) AS BIGINT) AS fp1, CAST(sum(fp2) AS BIGINT) AS fp2
            FROM rows_md GROUP BY doc_id, section_id
        ),
        sec_md AS (
            SELECT doc_id, section_id, tp, fp, fn, tn, fp1, fp2,
                   '## Section: ' || section_id || ' (' || cls || ')'
                   || chr(10) || chr(10)
                   || '- counts: tp=' || tp || ' fp=' || fp || ' fn=' || fn
                   || ' tn=' || tn || ' fp1=' || fp1 || ' fp2=' || fp2
                   || chr(10) || chr(10)
                   || '| Status | Attribute | Expected | Actual | Confidence | Confidence Threshold | Score | Method |'
                   || chr(10)
                   || '| :----: | --------- | -------- | ------ | :--------: | :------------------: | ----- | ------ |'
                   || chr(10) || attr_rows AS sec_md
            FROM sec
        ),
        doc AS (
            SELECT doc_id,
                   string_agg(sec_md, chr(10) || chr(10) ORDER BY section_id)
                       AS sections_md,
                   CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
                   CAST(sum(fn) AS BIGINT) AS fn, CAST(sum(tn) AS BIGINT) AS tn
            FROM sec_md GROUP BY doc_id
        ),
        rates AS (
            SELECT *,
                   tp + tn AS matched_n, tp + fp + fn + tn AS total,
                   CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS prec,
                   CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS rec
            FROM doc
        ),
        final AS (
            SELECT *,
                   CAST(round(CASE WHEN total > 0 THEN matched_n / total ELSE 0.0 END * 100, 0) AS INT) AS rate_pct,
                   CASE WHEN prec + rec > 0 THEN 2 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
            FROM rates
        )
        SELECT doc_id,
               '# Document Evaluation: ' || doc_id
               || chr(10) || chr(10) || '## Summary' || chr(10)
               || '- **Match Rate**: '
               || CASE WHEN rate_pct >= 90 THEN '🟢' WHEN rate_pct >= 70 THEN '🟡'
                       WHEN rate_pct >= 50 THEN '🟠' ELSE '🔴' END
               || ' ' || matched_n || '/' || total || ' attributes matched ['
               || repeat('█', CAST(floor(rate_pct / 5) AS INT))
               || repeat('░', 20 - CAST(floor(rate_pct / 5) AS INT))
               || '] ' || rate_pct || '%' || chr(10)
               || '- **Precision**: ' || {pct.format(v='prec')}
               || ' | **Recall**: ' || {pct.format(v='rec')}
               || ' | **F1 Score**: '
               || CASE WHEN CAST(round(f1 * 100, 0) AS INT) >= 90 THEN '🟢'
                       WHEN CAST(round(f1 * 100, 0) AS INT) >= 70 THEN '🟡'
                       WHEN CAST(round(f1 * 100, 0) AS INT) >= 50 THEN '🟠'
                       ELSE '🔴' END
               || ' ' || {pct.format(v='f1')}
               || chr(10) || chr(10) || sections_md AS report_md
        FROM final
    """


def q_assessment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.assessment import assess_attributes

    cfg = spark.createDataFrame(eval_config_rows())
    secs = spark.read.parquet(_fx("golden_sections.parquet"))
    return assess_attributes(_flat(spark, "flat_actual"), secs, cfg).select(
        "doc_id", "section_id", "classification", "attr_path",
        "confidence", "confidence_threshold", "alert",
    )


def _sql_assessment() -> str:
    cfg_values = ", ".join(
        f"('{r['classification']}', '{r['norm_path']}', {r['threshold']})"
        for r in eval_config_rows()
    )
    norm = "lower(trim(regexp_replace(regexp_replace({v}, '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g')))"
    conf = (
        f"CASE WHEN value IS NULL OR trim(value) = '' THEN 0.0 "
        f"WHEN section_text IS NOT NULL AND strpos(section_text, value) > 0 THEN 0.99 "
        f"WHEN section_text IS NOT NULL AND strpos({norm.format(v='section_text')}, {norm.format(v='value')}) > 0 THEN 0.7 "
        f"ELSE 0.1 END"
    )
    return f"""
        WITH flat AS (SELECT * FROM read_parquet('{_fx('flat_actual.parquet')}')),
        secs AS (SELECT doc_id, section_id, section_text
                 FROM read_parquet('{_fx('golden_sections.parquet')}')),
        cfg(classification, norm_path, threshold) AS (VALUES {cfg_values}),
        joined AS (
            SELECT flat.doc_id, flat.section_id, flat.classification,
                   flat.attr_path, flat.value, secs.section_text
            FROM flat LEFT JOIN secs
              ON flat.doc_id = secs.doc_id AND flat.section_id = secs.section_id
        ),
        scored AS (
            SELECT joined.doc_id, joined.section_id,
                   joined.classification AS classification, joined.attr_path,
                   {conf} AS confidence,
                   COALESCE(cfg.threshold, 0.8) AS confidence_threshold
            FROM joined LEFT JOIN cfg
              ON cfg.classification = joined.classification
             AND cfg.norm_path = regexp_replace(joined.attr_path, '\\[\\d+\\]', '[]', 'g')
        )
        SELECT *, confidence < confidence_threshold AS alert FROM scored
    """


def q_section_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.summarize import summarize_sections

    secs = spark.read.parquet(_fx("golden_sections.parquet"))
    return summarize_sections(secs)


def _sql_section_summaries() -> str:
    return f"""
        SELECT doc_id, section_id, classification,
               array_to_string(string_split_regex(trim(section_text), '\\s+')[1:25], ' ') AS summary
        FROM read_parquet('{_fx('golden_sections.parquet')}')
    """


def q_summary_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity combined document summary
    (markdown_formatter.py:15-418): duplicate-title removal, citation
    prefixing, TOC/anchors/navigation. Golden composed by the fixture
    generator from clean template parts."""
    from .operators.summarize import format_document_summaries

    secs = spark.read.parquet(_fx("summary_sections.parquet"))
    return format_document_summaries(secs, content_col="content")


def _sql_summary_markdown() -> str:
    return (
        "SELECT doc_id, summary_markdown "
        f"FROM read_parquet('{_fx('golden_summary_markdown.parquet')}')"
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

_RAW_QUERIES = {
    "extract_main_content": q_extract_main_content,
    "extract_office": q_extract_office,
    "extract_xls": q_extract_xls,
    "extract_rtf": q_extract_rtf,
    "extract_doc": q_extract_doc,
    "extract_csv": q_extract_csv,
    "extract_real_pdf": q_extract_real_pdf,
    "charset_transcode": q_charset_transcode,
    "ocr_table_markdown": q_ocr_table_markdown,
    "image_meta": q_image_meta,
    "image_resize": q_image_resize,
    "sectioning": q_sectioning,
    "section_attributes": q_section_attributes,
    "assessment_alerts": q_assessment,
    "section_summaries": q_section_summaries,
    "summary_markdown": q_summary_markdown,
    "eval_metrics": q_eval_metrics,
    "eval_report": q_eval_report,
    "flatten_confidence": q_flatten_confidence,
    "document_status": q_document_status,
    "events_metering": q_events_metering,
    "metering_costs": q_metering_costs,
    "events_props": q_events_props,
    "warc_extract": q_warc_extract,
}

QUERIES = {name: _wrap(fn) for name, fn in _RAW_QUERIES.items()}


def oracles() -> dict[str, str]:
    return {
        "extract_main_content": _sql_extract_main_content(),
        "extract_office": _sql_extract_office(),
        "extract_xls": _sql_extract_xls(),
        "extract_rtf": _sql_extract_rtf(),
        "extract_doc": _sql_extract_doc(),
        "extract_csv": _sql_extract_csv(),
        "extract_real_pdf": _sql_extract_real_pdf(),
        "charset_transcode": _sql_charset_transcode(),
        "ocr_table_markdown": _sql_ocr_table_markdown(),
        "image_meta": _sql_image_meta(),
        "image_resize": _sql_image_resize(),
        "sectioning": _sql_sectioning(),
        "section_attributes": _sql_section_attributes(),
        "assessment_alerts": _sql_assessment(),
        "section_summaries": _sql_section_summaries(),
        "summary_markdown": _sql_summary_markdown(),
        "eval_metrics": _sql_eval_metrics(),
        "eval_report": _sql_eval_report(),
        "flatten_confidence": _sql_flatten_confidence(),
        "document_status": _sql_document_status(),
        "events_metering": _sql_events_metering(),
        "metering_costs": _sql_metering_costs(),
        "events_props": _sql_events_props(),
        "warc_extract": _sql_warc_extract(),
    }
