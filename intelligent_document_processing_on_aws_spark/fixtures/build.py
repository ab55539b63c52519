"""Materialize committed fixture parquet under fixtures_data/.

Run: python -m intelligent_document_processing_on_aws_spark.fixtures.build

Writes (pyarrow, no Spark needed; byte-stable given the seed-addressed
generator):
  fixtures_data/t1_pages.parquet    200 rows  (pytest fast path)
  fixtures_data/t2_pages.parquet   5000 rows  (full byte-identity sweep;
                                               driver-oracle input)
  fixtures_data/t1_golden.parquet / t2_golden.parquet  golden outputs
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from .pages_gen import GOLDEN_COLS, INPUT_COLS, gen_pages

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURES_DIR = os.path.join(REPO_ROOT, "fixtures_data")

TIERS = {"t1": 200, "t2": 5000}

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
GOLDEN_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("extracted_text", pa.string()),
        ("spans_json", pa.string()),
        ("lang", pa.string()),
        ("confidence", pa.float64()),
        ("content_type", pa.string()),
    ]
)


def _write(recs: list[dict], cols: tuple, schema: pa.Schema, path: str) -> None:
    table = pa.Table.from_pydict({c: [r[c] for r in recs] for c in cols}, schema=schema)
    pq.write_table(table, path, compression="zstd")


N_PACKETS = 400


def build_packets(out_dir: str = FIXTURES_DIR, n: int = N_PACKETS) -> None:
    from .packets_gen import packet_tables

    tables = packet_tables(n)
    for name, rows in tables.items():
        cols = list(rows[0].keys())
        table = pa.Table.from_pydict({c: [r[c] for r in rows] for c in cols})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="zstd")
        print(f"wrote {name}: {len(rows)} rows")


N_OFFICE = 120


def build_office(out_dir: str = FIXTURES_DIR, n: int = N_OFFICE) -> None:
    from .office_gen import gen_office_docs

    docs = gen_office_docs(n)
    table = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "kind": [d["kind"] for d in docs],
            "payload": [d["payload"] for d in docs],
        },
        schema=pa.schema(
            [("doc_id", pa.int64()), ("kind", pa.string()), ("payload", pa.binary())]
        ),
    )
    pq.write_table(table, os.path.join(out_dir, "office_docs.parquet"), compression="zstd")
    golden = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "kind": [d["kind"] for d in docs],
            "extracted_text": [d["extracted_text"] for d in docs],
        }
    )
    pq.write_table(golden, os.path.join(out_dir, "office_golden.parquet"), compression="zstd")
    print(f"wrote office_docs/office_golden: {n} rows")


N_XLS = 120


def build_xls_fixtures(out_dir: str = FIXTURES_DIR, n: int = N_XLS) -> None:
    from .xls_gen import gen_xls_docs

    docs = gen_xls_docs(n)
    table = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "url": [d["url"] for d in docs],
            "payload": [d["payload"] for d in docs],
        },
        schema=pa.schema(
            [("doc_id", pa.int64()), ("url", pa.string()), ("payload", pa.binary())]
        ),
    )
    pq.write_table(table, os.path.join(out_dir, "xls_docs.parquet"),
                   compression="zstd")
    golden = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "extracted_text": [d["extracted_text"] for d in docs],
        }
    )
    pq.write_table(golden, os.path.join(out_dir, "xls_golden.parquet"),
                   compression="zstd")
    print(f"wrote xls_docs/xls_golden: {n} rows")


N_RTF = 110


def build_rtf_fixtures(out_dir: str = FIXTURES_DIR, n: int = N_RTF) -> None:
    from .rtf_gen import gen_rtf_docs

    docs = gen_rtf_docs(n)
    table = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "url": [d["url"] for d in docs],
            "payload": [d["payload"] for d in docs],
        },
        schema=pa.schema(
            [("doc_id", pa.int64()), ("url", pa.string()), ("payload", pa.binary())]
        ),
    )
    pq.write_table(table, os.path.join(out_dir, "rtf_docs.parquet"),
                   compression="zstd")
    golden = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "kind": [d["kind"] for d in docs],
            "extracted_text": [d["extracted_text"] for d in docs],
        }
    )
    pq.write_table(golden, os.path.join(out_dir, "rtf_golden.parquet"),
                   compression="zstd")
    print(f"wrote rtf_docs/rtf_golden: {n} rows")


N_DOC = 100


def build_doc_fixtures(out_dir: str = FIXTURES_DIR, n: int = N_DOC) -> None:
    from .doc_gen import gen_docs

    docs = gen_docs(n)
    table = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "url": [d["url"] for d in docs],
            "payload": [d["payload"] for d in docs],
        },
        schema=pa.schema(
            [("doc_id", pa.int64()), ("url", pa.string()), ("payload", pa.binary())]
        ),
    )
    pq.write_table(table, os.path.join(out_dir, "doc_docs.parquet"),
                   compression="zstd")
    golden = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "extracted_text": [d["extracted_text"] for d in docs],
        }
    )
    pq.write_table(golden, os.path.join(out_dir, "doc_golden.parquet"),
                   compression="zstd")
    print(f"wrote doc_docs/doc_golden: {n} rows")


N_REALPDF = 400


def build_realpdf(out_dir: str = FIXTURES_DIR, n: int = N_REALPDF) -> None:
    from .realpdf_gen import gen_real_pdfs

    recs = gen_real_pdfs(n)
    _write(recs, INPUT_COLS, PAGES_ARROW_SCHEMA,
           os.path.join(out_dir, "realpdf_pages.parquet"))
    _write(recs, GOLDEN_COLS, GOLDEN_ARROW_SCHEMA,
           os.path.join(out_dir, "realpdf_golden.parquet"))
    print(f"wrote realpdf_pages/realpdf_golden: {n} rows")


N_CSV = 150


def build_csv(out_dir: str = FIXTURES_DIR, n: int = N_CSV) -> None:
    from .csv_gen import gen_csv_docs

    docs = gen_csv_docs(n)
    table = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "name": [d["name"] for d in docs],
            "payload": [d["payload"] for d in docs],
        },
        schema=pa.schema(
            [("doc_id", pa.int64()), ("name", pa.string()), ("payload", pa.binary())]
        ),
    )
    pq.write_table(table, os.path.join(out_dir, "csv_docs.parquet"), compression="zstd")
    golden = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "extracted_text": [d["extracted_text"] for d in docs],
        }
    )
    pq.write_table(golden, os.path.join(out_dir, "csv_golden.parquet"), compression="zstd")
    print(f"wrote csv_docs/csv_golden: {n} rows")


N_OCRBLOCKS = 250


def build_ocrblocks(out_dir: str = FIXTURES_DIR, n: int = N_OCRBLOCKS) -> None:
    from .ocrblocks_gen import gen_ocrblocks_docs

    docs = gen_ocrblocks_docs(n)
    table = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "blocks_json": [d["blocks_json"] for d in docs],
        },
        schema=pa.schema([("doc_id", pa.int64()), ("blocks_json", pa.string())]),
    )
    pq.write_table(table, os.path.join(out_dir, "ocrblocks_docs.parquet"),
                   compression="zstd")
    golden = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "page_md": [d["page_md"] for d in docs],
        }
    )
    pq.write_table(golden, os.path.join(out_dir, "ocrblocks_golden.parquet"),
                   compression="zstd")
    print(f"wrote ocrblocks_docs/ocrblocks_golden: {n} rows")


N_SUMMARY = 120


def build_summaries(out_dir: str = FIXTURES_DIR, n: int = N_SUMMARY) -> None:
    from .summary_gen import summary_tables

    for name, rows in summary_tables(n).items():
        cols = list(rows[0].keys())
        table = pa.Table.from_pydict({c: [r[c] for r in rows] for c in cols})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="zstd")
        print(f"wrote {name}: {len(rows)} rows")


def build_warc(out_dir: str = FIXTURES_DIR) -> None:
    """Committed `.warc.gz` files (per-record gzip members, byte-stable:
    pinned mtime, fixed zlib level) + the closed-form golden."""
    from .warc_gen import N_FILES, gen_warc_file, golden_rows

    warc_dir = os.path.join(out_dir, "warc")
    os.makedirs(warc_dir, exist_ok=True)
    rows = []
    for k in range(N_FILES):
        name = f"cc-{k:05d}.warc.gz"
        with open(os.path.join(warc_dir, name), "wb") as f:
            f.write(gen_warc_file(k))
        for r in golden_rows(k):
            rows.append({"warc_file": name, **r})
    golden = pa.Table.from_pydict(
        {c: [r[c] for r in rows] for c in rows[0].keys()},
        schema=pa.schema(
            [("warc_file", pa.string()), ("record_id", pa.string()),
             ("url", pa.string()), ("warc_date", pa.string()),
             ("status", pa.int32()), ("content_type", pa.string()),
             ("charset", pa.string()), ("text_sha1", pa.string()),
             ("n_chars", pa.int32()), ("error", pa.string())]
        ),
    )
    pq.write_table(golden, os.path.join(out_dir, "warc_golden.parquet"),
                   compression="zstd")
    print(f"wrote warc/cc-*.warc.gz ({N_FILES} files) + warc_golden: "
          f"{len(rows)} rows")


N_CHARSET = 280


def build_charset_fixtures(out_dir: str = FIXTURES_DIR, n: int = N_CHARSET) -> None:
    from .charset_gen import gen_charset_docs

    docs = gen_charset_docs(n)
    table = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "family": [d["family"] for d in docs],
            "raw": [d["raw"] for d in docs],
        },
        schema=pa.schema(
            [("doc_id", pa.int64()), ("family", pa.string()), ("raw", pa.binary())]
        ),
    )
    pq.write_table(table, os.path.join(out_dir, "charset_docs.parquet"),
                   compression="zstd")
    golden = pa.Table.from_pydict(
        {
            "doc_id": [d["doc_id"] for d in docs],
            "encoding": [d["encoding"] for d in docs],
            "source": [d["source"] for d in docs],
            "n_chars": [d["n_chars"] for d in docs],
            "text": [d["text"] for d in docs],
        },
        schema=pa.schema(
            [("doc_id", pa.int64()), ("encoding", pa.string()),
             ("source", pa.string()), ("n_chars", pa.int64()),
             ("text", pa.string())]
        ),
    )
    pq.write_table(golden, os.path.join(out_dir, "charset_golden.parquet"),
                   compression="zstd")
    print(f"wrote charset_docs/charset_golden: {n} rows")


def build(out_dir: str = FIXTURES_DIR) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for tier, n in TIERS.items():
        recs = gen_pages(n)
        _write(recs, INPUT_COLS, PAGES_ARROW_SCHEMA, os.path.join(out_dir, f"{tier}_pages.parquet"))
        _write(recs, GOLDEN_COLS, GOLDEN_ARROW_SCHEMA, os.path.join(out_dir, f"{tier}_golden.parquet"))
        print(f"wrote {tier}: {n} rows")
    build_packets(out_dir)
    build_office(out_dir)
    build_realpdf(out_dir)
    build_xls_fixtures(out_dir)
    build_doc_fixtures(out_dir)
    build_rtf_fixtures(out_dir)
    build_csv(out_dir)
    build_summaries(out_dir)
    build_ocrblocks(out_dir)
    build_warc(out_dir)
    build_charset_fixtures(out_dir)


if __name__ == "__main__":
    build()
