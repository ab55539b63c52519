"""Seed-addressed benchmark inputs and their goldens, cached on disk.

Every generator in the program's fixtures package is addressed by index
(page i, real PDF i, WARC file k, packet d) and derives its golden from
the same closed-form template data, never from the extraction kernels.
A workload seed therefore only picks the index window the inputs come
from; the program sees nothing but the generated files.

Corpora are cached under ``<checkout>/.perfbench/corpus`` keyed by a
digest of the generator sources, the seed and the size, so an edited
generator never reuses a stale corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

PKG = "intelligent_document_processing_on_aws_spark"

# Documents per timed job.
SIZES = {
    "pages_extract": 16000,
    "idp_packets": 100,
}
# WARC files written beside the pages corpus for the reader probe
WARC_FILES = 48

# seed -> first index. The generators stamp page i at BASE_TS + 137 s * i
# (real PDFs: 311 s * i) and the Spark sources round-trip those through
# pandas datetime64[ns], which ends in 2262: every window stays below it.
# Seeds that agree modulo the window count share a window.
_WINDOWS = {
    "pages_extract": (1000, 40_000),
    "realpdf": (1000, 20_000),      # kernel samples only
    "warc": (100, 500),         # file index; page index = file * 1000 + j
    "idp_packets": (1000, 10_000),
}

# Generator modules (relative to the package) each workload's inputs and
# goldens are computed from, including the package modules they import.
_SOURCES = {
    "pages_extract": ["fixtures/pages_gen.py", "fixtures/warc_gen.py",
                      "kernels/tables.py"],
    "idp_packets": ["fixtures/packets_gen.py", "fixtures/pages_gen.py",
                    "kernels/tables.py", "kernels/compare.py",
                    "kernels/textnorm.py", "config.py"],
}

_KEEP_PER_WORKLOAD = 12

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
GOLDEN_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("extracted_text", pa.string()),
    ("spans_json", pa.string()),
    ("confidence", pa.float64()),
    ("content_type", pa.string()),
])
# input parquet is split into this many files, like a crawl shard set
_INPUT_FILES = 8


def window(stream: str, seed: int, n: int | None = None) -> range:
    """The seed's first ``n`` indices of a generator stream (default: the
    workload of that name's size)."""
    n_windows, stride = _WINDOWS[stream]
    base = (seed % n_windows) * stride
    return range(base, base + (SIZES[stream] if n is None else n))


def generator_digest(root: str, workload: str) -> str:
    h = hashlib.sha256()
    for rel in _SOURCES[workload] + ["../perfbench/corpora.py"]:
        path = os.path.normpath(os.path.join(root, PKG, rel))
        with open(path, "rb") as fh:
            h.update(rel.encode() + b"\0" + fh.read())
    return h.hexdigest()[:12]


def corpus_dir(root: str, workload: str, seed: int) -> str:
    """Build (or reuse) the corpus for ``workload`` at ``seed``; returns
    its directory."""
    base = os.path.join(root, ".perfbench", "corpus")
    key = (f"{workload}-{generator_digest(root, workload)}"
           f"-seed{seed}-n{SIZES[workload]}")
    final = os.path.join(base, key)
    if os.path.exists(os.path.join(final, "DONE")):
        os.utime(final)
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _BUILDERS[workload](tmp, seed)
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        fh.write(key)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    _evict(base, workload)
    return final


def _evict(base: str, workload: str) -> None:
    mine = [os.path.join(base, d) for d in os.listdir(base)
            if d.startswith(workload + "-")]
    mine.sort(key=os.path.getmtime, reverse=True)
    for d in mine[_KEEP_PER_WORKLOAD:]:
        shutil.rmtree(d, ignore_errors=True)


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"),
                       compression="zstd")


def _build_pages(out: str, seed: int) -> None:
    from intelligent_document_processing_on_aws_spark.fixtures.pages_gen import gen_page

    recs = [gen_page(i) for i in window("pages_extract", seed)]
    inp = pa.table({f.name: [r[f.name] for r in recs] for f in PAGES_SCHEMA},
                   schema=PAGES_SCHEMA)
    _write_split(inp, os.path.join(out, "input"), _INPUT_FILES)
    gold = pa.table({f.name: [r[f.name] for r in recs] for f in GOLDEN_SCHEMA},
                    schema=GOLDEN_SCHEMA)
    pq.write_table(gold, os.path.join(out, "golden.parquet"))
    _write_warc_sample(out, seed)


def _write_warc_sample(out: str, seed: int) -> None:
    from intelligent_document_processing_on_aws_spark.fixtures import warc_gen

    os.makedirs(os.path.join(out, "warc"))
    reader = []
    for k in window("warc", seed, WARC_FILES):
        name = f"cc-{k:07d}.warc.gz"
        with open(os.path.join(out, "warc", name), "wb") as fh:
            fh.write(warc_gen.gen_warc_file(k))
        reader.extend({"warc_file": name, **row} for row in warc_gen.golden_rows(k))
    pq.write_table(pa.Table.from_pylist(reader), os.path.join(out, "reader_golden.parquet"))


def _build_packets(out: str, seed: int) -> None:
    from intelligent_document_processing_on_aws_spark.fixtures.packets_gen import gen_packet
    from intelligent_document_processing_on_aws_spark.kernels.textnorm import flatten_nested_data

    pages, expected, sections = [], [], []
    for d in window("idp_packets", seed):
        pk = gen_packet(d)
        for i, text in enumerate(pk["pages"], start=1):
            pages.append({"doc_id": d, "page_num": i, "url": pk["url"], "text": text})
        for s in pk["sections"]:
            key = {"doc_id": d, "section_id": s["section_id"],
                   "classification": s["classification"]}
            sections.append({**key, "attributes_json": json.dumps(s["attributes"], sort_keys=True)})
            for path, v in flatten_nested_data(s["attributes"]).items():
                expected.append({**key, "attr_path": path,
                                 "value": None if v is None else str(v)})
    for name, rows in (("pages", pages), ("expected", expected),
                       ("golden_sections", sections)):
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(out, f"{name}.parquet"),
                       compression="zstd")


_BUILDERS = {
    "pages_extract": _build_pages,
    "idp_packets": _build_packets,
}
