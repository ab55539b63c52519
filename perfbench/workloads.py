"""The benchmark's workloads: the timed job, the modules its Python
workers import, the golden check of every job's output, and the traced
instrumentation.

Each timed job is the repository's own job script (``jobs/*.py``) run
in-process against the benchmark's already-started session, so a change
to a script's stage sequence shows up as well as a change to the library
it calls. The scripts stop the session they obtained; the benchmark stops
it itself after its checks and probes, so ``stop`` is a no-op while a
script runs.

Why these two (each layer does most of its work in one and little in
the other):
- pages_extract: many small HTML/span-PDF rows, 30 % on one host; the
  HTML kernels, the Arrow batch loop, the host-skew salt and the snapshot
  commit dominate. This is the north-star extraction job.
- idp_packets: the classify -> section -> attributes -> assess ->
  summarize -> evaluate -> reporting-tables chain, bound by per-job
  overhead; wins in job count, stage fusion or write count show here.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import sys
import time
from urllib.parse import urlparse

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from probes import per_item_us

# jobs/extract.py salts by url hash into this many partitions unless told
# otherwise; the operator probe uses the same value as the timed job.
EXTRACT_SALT = 32


def _load_job(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_job_{name}", os.path.join(root, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree_size(paths: list[str]) -> tuple[int, int]:
    """(files, bytes) under ``paths``."""
    files = size = 0
    for path in paths:
        for dirpath, _, names in os.walk(path):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _compare_pages(got, gold) -> int:
    """Rows missing from, extra to, or differing from ``gold`` on the
    extraction golden columns; both are pandas frames keyed by url."""
    extra = len(got) - got["url"].nunique()
    m = gold.merge(got.drop_duplicates("url"), on="url", how="outer",
                   suffixes=("_g", ""), indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra += int((m["_merge"] == "right_only").sum())
    both = m[m["_merge"] == "both"]
    bad = ((both["extracted_text"] != both["extracted_text_g"])
           | (both["spans_json"] != both["spans_json_g"])
           | (both["content_type"] != both["content_type_g"])
           | ((both["confidence"] - both["confidence_g"]).abs() >= 1e-9))
    return missing + extra + int(bad.sum())


def _read_dir(path: str, columns=None):
    """A plain (optionally hive-partitioned) parquet table written by Spark."""
    return ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=columns).to_pandas()


def warc_probe(spark, corpus: str) -> tuple[dict, tuple[int, int]]:
    """read_warc alone over the corpus's WARC sample, and its rows against
    warc_gen.golden_rows: (metrics, (attempted, failed)). No workload
    ingests WARC, so this is the record reader's only measurement."""
    from pyspark.sql import functions as F

    from intelligent_document_processing_on_aws_spark.sources.warc import read_warc

    gold = pq.read_table(os.path.join(corpus, "reader_golden.parquet")).to_pylist()
    cols = list(gold[0])
    t0 = time.perf_counter()
    rows = read_warc(spark, os.path.join(corpus, "warc")).select(
        F.element_at(F.split("warc_file", "/"), -1).alias("warc_file"),
        "record_id", "url", "warc_date", "status", "content_type", "charset",
        F.sha1(F.encode("text", "utf-8")).alias("text_sha1"),
        F.length("text").alias("n_chars"), "error",
    ).collect()
    metrics = {"sources.warc.read_s": time.perf_counter() - t0,
               "sources.warc.records": len(rows),
               "sources.warc.error_records": sum(r["error"] is not None for r in rows)}
    want = sorted((tuple(r[c] for c in cols) for r in gold), key=repr)
    have = sorted((tuple(r[c] for c in cols) for r in rows), key=repr)
    failed = sum(a != b for a, b in zip(want, have)) + abs(len(want) - len(have))
    return metrics, (len(gold), failed)


class Workload:
    """One workload over one corpus. Each job writes to an empty ``out``."""

    job = ""
    # program modules the job loads; set-up imports them in the driver and
    # in every Python worker
    modules: tuple[str, ...] = ()

    def __init__(self, root: str, corpus: str, cores: int):
        self.root = root
        self.corpus = corpus
        self.cores = cores
        self.master = f"local[{cores}]"
        self.module = _load_job(root, self.job)

    def argv(self, out: str) -> list[str]:
        raise NotImplementedError

    def docs(self, summary: dict) -> int:
        """Documents in the committed output, from the job's summary."""
        raise NotImplementedError

    def check(self, spark, out: str) -> tuple[int, int]:
        """(attempted, failed) documents of one job's committed output."""
        raise NotImplementedError

    def run(self, spark, out: str) -> dict:
        """Run the job script's ``main`` once; returns its JSON summary."""
        saved = sys.argv
        sys.argv = [self.module.__file__, *self.argv(out)]
        buf = io.StringIO()
        spark.stop = lambda: None
        try:
            with contextlib.redirect_stdout(buf):
                rc = self.module.main()
        finally:
            del spark.stop
            sys.argv = saved
        if rc:
            raise RuntimeError(f"jobs/{self.job}.py exited with {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def trace_targets(self) -> list[tuple[object, str, str]]:
        """(module, attribute, span name) wrapped during the traced job."""
        return []

    def traced_metrics(self, spark, spans, jobs, out, summary, wall) -> dict:
        return {}

    def probes(self, spark, counters) -> tuple[dict, tuple[int, int]]:
        """Per-layer measurements after the traced job, and the (attempted,
        failed) of any golden check they make."""
        return {}, (0, 0)


class PagesWorkload(Workload):
    """jobs/extract.py --snapshots: run_with_resume_snapshots into an
    empty table, then a read-back count of the committed snapshot."""

    job = "extract"
    modules = (
        "intelligent_document_processing_on_aws_spark.operators.extraction",
        "intelligent_document_processing_on_aws_spark.plans.lineage",
        "intelligent_document_processing_on_aws_spark.sources.warc",
    )

    def argv(self, out):
        return ["--input", os.path.join(self.corpus, "input"), "--output", out,
                "--snapshots", "--master", self.master]

    def docs(self, summary):
        return summary["rows"]

    @staticmethod
    def _table(spark, path, columns):
        """The committed snapshot's rows, through the program's reader for
        the file list and pyarrow for the bytes (no Spark job)."""
        from intelligent_document_processing_on_aws_spark.sources.snapshots import read_table

        tbl = read_table(spark, path)
        if tbl is None:
            return None
        files = [urlparse(f).path for f in tbl.inputFiles()]
        return pq.read_table(files, columns=columns).to_pandas()

    def check(self, spark, out):
        gold = pq.read_table(os.path.join(self.corpus, "golden.parquet")).to_pandas()
        got = self._table(spark, os.path.join(out, "table"), list(gold.columns))
        if got is None:
            return len(gold), len(gold)
        lineage = self._table(spark, os.path.join(out, "lineage"), ["n_rows"])
        lineage_rows = 0 if lineage is None else int(lineage["n_rows"].sum())
        return len(gold), _compare_pages(got, gold) + abs(lineage_rows - len(got))

    def trace_targets(self):
        from intelligent_document_processing_on_aws_spark.plans import lineage
        from intelligent_document_processing_on_aws_spark.sources import snapshots

        return [(lineage, "run_with_resume_snapshots", "lineage.run"),
                (lineage, "extract_pages", "extraction.call"),
                (snapshots, "commit_snapshot", "snapshots.commit")]

    def traced_metrics(self, spark, spans, jobs, out, summary, wall):
        # the lineage commit runs partition_counters over the cached result
        counters = [c for c in spans.calls if c[0] == "snapshots.commit"
                    and os.path.basename(c[3][1]) == "lineage"]
        files, size = _tree_size([os.path.join(out, "table"), os.path.join(out, "lineage")])
        errors = self._table(spark, os.path.join(out, "table"), ["error"])["error"]
        return {
            # read_table + input count + anti-join count, up to extraction
            "plans.lineage.resume_check_s":
                spans.first_start("extraction.call") - spans.first_start("lineage.run"),
            "plans.lineage.counters_s": sum(t1 - t0 for _, t0, t1, _ in counters),
            "sources.snapshots.files_written": files,
            "sources.snapshots.bytes_written": size,
            "operators.extraction.rows_out": len(errors),
            "operators.extraction.error_rows": int(errors.notna().sum()),
        }

    def probes(self, spark, counters):
        from intelligent_document_processing_on_aws_spark.kernels.extract import extract_page_safe
        from intelligent_document_processing_on_aws_spark.operators.extraction import extract_pages
        from intelligent_document_processing_on_aws_spark.sources.snapshots import commit_snapshot

        # single-thread kernel cost over the first input rows, no Spark
        sample = pq.read_table(os.path.join(self.corpus, "input"),
                               columns=["html", "url"]).slice(0, 300)
        kernel_us = per_item_us(
            list(zip(sample.column("html").to_pylist(), sample.column("url").to_pylist())),
            lambda d: extract_page_safe(*d))

        pages = spark.read.parquet(os.path.join(self.corpus, "input")).persist()
        result = extract_pages(pages, salt_partitions=EXTRACT_SALT).persist()
        probe_dir = os.path.join(self.root, ".perfbench", "probe", str(os.getpid()))
        try:
            # the operator alone: cached input, noop sink
            n = pages.count()
            mark = counters.mark()
            t0 = time.perf_counter()
            extract_pages(pages, salt_partitions=EXTRACT_SALT) \
                .write.format("noop").mode("overwrite").save()
            secs = time.perf_counter() - t0
            _, _, stages = counters.since(mark)
            # the stage running the Python kernel has the most task time
            busiest = max(stages, key=lambda st: st.executorRunTime())
            tasks = counters.task_durations_s(busiest)
            # the commit alone: the extraction result is already cached
            result.count()
            t0 = time.perf_counter()
            commit_snapshot(result, probe_dir, "append")
            commit_s = time.perf_counter() - t0
        finally:
            result.unpersist()
            pages.unpersist()
            shutil.rmtree(probe_dir, ignore_errors=True)
        warc, checked = warc_probe(spark, self.corpus)
        return {
            "operators.extraction.s": secs,
            "operators.extraction.task_skew": max(tasks) / statistics.median(tasks),
            "operators.extraction.core_efficiency": n * kernel_us / 1e6 / (secs * self.cores),
            "sources.snapshots.commit_s": commit_s,
            **warc,
        }, checked


# IDP stage -> (function the stage starts with in jobs/pipeline.py, the
# summary count that is its rows out). A stage runs until the next one
# starts; "reporting" starts with the COMPLETED status append.
IDP_STAGES = (
    ("classify", "classify_and_section", "sections"),
    ("attributes", "extract_section_attributes", "attributed_sections"),
    ("assessment", "flatten_attributes", "alerts"),
    ("summarize", "summarize_sections", "summaries"),
    ("evaluation", "evaluate_attributes", "eval_reports"),
)


class IdpWorkload(Workload):
    """jobs/pipeline.py with evaluation enabled: warehouse tables, status
    appends and the evaluation reports, for one batch of packets."""

    job = "pipeline"
    modules = tuple(
        f"intelligent_document_processing_on_aws_spark.{m}"
        for m in ("operators.classify", "operators.attributes", "operators.assessment",
                  "operators.summarize", "operators.evaluation", "plans.status"))

    def argv(self, out):
        return ["--pages", os.path.join(self.corpus, "pages.parquet"),
                "--warehouse", out,
                "--expected", os.path.join(self.corpus, "expected.parquet"),
                "--master", self.master]

    def docs(self, summary):
        return summary["status"].get("COMPLETED", 0)

    def check(self, spark, out):
        gold = pq.read_table(os.path.join(self.corpus, "golden_sections.parquet")).to_pylist()
        docs = {g["doc_id"] for g in gold}
        got = {}
        for table in os.listdir(out):
            if table.startswith("document_sections_"):
                cls = table[len("document_sections_"):]
                for row in ds.dataset(os.path.join(out, table)).to_table().to_pylist():
                    key = (row["doc_id"], row["section_id"])
                    got[key] = None if key in got else (cls, row)  # dup -> bad
        bad = {d for d, _ in got if d not in docs}
        for g in gold:
            cls_row = got.pop((g["doc_id"], g["section_id"]), None)
            want = json.loads(g["attributes_json"])
            if cls_row is None or cls_row[0] != g["classification"] or any(
                    cls_row[1].get(k.replace(" ", "_").lower()) != v
                    for k, v in want.items()):
                bad.add(g["doc_id"])
        bad |= {d for d, _ in got}                     # sections not in golden
        status = _read_dir(os.path.join(out, "document_status"))
        latest = status.sort_values("seq").groupby("doc_id")["status"].last()
        bad |= {d for d in docs if latest.get(d) != "COMPLETED"}
        bad |= set(latest.index) - docs
        overall = _read_dir(os.path.join(out, "evaluation_metrics_overall")).iloc[0]
        # the golden attributes are extracted exactly, so every expected
        # path counts as tp or tn: f1 and accuracy are 1 by construction
        if abs(overall["f1_score"] - 1) > 1e-12 or abs(overall["accuracy"] - 1) > 1e-12:
            bad |= docs
        return len(docs), len(bad)

    def trace_targets(self):
        from intelligent_document_processing_on_aws_spark.plans import status

        return [(self.module, fn, stage) for stage, fn, _ in IDP_STAGES] + [
            (self.module, "write_document_sections", "catalog.write"),
            (status, "append_status", "status.append"),
        ]

    def traced_metrics(self, spark, spans, jobs, out, summary, wall):
        t_end = wall[1]
        completed = [t0 for n, t0, _, a in spans.calls
                     if n == "status.append" and a[1] == "COMPLETED"]
        starts = [spans.first_start(stage) for stage, _, _ in IDP_STAGES]
        bounds = starts + [min(completed, default=t_end)]
        submitted = [j.submissionTime().get().getTime() / 1e3 for j in jobs
                     if j.submissionTime().isDefined()]
        out = {}
        for k, (stage, _, count) in enumerate(IDP_STAGES):
            lo, hi = bounds[k], bounds[k + 1]
            out[f"operators.{stage}.s"] = hi - lo
            out[f"operators.{stage}.rows_out"] = summary["counts"][count]
            out[f"operators.{stage}.jobs"] = sum(1 for t in submitted if lo <= t < hi)
        out["operators.idp_stages.share_of_wall"] = (bounds[-1] - bounds[0]) / (t_end - wall[0])
        out["sources.catalog.write_s"] = spans.total("catalog.write")
        out["plans.status.append_s"] = spans.total("status.append")
        out["plans.status.calls"] = spans.count("status.append")
        return out


def make(name: str, root: str, corpus: str, cores: int) -> Workload:
    if name == "pages_extract":
        return PagesWorkload(root, corpus, cores)
    return IdpWorkload(root, corpus, cores)


def kernel_metrics(seed: int) -> dict:
    """Single-thread kernel cost, no Spark, over fixed-size samples from
    the seed's windows: the baseline the Spark operators are held to."""
    from corpora import window
    from intelligent_document_processing_on_aws_spark.fixtures.pages_gen import gen_page
    from intelligent_document_processing_on_aws_spark.fixtures.realpdf_gen import gen_real_pdf
    from intelligent_document_processing_on_aws_spark.fixtures.warc_gen import gen_warc_file
    from intelligent_document_processing_on_aws_spark.kernels import warc
    from intelligent_document_processing_on_aws_spark.kernels.extract import (
        extract_page,
        extract_page_safe,
    )

    pages = [gen_page(i) for i in window("pages_extract", seed, 360)]
    html = [(p["html"], p["url"]) for p in pages if p["content_type"] == "html"]
    spans = [(p["html"], p["url"]) for p in pages if p["content_type"] == "pdf"]
    pdfs = [(r["html"], r["url"]) for r in map(gen_real_pdf, window("realpdf", seed, 60))]
    files = [gen_warc_file(k) for k in window("warc", seed, 4)]
    n_records = sum(1 for f in files for _ in warc.iter_warc_records_lenient(f))

    def read_file(data: bytes) -> None:
        for headers, body, err in warc.iter_warc_records_lenient(data):
            if err is None and headers.get("warc-type") == "response":
                _, hh, payload = warc.parse_http_response(body)
                warc.decode_charset(payload, hh.get("content-type"))

    return {
        "kernels.extract_page.us_per_doc.html": per_item_us(html, lambda d: extract_page(*d)),
        "kernels.extract_page.us_per_doc.pdf_span": per_item_us(spans, lambda d: extract_page(*d)),
        # CID documents raise by contract; the safe wrapper records them
        "kernels.extract_page.us_per_doc.pdf": per_item_us(pdfs, lambda d: extract_page_safe(*d)),
        "kernels.warc.us_per_record": per_item_us(files, read_file) * len(files) / n_records,
    }
