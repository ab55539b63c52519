"""jobs/pipeline.py end to end, in-process on the committed packet fixtures.

Runs the job's ``main`` against the session fixture (its ``spark.stop``
patched out) inside a Spark job group, then checks the warehouse it
leaves: the ten tables, the summary counts, every golden section in
its class table with its golden values, every document's latest status,
and the number of Spark jobs the run took. It also checks the names that
perfbench's traced cycle wraps on the job modules, and runs
jobs/extract.py --snapshots under perfbench's own trace.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import sys

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from intelligent_document_processing_on_aws_spark.session import cds_archive

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "fixtures_data")

# perfbench/workloads.py and probes.py, read only: the stage functions its
# traced cycle wraps on jobs/pipeline.py, each workload's trace targets,
# and the span recorder that wraps them
sys.path.insert(0, os.path.join(REPO, "perfbench"))
try:
    from probes import Spans, patched
    from workloads import IDP_STAGES, IdpWorkload, PagesWorkload
finally:
    sys.path.remove(os.path.join(REPO, "perfbench"))
TRACED_FUNCTIONS = [fn for _, fn, _ in IDP_STAGES] + ["write_document_sections"]

CLASSES = ("bank_statement", "invoice", "tax_form", "webpage")
WAREHOUSE_TABLES = sorted(
    [f"document_sections_{c}" for c in CLASSES]
    + ["confidence_alerts", "document_status", "document_summaries_md",
       "evaluation_metrics_by_class", "evaluation_metrics_overall",
       "evaluation_reports"]
)
# every stage's output is computed once and the statuses are one append:
# 38 Spark jobs on these fixtures (77 when each stage re-ran its inputs)
MAX_SPARK_JOBS = 42


def _load_job():
    spec = importlib.util.spec_from_file_location(
        "pipeline_job", os.path.join(REPO, "jobs", "pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run(spark, warehouse: str, expected: bool) -> tuple[dict, int, list[str]]:
    """(the job's JSON summary, Spark jobs it ran, the traced functions
    in call order) for one in-process run. The traced functions are
    wrapped on the job module's globals, as perfbench's traced cycle
    wraps them."""
    job = _load_job()
    calls: list[str] = []

    def traced(name, fn):
        def call(*args, **kwargs):
            calls.append(name)
            return fn(*args, **kwargs)
        return call

    for name in TRACED_FUNCTIONS:
        setattr(job, name, traced(name, getattr(job, name)))
    argv = ["--pages", os.path.join(FIXTURES, "packet_pages.parquet"),
            "--warehouse", warehouse, "--master", "local[4]"]
    if expected:
        argv += ["--expected", os.path.join(FIXTURES, "flat_expected.parquet")]
    sc = spark.sparkContext
    group = f"pipeline-job-{os.path.basename(warehouse)}"
    saved_argv, out = sys.argv, io.StringIO()
    sys.argv = [job.__file__, *argv]
    spark.stop = lambda: None
    sc.setJobGroup(group, "jobs/pipeline.py end to end")
    try:
        with contextlib.redirect_stdout(out):
            assert job.main() == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        del spark.stop
        sys.argv = saved_argv
    summary = json.loads(out.getvalue().strip().splitlines()[-1])
    return summary, len(sc.statusTracker().getJobIdsForGroup(group)), calls


def _rows(warehouse: str, table: str) -> list[dict]:
    return ds.dataset(os.path.join(warehouse, table), partitioning="hive") \
        .to_table().to_pylist()


@pytest.fixture(scope="module")
def evaluated(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("pipeline") / "wh_eval")
    return (wh, *_run(spark, wh, expected=True))


def test_pipeline_writes_every_table_and_summary(spark, evaluated):
    wh, summary = evaluated[:2]
    assert summary["warehouse_tables"] == WAREHOUSE_TABLES
    assert sorted(os.listdir(wh)) == WAREHOUSE_TABLES
    assert summary["counts"] == {
        "sections": 774, "attributed_sections": 774, "alerts": 36,
        "summaries": 400, "eval_reports": 400, "eval_f1": 1.0,
        "eval_accuracy": 1.0, "failed_docs": 0,
    }
    assert summary["status"] == {"COMPLETED": 400}
    assert summary["jvm_jit_s"] >= 0
    # the session fixture's JVM is running already: get_spark only returns it
    assert 0 <= summary["session_start_s"] < 5
    assert summary["cds_archive"] == cds_archive(spark)
    # the counts the job observed are the rows it committed
    assert len(_rows(wh, "confidence_alerts")) == 36
    assert len(_rows(wh, "document_summaries_md")) == 400
    assert len(_rows(wh, "evaluation_reports")) == 400
    overall = _rows(wh, "evaluation_metrics_overall")
    assert len(overall) == 1
    assert overall[0]["f1_score"] == 1.0 and overall[0]["accuracy"] == 1.0
    assert {r["classification"] for r in _rows(wh, "evaluation_metrics_by_class")} \
        == set(CLASSES)
    # both metric tables are date-partitioned, with the one report date
    for table in ("evaluation_metrics_by_class", "evaluation_metrics_overall"):
        parts = [d for d in os.listdir(os.path.join(wh, table)) if "=" in d]
        assert parts == ["date=2025-01-01"], (table, parts)


def test_pipeline_sections_match_golden(evaluated):
    wh = evaluated[0]
    sections = pq.read_table(os.path.join(FIXTURES, "golden_sections.parquet")).to_pylist()
    attrs = {(g["doc_id"], g["section_id"]): json.loads(g["attributes_json"])
             for g in pq.read_table(
                 os.path.join(FIXTURES, "golden_attributes.parquet")).to_pylist()}
    got = {}
    for cls in CLASSES:
        for row in _rows(wh, f"document_sections_{cls}"):
            key = (row["doc_id"], row["section_id"])
            assert key not in got, f"section {key} written twice"
            got[key] = (cls, row)
    assert set(got) == {(g["doc_id"], g["section_id"]) for g in sections}
    for g in sections:
        cls, row = got[(g["doc_id"], g["section_id"])]
        assert cls == g["classification"]
        for name, value in attrs[(g["doc_id"], g["section_id"])].items():
            assert row[name.replace(" ", "_").lower()] == value, (g["doc_id"], name)


def test_pipeline_statuses(evaluated):
    wh = evaluated[0]
    rows = _rows(wh, "document_status")
    docs = set(pq.read_table(os.path.join(FIXTURES, "packet_pages.parquet"),
                             columns=["doc_id"]).column("doc_id").to_pylist())
    latest = {}
    for r in sorted(rows, key=lambda r: r["seq"]):
        latest[r["doc_id"]] = r["status"]
    assert latest == dict.fromkeys(docs, "COMPLETED")
    # one row per document and stage reached, nothing twice
    stages = ("QUEUED", "CLASSIFYING", "EXTRACTING", "ASSESSING",
              "SUMMARIZING", "EVALUATING", "COMPLETED")
    keys = [(r["doc_id"], r["status"]) for r in rows]
    assert len(keys) == len(set(keys)) == len(docs) * len(stages)
    assert {s for _, s in keys} == set(stages)


def test_pipeline_spark_job_budget(evaluated):
    assert 0 < evaluated[2] <= MAX_SPARK_JOBS


def test_pipeline_calls_the_traced_stages_in_order(evaluated):
    """perfbench's traced cycle times each IDP stage from the first call
    of its function through the job module's globals, and reads its rows
    out from the summary counts. A job that renames, fuses away or stops
    calling one of them through those globals breaks the traced run."""
    _, summary, _, calls = evaluated
    stages = [fn for _, fn, _ in IDP_STAGES]
    assert [c for c in dict.fromkeys(calls) if c in stages] == stages
    assert "write_document_sections" in calls
    assert {count for _, _, count in IDP_STAGES} <= set(summary["counts"])


@pytest.mark.parametrize("workload", [PagesWorkload, IdpWorkload])
def test_perfbench_trace_targets_resolve(workload):
    """Every (module, attribute) that perfbench's traced cycle wraps
    exists and is callable."""
    for module, attr, _ in workload(REPO, FIXTURES, 1).trace_targets():
        assert callable(getattr(module, attr, None)), (module.__name__, attr)


def test_pages_extract_traced_contract(spark, tmp_path):
    """perfbench's traced pages_extract cycle on t1_pages: the job runs
    under the workload's own wrappers, calls each traced function, and
    the traced metrics, which read each commit's table_dir from its
    second positional argument, come out; the committed lineage adds up
    to the committed output."""
    from pyspark.sql import functions as F

    from intelligent_document_processing_on_aws_spark.sources.snapshots import (
        read_table,
        total_records,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    os.symlink(os.path.join(FIXTURES, "t1_pages.parquet"), corpus / "input")
    os.symlink(os.path.join(FIXTURES, "t1_golden.parquet"), corpus / "golden.parquet")
    workload = PagesWorkload(REPO, str(corpus), 4)
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    sc.setJobGroup("pages-traced", "jobs/extract.py --snapshots, traced")
    try:
        with patched(Spans(), workload.trace_targets()) as spans:
            summary = workload.run(spark, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert summary["rows"] == summary["processed"] == 200
    assert spans.count("lineage.run") == spans.count("extraction.call") == 1
    commits = [c for c in spans.calls if c[0] == "snapshots.commit"]
    assert sorted(c[3][1] for c in commits) == [
        os.path.join(out, "lineage"), os.path.join(out, "table")]
    metrics = workload.traced_metrics(spark, spans, None, out, summary, None)
    assert metrics["operators.extraction.rows_out"] == 200
    # into an empty table nothing is counted before the extraction starts
    assert metrics["plans.lineage.resume_check_s"] < 0.05
    # schema inference of the input, the salt's shuffle map, the write
    assert len(sc.statusTracker().getJobIdsForGroup("pages-traced")) <= 3
    lineage = read_table(spark, os.path.join(out, "lineage"))
    assert lineage.agg(F.sum("n_rows")).first()[0] == total_records(os.path.join(out, "table"))
    assert workload.check(spark, out) == (200, 0)


def test_pipeline_without_expected(spark, tmp_path):
    wh = str(tmp_path / "wh_plain")
    summary = _run(spark, wh, expected=False)[0]
    tables = [t for t in WAREHOUSE_TABLES if not t.startswith("evaluation_")]
    assert summary["warehouse_tables"] == tables
    assert summary["counts"] == {
        "sections": 774, "attributed_sections": 774, "alerts": 36,
        "summaries": 400, "failed_docs": 0,
    }
    assert summary["status"] == {"COMPLETED": 400}
    assert "EVALUATING" not in {r["status"] for r in _rows(wh, "document_status")}
