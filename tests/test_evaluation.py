"""Evaluation engine: branch tests + full differential vs the pure kernel.

The differential test runs the Spark native-SQL comparison over all fixture
(expected, actual) flattened pairs and checks every per-row count against
the pure-Python count_classifications kernel — two independent
implementations of the reference semantics (evaluation/service.py:323-404).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.config import eval_config_rows
from intelligent_document_processing_on_aws_spark.kernels.compare import (
    calculate_metrics,
    compare_fuzzy,
    count_classifications,
)
from intelligent_document_processing_on_aws_spark.kernels.textnorm import (
    normalize_attr_pattern,
)
from intelligent_document_processing_on_aws_spark.operators.evaluation import (
    evaluate_attributes,
    metrics_rollup,
)


def _eval_config_df(spark):
    return spark.createDataFrame(eval_config_rows())


def _flat(spark, fixtures_dir, name):
    return spark.read.parquet(os.path.join(fixtures_dir, f"{name}.parquet"))


def test_counting_branches_pure():
    # reference unit-test branches (test_evaluation_service.py analog)
    assert count_classifications("", "", "EXACT")[:6] == (1, 0, 0, 0, 0, 0)      # tn
    assert count_classifications(None, "x", "EXACT")[:6] == (0, 1, 0, 0, 1, 0)   # fp1
    assert count_classifications("x", None, "EXACT")[:6] == (0, 0, 1, 0, 0, 0)   # fn
    assert count_classifications("x", "x", "EXACT")[:6] == (0, 0, 0, 1, 0, 0)    # tp
    assert count_classifications("x", "y", "EXACT")[:6] == (0, 1, 0, 0, 0, 1)    # fp2
    # punctuation/whitespace-insensitive exact
    assert count_classifications("A, B!", "a  b", "EXACT")[3] == 1
    # numeric: format-insensitive
    assert count_classifications("$1,234.50", "1234.5", "NUMERIC_EXACT")[3] == 1
    # numeric fallback to exact on unparseable
    assert count_classifications("n/a", "na", "NUMERIC_EXACT")[3] == 1
    # fuzzy threshold
    m, s = compare_fuzzy("january statement", "januray statement", 0.8)
    assert m and 0.8 <= s < 1.0


def test_metrics_formulas():
    m = calculate_metrics(tp=8, fp=4, fn=2, tn=5, fp1=1, fp2=3)
    assert m["precision"] == pytest.approx(8 / 12)
    assert m["recall"] == pytest.approx(8 / 10)
    assert m["f1_score"] == pytest.approx(2 * (8/12) * (8/10) / ((8/12) + (8/10)))
    assert m["accuracy"] == pytest.approx(13 / 19)
    assert m["false_alarm_rate"] == pytest.approx(1 / 6)
    assert m["false_discovery_rate"] == pytest.approx(3 / 11)
    z = calculate_metrics(0, 0, 0)
    assert z["precision"] == 0.0 and z["f1_score"] == 0.0


def test_spark_vs_kernel_differential(spark, fixtures_dir):
    """Every aligned pair: Spark native counts == pure-kernel counts."""
    expected = _flat(spark, fixtures_dir, "flat_expected")
    actual = _flat(spark, fixtures_dir, "flat_actual")
    counted = evaluate_attributes(expected, actual, _eval_config_df(spark))
    rows = counted.collect()
    assert len(rows) > 3000

    cfg = {(r["classification"], r["norm_path"]): (r["method"], r["threshold"])
           for r in eval_config_rows()}
    mismatches = []
    for r in rows:
        method, thr = cfg.get(
            (r.classification, normalize_attr_pattern(r.attr_path)), ("EXACT", 0.8)
        )
        k = count_classifications(r.expected, r.actual, method, thr)
        got = (r.tn, r.fp, r.fn, r.tp, r.fp1, r.fp2)
        if got != k[:6]:
            mismatches.append((r.doc_id, r.attr_path, r.expected, r.actual, got, k[:6]))
    assert not mismatches, mismatches[:5]


def test_metrics_rollup_consistency(spark, fixtures_dir):
    expected = _flat(spark, fixtures_dir, "flat_expected")
    actual = _flat(spark, fixtures_dir, "flat_actual")
    counted = evaluate_attributes(expected, actual, _eval_config_df(spark))
    overall = metrics_rollup(counted).collect()[0]
    # recompute from raw sums with the pure formulas
    sums = counted.agg(
        F.sum("tp"), F.sum("fp"), F.sum("fn"), F.sum("tn"), F.sum("fp1"), F.sum("fp2")
    ).collect()[0]
    m = calculate_metrics(*sums)
    assert overall.precision == pytest.approx(m["precision"])
    assert overall.recall == pytest.approx(m["recall"])
    assert overall.f1_score == pytest.approx(m["f1_score"])
    assert overall.accuracy == pytest.approx(m["accuracy"])
    assert overall.false_alarm_rate == pytest.approx(m["false_alarm_rate"])
    assert overall.false_discovery_rate == pytest.approx(m["false_discovery_rate"])
    # perturbation design sanity: every branch exercised
    assert all(x > 0 for x in sums)


def test_flatten_confidence_scores_kernel():
    """Exact mirror of evaluation/service.py:232-274: dicts with a
    'confidence' key are leaves, other dicts recurse, lists recurse with
    [i] segments, scalars and scalar lists are ignored."""
    from intelligent_document_processing_on_aws_spark.kernels.textnorm import (
        flatten_confidence_scores,
        load_extraction_payload,
    )

    tree = {
        "Account Number": {"confidence": 0.91, "confidence_threshold": 0.8},
        "Address": {
            "City": {"confidence": 0.7},  # threshold absent -> None
            "ZIP": {"confidence": 0.99, "confidence_threshold": 0.9},
        },
        "Transactions": [
            {"Amount": {"confidence": 0.6, "confidence_threshold": 0.8}},
            {"Amount": {"confidence": 0.8, "confidence_threshold": 0.8}},
        ],
        "ignored_scalar": 5,
        "ignored_list": [1, 2],
    }
    flat = flatten_confidence_scores(tree)
    assert flat["Account Number"] == {"confidence": 0.91, "confidence_threshold": 0.8}
    assert flat["Address.City"] == {"confidence": 0.7, "confidence_threshold": None}
    assert flat["Transactions[0].Amount"]["confidence"] == 0.6
    assert flat["Transactions[1].Amount"]["confidence"] == 0.8
    assert "ignored_scalar" not in flat and "ignored_list" not in flat

    results, confs = load_extraction_payload(
        {"inference_result": {"a": 1}, "explainability_info": [tree]}
    )
    assert results == {"a": 1} and confs == flat
    # unwrapped payload: whole dict is the result, no confidences
    results, confs = load_extraction_payload({"a": 1})
    assert results == {"a": 1} and confs == {}
    assert load_extraction_payload("not a dict") == ({}, {})


def test_flatten_confidence_payloads_matches_golden(spark, fixtures_dir):
    import os

    from intelligent_document_processing_on_aws_spark.operators.evaluation import (
        flatten_confidence_payloads,
    )

    payloads = spark.read.parquet(os.path.join(fixtures_dir, "extraction_payloads.parquet"))
    golden = spark.read.parquet(os.path.join(fixtures_dir, "golden_flat_confidence.parquet"))
    got = {(r.doc_id, r.section_id, r.attr_path): (r.confidence, r.confidence_threshold)
           for r in flatten_confidence_payloads(payloads).collect()}
    want = {(r.doc_id, r.section_id, r.attr_path): (r.confidence, r.confidence_threshold)
            for r in golden.collect()}
    assert got == want
