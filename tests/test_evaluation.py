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
    compare_hungarian,
    count_classifications,
    hungarian_min_cost,
)
from intelligent_document_processing_on_aws_spark.kernels.textnorm import (
    normalize_attr_pattern,
)
from intelligent_document_processing_on_aws_spark.operators.evaluation import (
    evaluate_attributes,
    evaluate_lists_hungarian,
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


def test_hungarian_solver_optimal():
    # known optimal assignment
    cost = [[4, 1, 3], [2, 0, 5], [3, 2, 2]]
    pairs = hungarian_min_cost(cost)
    total = sum(cost[i][j] for i, j in pairs)
    assert total == 5  # (0,1)+(1,0)+(2,2) = 1+2+2
    # brute-force check on random-ish matrices
    import itertools
    for seed in range(5):
        import random
        rng = random.Random(seed)
        n = 4
        c = [[rng.randrange(10) for _ in range(n)] for _ in range(n)]
        best = min(
            sum(c[i][p[i]] for i in range(n))
            for p in itertools.permutations(range(n))
        )
        got = sum(c[i][j] for i, j in hungarian_min_cost(c))
        assert got == best


def test_cosine_similarity_reference_semantics():
    from intelligent_document_processing_on_aws_spark.kernels.compare import (
        cosine_similarity,
    )

    assert cosine_similarity([1.0, 0.0], [1.0, 0.0]) == 1.0
    assert cosine_similarity([1.0, 0.0], [0.0, 1.0]) == 0.0
    assert cosine_similarity([], [1.0]) == 0.0
    assert cosine_similarity(None, [1.0]) == 0.0
    assert cosine_similarity([0.0, 0.0], [1.0, 1.0]) == 0.0  # zero magnitude
    # mismatched lengths trim to the shorter BEFORE magnitudes
    assert cosine_similarity([1.0, 0.0, 9.0], [1.0, 0.0]) == 1.0


def test_compare_semantic_fallback_and_empty_rules():
    from intelligent_document_processing_on_aws_spark.kernels.compare import (
        compare_fuzzy,
        compare_semantic,
    )

    assert compare_semantic(None, None, None, None) == (True, 1.0)
    assert compare_semantic(" ", "", [1.0], [1.0]) == (True, 1.0)
    assert compare_semantic("a", None, [1.0], None) == (False, 0.0)
    # missing/empty vector -> FUZZY fallback (comparator.py:458-462)
    assert compare_semantic("color", "colour", None, [1.0]) == \
        compare_fuzzy("color", "colour")
    assert compare_semantic("color", "colour", [], [1.0]) == \
        compare_fuzzy("color", "colour")
    # vectors present -> cosine governs
    ok, score = compare_semantic("x", "y", [1.0, 0.0], [0.5, 0.0], 0.8)
    assert ok and score == 1.0


def test_semantic_spark_matches_kernel_golden(spark, fixtures_dir):
    """Native zip_with/aggregate cosine == pure-kernel golden, bitwise
    (1/64-quantized components make the sums exact), and the plan has no
    row-at-a-time Python."""
    from intelligent_document_processing_on_aws_spark.entry_queries import (
        q_eval_semantic,
    )

    df = q_eval_semantic(spark, "")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    got = {(r.doc_id, r.section_id, r.attr_path):
           (r.score, r.tn, r.fp, r.fn, r.tp, r.fp1, r.fp2)
           for r in df.collect()}
    import pyarrow.parquet as pq_

    gold = pq_.read_table(
        f"{fixtures_dir}/golden_semantic.parquet"
    ).to_pylist()
    assert len(got) == len(gold) > 500
    for r in gold:
        assert got[(r["doc_id"], r["section_id"], r["attr_path"])] == (
            r["score"], r["tn"], r["fp"], r["fn"], r["tp"], r["fp1"], r["fp2"]
        ), r


def test_hungarian_kernel_matches_brute_force_golden():
    """Every fixture section's (tp, fp, avg) from the O(n^3) kernel equals
    the fixture builder's exhaustive-enumeration derivation — including
    the avg float bit pattern (same multiset, same summation order)."""
    from intelligent_document_processing_on_aws_spark.fixtures.packets_gen import (
        _brute_force_hungarian,
        _hungarian_side,
        gen_packet,
        perturb_attributes,
    )

    checked = 0
    for d in range(60):
        pk = gen_packet(d)
        for s in pk["sections"]:
            actual = perturb_attributes(d, s["section_id"], s["attributes"])
            evs = _hungarian_side(s["attributes"])
            avs = _hungarian_side(actual)
            if not evs and not avs:
                continue
            assert compare_hungarian(evs, avs, "FUZZY", 0.8) == \
                _brute_force_hungarian(evs, avs)
            checked += 1
    assert checked >= 20


def test_hungarian_compare_semantics():
    tp, fp, avg = compare_hungarian(["a", "b", "c"], ["c", "a", "b"], "EXACT", 0.8)
    assert (tp, fp) == (3, 0) and avg == 1.0
    tp, fp, avg = compare_hungarian(["a", "b"], ["a", "z"], "EXACT", 0.8)
    assert (tp, fp) == (1, 1)
    assert compare_hungarian([], [], "EXACT")[2] == 1.0
    assert compare_hungarian([], ["x"], "EXACT")[:2] == (0, 1)
    assert compare_hungarian(["x"], [], "EXACT")[:2] == (0, 0)


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


def test_hungarian_spark_vs_kernel(spark, fixtures_dir):
    expected = _flat(spark, fixtures_dir, "flat_expected")
    actual = _flat(spark, fixtures_dir, "flat_actual")
    result = evaluate_lists_hungarian(
        expected, actual, "Transactions", "Description", "FUZZY", 0.8
    )
    rows = {(r.doc_id, r.section_id): r for r in result.collect()}
    assert rows
    # recompute a sample purely
    epd = expected.where(F.col("attr_path").rlike(r"^Transactions\[\d+\]\.Description$")) \
        .toPandas()
    apd = actual.where(F.col("attr_path").rlike(r"^Transactions\[\d+\]\.Description$")) \
        .toPandas()
    keys = list(rows)[:40]
    for doc_id, sec in keys:
        evs = sorted(
            epd[(epd.doc_id == doc_id) & (epd.section_id == sec)]
            .itertuples(), key=lambda t: t.attr_path)
        avs = sorted(
            apd[(apd.doc_id == doc_id) & (apd.section_id == sec)]
            .itertuples(), key=lambda t: t.attr_path)
        tp, fp, avg = compare_hungarian(
            [t.value for t in evs], [t.value for t in avs], "FUZZY", 0.8
        )
        r = rows[(doc_id, sec)]
        assert (r.tp, r.fp) == (tp, fp), (doc_id, sec)
        assert r.avg_score == pytest.approx(avg)


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


def test_duplicate_embedding_rows_do_not_fanout(spark, fixtures_dir):
    """The (text -> vector) lookup is deduplicated before joining on the
    value columns: a duplicated text row must not multiply aligned rows
    or double-count tp/fp/fn (ADVICE r3)."""
    from pyspark.sql import functions as F

    expected = _flat(spark, fixtures_dir, "flat_expected")
    actual = _flat(spark, fixtures_dir, "flat_actual")
    emb = spark.read.parquet(f"{fixtures_dir}/value_embeddings.parquet")
    doubled = emb.unionAll(emb.limit(50))
    base = evaluate_attributes(expected, actual, _eval_config_df(spark), emb)
    dup = evaluate_attributes(expected, actual, _eval_config_df(spark), doubled)
    key = ["doc_id", "section_id", "attr_path"]
    cols = key + ["score", "tn", "fp", "fn", "tp", "fp1", "fp2"]
    b = {tuple(r[c] for c in key): tuple(r[c] for c in cols[3:])
         for r in base.select(cols).collect()}
    d = {tuple(r[c] for c in key): tuple(r[c] for c in cols[3:])
         for r in dup.select(cols).collect()}
    assert b == d and len(b) > 500


def test_semantic_without_embeddings_scores_as_fuzzy(spark, fixtures_dir):
    """With no vector table, SEMANTIC-configured paths take the FUZZY
    fallback on every row (the reference's failed-embedding path), and
    the plan carries no vector columns."""
    expected = _flat(spark, fixtures_dir, "flat_expected")
    actual = _flat(spark, fixtures_dir, "flat_actual")

    def evaluated(method):
        cfg = spark.createDataFrame(
            [{**r, "method": method} for r in eval_config_rows()])
        return evaluate_attributes(expected, actual, cfg)

    semantic = evaluated("SEMANTIC")
    assert "e_vec" not in semantic._jdf.queryExecution().analyzed().toString()
    key = ["doc_id", "section_id", "attr_path"]
    cols = ["score", "tp", "fp", "fn", "tn", "fp1", "fp2"]

    def by_key(df):
        return {tuple(r[c] for c in key): tuple(r[c] for c in cols)
                for r in df.select(key + cols).collect()}

    sem, fuzzy = by_key(semantic), by_key(evaluated("FUZZY"))
    assert sem == fuzzy and len(sem) > 3000
    # the fixtures reach partial scores and every count branch
    assert any(0 < v[0] < 1 for v in sem.values())
    assert all(sum(v[i] for v in sem.values()) > 0 for i in range(1, 7))
