"""fastText-style language classifier (kernels/ft_linear.py +
operators/ft_classifier.py): pure-kernel <-> native-expression parity,
training determinism, and actual lang-ID skill on the corpus."""

from __future__ import annotations

import numpy as np
import pytest

from intelligent_document_processing_on_aws_spark.kernels.ft_linear import (
    char_trigram_buckets,
    quantize_micro,
    score_micro,
    train_softmax,
)

SAMPLES = [
    ("the quick brown fox jumps over the lazy dog and the rain in spain", "en"),
    ("the cat sat on the mat with the hat and then they went away", "en"),
    ("el rapido zorro marron salta sobre el perro perezoso en la lluvia", "es"),
    ("la casa es muy bonita y los ninos juegan en el parque cada dia", "es"),
    ("der schnelle braune fuchs springt ueber den faulen hund im regen", "de"),
    ("das haus ist sehr schoen und die kinder spielen jeden tag im park", "de"),
]


def _trained():
    classes = sorted({y for _, y in SAMPLES})
    idx = {c: k for k, c in enumerate(classes)}
    W, b = train_softmax([t for t, _ in SAMPLES],
                         [idx[y] for _, y in SAMPLES], len(classes))
    return W, b, classes


def test_trigram_buckets_match_spec():
    t = "abc"
    assert char_trigram_buckets(t) == [
        ((ord("a") * 31 + ord("b")) * 31 + ord("c")) % 512]
    assert char_trigram_buckets("ab") == []
    assert char_trigram_buckets("") == []
    assert char_trigram_buckets(None) == []
    # cap applies before windowing
    long = "x" * 5000
    assert len(char_trigram_buckets(long)) == 4096 - 2


def test_training_is_deterministic_and_separates():
    W1, b1, classes = _trained()
    W2, b2, _ = _trained()
    assert np.array_equal(W1, W2) and np.array_equal(b1, b2)
    w_micro, b_micro = quantize_micro(W1, b1)
    # every training sample classified correctly by the integer spec
    for text, y in SAMPLES:
        scores = score_micro(text, w_micro, b_micro)
        assert classes[scores.index(max(scores))] == y


def test_score_micro_edge_cases():
    W, b, classes = _trained()
    w_micro, b_micro = quantize_micro(W, b)
    # no trigrams -> bias-only scores
    assert score_micro("", w_micro, b_micro) == b_micro
    assert score_micro("ab", w_micro, b_micro) == b_micro
    # floor-division spec: negative sums floor toward -inf (Python //)
    s = score_micro("zzz", w_micro, b_micro)
    bkt = char_trigram_buckets("zzz")[0]
    for k in range(len(classes)):
        assert s[k] == b_micro[k] + w_micro[k][bkt] // 1


def test_native_scorer_matches_pure_kernel(spark):
    """The Catalyst expression pipeline and the pure-Python twin produce
    identical integer scores, predictions and 6-dp probs on mixed-script
    rows (incl. CJK, empty, NULL, >max_chars)."""
    import math

    from intelligent_document_processing_on_aws_spark.operators.ft_classifier import (
        classify_lang,
    )

    W, b, classes = _trained()
    w_micro, b_micro = quantize_micro(W, b)
    rows = [
        (0, SAMPLES[0][0], "en"),
        (1, SAMPLES[2][0], "es"),
        (2, SAMPLES[4][0], "de"),
        (3, "中文的文本在这里出现了很多次", "zh"),
        (4, "", "en"),
        (5, None, "en"),
        (6, "x" * 5000, "en"),
        (7, "ab", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r for r in
           classify_lang(df, w_micro, b_micro, classes).collect()}
    for doc_id, text, lang in rows:
        exp_scores = score_micro(text, w_micro, b_micro)
        best = max(exp_scores)
        pred = classes[exp_scores.index(best)]
        denom = 0.0
        for s in exp_scores:
            denom += math.exp((s - best) / 1e6)
        r = got[doc_id]
        assert r.score_micro == best, doc_id
        assert r.pred_lang == pred, doc_id
        assert r.prob == pytest.approx(round(1.0 / denom, 6), abs=2e-6)
        assert r.n_grams == max(len((text or "")[:4096]) - 2, 0)
        assert r.correct == (pred == lang)


def test_prob_tie_rounds_half_up_like_spark(spark):
    """128 fully tied classes give prob = 1/128 = 0.0078125 exactly, a tie
    at the 6th decimal: rounded half-up like Spark's F.round and DuckDB's
    round() (0.007813), not half-even like Python's round() (0.007812)."""
    from pyspark.sql import functions as F

    from intelligent_document_processing_on_aws_spark.operators.ft_classifier import (
        classify_lang,
    )

    n_cls, n_buckets = 128, 64
    df = spark.createDataFrame([(0, "tied scores", "c000")],
                               "doc_id long, text string, lang string")
    row = classify_lang(df, [[0] * n_buckets] * n_cls, [0] * n_cls,
                        [f"c{k:03d}" for k in range(n_cls)],
                        n_buckets=n_buckets).first()
    spark_round = spark.range(1).select(F.round(F.lit(1 / 128), 6)).first()[0]
    assert row.prob == spark_round == 0.007813


def test_full_stage_learns_corpus_langs(spark, fixtures_dir):
    """Trained on the first 512 docs of the langid fixture corpus, the
    classifier gets >=98% of ALL 1200 docs right (held-out 512..1199
    included) — languages are trivially separable by char trigrams (the
    fastText lang-ID claim). The testdata documents table is NOT usable
    here: its `lang` column is metadata independent of the text."""
    import os

    from intelligent_document_processing_on_aws_spark.operators.ft_classifier import (
        ft_lang_classifier,
    )

    docs = spark.read.parquet(
        os.path.join(fixtures_dir, "langid_pages.parquet"))
    out = ft_lang_classifier(docs).cache()
    n = out.count()
    ok = out.where("correct").count()
    assert n == docs.count() == 1200
    assert ok / n >= 0.98, f"lang-ID accuracy {ok}/{n}"
    # every language is predicted somewhere (not a majority-class dodge)
    assert out.where("correct").select("pred_lang").distinct().count() == 5
    out.unpersist()


def test_inference_plan_is_native(spark):
    """No BatchEvalPython / Arrow eval in the scoring plan — inference
    must be pure Catalyst expressions (the 100-TB contract)."""
    from intelligent_document_processing_on_aws_spark.operators.ft_classifier import (
        classify_lang,
    )

    W, b, classes = _trained()
    w_micro, b_micro = quantize_micro(W, b)
    df = spark.createDataFrame([(1, "hello there", "en")],
                               "doc_id long, text string, lang string")
    plan = classify_lang(df, w_micro, b_micro, classes) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # map-only: no shuffle


def test_quality_classifier_weak_labels_and_learning(spark):
    from intelligent_document_processing_on_aws_spark.kernels.ft_linear import (
        weak_quality_label as pure_label,
    )
    from intelligent_document_processing_on_aws_spark.operators.ft_classifier import (
        ft_quality_classifier,
        weak_quality_label,
    )
    from pyspark.sql import functions as F

    # clearly separable corpus: hq = many short words, lq = few/long words
    hq = "the cat sat on a mat and then ran to the red barn " * 5
    lq = "supercalifragilistic expialidocious " * 3
    rows = [(i, hq if i % 2 == 0 else lq) for i in range(120)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # Column expression and pure twin agree on every row
    got = docs.select(
        "doc_id", weak_quality_label(F.col("text")).alias("l")
    ).collect()
    for r in got:
        expect = pure_label(hq if r["doc_id"] % 2 == 0 else lq)
        assert r["l"] == expect
    assert {r["l"] for r in got} == {"hq", "lq"}

    out = ft_quality_classifier(docs, sample_n=64).collect()
    assert len(out) == 120
    # weak supervision is trivially learnable here: full agreement
    agree = sum(r["agrees"] for r in out)
    assert agree == 120
    assert {r["pred_quality"] for r in out} == {"hq", "lq"}


def test_quality_classifier_plan_no_python(spark):
    from intelligent_document_processing_on_aws_spark.operators.ft_classifier import (
        ft_quality_classifier,
    )

    docs = spark.createDataFrame(
        [(i, "some words here " * (2 + i % 3)) for i in range(70)],
        ["doc_id", "text"],
    )
    df = ft_quality_classifier(docs, sample_n=32)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # scoring is pure Catalyst: the only driver work was the bounded
    # training collect, which is not part of this plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_quality_gate_ids_matches_scored_and_is_materialized(spark):
    """ft_quality_gate_ids must (a) equal the scored-then-filtered id
    set and (b) filter over a MATERIALIZED verdict table, never the
    live classifier plan — PushPredicateThroughNonJoin would inline the
    O(L) codepoint transform inside the per-element bucket lambda and
    make the (interpreted, CodegenFallback) filter O(L^2) per row
    (~0.8 s/doc measured at max_chars=4096)."""
    from intelligent_document_processing_on_aws_spark.operators.ft_classifier import (
        ft_quality_classifier,
        ft_quality_gate_ids,
    )

    hq = "the cat sat on a mat and then ran to the red barn " * 5
    lq = "supercalifragilistic expialidocious " * 3
    docs = spark.createDataFrame(
        [(i, hq if i % 2 == 0 else lq) for i in range(120)],
        ["doc_id", "text"],
    )

    expect = {
        r["doc_id"]
        for r in ft_quality_classifier(docs, sample_n=64).collect()
        if r["pred_quality"] == "hq"
    }
    gate = ft_quality_gate_ids(docs, sample_n=64)
    assert {r["doc_id"] for r in gate.collect()} == expect == set(range(0, 120, 2))

    # the gate's plan scans the checkpointed verdict RDD; the classifier
    # expression chain must NOT appear under the filter
    plan = gate._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert "transform(" not in plan and "aggregate(" not in plan
