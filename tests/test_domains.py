"""Host parsing for the link graph (``linkgraph.url_host``) and the
Gopher word gates (``operators.quality``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.operators.linkgraph import url_host
from intelligent_document_processing_on_aws_spark.operators.quality import (
    doc_word_stats,
    mean_word_length,
    required_stopword_hits,
    word_count,
)


HOST_CASES = [
    ("https://www.Example.COM/path?q=1", "www.example.com"),
    ("http://user:pw@host.org:8080/x", "host.org"),
    ("https://site.co.uk", "site.co.uk"),
    ("ftp://files.example.net/a/b", "files.example.net"),
    ("https://10.0.0.1:443/x", "10.0.0.1"),
    ("no-scheme.example.com/path", ""),  # schemeless -> empty host
]


def test_url_host_cases(spark):
    df = spark.createDataFrame([(u,) for u, _ in HOST_CASES], "url string")
    got = [r.h for r in
           df.select(url_host(F.col("url")).alias("h")).collect()]
    assert got == [want for _, want in HOST_CASES]


# -- Gopher word gates --------------------------------------------------------


def test_word_gate_signals(spark):
    text = "The cat sat, and that dog ran to be with one of them."
    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(
        word_count(F.col("t")).alias("n"),
        mean_word_length(F.col("t")).alias("m"),
        required_stopword_hits(F.col("t")).alias("s"),
    ).first()
    assert row.n == 13
    # 'The'->the, 'and', 'that' (comma stripped), 'to', 'be', 'with',
    # 'of' = 7 of the 8 required stopwords ('have' absent)
    assert row.s == 7
    assert 2.0 < row.m < 5.0


def test_word_gates_null_and_empty(spark):
    df = spark.createDataFrame([(1, None), (2, ""), (3, "   ")],
                               "doc_id long, text string")
    rows = {r.doc_id: r for r in doc_word_stats(df).collect()}
    for i in (1, 2, 3):
        assert rows[i].n_words == 0
        assert rows[i].mean_word_len == 0.0
        assert rows[i].stopword_hits == 0
        assert rows[i].word_gates_pass is False


def test_doc_word_stats_is_pure_codegen(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = doc_word_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
