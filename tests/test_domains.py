"""Host parsing for the link graph (``linkgraph.url_host``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.operators.linkgraph import url_host


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

