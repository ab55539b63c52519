"""End-to-end Spark extraction stage vs committed goldens."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.operators.extraction import extract_pages


def test_extract_matches_golden_parquet(spark, fixtures_dir):
    pages = spark.read.parquet(os.path.join(fixtures_dir, "t1_pages.parquet"))
    golden = spark.read.parquet(os.path.join(fixtures_dir, "t1_golden.parquet"))
    result = extract_pages(pages, salt_partitions=4)

    joined = result.alias("r").join(golden.alias("g"), "url", "full_outer")
    bad = joined.where(
        ~(
            (F.col("r.extracted_text").eqNullSafe(F.col("g.extracted_text")))
            & (F.col("r.spans_json").eqNullSafe(F.col("g.spans_json")))
            & (F.col("r.content_type").eqNullSafe(F.col("g.content_type")))
            & (F.abs(F.col("r.confidence") - F.col("g.confidence")) < 1e-9)
        )
    )
    assert bad.count() == 0
    assert result.count() == 200


def test_distributed_generation_matches_build(spark, fixtures_dir, synthetic_pages):
    """Executor-side generated pages == committed parquet (seed addressing)."""
    committed = spark.read.parquet(os.path.join(fixtures_dir, "t1_pages.parquet"))
    generated = synthetic_pages(200, partitions=4)
    a = committed.select("url", F.md5(F.col("html")).alias("h"), "text", "lang")
    b = generated.select("url", F.md5(F.col("html")).alias("h"), "text", "lang")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_build_reproduces_committed_fixtures(fixtures_dir, tmp_path):
    """fixtures/build.py regenerates fixtures_data/ exactly: the same file
    set, every parquet table equal to the committed one (schema included)
    and the WARC files byte for byte. A generator deleted while its parquet
    stays behind, or the reverse, fails here."""
    import pyarrow.parquet as pq

    from intelligent_document_processing_on_aws_spark.fixtures.build import build

    def files(root):
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    build(str(tmp_path))
    committed = files(fixtures_dir)
    assert files(tmp_path) == committed
    for rel in committed:
        want, got = os.path.join(fixtures_dir, rel), os.path.join(tmp_path, rel)
        if rel.endswith(".parquet"):
            assert pq.read_table(got).equals(
                pq.read_table(want), check_metadata=True), rel
        else:
            with open(want, "rb") as a, open(got, "rb") as b:
                assert a.read() == b.read(), rel


def test_extract_on_generated_pages(synthetic_pages, synthetic_golden):
    pages = synthetic_pages(120, partitions=4)
    golden = synthetic_golden(120, partitions=4)
    result = extract_pages(pages)
    j = result.alias("r").join(golden.alias("g"), "url")
    mismatches = j.where(
        (F.col("r.extracted_text") != F.col("g.extracted_text"))
        | (F.col("r.spans_json") != F.col("g.spans_json"))
    ).count()
    assert mismatches == 0
    assert j.count() == 120


def test_spans_struct_column(spark, fixtures_dir):
    pages = spark.read.parquet(os.path.join(fixtures_dir, "t1_pages.parquet"))
    res = extract_pages(pages.limit(20))
    spans = F.from_json("spans_json", "array<array<int>>")
    row = res.where(F.size(spans) > 1).first()
    assert row is not None
    start, end, block_id = json.loads(row.spans_json)[0]
    assert start == 0 and end > 0 and block_id == 0
    # offsets consistent with text
    assert row.extracted_text[start:end] == row.extracted_text.split("\n")[0]


@pytest.mark.parametrize("n_parts", [8, 32])
def test_url_hash_salt_spreads_rows(synthetic_pages, n_parts):
    """The salt spreads 2 000 urls over every partition, none holding more
    than 1.5x the mean (a salt pre-reduced mod P filled 4 of 8)."""
    pages = synthetic_pages(2000, partitions=4)
    counts = [
        r.n for r in extract_pages(pages, salt_partitions=n_parts)
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert len(counts) == n_parts
    assert max(counts) / (2000 / n_parts) <= 1.5
