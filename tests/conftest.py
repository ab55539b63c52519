from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

FIXTURES_DIR = os.path.join(REPO_ROOT, "fixtures_data")


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from intelligent_document_processing_on_aws_spark.session import get_spark

    scratch = tempfile.mkdtemp(prefix="idp_spark_wh_")
    s = get_spark(
        "idp-spark-tests",
        master="local[4]",
        **{
            "spark.sql.warehouse.dir": f"{scratch}/warehouse",
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={scratch}/derby",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixtures_dir():
    if not os.path.exists(os.path.join(FIXTURES_DIR, "t1_pages.parquet")):
        from intelligent_document_processing_on_aws_spark.fixtures.build import build

        build()
    return FIXTURES_DIR


def _generated_pages(spark, n, partitions, cols, ddl):
    """pages_gen pages 0..n-1, generated on the executors: pages are
    seed-addressed by index, so no driver-side materialization."""
    import pandas as pd

    from intelligent_document_processing_on_aws_spark.fixtures.pages_gen import gen_page

    def gen(batches):
        for pdf in batches:
            recs = [gen_page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame({c: [r[c] for r in recs] for c in cols})

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, ddl)


@pytest.fixture(scope="session")
def synthetic_pages(spark):
    """(n, partitions) -> the input columns of n generated pages."""
    from intelligent_document_processing_on_aws_spark.fixtures.pages_gen import INPUT_COLS

    ddl = "url string, warc_ts timestamp, html binary, text string, lang string"
    return lambda n, partitions: _generated_pages(spark, n, partitions, INPUT_COLS, ddl)


@pytest.fixture(scope="session")
def synthetic_golden(spark):
    """(n, partitions) -> the golden columns of n generated pages."""
    from intelligent_document_processing_on_aws_spark.fixtures.pages_gen import GOLDEN_COLS

    ddl = ("url string, extracted_text string, spans_json string, lang string, "
           "confidence double, content_type string")
    return lambda n, partitions: _generated_pages(spark, n, partitions, GOLDEN_COLS, ddl)
