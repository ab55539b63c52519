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
