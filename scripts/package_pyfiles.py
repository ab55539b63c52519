"""Build the --py-files archive for spark-submit deployment.

Zips the `intelligent_document_processing_on_aws_spark` package (source
only, byte-stable output for artifact caching; see the package's
`pyfiles.build`) so cluster executors import it from the archive:

    python scripts/package_pyfiles.py [dist/idp_spark.zip]
    spark-submit --py-files dist/idp_spark.zip jobs/extract.py ...

tests/test_spark_submit.py drives the real spark-submit boundary with
this archive from a directory OUTSIDE the repo, proving the zip alone
carries the engine.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from intelligent_document_processing_on_aws_spark.pyfiles import build  # noqa: E402

if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "dist", "idp_spark.zip")
    print(build(out))
