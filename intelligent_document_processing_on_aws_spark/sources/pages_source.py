"""Distributed synthetic `pages` source.

Because fixture pages are seed-addressed by index (fixtures/pages_gen), the
corpus can be *generated on executors* with spark.range -> mapInPandas: no
driver-side materialization, no collect, scales to any row count. This is
the bench input source; committed parquet fixtures cover the small tiers.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..fixtures.pages_gen import GOLDEN_COLS, INPUT_COLS, gen_page

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

GOLDEN_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans_json", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("content_type", T.StringType()),
    ]
)


def _gen_cols(cols):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [gen_page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                {c: [r[c] for r in recs] for c in cols}
            )

    return gen


def synthetic_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    rng = spark.range(0, n, numPartitions=partitions) if partitions else spark.range(0, n)
    df = rng.mapInPandas(_gen_cols(INPUT_COLS), PAGES_SCHEMA)
    # warc_ts from gen_page is tz-aware UTC; session tz is UTC so values align
    return df


def synthetic_golden(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    rng = spark.range(0, n, numPartitions=partitions) if partitions else spark.range(0, n)
    return rng.mapInPandas(_gen_cols(GOLDEN_COLS), GOLDEN_SCHEMA)
