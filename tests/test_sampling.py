"""operators/sampling recency decay — exact-integer weights and
the deterministic freshness-biased downsample."""


def test_recency_weight_exact_integers(spark):
    from pyspark.sql import functions as F

    from intelligent_document_processing_on_aws_spark.operators.sampling import (
        recency_weight_ppm,
    )

    now = 1_767_225_600
    day = 86400
    rows = [
        (0, now),                 # age 0 -> full weight
        (1, now - 179 * day),     # < one half-life -> full weight
        (2, now - 180 * day),     # exactly one half-life -> halved
        (3, now - 365 * day),     # 2 halvings
        (4, now - 10_000 * day),  # cap at 20 halvings -> weight 0
        (5, now + 500 * day),     # future date -> clamped to age 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, date_epoch long")
    got = {
        r["doc_id"]: r["w"]
        for r in df.select(
            "doc_id",
            recency_weight_ppm(F.col("date_epoch"), now).alias("w"),
        ).collect()
    }
    assert got == {0: 1_000_000, 1: 1_000_000, 2: 500_000, 3: 250_000,
                   4: 0, 5: 1_000_000}


def test_recency_downsample_keeps_fresh_drops_ancient(spark):
    from intelligent_document_processing_on_aws_spark.operators.sampling import (
        recency_downsample,
    )

    now = 1_767_225_600
    day = 86400
    fresh = [(i, now - i * day % 30) for i in range(100)]
    ancient = [(1000 + i, now - 10_000 * day) for i in range(100)]
    df = spark.createDataFrame(fresh + ancient,
                               "doc_id long, date_epoch long")
    kept = recency_downsample(df, now_epoch=now).collect()
    ids = {r["doc_id"] for r in kept}
    assert all(i < 1000 for i in ids)          # weight-0 ancients all drop
    assert len([i for i in ids if i < 100]) == 100  # full-weight all kept
