"""Tests for deterministic sampling (operators/sampling.py)."""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.operators.sampling import (
    PPM,
    hash_sample,
    temperature_mix_rates,
    temperature_sample,
)


def _py_bucket(seed: str, doc_id: int) -> int:
    d = hashlib.md5(f"{seed}:{doc_id}".encode()).digest()
    return struct.unpack("<Q", d[:8])[0] % PPM


def test_hash_sample_matches_pure_python_and_is_rerun_stable(spark):
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
    )
    out = hash_sample(df, 250_000, seed="s1")
    got = sorted(r["doc_id"] for r in out.collect())
    expect = [i for i in range(2000) if _py_bucket("s1", i) < 250_000]
    assert got == expect
    # deterministic under repartitioning: same rows picked
    got2 = sorted(
        r["doc_id"] for r in hash_sample(
            df.repartition(7), 250_000, seed="s1"
        ).collect()
    )
    assert got2 == expect
    # ~25% +- a loose band
    assert 0.20 < len(got) / 2000 < 0.30


def test_hash_sample_stratified_rates_and_whitelist(spark):
    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "fr")
        .otherwise("xx").alias("lang"),
    )
    out = hash_sample(
        df, {"en": PPM, "fr": 100_000}, seed="s2", stratum_col="lang"
    ).collect()
    langs = {r["lang"] for r in out}
    assert "xx" not in langs, "strata absent from the dict are dropped"
    n_en = sum(1 for r in out if r["lang"] == "en")
    assert n_en == 1000, "rate 1e6 ppm keeps every row"
    n_fr = sum(1 for r in out if r["lang"] == "fr")
    assert n_fr == sum(
        1 for i in range(3000)
        if i % 3 == 1 and _py_bucket("s2", i) < 100_000
    )


def test_temperature_mix_rates_alpha_half_math(spark):
    import math

    df = spark.createDataFrame(
        [(i, "big", 100) for i in range(90)]
        + [(1000 + i, "small", 100) for i in range(10)],
        ["doc_id", "lang", "n_tokens"],
    )
    rates = {
        r["stratum"]: r
        for r in temperature_mix_rates(df, "lang", 5000).collect()
    }
    w_big = math.floor(math.sqrt(9000.0) * PPM)
    w_small = math.floor(math.sqrt(1000.0) * PPM)
    assert rates["big"]["w_ppm"] == w_big
    assert rates["small"]["w_ppm"] == w_small
    tot = w_big + w_small
    assert rates["big"]["rate_ppm"] == math.floor(
        min(1.0, 5000.0 * w_big / (float(tot) * 9000.0)) * PPM
    )
    # temperature flattening: the small stratum gets the HIGHER rate
    assert rates["small"]["rate_ppm"] > rates["big"]["rate_ppm"]
    # budget larger than the corpus clamps to 1e6 ppm
    clamped = {
        r["stratum"]: r["rate_ppm"]
        for r in temperature_mix_rates(df, "lang", 10**9).collect()
    }
    assert set(clamped.values()) == {PPM}


def test_temperature_sample_applies_derived_rates_exactly(spark):
    df = spark.range(0, 1200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, "big").otherwise("small").alias("lang"),
        F.lit(50).alias("n_tokens"),
    )
    rates = {
        r["stratum"]: r["rate_ppm"]
        for r in temperature_mix_rates(df, "lang", 20_000).collect()
    }
    got = sorted(
        r["doc_id"]
        for r in temperature_sample(df, "lang", 20_000, seed="m1").collect()
    )
    expect = sorted(
        i for i in range(1200)
        if _py_bucket("m1", i)
        < rates["big" if i < 1000 else "small"]
    )
    assert got == expect


def test_host_split_is_host_atomic_and_stable(spark):
    """host_split: every host lands wholly in one split (no doc-level
    leakage), both splits are populated at a 25% val rate, the
    assignment is a pure function of (seed, host) — stable across
    repartitioning — and the plan is map-only (zero Exchange, zero
    Python)."""
    from intelligent_document_processing_on_aws_spark.operators.sampling import (
        host_split,
    )

    docs = spark.createDataFrame(
        [(i, f"host{i % 40}.example") for i in range(400)],
        ["doc_id", "source"],
    )
    out = host_split(docs, val_ppm=250_000)

    rows = out.collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["source"], set()).add(r["split"])
    assert all(len(v) == 1 for v in by_host.values())  # host-atomic
    splits = {r["split"] for r in rows}
    assert splits == {"train", "val"}

    # partitioning-independence: same assignment after a repartition
    again = {
        (r["doc_id"], r["split"])
        for r in host_split(docs.repartition(13), val_ppm=250_000).collect()
    }
    assert again == {(r["doc_id"], r["split"]) for r in rows}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
