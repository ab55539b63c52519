"""Deterministic corpus sampling and training-mix budgeting.

Two published building blocks every large-scale training-data pipeline
needs between curation and tokenization:

1. **Deterministic hash Bernoulli sampling** (`hash_sample`): keep a
   document iff a stable 64-bit hash of (seed, doc_id) falls under a
   per-stratum parts-per-million threshold.  Unlike `df.sample()`, the
   decision is a pure function of the row — re-runs, retries, and
   different partitionings all pick the SAME sample (required for
   resumable 100-TB jobs), and the comparison is integer-exact so every
   engine agrees bit-for-bit.  Map-only: zero shuffles, zero Python.

2. **Temperature-based mix weighting** (`temperature_mix_rates`): the
   multilingual/multi-source sampling rule of mBERT/XLM-R/PaLM
   (Devlin et al. 2019 §"data"; Conneau et al. 2020 eq. 1): sample
   stratum s with probability proportional to T_s^alpha where T_s is
   its token mass, flattening the head and up-weighting the tail.
   alpha is fixed at 0.5 so the power is IEEE-exact ``sqrt`` on every
   engine (a general ``pow`` is not correctly-rounded and can drift
   across libm implementations — the same cross-engine concern the
   metering operators solved with DECIMAL sums).  Rates are quantized
   to integer ppm before use, so the sampled set is bit-stable.

Hashing: the sampler key is the little-endian uint64 of the first 8
md5 bytes of ``seed || ':' || doc_id`` — md5 is available and
byte-identical in Spark, DuckDB and Python, unlike xxhash64 which only
Spark exposes.

100-TB shape: `hash_sample` is a codegen'd filter inside the scan
stage (partition-pruning and pushdown unaffected).  The mix computation
aggregates per-stratum token counts (one tiny shuffle on a
low-cardinality key), derives rates driver-free, and applies them with
a **broadcast** join — the corpus itself never shuffles.

Reference scope note: the reference (GenAIIDP) has no sampling stage —
this module is part of the beyond-reference training-data operator set
required by the task brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PPM = 1_000_000


def sample_key(doc_id_col, seed: str):
    """Stable uniform uint64 in [0, 2^64) from (seed, doc_id).

    Little-endian read of the first 8 md5 bytes of 'seed:doc_id',
    expressed as native Catalyst expressions (md5 + substring shuffle +
    conv).
    """
    h = F.md5(F.concat(F.lit(seed + ":"), doc_id_col.cast("string")))
    le_hex = F.concat(*[
        F.substring(h, start, 2)
        for start in (15, 13, 11, 9, 7, 5, 3, 1)
    ])
    # conv() returns the unsigned value as a string; cast through
    # DECIMAL(20,0) because 2^63..2^64-1 overflows BIGINT.
    return F.conv(le_hex, 16, 10).cast("decimal(20,0)")


def sample_bucket_ppm(doc_id_col, seed: str):
    """The hash key reduced to an integer ppm bucket in [0, 1e6)."""
    return (sample_key(doc_id_col, seed) % PPM).cast("bigint")


def hash_sample(
    df: DataFrame,
    rate_ppm,
    seed: str = "sample-42",
    doc_id_col: str = "doc_id",
    stratum_col: str | None = None,
) -> DataFrame:
    """Deterministic Bernoulli sample: keep iff bucket < rate_ppm.

    ``rate_ppm`` is either a single integer (uniform rate) or a dict
    ``{stratum_value: ppm}`` applied over ``stratum_col`` (strata absent
    from the dict are dropped — an explicit mix is a whitelist).
    Pure map-side filter; the plan stays one scan stage.
    """
    bucket = sample_bucket_ppm(F.col(doc_id_col), seed)
    if isinstance(rate_ppm, dict):
        if stratum_col is None:
            raise ValueError("stratum rates need stratum_col")
        expr = F.lit(False)
        for value, ppm in sorted(rate_ppm.items()):
            expr = expr | (
                (F.col(stratum_col) == value) & (bucket < int(ppm))
            )
        return df.where(expr)
    return df.where(bucket < int(rate_ppm))


def temperature_mix_rates(
    df: DataFrame,
    stratum_col: str,
    target_tokens: int,
    token_count_col: str = "n_tokens",
) -> DataFrame:
    """Per-stratum sampling rates for a token budget at alpha = 0.5.

    weight_s = sqrt(T_s) / sum_s sqrt(T_s);  rate_s = min(1, budget *
    weight_s / T_s), quantized to integer ppm (floor).  Returns
    (stratum, t_tokens, w_ppm, rate_ppm) — a tiny table callers
    broadcast.

    Determinism: sqrt weights are quantized to integer ppm BEFORE the
    cross-stratum normalization, so the total is an order-free integer
    SUM (a float sum's value depends on accumulation order, which no
    engine guarantees).  The remaining double multiply/divide chain has
    a fixed expression shape over exactly-representable integer inputs,
    so IEEE correct rounding makes it bit-identical across engines.
    """
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.sum(F.col(token_count_col)).alias("t_tokens")
    )
    w_ppm = F.floor(
        F.sqrt(F.col("t_tokens").cast("double")) * F.lit(float(PPM))
    ).cast("bigint")
    per = per.select("stratum", "t_tokens", w_ppm.alias("w_ppm"))
    total_w = F.sum("w_ppm").over(
        Window.partitionBy()
    )  # integer sum: order-free
    rate = F.least(
        F.lit(1.0),
        (F.lit(float(target_tokens)) * F.col("w_ppm").cast("double"))
        / (total_w.cast("double") * F.col("t_tokens").cast("double")),
    )
    return per.select(
        "stratum",
        "t_tokens",
        "w_ppm",
        F.floor(rate * F.lit(float(PPM))).cast("bigint").alias("rate_ppm"),
    )


def host_split(
    df: DataFrame,
    val_ppm: int = 10_000,
    seed: str = "split-42",
    host_col: str = "source",
) -> DataFrame:
    """Leakage-free train/validation split at HOST granularity.

    Every document of a host lands in the SAME split (the split key is
    the host, not the doc), so near-duplicates within a site — boiler-
    plate variants, templated pages, mirrored articles — can never
    straddle train/val. Document-level random splits leak exactly this
    way; host-disjoint hold-outs are the standard web-corpus fix
    (the FineWeb/DCLM evaluation-design concern).

    The assignment is `md5-le64(seed:host) % 1e6 < val_ppm` — a pure
    integer function of the row, so re-runs, retries and any
    partitioning agree bit-for-bit, and a LATER crawl of the same host
    joins the same split (split stability across snapshots is what
    makes the val set reusable). Appends a `split` column
    ('val'|'train'); map-only, zero shuffles, zero Python.
    """
    bucket = sample_bucket_ppm(F.col(host_col), seed)
    return df.withColumn(
        "split",
        F.when(bucket < int(val_ppm), F.lit("val")).otherwise(
            F.lit("train")
        ),
    )


def temperature_sample(
    df: DataFrame,
    stratum_col: str,
    target_tokens: int,
    token_count_col: str = "n_tokens",
    seed: str = "mix-42",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Apply the temperature mix: rates from the data, then the
    deterministic hash Bernoulli filter via a broadcast rates join."""
    rates = temperature_mix_rates(
        df, stratum_col, target_tokens, token_count_col
    )
    bucket = sample_bucket_ppm(F.col(doc_id_col), seed)
    return (
        df.join(
            F.broadcast(rates),
            df[stratum_col] == rates["stratum"],
            "inner",
        )
        .where(bucket < F.col("rate_ppm"))
        .drop("stratum", "t_tokens", "w_ppm", "rate_ppm")
    )


def recency_weight_ppm(
    date_epoch_col,
    now_epoch: int,
    half_life_days: int = 180,
    max_halvings: int = 20,
):
    """Exponential recency decay as an EXACT integer: the survival
    weight (ppm) halves every ``half_life_days`` of age, computed as
    floor(1e6 / 2^halvings) with halvings = clamp(age_days //
    half_life_days, 0, max_halvings). Quantizing halvings to whole
    half-lives keeps every value a finite double (2^k, k <= 20) so the
    weight is bit-identical in Spark and DuckDB — no exp()/ln() drift.
    Ages beyond max_halvings half-lives weigh 0 (the doc drops)."""
    # explicit FLOOR at every step: DuckDB's double->int CAST rounds
    # while Spark's truncates — floor is the one semantics both engines
    # spell identically (values are non-negative, so floor == trunc)
    age_days = F.greatest(
        F.lit(0).cast("long"),
        F.floor((F.lit(now_epoch).cast("long")
                 - date_epoch_col.cast("long")) / F.lit(86400)),
    )
    halvings = F.least(F.floor(age_days / F.lit(half_life_days)),
                       F.lit(max_halvings).cast("long"))
    return F.floor(F.lit(1_000_000) / F.pow(F.lit(2.0), halvings)) \
        .cast("long")


def recency_downsample(
    docs: DataFrame,
    now_epoch: int,
    date_epoch_col: str = "date_epoch",
    half_life_days: int = 180,
    seed: str = "recency-42",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Recency-weighted deterministic downsample: each document
    survives with probability equal to its decayed weight (fresh docs
    ~always kept, each half-life of age halves survival) via the
    stable hash-Bernoulli convention — rerun- and partitioning-stable,
    no RNG state. The freshness-biased corpus mix (recency is the axis
    the published-date ladder extracts).

    Map-only: weight and keep-bit are pure row functions — zero
    shuffles at any corpus size."""
    w = recency_weight_ppm(F.col(date_epoch_col), now_epoch,
                           half_life_days)
    bucket = sample_bucket_ppm(F.col(doc_id_col), seed)
    return (
        docs.withColumn("weight_ppm", w)
        .where(bucket < F.col("weight_ppm"))
    )
