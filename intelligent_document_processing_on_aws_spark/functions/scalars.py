"""Native Column expressions mirroring the reference scalar library.

Each is the Catalyst twin of a pure kernel in kernels/textnorm.py — JVM-side
and codegen-able, for use in hot paths where the pandas-UDF route would be
waste:

- normalize_boolean: utils/__init__.py:255-275
- parse_uri:         utils/__init__.py:42-74 (s3://bucket/key split)
- pipe_escape:       ocr/service.py:1542-1544

The comparator normalizers (comparator.py:86-126) live once, as
operators/evaluation.norm_exact and norm_numeric.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TRUTHY = ("true", "yes", "1", "y", "t")
_FALSY = ("false", "no", "0", "n", "f")


def normalize_boolean(col: Column) -> Column:
    s = F.lower(F.trim(col))
    return (
        F.when(s.isin(*_TRUTHY), F.lit(True))
        .when(s.isin(*_FALSY), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def parse_uri(col: Column) -> Column:
    """uri -> struct(scheme, bucket, key)."""
    return F.struct(
        F.regexp_extract(col, r"^([a-z0-9+.-]+)://", 1).alias("scheme"),
        F.regexp_extract(col, r"^[a-z0-9+.-]+://([^/]+)", 1).alias("bucket"),
        F.regexp_extract(col, r"^[a-z0-9+.-]+://[^/]+/(.*)$", 1).alias("key"),
    )


def pipe_escape(col: Column) -> Column:
    return F.regexp_replace(col, r"\|", r"\\|")


def feature_combination_suffix(features: Column) -> Column:
    """Textract feature set -> metering-key pricing suffix
    (ocr/service.py:500-536 ``_get_feature_combination_string``):
    Tables+Forms bills as the combined rate; Layout is only charged when
    used without Tables/Forms; Signatures is free unless used alone.
    ``features`` is an array<string> column; empty/null arrays -> ''.

    Native array_contains chain — codegen-able, usable directly in the
    metering key concat (service_api || suffix)."""
    has = lambda f: F.array_contains(features, f)  # noqa: E731
    return (
        F.when(features.isNull() | (F.size(features) == 0), F.lit(""))
        .when(has("TABLES") & has("FORMS"), F.lit("-Tables+Forms"))
        .when(has("TABLES"), F.lit("-Tables"))
        .when(has("FORMS"), F.lit("-Forms"))
        .when(has("LAYOUT"), F.lit("-Layout"))
        .when(has("SIGNATURES"), F.lit("-Signatures"))
        .otherwise(F.lit(""))
    )


def token_limit_warning_col(
    text: Column, results: Column, configured_max_tokens: int | None
) -> Column:
    """Catalyst twin of kernels/textnorm.token_limit_warning (reference
    utils check_token_limit): chars/4 token estimate vs the configured
    budget -> warning string or NULL. Native length arithmetic."""
    if not configured_max_tokens:
        return F.lit(None).cast("string")
    est = (
        F.length(F.coalesce(text, F.lit("")))
        + F.length(F.coalesce(results, F.lit("")))
    ) / F.lit(4.0)
    return F.when(
        F.lit(int(configured_max_tokens)) < est,
        F.lit(
            f"The max_tokens value of {configured_max_tokens} is too low "
            f"for this document."
        ),
    )


def extract_class_from_text_col(col: Column) -> Column:
    """Catalyst twin of kernels/textnorm.extract_class_from_text
    (classification/service.py:1432-1453): same fixed pattern order (the
    tuple is IMPORTED from the kernel so the twins cannot drift),
    case-insensitive find, original-case value to end-of-line, whitespace
    then quote strip. Native when/regexp chain; (?U) makes Java's \\s match
    the same Unicode whitespace Python's str.strip() removes."""
    from ..kernels.textnorm import CLASS_LABEL_PATTERNS

    expr = F.lit("")
    for pattern in reversed(CLASS_LABEL_PATTERNS):
        raw = F.regexp_extract(col, r"(?i)" + pattern + r"([^\n]*)", 1)
        ws_stripped = F.regexp_replace(raw, r"(?U)^\s+|\s+$", "")
        val = F.regexp_replace(
            F.regexp_replace(ws_stripped, "^[\"']+", ""), "[\"']+$", ""
        )
        expr = F.when(F.lower(col).contains(pattern), val).otherwise(expr)
    return expr
