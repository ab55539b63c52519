"""Assessment: deterministic per-attribute confidence + threshold alerts.

The reference assesses each extracted attribute with an LLM judge over OCR
text-confidence data and appends `confidence_threshold_alerts` for any
attribute under its threshold (assessment/service.py:733-1134 scoring,
:293-352 alert collection). The deterministic analog here grades each
attribute by how faithfully its value can be re-grounded in the section
text — native Catalyst all the way:

  confidence = 0.99  value found verbatim in section text
               0.7   found after EXACT normalization (case/punct drift)
               0.1   extracted but not groundable (hallucination analog)
               0.0   value missing

Thresholds come from the same per-attribute config dimension the evaluator
uses (broadcast join); alert = confidence < threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .evaluation import norm_exact

VERBATIM_CONF = 0.99
NORMALIZED_CONF = 0.7
UNGROUNDED_CONF = 0.1


def assess_attributes(
    flat_attrs: DataFrame,
    sections: DataFrame,
    eval_config: DataFrame,
) -> DataFrame:
    """flat_attrs: (doc_id, section_id, classification, attr_path, value);
    sections: (doc_id, section_id, section_text);
    eval_config: (classification, norm_path, method, threshold).

    Output adds confidence, confidence_threshold, alert."""
    joined = flat_attrs.join(
        sections.select("doc_id", "section_id", "section_text"),
        ["doc_id", "section_id"],
        "left",
    )
    v, t = F.col("value"), F.col("section_text")
    confidence = (
        F.when(v.isNull() | (F.trim(v) == ""), 0.0)
        .when(t.isNotNull() & t.contains(v), VERBATIM_CONF)
        .when(
            t.isNotNull() & norm_exact(t).contains(norm_exact(v)), NORMALIZED_CONF
        )
        .otherwise(UNGROUNDED_CONF)
    )
    with_conf = joined.withColumn("confidence", confidence).withColumn(
        "norm_path", F.regexp_replace("attr_path", r"\[\d+\]", "[]")
    )
    cfg = eval_config.select(
        F.col("classification").alias("c_cls"),
        F.col("norm_path").alias("c_path"),
        F.col("threshold").alias("confidence_threshold"),
    )
    out = with_conf.join(
        F.broadcast(cfg),
        (with_conf["classification"] == cfg["c_cls"])
        & (with_conf["norm_path"] == cfg["c_path"]),
        "left",
    ).drop("c_cls", "c_path", "section_text", "norm_path")
    out = out.withColumn(
        "confidence_threshold", F.coalesce("confidence_threshold", F.lit(0.8))
    )
    return out.withColumn("alert", F.col("confidence") < F.col("confidence_threshold"))


def threshold_alerts(assessed: DataFrame) -> DataFrame:
    """The HITL-trigger side-output (processresults_function/index.py:30-56
    analog): one row per under-threshold attribute."""
    return assessed.where(F.col("alert")).select(
        "doc_id", "section_id", "classification", "attr_path",
        "confidence", "confidence_threshold",
    )
