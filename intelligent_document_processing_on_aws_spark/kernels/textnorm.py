"""Scalar normalization and flattening functions (reference parity).

Pure-Python mirrors of the reference's scalar library so pandas-UDF code and
golden tests share one implementation:

- strip_punctuation_space: evaluation/comparator.py:86-101
- normalize_numeric:       evaluation/comparator.py:104-126
- flatten_nested_data:     evaluation/service.py:194-230 (dot / [i] paths)
"""

from __future__ import annotations

import re
from typing import Any

_PUNCT_RE = re.compile(r"[^\w\s]")
_WS_RE = re.compile(r"\s+")


def strip_punctuation_space(text: Any) -> str:
    if not isinstance(text, str):
        text = str(text)
    text = _PUNCT_RE.sub("", text)
    return _WS_RE.sub(" ", text).strip().lower()


def normalize_numeric(value: Any) -> float:
    if isinstance(value, (int, float)):
        return float(value)
    if not isinstance(value, str):
        value = str(value)
    value = (
        value.replace("$", "").replace(",", "").replace("(", "").replace(")", "")
    )
    try:
        return float(value)
    except (ValueError, TypeError):
        raise ValueError(f"Cannot convert {value} to numeric value")


def flatten_nested_data(data: dict, parent_key: str = "") -> dict[str, Any]:
    """dicts -> `a.b`, lists -> `a[0].b` keys (evaluation/service.py:194-230)."""
    flattened: dict[str, Any] = {}
    for key, value in data.items():
        full_key = f"{parent_key}.{key}" if parent_key else key
        if isinstance(value, dict):
            flattened.update(flatten_nested_data(value, full_key))
        elif isinstance(value, list):
            for i, item in enumerate(value):
                if isinstance(item, dict):
                    flattened.update(flatten_nested_data(item, f"{full_key}[{i}]"))
                else:
                    flattened[f"{full_key}[{i}]"] = item
        else:
            flattened[full_key] = value
    return flattened


def flatten_confidence_scores(
    confidence_data: dict, parent_key: str = ""
) -> dict[str, dict[str, float | None]]:
    """explainability_info tree -> {path: {confidence, confidence_threshold}}
    (exact mirror of evaluation/service.py:232-274): a dict carrying a
    ``confidence`` key is a leaf assessment; other dicts recurse; list
    items recurse with ``[i]`` path segments; scalars are ignored."""
    flattened: dict[str, dict[str, float | None]] = {}
    for key, value in confidence_data.items():
        full_key = f"{parent_key}.{key}" if parent_key else key
        if isinstance(value, dict):
            if "confidence" in value:
                thr = value.get("confidence_threshold")
                flattened[full_key] = {
                    "confidence": float(value["confidence"]),
                    "confidence_threshold": float(thr) if thr is not None else None,
                }
            else:
                flattened.update(flatten_confidence_scores(value, full_key))
        elif isinstance(value, list):
            for i, item in enumerate(value):
                if isinstance(item, dict):
                    flattened.update(
                        flatten_confidence_scores(item, f"{full_key}[{i}]")
                    )
    return flattened


def load_extraction_payload(content: Any) -> tuple[dict, dict]:
    """(flat_results, flat_confidence) from one extraction-result document
    (evaluation/service.py:276-321 minus the S3 fetch): unwraps the
    ``inference_result`` envelope and flattens ``explainability_info[0]``."""
    if not isinstance(content, dict):
        return {}, {}
    raw = content.get("inference_result", content)
    results = flatten_nested_data(raw) if isinstance(raw, dict) else {}
    confidences: dict = {}
    info = content.get("explainability_info")
    if isinstance(info, list) and info and isinstance(info[0], dict):
        confidences = flatten_confidence_scores(info[0])
    return results, confidences


_INDEX_RE = re.compile(r"\[\d+\]")


def normalize_attr_pattern(path: str) -> str:
    """`Transactions[3].Amount` -> `Transactions[].Amount` for config lookup
    (evaluation/service.py:546-659 list-pattern matching analog)."""
    return _INDEX_RE.sub("[]", path)
