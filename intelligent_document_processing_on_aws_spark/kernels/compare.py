"""Evaluation comparators, classification counting and metric formulas —
pure-Python reference parity.

Mirrors:
- compare_exact / compare_numeric / compare_fuzzy + fuzz_score (full
  Levenshtein DP): evaluation/comparator.py:44-369
- _count_classifications (tn/fp/fn/tp/fp1/fp2 branches):
  evaluation/service.py:323-404
- metrics (precision/recall/F1/accuracy/false-alarm/false-discovery):
  evaluation/metrics.py:13-145
"""

from __future__ import annotations

from typing import Any, Optional

from .textnorm import normalize_numeric, strip_punctuation_space

EXACT = "EXACT"
NUMERIC_EXACT = "NUMERIC_EXACT"
FUZZY = "FUZZY"


def _is_empty(v: Any) -> bool:
    return v is None or (isinstance(v, str) and not v.strip())


def levenshtein(s1: str, s2: str) -> int:
    """Plain DP edit distance (comparator.py:316-336 parity)."""
    len1, len2 = len(s1), len(s2)
    if len1 == 0:
        return len2
    if len2 == 0:
        return len1
    prev = list(range(len2 + 1))
    for i in range(1, len1 + 1):
        cur = [i] + [0] * len2
        c1 = s1[i - 1]
        for j in range(1, len2 + 1):
            cost = 0 if c1 == s2[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
        prev = cur
    return prev[len2]


def fuzz_score(s1: str, s2: str) -> float:
    s1 = strip_punctuation_space(s1)
    s2 = strip_punctuation_space(s2)
    if s1 == s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    max_len = max(len(s1), len(s2))
    return 1.0 - (levenshtein(s1, s2) / max_len if max_len else 0.0)


def compare_exact(expected: Any, actual: Any) -> tuple[bool, float]:
    if expected is None and actual is None:
        return True, 1.0
    if expected is None or actual is None:
        return False, 0.0
    if _is_empty(expected) and _is_empty(actual):
        return True, 1.0
    e = strip_punctuation_space(str(expected))
    a = strip_punctuation_space(str(actual))
    return (e == a), (1.0 if e == a else 0.0)


def compare_numeric(expected: Any, actual: Any) -> tuple[bool, float]:
    if expected is None and actual is None:
        return True, 1.0
    if _is_empty(expected) and _is_empty(actual):
        return True, 1.0
    if expected is None or actual is None:
        return False, 0.0
    try:
        e = normalize_numeric(expected)
        a = normalize_numeric(actual)
        return (e == a), (1.0 if e == a else 0.0)
    except ValueError:
        return compare_exact(expected, actual)


def compare_fuzzy(expected: Any, actual: Any, threshold: float = 0.8) -> tuple[bool, float]:
    if expected is None and actual is None:
        return True, 1.0
    if _is_empty(expected) and _is_empty(actual):
        return True, 1.0
    if expected is None or actual is None:
        return False, 0.0
    score = fuzz_score(str(expected), str(actual))
    return score >= threshold, score


def count_classifications(
    expected: Any,
    actual: Any,
    method: str = EXACT,
    threshold: float = 0.8,
) -> tuple[int, int, int, int, int, int, float, Optional[str]]:
    """(tn, fp, fn, tp, fp1, fp2, score, reason) — evaluation/service.py:323-404."""
    tn = fp = fn = tp = fp1 = fp2 = 0
    score = 0.0
    reason = None
    if _is_empty(expected):
        if _is_empty(actual):
            tn, score = 1, 1.0
            reason = "Both actual and expected values are missing, so they are matched."
        else:
            fp = fp1 = 1
    elif _is_empty(actual):
        fn = 1
    else:
        if method == NUMERIC_EXACT:
            matched, score = compare_numeric(expected, actual)
        elif method == FUZZY:
            matched, score = compare_fuzzy(expected, actual, threshold)
        else:
            matched, score = compare_exact(expected, actual)
        if matched:
            tp = 1
        else:
            fp = fp2 = 1
    return tn, fp, fn, tp, fp1, fp2, score, reason


# --------------------------------------------------------------------------
# metric formulas — evaluation/metrics.py:13-145
# --------------------------------------------------------------------------

def calculate_metrics(tp: int, fp: int, fn: int, tn: int = 0,
                      fp1: int = 0, fp2: int = 0) -> dict[str, float]:
    prec = tp / (tp + fp) if tp + fp > 0 else 0.0
    rec = tp / (tp + fn) if tp + fn > 0 else 0.0
    f1 = 2 * (prec * rec) / (prec + rec) if prec + rec > 0 else 0.0
    acc = (tp + tn) / (tp + fp + fn + tn) if (tp + fp + fn + tn) > 0 else 0.0
    far = fp1 / (fp1 + tn) if fp1 + tn > 0 else 0.0
    fdr = fp2 / (fp2 + tp) if fp2 + tp > 0 else 0.0
    return {
        "precision": prec,
        "recall": rec,
        "f1_score": f1,
        "accuracy": acc,
        "false_alarm_rate": far,
        "false_discovery_rate": fdr,
    }
