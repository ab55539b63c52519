"""Document class / attribute configuration (schema system).

Mirrors the reference's YAML `classes:` config with attributeType
simple | group | list (config_library/pattern-2/bank-statement-sample/
config.yaml:22-69) plus the classification shortcut regexes
(classification/service.py:191-210 document_name_regex, :570-597
document_page_content_regex) and per-attribute evaluation_method /
evaluation_threshold. Configuration is data, not code: the operators read
this dict; users supply their own of the same shape.
"""

from __future__ import annotations

import re

DEFAULT_CLASS = "webpage"

DOC_CLASSES: dict[str, dict] = {
    "tax_form": {
        # doc-name regex shortcut: url match => whole doc is this class,
        # single section, no per-page classification (service.py:191-210)
        "document_name_regex": r"taxform",
        "attributes": [
            {"name": "Form Type", "type": "simple",
             "pattern": r"FORM TYPE:\s*([^\n]+)", "method": "EXACT"},
            {"name": "Tax Year", "type": "simple",
             "pattern": r"TAX YEAR:\s*([^\n]+)", "method": "NUMERIC_EXACT"},
        ],
    },
    "bank_statement": {
        "document_page_content_regex": r"ACCOUNT NO:",
        "attributes": [
            {"name": "Account Number", "type": "simple",
             "pattern": r"ACCOUNT NO:\s*([^\n]+)", "method": "EXACT"},
            {"name": "Statement Period", "type": "simple",
             "pattern": r"STATEMENT PERIOD:\s*([^\n]+)", "method": "FUZZY",
             "threshold": 0.8},
            {"name": "Account Holder Address", "type": "group",
             "group": [
                 ("Street Number", r"STREET NUMBER:\s*([^\n]+)", "EXACT", None),
                 ("Street Name", r"STREET NAME:\s*([^\n]+)", "FUZZY", 0.8),
                 ("City", r"CITY:\s*([^\n]+)", "EXACT", None),
                 ("State", r"STATE:\s*([^\n]+)", "EXACT", None),
                 ("ZIP", r"ZIP:\s*([^\n]+)", "EXACT", None),
             ]},
            {"name": "Transactions", "type": "list",
             "item_pattern": r"TXN ([^|\n]+) \| ([^|\n]+) \| ([^\n]+)",
             "item_fields": [
                 ("Date", "FUZZY", 0.9),
                 ("Description", "EXACT", None),
                 ("Amount", "NUMERIC_EXACT", None),
             ]},
        ],
    },
    "invoice": {
        "document_page_content_regex": r"INVOICE NO:",
        "attributes": [
            {"name": "invoice_number", "type": "simple",
             "pattern": r"INVOICE NO:\s*([^\n]+)", "method": "EXACT"},
            {"name": "total", "type": "simple",
             "pattern": r"TOTAL:\s*([^\n]+)", "method": "NUMERIC_EXACT"},
            {"name": "date", "type": "simple",
             "pattern": r"DATE:\s*([^\n]+)", "method": "FUZZY", "threshold": 0.8},
            {"name": "vendor_name", "type": "simple",
             "pattern": r"VENDOR:\s*([^\n]+)", "method": "FUZZY", "threshold": 0.8},
        ],
    },
    "webpage": {
        "attributes": [
            {"name": "title", "type": "simple",
             "pattern": r"TITLE:\s*([^\n]+)", "method": "FUZZY", "threshold": 0.8},
            {"name": "body_excerpt", "type": "simple",
             "pattern": r"BODY:\s*([^\n]+)", "method": "FUZZY", "threshold": 0.7},
        ],
    },
}

BOUNDARY_START_MARKER = "BEGIN DOCUMENT"


def extract_attributes(doc_class: str, text: str,
                       classes: dict | None = None) -> dict:
    """Deterministic regex attribute extractor for one section's text.

    The heuristic stand-in for the reference's per-section LLM extraction
    (extraction/service.py:931-1459): emits the nested simple/group/list
    shape the class config declares. Empty-attribute classes short-circuit
    to {} (reference :1058-1102).
    """
    classes = classes or DOC_CLASSES
    cfg = classes.get(doc_class)
    if not cfg or not cfg.get("attributes"):
        return {}
    out: dict = {}
    for attr in cfg["attributes"]:
        if attr["type"] == "simple":
            m = re.search(attr["pattern"], text)
            out[attr["name"]] = m.group(1).strip() if m else None
        elif attr["type"] == "group":
            grp = {}
            for sub_name, pattern, _m, _t in attr["group"]:
                m = re.search(pattern, text)
                grp[sub_name] = m.group(1).strip() if m else None
            out[attr["name"]] = grp
        elif attr["type"] == "list":
            items = []
            fields = [f[0] for f in attr["item_fields"]]
            for m in re.finditer(attr["item_pattern"], text):
                items.append(
                    {f: m.group(i + 1).strip() for i, f in enumerate(fields)}
                )
            out[attr["name"]] = items
    return out


def eval_config_rows(classes: dict | None = None) -> list[dict]:
    """Flattened-path evaluation config: one row per (class, norm_path) with
    method + threshold — the join dimension for the evaluation engine
    (alignment semantics of evaluation/service.py:546-659; list paths
    normalized to `Name[].Field`)."""
    classes = classes or DOC_CLASSES
    rows = []
    for cls, cfg in classes.items():
        for attr in cfg.get("attributes", []):
            if attr["type"] == "simple":
                rows.append({"classification": cls, "norm_path": attr["name"],
                             "method": attr.get("method", "EXACT"),
                             "threshold": float(attr.get("threshold") or 0.8)})
            elif attr["type"] == "group":
                for sub, _p, method, thr in attr["group"]:
                    rows.append({"classification": cls,
                                 "norm_path": f"{attr['name']}.{sub}",
                                 "method": method,
                                 "threshold": float(thr or 0.8)})
            elif attr["type"] == "list":
                for field, method, thr in attr["item_fields"]:
                    rows.append({"classification": cls,
                                 "norm_path": f"{attr['name']}[].{field}",
                                 "method": method,
                                 "threshold": float(thr or 0.8)})
    return rows
