"""Multi-page packet fixtures: sectioning + attribute + evaluation oracles.

FIXTURES.md §3-5: deterministic multi-document packets whose per-page class
labels, section groupings, and attribute values are known by construction.
Covers every reference grouping rule (classification/service.py:1823-1884):
class-change splits, boundary=="start" splits between same-class documents,
and the document_name_regex whole-doc shortcut (:191-210, single section).

Packet d is fully determined by random.Random(f"packet-{d}-42").

The *actual* (perturbed) extraction results for the evaluation engine are
derived deterministically from the golden values with per-path seeds —
typos for FUZZY paths, format variants for NUMERIC paths, wrong/missing/
spurious values — exercising every tn/fp/fn/tp/fp1/fp2 branch of
evaluation/service.py:323-404.
"""

from __future__ import annotations

import json
import random

from ..config import BOUNDARY_START_MARKER
from ..kernels.textnorm import flatten_nested_data
from .pages_gen import WORDS

CLASSES = ("bank_statement", "invoice", "webpage")
STATES = ("IL", "CA", "NY", "TX")
MONTHS = ("January", "February", "March", "April")


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _gen_bank_values(rng: random.Random) -> dict:
    month = rng.choice(MONTHS)
    txns = []
    for _ in range(2 + rng.randrange(4)):
        txns.append(
            {
                "Date": f"2025-01-{1 + rng.randrange(28):02d}",
                "Description": _words(rng, 2),
                "Amount": f"{rng.uniform(1, 2000):.2f}",
            }
        )
    return {
        "Account Number": str(rng.randrange(10**9, 10**10)),
        "Statement Period": f"{month} 1 to {month} 28 2025",
        "Account Holder Address": {
            "Street Number": str(rng.randrange(1, 9999)),
            "Street Name": f"{_words(rng, 1).capitalize()} Street",
            "City": _words(rng, 1).capitalize(),
            "State": rng.choice(STATES),
            "ZIP": f"{rng.randrange(10000, 99999)}",
        },
        "Transactions": txns,
    }


def _gen_invoice_values(rng: random.Random) -> dict:
    return {
        "invoice_number": f"INV-{rng.randrange(1, 100000):05d}",
        "total": f"${rng.uniform(10, 90000):,.2f}",
        # ~15% of invoices genuinely lack a date (None golden -> tn/fp1 cases)
        "date": None if rng.random() < 0.15 else f"2025-0{1 + rng.randrange(4)}-{1 + rng.randrange(28):02d}",
        "vendor_name": " ".join(w.capitalize() for w in _words(rng, 2).split()),
    }


def _gen_webpage_values(rng: random.Random) -> dict:
    return {"title": _words(rng, 4), "body_excerpt": _words(rng, 12)}


def _segment_pages(rng: random.Random, cls: str, values: dict) -> list[str]:
    """Page texts for one document segment. Every page carries the class's
    content-regex marker (statements/invoices repeat headers per page);
    page 1 starts with the boundary marker and the full attribute block."""
    npages = 1 + rng.randrange(3)
    pages = []
    if cls == "bank_statement":
        header = f"ACCOUNT NO: {values['Account Number']}"
        addr = values["Account Holder Address"]
        first = [
            BOUNDARY_START_MARKER,
            header,
            f"STATEMENT PERIOD: {values['Statement Period']}",
            f"STREET NUMBER: {addr['Street Number']}",
            f"STREET NAME: {addr['Street Name']}",
            f"CITY: {addr['City']}",
            f"STATE: {addr['State']}",
            f"ZIP: {addr['ZIP']}",
        ]
        txns = values["Transactions"]
        per_page = max(1, len(txns) // npages + (1 if len(txns) % npages else 0))
        chunks = [txns[i : i + per_page] for i in range(0, len(txns), per_page)]
        for p in range(npages):
            lines = first[:] if p == 0 else [header]
            lines += [
                f"TXN {t['Date']} | {t['Description']} | {t['Amount']}"
                for t in (chunks[p] if p < len(chunks) else [])
            ]
            lines.append(_words(rng, 6))
            pages.append("\n".join(lines))
    elif cls == "invoice":
        header = f"INVOICE NO: {values['invoice_number']}"
        first = [BOUNDARY_START_MARKER, header, f"TOTAL: {values['total']}"]
        if values["date"] is not None:
            first.append(f"DATE: {values['date']}")
        first.append(f"VENDOR: {values['vendor_name']}")
        for p in range(npages):
            lines = first[:] if p == 0 else [header, _words(rng, 8)]
            lines.append(_words(rng, 6))
            pages.append("\n".join(lines))
    else:  # webpage
        header = f"TITLE: {values['title']}"
        for p in range(npages):
            if p == 0:
                lines = [BOUNDARY_START_MARKER, header,
                         f"BODY: {values['body_excerpt']}"]
            else:
                lines = [header, _words(rng, 10)]
            pages.append("\n".join(lines))
    return pages


def gen_packet(d: int) -> dict:
    """One packet: pages + golden sections + golden attributes."""
    rng = random.Random(f"packet-{d}-42")
    is_taxform = d % 10 == 0
    url = f"https://docs.example/{'taxform-' if is_taxform else ''}packet/{d:05d}"

    pages: list[str] = []
    sections: list[dict] = []

    if is_taxform:
        values = {
            "Form Type": rng.choice(("W-2", "1099-MISC", "1040")),
            "Tax Year": str(rng.randrange(2019, 2025)),
        }
        npages = 1 + rng.randrange(3)
        for p in range(npages):
            if p == 0:
                pages.append(
                    f"FORM TYPE: {values['Form Type']}\n"
                    f"TAX YEAR: {values['Tax Year']}\n" + _words(rng, 8)
                )
            else:
                pages.append(_words(rng, 10))
        sections.append(
            {
                "section_id": "1",
                "classification": "tax_form",
                "page_nums": list(range(1, npages + 1)),
                "attributes": values,
            }
        )
    else:
        nseg = 1 + rng.randrange(3)
        page_no = 1
        for _ in range(nseg):
            cls = rng.choice(CLASSES)
            values = {
                "bank_statement": _gen_bank_values,
                "invoice": _gen_invoice_values,
                "webpage": _gen_webpage_values,
            }[cls](rng)
            seg_pages = _segment_pages(rng, cls, values)
            sections.append(
                {
                    "section_id": str(len(sections) + 1),
                    "classification": cls,
                    "page_nums": list(range(page_no, page_no + len(seg_pages))),
                    "attributes": values,
                }
            )
            pages.extend(seg_pages)
            page_no += len(seg_pages)

    for s in sections:
        s["section_text"] = "\n".join(pages[p - 1] for p in s["page_nums"])
    return {"doc_id": d, "url": url, "pages": pages, "sections": sections}


# ---------------------------------------------------------------------------
# Perturbed "actual" extraction results for the evaluation engine
# ---------------------------------------------------------------------------

def _typo(rng: random.Random, s: str) -> str:
    if len(s) < 4:
        return s + "x"
    i = 1 + rng.randrange(len(s) - 2)
    return s[:i] + s[i + 1] + s[i] + s[i + 2:]


def perturb_attributes(d: int, section_id: str, golden: dict) -> dict:
    """Deterministically perturb a section's golden attribute dict."""
    flat = flatten_nested_data(golden)
    out: dict = {}
    for path, value in flat.items():
        rng = random.Random(f"perturb-{d}-{section_id}-{path}")
        r = rng.random()
        if value is None or (isinstance(value, str) and not value.strip()):
            # expected empty: 30% spurious value (fp1), else stays empty (tn)
            out[path] = "unexpected extra" if r < 0.30 else None
        elif r < 0.55:
            out[path] = value            # identical -> tp
        elif r < 0.70:
            out[path] = _typo(rng, str(value))   # near miss (tp for FUZZY, fp2 for EXACT)
        elif r < 0.80:
            out[path] = "wrong " + _words(rng, 1)  # wrong -> fp2
        elif r < 0.90:
            out[path] = None             # missing -> fn
        else:
            # format variant: NUMERIC-parseable values get $/comma dressing (tp)
            try:
                num = float(str(value).replace("$", "").replace(",", ""))
                out[path] = f"${num:,.2f}"
            except ValueError:
                out[path] = value
    return _unflatten(out)


def _unflatten(flat: dict) -> dict:
    """Inverse of flatten_nested_data for the path grammar we emit
    (`a.b`, `a[i].b`)."""
    root: dict = {}
    for path, value in flat.items():
        parts = []
        for seg in path.split("."):
            if "[" in seg:
                name, idx = seg[:-1].split("[")
                parts.append((name, int(idx)))
            else:
                parts.append((seg, None))
        cur = root
        for i, (name, idx) in enumerate(parts):
            last = i == len(parts) - 1
            if idx is None:
                if last:
                    cur[name] = value
                else:
                    cur = cur.setdefault(name, {})
            else:
                lst = cur.setdefault(name, [])
                while len(lst) <= idx:
                    lst.append({})
                if last:
                    lst[idx] = value
                else:
                    cur = lst[idx]
    return root


def _conf_leaf(d: int, sid: str, path: str) -> tuple[dict, float, float | None]:
    rng = random.Random(f"conf-{d}-{sid}-{path}")
    conf = round(rng.uniform(0.5, 1.0), 2)
    thr = None if rng.random() < 0.2 else rng.choice((0.8, 0.9))
    leaf = {"confidence": conf}
    if thr is not None:
        leaf["confidence_threshold"] = thr
    return leaf, conf, thr


def build_conf_tree(
    d: int, sid: str, node: dict, path: str = ""
) -> tuple[dict, list[tuple[str, float, float | None]]]:
    """Mirror an attributes dict as an explainability_info tree with
    {confidence, confidence_threshold} leaves; also returns the flat
    (path, confidence, threshold) rows computed from the construction —
    the golden for the flatten kernel (never via the kernel itself)."""
    tree: dict = {}
    flat: list[tuple[str, float, float | None]] = []
    for key, value in node.items():
        p = f"{path}.{key}" if path else key
        if isinstance(value, dict):
            sub, fl = build_conf_tree(d, sid, value, p)
            tree[key] = sub
            flat.extend(fl)
        elif isinstance(value, list):
            items = []
            for i, item in enumerate(value):
                if isinstance(item, dict):
                    sub, fl = build_conf_tree(d, sid, item, f"{p}[{i}]")
                    items.append(sub)
                    flat.extend(fl)
            tree[key] = items
        else:
            leaf, conf, thr = _conf_leaf(d, sid, p)
            tree[key] = leaf
            flat.append((p, conf, thr))
    return tree, flat


def gen_packets(n: int) -> list[dict]:
    return [gen_packet(d) for d in range(n)]


def packet_tables(n: int) -> dict[str, list[dict]]:
    """Materialize all fixture tables for n packets."""
    pages_rows, section_rows, attr_rows, actual_rows = [], [], [], []
    flat_exp_rows, flat_act_rows = [], []
    payload_rows, flat_conf_rows = [], []
    for pk in gen_packets(n):
        d, url = pk["doc_id"], pk["url"]
        for i, text in enumerate(pk["pages"], start=1):
            pages_rows.append(
                {"doc_id": d, "page_num": i, "url": url, "text": text}
            )
        for s in pk["sections"]:
            section_rows.append(
                {
                    "doc_id": d,
                    "section_id": s["section_id"],
                    "classification": s["classification"],
                    "page_nums_json": json.dumps(s["page_nums"], separators=(",", ":")),
                    "section_text": s["section_text"],
                }
            )
            attrs_json = json.dumps(s["attributes"], sort_keys=True)
            attr_rows.append(
                {
                    "doc_id": d,
                    "section_id": s["section_id"],
                    "classification": s["classification"],
                    "attributes_json": attrs_json,
                }
            )
            actual = perturb_attributes(d, s["section_id"], s["attributes"])
            actual_rows.append(
                {
                    "doc_id": d,
                    "section_id": s["section_id"],
                    "classification": s["classification"],
                    "attributes_json": json.dumps(actual, sort_keys=True),
                }
            )
            for path, v in flatten_nested_data(s["attributes"]).items():
                flat_exp_rows.append(
                    {"doc_id": d, "section_id": s["section_id"],
                     "classification": s["classification"], "attr_path": path,
                     "value": None if v is None else str(v)}
                )
            for path, v in flatten_nested_data(actual).items():
                flat_act_rows.append(
                    {"doc_id": d, "section_id": s["section_id"],
                     "classification": s["classification"], "attr_path": path,
                     "value": None if v is None else str(v)}
                )
            # full extraction-result payload: inference_result envelope +
            # explainability_info confidence tree (evaluation/service.py:
            # 276-321 input shape); golden flat rows from the construction
            conf_tree, conf_flat = build_conf_tree(d, s["section_id"], actual)
            payload_rows.append(
                {"doc_id": d, "section_id": s["section_id"],
                 "payload_json": json.dumps(
                     {"inference_result": actual,
                      "explainability_info": [conf_tree]},
                     sort_keys=True)}
            )
            for path, conf, thr in conf_flat:
                flat_conf_rows.append(
                    {"doc_id": d, "section_id": s["section_id"],
                     "attr_path": path, "confidence": conf,
                     "confidence_threshold": thr}
                )
    return {
        "packet_pages": pages_rows,
        "extraction_payloads": payload_rows,
        "golden_flat_confidence": flat_conf_rows,
        "golden_sections": section_rows,
        "golden_attributes": attr_rows,
        "actual_attributes": actual_rows,
        "flat_expected": flat_exp_rows,
        "flat_actual": flat_act_rows,
    }
