"""Batch-manifest parsing: the CLI input surface.

Parity with the reference CLI's ManifestParser
(idp_cli/idp_cli/manifest_parser.py:20-169): format from extension
(.csv/.txt -> CSV with a DictReader header, .json/.jsonl -> a JSON array
or an object with a ``documents`` key), per-row validation and
normalization (``document_path`` or ``path`` required; ``s3://`` prefixes
auto-type as s3 with a minimal URI shape check; anything else must be an
existing local path), optional ``baseline_source`` passthrough, and
row-numbered ValueError messages (CSV rows count from 2, JSON documents
from 1).

Pure driver-side functions: a manifest is small metadata — the DOCUMENTS
it names are what Spark reads.
"""

from __future__ import annotations

import csv
import json
import os
from pathlib import Path


def detect_manifest_format(manifest_path: str) -> str:
    ext = Path(manifest_path).suffix.lower()
    if ext in (".csv", ".txt"):
        return "csv"
    if ext in (".json", ".jsonl"):
        return "json"
    raise ValueError(f"Unsupported manifest format: {ext}. Use .csv or .json")


def _validate_and_normalize_row(row: dict, row_num: int) -> dict:
    if not isinstance(row, dict):
        raise ValueError(
            f"Row {row_num}: manifest entry must be an object, got "
            f"{type(row).__name__}"
        )
    raw = row.get("document_path") or row.get("path", "") or ""
    # non-string values (e.g. {"path": 123}) coerce, so a bad row raises
    # the row-numbered ValueError below, never an AttributeError
    document_path = str(raw).strip()
    if not document_path:
        raise ValueError(
            f"Row {row_num}: Missing required field 'document_path' or 'path'"
        )
    if document_path.startswith("s3://"):
        doc_type = "s3"
        if len(document_path) < 8 or "/" not in document_path[5:]:
            raise ValueError(f"Row {row_num}: Invalid S3 URI format: {document_path}")
    elif os.path.isabs(document_path) or os.path.exists(document_path):
        doc_type = "local"
        if not os.path.exists(document_path):
            raise ValueError(f"Row {row_num}: Local file not found: {document_path}")
    else:
        raise ValueError(
            f"Row {row_num}: Invalid path '{document_path}'. "
            "Use absolute local path or s3:// URI"
        )
    baseline = str(row.get("baseline_source") or "").strip() or None
    return {
        "path": document_path,
        "type": doc_type,
        "filename": os.path.basename(document_path),
        "baseline_source": baseline,
    }


def parse_manifest(manifest_path: str) -> list[dict]:
    """Manifest file -> normalized document specs (reference parse())."""
    fmt = detect_manifest_format(manifest_path)
    if fmt == "csv":
        with open(manifest_path, encoding="utf-8") as fh:
            return [
                _validate_and_normalize_row(row, row_num)
                for row_num, row in enumerate(csv.DictReader(fh), start=2)
            ]
    with open(manifest_path, encoding="utf-8") as fh:
        data = json.load(fh)
    if isinstance(data, list):
        documents_list = data
    elif isinstance(data, dict) and "documents" in data:
        documents_list = data["documents"]
    else:
        raise ValueError(
            "JSON manifest must be an array or object with 'documents' key"
        )
    return [
        _validate_and_normalize_row(doc, idx)
        for idx, doc in enumerate(documents_list, start=1)
    ]

