"""The --py-files archive of this package, for spark-submit and for
sessions that ship the package to their workers themselves.

Zips the package's source (``.py`` only, deterministic entry order,
pinned timestamps), so the same checkout always builds the same bytes.
"""

from __future__ import annotations

import os
import zipfile

PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def build(out_path: str) -> str:
    os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
    entries: list[tuple[str, str]] = []
    for dirpath, dirnames, filenames in os.walk(PKG_DIR):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(dirpath, fn)
            entries.append((full, os.path.relpath(full, os.path.dirname(PKG_DIR))))
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, arc in entries:
            with open(full, "rb") as f:
                data = f.read()
            info = zipfile.ZipInfo(arc, date_time=(2020, 1, 1, 0, 0, 0))
            info.external_attr = 0o644 << 16
            zf.writestr(info, data)
    return out_path
