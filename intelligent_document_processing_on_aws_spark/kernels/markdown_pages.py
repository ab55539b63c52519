"""Markdown pagination with table-header carryover (reference parity).

Behavioral mirror of the reference's markdown page splitter minus image
rendering (lib/idp_common_pkg/idp_common/ocr/document_converter.py:
1149-1272): pages are fixed chunks of ``(page_height - 2*margin) // 18``
markdown lines; when a page boundary falls inside a pipe table, that
table's header + separator rows are prepended to the new page
(:1316-1397). Semantics preserved exactly, including the half-open
``start < page_start <= end`` membership test and the "first header within
the table range" lookup; implementation is original.
"""

from __future__ import annotations

from .pagination import MARGIN, PAGE_HEIGHT

MD_LINE_HEIGHT = 18  # markdown renderer line height (reference :1181)


def _is_table_row(line: str) -> bool:
    s = line.strip()
    return s.startswith("|") and "|" in s[1:]


def _is_separator_row(line: str) -> bool:
    return "---" in line and "|" in line


def find_tables(lines: list[str]) -> list[tuple[int, int, str, str]]:
    """Locate pipe tables: returns (start, end, header_line, separator_line)
    per table, where start/end are inclusive line indexes of the table."""
    tables: list[tuple[int, int, str, str]] = []
    i = 0
    n = len(lines)
    while i < n:
        if _is_table_row(lines[i]) and i + 1 < n and _is_separator_row(lines[i + 1]):
            end = i + 1
            j = i + 2
            while j < n and _is_table_row(lines[j]):
                end = j
                j += 1
            tables.append((i, end, lines[i], lines[i + 1]))
            i = end + 1
        else:
            i += 1
    return tables


def carry_table_header(chunk: list[str], tables: list[tuple[int, int, str, str]],
                       page_start: int) -> list[str]:
    """Prepend header+separator when the page starts strictly inside a
    table (start < page_start <= end)."""
    if not chunk:
        return chunk
    for start, end, header, separator in tables:
        if start < page_start <= end:
            return [header, separator] + chunk
    return chunk


def markdown_to_pages(markdown_content: str) -> list[str]:
    """Split markdown into page texts with table-header carryover."""
    per_page = (PAGE_HEIGHT - 2 * MARGIN) // MD_LINE_HEIGHT
    lines = markdown_content.split("\n")
    tables = find_tables(lines)
    pages = [
        "\n".join(carry_table_header(lines[i : i + per_page], tables, i))
        for i in range(0, len(lines), per_page)
    ]
    return pages if pages else [markdown_content]
