"""XML sitemap parsing (sitemaps.org protocol) — the crawl-frontier
source robots.txt points at.

kernels/robots.py surfaces ``Sitemap:`` lines without interpreting
them; this module parses the documents those URLs serve: ``<urlset>``
leaf sitemaps (per-URL ``loc`` / ``lastmod`` / ``changefreq`` /
``priority``) and ``<sitemapindex>`` indexes (child sitemap ``loc`` /
``lastmod``).  Paired with the CDX capture index it yields the
new-or-stale fetch list — the polite-recrawl frontier.

Reference scope: GenAIIDP ingests uploaded objects and has no crawl
frontier at all; this is part of the Common-Crawl-scale ingestion
surface this engine adds (pairs with operators/cdx.py and
kernels/robots.py).

Parsing is deliberately lenient (regex tokenizer, not a strict XML
parser): real-world sitemaps carry namespace prefixes, stray
whitespace inside tags, XML entities in URLs, and junk fields.  Spec
choices, pinned by tests and the fixture goldens:

- gzip payloads (``.xml.gz``, magic ``1f 8b``) decompress first;
  encoding comes from the BOM, the ``<?xml encoding=?>`` declaration,
  UTF-8, then windows-1252 — in that order.
- the root kind is the first ``urlset`` / ``sitemapindex`` element
  (any namespace prefix); anything else is ``kind='error'``.
- an entry without a non-empty ``<loc>`` is skipped.
- ``lastmod`` accepts W3C datetime (date-only = midnight UTC; missing
  zone = UTC) and normalizes to epoch seconds; unparseable -> NULL.
- ``changefreq`` outside the protocol's seven tokens -> NULL;
  ``priority`` outside [0, 1] or non-numeric -> NULL.
- entries cap at MAX_ENTRIES (the protocol's 50 000 limit); the
  overflow count is reported so callers can audit truncation.
"""

from __future__ import annotations

import gzip
import html
import re
import zlib
from dataclasses import dataclass, field
from datetime import datetime, timezone

MAX_ENTRIES = 50_000

CHANGEFREQS = frozenset(
    ("always", "hourly", "daily", "weekly", "monthly", "yearly", "never")
)

_XML_DECL_RE = re.compile(rb'<\?xml[^>]*encoding=["\']([A-Za-z0-9._-]+)["\']')
_ROOT_RE = re.compile(r"<\s*(?:[A-Za-z0-9._-]+:)?(urlset|sitemapindex)[\s>]")
_URL_BLOCK_RE = re.compile(
    # open tag may carry attributes — same fix as feeds._ITEM_RE, so
    # attribute-carrying blocks are parsed instead of silently dropped
    # (and self-closing ones are not taken for open tags)
    r"<\s*(?:[A-Za-z0-9._-]+:)?(url|sitemap)(?:\s[^>]*)?(?<!/)>(.*?)"
    r"<\s*/\s*(?:[A-Za-z0-9._-]+:)?\1\s*>",
    re.S | re.I,
)
_FIELD_RES = {
    f: re.compile(
        rf"<\s*(?:[A-Za-z0-9._-]+:)?{f}\s*>(.*?)<\s*/\s*(?:[A-Za-z0-9._-]+:)?{f}\s*>",
        re.S | re.I,
    )
    for f in ("loc", "lastmod", "changefreq", "priority")
}

_DATE_ONLY_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


@dataclass
class SitemapEntry:
    loc: str
    lastmod_epoch: int | None = None
    changefreq: str | None = None
    priority: float | None = None


@dataclass
class SitemapResult:
    kind: str                      # urlset | sitemapindex | error
    entries: list[SitemapEntry] = field(default_factory=list)
    n_skipped: int = 0             # blocks without a usable <loc>
    n_overflow: int = 0            # entries beyond MAX_ENTRIES
    error: str | None = None


def _decode(raw: bytes) -> str:
    if raw[:2] == b"\x1f\x8b":
        try:
            raw = gzip.decompress(raw)
        except (OSError, EOFError, zlib.error) as e:
            raise ValueError(f"gzip: {e}") from e
    if raw[:3] == b"\xef\xbb\xbf":
        return raw[3:].decode("utf-8", "replace")
    m = _XML_DECL_RE.search(raw[:256])
    if m:
        label = m.group(1).decode("ascii", "ignore").lower()
        try:
            return raw.decode(label)
        except (LookupError, UnicodeDecodeError):
            pass
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("windows-1252", "replace")


def parse_lastmod(s: str) -> int | None:
    """W3C datetime -> epoch seconds (date-only = midnight UTC,
    missing zone = UTC); None when unparseable."""
    s = s.strip()
    if not s:
        return None
    try:
        if _DATE_ONLY_RE.match(s):
            dt = datetime.fromisoformat(s + "T00:00:00+00:00")
        else:
            dt = datetime.fromisoformat(s)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp())
    except ValueError:
        return None


def _field(body: str, name: str) -> str | None:
    m = _FIELD_RES[name].search(body)
    if not m:
        return None
    return html.unescape(m.group(1)).strip() or None


def parse_sitemap(raw: bytes) -> SitemapResult:
    """Total: any payload yields a SitemapResult; never raises."""
    try:
        text = _decode(bytes(raw or b""))
    except ValueError as e:
        return SitemapResult(kind="error", error=str(e))

    root = _ROOT_RE.search(text)
    if not root:
        return SitemapResult(kind="error", error="no urlset/sitemapindex root")
    kind = root.group(1).lower()
    want_block = "url" if kind == "urlset" else "sitemap"

    out = SitemapResult(kind=kind)
    for m in _URL_BLOCK_RE.finditer(text, root.end()):
        if m.group(1).lower() != want_block:
            continue
        body = m.group(2)
        loc = _field(body, "loc")
        if not loc:
            out.n_skipped += 1
            continue
        if len(out.entries) >= MAX_ENTRIES:
            out.n_overflow += 1
            continue
        lastmod = _field(body, "lastmod")
        entry = SitemapEntry(loc=loc,
                             lastmod_epoch=parse_lastmod(lastmod or ""))
        if kind == "urlset":
            cf = _field(body, "changefreq")
            if cf and cf.lower() in CHANGEFREQS:
                entry.changefreq = cf.lower()
            pr = _field(body, "priority")
            if pr is not None:
                try:
                    v = float(pr)
                except ValueError:
                    v = None
                if v is not None and 0.0 <= v <= 1.0:
                    entry.priority = v
        out.entries.append(entry)
    return out
