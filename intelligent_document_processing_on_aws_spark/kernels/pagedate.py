"""Published-date extraction for web pages — the recency signal.

Freshness-aware corpus mixing, recrawl prioritization, and temporal
dedup all need a per-page publication date, but the web does not
serve one field: the standard practice (news crawlers, Common Crawl
derivatives) is a precedence ladder over redundant declarations.

Ladder (first hit wins), each from a distinct surface:

1. ``meta`` — ``article:published_time`` / ``article:modified_time``
   OG meta properties, or ``<meta name="date">``; head-bounded scan
   (same cost model as kernels/html_meta), W3C datetime values.
2. ``time_tag`` — the first ``<time datetime="...">`` anywhere in the
   body (HTML5's machine-readable date element).
3. ``url`` — a ``/YYYY/MM/DD/`` or ``/YYYY-MM-DD`` path segment
   (the blog/news permalink convention); sanity-ranged 1995..2035.

Outputs epoch seconds + which source won (how far the date can be
trusted). All surfaces missing -> NULL.

Reference scope: GenAIIDP has no crawl-side recency surface.
"""

from __future__ import annotations

import html
import re
from dataclasses import dataclass

from .sitemap import parse_lastmod

_META_RE = re.compile(
    # the keyword must END the attribute value (lookahead for quote,
    # whitespace or tag close): with the closing quote optional, any
    # name merely STARTING with 'date' (e.g. name="dateline") matched
    # and produced a false published-date
    r"""<meta\s[^>]*?(?:property|name)\s*=\s*["']?"""
    r"""(article:published_time|article:modified_time|date)"""
    r"""(?=["'\s>])[^>]*>""",
    re.I | re.S,
)
_CONTENT_RE = re.compile(r"""content\s*=\s*["']([^"']+)["']""", re.I)
_TIME_RE = re.compile(
    r"""<time\s[^>]*?datetime\s*=\s*["']([^"']+)["']""", re.I)
_HEAD_END_RE = re.compile(r"</head\s*>|<body[\s>]", re.I)
_URL_DATE_RE = re.compile(
    r"/(\d{4})[/-](\d{2})(?:[/-](\d{2}))?(?=[/?#.-]|$)")

# meta precedence: published beats modified beats bare date
_META_ORDER = ("article:published_time", "article:modified_time", "date")


@dataclass
class PageDate:
    epoch: int | None
    source: str | None          # meta | time_tag | url | None


def _meta_date(head: str) -> int | None:
    found: dict[str, int] = {}
    for m in _META_RE.finditer(head):
        key = m.group(1).lower()
        if key in found:
            continue                      # first declaration wins per key
        cm = _CONTENT_RE.search(m.group(0))
        if not cm:
            continue
        epoch = parse_lastmod(html.unescape(cm.group(1)))
        if epoch is not None:
            found[key] = epoch
    for key in _META_ORDER:
        if key in found:
            return found[key]
    return None


def _url_date(url: str) -> int | None:
    for m in _URL_DATE_RE.finditer(url or ""):
        y, mo = int(m.group(1)), int(m.group(2))
        d = int(m.group(3)) if m.group(3) else 1
        if 1995 <= y <= 2035 and 1 <= mo <= 12 and 1 <= d <= 31:
            iso = f"{y:04d}-{mo:02d}-{d:02d}"
            epoch = parse_lastmod(iso)
            if epoch is not None:         # rejects Feb 30 etc.
                return epoch
    return None


def extract_page_date(url: str, html_text: str) -> PageDate:
    """Total: any input yields a PageDate; never raises."""
    text = html_text or ""
    he = _HEAD_END_RE.search(text)
    head = text[: he.start()] if he else text
    epoch = _meta_date(head)
    if epoch is not None:
        return PageDate(epoch, "meta")
    tm = _TIME_RE.search(text)
    if tm:
        epoch = parse_lastmod(html.unescape(tm.group(1)))
        if epoch is not None:
            return PageDate(epoch, "time_tag")
    epoch = _url_date(url)
    if epoch is not None:
        return PageDate(epoch, "url")
    return PageDate(None, None)
