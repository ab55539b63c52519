"""RSS 2.0 / Atom feed parsing — the second crawl-discovery source
next to XML sitemaps (kernels/sitemap).

News/blog hosts publish change feeds long before sitemaps update; a
crawl frontier reads both. This parses the two wire formats that
cover effectively all of the feed web:

- **RSS 2.0**: ``<rss><channel>`` with ``<item>`` children; dates are
  RFC 822 (``Tue, 07 May 2024 13:01:02 GMT``), links are element text,
  ``<guid>`` is the dedup key.
- **Atom (RFC 4287)**: ``<feed>`` with ``<entry>`` children; dates are
  ISO-8601 ``<updated>``/``<published>``, links are ``href``
  attributes (``rel="alternate"`` preferred over other rels),
  ``<id>`` is the dedup key.

Reference scope: GenAIIDP ingests uploaded objects and has no
discovery surface; pairs with kernels/sitemap.py and
operators/cdx.frontier_fetchlist (a feed entry IS a (loc, lastmod)
row: link + pub_epoch).

Spec choices, pinned by tests and fixture goldens:

- gzip payloads and the BOM / ``<?xml encoding=?>`` / UTF-8 / cp1252
  decode chain are shared with the sitemap kernel.
- root detection: first ``<rss``/``<feed`` element (any namespace
  prefix); anything else -> ``kind='error'``.
- an entry without a usable link is skipped (counted); title/guid
  missing -> NULL; CDATA and XML entities both decode.
- RSS dates parse via RFC 822 (email.utils), Atom via W3C/ISO-8601
  (shared parse_lastmod); unparseable -> NULL. Atom prefers
  ``<updated>``; falls back to ``<published>``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from email.utils import parsedate_to_datetime

from .sitemap import _decode, parse_lastmod

_ROOT_RE = re.compile(r"<\s*(?:[A-Za-z0-9._-]+:)?(rss|feed)[\s>]")
_ITEM_RE = re.compile(
    # open tag may carry attributes (Atom xml:lang, gd:etag, RDF
    # rdf:about ...) — the bare-tag-only spelling silently dropped such
    # entries without counting them in n_skipped. A '/' before '>' is a
    # self-closing tag with no body, not an open tag: taking it as one
    # would swallow the text up to the next real entry's close tag
    r"<\s*(?:[A-Za-z0-9._-]+:)?(item|entry)(?:\s[^>]*)?(?<!/)>(.*?)"
    r"<\s*/\s*(?:[A-Za-z0-9._-]+:)?\1\s*>",
    re.S | re.I,
)
_CDATA_RE = re.compile(r"<!\[CDATA\[(.*?)\]\]>", re.S)
# Atom <link ... href="..."> (self-closing or not); keep full tag to
# inspect rel=
_ATOM_LINK_RE = re.compile(r"<\s*(?:[A-Za-z0-9._-]+:)?link\b([^>]*)>", re.I)
_HREF_RE = re.compile(r"""href\s*=\s*["']([^"']*)["']""", re.I)
_REL_RE = re.compile(r"""rel\s*=\s*["']([^"']*)["']""", re.I)


def _text_field(body: str, name: str) -> str | None:
    m = re.search(
        rf"<\s*(?:[A-Za-z0-9._-]+:)?{name}(?:\s[^>]*)?>(.*?)"
        rf"<\s*/\s*(?:[A-Za-z0-9._-]+:)?{name}\s*>",
        body, re.S | re.I,
    )
    if not m:
        return None
    raw = m.group(1)
    cm = _CDATA_RE.search(raw)
    if cm:
        raw = cm.group(1)
    else:
        import html
        raw = html.unescape(raw)
    out = " ".join(raw.split())
    return out or None


def parse_rfc822(s: str) -> int | None:
    try:
        dt = parsedate_to_datetime(s.strip())
    except (ValueError, TypeError):
        return None
    if dt.tzinfo is None:
        from datetime import timezone
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp())


@dataclass
class FeedEntry:
    link: str
    title: str | None = None
    guid: str | None = None
    pub_epoch: int | None = None


@dataclass
class FeedResult:
    kind: str                      # rss | atom | error
    feed_title: str | None = None
    entries: list[FeedEntry] = field(default_factory=list)
    n_skipped: int = 0
    error: str | None = None


def _atom_link(body: str) -> str | None:
    """href of the rel="alternate" link (or the first rel-less link);
    any other rel (self, enclosure, ...) only as a last resort."""
    best, fallback = None, None
    for m in _ATOM_LINK_RE.finditer(body):
        attrs = m.group(1)
        href = _HREF_RE.search(attrs)
        if not href or not href.group(1):
            continue
        rel = _REL_RE.search(attrs)
        relv = rel.group(1).lower() if rel else ""
        if relv in ("", "alternate"):
            if best is None:
                best = href.group(1)
        elif fallback is None:
            fallback = href.group(1)
    return best or fallback


def parse_feed(raw: bytes) -> FeedResult:
    """Total: any payload yields a FeedResult; never raises."""
    try:
        text = _decode(bytes(raw or b""))
    except ValueError as e:
        return FeedResult(kind="error", error=str(e))

    root = _ROOT_RE.search(text)
    if not root:
        return FeedResult(kind="error", error="no rss/feed root")
    kind = "rss" if root.group(1).lower() == "rss" else "atom"
    want_block = "item" if kind == "rss" else "entry"

    # feed-level title: first <title> BEFORE the first entry block
    first_item = _ITEM_RE.search(text, root.end())
    head = text[root.end():first_item.start()] if first_item else text[root.end():]
    out = FeedResult(kind=kind, feed_title=_text_field(head, "title"))

    for m in _ITEM_RE.finditer(text, root.end()):
        if m.group(1).lower() != want_block:
            continue
        body = m.group(2)
        if kind == "rss":
            link = _text_field(body, "link")
            guid = _text_field(body, "guid")
            date = _text_field(body, "pubDate")
            pub = parse_rfc822(date) if date else None
        else:
            link = _atom_link(body)
            guid = _text_field(body, "id")
            date = _text_field(body, "updated") or _text_field(body, "published")
            pub = parse_lastmod(date) if date else None
        if not link:
            out.n_skipped += 1
            continue
        out.entries.append(FeedEntry(link=link, title=_text_field(body, "title"),
                                     guid=guid, pub_epoch=pub))
    return out
