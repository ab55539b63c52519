"""kernels/feeds — RSS/Atom parsing unit + differential tests.

Spark-level parity (query vs composition-fact golden) runs in the
oracle sweep; these pin date-format dispatch (RFC 822 vs ISO-8601),
CDATA/entity decoding, the Atom link rel preference, skip counting,
and totality.
"""

import gzip

from intelligent_document_processing_on_aws_spark.fixtures.feeds_gen import (
    gen_feed_docs,
)
from intelligent_document_processing_on_aws_spark.kernels.feeds import (
    parse_feed,
    parse_rfc822,
)


def _rss(inner: str) -> bytes:
    return f'<rss version="2.0"><channel>{inner}</channel></rss>'.encode()


def test_rss_plain():
    r = parse_feed(_rss(
        "<title>My Feed</title>"
        "<item><title>Post One</title><link>https://a.com/1</link>"
        '<guid isPermaLink="false">g1</guid>'
        "<pubDate>Tue, 07 May 2024 13:01:02 GMT</pubDate></item>"
    ))
    assert r.kind == "rss" and r.feed_title == "My Feed"
    e = r.entries[0]
    assert e.link == "https://a.com/1" and e.guid == "g1"
    assert e.pub_epoch == 1715086862
    assert e.title == "Post One"


def test_rss_cdata_and_entities():
    r = parse_feed(_rss(
        "<title>T &amp; U</title>"
        "<item><title><![CDATA[A — review & notes]]></title>"
        "<link>https://a.com/?x=1&amp;y=2</link></item>"
    ))
    assert r.feed_title == "T & U"
    assert r.entries[0].title == "A — review & notes"
    assert r.entries[0].link == "https://a.com/?x=1&y=2"


def test_atom_link_rel_preference():
    r = parse_feed(
        b"<feed><title>F</title><entry>"
        b'<link rel="self" href="https://f.com/self"/>'
        b'<link rel="enclosure" href="https://f.com/a.mp3"/>'
        b'<link rel="alternate" href="https://f.com/post"/>'
        b"<updated>2024-05-06T07:08:09Z</updated></entry></feed>"
    )
    assert r.kind == "atom"
    assert r.entries[0].link == "https://f.com/post"
    assert r.entries[0].pub_epoch == 1714979289


def test_atom_published_fallback_and_relless_link():
    r = parse_feed(
        b"<feed><title>F</title><entry>"
        b'<link href="https://f.com/p"/>'
        b"<published>2024-01-02T00:00:00Z</published></entry></feed>"
    )
    assert r.entries[0].link == "https://f.com/p"
    assert r.entries[0].pub_epoch == 1704153600


def test_linkless_items_skipped_and_bad_dates_null():
    r = parse_feed(_rss(
        "<title>t</title>"
        "<item><title>orphan</title></item>"
        "<item><link>https://a.com/x</link><pubDate>soon</pubDate></item>"
    ))
    assert r.n_skipped == 1
    assert len(r.entries) == 1 and r.entries[0].pub_epoch is None


def test_gzip_and_error_paths():
    ok = parse_feed(gzip.compress(_rss("<title>z</title>")))
    assert ok.kind == "rss" and ok.feed_title == "z"
    assert parse_feed(gzip.compress(_rss("<title>z</title>"))[:15]).kind == "error"
    assert parse_feed(b"<html></html>").kind == "error"
    for raw in (b"", None, b"\x00"):
        assert parse_feed(raw).kind == "error"


def test_rfc822_forms():
    assert parse_rfc822("Tue, 07 May 2024 13:01:02 +0200") == 1715079662
    # zoneless RFC822 = UTC
    assert parse_rfc822("Tue, 07 May 2024 13:01:02") == 1715086862
    assert parse_rfc822("not a date") is None


def test_differential_against_generator_facts():
    for d in gen_feed_docs(320):
        r = parse_feed(d["raw"])
        assert r.kind == d["kind"], d["doc_id"]
        assert r.feed_title == d["feed_title"], d["doc_id"]
        got = [{"link": e.link, "title": e.title, "guid": e.guid,
                "pub_epoch": e.pub_epoch} for e in r.entries]
        assert got == d["entries"], d["doc_id"]
        assert r.n_skipped == d["n_skipped"], d["doc_id"]


def test_fuzz_totality_random_bytes():
    import random as _r

    rng = _r.Random("feeds-fuzz-42")
    for _ in range(300):
        n = rng.randrange(0, 400)
        raw = bytes(rng.randrange(256) for _ in range(n))
        r = parse_feed(raw)             # must never raise
        assert r.kind in ("rss", "atom", "error")
    frags = ("<rss>", "<channel>", "<item>", "<link>", "</link>",
             "</item>", "<feed>", "<entry>", '<link href="x"/>',
             "<pubDate>", "Tue, 99 Foo", "<![CDATA[", "]]>", "&#x2014;",
             "</feed>", "<updated>")
    for _ in range(300):
        raw = "".join(rng.choice(frags)
                      for _ in range(rng.randrange(1, 30))).encode()
        parse_feed(raw)


def test_attribute_carrying_entries_are_parsed():
    """Open tags with attributes (Atom xml:lang, RDF rdf:about, gd:etag)
    must parse like bare tags — previously they were silently dropped
    without even counting in n_skipped."""
    xml = (
        '<feed xmlns="http://www.w3.org/2005/Atom">'
        "<title>t</title>"
        '<entry xml:lang="en"><id>e1</id><updated>2020-01-02T00:00:00Z'
        '</updated><link rel="alternate" href="http://x/1"/></entry>'
        "<entry><id>e2</id><updated>2020-01-03T00:00:00Z</updated>"
        '<link href="http://x/2"/></entry>'
        "</feed>"
    ).encode()
    r = parse_feed(xml)
    assert [e.link for e in r.entries] == ["http://x/1", "http://x/2"]
    assert r.n_skipped == 0


def test_self_closing_entry_is_not_an_open_tag():
    """An attribute-carrying self-closing `<item .../>` has no body; taken
    as an open tag it swallowed the channel title into the next entry
    and lost the feed title."""
    r = parse_feed(_rss(
        '<item rdf:about="x"/><title>Channel</title>'
        "<item><title>Real</title><link>http://a/real</link></item>"
    ))
    assert r.feed_title == "Channel"
    assert [(e.title, e.link) for e in r.entries] == [("Real", "http://a/real")]
