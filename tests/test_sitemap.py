"""kernels/sitemap + operators/cdx.frontier_fetchlist — unit and
differential tests.

Spark-level parity (query vs composition-fact golden) runs in the
oracle sweep; these pin gzip/encoding handling, namespace prefixes,
lastmod normalization, field validation, the entry cap, totality, and
the new/stale/fresh frontier semantics.
"""

import gzip

from intelligent_document_processing_on_aws_spark.fixtures.sitemap_gen import (
    gen_sitemap_docs,
)
from intelligent_document_processing_on_aws_spark.kernels.sitemap import (
    MAX_ENTRIES,
    parse_lastmod,
    parse_sitemap,
)


def _urlset(inner: str) -> bytes:
    return f"<urlset>{inner}</urlset>".encode()


def test_plain_urlset():
    r = parse_sitemap(_urlset(
        "<url><loc>https://a.com/1</loc><lastmod>2024-05-06</lastmod>"
        "<changefreq>daily</changefreq><priority>0.8</priority></url>"
        "<url><loc>https://a.com/2</loc></url>"
    ))
    assert r.kind == "urlset" and len(r.entries) == 2
    e = r.entries[0]
    assert e.loc == "https://a.com/1"
    assert e.lastmod_epoch == 1714953600  # 2024-05-06T00:00:00Z
    assert e.changefreq == "daily" and e.priority == 0.8
    assert r.entries[1].lastmod_epoch is None


def test_sitemapindex():
    r = parse_sitemap(
        b"<sitemapindex><sitemap><loc>https://a.com/s1.xml</loc>"
        b"<lastmod>2024-01-02T03:04:05Z</lastmod></sitemap></sitemapindex>"
    )
    assert r.kind == "sitemapindex"
    assert r.entries[0].loc == "https://a.com/s1.xml"
    assert r.entries[0].lastmod_epoch == 1704164645


def test_namespace_prefix_and_entities():
    r = parse_sitemap(
        b'<sm:urlset xmlns:sm="x"><sm:url><sm:loc>\n  '
        b"https://a.com/?a=1&amp;b=2 </sm:loc></sm:url></sm:urlset>"
    )
    assert r.entries[0].loc == "https://a.com/?a=1&b=2"


def test_gzip_payload_and_truncated_gzip():
    xml = _urlset("<url><loc>https://a.com/z</loc></url>")
    r = parse_sitemap(gzip.compress(xml))
    assert r.kind == "urlset" and r.entries[0].loc == "https://a.com/z"
    bad = parse_sitemap(gzip.compress(xml)[:15])
    assert bad.kind == "error" and "gzip" in bad.error


def test_field_validation_and_skip():
    r = parse_sitemap(_urlset(
        "<url><loc>https://a.com/x</loc><priority>3.7</priority>"
        "<changefreq>fortnightly</changefreq></url>"
        "<url><lastmod>2024-01-01</lastmod></url>"   # no loc -> skipped
    ))
    assert r.entries[0].priority is None
    assert r.entries[0].changefreq is None
    assert len(r.entries) == 1 and r.n_skipped == 1


def test_lastmod_forms():
    assert parse_lastmod("2024-05-06") == 1714953600
    assert parse_lastmod("2024-05-06T07:08:09Z") == 1714979289
    # +02:00 offset = same instant as 05:08:09Z
    assert parse_lastmod("2024-05-06T07:08:09+02:00") == 1714972089
    # zoneless = UTC
    assert parse_lastmod("2024-05-06T07:08:09") == 1714979289
    assert parse_lastmod("yesterday") is None
    assert parse_lastmod("") is None


def test_wrong_root_and_totality():
    assert parse_sitemap(b"<rss><channel/></rss>").kind == "error"
    for raw in (b"", None, b"\x00\x01", b"<urlset>"):
        r = parse_sitemap(raw)
        assert r.kind in ("urlset", "error")


def test_entry_cap():
    blocks = "".join(f"<url><loc>https://a.com/{i}</loc></url>"
                     for i in range(MAX_ENTRIES + 5))
    r = parse_sitemap(_urlset(blocks))
    assert len(r.entries) == MAX_ENTRIES and r.n_overflow == 5


def test_differential_against_generator_facts():
    for d in gen_sitemap_docs(320):
        r = parse_sitemap(d["raw"])
        assert r.kind == d["kind"], d["doc_id"]
        got = [{"loc": e.loc, "lastmod_epoch": e.lastmod_epoch,
                "changefreq": e.changefreq, "priority": e.priority}
               for e in r.entries]
        assert got == d["entries"], d["doc_id"]
        assert r.n_skipped == d["n_skipped"], d["doc_id"]


def test_frontier_fetchlist_semantics(spark):
    from intelligent_document_processing_on_aws_spark.operators.cdx import (
        frontier_fetchlist,
    )

    entries = spark.createDataFrame(
        [("u1", None), ("u2", 200), ("u3", 50), ("u4", None), ("u2", 120)],
        "loc string, lastmod_epoch long",
    )
    captures = spark.createDataFrame(
        [("u2", 100), ("u2", 150), ("u3", 100), ("u4", 100)],
        "url string, capture_ts long",
    )
    rows = {r["loc"]: (r["reason"], r["capture_ts"])
            for r in frontier_fetchlist(entries, captures).collect()}
    # u1 never captured -> new; u2 max declared 200 > latest capture 150
    # -> stale; u3 declared 50 <= 100 -> fresh (absent); u4 captured,
    # no declared lastmod -> trusted fresh (absent)
    assert rows == {"u1": ("new", None), "u2": ("stale", 150)}


def test_fuzz_totality_random_bytes():
    import random as _r

    rng = _r.Random("sitemap-fuzz-42")
    for _ in range(300):
        n = rng.randrange(0, 400)
        raw = bytes(rng.randrange(256) for _ in range(n))
        r = parse_sitemap(raw)          # must never raise
        assert r.kind in ("urlset", "sitemapindex", "error")
    # xml-ish junk: random tag soup
    frags = ("<urlset>", "<url>", "<loc>", "</loc>", "</url>", "&amp;",
             "<lastmod>", "2024-13-99", "<![CDATA[", "]]>", "<priority>",
             "\xe9—", "</urlset>", "<sitemapindex>")
    for _ in range(300):
        raw = "".join(rng.choice(frags)
                      for _ in range(rng.randrange(1, 30))).encode()
        parse_sitemap(raw)


def test_politeness_schedule_semantics(spark):
    from intelligent_document_processing_on_aws_spark.operators.cdx import (
        politeness_schedule,
    )

    fetch = spark.createDataFrame(
        [("https://a.com/1",), ("https://a.com/2",), ("https://a.com/3",),
         ("https://b.com/x",)],
        "loc string",
    )
    delays = spark.createDataFrame([("a.com", 10)],
                                   "host string, crawl_delay long")
    rows = {r["loc"]: (r["fetch_seq"], r["eta_epoch"])
            for r in politeness_schedule(
                fetch, delays=delays, default_delay=2, start_epoch=100,
                max_per_host=2).collect()}
    # a.com: delay 10, loc order 1,2,3 -> seqs 1,2 (3 dropped by cap)
    # b.com: absent from delays -> default 2
    assert rows == {
        "https://a.com/1": (1, 100),
        "https://a.com/2": (2, 110),
        "https://b.com/x": (1, 100),
    }


def test_self_closing_url_is_not_an_open_tag():
    """An attribute-carrying self-closing `<url .../>` has no body; taken
    as an open tag it paired with the next `</url>` and yielded the stray
    loc between them instead of the real entry."""
    r = parse_sitemap(_urlset(
        '<url a="x"/><loc>http://a/stray</loc>'
        "<url><loc>http://a/real</loc></url>"
    ))
    assert [e.loc for e in r.entries] == ["http://a/real"]
