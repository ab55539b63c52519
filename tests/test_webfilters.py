"""C4 line filters, PII redaction, URL canonicalization (operators/webfilters)."""

from __future__ import annotations

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.operators.webfilters import (
    c4_clean,
    canonical_url,
    pii_stats,
    url_dedup,
)


def test_c4_clean_semantics(spark):
    rows = [
        (1, "This sentence has exactly six words.\nshort one\n"
            "Another proper sentence with five words!"),
        (2, "code ahead\nif (x) { return; }\nA fine sentence with many words."),
        (3, "We present Lorem Ipsum filler text here.\nGood sentence is here today."),
        (4, "no terminal punctuation in this line at all\nanother bare line"),
        (5, 'A quoted ending works fine too."'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_clean(df).collect()}
    assert got[1].clean_text == ("This sentence has exactly six words.\n"
                                 "Another proper sentence with five words!")
    assert got[1].n_kept_lines == 2 and not got[1].dropped_doc
    assert got[2].dropped_doc and got[2].clean_text is None  # code brace
    assert got[3].dropped_doc                                 # lorem ipsum
    assert got[4].dropped_doc and got[4].n_kept_lines == 0    # nothing kept
    assert got[5].clean_text == rows[4][1] and not got[5].dropped_doc


def test_pii_redaction_semantics(spark):
    rows = [
        (1, "mail bob.smith+x@corp.example.co.uk and 10.1.2.3 ok"),
        (2, "no pii here at all"),
        (3, "edge 999.999.999.999 is not an ip but 255.255.255.255 is"),
        (4, "two mails a@b.io c@d.org one ip 8.8.8.8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_stats(df).collect()}
    assert got[1].redacted == "mail <EMAIL> and <IP> ok"
    assert (got[1].n_emails, got[1].n_ips) == (1, 1)
    assert got[2].redacted == rows[1][1] and got[2].n_emails == 0
    assert "<IP> is" in got[3].redacted and "999.999" in got[3].redacted
    assert (got[4].n_emails, got[4].n_ips) == (2, 1)


def test_pii_ip_digit_boundaries(spark):
    """r5 ADVICE fix: the IPv4 pattern needs digit/dot boundaries — no
    partial redaction inside longer digit runs, no five-octet chains, and
    single-char-separated IP chains fully redacted by the two-pass
    replace."""
    rows = [
        (1, "port 1.2.3.4567 is not an ip"),
        (2, "chain 1.2.3.4.5 is five octets not an ip"),
        (3, "adjacent 1.2.3.4 5.6.7.8 9.9.9.9 all ips"),
        (4, "10.0.0.1 leads and trails 10.0.0.2"),
        (5, "v10.1.2.3 version-like still redacts after the v"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.redacted for r in pii_stats(df).collect()}
    assert got[1] == rows[0][1]                      # untouched
    assert got[2] == rows[1][1]                      # untouched
    assert got[3] == "adjacent <IP> <IP> <IP> all ips"
    assert got[4] == "<IP> leads and trails <IP>"
    assert got[5] == "v<IP> version-like still redacts after the v"


def test_canonical_url_semantics(spark):
    cases = [
        ("HTTPS://WWW.Site.Example.COM/Path/X?utm_source=a&q=1#frag",
         "https://www.site.example.com/Path/X?q=1"),
        ("https://a.example/p/?utm_campaign=x", "https://a.example/p"),
        ("https://a.example/p#only-frag", "https://a.example/p"),
        ("https://a.example/p?gclid=abc&fbclid=def", "https://a.example/p"),
        ("https://a.example/CaseKept/Path", "https://a.example/CaseKept/Path"),
        ("not a url at all", "not a url at all"),
        # separator-anchored tracking names: params whose name merely ENDS
        # in a tracking name must survive untouched (r5 ADVICE fix)
        ("https://a.example/p?href=abc", "https://a.example/p?href=abc"),
        ("https://a.example/p?pref=1&b=2", "https://a.example/p?pref=1&b=2"),
        ("https://a.example/p?xref=z&ref=t", "https://a.example/p?xref=z"),
        # runs of consecutive tracking params collapse in one pass,
        # whatever their position
        ("https://a.example/p?utm_a=1&utm_b=2&q=3",
         "https://a.example/p?q=3"),
        ("https://a.example/p?q=3&utm_a=1&utm_b=2",
         "https://a.example/p?q=3"),
        ("https://a.example/p?utm_a=1&q=3&ref=2&gclid=x",
         "https://a.example/p?q=3"),
        ("https://a.example/p?ref=", "https://a.example/p"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    for (raw, want), g in zip(cases, got):
        assert g == want, raw


def test_url_dedup_groups_variants(spark):
    rows = [
        ("https://a.example/p",),
        ("https://a.example/p/",),
        ("HTTPS://A.Example/p?utm_source=x",),
        ("https://a.example/q",),
    ]
    df = spark.createDataFrame(rows, "url string")
    got = {r.url: r for r in url_dedup(df).collect()}
    canon = {r.canonical_url for r in got.values()}
    assert canon == {"https://a.example/p", "https://a.example/q"}
    dups = sorted(u for u, r in got.items() if r.is_duplicate)
    # min-url representative survives; the other two variants are dups
    assert len(dups) == 2 and "https://a.example/q" not in dups


def test_webfilter_plans_native(spark):
    """All operators are pure Catalyst — no Python eval nodes; the
    url_features projection additionally never shuffles (map-only)."""
    from intelligent_document_processing_on_aws_spark.operators.webfilters import (
        url_features,
    )

    df = spark.createDataFrame([(1, "a.", "https://x.example/p")],
                               "doc_id long, text string, url string")
    for op_df in (c4_clean(df), pii_stats(df), url_dedup(df),
                  url_features(df)):
        plan = op_df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    feats = url_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in feats


def test_canonicalization_and_redaction_idempotent(spark):
    """canonical_url and redact_pii are idempotent — applying twice never
    changes the result (a second cleanup pass over an already-curated
    corpus must be a no-op)."""
    from intelligent_document_processing_on_aws_spark.operators.webfilters import (
        redact_pii,
    )

    urls = [
        "HTTPS://WWW.S.Example/A/b?utm_source=x&q=2#f",
        "https://s.example/p/",
        "http://s.example",
        "ftp://Host.Example/Z?ref=abc",
        "relative/path only",
        "",
    ]
    texts = [
        "mail a@b.io twice a@b.io and ip 10.0.0.1",
        "<EMAIL> already redacted and <IP> too",
        "edge a@b.io.",
        "",
    ]
    udf_once = spark.createDataFrame([(u,) for u in urls], "url string") \
        .select(canonical_url(F.col("url")).alias("c1"))
    twice = udf_once.select(canonical_url(F.col("c1")).alias("c2"), "c1")
    for r in twice.collect():
        assert r.c1 == r.c2, r
    t_once = spark.createDataFrame([(t,) for t in texts], "text string") \
        .select(redact_pii(F.col("text")).alias("r1"))
    t_twice = t_once.select(redact_pii(F.col("r1")).alias("r2"), "r1")
    for r in t_twice.collect():
        assert r.r1 == r.r2, r


def test_url_features_edge_cases(spark):
    """Degenerate inputs never crash the feature pass: no scheme, empty,
    NULL, bare host, userinfo + port stripped, params counted exactly."""
    from intelligent_document_processing_on_aws_spark.operators.webfilters import (
        url_features,
    )

    rows = [
        (1, "https://User:pw@A1.Shop.COM:8443/a/b/c?x=1&y=2&z=3#frag"),
        (2, "http://plain.org"),
        (3, "not a url at all"),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.url: r for r in url_features(df.select("url")).collect()}

    r1 = got["https://User:pw@A1.Shop.COM:8443/a/b/c?x=1&y=2&z=3#frag"]
    assert r1.host == "a1.shop.com" and r1.tld == "com"
    assert r1.path_depth == 3 and r1.n_params == 3
    assert r1.host_has_digit and r1.host_n_dots == 2

    r2 = got["http://plain.org"]
    assert r2.host == "plain.org" and r2.path_depth == 0
    assert r2.n_params == 0 and not r2.host_has_digit

    for key in ("not a url at all", ""):
        r = got[key]
        assert r.host == "" and r.tld == "" and r.path_depth == 0
        assert r.n_params == 0 and not r.host_has_digit

    # NULL url -> coalesced to '' (one row per input, never dropped)
    assert len(got) == 4 and sum(1 for r in got.values() if r.url == "") == 1

