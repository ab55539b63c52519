"""CDXJ capture-index parse / selection / fetch-plan tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.operators.cdx import (
    cdx_select,
    fetch_plan,
    parse_cdxj,
)

GOOD = (
    'com,example)/a 20240101120000 {"url": "https://example.com/a", '
    '"status": "200", "mime": "text/html", "digest": "sha1:AB", '
    '"length": "1234", "offset": "5678", '
    '"filename": "crawl-00.warc.gz", "languages": "en,fr"}'
)


def _parse(spark, lines):
    df = spark.createDataFrame([(s,) for s in lines], "line string")
    return {r["urlkey"]: r for r in parse_cdxj(df).collect()}


def test_parse_cdxj_good_line_types_and_values(spark):
    out = _parse(spark, [GOOD])
    r = out["com,example)/a"]
    assert r["ts"] == "20240101120000"
    assert r["url"] == "https://example.com/a"
    assert r["status"] == "200" and r["mime"] == "text/html"
    assert r["length"] == 1234 and r["offset"] == 5678  # cast to bigint
    assert r["filename"] == "crawl-00.warc.gz"
    assert r["languages"] == "en,fr"
    assert r["valid"] is True


def test_parse_cdxj_json_tail_with_spaces_survives_head_split(spark):
    line = ('org,x)/p 20230505050505 {"url": "https://x.org/p?q=a b c", '
            '"status": "200"}')
    r = _parse(spark, [line])["org,x)/p"]
    assert r["valid"] is True
    assert r["url"] == "https://x.org/p?q=a b c"
    assert r["mime"] is None  # absent member -> NULL, not an error


def test_parse_cdxj_malformed_lines_degrade_to_invalid(spark):
    lines = [
        "com,bad)/j 20240101000000 {corrupt",   # junk JSON tail
        "com,bad)/短 20240101000000 {}",         # parses but no url
        "headonly",                              # no delimiters at all
    ]
    df = spark.createDataFrame([(s,) for s in lines], "line string")
    rows = parse_cdxj(df).collect()
    assert [r["valid"] for r in rows] == [False, False, False]
    # and the whole parse stays native: no Python eval in the plan
    plan = parse_cdxj(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_cdx_select_filters_status_mime_language(spark):
    mk = ('k{i} 20240101000000 {{"url": "u{i}", "status": "{st}", '
          '"mime": "{mi}", "languages": "{lg}"}}')
    lines = [
        mk.format(i=0, st="200", mi="text/html", lg="en"),
        mk.format(i=1, st="404", mi="text/html", lg="en"),
        mk.format(i=2, st="200", mi="application/pdf", lg="en"),
        mk.format(i=3, st="200", mi="text/html", lg="de,fr"),
        "k4 20240101000000 {corrupt",
    ]
    df = spark.createDataFrame([(s,) for s in lines], "line string")
    got = cdx_select(
        parse_cdxj(df), statuses=("200",), mimes=("text/html",),
        languages=("en",),
    ).select("urlkey").collect()
    assert [r["urlkey"] for r in got] == ["k0"]


def test_fetch_plan_groups_by_file_and_sorts_offsets(spark):
    rows = [(f"crawl-0{i % 3}.warc.gz", (97 * i) % 1000, f"k{i}")
            for i in range(60)]
    df = spark.createDataFrame(rows, "filename string, offset long, urlkey string")
    planned = fetch_plan(df, num_partitions=3)
    per_part = planned.withColumn(
        "pid", F.spark_partition_id()
    ).collect()
    by_pid: dict[int, list] = {}
    for r in per_part:
        by_pid.setdefault(r["pid"], []).append((r["filename"], r["offset"]))
    for seq in by_pid.values():
        assert seq == sorted(seq)  # monotone (filename, offset) walk
    # one file never straddles two partitions
    file_pids: dict[str, set] = {}
    for r in per_part:
        file_pids.setdefault(r["filename"], set()).add(r["pid"])
    assert all(len(p) == 1 for p in file_pids.values())


def test_capture_policies_latest_and_canonical(spark):
    """latest_captures keeps exactly the newest row per url (deterministic
    ties); canonical_captures keeps the EARLIEST per digest — the stored
    full record under Common Crawl's revisit rule — and both plan as
    WindowGroupLimit (partition-local prune before the exchange)."""
    from intelligent_document_processing_on_aws_spark.operators.cdx import (
        canonical_captures,
        latest_captures,
    )

    rows = [
        # url A: 3 crawls, payload changes at the last one
        ("com,a)/", "20230101000000", "d1", "f1"),
        ("com,a)/", "20240101000000", "d1", "f2"),   # identical re-fetch
        ("com,a)/", "20250101000000", "d2", "f3"),
        # url B: one capture whose payload equals A's first (cross-url dup)
        ("com,b)/", "20240601000000", "d1", "f4"),
    ]
    caps = spark.createDataFrame(
        rows, "urlkey string, ts string, digest string, filename string")

    latest = {r.urlkey: r for r in latest_captures(caps).collect()}
    assert len(latest) == 2
    assert latest["com,a)/"].ts == "20250101000000"
    assert latest["com,b)/"].ts == "20240601000000"

    canon = {r.digest: r for r in canonical_captures(caps).collect()}
    assert len(canon) == 2
    assert (canon["d1"].urlkey, canon["d1"].ts) == ("com,a)/",
                                                    "20230101000000")
    assert canon["d2"].ts == "20250101000000"

    for op in (latest_captures, canonical_captures):
        plan = op(caps)._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, op.__name__
        assert "BatchEvalPython" not in plan


def test_politeness_schedule_quarantines_empty_host(spark):
    """Non-http(s)/malformed locs (host extracts to '') are excluded
    from the schedule instead of sharing one phantom-host eta ladder."""
    from intelligent_document_processing_on_aws_spark.operators.cdx import (
        politeness_schedule,
    )

    locs = spark.createDataFrame(
        [("http://a/1",), ("http://a/2",), ("ftp://weird/3",),
         ("not-a-url",)], "loc string")
    out = politeness_schedule(locs, start_epoch=100, default_delay=2)
    rows = {r["loc"]: r for r in out.collect()}
    assert set(rows) == {"http://a/1", "http://a/2"}
    assert rows["http://a/1"]["fetch_seq"] == 1
    assert rows["http://a/2"]["eta_epoch"] == 102


def test_fetch_schedule_oracle_drops_empty_host(spark, tmp_path, monkeypatch):
    """The fetch_schedule query and its DuckDB oracle agree on an input
    that carries non-http(s) locs: both leave out the host='' rows."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from intelligent_document_processing_on_aws_spark import entry_queries as eq

    locs = ["https://a.example/1", "https://a.example/2", "http://bb.example/x",
            "ftp://weird/3", "not-a-url", "mailto:x@a.example"]
    path = str(tmp_path / "sitemap_golden.parquet")
    pq.write_table(pa.table({"kind": ["urlset"] * len(locs), "loc": locs}), path)
    monkeypatch.setattr(eq, "_fx", lambda name: path)

    spark_rows = sorted(tuple(r) for r in eq.q_fetch_schedule(spark, "").collect())
    oracle_rows = sorted(duckdb.connect().execute(eq._sql_fetch_schedule()).fetchall())
    assert spark_rows == oracle_rows
    assert {r[0] for r in oracle_rows} == set(locs[:3])
