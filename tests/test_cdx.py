"""CDXJ capture-index parse / selection / fetch-plan tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from intelligent_document_processing_on_aws_spark.sources.warc import (
    _fetch_plan,
    cdx_select,
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
    # AQE would coalesce 60 rows into one partition, where no file can
    # straddle two; keep the shuffle's partitions apart
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        per_part = _fetch_plan(df).withColumn(
            "pid", F.spark_partition_id()
        ).collect()
    finally:
        spark.conf.set(key, saved)
    assert len({r["pid"] for r in per_part}) > 1
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
