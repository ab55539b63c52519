"""Common-Crawl CDXJ index scan, selection, and fetch planning.

Common Crawl publishes a CDXJ capture index (one text line per capture:
``<urlkey> <14-digit timestamp> <json>``, the format served by its
cc-index files and CDX API).  A web-scale extraction run never parses
every WARC byte — it selects captures from this index first (status,
mime, language, crawl partition) and then range-fetches exactly the
selected records.  This module is that front door, Spark-first:

- **parse_cdxj** is pure codegen: the two space-delimited head fields
  split natively (the JSON tail may itself contain spaces — the cut is
  positional, after the second delimiter), and the JSON object parses
  with ``from_json`` (Jackson, JVM-side) — zero Python, zero shuffles,
  so index parsing costs exactly the index scan.  Malformed JSON tails
  or truncated lines degrade to ``valid = false`` rows (never a job
  crash) so selection can drop-and-audit them.
- **cdx_select** is a codegen filter over the parsed columns (status /
  mime allowlists, valid only).  At 100 TB of index this is the same
  shape as any scan-stage filter: no Exchange, AQE-coalesced output.
- **fetch_plan** turns a selection into the I/O-optimal fetch order:
  one hash Exchange on the WARC filename, offsets sorted WITHIN each
  partition — every task then issues sequential ranged reads against
  one archive file instead of random seeks across thousands.

Reference scope: the reference (GenAIIDP) ingests documents one S3
object at a time (`lib/idp_common_pkg/idp_common/s3/__init__.py`); a
capture-index selection stage is part of the Common-Crawl-scale
ingestion surface this engine adds (pairs with kernels/warc.py, which
parses the fetched records).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# the JSON member set served by the cc-index CDXJ lines (all values are
# JSON strings in the wire format; numeric casts happen after parse)
CDX_JSON_SCHEMA = (
    "url string, status string, mime string, digest string, "
    "length string, offset string, filename string, languages string"
)

_PARSED_COLS = (
    "urlkey", "ts", "url", "status", "mime", "digest",
    "length", "offset", "filename", "languages", "valid",
)


def parse_cdxj(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """CDXJ text lines -> typed capture columns (+ ``valid`` flag).

    Native split: ``substring_index`` isolates the urlkey and timestamp
    head; the JSON tail starts one byte past the second delimiter, so
    embedded spaces inside the JSON survive.  ``from_json`` (PERMISSIVE)
    yields NULL for corrupt tails; rows whose tail fails to parse or
    whose head is short come back ``valid = false`` with NULL fields.
    """
    l = F.col(line_col)
    head2 = F.substring_index(l, " ", 2)
    urlkey = F.substring_index(l, " ", 1)
    ts = F.substring_index(head2, " ", -1)
    tail = F.expr(
        f"substring({line_col}, length(substring_index({line_col}, ' ', 2)) + 2)"
    )
    rec = F.from_json(tail, CDX_JSON_SCHEMA)
    parsed = lines.select(
        urlkey.alias("urlkey"),
        ts.alias("ts"),
        rec.alias("_r"),
        # a well-formed line has at least "<k> <ts> {": the head must be
        # strictly shorter than the line and the tail must parse to a
        # record with a url (from_json gives an all-NULL struct on junk)
        (
            (F.length(head2) < F.length(l))
            & rec.isNotNull()
            & rec["url"].isNotNull()
        ).alias("valid"),
    )
    return parsed.select(
        "urlkey",
        "ts",
        F.col("_r.url").alias("url"),
        F.col("_r.status").alias("status"),
        F.col("_r.mime").alias("mime"),
        F.col("_r.digest").alias("digest"),
        F.col("_r.length").cast("bigint").alias("length"),
        F.col("_r.offset").cast("bigint").alias("offset"),
        F.col("_r.filename").alias("filename"),
        F.col("_r.languages").alias("languages"),
        "valid",
    )


def cdx_select(
    parsed: DataFrame,
    statuses: tuple[str, ...] = ("200",),
    mimes: tuple[str, ...] | None = ("text/html",),
    languages: tuple[str, ...] | None = None,
) -> DataFrame:
    """Capture selection: valid rows matching the allowlists.

    ``languages`` matches CDXJ's comma-joined language member (a capture
    counts if ANY of its listed languages is allowed).  Pure codegen —
    at index scale this is a scan-stage filter, nothing more.
    """
    cond: Column = F.col("valid")
    cond = cond & F.col("status").isin(*statuses)
    if mimes is not None:
        cond = cond & F.col("mime").isin(*mimes)
    if languages is not None:
        langs = F.split(F.coalesce(F.col("languages"), F.lit("")), ",")
        cond = cond & F.arrays_overlap(
            langs, F.array(*[F.lit(x) for x in languages])
        )
    return parsed.where(cond)


def fetch_plan(
    selected: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Order a selection for sequential ranged reads: one Exchange on
    the archive filename, offsets sorted within each partition.  Every
    downstream fetch task then walks one WARC file monotonically —
    the access pattern S3/HTTP range readers are fastest at."""
    parts = (
        selected.repartition(num_partitions, "filename")
        if num_partitions
        else selected.repartition("filename")
    )
    return parts.sortWithinPartitions("filename", "offset")


def latest_captures(
    parsed: DataFrame,
    url_col: str = "urlkey",
    ts_col: str = "ts",
) -> DataFrame:
    """Freshness policy: ONE capture per url — the newest (max ts; exact
    ties break to the lexicographically-largest digest then filename so
    the winner is deterministic at any parallelism). The standard corpus-
    build selection when a crawl index spans multiple monthly crawls of
    the same page.

    Shape: one Window over the url key (rank-limit spelling, so Spark
    plans WindowGroupLimit — each partition prunes to its local newest
    BEFORE the exchange; a url appearing in 100 crawls moves 100 tiny
    index rows, never payloads)."""
    w = Window.partitionBy(url_col).orderBy(
        F.col(ts_col).desc(), F.col("digest").desc(),
        F.col("filename").desc(),
    )
    return (
        parsed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def canonical_captures(
    parsed: DataFrame,
    digest_col: str = "digest",
    ts_col: str = "ts",
) -> DataFrame:
    """Storage policy: ONE capture per payload digest — the EARLIEST
    (min ts; ties to min urlkey then filename). This is Common Crawl's
    cross-crawl dedup rule: the first capture of a payload is the stored
    full record, every later identical capture is written as a revisit
    pointer (WARC 1.0 §6.7), so the earliest-per-digest set is exactly
    the fetchable full-record set resolve_revisits targets.

    Same WindowGroupLimit shape as latest_captures, keyed by digest."""
    w = Window.partitionBy(digest_col).orderBy(
        F.col(ts_col).asc(), F.col("urlkey").asc(), F.col("filename").asc(),
    )
    return (
        parsed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def frontier_fetchlist(
    entries: DataFrame,
    captures: DataFrame,
    loc_col: str = "loc",
    lastmod_col: str = "lastmod_epoch",
    url_col: str = "url",
    ts_col: str = "capture_ts",
) -> DataFrame:
    """Sitemap entries x capture index -> the new-or-stale fetch list
    (the polite-recrawl frontier).

    A URL is fetched when it has never been captured (``new``) or its
    sitemap-declared lastmod postdates the latest capture (``stale``);
    captured URLs without a declared lastmod are trusted as fresh.
    Output: (loc, lastmod_epoch, capture_ts, reason).

    Shape: both sides reduce map-side first (partial-agg max per key:
    entries to one declared-lastmod per loc, captures to one latest ts
    per url), so the join moves one row per DISTINCT url, not one per
    capture — at 100 TB the index's 100-captures-per-url history never
    crosses the wire. The join itself is a plain hash join on the url
    key (AQE-coalesced); no windows, no Python."""
    e = entries.groupBy(F.col(loc_col).alias("loc")).agg(
        F.max(lastmod_col).alias("lastmod_epoch"))
    c = captures.groupBy(F.col(url_col).alias("__url")).agg(
        F.max(ts_col).alias("capture_ts"))
    j = e.join(c, e["loc"] == c["__url"], "left")
    return (
        j.where(
            F.col("capture_ts").isNull()
            | (F.col("lastmod_epoch") > F.col("capture_ts"))
        )
        .select(
            "loc", "lastmod_epoch", "capture_ts",
            F.when(F.col("capture_ts").isNull(), F.lit("new"))
             .otherwise(F.lit("stale")).alias("reason"),
        )
    )


def politeness_schedule(
    fetchlist: DataFrame,
    delays: DataFrame | None = None,
    default_delay: int = 1,
    start_epoch: int = 0,
    max_per_host: int | None = None,
    loc_col: str = "loc",
) -> DataFrame:
    """Fetch list -> per-host politeness schedule.

    Crawling is rate-limited PER HOST (robots Crawl-delay or a default
    courtesy gap); a fetch plan that ignores this hammers servers and
    gets the crawler blocked. This assigns every URL its in-host slot:
    ``fetch_seq`` (1-based, deterministic loc order) and ``eta_epoch``
    = start + (seq-1) * host_delay — the earliest polite fetch time.

    ``delays``: optional (host, crawl_delay) table (seconds); hosts
    absent from it use ``default_delay``. ``max_per_host`` drops URLs
    beyond the per-host budget — the standard giant-host guard.

    Output: (loc, host, fetch_seq, eta_epoch).

    Shape: host extraction is a native regexp (engine-portable, the
    same pattern the DuckDB oracle runs); one Exchange on host feeds
    the sequence window; the rank-limit spelling lets Spark plan
    WindowGroupLimit, so a 10M-URL host prunes to its budget map-side
    BEFORE the shuffle; the delay table is broadcast (hosts are a tiny
    dimension vs URLs). Politeness is inherently sequential per host —
    the per-host window IS the semantics, not an implementation
    choice; skew is bounded by max_per_host."""
    host = F.regexp_extract(F.col(loc_col), r"^https?://([^/]+)", 1)
    df = fetchlist.select(F.col(loc_col).alias("loc"), host.alias("host"))
    # non-http(s)/malformed locs extract host='' — scheduling them
    # would merge every such URL into one shared phantom-host queue
    # whose eta ladder throttles them against each other (and gives
    # them default_delay semantics indistinguishable from a real
    # host). They are excluded here; callers that want them route the
    # complement (host = '') to a quarantine output instead.
    df = df.where(F.col("host") != "")
    w = Window.partitionBy("host").orderBy(F.col("loc").asc())
    df = df.withColumn("fetch_seq", F.row_number().over(w))
    if max_per_host is not None:
        df = df.where(F.col("fetch_seq") <= max_per_host)
    if delays is not None:
        df = df.join(F.broadcast(delays), "host", "left")
        delay = F.coalesce(F.col("crawl_delay"),
                           F.lit(default_delay).cast("long"))
    else:
        delay = F.lit(default_delay).cast("long")
    return df.select(
        "loc", "host", "fetch_seq",
        (F.lit(start_epoch).cast("long")
         + (F.col("fetch_seq") - 1) * delay).alias("eta_epoch"),
    )
