"""Host-level link graph + integer-exact PageRank.

Web-curation pipelines weight domains by their link-graph centrality
(the Common Crawl host/domain ranking uses exactly this; PageRank is
Page, Brin, Motwani & Winograd 1999).  This module extracts the host
link graph from raw pages and runs a deterministic power iteration.

**Integer fixed-point arithmetic.**  Floating-point PageRank sums
per-target contributions, and a float sum's value depends on
accumulation order — which no distributed engine guarantees, so two
runs of the same job could (bit-wise) disagree.  Ranks here are BIGINT
micros-of-micros (SCALE = 1e12): contributions use integer division
(``DIV``), the damping factor 0.85 is the exact ratio 17/20, and sums
of bigints are order-free — every run, every partitioning, and the
DuckDB oracle produce bit-identical ranks.

Deviations (documented): dangling-node mass is dropped rather than
redistributed (total rank leaks slightly per iteration; ordering is
preserved for typical web graphs and the behavior is deterministic),
and ``DIV`` floor-truncation loses at most out_degree * 1e-12 rank per
host per iteration.

100-TB shape: the edge list shuffles once per iteration on dst_host
(the groupBy key); out-degrees join on src_host.  Iterations are a
FIXED small count (3-10 in practice — published rankings converge
fast at host granularity), each one Exchange — no driver-side data,
no collect.  Link extraction is a native ``regexp_extract_all`` over
the scan: zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SCALE = 1_000_000_000_000  # 1e12 fixed-point units of rank
TRUNCATE_EVERY = 8  # power iterations between two rank checkpoints
# hostname from a URL: text between '://' and the next '/', '?', '#' or
# end (ASCII classes only, read alike by Java regex and RE2); url_host
# strips credentials and port in separate steps.
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)"
# href extraction: standard attribute scan (double/single-quoted)
_HREF_RE = r"""href\s*=\s*["']([^"'#][^"']*)["']"""


def url_host(col: Column) -> Column:
    """Lowercased hostname of a URL: scheme and path stripped, then
    userinfo ('user:pass@') and port (':8080') removed. Empty string
    when the value has no '<scheme>://' prefix."""
    h = F.regexp_extract(col, _HOST_RE, 1)
    h = F.regexp_replace(h, r"^[^@]*@", "")   # userinfo
    h = F.regexp_replace(h, r":[0-9]*$", "")  # port
    return F.lower(h)


def extract_links(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(src_host, dst_host) pairs from anchors in raw page bytes.

    Only absolute http(s) targets produce cross-host edges (relative
    links stay on-host and contribute nothing to a HOST-level graph).
    Native regexp over the scan; the html column may be binary.
    """
    hrefs = F.regexp_extract_all(
        F.col(html_col).cast("string"), F.lit(_HREF_RE), 1
    )
    src = url_host(F.col(url_col))
    return (
        pages.select(src.alias("src_host"), F.explode(hrefs).alias("href"))
        .where(F.col("href").rlike(r"(?i)^https?://"))
        .select(
            "src_host", url_host(F.col("href")).alias("dst_host")
        )
        .where(
            F.col("src_host").isNotNull()
            & F.col("dst_host").isNotNull()
            & (F.col("src_host") != "")   # url_host yields '' on no match
            & (F.col("dst_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
        )
        .distinct()
    )


def pagerank_hosts(
    edges: DataFrame,
    n_iter: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
) -> DataFrame:
    """Deterministic integer PageRank over a (src_host, dst_host)
    edge list -> (host, rank) with rank in SCALE fixed-point units.

    rank0 = SCALE DIV N for every host; each iteration:
      contrib(e) = rank(src) DIV out_degree(src)
      rank'(h)  = (SCALE * (den-num) DIV den) DIV N
                  + num * sum(contrib into h) DIV den
    All arithmetic is bigint — order-free, bit-stable.

    The distinct edge list, host set and out-degree table are built
    once, behind a lazy localCheckpoint — otherwise every iteration arm
    re-derives all three from the raw pages, so iteration k re-scans the
    corpus ~3k times and the plan grows combinatorially. Ranks are
    truncated the same way every ``TRUNCATE_EVERY`` iterations, so a
    long power iteration neither replans from scratch nor overflows the
    optimizer. Both are plan changes only: ranks are exact integers,
    bit-identical either way.
    """
    edges = edges.select("src_host", "dst_host").distinct()
    edges = edges.localCheckpoint(eager=False)
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionAll(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    degrees = edges.groupBy("src_host").agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    hosts = hosts.localCheckpoint(eager=False)
    degrees = degrees.localCheckpoint(eager=False)
    # N is one scalar (a count, not data) — the only driver action
    n_val = int(hosts.count())
    teleport = (SCALE * (damping_den - damping_num) // damping_den) // n_val

    ranks = hosts.select(
        "host", F.lit(SCALE // n_val).cast("long").alias("rank")
    )
    for it in range(int(n_iter)):
        if it > 0 and it % TRUNCATE_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=False)
        contrib = (
            edges.join(
                ranks.withColumnRenamed("host", "src_host"), "src_host"
            )
            .join(degrees, "src_host")
            .select(
                F.col("dst_host").alias("host"),
                F.expr("rank DIV out_degree").alias("contrib"),
            )
            .groupBy("host")
            .agg(F.sum("contrib").alias("incoming"))
        )
        ranks = hosts.join(contrib, "host", "left").select(
            "host",
            (
                F.lit(teleport).cast("long")
                + F.expr(
                    f"({damping_num} * coalesce(incoming, 0)) "
                    f"DIV {damping_den}"
                )
            ).alias("rank"),
        )
    return ranks


def trustrank_hosts(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    reverse: bool = False,
) -> DataFrame:
    """Personalized PageRank with teleport restricted to a seed set —
    TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004) when seeds
    are hand-vetted GOOD hosts, Anti-TrustRank (Krishnan & Raj 2006)
    with ``reverse=True`` when seeds are known SPAM hosts (distrust
    flows backward along links: a host linking into spam inherits
    distrust).  Output: (host, rank) over ALL graph hosts; non-seed
    hosts start at 0 and only gain rank through propagation.

    Same integer fixed-point discipline as ``pagerank_hosts`` (bigint
    DIV/sum, exact 17/20 damping) — order-free, bit-stable, oracle-
    comparable.  Same 100-TB shape: one Exchange per iteration on the
    aggregation key; the seed table is a broadcast-sized dimension.
    The graph is built once and ranks are truncated every
    ``TRUNCATE_EVERY`` iterations, as in ``pagerank_hosts``.
    """
    edges = edges.select("src_host", "dst_host").distinct()
    if reverse:
        edges = edges.select(
            F.col("dst_host").alias("src_host"),
            F.col("src_host").alias("dst_host"),
        )
    edges = edges.localCheckpoint(eager=False)
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionAll(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    degrees = edges.groupBy("src_host").agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    seeds = F.broadcast(
        seeds.select(F.col("host"), F.lit(True).alias("is_seed")).distinct()
    )
    hosts = hosts.join(seeds, "host", "left").select(
        "host", F.coalesce("is_seed", F.lit(False)).alias("is_seed")
    )
    hosts = hosts.localCheckpoint(eager=False)
    degrees = degrees.localCheckpoint(eager=False)
    # n_seeds counts seeds PRESENT in the graph (a scalar, like N)
    n_seeds = int(hosts.where("is_seed").count())
    if n_seeds == 0:
        return hosts.select("host", F.lit(0).cast("long").alias("rank"))
    teleport = (SCALE * (damping_den - damping_num) // damping_den) // n_seeds

    ranks = hosts.select(
        "host",
        "is_seed",
        F.when(F.col("is_seed"), F.lit(SCALE // n_seeds))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    )
    for it in range(int(n_iter)):
        if it > 0 and it % TRUNCATE_EVERY == 0:
            ranks = ranks.localCheckpoint(eager=False)
        contrib = (
            edges.join(
                ranks.select(
                    F.col("host").alias("src_host"), "rank"
                ),
                "src_host",
            )
            .join(degrees, "src_host")
            .select(
                F.col("dst_host").alias("host"),
                F.expr("rank DIV out_degree").alias("contrib"),
            )
            .groupBy("host")
            .agg(F.sum("contrib").alias("incoming"))
        )
        ranks = hosts.join(contrib, "host", "left").select(
            "host",
            "is_seed",
            (
                F.when(F.col("is_seed"), F.lit(teleport))
                .otherwise(F.lit(0))
                .cast("long")
                + F.expr(
                    f"({damping_num} * coalesce(incoming, 0)) "
                    f"DIV {damping_den}"
                )
            ).alias("rank"),
        )
    return ranks.select("host", "rank")


_ANCHOR_RE = r'(?i)<a\s[^>]*href="([^"#]+)"[^>]*>([^<]*)</a>'


def anchor_pairs(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(src_host, dst_host, anchor) triples from ``<a>`` elements.

    The anchor TEXT is the classic off-page description signal (link
    text describes the target better than the target's own page —
    the query-independent relevance/quality feature web-scale corpora
    derive from the link graph).  Same native shape as extract_links:
    two regexp_extract_all passes over the scan (group 1 = href,
    group 2 = inner text), zipped and exploded; only absolute
    cross-host http(s) targets survive.  No dedup here — each anchor
    occurrence is one vote.
    """
    h = F.col(html_col).cast("string")
    zipped = F.arrays_zip(
        F.regexp_extract_all(h, F.lit(_ANCHOR_RE), 1).alias("href"),
        F.regexp_extract_all(h, F.lit(_ANCHOR_RE), 2).alias("anchor"),
    )
    src = url_host(F.col(url_col))
    pair = F.explode(zipped).alias("p")
    return (
        pages.select(src.alias("src_host"), pair)
        .select("src_host", F.col("p.href").alias("href"),
                F.col("p.anchor").alias("anchor"))
        .where(F.col("href").rlike(r"(?i)^https?://"))
        .select("src_host", url_host(F.col("href")).alias("dst_host"),
                "anchor")
        .where(
            F.col("src_host").isNotNull() & F.col("dst_host").isNotNull()
            & (F.col("src_host") != "") & (F.col("dst_host") != "")
            & (F.col("src_host") != F.col("dst_host"))
        )
    )


def anchor_terms(
    pages: DataFrame,
    k: int = 3,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Top-k anchor terms per target host: (dst_host, term, n_anchors).

    Terms are the corpus tokenization convention (lowercase whitespace
    split); ranking is (count desc, term asc) — fully deterministic.
    One hash Exchange on (dst_host, term) for the count, one on
    dst_host for the top-k window; both keys are bounded by the host
    vocabulary, not the corpus, and the count agg is map-side partial.
    """
    terms = (
        anchor_pairs(pages, url_col=url_col, html_col=html_col)
        .select(
            "dst_host",
            F.explode(
                F.filter(
                    F.split(F.lower("anchor"), r"\s+"), lambda t: t != ""
                )
            ).alias("term"),
        )
        .groupBy("dst_host", "term")
        .agg(F.count(F.lit(1)).alias("n_anchors"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n_anchors").desc(), F.col("term").asc()
    )
    return (
        terms.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )
