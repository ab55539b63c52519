"""robots.txt gating of a URL corpus (RFC 9309 at crawl scale).

Two stages, sized for a 100-TB corpus against a bounded robots table
(one row per host — millions of rows, not billions):

1. **parse** (`parse_robots_rules`): one Arrow ``mapInPandas`` over the
   robots table runs the pure kernel (kernels/robots.py) and explodes
   each host's governing rule list for the crawler's agent token into
   (host, allow, like_pattern, pattern_len) rows.  Patterns are
   pre-translated to SQL LIKE form so MATCHING needs no Python at all.
2. **gate** (`robots_gate`): URLs join the rule table on host (a
   broadcast when the rule table is small; a plain shuffle join at
   full web scale), match natively with ``path LIKE like_pattern
   ESCAPE '\\'`` — Catalyst evaluates per-row patterns — and the RFC
   §2.2.2 precedence (longest pattern, tie -> Allow) is one window
   ordered by (pattern_len DESC, allow DESC).  URLs whose host has no
   rules, or matching no rule, are allowed (§2.2.1).

The winning-rule choice is value-deterministic: ties beyond
(pattern_len, allow) cannot change either output column, so any row
order yields identical results — hash-comparable against the oracle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels.robots import (
    parse_robots,
    pattern_to_like,
    rules_for_agent,
)


def parse_robots_rules(
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """(host, allow, like_pattern, pattern_len) rules for ``agent``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts, allows, pats, lens = [], [], [], []
            for host, text in zip(pdf[host_col], pdf[text_col]):
                groups = parse_robots(text or "")
                for allow, pattern in rules_for_agent(groups, agent):
                    hosts.append(host)
                    allows.append(bool(allow))
                    pats.append(pattern_to_like(pattern))
                    lens.append(len(pattern))
            yield pd.DataFrame(
                {
                    "host": hosts,
                    "allow": pd.array(allows, dtype="boolean"),
                    "like_pattern": pats,
                    "pattern_len": pd.array(lens, dtype="Int32"),
                }
            )

    return robots.mapInPandas(
        run,
        "host string, allow boolean, like_pattern string, "
        "pattern_len int",
    )


def url_path(col) -> "F.Column":
    """The path component of a URL ('/' when absent) — the string the
    robots rules match against."""
    p = F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_gate(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """urls + (allowed boolean, matched_len int).

    ``urls`` must carry a host column (see operators/linkgraph.url_host);
    ``rules`` is parse_robots_rules output.  RFC 9309 §2.2.2: among
    matching rules the longest pattern wins, ties go to Allow; no
    matching rule (or no rules for the host) -> allowed, matched_len 0.
    """
    withp = urls.withColumn("__path", url_path(F.col(url_col)))
    joined = withp.join(
        rules.withColumnRenamed("host", "__rhost"),
        withp[host_col] == F.col("__rhost"),
        "left",
    ).withColumn(
        "__hit",
        F.expr("__path LIKE like_pattern ESCAPE '\\\\'"),
    )
    w = Window.partitionBy(url_col).orderBy(
        F.col("pattern_len").desc(), F.col("allow").desc()
    )
    ranked = joined.where(
        F.col("__hit").isNull() | F.col("__hit")
    ).withColumn("__rn", F.row_number().over(w))
    best = ranked.where(F.col("__rn") == 1).select(
        url_col,
        F.coalesce(F.col("allow"), F.lit(True)).alias("allowed"),
        F.coalesce(
            F.when(F.col("__hit"), F.col("pattern_len")), F.lit(0)
        ).alias("matched_len"),
    )
    # URLs whose every rule failed to match were filtered out above —
    # restore them as allowed
    return (
        urls.join(best, url_col, "left")
        .select(
            *[F.col(c) for c in urls.columns],
            F.coalesce("allowed", F.lit(True)).alias("allowed"),
            F.coalesce("matched_len", F.lit(0)).alias("matched_len"),
        )
    )
