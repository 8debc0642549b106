"""Link-graph operators: pages -> filtered outlinks -> frontier feed.

The distributed form of the reference ingest path
(add_from_html -> filter_links -> add_urls,
/root/reference/courlan/urlstore.py:315-336 and core.py:230-267):

    pages --links-UDF--> explode --native nav/crawl filters-->
    canonical-key anti-join against known links --> frontier rows

Robots rules are a small per-host table broadcast into the filter
join; the known-link dedup is the left-anti join on the canonical
key under which all is_known_link variants collide (SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.native import (
    canonical_key_col,
    is_navigation_col,
    is_not_crawlable_col,
)


def crawlable_links(
    links: DataFrame,
    link_col: str = "link",
    robots_rules: DataFrame | None = None,
) -> DataFrame:
    """filter_links tail (core.py:256-265): drop non-crawlable links,
    apply per-host robots rules, and flag navigation links as
    crawl-priority.

    ``robots_rules`` is the caller's already-parsed (host, rules
    array<struct<prefix,allow>>) table, ordered as in robots.txt: the
    analog of courlan's UrlStore holding the RobotFileParser it is
    handed.  The join is a
    broadcast HASH join on host equality — not a nested-loop prefix
    scan over every rule (the round-1 shape, O(links x rules)) — and
    the verdict is the stdlib RobotFileParser first-match rule,
    evaluated natively with F.filter over the (small, ordered)
    per-host rule array."""
    out = links.where(~is_not_crawlable_col(F.col(link_col)))
    if robots_rules is not None:
        link_host = F.regexp_extract(F.col(link_col), r"^(https?://[^/]+)", 1)
        out = out.withColumn("_lhost", link_host)
        joined = out.join(
            F.broadcast(robots_rules.withColumnRenamed("host", "_lhost")),
            "_lhost",
            "left",
        )
        path = F.expr(f"substring({link_col}, length(_lhost) + 1)")
        # F.get (not getItem): null on empty match list under ANSI mode
        first_match = F.get(
            F.filter("rules", lambda r: path.startswith(r["prefix"])), F.lit(0)
        )
        allowed = (
            F.col("rules").isNull()
            | first_match.isNull()
            | first_match["allow"]
        )
        out = joined.where(allowed).drop("_lhost", "rules")
    return out.withColumn(
        "priority", is_navigation_col(F.col(link_col)).cast("int")
    )


def new_links_only(
    links: DataFrame,
    known: DataFrame,
    link_col: str = "link",
    known_url_col: str = "url",
) -> DataFrame:
    """Known-link dedup as a distributed anti-join: both sides reduce
    to the canonical key (scheme-less, slash-less), exactly covering
    the 4-variant membership test of is_known_link."""
    keyed = links.withColumn("_ck", canonical_key_col(F.col(link_col)))
    known_keys = known.select(canonical_key_col(F.col(known_url_col)).alias("_ck")).distinct()
    return keyed.join(known_keys, "_ck", "left_anti").drop("_ck")


# Case-insensitive feed-host whitelist (parity: RX_FEED_WHITELIST,
# urlutils.py:123-134) as a native rlike pattern.
_FEED_WHITELIST_PATTERN = r"(?i)feed(?:burner|proxy)"


def filter_url_lists(
    links: DataFrame,
    url_col: str = "link",
    filter_col: str = "urlfilter",
    group_col: str = "doc_id",
) -> DataFrame:
    """Distributed filter_urls (parity urlutils.py:123-134): per-group
    substring filter over a link list with a feed-host fallback when
    nothing matches, deduplicated.  A NULL filter keeps every link.

    Plan: ONE window aggregation on the group key decides per group
    whether the substring matched anything (no join, no second scan of
    the link stream), then the conditional keep and a distinct on
    (group, link).  The distinct's clustering requirement is satisfied
    by the window's hashpartitioning on the group key (partitioning-
    subset reuse), so this is ONE exchange total — pinned by
    tests/test_catalog_oracles.py — and the fallback groups never
    collect their links anywhere.
    """
    from pyspark.sql import Window

    hit = F.col(filter_col).isNotNull() & F.col(url_col).contains(
        F.col(filter_col)
    )
    any_hit = F.max(hit.cast("int")).over(Window.partitionBy(group_col)) == 1
    tagged = links.select(
        F.col(group_col),
        F.col(url_col).alias("link"),
        F.col(filter_col),
        hit.alias("_hit"),
        (F.col(filter_col).isNotNull() & ~any_hit).alias("used_fallback"),
    )
    keep = (
        F.col(filter_col).isNull()
        | F.col("_hit")
        | (F.col("used_fallback") & F.col("link").rlike(_FEED_WHITELIST_PATTERN))
    )
    return tagged.where(keep).select(group_col, "link", "used_fallback").distinct()
