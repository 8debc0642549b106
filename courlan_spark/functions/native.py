"""Native (JVM-side, codegen-friendly) Column expressions.

Everything here stays inside whole-stage codegen — no Python
boundary.  Patterns mirror urlkit.patterns; the Java-regex renditions
are semantically identical for these pattern classes (verified by
tests/test_spark_functions.py against the Python layer).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java-regex forms of the crawl heuristics (urlkit.patterns).
_NAVIGATION_RE = (
    r"(?i)[/_-](archives|auth?or|[ck]at|category|kategorie|paged?|"
    r"schlagwort|seite|tags?|topics?|user)/|\?p=[0-9]+"
)
_NOT_CRAWLABLE_RE = (
    r"(?i)/([ck]onta[ck]t|datenschutzerkl.{1,2}rung|login|impressum|imprint)"
    r"(\.[a-z]{3,4})?/?$|/login\?|/(javascript:|mailto:|tel\.?:|whatsapp:)"
)


def basic_filter_col(url: Column) -> Column:
    "Native form of the cheap length/prefix gate (urlkit.basic_filter)."
    return url.startswith("http") & F.length(url).between(10, 499)


def is_navigation_col(url: Column) -> Column:
    "Native navigation-page heuristic (urlkit.is_navigation_page)."
    return url.rlike(_NAVIGATION_RE)


def is_not_crawlable_col(url: Column) -> Column:
    "Native deep-web heuristic (urlkit.is_not_crawlable)."
    return url.rlike(_NOT_CRAWLABLE_RE)


def canonical_key_col(url: Column) -> Column:
    """Scheme-less, trailing-slash-less canonical key under which all
    four known-link variants collide (urlkit.canonical_dedup_key) —
    the anti-join key for distributed known-link dedup."""
    return F.regexp_replace(F.regexp_replace(url, r"^https?://", ""), r"/+$", "")
