"""Catalog integrity without a SparkSession.

1. The URL-bank oracle expectations must match the scalar parity
   layer exactly (protects the driver correctness gate from drift).
2. Every oracle SQL string must parse and run on DuckDB at sf0.001.
"""

import duckdb
import pytest

from courlan_spark.plans.catalog import ORACLES, URL_BANK
from courlan_spark.urlkit import check_url

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _render(fragment, doc_id):
    "Evaluate a concat(...)-style SQL fragment in Python."
    if fragment is None:
        return None
    inner = fragment.strip()
    if inner.startswith("concat(") and inner.endswith(")"):
        parts = []
        for piece in inner[len("concat(") : -1].split(","):
            piece = piece.strip()
            if piece == "{ID}":
                parts.append(str(doc_id))
            else:
                parts.append(piece.strip("'"))
        return "".join(parts)
    return inner.strip("'")


@pytest.mark.parametrize("doc_id", [0, 7, 123])
def test_urlbank_expectations(doc_id):
    from courlan_spark.plans.catalog import _STRICT_REJECTED

    for k, (raw_frag, norm_frag, domain) in enumerate(URL_BANK):
        raw = _render(raw_frag, doc_id)
        expected = _render(norm_frag, doc_id)
        result = check_url(raw, strict=False)
        if expected is None:
            assert result is None, f"{raw} unexpectedly accepted: {result}"
        else:
            assert result is not None, f"{raw} unexpectedly rejected"
            assert result[0] == expected
            assert result[1] == domain
        # strict mode: same expectations except the strict-rejected set
        strict_result = check_url(raw, strict=True)
        if expected is None or k in _STRICT_REJECTED:
            assert strict_result is None, f"{raw} accepted under strict"
        else:
            assert strict_result == (expected, domain)


@pytest.mark.parametrize("doc_id", [0, 7, 123])
def test_url_parts_bank(doc_id):
    """URL_PARTS_BANK expectations == the scalar layer (fix_relative_urls,
    get_base_url, get_host_and_path, is_external) for every template."""
    from courlan_spark.plans.catalog import URL_PARTS_BANK
    from courlan_spark.urlkit import (
        fix_relative_urls,
        get_base_url,
        is_external,
    )
    from courlan_spark.urlkit.parts import get_host_and_path

    def render(frag):
        if frag is None or frag == "NULL":
            return None
        if isinstance(frag, bool):
            return frag
        return _render(frag, doc_id)

    for k, entry in enumerate(URL_PARTS_BANK):
        base = render(entry["base"])
        href = render(entry["href"])
        fixed = fix_relative_urls(base, href)
        assert fixed == render(entry["fixed"]), (k, href)
        assert get_base_url(fixed) == render(entry["base_url"]), (k, fixed)
        try:
            host, path = get_host_and_path(fixed)
        except (ValueError, TypeError, AttributeError):
            host = path = None
        assert host == render(entry.get("host", entry["base_url"])), (k, fixed)
        assert path == render(entry["path"]), (k, fixed)
        assert is_external(fixed, base) is entry["external"], (k, fixed)


@pytest.mark.parametrize("doc_id", [0, 7, 123, 4999])
def test_clean_url_bank(doc_id):
    """CLEAN_URL_BANK expectations == the scalar clean_url with
    language='en', and clean_url == the exact scrub+normalize chain
    the q_clean_urls UDF applies (trailing_slash=False)."""
    from courlan_spark.plans.catalog import CLEAN_URL_BANK
    from courlan_spark.urlkit.textual import clean_url, normalize_url, scrub_url

    for k, (raw_frag, clean_frag) in enumerate(CLEAN_URL_BANK):
        raw = _render(raw_frag, doc_id)
        expected = _render(clean_frag, doc_id)
        assert clean_url(raw, "en") == expected, (k, raw)
        try:
            chained = normalize_url(scrub_url(raw), False, "en", False)
        except (AttributeError, ValueError):
            chained = None
        assert chained == expected, (k, raw)


@pytest.mark.parametrize("doc_id", [0, 7, 123])
def test_nav_flags_bank(doc_id):
    "NAV_BANK pinned booleans == the scalar crawl heuristics."
    from courlan_spark.plans.catalog import NAV_BANK
    from courlan_spark.urlkit import is_navigation_page, is_not_crawlable

    for k, (frag, nav, noncrawl) in enumerate(NAV_BANK):
        url = _render(frag, doc_id)
        assert is_navigation_page(url) is nav, (k, url)
        assert is_not_crawlable(url) is noncrawl, (k, url)


@pytest.mark.parametrize("doc_id", [0, 7, 123])
def test_hostinfo_bank(doc_id):
    """HOSTINFO_BANK pins == the scalar layer on BOTH resolver paths
    (full-PSL slow lookup and the fast regex shortcut) + get_base_url."""
    from courlan_spark.plans.catalog import HOSTINFO_BANK
    from courlan_spark.urlkit.parts import extract_domain, get_base_url

    def render(frag):
        if frag == "NULL":
            return None
        return _render(frag, doc_id)

    for k, entry in enumerate(HOSTINFO_BANK):
        url = _render(entry["url"], doc_id)
        assert extract_domain(url, fast=False) == render(entry["domain_psl"]), (
            k,
            url,
        )
        assert extract_domain(url, fast=True) == render(entry["domain_fast"]), (
            k,
            url,
        )
        assert get_base_url(url) == render(entry["base_url"]), (k, url)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{table}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(n for n, s in ORACLES.items() if s))
def test_oracle_sql_runs_on_duckdb(duck, name):
    rows = duck.execute(ORACLES[name]).fetchmany(5)
    assert isinstance(rows, list)


def test_event_sessions_equal_native_session_window(spark):
    """The gap-and-island formulation (q_event_sessions) produces the
    same sessions as Spark's native session_window aggregation — the
    operator a streaming deployment would use (watermark + append mode)
    — so the batch oracle also certifies the streaming-native path."""
    from pyspark.sql import functions as F

    from courlan_spark.plans.catalog import q_event_sessions

    sf_dir = "/root/testdata/sf0.001"
    ours = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in q_event_sessions(spark, sf_dir).collect()
    }
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    native = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in (
            events.groupBy(
                "user_id", F.session_window("ts", "30 minutes").alias("sw")
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ'1970-01-01 00:00:00', min(ts))"
                ).alias("session_start_us"),
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ'1970-01-01 00:00:00', max(ts))"
                ).alias("session_end_us"),
            )
            .select("user_id", "session_start_us", "session_end_us", "n_events")
        ).collect()
    }
    assert ours == native and len(ours) > 50


def test_catalog_outputs_only_hash_stable_types(spark):
    """Every catalog query must emit only engine-neutral column types
    (string/bigint/int/double/boolean).  Raw timestamps or decimals
    hash differently depending on the consuming harness's session
    timezone / pandas datetime unit — round 3's only red CORRECTNESS
    cell (q_event_sessions) was exactly this class of failure.
    Schema-only: builds each DataFrame without executing it."""
    import __spark_entry__ as entrymod

    allowed = {"string", "bigint", "int", "double", "boolean"}
    offenders = {}
    for name, fn in sorted(entrymod.queries().items()):
        df = fn(spark, SF_DIR)
        bad = {c: t for c, t in df.dtypes if t not in allowed}
        if bad:
            offenders[name] = bad
    assert not offenders, f"non-hash-stable output columns: {offenders}"


def test_filter_urls_frame_matches_scalar(spark):
    """The distributed filter_url_lists pass must reproduce the scalar
    filter_urls (urlutils.py:123-134) per document: substring filter,
    feed-whitelist fallback when nothing matches, NULL filter keeps
    all, sorted-set dedup.  Also pins the plan: ONE shuffle exchange
    (the distinct's (doc_id, link) clustering is satisfied by the
    window's doc_id hash partitioning) and a doc_id-only parquet scan."""
    from courlan_spark.plans.catalog import FILTER_URLS_SQL, q_filter_urls
    from courlan_spark.urlkit import filter_urls

    df = q_filter_urls(spark, SF_DIR)

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ReadSchema: struct<doc_id:bigint>" in plan

    got: dict[int, set[str]] = {}
    fallback_docs = set()
    for r in df.collect():
        got.setdefault(r["doc_id"], set()).add(r["link"])
        if r["used_fallback"]:
            fallback_docs.add(r["doc_id"])

    bank: dict[int, tuple[str | None, list[str]]] = {}
    spark.read.parquet(f"{SF_DIR}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    for r in spark.sql(FILTER_URLS_SQL).collect():
        bank.setdefault(r["doc_id"], (r["urlfilter"], []))[1].append(r["link"])

    expected = {
        doc_id: set(filter_urls(links, urlfilter))
        for doc_id, (urlfilter, links) in bank.items()
    }
    expected = {d: s for d, s in expected.items() if s}
    assert got == expected
    # fallback fires exactly for the 'shop' filter (doc_id % 3 == 2):
    # nothing contains 'shop', so the feed whitelist kicks in
    assert fallback_docs == {d for d in bank if d % 3 == 2}
    assert len(got) == len(bank)  # every doc keeps at least one link


def test_gate_scratch_is_removed_at_process_exit(tmp_path):
    """The gate queries' per-process scratch directory outlives the
    helper's return (the frames read its files lazily) but not the
    process: nothing is left behind once it exits."""
    import os
    import subprocess
    import sys

    script = (
        "import os\n"
        "from courlan_spark.plans.catalog import _gate_scratch\n"
        "a = _gate_scratch('urlfile', 'urls')\n"
        "b = _gate_scratch('snapshot', 'frontier')\n"
        "open(a, 'w').write('x')\n"
        "print(os.path.dirname(os.path.dirname(b)))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=repo)
    done = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, check=True
    )
    root = done.stdout.strip()
    assert os.path.basename(root).startswith("courlan_gate_")
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
