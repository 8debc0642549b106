"""Spark operator behavior on small in-memory fixtures.

Mirrors the reference's stateful/sampling test scenarios
(/root/reference/tests/urlstore_tests.py and unit_tests.py:1320-1350)
against the DataFrame operators, plus native-vs-Python predicate
equivalence and end-to-end pipeline recall on a planted corpus.
"""

import pytest
from pyspark.sql import functions as F

from courlan_spark.functions.native import (
    basic_filter_col,
    canonical_key_col,
    is_navigation_col,
    is_not_crawlable_col,
)
from courlan_spark.operators import dedup, frontier, sampling
from courlan_spark.operators.cc import connected_components
from courlan_spark.urlkit import (
    basic_filter,
    canonical_dedup_key,
    is_navigation_page,
    is_not_crawlable,
)

URL_CORPUS = [
    "https://test.org/",
    "https://test.org/page/1",
    "https://test.org/?p=11",
    "https://test.org/login",
    "https://test.org/login/",
    "https://test.org/login.php",
    "https://test.org/page",
    "http://www.example.org/tag/abcde/",
    "http://www.example.org/category/x/",
    "https://example.com/kontakt.html",
    "https://example.com/impressum/",
    "short",
    "http://" + "a" * 600 + ".com/x",
    "https://site.de/datenschutzerklaerung",
    "https://site.de/mailto:someone",
    "https://x.org/author/name/",
]


def test_native_predicates_match_python(spark):
    df = spark.createDataFrame([(u,) for u in URL_CORPUS], "url string")
    rows = df.select(
        "url",
        basic_filter_col(F.col("url")).alias("basic"),
        is_navigation_col(F.col("url")).alias("nav"),
        is_not_crawlable_col(F.col("url")).alias("nc"),
        canonical_key_col(F.col("url")).alias("ck"),
    ).collect()
    for row in rows:
        assert row["basic"] == basic_filter(row["url"]), row["url"]
        assert row["nav"] == is_navigation_page(row["url"]), row["url"]
        assert row["nc"] == is_not_crawlable(row["url"]), row["url"]
        assert row["ck"] == canonical_dedup_key(row["url"]), row["url"]


def test_check_udf_matches_scalar(spark):
    from courlan_spark.functions.url_udfs import make_check_url_udf
    from courlan_spark.urlkit import check_url

    df = spark.createDataFrame([(u,) for u in URL_CORPUS], "url string")
    udf = make_check_url_udf(strict=True, language="de")
    rows = df.select("url", udf("url").alias("c")).collect()
    for row in rows:
        expected = check_url(row["url"], strict=True, language="de")
        got = (
            None
            if row["c"]["norm_url"] is None
            else (row["c"]["norm_url"], row["c"]["domain"])
        )
        assert got == expected, row["url"]


FRONTIER_ROWS = [
    # host, path, visited, seq, priority
    ("https://example.org", "/a", False, 1, 0),
    ("https://example.org", "/b", True, 2, 0),
    ("https://example.org", "/nav", False, 3, 1),
    ("https://example.org", "/", False, 0, 0),
    ("https://other.com", "/1", True, 4, 0),
    ("https://other.com", "/2", True, 5, 0),
]


@pytest.fixture()
def frontier_df(spark):
    return spark.createDataFrame(
        FRONTIER_ROWS, "host string, path string, visited boolean, seq long, priority int"
    )


def test_host_aggregates_state(frontier_df):
    rows = {r["host"]: r for r in frontier.host_aggregates(frontier_df).collect()}
    assert rows["https://example.org"]["state"] == "OPEN"
    assert rows["https://example.org"]["total"] == 4
    assert rows["https://example.org"]["visited_count"] == 1
    assert rows["https://other.com"]["state"] == "ALL_VISITED"


def test_next_urls_priority_order(frontier_df):
    rows = frontier.next_urls(frontier_df, per_host=1).collect()
    picks = {r["host"]: r["path"] for r in rows}
    # navigation-priority path wins over earlier seq (appendleft analog)
    assert picks["https://example.org"] == "/nav"
    assert "https://other.com" not in picks  # fully visited


def test_filter_unknown_and_unvisited(spark, frontier_df):
    probe = spark.createDataFrame(
        [
            ("https://example.org/a",),
            ("https://example.org/b",),
            ("https://example.org/new",),
            ("https://unseen.net/x",),
        ],
        "url string",
    )
    unknown = {
        r["url"] for r in frontier.filter_unknown_urls(frontier_df, probe).collect()
    }
    assert unknown == {"https://example.org/new", "https://unseen.net/x"}
    unvisited = {
        r["url"] for r in frontier.filter_unvisited_urls(frontier_df, probe).collect()
    }
    # /b is stored+visited -> excluded; /a known-but-unvisited stays
    assert unvisited == {
        "https://example.org/a",
        "https://example.org/new",
        "https://unseen.net/x",
    }


def test_scheme_merge_and_variant_dedup(spark):
    rows = [
        ("http://example.org", "/a", False, 1, 0),
        ("https://example.org", "/b", False, 2, 0),
        ("https://example.org", "/b/", False, 3, 0),
    ]
    df = spark.createDataFrame(
        rows, "host string, path string, visited boolean, seq long, priority int"
    )
    merged = frontier.merge_scheme_variants(df)
    assert {r["host"] for r in merged.collect()} == {"https://example.org"}


def test_sampling_counts_match_reference_contract(spark):
    # reference scenario: unit_tests.py:1339-1350
    urls = (
        [("https://test.org", f"/{a}", False, a, 0) for a in range(1000)]
        + [("https://www.example.org", f"/{a}", False, a, 0) for a in range(100)]
        + [("https://www.other.org", f"/{a}", False, a, 0) for a in range(10000)]
    )
    df = spark.createDataFrame(
        urls, "host string, path string, visited boolean, seq long, priority int"
    )
    sample = sampling.sample_per_domain(df, samplesize=10).collect()
    by_host = {}
    for r in sample:
        by_host[r["host"]] = by_host.get(r["host"], 0) + 1
    assert by_host == {
        "https://test.org": 10,
        "https://www.example.org": 10,
        "https://www.other.org": 10,
    }
    sample150 = sampling.sample_per_domain(df, samplesize=150).collect()
    by_host = {}
    for r in sample150:
        by_host[r["host"]] = by_host.get(r["host"], 0) + 1
    assert by_host["https://test.org"] == 150
    assert by_host["https://www.example.org"] == 100
    assert by_host["https://www.other.org"] == 150
    # exclusion bounds
    assert (
        sampling.sample_per_domain(df, samplesize=10, exclude_min=20000).count() == 0
    )
    only_small = sampling.sample_per_domain(df, samplesize=10, exclude_max=150)
    assert {r["host"] for r in only_small.collect()} == {"https://www.example.org"}


def test_sampling_is_deterministic(spark):
    urls = [("https://t.org", f"/{a}", False, a, 0) for a in range(50)]
    df = spark.createDataFrame(
        urls, "host string, path string, visited boolean, seq long, priority int"
    )
    one = sorted(r["url"] for r in sampling.sample_per_domain(df, 5).collect())
    two = sorted(r["url"] for r in sampling.sample_per_domain(df, 5).collect())
    assert one == two


def test_connected_components_shapes(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (20, 21)],
        "src long, dst long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert {comp[n] for n in (1, 2, 3, 4, 5)} == {1}
    assert {comp[n] for n in (10, 11, 12)} == {10}
    assert {comp[n] for n in (20, 21)} == {20}


def test_exact_dedup_keeps_earliest(spark):
    rows = [
        (1, "k1", 100), (2, "k1", 50), (3, "k2", 10), (4, "k2", 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, key string, ts long")
    out = {r["key"]: r for r in dedup.exact_dedup(df, ["key"], ["ts", "doc_id"]).collect()}
    assert out["k1"]["doc_id"] == 2 and out["k1"]["n_copies"] == 2
    assert out["k2"]["doc_id"] == 3  # ts tie -> min doc_id
    # salted two-phase gives identical winners
    salted = {
        r["key"]: r
        for r in dedup.exact_dedup(df, ["key"], ["ts", "doc_id"], salt_partitions=4).collect()
    }
    assert {k: v["doc_id"] for k, v in out.items()} == {
        k: v["doc_id"] for k, v in salted.items()
    }


def test_download_schedule_quota_and_delays(spark):
    rows = [
        ("https://a.org", f"/{i}", False, i, 0) for i in range(5)
    ] + [
        ("https://b.org", f"/{i}", False, i, 0) for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "host string, path string, visited boolean, seq long, priority int"
    )
    # quota: max_urls=4 over 2 open hosts -> 2 per host
    sched = frontier.download_schedule(df, max_urls=4, time_limit=10.0).collect()
    assert len(sched) == 4
    by_host = {}
    for r in sched:
        by_host.setdefault(r["host"], []).append(r["schedule_secs"])
    assert by_host["https://a.org"] == [0.0, 10.0]
    assert by_host["https://b.org"] == [0.0, 10.0]

    # per-host robots crawl delay overrides the default spacing
    delays = spark.createDataFrame(
        [("https://a.org", 30.0)], "host string, crawl_delay double"
    )
    sched = frontier.download_schedule(
        df, max_urls=4, time_limit=10.0, crawl_delays=delays
    ).collect()
    by_host = {}
    for r in sched:
        by_host.setdefault(r["host"], []).append(r["schedule_secs"])
    assert by_host["https://a.org"] == [0.0, 30.0]
    assert by_host["https://b.org"] == [0.0, 10.0]


def test_crawlable_links_robots_rules(spark):
    """Per-host robots rules, as the caller's already-parsed table (the
    analog of courlan taking a RobotFileParser): the first matching
    prefix decides, so an Allow carve-out survives the broader
    Disallow; an empty-prefix allow rule (what the stdlib makes of a
    bare ``Disallow:``) lets everything through; a host with no rules
    keeps its links."""
    from courlan_spark.operators.links import crawlable_links

    rules = spark.createDataFrame(
        [
            ("https://example.org", [("/private/public-part/", True), ("/private/", False), ("/tmp/", False)]),
            ("https://open.org", [("", True)]),
        ],
        "host string, rules array<struct<prefix:string,allow:boolean>>",
    )
    links = spark.createDataFrame(
        [
            ("https://example.org/private/secret",),
            ("https://example.org/private/public-part/ok",),
            ("https://example.org/tmp/y",),
            ("https://example.org/public/page",),
            ("https://open.org/anything",),
            ("https://norules.org/x",),
        ],
        "link string",
    )
    filtered = crawlable_links(links, robots_rules=rules)
    assert {r["link"] for r in filtered.collect()} == {
        "https://example.org/private/public-part/ok",
        "https://example.org/public/page",
        "https://open.org/anything",
        "https://norules.org/x",
    }
    # a broadcast HASH join on the host key, not a nested-loop prefix
    # join over every rule
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_connected_components_vs_union_find(spark):
    "CC must match a scalar union-find on random graphs."
    import random

    rng = random.Random(7)
    nodes = list(range(60))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(45)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    touched = {n for e in edges for n in e}
    expected = {n: find(n) for n in touched}
    # canonicalize: component id = min node of component
    comp_min = {}
    for n, root in expected.items():
        comp_min.setdefault(root, n)
        comp_min[root] = min(comp_min[root], n)
    expected = {n: comp_min[find(n)] for n in touched}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected


def test_strip_shared_blocks_equals_gram_cover():
    "strip_shared_blocks == union-of-shared-63-gram-windows semantics."
    import random

    from courlan_spark.operators.suffix import strip_shared_blocks

    def brute(text, refs, L=63):
        grams = set()
        for r in refs:
            for i in range(len(r) - L + 1):
                grams.add(r[i : i + L])
        covered = [False] * len(text)
        for i in range(len(text) - L + 1):
            if text[i : i + L] in grams:
                for p in range(i, i + L):
                    covered[p] = True
        return (
            "".join(ch for ch, c in zip(text, covered) if not c),
            sum(covered),
        )

    random.seed(7)
    block = "B" * 30 + "the quick brown fox jumps over the lazy dog endlessly" + "E" * 10
    for trial in range(60):
        ref = "".join(random.choice("abcd ") for _ in range(random.randint(0, 150)))
        pre = "".join(random.choice("wxyz ") for _ in range(random.randint(0, 80)))
        post = "".join(random.choice("wxyz ") for _ in range(random.randint(0, 80)))
        if trial % 3 == 0:
            ref2, text = ref + block, pre + block + post
        elif trial % 3 == 1:
            ref2, text = ref, pre + post
        else:
            ref2, text = block + ref + block[:70], block[:70] + pre + block + post
        assert strip_shared_blocks(text, [ref2], 63) == brute(text, [ref2], 63)


def test_remove_duplicate_blocks_operator(spark):
    """Earliest doc keeps its text; later docs lose the shared block;
    unrelated docs untouched."""
    from courlan_spark.operators.suffix import remove_duplicate_blocks

    block = (
        "this is one very long boilerplate navigation footer that sites "
        "repeat verbatim on every single page they serve"
    )
    assert len(block) >= 63
    rows = [
        (0, "original article text. " + block),
        (1, "different lead-in words here. " + block + " and a unique tail."),
        (2, "a totally unrelated document with its own words only."),
        (3, block),  # the whole doc is the shared block
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_duplicate_blocks(docs).collect()}
    assert out[0]["text"] == rows[0][1] and out[0]["n_removed"] == 0
    # the shared block extends over the '. ' boundary both docs share,
    # so the removed span is slightly wider than `block` itself
    assert block not in out[1]["text"] and out[1]["n_removed"] >= len(block)
    assert out[1]["text"].startswith("different lead-in words here")
    assert "unique tail." in out[1]["text"]
    assert out[2]["text"] == rows[2][1] and out[2]["n_removed"] == 0
    assert out[3]["text"] == "" and out[3]["n_removed"] == len(block)


def test_remove_duplicate_blocks_bounds_refs_under_hub_block(spark):
    """One boilerplate block shared by 10^3 docs: every doc's _refs
    payload stays capped at max_refs_per_doc (row size bounded — the
    round-3 OOM fix), the strip result is unchanged (any single
    partner carries the shared block), and the dropped-ref accounting
    fires with exact counts."""
    from pyspark.sql import Observation

    from courlan_spark.operators.suffix import remove_duplicate_blocks

    block = (
        "this is one very long boilerplate navigation footer that sites "
        "repeat verbatim on every single page they serve"
    )
    n = 1000
    rows = [(i, f"unique lead {i} words. " + block) for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    obs = Observation("ref_caps")
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_blocks(
            docs, max_refs_per_doc=4, observation=obs
        ).collect()
    }
    assert out[0]["n_removed"] == 0  # earliest copy keeps its text
    for i in (1, 17, n - 1):
        assert block not in out[i]["text"]
        # the shared span widens over the common " words. " run-in, so
        # only the genuinely unique prefix survives
        assert out[i]["text"].startswith(f"unique lead {i}")
    metrics = obs.get
    # doc i has i earlier partners; kept = min(i, 4)
    expected_kept = sum(min(i, 4) for i in range(n))
    expected_total = n * (n - 1) // 2
    assert metrics["refs_kept"] == expected_kept
    assert metrics["refs_dropped"] == expected_total - expected_kept
    assert metrics["docs_with_dropped_refs"] == n - 5  # docs with >4 partners


def test_scalar_sample_matches_spark_operator(spark):
    "urlkit.sample_urls and sample_per_domain share the md5 rank: identical picks."
    from courlan_spark.operators.frontier import exact_path_dedup, ingest_urls
    from courlan_spark.operators.sampling import sample_per_domain
    from courlan_spark.urlkit import sample_urls

    urls = (
        [f"https://big.org/{a}" for a in range(200)]
        + [f"https://mid.org/x/{a}" for a in range(40)]
        + [f"https://tiny.org/{a}" for a in range(3)]
    )
    scalar = sorted(sample_urls(urls, 25))
    df = spark.createDataFrame([(u,) for u in urls], "url string").coalesce(1)
    frontier = exact_path_dedup(ingest_urls(df))
    dist = sorted(r["url"] for r in sample_per_domain(frontier, samplesize=25).collect())
    assert scalar == dist


def test_keep_representatives(spark):
    """One surviving row per cluster (the min-member representative)
    with cluster_size; singletons survive with size 1."""
    from courlan_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "d")], "doc_id long, text string"
    )
    assignments = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (9, 9)], "doc_id long, cluster_id long"
    )
    rows = {
        r["doc_id"]: (r["text"], r["cluster_size"])
        for r in dedup.keep_representatives(docs, assignments).collect()
    }
    assert rows == {1: ("a", 2), 3: ("c", 1), 9: ("d", 1)}


def test_remove_duplicate_blocks_default_accounting_is_unconditional(spark):
    """Callers that pass no Observation still get the dropped-ref
    accounting: the default cap attaches its own Observation, exposed
    as `_refs_observation` on the result (round-4 ADVICE fix — a
    bounded removal must never truncate silently)."""
    from courlan_spark.operators.suffix import remove_duplicate_blocks

    block = (
        "this is one very long boilerplate navigation footer that sites "
        "repeat verbatim on every single page they serve"
    )
    n = 30
    docs = spark.createDataFrame(
        [(i, f"unique lead {i} words. " + block) for i in range(n)],
        "doc_id long, text string",
    )
    result = remove_duplicate_blocks(docs, max_refs_per_doc=4)
    result.collect()
    obs = result._refs_observation
    assert obs is not None
    metrics = dict(obs.get)
    assert metrics["refs_kept"] == sum(min(i, 4) for i in range(n))
    assert metrics["refs_dropped"] == n * (n - 1) // 2 - metrics["refs_kept"]


def test_bpe_ish_token_count_matches_python_model(spark):
    """bpe_ish_token_count_col == the boundary-split model: maximal
    letter/digit runs count once, every other non-whitespace char is
    its own token, whitespace contributes nothing.  Exercises unicode
    letters, digit/letter mixes, punctuation runs, and the tab/newline
    case the earlier split-based form miscounted."""
    import re

    from pyspark.sql import functions as F

    from courlan_spark.functions.text import bpe_ish_token_count_col

    def model(s: str) -> int:
        runs = len(re.findall(r"[^\W_]+", s, flags=re.UNICODE))
        symbols = len(re.sub(r"[^\W_]| |\t|\n|\r|\f", "", s, flags=re.UNICODE))
        return runs + symbols

    bank = [
        "plain words here",
        "dots...and!!marks",
        "a1b2 mixed42runs",
        "tabs\tand\nnewlines\r\nhere",
        "unicode crème brûlée à 3€",
        "under_score-is_two tokens",
        "",
        "   ",
        "!@#$%",
        "end.",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(bank)], "i long, s string")
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", bpe_ish_token_count_col(F.col("s")).alias("n")
        ).collect()
    }
    for i, s in enumerate(bank):
        assert got[i] == model(s), (i, s, got[i], model(s))


def test_filter_url_lists_randomized_parity(spark):
    """filter_url_lists vs the scalar filter_urls over 200 random link
    lists (seeded): substring hits, feed fallback, NULL filter, dups,
    and groups where even the fallback returns nothing."""
    import random

    from courlan_spark.operators.links import filter_url_lists
    from courlan_spark.urlkit import filter_urls

    rng = random.Random(20260817)
    pieces = ["cat", "dog", "shop", "feedburner", "FeedProxy", "x", "zzz"]
    rows, truth = [], {}
    for gid in range(200):
        urlfilter = rng.choice([None, "cat", "shop", "q"])
        links = [
            "https://h%d.example.com/%s/%s" % (
                rng.randrange(3), rng.choice(pieces), rng.choice(pieces)
            )
            for _ in range(rng.randrange(1, 8))
        ]
        links += rng.sample(links, k=min(2, len(links)))  # duplicates
        rows += [(gid, urlfilter, l) for l in links]
        truth[gid] = set(filter_urls(links, urlfilter))
    truth = {g: s for g, s in truth.items() if s}

    df = spark.createDataFrame(rows, "doc_id long, urlfilter string, link string")
    got = {}
    for r in filter_url_lists(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["link"])
    assert got == truth
