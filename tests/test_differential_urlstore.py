"""Differential parity for store semantics: the reference UrlStore
(running live via the babel/tld shims) vs the frontier operators.

Set-level contracts compared exactly; order contracts compared where
the reference is deterministic (deque order); sampling compared on
counts (the reference draws with random.sample — its own tests assert
counts only, unit_tests.py:1320-1351)."""

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
from tools.bench_reference import _install_shims  # noqa: E402


@pytest.fixture(scope="module")
def ref():
    _install_shims()
    sys.path.insert(0, "/root/reference")
    pytest.importorskip("courlan", reason="courlan reference checkout not present")
    from courlan.urlstore import UrlStore
    from courlan.sampling import sample_urls

    return {"UrlStore": UrlStore, "sample_urls": sample_urls}


URLS = (
    [f"https://www.example.org/{a}" for a in range(40)]
    + [f"https://test.org/x/{a}" for a in range(25)]
    + [
        "https://www.example.org/0",          # duplicate
        "https://www.example.org/0/",         # slash variant
        "http://invalid",                      # rejected by validate
        "https://www.example.org/2011/11/",   # storable (no type filter!)
        "http://t.g/short",                    # netloc too short
    ]
)


def _ingest_frontier(spark, urls):
    from courlan_spark.operators.frontier import exact_path_dedup, ingest_urls

    df = spark.createDataFrame([(u,) for u in urls], "url string").coalesce(1)
    # single add_urls batch: exact dedup only (reference keeps
    # within-batch trailing-slash variants)
    return exact_path_dedup(ingest_urls(df)).cache()


def test_store_contents_differential(spark, ref):
    store = ref["UrlStore"]()
    store.add_urls(list(URLS))
    ref_urls = set(store.dump_urls())

    frontier_df = _ingest_frontier(spark, URLS)
    engine_urls = {
        r["host"] + r["path"] for r in frontier_df.collect()
    }
    assert engine_urls == ref_urls

    # per-host totals match the reference DomainEntry bookkeeping
    from courlan_spark.operators.frontier import host_aggregates

    engine_totals = {
        r["host"]: r["total"] for r in host_aggregates(frontier_df).collect()
    }
    ref_totals = {d: store.urldict[d].total for d in store.get_known_domains()}
    assert engine_totals == ref_totals


def test_probe_filters_differential(spark, ref):
    store = ref["UrlStore"]()
    store.add_urls(list(URLS))
    probes = [
        "https://www.example.org/0",
        "https://www.example.org/999",
        "https://test.org/x/3",
        "https://nowhere.net/1",
    ]
    ref_unknown = set(store.filter_unknown_urls(probes))
    ref_unvisited = set(store.filter_unvisited_urls(probes))

    from courlan_spark.operators import frontier as fr

    frontier_df = _ingest_frontier(spark, URLS)
    probe_df = spark.createDataFrame([(u,) for u in probes], "url string")
    engine_unknown = {
        r["url"] for r in fr.filter_unknown_urls(frontier_df, probe_df).collect()
    }
    engine_unvisited = {
        r["url"] for r in fr.filter_unvisited_urls(frontier_df, probe_df).collect()
    }
    assert engine_unknown == ref_unknown
    assert engine_unvisited == ref_unvisited


def test_schedule_differential(spark, ref):
    store = ref["UrlStore"]()
    store.add_urls(list(URLS))
    ref_schedule = store.establish_download_schedule(max_urls=10, time_limit=3)
    ref_times = sorted(round(s, 2) for s, _ in ref_schedule)

    from courlan_spark.operators import frontier as fr

    frontier_df = _ingest_frontier(spark, URLS)
    engine = fr.download_schedule(frontier_df, max_urls=10, time_limit=3.0).collect()
    engine_times = sorted(round(r["schedule_secs"], 2) for r in engine)
    assert len(engine) == len(ref_schedule)
    assert engine_times == ref_times
    # per-host quota parity
    ref_hosts = sorted(u.rsplit("/", 1)[0] for _, u in ref_schedule)
    engine_hosts = sorted(r["url"].rsplit("/", 1)[0] for r in engine)
    assert engine_hosts == ref_hosts


def test_sampling_counts_differential(spark, ref):
    urls = (
        [f"https://big.org/{a}" for a in range(200)]
        + [f"https://mid.org/{a}" for a in range(40)]
        + [f"https://tiny.org/{a}" for a in range(3)]
    )
    ref_sample = ref["sample_urls"](urls, 25)
    ref_counts = {}
    for u in ref_sample:
        host = u.rsplit("/", 1)[0]
        ref_counts[host] = ref_counts.get(host, 0) + 1

    from courlan_spark.operators.sampling import sample_per_domain

    frontier_df = _ingest_frontier(spark, urls)
    engine = sample_per_domain(frontier_df, samplesize=25).collect()
    engine_counts = {}
    for r in engine:
        engine_counts[r["host"]] = engine_counts.get(r["host"], 0) + 1
    assert engine_counts == ref_counts


def test_discard_busted_differential(spark, ref):
    """discard(): pruned hosts report BUSTED, zero totals, never
    schedule again; other hosts unaffected (urlstore.py:338-345)."""
    store = ref["UrlStore"]()
    store.add_urls(list(URLS))
    store.discard(["https://test.org"])

    from courlan_spark.operators import frontier as fr

    frontier_df = fr.discard_hosts(_ingest_frontier(spark, URLS), ["https://test.org"])

    ref_states = {d: store.urldict[d].state.name for d in store.get_known_domains()}
    engine_states = {
        r["host"]: r["state"] for r in fr.host_aggregates(frontier_df).collect()
    }
    assert engine_states == ref_states

    ref_totals = {d: store.urldict[d].total for d in store.get_known_domains()}
    engine_totals = {
        r["host"]: r["total"] for r in fr.host_aggregates(frontier_df).collect()
    }
    assert engine_totals == ref_totals

    assert store.is_exhausted_domain("https://test.org")
    assert fr.is_exhausted_domain(frontier_df, "https://test.org")
    assert not store.is_exhausted_domain("https://www.example.org")
    assert not fr.is_exhausted_domain(frontier_df, "https://www.example.org")
    # unknown hosts: False on both sides, no error
    assert not store.is_exhausted_domain("https://nowhere.net")
    assert not fr.is_exhausted_domain(frontier_df, "https://nowhere.net")

    assert set(store.get_unvisited_domains()) == {
        r["host"] for r in fr.unvisited_domains(frontier_df).collect()
    }
    assert store.unvisited_websites_number() == fr.unvisited_websites_number(
        frontier_df
    )
    assert store.total_url_number() == fr.total_url_number(frontier_df)
    assert set(store.dump_urls()) == {
        r["url"] for r in fr.dump_urls(frontier_df).collect()
    }
    # busted hosts draw nothing
    sched = fr.download_schedule(frontier_df, max_urls=50, time_limit=1.0).collect()
    assert all(not r["url"].startswith("https://test.org") for r in sched)


def test_rate_limit_loop_differential(spark, ref):
    """get_download_urls + timestamp stamping: a freshly pulled host is
    ineligible until time_limit elapses (urlstore.py:432-453)."""
    from datetime import datetime, timedelta

    from courlan_spark.operators import frontier as fr

    store = ref["UrlStore"]()
    store.add_urls(list(URLS))
    first_ref = store.get_download_urls(time_limit=10.0)
    # immediately afterwards every host is rate-limited
    assert store.get_download_urls(time_limit=10.0) == []

    frontier_df = _ingest_frontier(spark, URLS)
    t0 = datetime(2025, 1, 1, 12, 0, 0)
    picks = fr.get_download_urls(frontier_df, time_limit=10.0, now_ts=t0)
    assert {r["url"] for r in picks.collect()} == set(first_ref)

    hp = picks.withColumn("path", F.expr("substring(url, length(host) + 1)")).select(
        "host", "path"
    )
    stamped = fr.mark_visited(frontier_df, hp, visit_ts=t0)
    # 5 seconds later: still inside the limit -> nothing eligible
    again = fr.get_download_urls(
        stamped, time_limit=10.0, now_ts=t0 + timedelta(seconds=5)
    )
    assert again.count() == 0
    # 11 seconds later: hosts free again, next path per host drawn
    later = fr.get_download_urls(
        stamped, time_limit=10.0, now_ts=t0 + timedelta(seconds=11)
    )
    ref_second = store.get_download_urls(time_limit=-1.0)
    assert {r["url"] for r in later.collect()} == set(ref_second)
