"""URL-file ingestion, two-sink split, frontier persistence/pull, and
streaming session windows."""

import os
from datetime import datetime

from pyspark.sql import functions as F

from courlan_spark.operators import frontier
from courlan_spark.sources.urlfile import (
    check_urls,
    read_url_list,
    split_valid_discarded,
    write_two_sinks,
)

# reference golden input shape (tests/data/input.txt + discard cases
# from unit_tests.py:1291-1305)
INPUT_LINES = [
    "https://example.org/valid",
    "http://ab",
    "not-a-url",
    "https://www.dwds.de/de/article-1",
    "http://media.example.com/video.avi",
    "",
]


def test_url_list_two_sink_split(spark, tmp_path):
    src = tmp_path / "input.txt"
    src.write_text("\n".join(INPUT_LINES) + "\n")
    urls = read_url_list(spark, str(src))
    assert urls.count() == 5  # blank line dropped

    checked = check_urls(urls)
    valid, discarded = split_valid_discarded(checked)
    valid_urls = {r["url"] for r in valid.collect()}
    discarded_urls = {r["url"] for r in discarded.collect()}
    assert "https://example.org/valid" in valid_urls
    assert "http://ab" in discarded_urls
    assert "not-a-url" in discarded_urls
    assert "http://media.example.com/video.avi" in discarded_urls

    out = tmp_path / "out"
    disc = tmp_path / "disc"
    write_two_sinks(checked, str(out), str(disc))
    out_lines = set()
    for name in os.listdir(out):
        if name.startswith("part-"):
            out_lines |= set((out / name).read_text().splitlines())
    assert "https://example.org/valid" in out_lines


def test_rate_limited_pull_and_persistence(spark, tmp_path):
    rows = [
        ("https://a.org", "/1", False, 1, 0, datetime(2025, 1, 1, 0, 0, 0)),
        ("https://a.org", "/2", False, 2, 0, datetime(2025, 1, 1, 0, 0, 0)),
        ("https://b.org", "/1", False, 3, 0, datetime(2025, 1, 1, 0, 0, 50)),
        ("https://c.org", "/1", False, 4, 0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "host string, path string, visited boolean, seq long, priority int, host_ts timestamp",
    )
    # now = 00:01:00; b.org was contacted 10s ago -> excluded at limit 30
    pulled = frontier.get_download_urls(
        df, time_limit=30.0, now_ts="2025-01-01 00:01:00"
    ).collect()
    assert {r["host"] for r in pulled} == {"https://a.org", "https://c.org"}
    assert {r["url"] for r in pulled} == {"https://a.org/1", "https://c.org/1"}

    # snapshot round-trip
    path = str(tmp_path / "frontier_snapshot")
    frontier.save_frontier(df, path)
    restored = frontier.load_frontier(spark, path)
    assert sorted(map(tuple, restored.collect())) == sorted(map(tuple, df.collect()))

    # done / threshold aggregates
    assert frontier.is_done(df) is False
    visited_df = df.withColumn("visited", F.lit(True))
    assert frontier.is_done(visited_df) is True
    assert frontier.download_threshold_reached(visited_df, 2) is True
    assert frontier.download_threshold_reached(visited_df, 3) is False


def test_part_extraction_udfs(spark):
    from courlan_spark.functions.url_udfs import (
        base_url_udf,
        fix_relative_udf,
        is_external_udf,
    )

    df = spark.createDataFrame(
        [
            ("https://example.org/a/b?q=1", "page.html", "https://example.org/x"),
            ("https://example.org", "//www.eff.org", "https://other.net/"),
        ],
        "url string, href string, ref string",
    )
    rows = df.select(
        base_url_udf("url").alias("base"),
        fix_relative_udf("url", "href").alias("fixed"),
        is_external_udf("url", "ref").alias("ext"),
    ).collect()
    assert rows[0]["base"] == "https://example.org"
    assert rows[0]["fixed"] == "https://example.org/a/page.html"
    assert rows[0]["ext"] is False
    assert rows[1]["fixed"] == "https://www.eff.org"
    assert rows[1]["ext"] is True


def test_user_session_windows_streaming_closed_sessions(spark, tmp_path):
    """Native session windows on a file stream: append mode emits
    exactly the sessions the watermark has closed, each equal to the
    batch formulation's session."""
    import pandas as pd

    from courlan_spark.streaming.stateful import user_session_windows

    src = tmp_path / "sess_src"
    src.mkdir()
    base = pd.Timestamp("2025-01-01 00:00:00")
    rows = []
    # user 1: two sessions (40-min gap); user 2: one session, then a
    # late burst that keeps its last session open past the watermark
    for mins, user in [(0, 1), (5, 1), (50, 1), (0, 2), (10, 2), (170, 2), (175, 2)]:
        rows.append({"ts": base + pd.Timedelta(minutes=mins), "user_id": user})
    pdf = pd.DataFrame(rows)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema("ts timestamp, user_id bigint").parquet(str(src))
    q = (
        user_session_windows(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    batch = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in user_session_windows(spark.createDataFrame(pdf)).collect()
    }
    # watermark = max event time (02:55) - 1h = 01:55: the three early
    # sessions closed; user 2's 02:50-02:55 session is still open and
    # withheld (bounded state)
    closed = {s for s in batch if s[2] < "2025-01-01 01:55:00"}
    assert got == closed and len(got) == 3
