"""URL-file ingestion, two-sink split, frontier persistence/pull, and
the Structured Streaming frontier ingest."""

import os
import shutil
import tempfile
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


def test_streaming_frontier_ingest(spark):
    from courlan_spark.streaming.ingest import start_frontier_ingest

    base = tempfile.mkdtemp(prefix="stream_")
    src = os.path.join(base, "incoming")
    frontier_dir = os.path.join(base, "frontier")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)
    os.makedirs(frontier_dir)
    try:
        with open(os.path.join(src, "batch1.txt"), "w") as fh:
            fh.write(
                "https://stream.example.org/a\n"
                "https://stream.example.org/tag/news/x?p=2\n"
                "not-a-url\n"
            )
        query = start_frontier_ingest(spark, src, frontier_dir, ckpt)
        query.awaitTermination(120)

        rows = spark.read.parquet(frontier_dir).collect()
        paths = {r["path"] for r in rows}
        assert "/a" in paths
        assert all(not r["visited"] for r in rows)

        # second batch: duplicate of /a must not re-append
        with open(os.path.join(src, "batch2.txt"), "w") as fh:
            fh.write("https://stream.example.org/a\nhttps://stream.example.org/b\n")
        query2 = start_frontier_ingest(spark, src, frontier_dir, ckpt)
        query2.awaitTermination(120)

        rows = spark.read.parquet(frontier_dir).collect()
        all_paths = [r["path"] for r in rows]
        assert all_paths.count("/a") == 1
        assert "/b" in all_paths
    finally:
        shutil.rmtree(base, ignore_errors=True)


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


def test_host_rate_windows_streaming_with_watermark(spark, tmp_path):
    """Windowed per-host crawl-rate aggregation on a file stream equals
    the batch oracle; watermark present in the streaming plan."""
    import pandas as pd

    from courlan_spark.streaming.stateful import host_rate_windows

    src = tmp_path / "events_src"
    src.mkdir()
    rows = []
    base = pd.Timestamp("2025-01-01 00:00:00")
    for m, host, n in [(0, "a.org", 3), (0, "b.org", 1), (1, "a.org", 2), (3, "b.org", 4)]:
        for i in range(n):
            rows.append(
                {"ts": base + pd.Timedelta(minutes=m, seconds=i), "host": host, "n_bytes": 100 + i}
            )
    pdf = pd.DataFrame(rows)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(str(src))

    schema = "ts timestamp, host string, n_bytes bigint"
    stream = spark.readStream.schema(schema).parquet(str(src))
    windowed = host_rate_windows(stream, window="1 minute", watermark="2 minutes")
    q = (
        windowed.writeStream.format("memory")
        .queryName("rate_windows")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"].isoformat(), r["host"]): (r["n_events"], r["total_bytes"])
        for r in spark.sql("SELECT * FROM rate_windows").collect()
    }
    oracle = {
        (r["window_start"].isoformat(), r["host"]): (r["n_events"], r["total_bytes"])
        for r in host_rate_windows(spark.createDataFrame(pdf)).collect()
    }
    # append mode emits only windows the watermark has CLOSED: max
    # event time 00:03:03 - 2 min watermark = 00:01:03, so exactly the
    # two [00:00, 00:01) windows finalize; open windows are withheld
    # (bounded state), and every emitted value matches the batch oracle
    closed = {k: v for k, v in oracle.items() if k[0] == "2025-01-01T00:00:00"}
    assert got == closed and len(got) == 2


def test_streaming_first_seen_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: one emission per key across
    micro-batches, earliest order wins inside the first batch."""
    from courlan_spark.streaming.stateful import streaming_first_seen

    src = tmp_path / "docs_src"
    src.mkdir()
    schema = "text_hash string, seq bigint, url string"
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    batch1 = [("h1", 2, "u1b"), ("h1", 1, "u1a"), ("h2", 5, "u2")]
    batch2 = [("h1", 0, "u1-later-batch"), ("h3", 7, "u3")]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    deduped = streaming_first_seen(
        stream, key_col="text_hash", order_col="seq", payload_cols=["url"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["text_hash"]: (r["seq"], r["url"])
        for r in spark.sql("SELECT * FROM first_seen").collect()
    }
    # h1 emitted once with the earliest row of its FIRST batch (seq 1);
    # the seq-0 row arriving in a later batch is swallowed by state
    assert got["h1"] == (1, "u1a")
    assert got["h2"] == (5, "u2")
    assert got["h3"] == (7, "u3")
    assert len(got) == 3


def test_streaming_first_seen_state_survives_restart(spark, tmp_path):
    """The per-key dedup state lives in the checkpointed state store:
    stopping the query and starting a new one over the same checkpoint
    must NOT re-emit keys already seen in the previous run."""
    from courlan_spark.streaming.stateful import streaming_first_seen

    src = tmp_path / "restart_src"
    src.mkdir()
    ck = str(tmp_path / "restart_ck")
    schema = "text_hash string, seq bigint, url string"

    out = str(tmp_path / "restart_out")

    def start_query():
        # parquet sink: unlike the memory sink it supports recovering
        # from an existing checkpoint, which is the point of this test
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        deduped = streaming_first_seen(
            stream, key_col="text_hash", order_col="seq", payload_cols=["url"]
        )
        return (
            deduped.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )

    spark.createDataFrame(
        [("k1", 1, "first"), ("k2", 2, "other")], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    q1 = start_query()
    q1.awaitTermination(120)
    got1 = {r["text_hash"]: r["url"] for r in spark.read.parquet(out).collect()}
    assert got1 == {"k1": "first", "k2": "other"}

    # second run, same checkpoint: k1 duplicate must be swallowed by
    # the restored state; only the new key emits
    spark.createDataFrame(
        [("k1", 0, "dup-after-restart"), ("k3", 9, "fresh")], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    q2 = start_query()
    q2.awaitTermination(120)
    got2 = {r["text_hash"]: r["url"] for r in spark.read.parquet(out).collect()}
    assert got2 == {"k1": "first", "k2": "other", "k3": "fresh"}


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
