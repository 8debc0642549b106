"""CLI surface: argument parity with the reference binary and the
process/sample flows against a shared session.

Reference scenarios: /root/reference/tests/unit_tests.py:1211-1318.
"""

import os

from courlan_spark.cli import parse_args, process_args

INPUT = """https://example.org/valid
http://ab
not-a-url
https://www.dwds.de/article-one
https://www.dwds.de/article-two
https://www.dwds.de/article-three
http://media.example.com/test.avi
"""


def test_parse_args():
    args = parse_args(
        [
            "-i", "input.txt",
            "-d", "discardedfile.txt",
            "--outputfile", "output.txt",
            "-v",
            "--language", "en",
            "--parallel", "2",
        ]
    )
    assert args.inputfile == "input.txt"
    assert args.discardedfile == "discardedfile.txt"
    assert args.outputfile == "output.txt"
    assert args.verbose is True
    assert args.language == "en"
    assert args.parallel == 2

    args = parse_args(["-i", "a", "-o", "b", "--sample", "10", "--exclude-min", "3"])
    assert args.sample == 10 and args.exclude_min == 3 and args.discardedfile is None


def _read_parts(path):
    lines = set()
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as fh:
                lines |= {line.strip() for line in fh if line.strip()}
    return lines


def test_cli_process_flow(spark, tmp_path):
    src = tmp_path / "input.txt"
    src.write_text(INPUT)
    out = tmp_path / "out"
    disc = tmp_path / "disc"
    args = parse_args(
        ["-i", str(src), "-o", str(out), "-d", str(disc), "-p", "2"]
    )
    process_args(args, spark=spark)
    valid = _read_parts(out)
    discarded = _read_parts(disc)
    assert "https://example.org/valid" in valid
    assert {"http://ab", "not-a-url"} <= discarded
    assert "http://media.example.com/test.avi" in discarded


def test_cli_sample_flow(spark, tmp_path):
    src = tmp_path / "input.txt"
    src.write_text(INPUT)
    out = tmp_path / "sample"
    args = parse_args(["-i", str(src), "-o", str(out), "--sample", "2"])
    process_args(args, spark=spark)
    sampled = _read_parts(out)
    # only dwds.de has >0 non-root paths after filtering; sample of 2
    assert len([u for u in sampled if "dwds.de" in u]) == 2


def test_pipeline_cli_end_to_end_and_resume(spark, tmp_path):
    "pipeline_cli: pages parquet in, assignments snapshot + summary out; --resume reuses stages."
    from datetime import datetime, timedelta

    from courlan_spark import pipeline_cli

    base = datetime(2025, 1, 1)
    rows = []
    for i in range(30):
        text = f"document body number {i % 10} with plenty of shared words inside"
        rows.append(
            (f"https://site{i % 5}.example.org/p/{i}", base + timedelta(seconds=i),
             b"<html></html>", text, "en")
        )
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.parquet(src)

    workdir = str(tmp_path / "run")
    args = pipeline_cli.parse_args(
        ["--input", src, "--workdir", workdir, "--threshold", "0.6"]
    )
    summary = pipeline_cli.run(args, spark=spark)
    assert summary["n_output"] == 30
    assert all(not s.get("resumed") for s in summary["stages"] if "resumed" in s)

    first = {
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(workdir + "/09_assignments").collect()
    }

    args2 = pipeline_cli.parse_args(
        ["--input", src, "--workdir", workdir, "--threshold", "0.6", "--resume"]
    )
    summary2 = pipeline_cli.run(args2, spark=spark)
    resumed = [s for s in summary2["stages"] if s.get("resumed")]
    assert len(resumed) >= 5  # every snapshot stage reused
    second = {
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(workdir + "/09_assignments").collect()
    }
    assert first == second


def test_pipeline_cli_incremental(spark, tmp_path):
    "--store-workdir switches to the incremental path and merges clusters."
    from datetime import datetime, timedelta

    from courlan_spark import pipeline_cli

    base = datetime(2025, 1, 1)

    def write(name, lo, hi):
        rows = [
            (f"https://site{i % 5}.example.org/p/{i}", base + timedelta(seconds=i),
             b"<html></html>",
             f"document body number {i % 10} with plenty of shared words inside",
             "en")
            for i in range(lo, hi)
        ]
        path = str(tmp_path / name)
        spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        ).write.parquet(path)
        return path

    base_src, delta_src = write("base", 0, 20), write("delta", 20, 30)
    base_dir, inc_dir = str(tmp_path / "base_run"), str(tmp_path / "inc_run")
    pipeline_cli.run(
        pipeline_cli.parse_args(["--input", base_src, "--workdir", base_dir]),
        spark=spark,
    )
    summary = pipeline_cli.run(
        pipeline_cli.parse_args(
            ["--input", delta_src, "--workdir", inc_dir,
             "--store-workdir", base_dir]
        ),
        spark=spark,
    )
    assert summary["mode"] == "incremental"
    assert summary["n_output"] == 30
    # the run's 09_assignments is a segment: the 10 delta docs plus
    # the old docs they relabelled; the chained store holds all 30
    from courlan_spark.plans.pipeline import FingerprintStore

    store = FingerprintStore.from_workdir(spark, base_dir)
    merged = FingerprintStore.from_workdirs(spark, base_dir, inc_dir).assignments
    assert merged.count() == 30
    before = {r["doc_id"]: r["cluster_id"] for r in store.assignments.collect()}
    after = {r["doc_id"]: r["cluster_id"] for r in merged.collect()}
    changed = {d for d, c in after.items() if before.get(d) != c}
    segment = {r["doc_id"] for r in spark.read.parquet(inc_dir + "/09_assignments").collect()}
    assert len(set(after) - set(before)) == 10
    assert segment == changed
