"""CLI for the end-to-end near-duplicate pipeline.

The `courlan_spark.cli` module mirrors the reference binary's
clean/filter/sample surface; this one drives the engine's flagship
addition — the full dedup pipeline — from the command line:

    python -m courlan_spark.pipeline_cli \
        --input pages.parquet --workdir /data/dedup_run \
        [--threshold 0.6] [--snapshot-mode all|minimal] [--resume]
        [--parallel 8] [--language de] [--strict]

Incremental ingest (a delta batch against previous runs' fingerprint
store — operators/incremental.py):

    python -m courlan_spark.pipeline_cli \
        --input delta.parquet --workdir /data/dedup_day2 \
        --store-workdir /data/dedup_run [--store-workdir /data/dedup_day1]

`--store-workdir` may repeat (oldest first) to chain delta batches;
the run writes delta-scoped snapshots, so its own workdir becomes the
next chain link, and a delta run refuses `--snapshot-mode minimal`.
The delta's shuffle width is sized to its row count
(`run_incremental`'s docstring says how).  Its 09_assignments is a
segment of the rows the delta changed; the merged table is
`FingerprintStore.from_workdirs(spark, <store workdirs>,
<workdir>).assignments`, and the summary's `n_output` counts it.

Input: a parquet table shaped (url string, warc_ts timestamp,
html binary, text string, lang string) — the Common-Crawl-style page
table of the north rule.  Output: `<workdir>/09_assignments` snapshot
(doc_id, norm_url, domain, cluster_id) plus `<workdir>/metrics.json`,
whose durable stages record the `bytes` their snapshots wrote; the
run summary prints as one JSON line.  `--resume` skips every
stage whose snapshot already committed (identical final clusters —
see tests/test_pipeline_recall.py).

On a cluster, submit with the package zip:
    spark-submit --py-files courlan_spark.zip -m courlan_spark.pipeline_cli ...
(see tools/make_pyfiles_zip.py).
"""

from __future__ import annotations

import argparse
import json


def parse_args(args: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        description="run the MinHash/SimHash/substring near-dup pipeline"
    )
    parser.add_argument("--input", required=True, help="pages parquet path")
    parser.add_argument("--workdir", required=True, help="snapshot/checkpoint dir")
    parser.add_argument("--threshold", type=float, default=0.6, help="Jaccard verify threshold")
    parser.add_argument("--snapshot-mode", choices=["all", "minimal"], default="all")
    parser.add_argument("--resume", action="store_true", help="reuse committed stage snapshots")
    parser.add_argument("--strict", action="store_true")
    parser.add_argument("--language")
    parser.add_argument("--num-perm", type=int, default=128)
    parser.add_argument("--bands", type=int, default=32)
    parser.add_argument("--shingle-k", type=int, default=9)
    parser.add_argument("--max-bucket-size", type=int, default=2000)
    parser.add_argument("--min-tokens", type=int, default=None,
                        help="quality gate: drop docs with fewer tokens")
    parser.add_argument("--max-tokens", type=int, default=None,
                        help="quality gate: drop docs with more tokens")
    parser.add_argument("--min-alpha-ratio", type=float, default=None,
                        help="quality gate: drop docs below this alphabetic ratio")
    parser.add_argument("--no-substring", action="store_true")
    parser.add_argument(
        "--store-workdir", action="append", default=None,
        help="run incrementally: fingerprint-store workdir(s) of the "
        "base run and any earlier deltas, oldest first (repeatable)",
    )
    parser.add_argument(
        "-p", "--parallel", type=int, default=None,
        help="local cores (cluster: use spark-submit instead)",
    )
    parser.add_argument("-v", "--verbose", action="store_true")
    return parser.parse_args(args)


def run(args: argparse.Namespace, spark=None) -> dict:
    from .plans.pipeline import DedupConfig, DedupPipeline, FingerprintStore

    own_session = spark is None
    if own_session:
        from .plans.session import get_session

        spark = get_session(app_name="courlan-spark-pipeline", cpus=args.parallel)
        if not args.verbose:
            spark.sparkContext.setLogLevel("ERROR")
    try:
        pages = spark.read.parquet(args.input)
        config = DedupConfig(
            strict=args.strict,
            language=args.language,
            num_perm=args.num_perm,
            bands=args.bands,
            shingle_k=args.shingle_k,
            jaccard_threshold=args.threshold,
            max_bucket_size=args.max_bucket_size,
            with_substring_stage=not args.no_substring,
            snapshot_mode=args.snapshot_mode,
            min_tokens=args.min_tokens,
            max_tokens=args.max_tokens,
            min_alpha_ratio=args.min_alpha_ratio,
        )
        pipeline = DedupPipeline(spark, args.workdir, config)
        page_cols = pages.select("url", "warc_ts", "html", "text", "lang")
        if args.store_workdir:
            store = FingerprintStore.from_workdirs(spark, *args.store_workdir)
            summary = pipeline.run_incremental(page_cols, store, resume=args.resume)
        else:
            summary = pipeline.run(page_cols, resume=args.resume)
        return summary
    finally:
        if own_session:
            spark.stop()


def main() -> None:
    print(json.dumps(run(parse_args()), default=str))


if __name__ == "__main__":
    main()
