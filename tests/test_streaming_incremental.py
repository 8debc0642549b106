"""Streaming incremental clustering == batch delta chaining.

start_incremental_cluster_stream runs DedupPipeline.run_incremental in
foreachBatch over an accumulating store; with the SAME parquet files
driven through the batch chain, the final merged cluster table must be
identical row-for-row.  (Batch chaining itself is pinned equal to one
full run by tests/test_incremental.py, so transitively streaming ==
full run.)
"""

import glob
import os
import shutil
import tempfile
import time


from courlan_spark.plans.pipeline import DedupConfig, DedupPipeline, FingerprintStore
from courlan_spark.sources.pages import generate_pages, pages_view
from courlan_spark.streaming.incremental import (
    _committed_deltas,
    latest_assignments,
    start_incremental_cluster_stream,
)


def _write_single_file(df, stream_dir: str, name: str) -> str:
    "Write df as exactly one parquet file named <name> in stream_dir."
    tmp = tempfile.mkdtemp(prefix="stream_part_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    target = os.path.join(stream_dir, name)
    shutil.move(part, target)
    shutil.rmtree(tmp, ignore_errors=True)
    return target


def test_streaming_incremental_matches_batch_chain(spark):
    full = generate_pages(spark, 900).cache()
    parts = [
        pages_view(full.where("doc_id < 400")),
        pages_view(full.where("doc_id >= 400 and doc_id < 650")),
        pages_view(full.where("doc_id >= 650")),
    ]
    root = tempfile.mkdtemp(prefix="stream_inc_")
    base_dir = os.path.join(root, "base")
    stream_in = os.path.join(root, "in")
    out_root = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(stream_in)
    try:
        cfg = DedupConfig(jaccard_threshold=0.6)
        DedupPipeline(spark, base_dir, cfg).run(parts[0])

        # two delta files; distinct mtimes fix the micro-batch order
        f1 = _write_single_file(parts[1], stream_in, "delta1.parquet")
        time.sleep(1.1)
        f2 = _write_single_file(parts[2], stream_in, "delta2.parquet")
        schema = spark.read.parquet(f1).schema

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_in)
        )
        query = start_incremental_cluster_stream(
            stream, base_dir, out_root, ckpt, config=cfg
        )
        query.awaitTermination()

        committed = _committed_deltas(out_root)
        assert len(committed) == 2, f"want 2 micro-batches, got {committed}"

        # batch comparator over the SAME round-tripped files
        d1 = os.path.join(root, "batch_d1")
        d2 = os.path.join(root, "batch_d2")
        p1 = DedupPipeline(spark, d1, cfg)
        p1.run_incremental(
            spark.read.parquet(f1), FingerprintStore.from_workdir(spark, base_dir)
        )
        p2 = DedupPipeline(spark, d2, cfg)
        p2.run_incremental(
            spark.read.parquet(f2),
            FingerprintStore.from_workdirs(spark, base_dir, d1),
        )

        stream_rows = sorted(
            (r["doc_id"], r["cluster_id"])
            for r in latest_assignments(spark, base_dir, out_root).collect()
        )
        batch_rows = sorted(
            (r["doc_id"], r["cluster_id"])
            for r in p2.assignments().collect()
        )
        assert stream_rows == batch_rows and len(stream_rows) > 800

        # re-running the stream over the same checkpoint adds nothing
        # (the source replays no files)
        query2 = start_incremental_cluster_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_in),
            base_dir,
            out_root,
            ckpt,
            config=cfg,
        )
        query2.awaitTermination()
        assert _committed_deltas(out_root) == committed

        # the marker fast-path itself: a redelivered batch_id whose
        # marker exists returns BEFORE evaluating the batch — batch_df
        # is None here, so any evaluation would raise
        from courlan_spark.streaming.incremental import _ingest_batch

        _ingest_batch(None, 0, base_dir, out_root, cfg)
        assert _committed_deltas(out_root) == committed

        # checkpoint binding: reusing out_root with a FRESH checkpoint
        # must refuse (batch ids restart at 0 and would hit committed
        # markers, silently dropping the new data)
        import pytest

        with pytest.raises(ValueError, match="bound to checkpoint"):
            start_incremental_cluster_stream(
                spark.readStream.schema(schema).parquet(stream_in),
                base_dir,
                out_root,
                os.path.join(root, "ckpt_fresh"),
                config=cfg,
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
