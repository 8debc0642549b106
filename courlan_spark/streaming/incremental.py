"""Continuous incremental dedup: run_incremental as a streaming sink.

The batch incremental path (plans/pipeline.DedupPipeline.run_incremental)
is proven delta-chain == one-full-run bit-for-bit
(tests/test_incremental.py); this module deploys the SAME operator as a
Structured Streaming job: each micro-batch of arriving pages is one
delta, clustered against the accumulating FingerprintStore (the base
workdir plus every previously committed batch's delta workdir), so the
merged cluster table after batch N is exactly the chained-batch result
— a crawl that never stops re-clustering, with the only text scan per
batch touching that batch's pages.

Exactly-once across retries: foreachBatch may redeliver a batch_id
after a failure.  Each batch works in its own workdir
``out_root/delta_<batch_id>``; a ``_CHAIN_COMMIT`` marker is written
only after run_incremental completes, a redelivered batch whose marker
exists is skipped (its snapshots are already in the chain), and a batch
that died mid-run left no marker so the rerun overwrites its partial
snapshots.  Only committed workdirs ever enter the store chain.

At production scale the workdir snapshots are Iceberg tables (see
sources/tables.py) and the stream source is the crawl's ingest topic;
here the file source stands in.  Parity: the reference has no streaming
surface — this is the Spark-native extension of urlstore.py's
add-then-dedup loop (urlstore.py:315-336).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

_DELTA_DIR_RX = re.compile(r"^delta_(\d{9,})$")  # :09d grows past 9 digits
_COMMIT_MARKER = "_CHAIN_COMMIT"
_BINDING_FILE = "_CHECKPOINT_BINDING"


def _bind_checkpoint(out_root: str, checkpoint_path: str) -> None:
    """Bind out_root to ONE checkpoint.  foreachBatch batch ids restart
    at 0 under a fresh checkpoint; without this guard, reusing an
    out_root with a new checkpoint would hit old batches' commit
    markers and silently skip new data."""
    binding = os.path.join(out_root, _BINDING_FILE)
    key = os.path.abspath(checkpoint_path)
    if os.path.exists(binding):
        with open(binding) as fh:
            bound = fh.read().strip()
        if bound != key:
            raise ValueError(
                f"out_root {out_root!r} is bound to checkpoint {bound!r} "
                f"but the stream was started with {key!r} — batch ids "
                "restart under a new checkpoint and would collide with "
                "committed markers, silently dropping data; use a fresh "
                "out_root (or the original checkpoint)"
            )
        return
    with open(binding, "w") as fh:
        fh.write(key)


def _committed_deltas(out_root: str) -> list[str]:
    "Committed delta workdirs under out_root, oldest batch first."
    if not os.path.isdir(out_root):
        return []
    found = []
    for name in os.listdir(out_root):
        m = _DELTA_DIR_RX.match(name)
        path = os.path.join(out_root, name)
        if m and os.path.exists(os.path.join(path, _COMMIT_MARKER)):
            found.append((int(m.group(1)), path))
    return [path for _, path in sorted(found)]


def start_incremental_cluster_stream(
    pages_stream: DataFrame,
    base_workdir: str,
    out_root: str,
    checkpoint_path: str,
    config=None,
    trigger_once: bool = True,
):
    """Start the continuous-clustering stream.  ``pages_stream`` must
    carry the north-rule pages shape (url, warc_ts, html, text, lang);
    ``base_workdir`` is a completed snapshot_mode="all" base run.
    Returns the StreamingQuery.

    Empty micro-batches are ignored without committing a workdir (a
    committed-but-empty dir would break the store chain's snapshot
    reads).  run_incremental sizes each micro-batch's shuffle width
    to the batch."""
    from ..plans.pipeline import DedupConfig

    cfg = config or DedupConfig()
    os.makedirs(out_root, exist_ok=True)
    _bind_checkpoint(out_root, checkpoint_path)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        _ingest_batch(batch_df, batch_id, base_workdir, out_root, cfg)

    writer = pages_stream.writeStream.foreachBatch(ingest).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    base_workdir: str,
    out_root: str,
    cfg,
) -> None:
    """One micro-batch: skip if its commit marker exists (foreachBatch
    redelivery — the marker check runs BEFORE any evaluation of
    batch_df), skip empty batches without committing, otherwise run
    the delta against the current store chain and commit the marker
    last."""
    from ..plans.pipeline import DedupPipeline, FingerprintStore

    workdir = os.path.join(out_root, f"delta_{batch_id:09d}")
    marker = os.path.join(workdir, _COMMIT_MARKER)
    if os.path.exists(marker):  # redelivery of a committed batch
        return
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    chain = [base_workdir] + _committed_deltas(out_root)
    store = FingerprintStore.from_workdirs(spark, *chain)
    pipe = DedupPipeline(spark, workdir, cfg)
    pipe.run_incremental(batch_df, store)
    with open(marker, "w") as fh:
        fh.write("")


def latest_assignments(
    spark: SparkSession, base_workdir: str, out_root: str
) -> DataFrame:
    """The current merged cluster table: the store chain's fold of the
    base run's table and every committed batch's 09_assignments segment
    (each incremental run writes only the rows it changed), or the
    base run's table when no batch has committed yet."""
    from ..plans.pipeline import FingerprintStore

    chain = [base_workdir] + _committed_deltas(out_root)
    return FingerprintStore.from_workdirs(spark, *chain).assignments.select(
        "doc_id", "cluster_id"
    )
