"""Pipeline edge cases: boilerplate storms and degenerate inputs."""

import shutil
import tempfile
from datetime import datetime, timedelta

import pytest

from courlan_spark.plans.pipeline import DedupConfig, DedupPipeline


def _pages(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_identical_text_storm_clusters_to_one(spark):
    "200 copies of one text: every dedup path hits its bucket caps, but the exact-text evidence alone must still produce a single cluster."
    base = datetime(2025, 1, 1)
    rows = [
        (
            f"https://copy{i % 19}.example.org/a/{i}",
            base + timedelta(seconds=i),
            b"<html></html>",
            "exactly the same boilerplate text repeated across the whole site "
            "family with nothing else in it at all",
            "en",
        )
        for i in range(200)
    ]
    workdir = tempfile.mkdtemp(prefix="edge_storm_")
    try:
        pipe = DedupPipeline(
            spark,
            workdir,
            DedupConfig(jaccard_threshold=0.6, max_bucket_size=20),
        )
        summary = pipe.run(_pages(spark, rows))
        assert summary["n_output"] == 200
        clusters = pipe.assignments().select("cluster_id").distinct().count()
        assert clusters == 1
        assert summary["observed"]["canonical_rows"]["rows"] == 200
        assert summary["observed"]["evidence_pairs"]["rows"] >= 199
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_all_urls_rejected(spark):
    "A corpus where check_url rejects everything yields an empty, non-crashing run."
    base = datetime(2025, 1, 1)
    rows = [
        ("not-a-url-%d" % i, base, b"", "text %d" % i, "en") for i in range(10)
    ]
    workdir = tempfile.mkdtemp(prefix="edge_empty_")
    try:
        pipe = DedupPipeline(spark, workdir, DedupConfig())
        summary = pipe.run(_pages(spark, rows))
        assert summary["n_output"] == 0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _spy_persisted(monkeypatch) -> list:
    "Every frame a DedupPipeline persists, recorded as it persists it."
    persisted = []
    real = DedupPipeline._persist

    def spy(self, df):
        out = real(self, df)
        persisted.append(out)
        return out

    monkeypatch.setattr(DedupPipeline, "_persist", spy)
    return persisted


def test_run_releases_every_frame_it_persisted(spark, monkeypatch, tmp_path):
    "Both pipeline modes leave no frame of theirs cached once they return."
    from pyspark.storagelevel import StorageLevel

    from courlan_spark.plans.pipeline import FingerprintStore
    from courlan_spark.sources.pages import generate_pages, pages_view

    persisted = _spy_persisted(monkeypatch)
    full = generate_pages(spark, 300)
    base = pages_view(full.where("doc_id < 270"))
    delta = pages_view(full.where("doc_id >= 270"))
    DedupPipeline(spark, str(tmp_path / "min"), DedupConfig(snapshot_mode="minimal")).run(
        pages_view(full)
    )
    n_full = len(persisted)
    DedupPipeline(spark, str(tmp_path / "base"), DedupConfig()).run(base)
    store = FingerprintStore.from_workdir(spark, str(tmp_path / "base"))
    DedupPipeline(spark, str(tmp_path / "delta"), DedupConfig()).run_incremental(delta, store)
    assert n_full >= 5 and len(persisted) > n_full
    assert all(df.storageLevel == StorageLevel.NONE for df in persisted)


def test_failed_run_joins_its_writes_and_keeps_its_own_error(spark, monkeypatch, tmp_path):
    """A stage that fails after a background snapshot write started: the
    run raises the stage's error, not the (also failing) write's, and
    leaves no pending write, write pool or persisted frame behind."""
    from pyspark.storagelevel import StorageLevel

    from courlan_spark.operators import dedup
    from courlan_spark.plans import pipeline as P
    from courlan_spark.sources.pages import generate_pages, pages_view

    persisted = _spy_persisted(monkeypatch)
    real_write = P._write_snapshot

    def failing_write(df, path, **kwargs):
        if path.endswith("02_url_dedup"):
            raise OSError("snapshot store unavailable")
        return real_write(df, path, **kwargs)

    def failing_stage(*args, **kwargs):
        raise RuntimeError("clustering failed")

    monkeypatch.setattr(P, "_write_snapshot", failing_write)
    monkeypatch.setattr(dedup, "cluster_assignments", failing_stage)
    pipe = DedupPipeline(spark, str(tmp_path / "run"), DedupConfig())
    with pytest.raises(RuntimeError, match="clustering failed"):
        pipe.run(pages_view(generate_pages(spark, 200)))
    assert pipe._pending_writes == [] and pipe._write_pool is None
    assert persisted and all(df.storageLevel == StorageLevel.NONE for df in persisted)
