"""Store snapshots carry doc_id bloom filters sized to the rows they hold.

doc_ids are xxhash64 values, so a small delta file's footer min/max
spans almost the whole id range: in a chained store (base + deltas)
the bloom filter is the only doc_id skip such a file gets.  These
tests pin that the filter stays, that it is sized from the rows a
write holds (not a fixed 1M-value guess that costs 1 MB per file),
and that the per-leg broadcast gate and resumed runs keep the
incremental pairs identical.
"""

import glob
import math
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from courlan_spark.operators import dedup
from courlan_spark.operators import incremental as inc
from courlan_spark.plans import pipeline as P
from courlan_spark.plans import store as S
from courlan_spark.plans.pipeline import DedupConfig, DedupPipeline, FingerprintStore
from courlan_spark.sources.pages import generate_pages, pages_view
from courlan_spark.sources.tables import read_snapshot, write_snapshot

BASE_PAGES, DELTA_PAGES = 180, 30


def _parts(directory):
    return sorted(glob.glob(os.path.join(directory, "part-*.parquet")))


def _bloom_bytes(spark, path, col="doc_id"):
    "Bloom filter length of ``col`` in every row group of one parquet file."
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            hpath, spark._jsc.hadoopConfiguration()
        )
    )
    try:
        blocks = reader.getFooter().getBlocks()
        lengths = []
        for i in range(blocks.size()):
            cols = blocks.get(i).getColumns()
            for j in range(cols.size()):
                if cols.get(j).getPath().toDotString() == col:
                    lengths.append(cols.get(j).getBloomFilterLength())
        return lengths
    finally:
        reader.close()


def _scan_rows(df) -> dict[str, int]:
    "numOutputRows of every file scan in df's executed plan, by scanned path."
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    out = {}
    for i in range(leaves.size()):
        node = leaves.apply(i)
        assert node.getClass().getSimpleName() == "FileSourceScanExec", node.nodeName()
        path = node.relation().location().rootPaths().apply(0).toString()
        out[path] = node.metrics().get("numOutputRows").get().value()
    return out


def test_sized_bloom_adds_little_to_a_small_file(spark, tmp_path):
    """A 300-row file with a filter sized to its rows is at most 8 KB
    larger than the same file without one; a 1M-value filter is the
    full 1 MB.  Asking for a filter without a distinct count raises."""
    df = (
        spark.range(300)
        .select(
            F.xxhash64("id").alias("doc_id"),
            F.md5(F.col("id").cast("string")).alias("sig"),
        )
        .coalesce(1)
    )
    dirs = {k: str(tmp_path / k) for k in ("off", "sized", "fixed")}
    write_snapshot(df, dirs["off"])
    write_snapshot(df, dirs["sized"], bloom_cols=["doc_id"], bloom_ndv=300)
    write_snapshot(df, dirs["fixed"], bloom_cols=["doc_id"], bloom_ndv=1_000_000)
    size = {k: sum(os.path.getsize(p) for p in _parts(d)) for k, d in dirs.items()}

    assert 0 < size["sized"] - size["off"] <= 8 * 1024, size
    assert size["fixed"] - size["off"] > 1_000_000, size
    (sized_part,) = _parts(dirs["sized"])
    assert all(0 < n <= 1024 for n in _bloom_bytes(spark, sized_part))

    with pytest.raises(ValueError, match="bloom_ndv"):
        write_snapshot(df, str(tmp_path / "unsized"), bloom_cols=["doc_id"])


@pytest.fixture(scope="module")
def chained(spark, tmp_path_factory):
    """A base run plus two chained 30-page delta runs: the workdirs and
    the second delta's run summary."""
    root = tmp_path_factory.mktemp("chained_store")
    full = generate_pages(spark, BASE_PAGES + 2 * DELTA_PAGES).cache()
    cut1, cut2 = BASE_PAGES, BASE_PAGES + DELTA_PAGES
    base, d1, d2 = (str(root / k) for k in ("base", "d1", "d2"))
    cfg = DedupConfig(jaccard_threshold=0.6)
    DedupPipeline(spark, base, cfg).run(pages_view(full.where(f"doc_id < {cut1}")))
    DedupPipeline(spark, d1, cfg).run_incremental(
        pages_view(full.where(f"doc_id >= {cut1} AND doc_id < {cut2}")),
        FingerprintStore.from_workdir(spark, base),
    )
    delta2 = pages_view(full.where(f"doc_id >= {cut2}"))
    summary = DedupPipeline(spark, d2, cfg).run_incremental(
        delta2, FingerprintStore.from_workdirs(spark, base, d1)
    )
    yield {"base": base, "d1": d1, "d2": d2, "delta2": delta2,
           "summary": summary, "cfg": cfg}
    full.unpersist()
    shutil.rmtree(root, ignore_errors=True)


def test_key_snapshots_size_their_filters_to_their_rows(spark, chained):
    """Every 02/04 file of the base run and of both delta runs carries
    a doc_id filter no larger than the write's row count needs:
    ~9.7 bits per value plus one 32-byte block, at most doubled by
    power-of-two rounding, plus the filter header."""
    for run in ("base", "d1", "d2"):
        for stage in (t.stage for t in S.TABLES if t.key):
            directory = os.path.join(chained[run], stage)
            n_rows = read_snapshot(spark, directory).count()
            bound = 64 + 2 * (32 + math.ceil(n_rows * 10 / 8))
            lengths = [
                n for part in _parts(directory) for n in _bloom_bytes(spark, part)
            ]
            assert lengths and all(0 < n <= bound for n in lengths), (
                run, stage, n_rows, lengths,
            )


def test_sized_filter_skips_delta_files_without_candidates(spark, chained):
    """A pruned store scan over base + two deltas, with candidate ids in
    the first delta only, reads rows from that delta's files and from
    no other: the ids' min/max cannot skip anything (xxhash64 ids span
    the whole range in every file), so this is the filter at work."""
    store = FingerprintStore.from_workdirs(
        spark, chained["base"], chained["d1"], chained["d2"]
    )
    d1_docs = read_snapshot(spark, os.path.join(chained["d1"], "02_url_dedup"))
    d1_rows = d1_docs.count()
    ids = sorted(r["doc_id"] for r in d1_docs.select("doc_id").limit(2).collect())

    pruned = inc.prune_store_by_ids(store.docs.select("doc_id", "text"), ids)
    assert sorted(r["doc_id"] for r in pruned.collect()) == ids

    scans = _scan_rows(pruned)
    by_run = {
        run: sum(n for path, n in scans.items() if path.endswith(f"/{run}/02_url_dedup"))
        for run in ("base", "d1", "d2")
    }
    assert len(scans) == 3, scans
    assert by_run["base"] == 0 and by_run["d2"] == 0, by_run
    assert len(ids) <= by_run["d1"] <= d1_rows, by_run


def _spy_prune_flags(monkeypatch) -> dict:
    """The prune_old_by_new_keys each incremental candidate leg is built
    with: a spy on the one bucket-pair primitive, keyed by leg via the
    key column of each call with a store side."""
    flags = {}
    legs = {"band_key": "minhash", "block_key": "simhash", "fp": "substring"}
    real = dedup.bucket_pairs

    def spy(rows, key_col, *args, **kwargs):
        if kwargs.get("old_rows") is not None:
            flags[legs[key_col]] = kwargs.get("prune_old_by_new_keys", False)
        return real(rows, key_col, *args, **kwargs)

    monkeypatch.setattr(dedup, "bucket_pairs", spy)
    return flags


def _table(spark, workdir, stage):
    return sorted(tuple(r) for r in read_snapshot(spark, os.path.join(workdir, stage)).collect())


def test_winnow_leg_gated_on_its_own_key_count(spark, chained, monkeypatch, tmp_path):
    """A broadcast budget the delta's winnow keys exceed but its MinHash
    keys (rows x bands) do not drops the store pre-filter on the
    substring leg only, and every pair stays identical."""
    winnow_keys = chained["summary"]["observed"]["fingerprint_keys"]["winnow_keys"]
    n_delta = chained["delta2"].count()
    budget = n_delta * max(chained["cfg"].bands, 20)
    assert winnow_keys > budget, (winnow_keys, budget)

    flags = _spy_prune_flags(monkeypatch)
    monkeypatch.setattr(P, "BROADCAST_KEY_BUDGET", budget)
    workdir = str(tmp_path / "gated")
    DedupPipeline(spark, workdir, chained["cfg"]).run_incremental(
        chained["delta2"],
        FingerprintStore.from_workdirs(spark, chained["base"], chained["d1"]),
    )
    assert flags == {"minhash": True, "simhash": True, "substring": False}
    for stage in ("05_candidates", "07_substring_cands", "08_evidence", "09_assignments"):
        assert _table(spark, workdir, stage) == _table(spark, chained["d2"], stage), stage


def _run_within(seconds, fn):
    "fn()'s result, or a test failure when it has not returned in time."
    box = {}

    def target():
        try:
            box["value"] = fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            box["error"] = exc

    worker = threading.Thread(target=target, daemon=True)
    worker.start()
    worker.join(seconds)
    assert not worker.is_alive(), f"run did not return within {seconds}s"
    if "error" in box:
        raise box["error"]
    return box["value"]


def test_resumed_run_reads_unavailable_observations(spark, tmp_path):
    """A run resumed in a workdir whose every stage is done returns
    promptly; the counter of a stage that did not execute reads
    "unavailable" instead of blocking, and a fresh run's read rows."""
    pages = pages_view(generate_pages(spark, 120))
    workdir = str(tmp_path / "run")
    fresh = DedupPipeline(spark, workdir, DedupConfig()).run(pages)
    assert fresh["observed"]["canonical_rows"]["rows"] == 120
    assert isinstance(fresh["observed"]["evidence_pairs"]["rows"], int)

    resumed = _run_within(
        300, lambda: DedupPipeline(spark, workdir, DedupConfig()).run(pages, resume=True)
    )
    assert resumed["n_output"] == fresh["n_output"]
    assert all(s.get("resumed") is not False for s in resumed["stages"])
    # 02 resumed, so the canonical frame never executed; the ephemeral
    # 08 did build — its bounded components collect is eager — and
    # counts the same evidence the fresh run did
    assert set(resumed["observed"]) == {"canonical_rows", "evidence_pairs"}
    assert "unavailable" in resumed["observed"]["canonical_rows"]
    assert resumed["observed"]["evidence_pairs"] == fresh["observed"]["evidence_pairs"]


def test_partial_incremental_resume_keeps_the_union_shape(spark, chained, monkeypatch):
    """With 04 resumed, the winnow key count was never observed: the
    substring leg falls back to the unpruned union shape and the
    rebuilt stages equal the first run's."""
    workdir = chained["d2"]
    before = {s: _table(spark, workdir, s) for s in ("07_substring_cands", "09_assignments")}
    for stage in ("07_substring_cands", "08_evidence", "09_assignments"):
        shutil.rmtree(os.path.join(workdir, stage))
    flags = _spy_prune_flags(monkeypatch)
    summary = _run_within(
        300,
        lambda: DedupPipeline(spark, workdir, chained["cfg"]).run_incremental(
            chained["delta2"],
            FingerprintStore.from_workdirs(spark, chained["base"], chained["d1"]),
            resume=True,
        ),
    )
    assert flags == {"substring": False}
    assert "fingerprint_keys" not in summary["observed"]
    assert (
        summary["observed"]["evidence_pairs"]
        == chained["summary"]["observed"]["evidence_pairs"]
    )
    for stage, rows in before.items():
        assert _table(spark, workdir, stage) == rows, stage
