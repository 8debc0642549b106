"""Delta cluster segments and the zstd snapshot codec.

A delta run's 09_assignments holds only the rows the delta changed
(every new doc, plus every old doc whose label moved) and is marked as
a segment; the store's cluster table is the newest full table overlaid
with each later segment, and a run over a store that chains
SEGMENT_BOUND segments writes the merged table in full (a compaction).
Every contract below is checked against one full run over the same
pages, bit-for-bit on (doc_id, cluster_id).
"""

import glob
import os
import random
from datetime import datetime, timedelta

import pyarrow.parquet as pq
import pytest

from courlan_spark.operators import dedup
from courlan_spark.operators import incremental as inc
from courlan_spark.plans import pipeline as P
from courlan_spark.plans import store as S
from courlan_spark.plans.pipeline import DedupConfig, DedupPipeline, FingerprintStore
from courlan_spark.sources import tables
from courlan_spark.sources.pages import generate_pages, pages_view

CFG = DedupConfig(jaccard_threshold=0.6)
# base [0, 500), then deltas of 100 pages
CUTS = (500, 600, 700, 800, 900)


def _pairs(df):
    return sorted((r["doc_id"], r["cluster_id"]) for r in df.collect())


def _seg_path(workdir):
    return os.path.join(workdir, "09_assignments")


def _codecs(workdir, stage):
    "Every column chunk's codec over the stage's part files."
    files = glob.glob(os.path.join(workdir, stage, "part-*.parquet"))
    assert files, (workdir, stage)
    found = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                found.add(md.row_group(g).column(c).compression)
    return found


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    "900 pages, the full run over all of them, and its assignments."
    full = generate_pages(spark, CUTS[-1]).cache()
    root = tmp_path_factory.mktemp("segments")
    pipe = DedupPipeline(spark, str(root / "full"), CFG)
    pipe.run(pages_view(full))
    return {
        "full": full,
        "root": root,
        "reference": _pairs(pipe.assignments()),
    }


def _part(full, lo, hi):
    return pages_view(full.where(f"doc_id >= {lo} and doc_id < {hi}"))


@pytest.fixture(scope="module")
def chain(spark, corpus):
    """A base run and four deltas with SEGMENT_BOUND at 2: deltas 1
    and 2 write segments, delta 3 compacts, delta 4 writes a segment
    over the compacted table."""
    full, root = corpus["full"], corpus["root"]
    mp = pytest.MonkeyPatch()
    mp.setattr(S, "SEGMENT_BOUND", 2)
    try:
        dirs = [str(root / f"chain_{i}") for i in range(len(CUTS))]
        base = DedupPipeline(spark, dirs[0], CFG)
        summaries = [base.run(_part(full, 0, CUTS[0]))]
        pipes, stores = [base], []
        for i in range(1, len(CUTS)):
            store = FingerprintStore.from_workdirs(spark, *dirs[:i])
            pipe = DedupPipeline(spark, dirs[i], CFG)
            summaries.append(
                pipe.run_incremental(_part(full, CUTS[i - 1], CUTS[i]), store)
            )
            pipes.append(pipe)
            stores.append(store)
    finally:
        mp.undo()
    return {"dirs": dirs, "pipes": pipes, "stores": stores, "summaries": summaries}


def test_chain_with_a_compaction_equals_one_full_run(spark, corpus, chain):
    dirs, stores = chain["dirs"], chain["stores"]
    assert [s.segments for s in stores] == [0, 1, 2, 0]
    marked = [tables.is_segment(spark, _seg_path(d)) for d in dirs]
    assert marked == [False, True, True, False, True]
    merged = FingerprintStore.from_workdirs(spark, *dirs)
    assert merged.segments == 1
    assert _pairs(merged.assignments) == corpus["reference"]
    assert _pairs(chain["pipes"][-1].assignments()) == corpus["reference"]
    # every delta's n_output is its merged table's row count
    for pipe, summary in zip(chain["pipes"][1:], chain["summaries"][1:]):
        assert summary["n_output"] == pipe.assignments().count()


def test_segment_holds_new_and_relabelled_docs_only(spark, chain):
    """Each segment is exactly the delta's docs plus the old docs whose
    label differs between the store's table and the merged one; the
    compaction holds the whole merged table."""
    for i, store in enumerate(chain["stores"], start=1):
        pipe, workdir = chain["pipes"][i], chain["dirs"][i]
        written = tables.read_snapshot(spark, _seg_path(workdir))
        before = dict(_pairs(store.assignments))
        after = _pairs(pipe.assignments())
        expected = {d for d, c in after if before.get(d, c + 1) != c}
        stage09 = next(
            m for m in chain["summaries"][i]["stages"] if m["stage"] == "09_assignments"
        )
        assert stage09["rows"] == written.count()
        if store.segments >= 2:  # the compaction
            assert _pairs(written) == after
        else:
            assert {r["doc_id"] for r in written.collect()} == expected
            assert written.count() < len(after)
        assert written.columns == list(S.ASSIGNMENTS.columns)


def test_every_snapshot_file_is_zstd(chain):
    "(An empty table's files hold no row group, hence no column chunk.)"
    for workdir in chain["dirs"]:
        found = set()
        for stage in sorted(os.listdir(workdir)):
            if os.path.isdir(os.path.join(workdir, stage)):
                codecs = _codecs(workdir, stage)
                assert codecs <= {"ZSTD"}, (workdir, stage, codecs)
                found |= codecs
        assert found == {"ZSTD"}, workdir


def test_delta_writes_evidence_and_segment_as_one_file(chain):
    """A 100-page delta's 08_evidence and 09 segment are one part file
    each, sized by the rows the run counted rather than by the shuffle
    partitions their frames carry (a 300-page delta wrote 10 and 9)."""
    for i, store in enumerate(chain["stores"], start=1):
        stages = ["08_evidence"]
        if store.segments < 2:  # not the compaction
            stages.append("09_assignments")
        for stage in stages:
            files = glob.glob(os.path.join(chain["dirs"][i], stage, "part-*.parquet"))
            assert len(files) == 1, (i, stage, files)


def test_sized_for_splits_by_file_rows(spark, monkeypatch):
    df = spark.range(40).repartition(8)
    monkeypatch.setattr(S, "FILE_ROWS", 16)
    assert S._sized_for(df, 40).rdd.getNumPartitions() == 3
    assert S._sized_for(df, 0).rdd.getNumPartitions() == 1


def test_durable_stages_report_the_bytes_they_wrote(chain):
    """run "all" and run_incremental: each durable stage's record (a
    background write's on its <stage>_write_join record) carries the
    size of the snapshot on disk."""
    def on_disk(workdir, stage):
        folder = os.path.join(workdir, stage)
        return sum(
            os.path.getsize(os.path.join(folder, f))
            for f in os.listdir(folder) if not f.startswith(".")
        )

    for workdir, summary in zip(chain["dirs"][:2], chain["summaries"][:2]):
        by_stage = {m["stage"]: m for m in summary["stages"]}
        durable = [s for s, m in by_stage.items() if m.get("materialize") in P.DURABLE]
        assert "09_assignments" in durable and "04_fingerprints" in durable
        for stage in durable:
            record = by_stage[stage]
            if record["materialize"] == P.BACKGROUND:
                record = by_stage[f"{stage}_write_join"]
            assert record["bytes"] == on_disk(workdir, stage) > 0, stage


def test_snappy_store_with_a_full_delta_table_chains(spark, corpus, monkeypatch, tmp_path):
    """A store written before segments and zstd — a snappy base and a
    delta workdir whose 09 is the full merged table, unmarked — chains
    with a new segment workdir to the same table as one full run."""
    full = corpus["full"]
    dirs = [str(tmp_path / f"old_{i}") for i in range(3)]
    with monkeypatch.context() as m:
        m.setattr(tables, "CODEC", "snappy")
        DedupPipeline(spark, dirs[0], CFG).run(_part(full, 0, CUTS[0]))
        DedupPipeline(spark, dirs[1], CFG).run_incremental(
            _part(full, CUTS[0], CUTS[2]), FingerprintStore.from_workdir(spark, dirs[0])
        )
        merged = FingerprintStore.from_workdirs(spark, dirs[0], dirs[1]).assignments
        rows = spark.createDataFrame(merged.collect(), merged.schema)
        tables.write_snapshot(rows, _seg_path(dirs[1]))
    assert not tables.is_segment(spark, _seg_path(dirs[1]))
    assert _codecs(dirs[0], "04_fingerprints") == _codecs(dirs[1], "09_assignments") == {"SNAPPY"}

    store = FingerprintStore.from_workdirs(spark, dirs[0], dirs[1])
    assert store.segments == 0
    pipe = DedupPipeline(spark, dirs[2], CFG)
    pipe.run_incremental(_part(full, CUTS[2], CUTS[-1]), store)
    assert tables.is_segment(spark, _seg_path(dirs[2]))
    assert _pairs(FingerprintStore.from_workdirs(spark, *dirs).assignments) == corpus["reference"]


def test_a_segment_workdir_alone_is_not_a_store(spark, chain):
    with pytest.raises(ValueError, match="segment"):
        FingerprintStore.from_workdir(spark, chain["dirs"][1])
    with pytest.raises(ValueError, match="segment"):
        DedupPipeline(spark, chain["dirs"][1], CFG).assignments()


def _bridge_pages(spark, rows):
    start = datetime(2025, 1, 1)
    return spark.createDataFrame(
        [(url, start + timedelta(seconds=i), b"<html></html>", text, "en")
         for i, (url, text) in enumerate(rows)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_delta_bridging_two_old_clusters(spark, tmp_path):
    """A new doc sharing a long block with each of two old clusters
    merges them: the segment holds the new docs plus the members of
    the cluster whose label moved, and nothing else."""
    rng = random.Random(5)
    vocab = [f"w{n}" for n in range(5000)]

    def words(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    p, q = words(60), words(60)
    base_rows = [
        ("https://a.example.org/1", f"{p} {words(80)}"),
        ("https://a.example.org/2", f"{p} {words(80)}"),
        ("https://b.example.org/1", f"{q} {words(80)}"),
        ("https://b.example.org/2", f"{q} {words(80)}"),
    ] + [(f"https://c.example.org/{n}", words(140)) for n in range(6)]
    delta_rows = [
        ("https://d.example.org/bridge", f"{p} {q}"),
        ("https://d.example.org/alone", words(140)),
    ]
    base_dir, inc_dir = str(tmp_path / "base"), str(tmp_path / "inc")
    DedupPipeline(spark, base_dir, CFG).run(_bridge_pages(spark, base_rows))
    store = FingerprintStore.from_workdir(spark, base_dir)
    before = dict(_pairs(store.assignments))
    clusters = {}
    for d, c in before.items():
        clusters.setdefault(c, set()).add(d)
    two = sorted((m for m in clusters.values() if len(m) == 2), key=min)
    assert len(two) == 2, clusters  # the a- and b- clusters

    delta = _bridge_pages(spark, delta_rows)
    pipe = DedupPipeline(spark, inc_dir, CFG)
    pipe.run_incremental(delta, store)
    after = dict(_pairs(pipe.assignments()))
    new_ids = set(after) - set(before)
    assert len(new_ids) == 2
    # the bridge merged both old clusters into one
    assert len({after[d] for d in two[0] | two[1]}) == 1
    relabelled = {d for d in before if after[d] != before[d]}
    assert relabelled and relabelled <= two[0] | two[1]
    segment = {r["doc_id"] for r in tables.read_snapshot(spark, _seg_path(inc_dir)).collect()}
    assert segment == new_ids | relabelled


def test_cluster_assignments_store_side_composes_with_overlay(spark):
    """With a store side, cluster_assignments gives the changed rows in
    the store table's columns, and overlaying them on that table equals
    the store-less labelling of the union."""
    old = spark.createDataFrame(
        [(10, "u10", 10), (11, "u11", 10), (20, "u20", 20), (21, "u21", 20), (30, "u30", 30)],
        "doc_id long, norm_url string, cluster_id long",
    )
    new_docs = spark.createDataFrame([(40, "u40")], "doc_id long, norm_url string")
    pairs = spark.createDataFrame([(11, 40), (21, 40)], "doc_a long, doc_b long")
    changes = dedup.cluster_assignments(new_docs, pairs, old_assignments=old)
    assert changes.columns == old.columns
    assert sorted(tuple(r) for r in changes.collect()) == [
        (20, "u20", 10), (21, "u21", 10), (40, "u40", 10)
    ]
    merged = {tuple(r) for r in inc.overlay(old, changes).collect()}
    assert merged == {
        (10, "u10", 10), (11, "u11", 10), (20, "u20", 10), (21, "u21", 10),
        (30, "u30", 30), (40, "u40", 10),
    }
    # the old table's evidence, as its membership edges, plus the new pairs
    everything = old.select("doc_id").unionByName(new_docs.select("doc_id"))
    all_pairs = pairs.unionByName(
        old.where("doc_id != cluster_id").selectExpr("cluster_id AS doc_a", "doc_id AS doc_b")
    )
    assert {(d, c) for d, _, c in merged} == {
        tuple(r) for r in dedup.cluster_assignments(everything, all_pairs).collect()
    }
