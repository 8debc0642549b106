"""Incremental (delta-batch vs fingerprint store) dedup correctness.

The contract under test: base run + incremental delta run == one full
run over base ∪ delta, bit-for-bit on (doc_id, cluster_id) — including
duplicate groups straddling the batch boundary and cluster merges
where a new doc bridges two old clusters.  The split is time-ordered
(warc_ts grows with the generator's doc_id), matching the path's
first-seen-wins URL semantics.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from courlan_spark.operators import dedup
from courlan_spark.operators import incremental as inc
from courlan_spark.plans.pipeline import DedupConfig, DedupPipeline, FingerprintStore
from courlan_spark.sources.pages import generate_pages, pages_view
from courlan_spark.sources.tables import read_snapshot, write_snapshot


def _assignments(pipe):
    return sorted(
        (r["doc_id"], r["cluster_id"]) for r in pipe.assignments().collect()
    )


def test_base_plus_delta_equals_full_run(spark):
    full = generate_pages(spark, 1200).cache()
    base = full.where("doc_id < 800")
    delta = full.where("doc_id >= 800")
    dirs = [tempfile.mkdtemp(prefix=f"inc_{k}_") for k in ("full", "base", "inc")]
    try:
        cfg = DedupConfig(jaccard_threshold=0.6)
        full_pipe = DedupPipeline(spark, dirs[0], cfg)
        full_summary = full_pipe.run(pages_view(full))

        DedupPipeline(spark, dirs[1], cfg).run(pages_view(base))
        store = FingerprintStore.from_workdir(spark, dirs[1])
        inc_pipe = DedupPipeline(spark, dirs[2], cfg)
        summary = inc_pipe.run_incremental(pages_view(delta), store)

        assert summary["mode"] == "incremental"
        # the merged table covers BOTH batches' docs, identically
        assert summary["n_output"] == full_summary["n_output"]
        assert _assignments(inc_pipe) == _assignments(full_pipe)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_delta_shuffle_width_auto_sized_and_restored(spark):
    """run_incremental right-sizes the session's shuffle width to the
    delta's row count (clamp(ceil(rows/1000), 8, session width)) and
    restores the session conf afterwards — the fix for the r4 wide-
    session cliff, where a 12k-row delta on 32 cores ran every stage
    as 32 tiny tasks (AQE coalescing won't go below
    defaultParallelism).  A session narrower than the clamp's floor
    keeps its own width, and the clusters do not depend on it."""
    full = generate_pages(spark, 600).cache()
    base = full.where("doc_id < 400")
    delta = full.where("doc_id >= 400")  # 200 rows -> auto width 8
    dirs = [tempfile.mkdtemp(prefix=f"incw_{k}_") for k in ("base", "a", "b")]
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        cfg = DedupConfig(jaccard_threshold=0.6)
        DedupPipeline(spark, dirs[0], cfg).run(pages_view(base))
        store = FingerprintStore.from_workdir(spark, dirs[0])

        pipe_auto = DedupPipeline(spark, dirs[1], cfg)
        pipe_auto.run_incremental(pages_view(delta), store)
        assert pipe_auto._delta_shuffle_partitions == min(int(before), 8)
        assert spark.conf.get(key) == before

        spark.conf.set(key, "5")
        pipe_narrow = DedupPipeline(spark, dirs[2], cfg)
        pipe_narrow.run_incremental(pages_view(delta), store)
        assert pipe_narrow._delta_shuffle_partitions == 5
        assert spark.conf.get(key) == "5"

        # identical clusters regardless of shuffle width
        assert _assignments(pipe_auto) == _assignments(pipe_narrow)
    finally:
        spark.conf.set(key, before)
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_chained_deltas_via_from_workdirs(spark):
    "Two successive deltas, the second joining the base+first-delta store."
    full = generate_pages(spark, 900).cache()
    parts = [
        full.where("doc_id < 400"),
        full.where("doc_id >= 400 and doc_id < 650"),
        full.where("doc_id >= 650"),
    ]
    dirs = [tempfile.mkdtemp(prefix=f"chain_{i}_") for i in range(4)]
    try:
        cfg = DedupConfig(jaccard_threshold=0.6)
        full_pipe = DedupPipeline(spark, dirs[0], cfg)
        full_pipe.run(pages_view(full))

        DedupPipeline(spark, dirs[1], cfg).run(pages_view(parts[0]))
        p1 = DedupPipeline(spark, dirs[2], cfg)
        p1.run_incremental(
            pages_view(parts[1]), FingerprintStore.from_workdir(spark, dirs[1])
        )
        p2 = DedupPipeline(spark, dirs[3], cfg)
        p2.run_incremental(
            pages_view(parts[2]),
            FingerprintStore.from_workdirs(spark, dirs[1], dirs[2]),
        )
        assert _assignments(p2) == _assignments(full_pipe)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_new_doc_bridges_two_old_clusters(spark):
    "The store-side clustering relabels BOTH old clusters to the common min."
    old = spark.createDataFrame(
        [(10, 10), (11, 10), (20, 20), (21, 20), (30, 30)],
        "doc_id long, cluster_id long",
    )
    new_ids = spark.createDataFrame([(40,)], "doc_id long")
    new_pairs = spark.createDataFrame(
        [(11, 40), (21, 40)], "doc_a long, doc_b long"
    )
    merged = {
        r["doc_id"]: r["cluster_id"]
        for r in inc.overlay(
            old, dedup.cluster_assignments(new_ids, new_pairs, old_assignments=old)
        ).collect()
    }
    assert merged == {10: 10, 11: 10, 20: 10, 21: 10, 40: 10, 30: 30}


def test_incremental_bucket_pairs_semantics(spark):
    """Old-only buckets yield nothing; mixed buckets yield new-new and
    new-old but never old-old; caps count old+new members and are
    accounted via the observation."""
    from pyspark.sql import Observation

    new_rows = spark.createDataFrame(
        [(100, "k1"), (101, "k1"), (102, "k3")], "doc_id long, k string"
    )
    old_rows = spark.createDataFrame(
        [(1, "k1"), (2, "k2"), (3, "k2"), (4, "k3"), (5, "k3"), (6, "k3")],
        "doc_id long, k string",
    )
    obs = Observation("acct")
    pairs = dedup.bucket_pairs(
        new_rows, "k", max_bucket_size=3, old_rows=old_rows, observation=obs
    )
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # k1: news {100,101} x old {1} -> (100,101), (1,100), (1,101)
    # k2: old-only -> nothing;  k3: 4 members > cap -> dropped
    assert got == {(100, 101), (1, 100), (1, 101)}
    acct = dict(obs.get)
    assert acct["dropped_buckets"] == 1
    assert acct["dropped_rows"] == 4
    assert acct["buckets"] == 2  # k1 and (dropped) k3 have a new member


def test_incremental_bucket_pairs_prune_identical(spark):
    """The guide-3.2 broadcast pre-filter (prune_old_by_new_keys) must
    yield the IDENTICAL pair set and keep the old+new cap semantics:
    surviving buckets keep every old member, so a bucket pushed over
    the cap by store rows stays dropped either way."""
    new_rows = spark.createDataFrame(
        [(100, "k1"), (101, "k1"), (102, "k3")], "doc_id long, k string"
    )
    old_rows = spark.createDataFrame(
        [(1, "k1"), (2, "k2"), (3, "k2"), (4, "k3"), (5, "k3"), (6, "k3"),
         (7, "k4"), (8, "k4"), (9, "k4"), (10, "k4")],
        "doc_id long, k string",
    )
    def pairs(prune):
        return {
            (r["doc_a"], r["doc_b"])
            for r in dedup.bucket_pairs(
                new_rows, "k", max_bucket_size=3, old_rows=old_rows,
                prune_old_by_new_keys=prune,
            ).collect()
        }
    # k1 mixed under cap -> pairs; k2 old-only -> nothing; k3 mixed but
    # over cap via store members -> dropped even with pruning (the
    # semi-join keeps ALL of a surviving key's old rows); k4 old-only
    # over cap -> nothing either way
    expected = {(100, 101), (1, 100), (1, 101)}
    assert pairs(False) == expected
    assert pairs(True) == expected
    # payload form too (simhash-style struct members)
    new_p = spark.createDataFrame(
        [(100, "k1", 7), (102, "k3", 9)], "doc_id long, k string, pl long"
    )
    old_p = spark.createDataFrame(
        [(1, "k1", 3), (2, "k2", 4)], "doc_id long, k string, pl long"
    )
    def ppairs(prune):
        return {
            tuple(r) for r in dedup.bucket_pairs(
                new_p, "k", max_bucket_size=3, old_rows=old_p, payload_col="pl",
                prune_old_by_new_keys=prune,
            ).collect()
        }
    assert ppairs(True) == ppairs(False) == {(1, 100, 3, 7)}


def test_incremental_text_pairs_connectivity(spark):
    """New docs link to the store's hash representative when the hash
    is known, and to the delta-min otherwise.  Without a store side the
    edges are the full run's md5-group edges: every doc to its hash
    group's min."""
    new_hashes = spark.createDataFrame(
        [(200, "h1"), (201, "h1"), (202, "h9"), (203, "h9")],
        "doc_id long, text_hash string",
    )
    old_hashes = spark.createDataFrame(
        [(7, "h1"), (9, "h1")], "doc_id long, text_hash string"
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.exact_text_pairs(new_hashes, old_hashes).collect()
    }
    assert got == {(7, 200), (7, 201), (202, 203)}

    docs = spark.createDataFrame(
        [(5, "a"), (3, "a"), (9, "a"), (4, "b"), (8, None), (6, None), (1, "c")],
        "doc_id long, text string",
    )
    hashed = docs.select(
        "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("text_hash")
    )
    reps = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("rep"))
    md5_group_edges = {
        (r["rep"], r["doc_id"])
        for r in hashed.join(reps, "text_hash")
        .where(F.col("doc_id") != F.col("rep"))
        .collect()
    }
    assert md5_group_edges == {(3, 5), (3, 9), (6, 8)}
    full = {(r["doc_a"], r["doc_b"]) for r in dedup.exact_text_pairs(hashed).collect()}
    assert full == md5_group_edges


@pytest.fixture(scope="module")
def base_store(spark, tmp_path_factory):
    "The workdir of one 200-page base run, and the pages it ran over."
    full = generate_pages(spark, 200).cache()
    workdir = str(tmp_path_factory.mktemp("inc_base") / "base")
    DedupPipeline(spark, workdir, DedupConfig(jaccard_threshold=0.6)).run(pages_view(full))
    yield {"workdir": workdir, "pages": full}
    full.unpersist()


def _signature_only(spark, workdir, fps):
    """A 04 from before the fused store format: the per-kernel MinHash
    signatures only (no text_hash, winnow, bands or sketch column)."""
    cfg = DedupConfig()
    docs = read_snapshot(spark, os.path.join(workdir, "02_url_dedup"))
    return dedup.minhash_signatures(
        docs, num_perm=cfg.num_perm, shingle_k=cfg.shingle_k, seed=cfg.seed
    )


def _signature_for_sketch(spark, workdir, fps):
    "A 04 holding the 64-bit signature and no sketch."
    signature = F.transform("sketch", lambda x: x.cast("long"))
    return fps.withColumn("signature", signature).drop("sketch")


# (stage, rewrite of its snapshot, what the refusal names).  There is no
# read-time conversion of an old store: the delta's LSH leg joins the
# stored bands, and its verify the stored sketch
OLD_FORMATS = {
    "04-signature-only": ("04_fingerprints", _signature_only, "fused"),
    "04-no-bands": ("04_fingerprints", lambda spark, w, fps: fps.drop("bands"), "bands"),
    "04-no-sketch": ("04_fingerprints", _signature_for_sketch, "sketch"),
    "02-no-text": ("02_url_dedup", lambda spark, w, docs: docs.drop("text"), "text"),
    "09-no-cluster-id": (
        "09_assignments", lambda spark, w, table: table.drop("cluster_id"), "cluster_id"
    ),
}


@pytest.mark.parametrize("case", sorted(OLD_FORMATS))
def test_store_refuses_an_older_format(spark, base_store, tmp_path, case):
    """A store workdir whose 02, 04 or 09 lacks a column of the current
    format is refused on load, naming the table and what it lacks."""
    stage, rewrite, named = OLD_FORMATS[case]
    workdir = str(tmp_path / "store")
    shutil.copytree(base_store["workdir"], workdir)
    path = os.path.join(workdir, stage)
    old = rewrite(spark, workdir, read_snapshot(spark, path))
    # collected first: the rewrite replaces the files it reads
    write_snapshot(spark.createDataFrame(old.collect(), old.schema), path)
    with pytest.raises(ValueError, match=f"{stage} lacks .*{named}.*re-run it"):
        FingerprintStore.from_workdir(spark, workdir)


def test_minimal_delta_is_refused_before_any_job(spark, base_store, tmp_path):
    """A delta run's workdir is the next store's chain link, which a
    snapshot_mode="minimal" run would not write: it raises before any
    Spark job, and leaves its workdir empty."""
    store = FingerprintStore.from_workdir(spark, base_store["workdir"])
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None))
    pipe = DedupPipeline(spark, str(tmp_path / "run"), DedupConfig(snapshot_mode="minimal"))
    with pytest.raises(ValueError, match="minimal"):
        pipe.run_incremental(pages_view(base_store["pages"]), store)
    assert set(tracker.getJobIdsForGroup(None)) <= jobs_before
    assert os.listdir(tmp_path / "run") == []


def test_incremental_resume_after_failure(spark):
    """Snapshot-mode incremental runs resume like the batch pipeline:
    destroy everything from the candidates stage onward, re-run with
    resume=True — early stages are reused, the rest rebuilt, and the
    merged assignments are identical."""
    import os

    full = generate_pages(spark, 600).cache()
    d_base = tempfile.mkdtemp(prefix="incres_b_")
    d_inc = tempfile.mkdtemp(prefix="incres_i_")
    try:
        cfg = DedupConfig(jaccard_threshold=0.6)
        DedupPipeline(spark, d_base, cfg).run(pages_view(full.where("doc_id < 400")))
        store = FingerprintStore.from_workdir(spark, d_base)
        delta = pages_view(full.where("doc_id >= 400"))

        pipe = DedupPipeline(spark, d_inc, cfg)
        pipe.run_incremental(delta, store)
        before = _assignments(pipe)

        for stage in os.listdir(d_inc):
            if stage >= "05" and os.path.isdir(os.path.join(d_inc, stage)):
                shutil.rmtree(os.path.join(d_inc, stage))

        pipe2 = DedupPipeline(spark, d_inc, cfg)
        summary = pipe2.run_incremental(delta, store, resume=True)
        resumed = {m["stage"] for m in summary["stages"] if m.get("resumed")}
        rebuilt = {m["stage"] for m in summary["stages"] if m.get("resumed") is False}
        assert "04_fingerprints" in resumed and "02_url_dedup" in resumed
        assert "05_candidates" in rebuilt and "09_assignments" in rebuilt
        assert _assignments(pipe2) == before
    finally:
        shutil.rmtree(d_base, ignore_errors=True)
        shutil.rmtree(d_inc, ignore_errors=True)


def test_incremental_caps_fire_on_skewed_store(spark):
    """A boilerplate block spanning both batches floods one LSH bucket:
    the incremental candidate stage must drop it WITH accounting (no
    silent truncation, no quadratic expansion) and still finish."""
    from courlan_spark.sources.pages import skew_overlay

    full = skew_overlay(generate_pages(spark, 600), boiler_mod=2).cache()
    d_base = tempfile.mkdtemp(prefix="incskew_b_")
    d_inc = tempfile.mkdtemp(prefix="incskew_i_")
    try:
        cfg = DedupConfig(jaccard_threshold=0.6, max_bucket_size=50)
        DedupPipeline(spark, d_base, cfg).run(pages_view(full.where("doc_id < 400")))
        store = FingerprintStore.from_workdir(spark, d_base)
        pipe = DedupPipeline(spark, d_inc, cfg)
        summary = pipe.run_incremental(
            pages_view(full.where("doc_id >= 400")), store
        )
        acct = summary["observed"].get("lsh_buckets", {})
        assert acct.get("dropped_buckets", 0) > 0, acct
        assert acct.get("dropped_rows", 0) > acct["dropped_buckets"]
        # output still covers every url-unique doc across both batches
        assert summary["n_output"] == pipe.assignments().count() > 0
    finally:
        shutil.rmtree(d_base, ignore_errors=True)
        shutil.rmtree(d_inc, ignore_errors=True)


def test_incremental_bucket_pairs_matches_model_randomized(spark):
    """Randomized model check: 40 random (new, old, cap) bucket
    configurations evaluated in ONE Spark job (case-prefixed keys keep
    them disjoint) against a brute-force Python model of the contract:
    pairs = all i<j row pairs of buckets with >=2 member rows and
    row-count <= cap, minus pairs whose sides are both old.  Without a
    store side, the same rows as new give every such i<j pair."""
    import numpy as np

    rng = np.random.default_rng(7)
    cap = 6
    new_rows, old_rows, expected, expected_all = [], [], set(), set()
    for case in range(40):
        n_new, n_old = int(rng.integers(0, 6)), int(rng.integers(0, 8))
        news = [(int(rng.integers(0, 12)), f"{case}:{rng.integers(0, 4)}")
                for _ in range(n_new)]
        olds = [(int(rng.integers(100, 112)), f"{case}:{rng.integers(0, 4)}")
                for _ in range(n_old)]
        new_rows += news
        old_rows += olds
        buckets = {}
        for d, k in news:
            buckets.setdefault(k, []).append((d, True))
        for d, k in olds:
            buckets.setdefault(k, []).append((d, False))
        for members in buckets.values():
            if not (2 <= len(members) <= cap):
                continue
            for i, (a, a_new) in enumerate(members):
                for b, b_new in members[i + 1:]:
                    if a != b:
                        expected_all.add((min(a, b), max(a, b)))
                        if a_new or b_new:
                            expected.add((min(a, b), max(a, b)))
    schema = "doc_id long, k string"
    new_df = spark.createDataFrame(new_rows or [(0, "z:z")], schema)
    old_df = spark.createDataFrame(old_rows or [(0, "z:y")], schema)

    def pairs(rows, old=None):
        return {
            (r["doc_a"], r["doc_b"])
            for r in dedup.bucket_pairs(
                rows, "k", max_bucket_size=cap, old_rows=old
            ).collect()
        }

    assert pairs(new_df, old_df) == expected
    assert pairs(new_df.unionByName(old_df)) == expected_all


def test_empty_delta_keeps_store_assignments(spark):
    """A delta that canonicalizes to zero rows (or to rows with no
    duplicates) must not break the merge: the output is the store's
    assignments (plus any genuinely new singletons), not an error from
    connected components over an empty evidence set."""
    full = generate_pages(spark, 300).cache()
    d_base = tempfile.mkdtemp(prefix="empty_b_")
    d_inc = tempfile.mkdtemp(prefix="empty_i_")
    try:
        cfg = DedupConfig(jaccard_threshold=0.6)
        base_pipe = DedupPipeline(spark, d_base, cfg)
        base_pipe.run(pages_view(full.where("doc_id < 250")))
        store = FingerprintStore.from_workdir(spark, d_base)
        pipe = DedupPipeline(spark, d_inc, cfg)
        summary = pipe.run_incremental(
            pages_view(full.where("doc_id < 0")), store
        )
        assert _assignments(pipe) == _assignments(base_pipe)
        assert summary["n_output"] == base_pipe.assignments().count()
    finally:
        shutil.rmtree(d_base, ignore_errors=True)
        shutil.rmtree(d_inc, ignore_errors=True)


def test_incremental_equality_holds_with_quality_gate(spark):
    "The per-row quality gate preserves base+delta == full-run equality."
    full = generate_pages(spark, 800).cache()
    dirs = [tempfile.mkdtemp(prefix=f"qinc_{i}_") for i in range(3)]
    try:
        cfg = DedupConfig(jaccard_threshold=0.6, min_tokens=80, min_alpha_ratio=0.5)
        full_pipe = DedupPipeline(spark, dirs[0], cfg)
        full_pipe.run(pages_view(full))
        DedupPipeline(spark, dirs[1], cfg).run(pages_view(full.where("doc_id < 550")))
        inc_pipe = DedupPipeline(spark, dirs[2], cfg)
        inc_pipe.run_incremental(
            pages_view(full.where("doc_id >= 550")),
            FingerprintStore.from_workdir(spark, dirs[1]),
        )
        assert _assignments(inc_pipe) == _assignments(full_pipe)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_store_config_mismatch_raises(spark):
    """A FingerprintStore built with different key-affecting config
    (num_perm/shingle_k/seed/bands/quality bounds) must make
    run_incremental fail loudly — mismatched band/block keys would
    silently miss duplicates otherwise (round-4 ADVICE fix)."""
    import pytest

    full = generate_pages(spark, 300).cache()
    base_dir = tempfile.mkdtemp(prefix="inc_cfgbase_")
    run_dir = tempfile.mkdtemp(prefix="inc_cfgrun_")
    try:
        DedupPipeline(spark, base_dir, DedupConfig(num_perm=128)).run(
            pages_view(full.where("doc_id < 200"))
        )
        store = FingerprintStore.from_workdir(spark, base_dir)
        assert store.config is not None and store.config["num_perm"] == 128
        bad = DedupPipeline(
            spark, run_dir, DedupConfig(num_perm=64, bands=16)
        )
        with pytest.raises(ValueError, match="num_perm"):
            bad.run_incremental(
                pages_view(full.where("doc_id >= 200")), store
            )
        # matching config passes the gate (and completes)
        ok = DedupPipeline(spark, run_dir, DedupConfig(num_perm=128))
        ok.run_incremental(pages_view(full.where("doc_id >= 200")), store)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)


def test_chained_workdirs_config_disagreement_raises(spark):
    """from_workdirs must refuse to chain workdirs whose recorded
    configs disagree on key fields."""
    import json
    import os

    import pytest

    full = generate_pages(spark, 200).cache()
    d1 = tempfile.mkdtemp(prefix="inc_chain1_")
    d2 = tempfile.mkdtemp(prefix="inc_chain2_")
    try:
        DedupPipeline(spark, d1, DedupConfig()).run(pages_view(full))
        DedupPipeline(spark, d2, DedupConfig()).run(pages_view(full))
        # corrupt the second workdir's recorded config
        cfg_path = os.path.join(d2, "config.json")
        cfg = json.load(open(cfg_path))
        cfg["shingle_k"] = 5
        json.dump(cfg, open(cfg_path, "w"))
        with pytest.raises(ValueError, match="shingle_k"):
            FingerprintStore.from_workdirs(spark, d1, d2)
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_store_snapshots_sorted_and_verify_scan_prunes_files(spark):
    """Round-4 store-scan pruning: (1) the store's 02_url_dedup /
    04_fingerprints snapshots are written range-sorted by doc_id, so
    every parquet file covers a disjoint id range (footer min/max
    checked via pyarrow); (2) prune_store_by_ids pushes the
    candidate-id In predicate into the store scan (PushedFilters);
    (3) under that predicate only the files whose footer range
    overlaps the candidate ids need reading — a strict subset for a
    small delta."""
    import glob
    import os

    import pyarrow.parquet as pq

    full = generate_pages(spark, 2000).cache()
    base_dir = tempfile.mkdtemp(prefix="inc_prune_")
    # at scale AQE sizes the ranged write's files by bytes (~64MB
    # advisory), which a 2000-doc corpus fits in one of; shrink the
    # advisory so the toy store still splits into several ranged files
    keys = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        # parallelismFirst makes AQE coalesce down to minPartitionSize
        # (1MB default), not the advisory — shrink both
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16384",
    }
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        DedupPipeline(spark, base_dir, DedupConfig(), count_rows=False).run(
            pages_view(full)
        )

        for stage in ("02_url_dedup", "04_fingerprints"):
            parts = sorted(
                glob.glob(os.path.join(base_dir, stage, "part-*.parquet"))
            )
            assert len(parts) >= 4, f"{stage}: want multiple files"
            ranges = []
            for p in parts:
                md = pq.ParquetFile(p).metadata
                idx = md.schema.names.index("doc_id")
                lo = min(
                    md.row_group(i).column(idx).statistics.min
                    for i in range(md.num_row_groups)
                )
                hi = max(
                    md.row_group(i).column(idx).statistics.max
                    for i in range(md.num_row_groups)
                )
                ranges.append((lo, hi))
            ranges.sort()
            for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
                assert hi_prev < lo_next, f"{stage}: overlapping file ranges"

        # a small delta's candidate set touches few store partners
        store = FingerprintStore.from_workdir(spark, base_dir)
        pairs = spark.createDataFrame(
            [(1990, 3), (1991, 7), (1995, 11)], "doc_a long, doc_b long"
        )
        pruned = inc.prune_store_by_ids(store.docs, inc.collect_pair_ids(pairs))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "In(doc_id" in plan
        got = {r["doc_id"] for r in pruned.select("doc_id").collect()}
        assert got <= {1990, 1991, 1995, 3, 7, 11}

        # file-skipping evidence: candidate ids overlap a strict
        # subset of the sorted store files
        parts = sorted(
            glob.glob(os.path.join(base_dir, "02_url_dedup", "part-*.parquet"))
        )
        cand_ids = {1990, 1991, 1995, 3, 7, 11}
        overlapping = 0
        for p in parts:
            md = pq.ParquetFile(p).metadata
            idx = md.schema.names.index("doc_id")
            lo = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            if any(lo <= c <= hi for c in cand_ids):
                overlapping += 1
        assert 0 < overlapping < len(parts)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(base_dir, ignore_errors=True)


def test_prune_with_large_id_set_executes(spark):
    """A candidate set past the parquet In-pushdown bound must not
    blow the executor stack (a pushed In expands to a right-deep OR
    chain of eq() leaves in parquet; ~50k values overflowed at 120k
    pages): past the bound the scan falls back to min/max range
    pushdown and the InSet row filter, which must simply execute."""
    import os

    docs = spark.range(0, 30000).selectExpr(
        "id as doc_id", "concat('text-', id) as text"
    )
    path = tempfile.mkdtemp(prefix="inc_bigin_") + "/docs"
    try:
        from courlan_spark.sources.tables import write_snapshot

        write_snapshot(docs, path, order_by=["doc_id"])
        stored = spark.read.parquet(path)
        pairs = spark.range(0, 20000).selectExpr(
            "id as doc_a", "id + 30000 as doc_b"
        )
        pruned = inc.prune_store_by_ids(stored, inc.collect_pair_ids(pairs))
        assert pruned.count() == 20000
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)


def test_bounded_cc_matches_distributed(spark):
    """connected_components_bounded must produce exactly the
    distributed algorithm's (node, component=min-id) labels — on a
    random graph via the local fast path, and via the fallback when
    the edge count exceeds the bound."""
    import random

    from courlan_spark.operators.cc import (
        connected_components,
        connected_components_bounded,
    )

    rng = random.Random(7)
    edge_list = [
        (rng.randrange(500), rng.randrange(500)) for _ in range(800)
    ]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    expected = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    local = {
        (r["node"], r["component"])
        for r in connected_components_bounded(edges).collect()
    }
    fallback = {
        (r["node"], r["component"])
        for r in connected_components_bounded(
            edges, max_local_edges=10
        ).collect()
    }
    assert local == expected == fallback and len(expected) > 100


def test_interval_predicate_over_approximates_and_bounds_size():
    """Past the exact-In limit the prune renders ≤256 BETWEEN ranges
    that cover every id (over-approximation is fine — the verify join
    is exact) with a pushdown-safe predicate size."""
    from courlan_spark.operators.incremental import (
        _MAX_INTERVALS,
        _interval_predicate,
    )

    import random

    rng = random.Random(3)
    ids = sorted(rng.sample(range(1_000_000), 20_000))
    pred = _interval_predicate(ids, "doc_id")
    n_ranges = pred.count("BETWEEN")
    assert 1 <= n_ranges <= _MAX_INTERVALS
    # parse the ranges back and check coverage
    import re

    ranges = [
        (int(a), int(b))
        for a, b in re.findall(r"BETWEEN (\d+) AND (\d+)", pred)
    ]
    assert all(any(lo <= i <= hi for lo, hi in ranges) for i in ids[::97])
    # clustered ids yield few tight ranges, excluding most of the space
    tight = _interval_predicate(list(range(100, 200)), "doc_id")
    assert tight == "(doc_id BETWEEN 100 AND 199)"
