"""Fault-injection resume matrix (snapshot_mode="all").

Each case fails one run, either inside a durable stage's build or
inside a background snapshot write, then resumes it in the same
workdir.  The failed run must append a metrics.json line naming its
stage.  Both the failed and the resumed run must leave no pending
write, write pool, pool thread or cached RDD behind.  The resumed run
must return the assignments of an uninterrupted run.  Both pipeline
modes are covered: ``run`` over a small corpus, and
``run_incremental`` of its last pages against a store built from the
rest.
"""

import json
import os
import threading

import pytest

from courlan_spark.plans import pipeline as P
from courlan_spark.plans.pipeline import DedupConfig, DedupPipeline, FingerprintStore
from courlan_spark.sources.pages import generate_pages, pages_view

N_PAGES = 160
BASE_PAGES = 140
CFG = DedupConfig(jaccard_threshold=0.6, snapshot_mode="all")

# durable stages of each mode in snapshot_mode="all", and the stages
# whose snapshot is written in the background
BUILDS = {
    "full": ("02_url_dedup", "04_fingerprints", "05_minhash_pairs",
             "06_simhash_pairs", "07_substring_cands", "03_exact_text_pairs",
             "09_assignments"),
    "incremental": ("02_url_dedup", "04_fingerprints", "05_candidates",
                    "05_minhash_pairs", "06_simhash_pairs", "07_substring_cands",
                    "03_exact_text_pairs", "08_evidence", "09_assignments"),
}
WRITES = {
    "full": ("02_url_dedup", "04_fingerprints"),
    "incremental": ("02_url_dedup", "04_fingerprints", "08_evidence"),
}
CASES = [
    (mode, where, stage)
    for mode in BUILDS
    for where, names in (("build", BUILDS[mode]), ("write", WRITES[mode]))
    for stage in names
]


class InjectedFault(RuntimeError):
    pass


def _assignments(pipe):
    return sorted((r["doc_id"], r["cluster_id"]) for r in pipe.assignments().collect())


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    "The corpus, the store built from its base pages, and both references."
    full = generate_pages(spark, N_PAGES)
    pages = pages_view(full)
    delta = pages_view(full.where(f"doc_id >= {BASE_PAGES}"))
    root = tmp_path_factory.mktemp("fault_matrix")
    DedupPipeline(spark, str(root / "base"), CFG).run(
        pages_view(full.where(f"doc_id < {BASE_PAGES}"))
    )
    store = FingerprintStore.from_workdir(spark, str(root / "base"))
    ref_full = DedupPipeline(spark, str(root / "ref_full"), CFG)
    ref_full.run(pages)
    ref_inc = DedupPipeline(spark, str(root / "ref_inc"), CFG)
    ref_inc.run_incremental(delta, store)
    reference = {"full": _assignments(ref_full), "incremental": _assignments(ref_inc)}
    # the delta must be joined against the store for the matrix to
    # exercise the merge: the two references agree
    assert reference["full"] == reference["incremental"]
    return {"pages": pages, "delta": delta, "store": store, "reference": reference}


def _run(pipe, world, mode, resume):
    if mode == "full":
        return pipe.run(world["pages"], resume=resume)
    return pipe.run_incremental(world["delta"], world["store"], resume=resume)


def _failing_build(stage):
    "DedupPipeline._stage, with ``stage``'s build raising when called."
    real = DedupPipeline._stage

    def spy(self, name, build, *args, **kwargs):
        if name == stage:
            def build():
                raise InjectedFault(f"injected fault in {stage}")
        return real(self, name, build, *args, **kwargs)

    return spy


def _failing_write(stage):
    "pipeline._write_snapshot, raising for ``stage``'s snapshot."
    real = P._write_snapshot

    def write(df, path, **kwargs):
        if os.path.basename(path) == stage:
            raise InjectedFault(f"injected fault in {stage}")
        return real(df, path, **kwargs)

    return write


def _pool_threads() -> set:
    return {t.ident for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}


def _assert_released(spark, pipe, rdds_before, threads_before):
    assert pipe._pending_writes == [] and pipe._write_pool is None
    assert _pool_threads() <= threads_before
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == rdds_before


@pytest.mark.parametrize(
    "mode,where,stage", CASES, ids=[f"{m}-{w}-{s}" for m, w, s in CASES]
)
def test_failed_run_resumes_to_the_same_assignments(
    spark, world, monkeypatch, tmp_path, mode, where, stage
):
    rdds_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    threads_before = _pool_threads()
    workdir = str(tmp_path / "run")

    with monkeypatch.context() as patch:
        if where == "build":
            patch.setattr(DedupPipeline, "_stage", _failing_build(stage))
        else:
            patch.setattr(P, "_write_snapshot", _failing_write(stage))
        pipe = DedupPipeline(spark, workdir, CFG, count_rows=False)
        with pytest.raises(InjectedFault, match=f"injected fault in {stage}"):
            _run(pipe, world, mode, resume=False)
    _assert_released(spark, pipe, rdds_before, threads_before)
    with open(os.path.join(workdir, "metrics.json")) as fh:
        last = json.loads(fh.read().splitlines()[-1])
    assert last == {"failed_stage": stage, "error": f"injected fault in {stage}"}

    pipe = DedupPipeline(spark, workdir, CFG, count_rows=False)
    _run(pipe, world, mode, resume=True)
    _assert_released(spark, pipe, rdds_before, threads_before)
    assert _assignments(pipe) == world["reference"][mode]
