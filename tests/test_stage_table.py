"""The stages each pipeline mode reports and the snapshots it writes.

One small corpus runs three ways: ``run`` in snapshot_mode="minimal"
and in "all", and ``run_incremental`` in "all" against the store the
"all" run leaves.  Each operation's stage names and snapshot
directories are pinned as literals.  The benchmark's traced runs fail
on any stage or snapshot they miss, so the literals must also cover
the stage and snapshot tuples ``layerbench/run.py`` declares.
"""

import ast
import os

import pytest

from courlan_spark.plans.pipeline import DedupConfig, DedupPipeline, FingerprintStore
from courlan_spark.sources.pages import generate_pages, pages_view

FULL_MINIMAL_STAGES = sorted([
    "01_canonical", "02_url_dedup", "03_exact_text_pairs", "04_fingerprints",
    "05_minhash_pairs", "06_simhash_pairs", "07_substring_cands",
    "07_substring_pairs", "08_clusters", "09_assignments",
])
FULL_ALL_STAGES = sorted(FULL_MINIMAL_STAGES + [
    "02_url_dedup_write_join", "04_fingerprints_write_join",
])
INCREMENTAL_ALL_STAGES = sorted([
    "01_canonical", "02_url_dedup", "03_exact_text_pairs", "04_fingerprints",
    "05_candidates", "05_minhash_pairs", "06_simhash_pairs", "07_substring_cands",
    "07_substring_pairs", "08_evidence", "09_assignments",
    "02_url_dedup_write_join", "04_fingerprints_write_join", "08_evidence_write_join",
])
FULL_MINIMAL_SNAPSHOTS = ["09_assignments"]
FULL_ALL_SNAPSHOTS = [
    "02_url_dedup", "03_exact_text_pairs", "04_fingerprints", "05_minhash_pairs",
    "06_simhash_pairs", "07_substring_cands", "09_assignments",
]
INCREMENTAL_ALL_SNAPSHOTS = [
    "02_url_dedup", "03_exact_text_pairs", "04_fingerprints", "05_candidates",
    "05_minhash_pairs", "06_simhash_pairs", "07_substring_cands", "08_evidence",
    "09_assignments",
]


def _layerbench_tuples() -> dict:
    "FULL_STAGES, INCREMENTAL_STAGES and SNAPSHOTS as layerbench/run.py declares them."
    path = os.path.join(os.path.dirname(__file__), os.pardir, "layerbench", "run.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())
    wanted = {"FULL_STAGES", "INCREMENTAL_STAGES", "SNAPSHOTS"}
    return {
        node.targets[0].id: ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.targets[0], ast.Name)
        and node.targets[0].id in wanted
    }


def _table(summary: dict, workdir: str) -> tuple[list, list]:
    stages = sorted(s["stage"] for s in summary["stages"])
    snapshots = sorted(
        d for d in os.listdir(workdir) if os.path.isdir(os.path.join(workdir, d))
    )
    return stages, snapshots


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stage_table")
    full = generate_pages(spark, 200)
    out = {}
    workdir = str(root / "minimal")
    summary = DedupPipeline(spark, workdir, DedupConfig(snapshot_mode="minimal")).run(
        pages_view(full)
    )
    out["full-minimal"] = _table(summary, workdir)
    workdir = str(root / "all")
    summary = DedupPipeline(spark, workdir, DedupConfig(snapshot_mode="all")).run(
        pages_view(full.where("doc_id < 180"))
    )
    out["full-all"] = _table(summary, workdir)
    store = FingerprintStore.from_workdir(spark, workdir)
    workdir = str(root / "incremental")
    summary = DedupPipeline(spark, workdir, DedupConfig(snapshot_mode="all")).run_incremental(
        pages_view(full.where("doc_id >= 180")), store
    )
    out["incremental-all"] = _table(summary, workdir)
    return out


def test_stage_table_per_mode(tables):
    assert tables["full-minimal"] == (FULL_MINIMAL_STAGES, FULL_MINIMAL_SNAPSHOTS)
    assert tables["full-all"] == (FULL_ALL_STAGES, FULL_ALL_SNAPSHOTS)
    assert tables["incremental-all"] == (INCREMENTAL_ALL_STAGES, INCREMENTAL_ALL_SNAPSHOTS)


def test_stage_table_covers_the_benchmark():
    bench = _layerbench_tuples()
    assert set(bench["FULL_STAGES"]) <= set(FULL_MINIMAL_STAGES)
    assert set(bench["INCREMENTAL_STAGES"]) <= set(INCREMENTAL_ALL_STAGES)
    assert set(bench["SNAPSHOTS"]) <= set(INCREMENTAL_ALL_SNAPSHOTS)
