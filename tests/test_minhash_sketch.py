"""The 8-bit MinHash sketch (dedup.minhash_sketch) that the fingerprint
store keeps in place of the 64-bit signature.  Its one consumer is the
Jaccard-estimate prefilter of verify_pairs_jaccard, which the exact
Jaccard verify follows: the sketch must pass every pair the 64-bit
estimate passed, so the verified output keeps every pair it had."""

import os

import pytest

from courlan_spark.operators import dedup
from courlan_spark.plans.pipeline import DedupConfig, DedupPipeline
from courlan_spark.sources.pages import generate_pages, pages_view
from courlan_spark.sources.tables import read_snapshot

THRESHOLD, MARGIN = 0.6, 0.2


def _sketch(signature):
    "The sketch's definition on Python ints: low byte, shifted by 128."
    return [(v & 255) - 128 for v in signature]


def _estimate(a, b):
    return sum(x == y for x, y in zip(a, b)) / len(a)


def test_sketch_of_extreme_minima_under_ansi(spark):
    "Every low byte maps into tinyint without a CAST_OVERFLOW."
    values = [0, 1, 127, 128, 255, 256, 383, (1 << 61) - 1, -1, -(1 << 63)]
    df = spark.createDataFrame([(1, values)], "doc_id long, signature array<long>")
    previous = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        row = df.select(dedup.minhash_sketch("signature").alias("s")).first()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", previous)
    assert row["s"] == _sketch(values)
    assert df.select(dedup.minhash_sketch("signature").alias("s")).schema[
        "s"
    ].dataType.simpleString() == "array<tinyint>"


@pytest.fixture(scope="module")
def seeded(spark):
    "600 seeded pages, their signatures, sketches and LSH candidates."
    docs = generate_pages(spark, 600).select("doc_id", "text").cache()
    sigs = dedup.minhash_signatures(docs).cache()
    cands, _ = dedup.lsh_candidate_pairs(sigs)
    cands = cands.cache()
    signature = {r["doc_id"]: r["signature"] for r in sigs.collect()}
    sketch = {
        r["doc_id"]: r["sketch"]
        for r in sigs.select(
            "doc_id", dedup.minhash_sketch("signature").alias("sketch")
        ).collect()
    }
    pairs = [(r["doc_a"], r["doc_b"]) for r in cands.collect()]
    assert len(pairs) > 50
    return {"docs": docs, "sigs": sigs, "cands": cands, "signature": signature,
            "sketch": sketch, "pairs": pairs}


def test_equal_minima_give_equal_sketch_entries(seeded):
    signature, sketch = seeded["signature"], seeded["sketch"]
    for doc_id, sig in signature.items():
        assert sketch[doc_id] == _sketch(sig), doc_id
    equal_positions = 0
    for a, b in seeded["pairs"]:
        for i, (x, y) in enumerate(zip(signature[a], signature[b])):
            if x == y:
                equal_positions += 1
                assert sketch[a][i] == sketch[b][i], (a, b, i)
    assert equal_positions > 0


def test_sketch_estimate_passes_a_superset(seeded):
    signature, sketch = seeded["signature"], seeded["sketch"]
    floor = THRESHOLD - MARGIN
    passed64 = {
        p for p in seeded["pairs"]
        if _estimate(signature[p[0]], signature[p[1]]) >= floor
    }
    passed8 = {
        p for p in seeded["pairs"]
        if _estimate(sketch[p[0]], sketch[p[1]]) >= floor
    }
    assert passed64 and passed64 <= passed8


def test_verify_keeps_every_pair_the_64bit_prefilter_kept(spark, seeded):
    """verify_pairs_jaccard(signatures=...) now sketches: its output
    holds every pair the 64-bit estimate + exact verify gave, and only
    pairs the exact verify alone accepts."""
    docs, cands, signature = seeded["docs"], seeded["cands"], seeded["signature"]
    floor = THRESHOLD - MARGIN
    passed64 = [
        p for p in seeded["pairs"]
        if _estimate(signature[p[0]], signature[p[1]]) >= floor
    ]

    def verified(pairs, **kw):
        out = dedup.verify_pairs_jaccard(pairs, docs, threshold=THRESHOLD, **kw)
        return {(r["doc_a"], r["doc_b"]) for r in out.collect()}

    old = verified(spark.createDataFrame(passed64, "doc_a long, doc_b long"))
    new = verified(cands, signatures=seeded["sigs"])
    exact = verified(cands)
    assert old and old <= new <= exact
    # a caller holding sketches gets the same answer as one holding
    # the signatures they came from
    sketches = seeded["sigs"].select(
        "doc_id", dedup.minhash_sketch("signature").alias("sketch")
    )
    assert verified(cands, sketches=sketches) == new


def test_store_snapshot_holds_the_sketch_not_the_signature(spark, tmp_path):
    cfg = DedupConfig(jaccard_threshold=0.6)
    workdir = str(tmp_path / "run")
    DedupPipeline(spark, workdir, cfg).run(pages_view(generate_pages(spark, 120)))
    fps = read_snapshot(spark, os.path.join(workdir, "04_fingerprints"))
    assert "signature" not in fps.columns
    assert fps.schema["sketch"].dataType.simpleString() == "array<tinyint>"
    sizes = {r[0] for r in fps.selectExpr("size(sketch)").distinct().collect()}
    assert sizes == {cfg.num_perm}
