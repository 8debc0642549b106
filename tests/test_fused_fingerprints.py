"""The fused one-scan fingerprint pass must be column-for-column equal
to the three standalone operators — that equality is what lets the
standalone oracle queries (q_minhash_lsh_pairs, q_simhash_fingerprints,
q_substring_pairs) keep covering the fused path's math."""

from pyspark.sql import functions as F

from courlan_spark.operators import dedup, suffix
from courlan_spark.operators.fingerprints import fused_fingerprints


def test_fused_equals_standalone_kernels(spark):
    docs = spark.createDataFrame(
        [
            (1, "shared boilerplate paragraph that repeats nearly verbatim "
                "across these documents with only minor edits at the end"),
            (2, "shared boilerplate paragraph that repeats nearly verbatim "
                "across these documents with only minor edits at the END!!"),
            (3, "a totally different document about gardening and soil"),
            (4, ""),
            (5, None),
            (6, "short"),
        ],
        "doc_id long, text string",
    )
    fused = {r["doc_id"]: r for r in fused_fingerprints(docs).collect()}

    sigs = {r["doc_id"]: r["signature"]
            for r in dedup.minhash_signatures(docs).collect()}
    simhashes = {r["doc_id"]: r["simhash"]
                 for r in dedup.simhash_fingerprints(docs).collect()}
    winnow_udf = suffix.make_winnow_udf()
    winnows = {
        r["doc_id"]: r["w"]
        for r in docs.select(
            "doc_id",
            winnow_udf(F.coalesce("text", F.lit(""))).alias("w"),
        ).collect()
    }
    import numpy as np

    from courlan_spark.functions import hashing

    for doc_id in (1, 2, 3, 4, 5, 6):
        assert fused[doc_id]["signature"] == sigs[doc_id], doc_id
        assert fused[doc_id]["simhash"] == simhashes[doc_id], doc_id
        assert fused[doc_id]["winnow"] == winnows[doc_id], doc_id
        # stored band keys == the band kernel over the signature (what
        # dedup.band_buckets would compute) — the equality that lets
        # the LSH stage and incremental runs explode the stored column
        expect = hashing.band_hashes(
            np.asarray(sigs[doc_id], dtype=np.int64)
        ).tolist()
        assert fused[doc_id]["bands"] == expect, doc_id

    # the fused signature, sketched, equals the sketch of the standalone
    # kernel's signature (the store keeps only the sketch)
    def sketched(frame):
        return {
            r["doc_id"]: r["sketch"]
            for r in frame.select(
                "doc_id", dedup.minhash_sketch("signature").alias("sketch")
            ).collect()
        }

    assert sketched(fused_fingerprints(docs)) == sketched(
        dedup.minhash_signatures(docs)
    )


def test_substring_candidates_from_precomputed_winnow(spark):
    base = ("one very long boilerplate navigation footer that sites "
            "repeat verbatim on every single page that they serve today")
    docs = spark.createDataFrame(
        [(1, "intro. " + base), (2, "other words. " + base), (3, "unrelated text")],
        "doc_id long, text string",
    )
    direct = {
        (r["doc_a"], r["doc_b"])
        for r in suffix.substring_candidate_pairs(docs).collect()
    }
    fused = fused_fingerprints(docs)
    via_fused = {
        (r["doc_a"], r["doc_b"])
        for r in suffix.substring_candidate_pairs(
            docs, winnow=fused.select("doc_id", "winnow")
        ).collect()
    }
    assert direct == via_fused == {(1, 2)}
