"""ANN operators: brute-force ground truth, LSH and IVF recall."""

import pytest
from pyspark.sql import functions as F

from courlan_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _topk_sets(rows):
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    return by_q


def test_brute_force_self_is_top1(spark, emb):
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = similarity.brute_force_topk(emb, queries, k=3).collect()
    top1 = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert top1 == {q: q for q in top1}  # self-similarity = 1.0


def test_lsh_and_ivf_recall_vs_brute_force(spark, emb):
    queries = emb.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = _topk_sets(similarity.brute_force_topk(emb, queries, k=5).collect())
    # NB: this corpus's true top-5 neighbors sit at cosine ~0.3 —
    # random-hyperplane LSH is built for the high-similarity regime,
    # so the test uses shallow buckets (4 planes) and many tables to
    # validate the machinery, not production parameters
    lsh = _topk_sets(
        similarity.lsh_topk(emb, queries, dim=64, k=5, planes=4, tables=16).collect()
    )
    ivf = _topk_sets(
        similarity.ivf_topk(
            emb, queries, dim=64, k=5, n_centroids=16, n_probe=8
        ).collect()
    )

    def recall(approx):
        hits = total = 0
        for q, t in truth.items():
            total += len(t)
            hits += len(t & approx.get(q, set()))
        return hits / total

    assert recall(lsh) >= 0.6
    assert recall(ivf) >= 0.8


def test_ivf_deterministic(spark, emb):
    queries = emb.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    one = sorted(
        map(
            tuple,
            similarity.ivf_topk(emb, queries, dim=64, k=3).select(
                "query_id", "vec_id", "rank"
            ).collect(),
        )
    )
    two = sorted(
        map(
            tuple,
            similarity.ivf_topk(emb, queries, dim=64, k=3).select(
                "query_id", "vec_id", "rank"
            ).collect(),
        )
    )
    assert one == two


def test_incremental_embedding_neardup_equals_batch_restriction(spark, emb):
    """The embedding near-dup with a store side equals the batch
    operator's pair set restricted to pairs touching a new vector (same
    full-recall bucket config), and never emits an old-old pair."""
    new = emb.where("vec_id % 4 = 0")
    old = emb.where("vec_id % 4 != 0")
    batch = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_pairs(
            emb, dim=64, threshold=0.35, planes=4, tables=48, round_decimals=4
        ).collect()
    }
    expected = {(a, b) for a, b in batch if a % 4 == 0 or b % 4 == 0}
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_pairs(
            new, dim=64, threshold=0.35, planes=4, tables=48, round_decimals=4,
            old_vectors=old,
        ).collect()
    }
    assert got == expected
    assert all(a % 4 == 0 or b % 4 == 0 for a, b in got)


def test_embedding_neardup_inline_dispatch_row_identical(spark, emb):
    """Round-6 payload dispatch: the inline-payload shape (vectors ride
    the single bucket exchange — taken when the caller's n_vectors hint
    says the whole corpus is small) must be ROW-IDENTICAL to the
    ids-only + attach shape (the no-hint default, which
    test_plan_shapes pins as shipping ids only), also with a store side,
    and the dispatch must pick ids-only without a hint or beyond the
    payload bound."""
    from courlan_spark.operators.similarity import embedding_neardup_pairs

    kwargs = dict(dim=64, threshold=0.35, planes=4, tables=8, round_decimals=4)
    ids_only = embedding_neardup_pairs(emb, **kwargs)
    inline = embedding_neardup_pairs(emb, inline_payload=True, **kwargs)
    hinted = embedding_neardup_pairs(emb, n_vectors=emb.count(), **kwargs)

    def rows(df):
        return sorted((r.id_a, r.id_b, r.cosine) for r in df.collect())

    expected = rows(ids_only)
    assert len(expected) > 0
    assert rows(inline) == expected
    assert rows(hinted) == expected
    # with a store side: the pairs touching a new vector
    new, old = emb.where("vec_id % 4 = 0"), emb.where("vec_id % 4 != 0")
    assert rows(
        embedding_neardup_pairs(new, old_vectors=old, inline_payload=True, **kwargs)
    ) == [r for r in expected if r[0] % 4 == 0 or r[1] % 4 == 0]

    # the hinted small corpus takes the inline plan: a single bucket
    # exchange, no join anywhere (pair expansion is native array code)
    optimized = hinted._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in optimized
    # a payload estimate past the bound falls back to ids-only (joins
    # present: bucket self-join + payload attach)
    big = embedding_neardup_pairs(emb, n_vectors=10_000_000, **kwargs)
    assert "Join" in big._jdf.queryExecution().optimizedPlan().toString()
