"""Physical-plan assertions for the round-2 shuffle-count claims.

These lock in the architecture, not the timings: if a refactor
reintroduces a window+self-join candidate stage or a double payload
join, the Exchange counts change and these tests fail.
"""

from pyspark.sql import functions as F

from courlan_spark.operators import dedup


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_bucket_pair_explode_single_aggregation(spark):
    """Candidate generation shuffles the membership rows exactly ONCE:
    the capped path pre-filters oversized buckets with a windowed
    count (bounding collect_list memory — round-3 ADVICE fix) whose
    exchange the hash aggregation then reuses; no join anywhere (the
    round-1 shape also paid a sort-merge self-join)."""
    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37).alias("k")
    )
    pairs = dedup.bucket_pairs(df, "k", 500)
    plan = _optimized(pairs)
    assert "Join" not in plan
    physical = _plan(pairs)
    # exactly the one exchange that partitions bucket members by key,
    # shared by the size window and the collect_list aggregation
    assert physical.count("Exchange") == 1
    assert "Window" in physical


def test_bucket_pair_explode_uncapped_no_window(spark):
    """Without a cap or a store side there is no window pass — one
    pure hash aggregation (dedup.bucket_pairs)."""
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("k")
    )
    pairs = dedup.bucket_pairs(df, "k", None)
    physical = _plan(pairs)
    assert "Window" not in physical
    assert physical.count("Exchange") == 1


def test_bucket_pair_explode_cap_bounds_aggregation_input(spark):
    """Oversized buckets are pruned BEFORE the collect_list: with one
    hub key holding 4000 of 4040 rows and cap=50, the pairs exclude
    the hub entirely and the observed accounting matches exactly."""
    from pyspark.sql import Observation

    df = spark.range(0, 4040).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 4000, F.lit(0)).otherwise(F.col("id") % 2 + 1).alias("k"),
    )
    obs = Observation("cap_acct")
    pairs = dedup.bucket_pairs(df, "k", 50, observation=obs)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    # hub key 0 dropped; keys 1 and 2 hold 20 docs each -> C(20,2) pairs
    assert len(got) == 2 * (20 * 19) // 2
    assert all(a >= 4000 and b >= 4000 for a, b in got)
    metrics = obs.get
    assert metrics["dropped_buckets"] == 1
    assert metrics["dropped_rows"] == 4000
    assert metrics["buckets"] == 3


def test_attach_pair_payloads_single_table_pass(spark):
    """Both pair sides fetch their payload through ONE reference to the
    payload table (round 1 joined the heavy table twice)."""
    pairs = spark.range(0, 100).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1000).alias("doc_b")
    )
    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), "id").alias("text")
    )
    out = dedup.attach_pair_payloads(pairs, docs, "doc_id", "text", "ta", "tb")
    optimized = _optimized(out)
    # the docs range appears once in the logical plan (one scan/shuffle
    # of the payload table), and exactly one join total
    assert optimized.count("Range (0, 2000") == 1
    assert optimized.count("Join") == 1


def test_lsh_candidates_no_self_join(spark):
    "The banded-LSH candidate path inherits the no-join shape."
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text body number "), (F.col("id") % 40)).alias("text"),
    )
    sigs = dedup.minhash_signatures(docs)
    pairs, _ = dedup.lsh_candidate_pairs(sigs, max_bucket_size=100)
    plan = _optimized(pairs)
    assert "Join" not in plan


def test_incremental_bucket_pairs_single_exchange(spark):
    """With a store side (delta vs store) the bucket pairing keeps the
    one-shuffle property: new/old membership rows union map-side, ONE
    exchange on the bucket key feeds the new-count/size windows AND the
    two-list aggregation, and pair expansion is native array code — no
    join against the store anywhere."""
    new = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37).alias("k")
    )
    old = spark.range(1000, 6000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37).alias("k")
    )
    pairs = dedup.bucket_pairs(new, "k", 500, old_rows=old)
    assert "Join" not in _optimized(pairs)
    physical = _plan(pairs)
    assert physical.count("Exchange") == 1
    assert "Window" in physical


def test_bucket_pairs_store_terms_only_with_store_side(spark, monkeypatch):
    """Without a store side an operator carries none of the store
    side's terms, so a full run pays nothing for the delta mode sharing
    its operators.  The bucket pairing: ONE collect_list (no olds list)
    and no new-member count, capped or not and with or without an
    observation.  Both verifies: no pruned store union and no pair-id
    collect.  The clustering: no cluster_id semi-join in its edges and
    no union of moved labels.  With a store side all of them appear,
    and each verify collects its pairs' ids once."""
    from pyspark.sql import Observation

    from courlan_spark.operators import incremental as inc
    from courlan_spark.operators import suffix

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("k")
    )
    for cap, obs in ((None, None), (500, None), (500, Observation("lean"))):
        plan = _optimized(dedup.bucket_pairs(df, "k", cap, observation=obs))
        assert plan.count("collect_list(") == 1, plan
        assert "_nnew" not in plan and "_new" not in plan, plan
    plan = _optimized(dedup.bucket_pairs(df, "k", 500, old_rows=df))
    assert plan.count("collect_list(") == 2 and "_nnew" in plan

    # the id collect and the components run jobs when called: stubbed,
    # since only the plans are under test
    collects, edges = [], []
    monkeypatch.setattr(inc, "collect_pair_ids", lambda p, **kw: collects.append(p) or [1, 2, 100])
    monkeypatch.setattr(
        dedup, "connected_components_bounded",
        lambda e, **kw: edges.append(e)
        or spark.createDataFrame([(1, 1), (2, 1), (100, 1)], "node long, component long"),
    )
    pairs = spark.createDataFrame([(1, 2), (2, 100)], "doc_a long, doc_b long")

    def texts(lo, hi):
        return spark.range(lo, hi).selectExpr("id AS doc_id", "concat('text ', id) AS text")

    def sketched(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS doc_id", "array(cast(id % 100 AS tinyint)) AS sketch"
        )

    old = spark.createDataFrame([(1, 1), (100, 1), (5, 5)], "doc_id long, cluster_id long")
    for store in (False, True):
        jaccard = dedup.verify_pairs_jaccard(
            pairs, texts(0, 10), sketches=sketched(0, 10),
            **({"old_docs": texts(100, 110), "old_sketches": sketched(100, 110)} if store else {}),
        )
        lcs = suffix.verify_substring_pairs(
            pairs, texts(0, 10), **({"old_docs": texts(100, 110)} if store else {})
        )
        for verify in (jaccard, lcs):
            assert ("Union" in _optimized(verify)) == store
        assert len(collects) == (2 if store else 0)
        labels = dedup.cluster_assignments(
            texts(2, 3), pairs, **({"old_assignments": old} if store else {})
        )
        assert ("LeftSemi" in _optimized(edges[-1])) == store
        assert ("Union" in _optimized(labels)) == store


def test_fused_fingerprints_prunes_unused_page_columns(spark, tmp_path):
    """Column pruning survives the fused pandas UDF: fingerprinting a
    pages table reads only (url, warc_ts, text) from parquet — the
    html binary column (the bulk of the bytes at web scale) never
    leaves the scan."""
    from courlan_spark.operators.fingerprints import fused_fingerprints
    from courlan_spark.sources.pages import generate_pages, pages_view

    path = str(tmp_path / "pages")
    pages_view(generate_pages(spark, 100)).coalesce(1).write.parquet(path)
    pages = spark.read.parquet(path)
    docs = pages.select(
        F.xxhash64("url", "warc_ts").alias("doc_id"), "text"
    )
    plan = _plan(fused_fingerprints(docs))
    read_schema = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "html" not in read_schema and "text" in read_schema


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _exchange_inputs(formatted: str, partition_key: str) -> list[str]:
    """For every Exchange node hash-partitioning on `partition_key`,
    return its `Input [...]` column list (= the exact row schema that
    crosses the shuffle wire)."""
    import re

    inputs = []
    blocks = formatted.split("\n\n")
    for block in blocks:
        if "Exchange" not in block.split("\n", 1)[0]:
            continue
        if f"hashpartitioning({partition_key}" not in block:
            continue
        m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        assert m, f"Exchange block without Input list:\n{block}"
        inputs.append(m.group(1))
    return inputs


def test_embedding_neardup_bucket_exchange_ships_ids_only(spark):
    """The embedding near-dup bucket pairing must exchange ONLY
    (vec_id, bucket) rows: the round-4 shape carried the full embedding
    array on both sides, shipping each vector ~2x per LSH table through
    the shuffle.  Vectors now attach once, to the surviving pairs, via
    attach_pair_payloads (single reference to the vector table)."""
    from courlan_spark.operators.similarity import embedding_neardup_pairs

    dim = 8
    vecs = spark.range(0, 300).select(
        F.col("id").alias("vec_id"),
        F.array([(F.col("id") % (i + 3)).cast("float") for i in range(dim)]).alias(
            "embedding"
        ),
    )
    out = embedding_neardup_pairs(vecs, dim=dim, threshold=0.5, max_bucket_size=100)

    optimized = _optimized(out)
    # one join total: the ONE payload join (the ids-only bucket
    # pairing is an aggregation, not a self-join)
    assert optimized.count("Join") == 1
    # the old shape projected the embedding straight onto the join
    # inputs (`embedding#n AS va#m`); the new shape only ever aliases
    # it into attach_pair_payloads' single `_payload` pass
    import re

    assert not re.search(r"embedding#\d+ AS v[ab]#", optimized)

    # no exchange partitioning on the bucket key may carry the
    # embedding column in its shuffled row schema (the embedding DOES
    # appear upstream as the bucket UDF's input — that's unavoidable
    # and free; what must not happen is the array crossing the wire)
    inputs = _exchange_inputs(_formatted(out), "bucket")
    assert inputs, "expected a bucket-key exchange in the plan"
    for cols in inputs:
        assert "embedding" not in cols and "vec" not in cols.replace(
            "vec_id", ""
        ), f"embedding column crossed the bucket exchange: [{cols}]"


def test_merge_scheme_variants_single_exchange(spark):
    """The http↔https merge shuffles the frontier exactly ONCE (window
    max over the scheme-less key).  The former groupBy+join shape paid
    a second row-stream exchange once the distinct-host aggregate
    outgrew broadcast — which at web scale (~10⁸ hosts) it always does."""
    from courlan_spark.operators.frontier import merge_scheme_variants

    df = spark.range(0, 2000).select(
        F.concat(
            F.when(F.col("id") % 3 == 0, F.lit("https://")).otherwise(
                F.lit("http://")
            ),
            F.lit("h"),
            (F.col("id") % 41).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.col("id").alias("seq"),
    )
    merged = merge_scheme_variants(df)
    assert "Join" not in _optimized(merged)
    assert _plan(merged).count("Exchange") == 1


def test_bounded_cc_result_reads_materialized_partitions(spark):
    """connected_components_bounded returns its Arrow-built labels
    re-based on an RDD, with a broadcast hint: downstream actions must
    read materialized executor-side partitions, NOT replay a
    py4j-pickled LocalRelation per action (measured: the 120k-page bench's final join stage went
    1.1s → 9.1s when ~10⁵ labels rode the pickled path)."""
    from courlan_spark.operators.cc import connected_components_bounded

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 50, 2)], "src long, dst long"
    )
    out = connected_components_bounded(edges)
    logical = out._jdf.queryExecution().logical().toString()
    assert "LogicalRDD" in logical, logical
    assert out.count() == 50
