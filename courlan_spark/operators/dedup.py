"""Deduplication operators: exact (hash-agg), MinHash+LSH, SimHash,
n-gram Jaccard brute force, and cluster assembly.

All operators are declarative DataFrame compositions: aggregations
are partial+final hash aggregations (map-side combine for free),
joins are equi-joins that AQE can re-plan, and the only Python
boundaries are the numpy fingerprint kernels in functions.hashing.

Scale levers (north rule, /root/repo/BASELINE.json:6,14):
* optional key salting for the exact-dedup aggregation when the key
  distribution is hub-skewed;
* LSH bucket-size caps with dropped-bucket accounting (no silent
  truncation);
* 8-bit MinHash sketch estimate prefilter before the exact-Jaccard
  verify join so the pair verification never rejoins full text for
  hopeless pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing
from .cc import connected_components_bounded


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    salt_partitions: int | None = None,
) -> DataFrame:
    """Keep exactly one row per key (the minimum of order_cols),
    annotated with the group's duplicate count.

    The reducer is min(struct(order, row)) — partially aggregatable,
    so executors combine map-side before the shuffle.  With
    ``salt_partitions`` the aggregation runs in two phases
    (key+salt, then key) to split hub keys across reducers.
    """
    ordering = F.struct(*[F.col(c) for c in order_cols], F.struct(*df.columns).alias("row"))

    if salt_partitions:
        salted = df.groupBy(
            *key_cols,
            F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(salt_partitions)).alias(
                "_salt"
            ),
        ).agg(F.min(ordering).alias("_best"), F.count("*").alias("_cnt"))
        grouped = salted.groupBy(*key_cols).agg(
            F.min("_best").alias("_best"), F.sum("_cnt").alias("n_copies")
        )
    else:
        grouped = df.groupBy(*key_cols).agg(
            F.min(ordering).alias("_best"), F.count("*").alias("n_copies")
        )

    return grouped.select(
        F.col("_best.row.*"), F.col("n_copies")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = hashing.DEFAULT_NUM_PERM,
    shingle_k: int = hashing.DEFAULT_SHINGLE_K,
    seed: int = hashing.DEFAULT_SEED,
) -> DataFrame:
    "(id, signature array<long>) via the numpy MinHash kernel."
    udf = hashing.make_minhash_udf(num_perm=num_perm, shingle_k=shingle_k, seed=seed)
    # CPU-heavy Python kernel: spread over all cores regardless of how
    # few byte-sized partitions AQE would have given this input.
    # HASH on the (unique) id, not round-robin: a keyless repartition
    # first pays a local sort of its input for retry determinism
    # (spark.sql.execution.sortBeforeRepartition) — a single-threaded
    # per-input-partition sort of the full text rows that dominated the
    # spreading exchange on few-split parquet inputs (guide §2.5)
    source = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    return source.select(
        F.col(id_col).alias("doc_id"), udf(F.col(text_col)).alias("signature")
    )


def capped_buckets(
    exploded: DataFrame,
    key_col: str,
    max_bucket_size: int | None,
    min_bucket_size: int = 2,
    observation=None,
) -> tuple[DataFrame, DataFrame]:
    """Annotate bucket membership rows with their bucket size via a
    window aggregate (ONE shuffle on the key — no groupBy+join pair)
    and split into (kept, dropped).  The kept side arrives hash-
    partitioned and sorted by the key, so a following self-join on the
    same key reuses the exchange.  dropped carries one row per
    oversized bucket for the no-silent-caps accounting."""
    from pyspark.sql import Window

    sized = exploded.withColumn(
        "bucket_size", F.count(F.lit(1)).over(Window.partitionBy(key_col))
    )
    if observation is not None:
        raise ValueError(
            "capped_buckets cannot observe: the windowed plan is cloned "
            "into both sides of a following self-join, which duplicates "
            "the CollectMetrics node; use bucket_pair_explode instead"
        )
    upper = (
        (F.col("bucket_size") <= max_bucket_size)
        if max_bucket_size is not None
        else F.lit(True)
    )
    kept = sized.where((F.col("bucket_size") >= min_bucket_size) & upper)
    if max_bucket_size is not None:
        dropped = (
            sized.where(F.col("bucket_size") > max_bucket_size)
            .groupBy(key_col)
            .agg(F.first("bucket_size").alias("bucket_size"))
        )
    else:
        dropped = sized.where(F.lit(False)).select(key_col, "bucket_size")
    return kept, dropped


def bucket_pair_explode(
    exploded: DataFrame,
    key_col: str,
    max_bucket_size: int | None,
    observation=None,
    payload_col: str | None = None,
    out_payload: tuple[str, str] = ("payload_a", "payload_b"),
) -> DataFrame:
    """One-shuffle candidate generation over (doc_id[, payload], key)
    bucket membership rows: group the members per key (bounded by
    ``max_bucket_size``), and expand the i<j pairs with native array
    expressions — the whole candidate stage is a single hash
    aggregation, where the window+self-join formulation costs a
    shuffle+sort plus a sort-merge join over the same data.

    The sorted member array makes doc_a < doc_b by construction.
    ``observation`` (optional pyspark Observation) records
    dropped-bucket accounting on the pass itself — no count() job, and
    the node executes exactly once (attaching metrics below a
    self-join would clone the CollectMetrics node and break
    Observation.get).  Callers passing an observation must act on the
    returned pairs exactly once.

    Memory bound: when ``max_bucket_size`` is set, oversized buckets
    are pruned on the membership ROWS — a windowed count over the
    bucket key, which shares the aggregation's exchange — BEFORE the
    collect_list, so a hub bucket (millions of members under one band
    key) never materializes as an in-memory array on any executor.
    The window sort is spillable; collect_list is not.  Accounting
    therefore also rides the membership rows (dropped_rows = member
    rows in oversized buckets; dropped_buckets via each bucket's
    row_number()==1 representative).
    """
    if payload_col is None:
        member = F.col("doc_id")
    else:
        member = F.struct(
            F.col("doc_id").alias("id"), F.col(payload_col).alias("pl")
        )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        over = F.col("_bsz") > max_bucket_size
        sized = exploded.withColumn(
            "_bsz", F.count(F.lit(1)).over(Window.partitionBy(key_col))
        ).withColumn(
            "_brn",
            F.row_number().over(Window.partitionBy(key_col).orderBy("doc_id")),
        )
        if observation is not None:
            first = F.col("_brn") == 1
            sized = sized.observe(
                observation,
                F.sum((over & first).cast("long")).alias("dropped_buckets"),
                F.sum(over.cast("long")).alias("dropped_rows"),
                F.sum(first.cast("long")).alias("buckets"),
            )
        bounded = sized.where((F.col("_bsz") >= 2) & ~over)
        grouped = bounded.groupBy(key_col).agg(
            F.array_sort(F.collect_list(member)).alias("ids")
        )
        kept = grouped
    else:
        grouped = exploded.groupBy(key_col).agg(
            F.array_sort(F.collect_list(member)).alias("ids")
        )
        if observation is not None:
            grouped = grouped.observe(
                observation,
                F.sum(F.lit(0).cast("long")).alias("dropped_buckets"),
                F.sum(F.lit(0).cast("long")).alias("dropped_rows"),
                F.count(F.lit(1)).alias("buckets"),
            )
        kept = grouped.where(F.size("ids") >= 2)
    pair_expr = F.explode(
        F.flatten(
            F.transform(
                "ids",
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    ).alias("p")
    pairs = kept.select(pair_expr)
    if payload_col is None:
        # strict < also drops self-pairs from a doc landing twice in
        # one bucket (possible under key collisions across bands)
        return pairs.where(F.col("p.a") < F.col("p.b")).select(
            F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
        )
    return pairs.where(F.col("p.a.id") < F.col("p.b.id")).select(
        F.col("p.a.id").alias("doc_a"),
        F.col("p.b.id").alias("doc_b"),
        F.col("p.a.pl").alias(out_payload[0]),
        F.col("p.b.pl").alias(out_payload[1]),
    )


def attach_pair_payloads(
    pairs: DataFrame,
    table: DataFrame,
    id_col: str,
    payload_col: str,
    out_a: str,
    out_b: str,
) -> DataFrame:
    """Fetch a payload column for BOTH sides of (doc_a, doc_b) pairs
    with a single join against ``table``: explode each pair to one row
    per side, join on the id, and fold back with a conditional agg.
    The heavy table is shuffled once instead of twice (the round-1
    verify join shipped the full text column through two exchanges —
    PLANS.md known gap, closed here)."""
    tagged = pairs.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("_pid")
    )
    payload = table.select(
        F.col(id_col).alias("_pid"), F.col(payload_col).alias("_payload")
    )
    return (
        tagged.join(payload, "_pid")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(
                F.when(F.col("_pid") == F.col("doc_a"), F.col("_payload"))
            ).alias(out_a),
            F.max(
                F.when(F.col("_pid") == F.col("doc_b"), F.col("_payload"))
            ).alias(out_b),
        )
    )


def band_buckets(signatures: DataFrame, bands: int = hashing.DEFAULT_BANDS) -> DataFrame:
    """(doc_id, band_key) LSH band bucket membership rows.  The single
    definition of the band key — the batch self-join and the incremental
    new-vs-store path both derive keys here, so two
    signatures always meet in the same bucket regardless of path."""
    band_udf = hashing.make_band_hash_udf(bands=bands)
    return signatures.select(
        "doc_id", F.explode(band_udf("signature")).alias("band_key")
    )


def minhash_sketch(signature: str | Column) -> Column:
    """The 8-bit MinHash sketch of a ``signature`` array<long> column:
    array<tinyint>, one entry per permutation, each the low 8 bits of
    that minimum (b-bit minwise hashing, Li & König, WWW 2010).  The
    single definition of the sketch — the pipeline's stored 04 column
    and the estimate prefilter of ``verify_pairs_jaccard`` both derive
    it here, so a sketch from the store and one from a fresh signature
    always compare entry for entry.  Equal minima give equal entries,
    so the sketch's agreement count is never below the signature's.
    The low byte maps bijectively onto the tinyint range by shifting
    it down by 128: a plain cast of 128..255 overflows under ANSI."""
    return F.transform(
        signature, lambda x: (x.bitwiseAND(F.lit(255)) - F.lit(128)).cast("tinyint")
    )


def lsh_candidate_pairs(
    signatures: DataFrame | None,
    bands: int = hashing.DEFAULT_BANDS,
    max_bucket_size: int | None = 1000,
    observation=None,
    buckets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Banded LSH: signature -> band bucket keys -> bucket self-join.

    Returns (pairs, dropped_buckets): pairs is distinct (doc_a, doc_b)
    with doc_a < doc_b; dropped_buckets accounts for buckets over
    ``max_bucket_size`` (hub boilerplate) that were excluded rather
    than silently exploding the join quadratically.

    ``buckets`` (optional): precomputed (doc_id, band_key) membership
    rows — e.g. exploded from the fused fingerprint frame's stored
    ``bands`` column, which skips the band-hash Python pass entirely;
    ``signatures`` may then be None.
    """
    if buckets is None:
        buckets = band_buckets(signatures, bands)
    pairs = bucket_pair_explode(
        buckets, "band_key", max_bucket_size, observation=observation
    ).distinct()
    if max_bucket_size is not None:
        sizes = buckets.groupBy("band_key").agg(F.count("*").alias("bucket_size"))
        dropped = sizes.where(F.col("bucket_size") > max_bucket_size)
    else:
        dropped = buckets.groupBy("band_key").agg(
            F.count("*").alias("bucket_size")
        ).where(F.lit(False))
    return pairs, dropped


def verify_pairs_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    signatures: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    estimate_margin: float = 0.2,
    shingle_k: int = hashing.DEFAULT_SHINGLE_K,
    sketches: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs.

    When (doc_id, signature) ``signatures`` or (doc_id, sketch)
    ``sketches`` are supplied, a sketch-agreement estimate (fraction of
    equal sketch entries) prefilters pairs whose estimate falls more
    than ``estimate_margin`` below the threshold, so the expensive text
    rejoin only touches plausible pairs.  Signatures are sketched here
    (``minhash_sketch``).  Returns (doc_a, doc_b, jaccard) for pairs
    with jaccard >= threshold.
    """
    if signatures is not None:
        sketches = signatures.select(
            "doc_id", minhash_sketch("signature").alias("sketch")
        )
    if sketches is not None:
        # The estimate only needs per-position EQUALITY of the minima,
        # which their low bytes keep: equal minima give equal entries,
        # so the estimate can only RISE on a byte collision (1/256 per
        # unequal position) -> the prefilter passes a superset of the
        # 64-bit estimate's pairs -> the exact-Jaccard verify below
        # yields the same output rows.  A sketch is an eighth of the
        # signature's bytes in the estimate join and its pair-
        # reassembly aggregation (on a 4,000-page corpus's 1,665 LSH
        # candidates the 64-bit estimate passed 1,449 pairs and the
        # sketch 1,450).
        est = attach_pair_payloads(
            pairs, sketches, "doc_id", "sketch", "sk_a", "sk_b"
        ).withColumn(
            "est_jaccard",
            F.aggregate(
                F.zip_with("sk_a", "sk_b", lambda a, b: (a == b).cast("int")),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size("sk_a"),
        )
        pairs = est.where(
            F.col("est_jaccard") >= F.lit(threshold - estimate_margin)
        ).select("doc_a", "doc_b")

    jaccard_udf = hashing.make_jaccard_udf(shingle_k=shingle_k)
    paired = attach_pair_payloads(pairs, docs, id_col, text_col, "text_a", "text_b")
    # co-partition by doc_a: a document's pairs land together, so the
    # per-batch shingle cache in the Jaccard kernel actually hits
    paired = paired.repartition(
        paired.sparkSession.sparkContext.defaultParallelism, "doc_a"
    )
    verified = (
        paired.withColumn("jaccard", jaccard_udf("text_a", "text_b"))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    "(doc_id, simhash long) via the numpy SimHash kernel."
    udf = hashing.make_simhash_udf()
    # hash-spread on the unique id — see minhash_signatures
    source = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    return source.select(
        F.col(id_col).alias("doc_id"), udf(F.col(text_col)).alias("simhash")
    )


def simhash_block_keys(
    fingerprints: DataFrame, max_hamming: int = 3, n_blocks: int = 6
) -> DataFrame:
    """(doc_id, simhash, block_key) — one row per Manku block-subset
    key (C(n_blocks, n_blocks - max_hamming) keys per doc), all native
    bit/hash expressions.  Shared by the batch self-join path and the
    incremental new-vs-store path (operators/incremental.py), which
    must derive IDENTICAL keys for both sides to meet in a bucket."""
    from itertools import combinations

    if n_blocks <= max_hamming:
        raise ValueError("n_blocks must exceed max_hamming")
    subset = n_blocks - max_hamming
    width = 64 // n_blocks
    block_cols = [
        F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
            F.lit((1 << width) - 1) if i < n_blocks - 1 else F.lit((1 << (64 - i * width)) - 1)
        )
        for i in range(n_blocks)
    ]
    keys = [
        F.xxhash64(F.lit(combo_id), *[block_cols[i] for i in combo])
        for combo_id, combo in enumerate(combinations(range(n_blocks), subset))
    ]
    return fingerprints.select(
        "doc_id",
        F.col("simhash"),
        F.explode(F.array(*keys)).alias("block_key"),
    )


def simhash_candidate_pairs(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = 1000,
    n_blocks: int = 6,
) -> DataFrame:
    """Fuzzy-duplicate candidates within `max_hamming` bits.

    Block-combination bucketing (Manku et al., WWW'07): split the 64
    bits into ``n_blocks`` blocks; at most ``max_hamming`` blocks can
    be touched, so near-duplicates agree on some
    (n_blocks - max_hamming)-subset of blocks.  Keying on the hash of
    every such subset (C(6,3)=20 keys per doc at the defaults) gives
    ~32+ bits of bucket entropy — unlike single-block keys (16 bits),
    bucket occupancy stays O(true duplicates) as the corpus grows, so
    the self-join does not go quadratic at web scale.  Pairs are
    confirmed with an exact popcount on the XOR (native bit ops).
    """
    fp = simhash_block_keys(fingerprints, max_hamming, n_blocks)
    pairs = bucket_pair_explode(
        fp,
        "block_key",
        max_bucket_size,
        payload_col="simhash",
        out_payload=("fp_a", "fp_b"),
    )
    return (
        pairs.distinct()
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = hashing.DEFAULT_SHINGLE_K,
    threshold: float = 0.5,
) -> DataFrame:
    """Brute-force n-gram Jaccard via shingle explode + self-join —
    the exact ground truth the probabilistic paths are measured
    against (and the DuckDB-oracle-checkable formulation).
    Built entirely from native functions: sequence/transform/explode.
    """
    shingled = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(
                            F.length(F.col(text_col)) - F.lit(shingle_k - 1), F.lit(1)
                        ),
                    ),
                    lambda i: F.col(text_col).substr(i, F.lit(shingle_k)),
                )
            )
        ).alias("shingle"),
    )
    counts = shingled.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    joined = (
        shingled.alias("a")
        .join(shingled.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        joined.join(
            counts.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a")),
            "doc_a",
        )
        .join(
            counts.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def keep_representatives(
    docs: DataFrame,
    assignments: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The pipeline's consumable: one surviving row per cluster — the
    representative (cluster_id == its min member id, so the filter is
    a plain column equality, no window/agg over members) — annotated
    with ``cluster_size``.  Singletons survive with size 1.  One hash
    aggregation for the sizes, one equi-join back to the docs; both
    shuffle on keys AQE can handle."""
    sizes = assignments.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    reps = assignments.where(F.col(id_col) == F.col("cluster_id"))
    return (
        docs.join(reps.select(id_col), id_col)
        .join(
            sizes.withColumnRenamed("cluster_id", id_col), id_col
        )
    )


def cluster_assignments(
    docs: DataFrame,
    verified_pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
) -> DataFrame:
    """Assign every document a cluster id (= min doc id reachable via
    verified duplicate pairs); documents without duplicates form
    singleton clusters.

    Components resolve through the bounded fast path (cc.py): a
    verified-pair graph under ~200k edges — every bench/test scale,
    and any corpus whose duplicate evidence is sparse — is collected
    once and solved with driver-local union-find instead of paying
    ~0.5s of scheduling floor per star round; bigger graphs take the
    distributed algorithm with identical labels."""
    components = connected_components_bounded(
        verified_pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        max_iterations=max_iterations,
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(components.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("component", "doc_id"))
        .select("doc_id", "cluster_id")
    )
