"""Deduplication operators: exact (hash-agg), MinHash+LSH, SimHash,
exact-text edges, n-gram Jaccard brute force, and cluster assembly.

All operators are declarative DataFrame compositions: aggregations
are partial+final hash aggregations (map-side combine for free),
joins are equi-joins that AQE can re-plan, and the only Python
boundaries are the numpy fingerprint kernels in functions.hashing.

The MinHash LSH, SimHash and winnowing candidates (and the embedding
buckets in operators/similarity.py) are one operation, a bucketed
self-join over (doc_id, key) rows, and ``bucket_pairs`` is its only
implementation.  Every operator of the pipeline — each candidate
operator, ``verify_pairs_jaccard`` and ``cluster_assignments`` —
takes an optional store side (``old_*``): without one it works on a
whole corpus; with one it works on a delta batch against the store,
pairing and verifying only pairs that touch a new doc and giving only
the cluster rows those pairs change (operators/incremental.py).  The
store-side terms of a plan are built only when a store side is passed.

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
from . import incremental as inc
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


def bucket_pairs(
    rows: DataFrame,
    key_col: str,
    max_bucket_size: int | None,
    *,
    old_rows: DataFrame | None = None,
    prune_old_by_new_keys: bool = False,
    observation=None,
    payload_col: str | None = None,
    out_payload: tuple[str, str] = ("payload_a", "payload_b"),
) -> DataFrame:
    """The engine's bucketed self-join: (doc_a, doc_b[, payloads]) pairs
    of docs sharing a key, over (doc_id[, payload], key) membership rows,
    with doc_a < doc_b.  One shuffle: the members are grouped per key
    (bounded by ``max_bucket_size``) and the pairs expanded with native
    array expressions, where a window+self-join costs a shuffle+sort
    plus a sort-merge join over the same data.

    ``old_rows`` (optional) is the store side: ``rows`` are then a
    delta's members, and only pairs with at least one new side come
    out — new x new plus new x old, never old x old (the base run owns
    those).  The cap counts old+new members, so a pair with a new side
    comes out exactly when a run over the union gives it.  Buckets
    without a new member are pruned on the membership rows by a
    windowed new-member count sharing the exchange, so the store's
    buckets never materialize as arrays unless a new doc landed in
    them.  Every store-side term (union, new count, ``olds`` list,
    new x old expansion) exists only when ``old_rows`` is passed: a
    call without it, uncapped, is one hash aggregation with no window.

    ``prune_old_by_new_keys`` (guide §3.2, big-side pre-filter): drop
    store rows whose key no delta row carries with a BROADCAST
    semi-join BEFORE the exchange.  Keys are 61-bit hashes, so a store
    row survives essentially only when it truly shares a bucket with
    the delta, and the exchange shrinks from O(store) to O(delta + true
    partners).  Pair output is IDENTICAL: surviving buckets keep every
    old member (the semi-join filters by key, not row), so the old+new
    cap counts are unchanged; only the drop ACCOUNTING stops counting
    over-cap buckets no delta row touches (they could never give a
    pair).  Enable it only when the delta's distinct keys fit a
    broadcast — the pipeline gates it on counted key totals; past that
    bound one exchange of the store rows beats a shuffled semi-join
    plus that same exchange.

    Memory bound: with ``max_bucket_size`` set, oversized buckets are
    pruned on the membership ROWS by a windowed count over the key,
    which shares the aggregation's exchange, BEFORE the collect_list,
    so a hub bucket never materializes as an in-memory array (the
    window sort is spillable; collect_list is not).

    ``observation`` (optional pyspark Observation) records
    dropped_buckets, dropped_rows (member rows in oversized buckets) and
    buckets (those with a new member: every bucket without a store
    side) on the pass itself — no count() job, and the node executes
    exactly once (metrics below a self-join would clone the
    CollectMetrics node and break Observation.get).  Callers passing an
    observation must act on the returned pairs exactly once.
    """
    from pyspark.sql import Window

    if payload_col is None:
        member = F.col("doc_id")
    else:
        member = F.struct(
            F.col("doc_id").alias("id"), F.col(payload_col).alias("pl")
        )
    win = Window.partitionBy(key_col)
    # "news" holds the new members: every member without a store side
    if old_rows is None:
        lists = [F.array_sort(F.collect_list(member)).alias("news")]
        active = F.lit(True)
    else:
        if prune_old_by_new_keys:
            new_keys = rows.select(key_col).distinct()
            old_rows = old_rows.join(F.broadcast(new_keys), key_col, "left_semi")
        cols = ["doc_id", key_col] + ([payload_col] if payload_col else [])
        rows = rows.select(*cols, F.lit(True).alias("_new")).unionByName(
            old_rows.select(*cols, F.lit(False).alias("_new"))
        ).withColumn("_nnew", F.sum(F.col("_new").cast("long")).over(win))
        lists = [
            F.array_sort(F.collect_list(F.when(F.col("_new"), member))).alias("news"),
            F.collect_list(F.when(~F.col("_new"), member)).alias("olds"),
        ]
        active = F.col("_nnew") >= 1
    windowed = old_rows is not None or max_bucket_size is not None
    if windowed:
        rows = rows.withColumn("_bsz", F.count(F.lit(1)).over(win))
        over = (
            (F.col("_bsz") > max_bucket_size)
            if max_bucket_size is not None
            else F.lit(False)
        )
        if observation is not None:
            rows = rows.withColumn(
                "_first", F.row_number().over(win.orderBy("doc_id")) == 1
            ).observe(
                observation,
                F.sum((over & F.col("_first")).cast("long")).alias("dropped_buckets"),
                F.sum(over.cast("long")).alias("dropped_rows"),
                F.sum((F.col("_first") & active).cast("long")).alias("buckets"),
            )
        rows = rows.where((F.col("_bsz") >= 2) & active & ~over)
    grouped = rows.groupBy(key_col).agg(*lists)
    if not windowed:
        if observation is not None:
            grouped = grouped.observe(
                observation,
                F.sum(F.lit(0).cast("long")).alias("dropped_buckets"),
                F.sum(F.lit(0).cast("long")).alias("dropped_rows"),
                F.count(F.lit(1)).alias("buckets"),
            )
        grouped = grouped.where(F.size("news") >= 2)
    # new x new: i<j over the sorted array, so a <= b by construction
    expanded = F.flatten(
        F.transform(
            "news",
            lambda x, i: F.transform(
                F.slice(F.col("news"), i + F.lit(2), F.size(F.col("news"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    if old_rows is not None:
        expanded = F.concat(
            expanded,
            F.flatten(
                F.transform(
                    "news",
                    lambda x: F.transform(
                        "olds", lambda y: F.struct(x.alias("a"), y.alias("b"))
                    ),
                )
            ),
        )
    pairs = grouped.select(F.explode(expanded).alias("p"))
    a, b = F.col("p.a"), F.col("p.b")
    a_id, b_id = (a, b) if payload_col is None else (a["id"], b["id"])
    # only a new x old pair can come out reversed
    flip = (a_id > b_id) if old_rows is not None else F.lit(False)
    out = [
        F.when(flip, b_id).otherwise(a_id).alias("doc_a"),
        F.when(flip, a_id).otherwise(b_id).alias("doc_b"),
    ]
    if payload_col is not None:
        out += [
            F.when(flip, b["pl"]).otherwise(a["pl"]).alias(out_payload[0]),
            F.when(flip, a["pl"]).otherwise(b["pl"]).alias(out_payload[1]),
        ]
    # != also drops self-pairs from a doc landing twice in one bucket
    # (possible under key collisions across bands)
    return pairs.where(a_id != b_id).select(*out)


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
    definition of the band key — a full run and a delta's store side
    both derive keys here, so two signatures always meet in the same
    bucket regardless of mode."""
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
    old_signatures: DataFrame | None = None,
    old_buckets: DataFrame | None = None,
    prune_old_by_new_keys: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Banded LSH: signature -> band bucket keys -> bucket self-join.

    Returns (pairs, dropped_buckets): pairs is distinct (doc_a, doc_b)
    with doc_a < doc_b; dropped_buckets accounts for buckets over
    ``max_bucket_size`` (hub boilerplate) that were excluded rather
    than silently exploding the join quadratically.

    ``buckets`` (optional): precomputed (doc_id, band_key) membership
    rows — e.g. exploded from the fused fingerprint frame's stored
    ``bands`` column, which skips the band-hash Python pass entirely;
    ``signatures`` may then be None.  ``old_signatures`` /
    ``old_buckets`` are a store side the same way: only pairs with at
    least one new side come out (``bucket_pairs``).
    """
    if buckets is None:
        buckets = band_buckets(signatures, bands)
    if old_buckets is None and old_signatures is not None:
        old_buckets = band_buckets(old_signatures, bands)
    pairs = bucket_pairs(
        buckets,
        "band_key",
        max_bucket_size,
        old_rows=old_buckets,
        prune_old_by_new_keys=prune_old_by_new_keys,
        observation=observation,
    ).distinct()
    members = buckets if old_buckets is None else buckets.unionByName(old_buckets)
    sizes = members.groupBy("band_key").agg(F.count("*").alias("bucket_size"))
    dropped = sizes.where(
        (F.col("bucket_size") > max_bucket_size)
        if max_bucket_size is not None
        else F.lit(False)
    )
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
    old_docs: DataFrame | None = None,
    old_sketches: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs.

    When (doc_id, signature) ``signatures`` or (doc_id, sketch)
    ``sketches`` are supplied, a sketch-agreement estimate (fraction of
    equal sketch entries) prefilters pairs whose estimate falls more
    than ``estimate_margin`` below the threshold, so the expensive text
    rejoin only touches plausible pairs.  Signatures are sketched here
    (``minhash_sketch``).  Returns (doc_a, doc_b, jaccard) for pairs
    with jaccard >= threshold.

    ``old_docs`` / ``old_sketches`` (optional) are a store side: the
    pairs' partners among them join the delta's ``docs`` / sketches.
    One bounded collect of the pairs' ids prunes both store scans
    (incremental.prune_store_by_ids), so only candidate partners are
    read; the payload attach then broadcasts the (small) pair set, and
    only matched store rows shuffle.
    """
    if signatures is not None:
        sketches = signatures.select(
            "doc_id", minhash_sketch("signature").alias("sketch")
        )
    if old_docs is not None or old_sketches is not None:
        ids = inc.collect_pair_ids(pairs)
        if old_docs is not None:
            docs = inc.with_store_rows(docs.select(id_col, text_col), old_docs, ids, id_col)
        if old_sketches is not None:
            sketches = inc.with_store_rows(sketches, old_sketches, ids)
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
    bit/hash expressions.  The single definition of the block key: a
    delta and its store side derive IDENTICAL keys here, so both sides
    meet in a bucket."""
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
    old_fingerprints: DataFrame | None = None,
    prune_old_by_new_keys: bool = False,
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
    ``old_fingerprints`` (optional) is a store side of (doc_id,
    simhash) rows: only pairs with at least one new side come out.
    """
    pairs = bucket_pairs(
        simhash_block_keys(fingerprints, max_hamming, n_blocks),
        "block_key",
        max_bucket_size,
        old_rows=(
            None
            if old_fingerprints is None
            else simhash_block_keys(old_fingerprints, max_hamming, n_blocks)
        ),
        prune_old_by_new_keys=prune_old_by_new_keys,
        payload_col="simhash",
        out_payload=("fp_a", "fp_b"),
    )
    return (
        pairs.distinct()
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def exact_text_pairs(
    hashes: DataFrame, old_hashes: DataFrame | None = None
) -> DataFrame:
    """Exact-text evidence edges over (doc_id, text_hash) rows: every
    doc pairs to its hash group's representative, the group's min
    doc_id.  ``old_hashes`` (optional) is a store side: a hash the
    store knows takes the store's min as representative, and only the
    new docs get edges.  That edge set differs from one run over the
    union only in shape, never in connectivity: old docs sharing the
    hash are already clustered by the base run, so linking new docs to
    ANY old member yields the same transitive closure.  The store side
    is a plain aggregation over stored hashes — no old text is read."""
    reps = hashes.groupBy("text_hash").agg(F.min("doc_id").alias("rep"))
    if old_hashes is not None:
        old_reps = old_hashes.groupBy("text_hash").agg(
            F.min("doc_id").alias("old_rep")
        )
        reps = reps.join(old_reps, "text_hash", "left").select(
            "text_hash", F.coalesce("old_rep", "rep").alias("rep")
        )
    return (
        hashes.join(reps, "text_hash")
        .where(F.col("doc_id") != F.col("rep"))
        .select(
            F.least("rep", "doc_id").alias("doc_a"),
            F.greatest("rep", "doc_id").alias("doc_b"),
        )
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
    old_assignments: DataFrame | None = None,
) -> DataFrame:
    """Assign every document a cluster id (= min doc id reachable via
    verified duplicate pairs); documents without duplicates form
    singleton clusters.  Returns (doc_id, cluster_id).

    Components resolve through the bounded fast path (cc.py): a
    verified-pair graph under ~200k edges — every bench/test scale,
    and any corpus whose duplicate evidence is sparse — is collected
    once and solved with driver-local union-find instead of paying
    ~0.5s of scheduling floor per star round; bigger graphs take the
    distributed algorithm with identical labels.

    ``old_assignments`` (optional) is a store side: an existing cluster
    table (doc_id, cluster_id, ...) over the store's docs.  ``docs``
    (doc_id plus that table's other columns, which carry through) are
    then a delta's new docs, and the output is the rows the new pairs
    change, in ``old_assignments``' column order: every new doc with
    its label, plus every old doc whose label moved.
    ``incremental.overlay(old_assignments, <output>)`` is the merged
    table.  Components then run over the AFFECTED clusters only: those
    holding a pair endpoint add their (cluster_id, doc_id) membership
    edges to the pairs, so a new doc bridging two old clusters merges
    them at the min label, and the cost scales with the delta's blast
    radius, not the corpus.  The labels equal one full run's: an
    affected cluster's members all enter the subgraph, its old label
    is already their min doc_id, and every other old doc keeps its
    label.  The store-side terms (the semi-joins, membership edges and
    moved labels) are built only when ``old_assignments`` is passed."""
    edges = verified_pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    if old_assignments is not None:
        endpoints = verified_pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
        affected = (
            old_assignments.join(endpoints, "doc_id", "left_semi")
            .select("cluster_id")
            .distinct()
        )
        scoped = old_assignments.join(affected, "cluster_id", "left_semi")
        edges = scoped.where(F.col("cluster_id") != F.col("doc_id")).select(
            F.col("cluster_id").alias("src"), F.col("doc_id").alias("dst")
        ).unionByName(edges)
    components = connected_components_bounded(
        edges, max_iterations=max_iterations
    ).withColumnRenamed("node", "doc_id")

    def labelled(frame: DataFrame, columns: list[str]) -> DataFrame:
        return (
            frame.join(components, "doc_id", "left")
            .withColumn("cluster_id", F.coalesce("component", "doc_id"))
            .select(*columns)
        )

    if old_assignments is None:
        return labelled(docs.select(F.col(id_col).alias("doc_id")), ["doc_id", "cluster_id"])
    columns = old_assignments.columns
    moved = (
        old_assignments.join(components, "doc_id")
        .where(F.col("component") != F.col("cluster_id"))
        .withColumn("cluster_id", F.col("component"))
        .select(*columns)
    )
    return moved.unionByName(labelled(docs, columns))
