"""Iterative connected components (large-star / small-star).

DataFrame-only implementation of the alternating star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14), per the north rule (/root/repo/BASELINE.json:6,14):
self-joins with checkpointed lineage, O(log n) rounds expected.

Scale/serial-term design (round 2):
* each star step is ONE shuffle: the per-src minimum comes from a
  window aggregate over the src partitioning instead of a
  groupBy+join pair, so the self-join disappears from the plan;
* convergence detection rides the localCheckpoint materialization via
  ``observe()`` — the edge-count + order-insensitive bit_xor signature
  are collected on the same job that cuts the lineage, so the fixpoint
  loop costs zero extra actions per round (the round-1 design paid one
  ``agg().first()`` job per round, a pure driver-serial term).

Contract: input is an edge list (src, dst); output assigns every node
appearing in the edge list to component id = the minimum node id in
its component.  Singleton handling (nodes with no edges) is the
caller's job — see operators.dedup.cluster_assignments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    # for each u: m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    w = Window.partitionBy("src")
    m = F.least(F.min("dst").over(w), F.col("src"))
    # no distinct here: duplicates don't change the per-src minima the
    # following small-star computes, and its trailing distinct dedups
    # the round's output — one shuffle per round saved
    return (
        sym.withColumn("m", m)
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient edges toward smaller ids: (u, v) with v < u
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    w = Window.partitionBy("src")
    withm = oriented.withColumn("m", F.min("dst").over(w))
    # emit (v, m) for each small neighbor v, plus (u, m)
    out = withm.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        withm.select(F.col("src"), F.col("m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    checkpoint_every: int = 1,
    check_from_iteration: int = 1,
) -> DataFrame:
    """Resolve components over an undirected edge list.

    Returns DataFrame(node long, component long) for every node that
    appears in `edges`; component = min node id of the component.
    Lineage is cut with localCheckpoint each round so the loop's plan
    stays bounded (north-rule requirement: checkpointed lineage).

    Fixpoint test: the edge multiset is stable under a cheap signature
    (count + bit_xor of xxhash64 — overflow-free under ANSI mode and
    order-insensitive), observed on the checkpoint job itself.
    Duplicate-cluster graphs (near-cliques from bucket joins) need 2-3
    star rounds, so the probe only starts at `check_from_iteration`.
    """
    current = (
        edges.selectExpr("cast(src as long) src", "cast(dst as long) dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )

    prev_sig = None
    for iteration in range(max_iterations):
        stepped = _small_star(_large_star(current))
        obs = None
        if iteration + 1 >= check_from_iteration:
            obs = Observation(f"cc_sig_{iteration}")
            stepped = stepped.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
            )
        if iteration % checkpoint_every == 0 or obs is not None:
            stepped = stepped.localCheckpoint()
        current = stepped
        if obs is not None:
            row = obs.get
            next_sig = (row["n"], row["h"])
            if next_sig == prev_sig:
                break
            prev_sig = next_sig

    # after convergence every edge points node -> component root;
    # roots themselves appear only as dst
    assignments = current.select(
        F.col("src").alias("node"), F.col("dst").alias("component")
    )
    # no distinct on roots: the final groupBy collapses duplicates
    # anyway — one shuffle wave saved on the critical path
    roots = current.select(F.col("dst").alias("node")).withColumn(
        "component", F.col("node")
    )
    return (
        assignments.unionByName(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def connected_components_bounded(
    edges: DataFrame,
    max_local_edges: int = 200_000,
    max_iterations: int = 25,
) -> DataFrame:
    """connected_components with a driver-local fast path for SMALL
    graphs: when the edge list fits under ``max_local_edges`` it is
    collected once and resolved with union-find in microseconds,
    skipping the star rounds whose per-round scheduling floor
    (~0.5-1s each, ~5+ rounds) dominates a small graph's wall time.

    Built for the incremental merge: a delta's affected subgraph is
    delta-sized by construction, so the daily-ingest path stops paying
    corpus-CC latencies for a few thousand edges (measured: the merge
    stage was 5.2s of a 12.2s delta run, almost all star-round floor).
    Larger graphs fall back to the distributed algorithm — the bounded
    collect is one action on an edge frame the caller was about to
    iterate over anyway, and the IVF-style driver bound keeps memory
    deterministic (~16 bytes/edge).  Labels are identical by
    construction: component = min node id, the distributed contract.

    The distinct edge list is cached for the call only: its cache
    fills inside the bounded collect (cached blocks are built whole,
    so any observe() metrics riding the edges fire complete on that
    one job), the distributed fallback reads it instead of re-running
    an upstream verify DAG, and it is released before returning.  The
    fast path leaves nothing cached behind.
    """
    edges_ck = (
        edges.selectExpr("cast(src as long) src", "cast(dst as long) dst")
        .where(F.col("src") != F.col("dst"))
        # distinct BEFORE the bounded collect: the cap gates on the
        # DISTINCT graph size, same as the distributed path's own
        # dedup — a duplicate-heavy edge list whose distinct graph is
        # small must not spuriously fall back to the slow path, and
        # the driver must not collect rows it doesn't need (r4 ADVICE)
        .distinct()
        .persist()
    )
    try:
        # Arrow transfer, not collect(): row-by-row pickling of up to
        # 200k Row objects cost ~1 s at the bench's 81k-edge graph;
        # toPandas rides the Arrow channel (enabled session-wide) and
        # hands back two int64 columns
        pdf = edges_ck.limit(max_local_edges + 1).toPandas()
        if len(pdf) > max_local_edges:
            # every round checkpoints, so the result does not read
            # edges_ck once this returns
            return connected_components(edges_ck, max_iterations=max_iterations)
    finally:
        edges_ck.unpersist(blocking=False)

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    data = [(node, find(node)) for node in parent]
    spark = edges.sparkSession
    if not data:
        return spark.createDataFrame([], "node long, component long")
    # The labels cross to the JVM once, over Arrow, and are re-based
    # on an RDD there: downstream actions read its partitions instead
    # of a driver-side relation (measured: stage 09_assignments 1.1s ->
    # 9.1s when the 120k-page cluster graph's labels rode a pickled
    # LocalRelation).  An RDD-backed frame carries no size estimate, so
    # its joins would plan shuffles; the broadcast hint keeps them
    # map-side — the fast path holds at most ~2 x max_local_edges
    # labels, ~6 MB at the default bound.
    import pandas as pd

    arrow = spark.createDataFrame(
        pd.DataFrame(data, columns=["node", "component"]).astype("int64")
    )
    rdd_backed = spark._jsparkSession.createDataFrame(
        arrow._jdf.javaRDD(), arrow._jdf.schema()
    )
    return F.broadcast(DataFrame(rdd_backed, spark))
