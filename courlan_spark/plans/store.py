"""The fingerprint store: what a store workdir holds, how it is written
and how a chain of them is read.

A ``snapshot_mode="all"`` run leaves a workdir a later delta run can
join against: the ``TABLES`` snapshots plus the run's ``config.json``.
A chain is a base run's workdir followed by each delta run's, oldest
first.  Docs and fingerprints are the union of every link's; the
cluster table is a fold, the newest full table overlaid with each later
segment (the rows its delta changed).  A delta over a store that chains
``SEGMENT_BOUND`` segments writes the merged table in full instead (a
compaction, which restarts the fold).  ``DedupPipeline`` asks this
module how to lay out a snapshot write, what a delta writes as its
cluster table, and what a run's merged cluster table is.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.incremental import overlay
from ..sources.tables import has_snapshot, is_segment, mark_segment, read_snapshot


@dataclass(frozen=True)
class Table:
    "One snapshot a store workdir holds."

    stage: str                  # its snapshot directory under the workdir
    kind: str                   # what its rows are, as a refusal names them
    columns: tuple[str, ...]    # the columns a store reads, in written order
    key: str | None = None      # the sort and Bloom-filter column of its writes
    segment: bool = False       # a delta run may write it as a segment


# A later delta run scans the keyed tables selectively, so they are
# written range-sorted by their key (file skipping via footer min/max
# for the candidate-id predicates the delta verify pushes; the Iceberg
# sorted-write-order analog, see tables.write_snapshot) AND carry a
# parquet Bloom filter on it (row-group point skipping inside surviving
# files).  04 keeps the MinHash signature only as its 8-bit sketch.
DOCS = Table("02_url_dedup", "url-unique doc",
             ("doc_id", "norm_url", "domain", "warc_ts", "text", "lang", "n_copies"), key="doc_id")
FINGERPRINTS = Table("04_fingerprints", "fused fingerprint",
                     ("doc_id", "sketch", "simhash", "winnow", "bands", "text_hash"), key="doc_id")
ASSIGNMENTS = Table("09_assignments", "cluster",
                    ("doc_id", "norm_url", "domain", "cluster_id"), segment=True)
TABLES = (DOCS, FINGERPRINTS, ASSIGNMENTS)

# segments a store's cluster table may chain before a delta run writes
# the merged table in full (a compaction, which restarts the fold).
# Sized by a probe (2,700-doc base store, 300-page deltas, local[4] on
# a 4-core host): one read of the chained table took 0.04-0.14 s with
# no segment and 0.42-0.47 s with 6-8, about 0.05 s a segment, and the
# 09 leg reads it once; a compaction's 09 stage took 2.8 s and wrote
# 0.14 MB against 1.0-1.9 s and 0.02 MB for a segment.  Over a cycle of
# B deltas that costs about 0.05 * B / 2 s of reads per delta plus 1/B
# of a compaction's extra ~1 s: flat from B = 4 to 10, and 8 halves
# the compaction bytes of 4.  Unpersisted, each read re-ran the
# overlays: the 09 leg took 1.7 s at 0 segments and 10.8 s at 8.
SEGMENT_BOUND = 8

# rows one part file of an unkeyed snapshot (08_evidence, a 09 segment)
# holds before the write splits into more files.  Without a bound the
# write keeps the frame's shuffle partitions: a 300-page delta wrote its
# 08 as 10 files and its 09 segment as 9, most of their bytes footers.
# A million of these rows is ~10-40 MB of zstd parquet.
FILE_ROWS = 1_000_000


def _sized_for(df: DataFrame, rows: int) -> DataFrame:
    "``df`` in one partition per FILE_ROWS of ``rows``."
    return df.coalesce(max(1, -(-rows // FILE_ROWS)))


def snapshot_write(stage: str, df: DataFrame, rows: int) -> tuple[DataFrame, dict]:
    """The frame and ``write_snapshot`` options of a snapshot write of
    ``stage`` (``rows`` rows): a keyed table sorted by its key, with a
    Bloom filter sized by ``rows`` (the key is unique per row), any other
    snapshot in one file per FILE_ROWS."""
    key = next((t.key for t in TABLES if t.stage == stage), None)
    if key is None:
        return _sized_for(df, rows), {}
    return df, {"order_by": [key], "bloom_cols": [key], "bloom_ndv": max(rows, 1)}


def _fold(view: DataFrame, table: DataFrame, segment: bool) -> DataFrame:
    """One chain link's cluster table folded onto the chain's ``view``:
    a segment overlays it, a full table replaces it."""
    return overlay(view, table) if segment else table


def write_config(workdir: str, config) -> None:
    """Record a run's DedupConfig (``config``) in its workdir, for a later
    delta run's ``FingerprintStore.check_config``."""
    with open(os.path.join(workdir, "config.json"), "w") as fh:
        json.dump(vars(config), fh)


@dataclass
class FingerprintStore:
    """The persisted state an incremental (delta-batch) run joins
    against: the url-unique corpus, its fused fingerprints and its
    cluster table, loaded from the workdirs of snapshot_mode="all" runs."""

    docs: DataFrame          # DOCS.columns
    fingerprints: DataFrame  # FINGERPRINTS.columns
    assignments: DataFrame   # ASSIGNMENTS.columns: the merged cluster table
    # the DedupConfig (as a dict) the store was built with, loaded from
    # the workdir's config.json; None only for stores assembled by hand
    config: dict | None = None
    # how many delta segments ``assignments`` overlays on the newest
    # full cluster table of the chain
    segments: int = 0

    # fields that determine bucket/block keys and which docs enter the
    # store — a delta run with different values would silently miss
    # duplicates (keys disagree), so check_config raises instead
    KEY_FIELDS = (
        "num_perm", "shingle_k", "seed", "bands",
        "min_tokens", "max_tokens", "min_alpha_ratio",
    )

    @classmethod
    def _key_diff(cls, ours: dict, theirs: dict) -> dict:
        "KEY_FIELDS on which two configs disagree, as (ours, theirs) pairs."
        return {
            k: (ours.get(k), theirs.get(k))
            for k in cls.KEY_FIELDS
            if ours.get(k) != theirs.get(k)
        }

    def check_config(self, cfg) -> None:
        """Raise when ``cfg`` (a DedupConfig) disagrees with the store's
        recorded config on any key-affecting field.  A store without a
        recorded config (built before config.json existed, or assembled
        by hand) passes with no check — the caller owns the invariant."""
        if self.config is None:
            return
        mismatches = self._key_diff(self.config, vars(cfg))
        if mismatches:
            raise ValueError(
                "incremental config disagrees with the fingerprint "
                f"store's on key-affecting fields {mismatches} "
                "(store value, run value) — band/block keys would not "
                "line up and duplicates would be silently missed; "
                "re-build the store or match its config"
            )

    @classmethod
    def from_workdir(cls, spark: SparkSession, workdir: str) -> "FingerprintStore":
        "The store of one completed full run."
        return cls.from_workdirs(spark, workdir)

    @classmethod
    def _load(cls, spark: SparkSession, workdir: str) -> tuple["FingerprintStore", bool]:
        """One workdir's snapshots as a store, and whether its cluster
        table is a segment (a delta run's changed rows only).  Every
        table must hold its declared columns."""
        frames, segment = [], False
        for table in TABLES:
            path = os.path.join(workdir, table.stage)
            if not has_snapshot(path):
                raise FileNotFoundError(
                    f"store stage {table.stage!r} missing under {workdir} — the "
                    "base run must use snapshot_mode='all'"
                )
            df = read_snapshot(spark, path)
            missing = [c for c in table.columns if c not in df.columns]
            if missing:
                raise ValueError(
                    f"{table.stage} lacks {table.kind} columns {missing} — the "
                    "run that wrote it predates this store format; re-run it"
                )
            frames.append(df.select(*table.columns))
            if table.segment:
                segment = is_segment(spark, path)
        path, config = os.path.join(workdir, "config.json"), None
        if os.path.exists(path):
            with open(path) as fh:
                config = json.load(fh)
        return cls(*frames, config=config), segment

    @classmethod
    def from_workdirs(cls, spark: SparkSession, *workdirs: str) -> "FingerprintStore":
        """Chain stores across batches: the base run's workdir followed
        by each incremental run's, oldest first.  Docs and fingerprints
        are the union of every batch's (immutable, delta-scoped)
        snapshots, and the cluster table is the fold of every link's
        (the module docstring).  A delta workdir without the segment
        marker holds a full table — a compaction, or a delta run from
        before segments — and restarts the fold."""
        if not workdirs:
            raise ValueError("at least one workdir required")
        loaded = [cls._load(spark, w) for w in workdirs]
        if loaded[0][1]:
            raise ValueError(
                f"{workdirs[0]}'s 09_assignments is a delta segment; chain "
                "it after the workdirs it overlays, oldest first"
            )
        stores = [store for store, _ in loaded]
        # chained batches must agree on key fields among themselves too
        configs = [s.config for s in stores if s.config is not None]
        for other in configs[1:]:
            diff = cls._key_diff(configs[0], other)
            if diff:
                raise ValueError(f"chained store workdirs disagree on key fields {diff}")
        docs, fps = stores[0].docs, stores[0].fingerprints
        view, segments = stores[0].assignments, 0
        for s, segment in loaded[1:]:
            docs = docs.unionByName(s.docs)
            fps = fps.unionByName(s.fingerprints)
            view = _fold(view, s.assignments, segment)
            segments = segments + 1 if segment else 0
        return cls(docs, fps, view, configs[0] if configs else None, segments)

    def delta_assignments(self, view: DataFrame, changes: DataFrame, rows: int) -> DataFrame:
        """The cluster table a delta over this store writes: ``changes``
        (the rows it adds or relabels, about ``rows`` of them) as a
        segment, or, once the store chains SEGMENT_BOUND segments,
        ``view`` (the store's cluster table) overlaid with them in full."""
        if self.segments >= SEGMENT_BOUND:
            return overlay(view, changes)
        return _sized_for(changes, rows)

    def mark_assignments(self, spark: SparkSession, workdir: str) -> None:
        """Mark the cluster table a delta over this store committed in
        ``workdir`` as a segment, unless it compacted.  A resumed run marks
        it again: one killed between commit and mark rewrites the marker."""
        if self.segments < SEGMENT_BOUND:
            mark_segment(spark, os.path.join(workdir, ASSIGNMENTS.stage))


def merged_assignments(spark: SparkSession, workdir: str, store: FingerprintStore | None):
    """The merged cluster table a run left in ``workdir``: its 09 as it
    is when that is a full table, or folded onto the cluster table of
    ``store``, the store a delta ran against, when it is a segment."""
    path = os.path.join(workdir, ASSIGNMENTS.stage)
    if not is_segment(spark, path):
        return read_snapshot(spark, path)
    if store is None:
        raise ValueError(
            f"{path} is a delta segment; read the merged table with "
            "FingerprintStore.from_workdirs(spark, <store workdirs>, "
            f"{workdir!r}).assignments"
        )
    return _fold(store.assignments, read_snapshot(spark, path), segment=True)
