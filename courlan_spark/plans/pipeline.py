"""End-to-end near-duplicate pipeline with snapshot checkpoints.

    pages ──check_url UDF──> canonical urls
          ──exact URL dedup (hash-agg)─────────> survivors
          ──exact text dedup (md5 groups)──────> pair evidence
          ──MinHash ─ LSH ─ Jaccard verify─────> pair evidence
          ──SimHash (hamming ≤ 3)──────────────> pair evidence
          ──winnowing + substring verify───────> pair evidence
          ──connected components───────────────> cluster table

The URL dedup is not salted: map-side partial aggregation already
cuts a hub key to one row per map task (PLANS.md, hub-skew stress).

``run`` (a whole corpus) and ``run_incremental`` (a delta batch
against a ``FingerprintStore``, whose format plans/store.py owns)
execute one stage graph; every leg calls one operator, handing it the
store's side of its input in a delta run.  Each stage declares how a
run materializes it in each ``snapshot_mode`` (``Plan``).  In "all"
mode every durable stage writes a parquet snapshot under ``workdir``
and is skipped on resume when its `_SUCCESS` marker exists — the
sandbox realization of Iceberg snapshot checkpoints (north rule; the
writer is isolated in ``_write_snapshot`` so an Iceberg ``writeTo``
drops in unchanged).  "minimal" mode writes only the final
assignments, so a delta run, whose workdir is the next chain link,
refuses it.  Per-stage metrics (rows, seconds, partitions) are
returned and appended to ``workdir/metrics.json``; a failed run
appends the stage it failed in.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.url_udfs import make_check_url_udf
from ..operators import dedup, suffix
from ..operators.fingerprints import fused_fingerprints
from ..sources.tables import has_snapshot as _has_snapshot
from ..sources.tables import read_snapshot as _read_snapshot
from ..sources.tables import snapshot_bytes as _snapshot_bytes
from ..sources.tables import write_snapshot as _write_snapshot
from .store import ASSIGNMENTS, DOCS, FINGERPRINTS, FingerprintStore
from .store import merged_assignments, snapshot_write, write_config


@dataclass
class DedupConfig:
    strict: bool = False
    language: str | None = None
    num_perm: int = 128
    shingle_k: int = 9
    bands: int = 32
    jaccard_threshold: float = 0.6
    simhash_max_hamming: int = 3
    substring_min_len: int = 63
    max_bucket_size: int = 2000
    with_substring_stage: bool = True
    # optional pre-fingerprint corpus gate (training-data curation):
    # docs outside [min_tokens, max_tokens] or below min_alpha_ratio
    # leave the corpus before any fingerprint work; None disables each
    # bound.  Kept rows are observed (no silent drops); the gate is
    # per-row deterministic, so incremental runs stay equal to full
    # re-runs with the same bounds.
    min_tokens: int | None = None
    max_tokens: int | None = None
    min_alpha_ratio: float | None = None
    seed: int = 42
    # "all": every stage is a resumable parquet snapshot (durable runs,
    # the Iceberg-checkpoint analog).  "minimal": only multiply-consumed
    # intermediates persist in memory and only the final assignments
    # snapshot to parquet — fewer driver barriers, better scaling when
    # stage outputs are small relative to job overhead (``run`` only).
    snapshot_mode: str = "all"


# distinct delta keys a broadcast store pre-filter may carry:
# 8M 8-byte keys ~ 64 MB of broadcast
BROADCAST_KEY_BUDGET = 8_000_000


def _name_failure(exc: BaseException, stage: str) -> None:
    "Record the stage a failure came from; an inner stage's name wins."
    if not hasattr(exc, "pipeline_stage"):
        exc.pipeline_stage = stage


@contextlib.contextmanager
def _failing_as(stage: str):
    try:
        yield
    except BaseException as exc:
        _name_failure(exc, stage)
        raise


def _safe_observation(obs, wait_s: float = 0.0) -> dict:
    """Read an Observation defensively and NON-BLOCKING.

    Two failure modes: (a) when AQE propagates an empty shuffle stage
    upward (e.g. every LSH bucket over the cap on a degenerate corpus),
    the CollectMetrics row can come back without a schema and the row
    decode raises from toPyRow — Spark-side issue; (b) an observed node
    that never EXECUTED (its consumer stage resumed from a snapshot, so
    the build ran but the dataset did not) leaves Observation.get
    blocked forever on the JVM promise — the r6 ephemeral-stage hang.
    getRowOrEmpty() returns an empty Option instead of waiting.

    The row arrives through a query-execution listener, i.e. shortly
    AFTER the action that executed the node returns; ``wait_s`` polls
    up to that long for it, for a caller that reads right after the
    action and knows the node executed."""
    try:
        deadline = time.monotonic() + wait_s
        jopt = obs._jo.getRowOrEmpty()
        while not jopt.isDefined() and time.monotonic() < deadline:
            time.sleep(0.005)
            jopt = obs._jo.getRowOrEmpty()
        if not jopt.isDefined():
            return {"unavailable": "observed node did not execute (resumed?)"}
        from pyspark.serializers import CPickleSerializer

        utils = getattr(
            obs._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"
        )
        row = CPickleSerializer().loads(utils.toPyRow(jopt.get()))
        return dict(row.asDict(recursive=False))
    except Exception as exc:  # noqa: BLE001
        return {"unavailable": str(exc).splitlines()[0][:120]}


# How a run materializes one stage's frame.  A stage declares one level
# per snapshot mode (``Plan``), and the level alone decides what the
# run does with the frame: no other setting changes it.
LAZY = "lazy"              # not at all: consumers inline the plan
PERSIST = "persist"        # persisted; the cache fills in its first consumer's job
COUNT = "count"            # persisted and counted: the cache fills in a job of its own
SNAPSHOT = "snapshot"      # written to parquet; consumers read the snapshot back
BACKGROUND = "background"  # persisted and counted, consumers read the cache; the
                           # snapshot is written on a background thread
# the durable levels: a finished snapshot is read back on resume
DURABLE = (SNAPSHOT, BACKGROUND)


@dataclass(frozen=True)
class Plan:
    "One stage's materialization level in each snapshot mode."

    minimal: str
    all: str


# Lazy in EVERY snapshot mode — for cheap derived frames whose
# durability buys nothing (the canonical frame is a deterministic
# function of the input the next stage re-reads anyway; the substring
# verify folds into the evidence job).  Each such stage was one
# serialized write-job barrier in snapshot_mode="all" — part of the
# measured core-count-independent serial term of the spark-submit
# scaling record.  Resume stays correct: a killed run recomputes the
# frame deterministically inside its durable consumer's build.
EPHEMERAL = Plan(LAZY, LAZY)


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        config: DedupConfig | None = None,
        count_rows: bool = True,
    ):
        self.spark = spark
        self.workdir = workdir
        self.config = config or DedupConfig()
        self.count_rows = count_rows
        self.metrics: list[dict] = []
        # snapshot writes deferred to a background thread (guide §2.6):
        # (stage name, Future) pairs joined by _join_writes() before a
        # run returns — the workdir is complete at return, same as a
        # synchronous write
        self._pending_writes: list[tuple[str, object]] = []
        self._write_pool = None
        # every frame a run persisted, unpersisted when the run ends
        self._persisted: list[DataFrame] = []
        # the row count each counted stage of the current run took
        self._counted: dict[str, int] = {}
        # the store of the last run_incremental: its 09_assignments is
        # a segment over this store's cluster table (assignments())
        self._store: FingerprintStore | None = None
        os.makedirs(workdir, exist_ok=True)

    def _stage(self, name: str, build, resume: bool, plan: Plan) -> DataFrame:
        "Build (or, durable and resumed, read back) one stage as ``plan`` says."
        with _failing_as(name):
            level = plan.minimal if self.config.snapshot_mode == "minimal" else plan.all
            path = os.path.join(self.workdir, name)
            metric = {"stage": name, "materialize": level}
            started = time.time()
            if level in DURABLE and resume and _has_snapshot(path):
                df = _read_snapshot(self.spark, path)
                metric["resumed"] = True
            else:
                df = build()
                if level in DURABLE:
                    metric["resumed"] = False
                if level == SNAPSHOT:
                    _write_snapshot(df, path)
                    metric["bytes"] = _snapshot_bytes(self.spark, path)
                    df = _read_snapshot(self.spark, path)
                    if self.count_rows:
                        metric["rows"] = df.count()
                        metric["partitions"] = df.rdd.getNumPartitions()
                elif level != LAZY:
                    df = self._persist(df)
                if level in (COUNT, BACKGROUND):
                    n_rows = df.count()  # materialize the cache once
                    self._counted[name] = n_rows
                    if self.count_rows:
                        metric["rows"] = n_rows
                if level == BACKGROUND:
                    self._write_in_background(name, df, path, n_rows)
            metric["secs"] = round(time.time() - started, 3)
            self.metrics.append(metric)
            return df

    def _write_in_background(self, name: str, df: DataFrame, path: str, n_rows: int) -> None:
        """The stage's CONSUMERS only need the frame; only the NEXT RUN
        (resume / store chaining) needs the files.  The caller's persist
        + count materialized the data once, so the parquet write — a
        pure read-of-cache + commit job that was a ~1 s serial barrier
        per snapshot stage in the delta profile — runs on a background
        thread and hides under the following stages.  _join_writes()
        blocks before a run returns, so externally the workdir is
        exactly as complete as a synchronous write leaves it, and a
        crash before the join leaves no _SUCCESS marker — resume
        rebuilds the stage, as it would for any interrupted write.  The
        count sizes the write's Bloom filter or files (snapshot_write)."""
        df, options = snapshot_write(name, df, n_rows)
        write = functools.partial(_write_snapshot, df, path, **options)
        if self._write_pool is None:
            self._write_pool = ThreadPoolExecutor(max_workers=2)
        self._pending_writes.append((name, self._write_pool.submit(write)))

    def _append_metrics(self, record: dict) -> None:
        with open(os.path.join(self.workdir, "metrics.json"), "a") as fh:
            fh.write(json.dumps(record, default=str) + "\n")

    def _persist(self, df: DataFrame) -> DataFrame:
        self._persisted.append(df)
        return df.persist()

    def _join_writes(self) -> None:
        """Block on every deferred snapshot write and record how long
        the join actually waited — ~0 when the writes hid under later
        stages, which is the point — and the bytes the write left.
        Every write is waited for before the first failure is
        re-raised."""
        pending, self._pending_writes = self._pending_writes, []
        failure = None
        for name, fut in pending:
            started = time.time()
            try:
                fut.result()
            except Exception as exc:  # noqa: BLE001 — re-raised below
                _name_failure(exc, name)
                failure = failure or exc
                continue
            self.metrics.append(
                {"stage": f"{name}_write_join",
                 "secs": round(time.time() - started, 3),
                 "bytes": _snapshot_bytes(self.spark, os.path.join(self.workdir, name))}
            )
        if self._write_pool is not None:
            self._write_pool.shutdown(wait=True)
            self._write_pool = None
        if failure is not None:
            raise failure

    @contextlib.contextmanager
    def _run_scope(self):
        """Release a run's state however the run ends.  A failed run
        still joins the snapshot writes it started (a write's own
        error does not replace the run's) and appends one metrics line
        naming the stage it failed in, and every frame the run
        persisted is unpersisted without blocking; a successful run
        joined its writes before writing its summary.  Each run records
        its stages in a list of its own: a second run on this object
        neither repeats the first run's stages nor grows its summary."""
        self.metrics = []
        self._pending_writes.clear()
        self._counted.clear()
        try:
            yield
        except BaseException as exc:
            with contextlib.suppress(Exception):
                self._join_writes()
            with contextlib.suppress(OSError):
                self._append_metrics({
                    "failed_stage": getattr(exc, "pipeline_stage", None),
                    "error": (str(exc).splitlines() or [type(exc).__name__])[0],
                })
            raise
        finally:
            persisted, self._persisted = self._persisted, []
            for df in persisted:
                df.unpersist(blocking=False)

    def _materialize_stages(self, group: dict) -> dict:
        """Materialize several INDEPENDENT stages concurrently (guide
        §2.6: Spark happily runs several jobs at once inside one
        application; actions are only sequential because driver code
        calls them sequentially).  ``group`` maps a name to a callable
        that runs the stage(s) and returns the stage result; the first
        entry is submitted first, so under FIFO scheduling it keeps
        resource priority and the later stages back-fill its stage
        tails.  Exceptions propagate."""
        with ThreadPoolExecutor(max_workers=len(group)) as pool:
            futures = {name: pool.submit(fn) for name, fn in group.items()}
            return {name: f.result() for name, f in futures.items()}

    def _quality_condition(self):
        "AND of the configured quality bounds, or None when unset."
        from ..functions import text as T

        cfg = self.config
        conds = []
        if cfg.min_tokens is not None or cfg.max_tokens is not None:
            toks = T.token_count_col(F.col("text"))
            if cfg.min_tokens is not None:
                conds.append(toks >= cfg.min_tokens)
            if cfg.max_tokens is not None:
                conds.append(toks <= cfg.max_tokens)
        if cfg.min_alpha_ratio is not None:
            n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z]", ""))
            safe = F.greatest(F.length(F.col("text")), F.lit(1)).cast("double")
            conds.append((n_alpha / safe) >= F.lit(cfg.min_alpha_ratio))
        if not conds:
            return None
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        return cond

    def _canonical_frame(self, pages: DataFrame) -> DataFrame:
        cfg = self.config
        check_udf = make_check_url_udf(strict=cfg.strict, language=cfg.language)
        return (
            pages.withColumn("_chk", check_udf(F.col("url")))
            .where(F.col("_chk.norm_url").isNotNull())
            .select(
                F.xxhash64("url", "warc_ts").alias("doc_id"),
                F.col("_chk.norm_url").alias("norm_url"),
                F.col("_chk.domain").alias("domain"),
                "warc_ts",
                "text",
                "lang",
            )
        )

    def run(self, pages: DataFrame, resume: bool = False) -> dict:
        self._store = None
        with self._run_scope():
            return self._run_graph(pages, None, resume)

    def run_incremental(
        self,
        new_pages: DataFrame,
        store: FingerprintStore,
        resume: bool = False,
    ) -> dict:
        """Dedup a DELTA batch against a FingerprintStore and emit the
        MERGED cluster table — the daily-ingest path: the only pass
        over a text column touches the delta (one fused fingerprint
        scan); the store contributes (doc_id, key) bucket rows and, for
        verification, only the partner texts of surviving candidates
        (the pair set broadcasts into the payload join, so only
        matched store rows shuffle).  Old x old pairs are never generated — the
        base run's assignments already encode them and re-enter the
        clustering as membership edges.

        Equivalence to one full run over base ∪ delta (pinned by
        tests/test_incremental.py) holds when (a) the store was built
        with the same DedupConfig, (b) bucket caps do not bind
        differently across the split, and (c) the delta's captures are
        not earlier than the store's for shared norm_urls (this path
        keeps the store's representative: first seen wins).

        The run's workdir is the next chain link (plans/store.py):
        delta-scoped 02/04 snapshots and a 09 segment of the rows the
        delta changed, or a compaction.  ``assignments()`` and the
        summary's ``n_output`` give the merged table.  snapshot_mode=
        "minimal" writes no 02/04, so it raises ValueError here, before
        any Spark job.

        The run right-sizes the session's shuffle width to the DELTA's
        row count, clamp(ceil(rows/1000), 8, session width), and
        restores it after.  A delta job would otherwise inherit the
        session's cluster-wide width, and AQE's partition coalescing
        will not shrink below defaultParallelism
        (coalescePartitions.parallelismFirst=true), so a 12k-row delta
        on a 32-core session runs every stage as 32 ~375-row tasks and
        pays the per-task floor 32x per stage — measured 42s at
        local[32] default vs 24.5s with 16 shuffle partitions (same
        session width; PLANS.md, round-5 decisions).  The count also
        sizes the store-side prune gate and the 09 segment's files."""
        if self.config.snapshot_mode == "minimal":
            raise ValueError(
                "a delta run writes the next store's chain link, so it needs "
                "snapshot_mode='all'; 'minimal' writes no 02/04 snapshots"
            )
        store.check_config(self.config)

        session_width = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        # delta-scale count: reads only parquet footers / the filter
        # column, never text
        self._delta_rows = new_pages.count()
        self._delta_shuffle_partitions = min(
            session_width, max(8, -(-self._delta_rows // 1000))
        )
        if self._delta_shuffle_partitions != session_width:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(self._delta_shuffle_partitions)
            )
        self._store = store
        try:
            with self._run_scope():
                return self._run_graph(new_pages, store, resume)
        finally:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(session_width)
            )

    def _run_graph(
        self, pages: DataFrame, store: FingerprintStore | None, resume: bool
    ) -> dict:
        """The stage graph of both modes.  Without a store, ``pages``
        is the whole corpus; with one, ``pages`` is a delta batch whose
        02 drops the norm_urls the store already holds.  Every leg
        calls one operator in both modes — the 03/05/06/07 candidates,
        both verifies and the clustering — handing it the store's slice
        of its input as its store side (None in a full run).  What
        still differs is materialization, because a delta's operators
        walk their inputs more than once:
        - a delta persists its LSH candidates as 05_candidates: the
          verify's store-side id collect walks them once before the
          verify walks them again;
        - a delta persists its evidence as 08_evidence and clusters in
          09, writing the rows that evidence changes in the store's
          cluster table as a segment; a full run clusters its corpus
          in 08_clusters, lazily over its evidence.
        A full run is NOT run as a delta against an empty store: Spark's
        empty-relation propagation does not remove the windowed bucket
        pairing, the pair-id collects or the cluster merge, and that
        shape measured 2.4x the full operators' wall on a 4,000-page
        corpus (4-core host, local[4])."""
        cfg = self.config
        write_config(self.workdir, cfg)

        # free row-count metrics via observe(): recorded on the single
        # physical pass, no extra jobs (the north rule's per-stage
        # metrics without count() barriers)
        self._observations = {}

        def observed(name: str, df: DataFrame, *metrics) -> DataFrame:
            obs = Observation(name)
            self._observations[name] = obs
            return df.observe(obs, *(metrics or [F.count(F.lit(1)).alias("rows")]))

        def stage(name: str, build, plan: Plan) -> DataFrame:
            return self._stage(name, build, resume, plan)

        # ---- stage 1: URL canonicalization (vectorized check_url) ----
        canonical = stage(
            "01_canonical",
            lambda: observed("canonical_rows", self._canonical_frame(pages)),
            EPHEMERAL,
        )

        # ---- stage 2: exact URL dedup (earliest capture wins) ----
        def build_url_dedup():
            unique = dedup.exact_dedup(canonical, ["norm_url"], order_cols=["warc_ts", "doc_id"])
            if store is None:
                return unique
            # first-seen-wins against the store: a norm_url the store
            # already holds keeps its old representative
            return unique.join(
                store.docs.select("norm_url"), "norm_url", "left_anti"
            ).select(*DOCS.columns)

        # "minimal" persists 02 WITHOUT the count barrier: the cache
        # fills inside the next stage's (single-consumer) job — 04's
        # eager materialization is 02's only consumer before the overlap
        # group, so no concurrent jobs can race the cache build (guide
        # §2.6 serial-term cut).  In "all" the count sizes the snapshot's
        # bloom filter
        url_unique = stage(DOCS.stage, build_url_dedup, Plan(PERSIST, BACKGROUND))

        # optional training-data quality gate (config bounds), applied
        # identically in full and incremental modes — per-row
        # deterministic, so the two stay provably equivalent
        quality = self._quality_condition()
        if quality is not None:
            url_unique = stage(
                "02b_quality_gate",
                lambda: observed("quality_kept", url_unique.where(quality)),
                Plan(LAZY, SNAPSHOT),
            )

        # ---- stage 4: ALL text fingerprints in ONE scan ----
        # MinHash + SimHash + winnowing + md5 share a single Arrow
        # transfer and text decode (operators/fingerprints.py) — at
        # corpus scale this is one pass over the text column instead of
        # three, and a delta run's ONLY text scan.
        # The MinHash signature is kept only as its 8-bit sketch, the
        # estimate prefilter's whole need (dedup.minhash_sketch): the
        # stored row, a delta's slice of the store and the cached
        # minimal-mode frame shrink by 128 x 7 bytes before compression
        def build_fingerprints():
            fused = fused_fingerprints(
                url_unique, num_perm=cfg.num_perm, shingle_k=cfg.shingle_k, seed=cfg.seed,
                bands=cfg.bands,
            )
            fingerprints = fused.withColumn(
                "sketch", dedup.minhash_sketch("signature")
            ).select(*FINGERPRINTS.columns)
            if store is None:
                return fingerprints
            # the winnow key total rides the stage's own count job
            return observed(
                "fingerprint_keys", fingerprints, F.sum(F.size("winnow")).alias("winnow_keys")
            )

        fingerprints = stage(FINGERPRINTS.stage, build_fingerprints, Plan(COUNT, BACKGROUND))
        sketches = fingerprints.select("doc_id", "sketch")

        # each evidence leg's one operator takes the store's slice of
        # the 04 frame as its optional store side: None in a full run
        store_fps = None if store is None else store.fingerprints
        store_docs = None if store is None else store.docs
        prune_old = prune_winnow = False
        if store is not None:
            # guide §3.2 pre-filter gate, per leg: the delta's distinct
            # bucket keys must comfortably fit a broadcast before the
            # store side may be semi-join-pruned ahead of its exchange.
            # The MinHash and SimHash legs carry <= rows x max(bands, 20)
            # keys.
            prune_old = self._delta_rows * max(cfg.bands, 20) <= BROADCAST_KEY_BUDGET
            # a winnow key set is hundreds of keys per multi-KB doc, far
            # past rows x bands, so that leg is gated on its own count.
            # A built 04 ran its count job, so its row is on the way; a
            # resumed 04 observed nothing, and the winnow leg then keeps
            # the union shape
            keys_obs = self._observations.get("fingerprint_keys")
            winnow_keys = (
                _safe_observation(keys_obs, wait_s=10.0).get("winnow_keys")
                if keys_obs else None
            )
            prune_winnow = winnow_keys is not None and winnow_keys <= BROADCAST_KEY_BUDGET

        def store_side(*cols):
            return None if store_fps is None else store_fps.select(*cols)

        def band_rows(df):
            # STORED band keys: no band-hash Python pass, and the store
            # never pays one however large it has grown
            if df is None:
                return None
            return df.select("doc_id", F.explode("bands").alias("band_key"))

        def build_candidates():
            # dropped-bucket accounting rides observe() on the pass
            # that computes the buckets anyway — zero extra jobs
            obs = Observation("05_lsh_buckets")
            self._observations["lsh_buckets"] = obs
            candidates, _ = dedup.lsh_candidate_pairs(
                None,
                bands=cfg.bands,
                max_bucket_size=cfg.max_bucket_size,
                observation=obs,
                buckets=band_rows(fingerprints),
                old_buckets=band_rows(store_fps),
                prune_old_by_new_keys=prune_old,
            )
            return candidates

        def build_minhash_pairs(candidates):
            if candidates is None:
                # a full run's candidates are built in the verify's stage
                candidates = build_candidates()
            return dedup.verify_pairs_jaccard(
                candidates,
                url_unique,
                sketches=sketches,
                threshold=cfg.jaccard_threshold,
                shingle_k=cfg.shingle_k,
                old_docs=store_docs,
                old_sketches=store_side("doc_id", "sketch"),
            ).select("doc_a", "doc_b")

        # 05 persisted (it's tiny — two longs per verified pair): the
        # substring verify anti-joins against it, and a lazy plan would
        # re-run the whole verify DAG for that second consumer.  A
        # delta's LSH candidates persist too (05_candidates): the
        # verify's store-side id collect walks them before the verify
        # does, and the observation must record on exactly one
        # execution of the pass
        def minhash_chain():
            candidates = None
            if store is not None:
                candidates = stage("05_candidates", build_candidates, Plan(COUNT, SNAPSHOT))
            return stage(
                "05_minhash_pairs",
                lambda: build_minhash_pairs(candidates),
                Plan(COUNT, SNAPSHOT),
            )

        def build_simhash_pairs():
            return dedup.simhash_candidate_pairs(
                fingerprints.select("doc_id", "simhash"),
                max_hamming=cfg.simhash_max_hamming,
                max_bucket_size=cfg.max_bucket_size,
                old_fingerprints=store_side("doc_id", "simhash"),
                prune_old_by_new_keys=prune_old,
            ).select("doc_a", "doc_b")

        # candidates WITHOUT the anti-join against the MinHash verdicts
        # (that dependency would serialize this stage behind the whole
        # 05 chain) — the anti-join applies at verify time below, which
        # is equivalent: evidence is a union, so pruning pairs the
        # MinHash path already verified from the expensive LCS
        # verification changes nothing (measured 100% overlap on the
        # bench corpus)
        def build_substring_cands():
            return suffix.substring_candidate_pairs(
                url_unique,
                max_bucket_size=cfg.max_bucket_size,
                winnow=fingerprints.select("doc_id", "winnow"),
                old_winnow=store_side("doc_id", "winnow"),
                prune_old_by_new_keys=prune_winnow,
            )

        def build_text_pairs():
            # exact-text edges from the 04 frame's stored hashes: no
            # text re-read in either mode
            return dedup.exact_text_pairs(
                fingerprints.select("doc_id", "text_hash"),
                store_side("doc_id", "text_hash"),
            )

        # ---- stages 5-7 and 3: evidence stages, OVERLAPPED (guide §2.6) ----
        # The MinHash verify chain (05) is the long pole; the SimHash
        # pairs, the substring CANDIDATES and the exact-text pairs
        # depend only on the fingerprint frame (and the store), so their
        # jobs run concurrently and back-fill the verify chain's stage
        # tails — in snapshot_mode="all" the r5 shape serialized ELEVEN
        # write jobs of a delta run end to end, the measured core-count-
        # independent serial term of the spark-submit scaling record.
        # 05 is submitted first and keeps FIFO priority.  03 materializes
        # INSIDE the group: as an ephemeral frame it was recomputed
        # inside the full run's clustering — ~0.9-1.4 s of md5+groupBy+
        # join on the post-overlap critical path (OPTIMIZATION_r06.md, row 11);
        # it only needs the 04 frame's stored hashes.
        group = {
            "05_minhash_pairs": minhash_chain,
            "06_simhash_pairs": lambda: stage(
                "06_simhash_pairs", build_simhash_pairs, Plan(COUNT, SNAPSHOT)
            ),
        }
        if cfg.with_substring_stage:
            group["07_substring_cands"] = lambda: stage(
                "07_substring_cands", build_substring_cands, Plan(COUNT, SNAPSHOT)
            )
        # 03 last: cheapest member, fills the tail the 05 wall leaves
        group["03_exact_text_pairs"] = lambda: stage(
            "03_exact_text_pairs", build_text_pairs, Plan(COUNT, SNAPSHOT)
        )
        staged = self._materialize_stages(group)
        minhash_pairs = staged["05_minhash_pairs"]

        pairs = (
            staged["03_exact_text_pairs"]
            .unionByName(minhash_pairs)
            .unionByName(staged["06_simhash_pairs"])
        )
        if cfg.with_substring_stage:
            def build_substring_pairs():
                cands = staged["07_substring_cands"].join(
                    minhash_pairs, ["doc_a", "doc_b"], "left_anti"
                )
                return suffix.verify_substring_pairs(
                    cands, url_unique, min_length=cfg.substring_min_len, old_docs=store_docs
                ).select("doc_a", "doc_b")

            pairs = pairs.unionByName(
                stage("07_substring_pairs", build_substring_pairs, EPHEMERAL)
            )

        # ---- stages 8-9: clustering ----
        # one clustering operator in both modes; a delta hands it the
        # store's cluster table as its store side, and the store decides
        # whether the delta's 09 is a segment or a compaction
        docs = url_unique.select("doc_id", "norm_url", "domain")
        if store is None:
            # no explicit distinct: connected_components dedups its
            # edge input anyway, so the extra shuffle wave would sit
            # on the critical path twice (the observed row count is
            # therefore pre-dedup evidence rows)
            clusters = stage(
                "08_clusters",
                lambda: dedup.cluster_assignments(docs, observed("evidence_pairs", pairs)),
                EPHEMERAL,
            )

            def build_output():
                return docs.join(clusters, "doc_id").select(*ASSIGNMENTS.columns)
        else:
            # evidence persists (tiny: two longs per pair): the store
            # side walks it several times — endpoint extraction, the
            # affected-cluster semi-joins, and every CC iteration — and
            # a lazy union would re-run the whole verify DAG for each
            # walk
            evidence = stage(
                "08_evidence",
                lambda: observed("evidence_pairs", pairs),
                Plan(COUNT, BACKGROUND),
            )

            # the segment: new docs take norm_url/domain from the
            # delta, relabelled old docs from the store's cluster table.
            # That table is read three times (affected clusters, their
            # members, moved labels; four when compacting), so it is
            # persisted: a chained view's overlays then run once, not
            # once per read (see the segment bound in plans/store.py)
            def build_output():
                view = self._persist(store.assignments)
                changes = dedup.cluster_assignments(docs, evidence, old_assignments=view)
                # a segment holds the delta's new docs and the old docs
                # their evidence relabels, so those counts size it
                return store.delta_assignments(
                    view, changes, self._delta_rows + self._counted.get("08_evidence", 0)
                )

        # ---- final output: url -> cluster, a snapshot in every mode ----
        output = stage(ASSIGNMENTS.stage, build_output, Plan(SNAPSHOT, SNAPSHOT))
        if store is not None:
            store.mark_assignments(self.spark, self.workdir)
        self._join_writes()

        with _failing_as("summary"):
            summary = {
                "mode": "full" if store is None else "incremental",
                "config": dict(vars(cfg)),
                "stages": self.metrics,
                "n_output": self.assignments().count() if self.count_rows else None,
                # observe()-based counters, recorded on the physical pass
                # itself (no extra jobs); absent for resumed stages
                "observed": {
                    name: _safe_observation(obs)
                    for name, obs in self._observations.items()
                },
            }
            if self.count_rows and store is None:
                # per-partition lineage/metrics (north rule): row counts of
                # the final assignments per physical partition — one cheap
                # aggregation on spark_partition_id
                partition_rows = (
                    output.groupBy(F.spark_partition_id().alias("pid"))
                    .count()
                    .orderBy("pid")
                    .collect()
                )
                summary["output_partitions"] = [
                    {"partition": r["pid"], "rows": r["count"]} for r in partition_rows
                ]
            self._append_metrics(summary)
        return summary

    def assignments(self) -> DataFrame:
        """The merged cluster table (store.ASSIGNMENTS).  After a delta
        run whose 09_assignments is a segment, that is the run's store's
        cluster table overlaid with the segment."""
        return merged_assignments(self.spark, self.workdir, self._store)

    def deduped_docs(self, docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
        """The pipeline's consumable: ``docs`` reduced to one
        representative row per cluster (min member), annotated with
        cluster_size (dedup.keep_representatives over the final
        assignments snapshot)."""
        return dedup.keep_representatives(
            docs, self.assignments().select("doc_id", "cluster_id"), id_col=id_col
        )
