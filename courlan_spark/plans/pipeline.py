"""End-to-end near-duplicate pipeline with snapshot checkpoints.

    pages ──check_url UDF──> canonical urls
          ──exact URL dedup (salted hash-agg)──> survivors
          ──exact text dedup (md5 groups)──────> pair evidence
          ──MinHash ─ LSH ─ Jaccard verify─────> pair evidence
          ──SimHash (hamming ≤ 3)──────────────> pair evidence
          ──winnowing + substring verify───────> pair evidence
          ──connected components───────────────> cluster table

Every stage materializes to a parquet snapshot under ``workdir`` and
is skipped on resume when its `_SUCCESS` marker exists — the sandbox
realization of Iceberg snapshot checkpoints (north rule; the writer
is isolated in ``_write_snapshot`` so an Iceberg ``writeTo`` drops in
unchanged).  Per-stage metrics (rows, seconds, partitions) are
returned and appended to ``workdir/metrics.json``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.url_udfs import make_check_url_udf
from ..operators import dedup, suffix


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
    salt_partitions: int | None = None
    with_substring_stage: bool = True
    with_simhash_stage: bool = True
    # one Arrow pass computing MinHash+SimHash+winnow together (the
    # 100 TB default: one text scan instead of three); False falls back
    # to the per-kernel operators (column-identical — test_fused_fingerprints)
    fused_fingerprints: bool = True
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
    # stage outputs are small relative to job overhead.
    snapshot_mode: str = "all"
    # materialize INDEPENDENT evidence stages concurrently (guide §2.6:
    # actions are only sequential because driver code calls them
    # sequentially): once the fingerprint frame exists, the exact-text,
    # SimHash and substring-candidate stages share no dependency with
    # the MinHash verify chain, so their jobs back-fill executors the
    # verify chain's stage tails leave idle.  Spark schedules
    # concurrent jobs FIFO — the earlier job keeps priority, later
    # ones use the slack.  False restores the serial r5 order.
    overlap_stages: bool = True
    extra: dict = field(default_factory=dict)


from ..sources.tables import has_snapshot as _has_snapshot
from ..sources.tables import read_snapshot as _read_snapshot
from ..sources.tables import write_snapshot as _write_snapshot


@dataclass
class FingerprintStore:
    """The persisted state an incremental (delta-batch) run joins
    against: the base run's url-unique corpus, its fused fingerprint
    frame, and its cluster table.  ``from_workdir`` loads the three
    from a completed snapshot_mode="all" pipeline run with
    fused_fingerprints=True — the store must come from the same
    DedupConfig (num_perm/shingle_k/seed/bands) the incremental run
    uses, or bucket keys will not line up."""

    docs: DataFrame          # doc_id, norm_url, domain, warc_ts, text, lang
    fingerprints: DataFrame  # doc_id, signature, simhash, winnow, text_hash
    assignments: DataFrame   # doc_id, cluster_id
    # the DedupConfig (as a dict) the store was built with, loaded from
    # the workdir's config.json; None only for stores assembled by hand
    config: dict | None = None

    # fields that determine bucket/block keys and which docs enter the
    # store — a delta run with different values would silently miss
    # duplicates (keys disagree), so check_config raises instead
    KEY_FIELDS = (
        "num_perm", "shingle_k", "seed", "bands",
        "min_tokens", "max_tokens", "min_alpha_ratio",
    )

    def check_config(self, cfg: "DedupConfig") -> None:
        """Raise when ``cfg`` disagrees with the store's recorded
        config on any key-affecting field.  A store without a recorded
        config (built before config.json existed, or assembled by
        hand) passes with no check — the caller owns the invariant."""
        if self.config is None:
            return
        mismatches = {
            k: (self.config.get(k), getattr(cfg, k))
            for k in self.KEY_FIELDS
            if self.config.get(k) != getattr(cfg, k)
        }
        if mismatches:
            raise ValueError(
                "incremental config disagrees with the fingerprint "
                f"store's on key-affecting fields {mismatches} "
                "(store value, run value) — band/block keys would not "
                "line up and duplicates would be silently missed; "
                "re-build the store or match its config"
            )

    @classmethod
    def _load_config(cls, workdir: str) -> dict | None:
        path = os.path.join(workdir, "config.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    @classmethod
    def from_workdir(cls, spark: SparkSession, workdir: str) -> "FingerprintStore":
        def need(stage: str) -> DataFrame:
            path = _snapshot_path(workdir, stage)
            if not _has_snapshot(path):
                raise FileNotFoundError(
                    f"store stage {stage!r} missing under {workdir} — the "
                    "base run must use snapshot_mode='all' and "
                    "fused_fingerprints=True"
                )
            return _read_snapshot(spark, path)

        fps = need("04_fingerprints")
        if "text_hash" not in fps.columns or "winnow" not in fps.columns:
            raise ValueError(
                "04_fingerprints lacks fused columns (text_hash/winnow) — "
                "the base run predates the fused store format; re-run it"
            )
        return cls(
            docs=need("02_url_dedup"),
            fingerprints=fps,
            assignments=need("09_assignments").select("doc_id", "cluster_id"),
            config=cls._load_config(workdir),
        )

    @classmethod
    def from_workdirs(
        cls, spark: SparkSession, *workdirs: str
    ) -> "FingerprintStore":
        """Chain stores across batches: the base run's workdir followed
        by each incremental run's, oldest first.  Docs and fingerprints
        are the union of every batch's (immutable, delta-scoped)
        snapshots; assignments come from the LAST workdir — each
        incremental run writes the fully merged cluster table."""
        if not workdirs:
            raise ValueError("at least one workdir required")
        stores = [cls.from_workdir(spark, w) for w in workdirs]
        # chained batches must agree on key fields among themselves too
        configs = [s.config for s in stores if s.config is not None]
        for other in configs[1:]:
            diff = {
                k: (configs[0].get(k), other.get(k))
                for k in cls.KEY_FIELDS
                if configs[0].get(k) != other.get(k)
            }
            if diff:
                raise ValueError(
                    f"chained store workdirs disagree on key fields {diff}"
                )
        docs, fps = stores[0].docs, stores[0].fingerprints
        for s in stores[1:]:
            docs = docs.unionByName(s.docs)
            fps = fps.unionByName(s.fingerprints)
        return cls(
            docs=docs,
            fingerprints=fps,
            assignments=stores[-1].assignments,
            config=configs[0] if configs else None,
        )


def _snapshot_path(workdir: str, stage: str) -> str:
    return os.path.join(workdir, stage)


def _safe_observation(obs) -> dict:
    """Read an Observation defensively and NON-BLOCKING.

    Two failure modes: (a) when AQE propagates an empty shuffle stage
    upward (e.g. every LSH bucket over the cap on a degenerate corpus),
    the CollectMetrics row can come back without a schema and the row
    decode raises from toPyRow — Spark-side issue; (b) an observed node
    that never EXECUTED (its consumer stage resumed from a snapshot, so
    the build ran but the dataset did not) leaves Observation.get
    blocked forever on the JVM promise — the r6 ephemeral-stage hang.
    getRowOrEmpty() returns an empty Option instead of waiting."""
    try:
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
        # run returns — the workdir is complete at return, same as the
        # synchronous path
        self._pending_writes: list[tuple[str, object]] = []
        self._write_pool = None
        # every frame a run persisted, unpersisted when the run ends
        self._persisted: list[DataFrame] = []
        os.makedirs(workdir, exist_ok=True)

    def _persist_config(self) -> None:
        """Record the run's DedupConfig in the workdir so a later
        incremental run can verify its own config against the store's
        (a store built with different key-affecting fields would emit
        silently wrong merged clusters — the band/block keys simply
        would not line up)."""
        with open(os.path.join(self.workdir, "config.json"), "w") as fh:
            json.dump(
                {k: v for k, v in vars(self.config).items()
                 if not isinstance(v, dict)},
                fh,
            )

    # snapshots a later incremental run scans selectively are written
    # range-sorted by doc_id, so parquet footer min/max support file
    # skipping for the candidate-id predicates the delta verify pushes
    # (Iceberg sorted-write-order analog; see tables.write_snapshot)
    # one fact: the key column the store stages are scanned by.  The
    # snapshot is range-sorted by it (file skipping via footer min/max
    # for the candidate-id predicates) AND carries a parquet bloom
    # filter on it (row-group point skipping inside surviving files).
    _STAGE_KEY_COLS = {"02_url_dedup": ["doc_id"], "04_fingerprints": ["doc_id"]}

    def _stage(
        self,
        name: str,
        build,
        resume: bool,
        kind: str = "snapshot",
        overlap_write: bool = False,
    ) -> DataFrame:
        # "ephemeral": lazy in EVERY snapshot mode — for cheap derived
        # frames whose durability buys nothing (the canonical frame is
        # a deterministic function of the input the next stage re-reads
        # anyway; the substring verify folds into the evidence job).
        # Each skipped stage was one serialized write-job barrier in
        # snapshot_mode="all" — part of the measured core-count-
        # independent serial term of the spark-submit scaling record.
        # Resume stays correct: a killed run recomputes the ephemeral
        # frame deterministically inside its durable consumer's build.
        if kind == "ephemeral":
            started = time.time()
            df = build()
            self.metrics.append(
                {"stage": name, "kind": "ephemeral",
                 "secs": round(time.time() - started, 3)}
            )
            return df
        if self.config.snapshot_mode == "minimal" and kind != "snapshot":
            started = time.time()
            df = build()
            if kind == "persist":
                df = self._persist(df)
                df.count()  # materialize the cache once
            elif kind == "persist_lazy":
                # persist WITHOUT the count barrier: the cache fills
                # inside the next stage's (single-consumer) job — used
                # for 02, whose only consumer before the overlap group
                # is 04's eager materialization, so no concurrent jobs
                # can race the cache build (guide §2.6 serial-term cut)
                df = self._persist(df)
            self.metrics.append(
                {"stage": name, "kind": kind, "secs": round(time.time() - started, 3)}
            )
            return df
        path = _snapshot_path(self.workdir, name)
        started = time.time()
        if resume and _has_snapshot(path):
            df = _read_snapshot(self.spark, path)
            self.metrics.append(
                {"stage": name, "resumed": True, "secs": round(time.time() - started, 3)}
            )
            return df
        df = build()
        if overlap_write and self.config.overlap_stages:
            # The stage's CONSUMERS only need the frame; only the NEXT
            # RUN (resume / store chaining) needs the files.  Persist +
            # count materializes the data once, then the parquet write
            # — a pure read-of-cache + commit job that was a ~1 s
            # serial barrier per snapshot stage in the delta profile —
            # runs on a background thread and hides under the following
            # stages.  _join_writes() blocks before run()/
            # run_incremental() return, so externally the workdir is
            # exactly as complete as the synchronous path's, and a
            # crash before the join leaves no _SUCCESS marker — resume
            # rebuilds the stage, as it would for any interrupted
            # write.
            from concurrent.futures import ThreadPoolExecutor

            df = self._persist(df)
            n_rows = df.count()
            if self._write_pool is None:
                self._write_pool = ThreadPoolExecutor(max_workers=2)
            fut = self._write_pool.submit(
                _write_snapshot,
                df,
                path,
                order_by=self._STAGE_KEY_COLS.get(name),
                bloom_cols=self._STAGE_KEY_COLS.get(name),
            )
            self._pending_writes.append((name, fut))
            metric = {
                "stage": name,
                "resumed": False,
                "kind": "snapshot_overlap",
                "secs": round(time.time() - started, 3),
            }
            if self.count_rows:
                metric["rows"] = n_rows
            self.metrics.append(metric)
            return df
        _write_snapshot(
            df,
            path,
            order_by=self._STAGE_KEY_COLS.get(name),
            bloom_cols=self._STAGE_KEY_COLS.get(name),
        )
        out = _read_snapshot(self.spark, path)
        metric = {
            "stage": name,
            "resumed": False,
            "secs": round(time.time() - started, 3),
        }
        if self.count_rows:
            metric["rows"] = out.count()
            metric["partitions"] = out.rdd.getNumPartitions()
        self.metrics.append(metric)
        return out

    def _persist(self, df: DataFrame) -> DataFrame:
        self._persisted.append(df)
        return df.persist()

    def _join_writes(self) -> None:
        """Block on every deferred snapshot write and record how long
        the join actually waited — ~0 when the writes hid under later
        stages, which is the point.  Every write is waited for before
        the first failure is re-raised."""
        pending, self._pending_writes = self._pending_writes, []
        failure = None
        for name, fut in pending:
            started = time.time()
            try:
                fut.result()
            except Exception as exc:  # noqa: BLE001 — re-raised below
                failure = failure or exc
                continue
            self.metrics.append(
                {"stage": f"{name}_write_join",
                 "secs": round(time.time() - started, 3)}
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
        error does not replace the run's), and every frame the run
        persisted is unpersisted without blocking; a successful run
        joined its writes before writing its summary."""
        self._pending_writes.clear()
        try:
            yield
        except BaseException:
            with contextlib.suppress(Exception):
                self._join_writes()
            raise
        finally:
            persisted, self._persisted = self._persisted, []
            for df in persisted:
                df.unpersist(blocking=False)

    def _materialize_stages(self, specs, resume: bool) -> dict:
        """Materialize several INDEPENDENT stages — concurrently when
        ``config.overlap_stages`` (guide §2.6: Spark happily runs
        several jobs at once inside one application; actions are only
        sequential because driver code calls them sequentially), else
        in the given order.  ``specs`` is a list of
        (name, callable) pairs where the callable runs the stage(s) and
        returns the stage result; the first spec is submitted first, so
        under FIFO scheduling it keeps resource priority and the later
        stages back-fill its stage tails.  Exceptions propagate."""
        if not self.config.overlap_stages or len(specs) == 1:
            return {name: fn() for name, fn in specs}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(specs)) as pool:
            futures = [(name, pool.submit(fn)) for name, fn in specs]
            return {name: f.result() for name, f in futures}

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
                F.col("url").alias("raw_url"),
                F.col("_chk.norm_url").alias("norm_url"),
                F.col("_chk.domain").alias("domain"),
                "warc_ts",
                "text",
                "lang",
            )
        )

    def run(self, pages: DataFrame, resume: bool = False) -> dict:
        with self._run_scope():
            return self._run_body(pages, resume)

    def _run_body(self, pages: DataFrame, resume: bool) -> dict:
        cfg = self.config
        self._persist_config()

        # free row-count metrics via observe(): recorded on the single
        # physical pass, no extra jobs (the north rule's per-stage
        # metrics without count() barriers)
        from pyspark.sql import Observation

        self._observations = {}

        def observed(name: str, df: DataFrame) -> DataFrame:
            obs = Observation(name)
            self._observations[name] = obs
            return df.observe(obs, F.count(F.lit(1)).alias("rows"))

        # ---- stage 1: URL canonicalization (vectorized check_url) ----
        def build_canonical():
            return observed("canonical_rows", self._canonical_frame(pages))

        canonical = self._stage("01_canonical", build_canonical, resume, kind="ephemeral")

        # ---- stage 2: exact URL dedup (earliest capture wins) ----
        def build_url_dedup():
            return dedup.exact_dedup(
                canonical.select("doc_id", "norm_url", "domain", "warc_ts", "text", "lang"),
                key_cols=["norm_url"],
                order_cols=["warc_ts", "doc_id"],
                salt_partitions=cfg.salt_partitions,
            )

        url_unique = self._stage("02_url_dedup", build_url_dedup, resume,
                                 kind="persist_lazy", overlap_write=True)

        # optional training-data quality gate (config bounds), applied
        # identically in full and incremental modes — per-row
        # deterministic, so the two stay provably equivalent
        quality = self._quality_condition()
        if quality is not None:
            url_unique = self._stage(
                "02b_quality_gate",
                lambda: observed("quality_kept", url_unique.where(quality)),
                resume,
                kind="lazy",
            )

        # ---- stage 3: exact text pair evidence (md5 hash groups) ----
        def build_text_pairs():
            hashed = url_unique.select(
                "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("text_hash")
            )
            reps = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("rep"))
            return (
                hashed.join(reps, "text_hash")
                .where(F.col("doc_id") != F.col("rep"))
                .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
            )

        # 03 materializes INSIDE the overlap group below (guide §2.6):
        # as an ephemeral frame it was recomputed inside 08's evidence
        # checkpoint — ~0.9-1.4 s of md5+groupBy+join sitting on the
        # post-overlap critical path, while the 05 wall leaves 06/07
        # idle tail to absorb it (tools/exp_r06_stage08.py).  It only
        # needs the 02 cache, which 04's eager materialization fills
        # before the group starts.

        # ---- stage 4: ALL text fingerprints in ONE scan ----
        # MinHash + SimHash + winnowing share a single Arrow transfer
        # and text decode (operators/fingerprints.py) — at corpus scale
        # this is one pass over the text column instead of three.
        def build_fingerprints():
            if not cfg.fused_fingerprints:
                return dedup.minhash_signatures(
                    url_unique,
                    num_perm=cfg.num_perm,
                    shingle_k=cfg.shingle_k,
                    seed=cfg.seed,
                )
            from ..operators.fingerprints import fused_fingerprints

            return fused_fingerprints(
                url_unique,
                num_perm=cfg.num_perm,
                shingle_k=cfg.shingle_k,
                seed=cfg.seed,
                bands=cfg.bands,
            )

        fingerprints = self._stage(
            "04_fingerprints", build_fingerprints, resume, kind="persist",
            overlap_write=True,
        )
        signatures = fingerprints.select("doc_id", "signature")

        def build_minhash_pairs():
            # dropped-bucket accounting rides observe() on the pass
            # that computes the buckets anyway — zero extra jobs
            lsh_obs = Observation("05_lsh_buckets")
            self._observations["lsh_buckets"] = lsh_obs
            candidates, _ = dedup.lsh_candidate_pairs(
                signatures,
                bands=cfg.bands,
                max_bucket_size=cfg.max_bucket_size,
                observation=lsh_obs,
                # stored band keys: no band-hash Python pass here
                buckets=(
                    fingerprints.select(
                        "doc_id", F.explode("bands").alias("band_key")
                    )
                    if cfg.fused_fingerprints
                    else None
                ),
            )
            verified = dedup.verify_pairs_jaccard(
                candidates,
                url_unique,
                signatures=signatures,
                threshold=cfg.jaccard_threshold,
                shingle_k=cfg.shingle_k,
            )
            return verified.select("doc_a", "doc_b")

        # ---- stages 5-7: evidence stages, OVERLAPPED (guide §2.6) ----
        # The MinHash verify chain (05) is the long pole; the SimHash
        # pairs and the substring CANDIDATES depend only on the
        # fingerprint frame, so their jobs run concurrently and
        # back-fill the verify chain's stage tails.  05 is submitted
        # first and keeps FIFO priority.  (r5 ran these serially; the
        # substring stage additionally waited on 05 for its anti-join —
        # the anti-join now applies at VERIFY time instead, which is
        # equivalent: evidence is a union, so pruning pairs the MinHash
        # path already verified from the expensive LCS verification
        # changes nothing — measured 100% overlap on the bench corpus.)
        def build_simhash_pairs():
            fps = (
                fingerprints.select("doc_id", "simhash")
                if cfg.fused_fingerprints
                else dedup.simhash_fingerprints(url_unique)
            )
            return dedup.simhash_candidate_pairs(
                fps,
                max_hamming=cfg.simhash_max_hamming,
                max_bucket_size=cfg.max_bucket_size,
            ).select("doc_a", "doc_b")

        def build_substring_cands():
            return suffix.substring_candidate_pairs(
                url_unique,
                max_bucket_size=cfg.max_bucket_size,
                winnow=(
                    fingerprints.select("doc_id", "winnow")
                    if cfg.fused_fingerprints
                    else None
                ),
            )

        # 05 persisted (it's tiny — two longs per verified pair): the
        # substring verify anti-joins against it, and a lazy plan would
        # re-run the whole verify DAG for that second consumer
        specs = [
            ("05_minhash_pairs",
             lambda: self._stage("05_minhash_pairs", build_minhash_pairs,
                                 resume, kind="persist")),
        ]
        if cfg.with_simhash_stage:
            specs.append(
                ("06_simhash_pairs",
                 lambda: self._stage("06_simhash_pairs", build_simhash_pairs,
                                     resume, kind="persist"))
            )
        if cfg.with_substring_stage:
            specs.append(
                ("07_substring_cands",
                 lambda: self._stage("07_substring_cands", build_substring_cands,
                                     resume, kind="persist"))
            )
        # 03 last: cheapest member, fills the tail the 05 wall leaves
        specs.append(
            ("03_exact_text_pairs",
             lambda: self._stage("03_exact_text_pairs", build_text_pairs,
                                 resume, kind="persist"))
        )
        staged = self._materialize_stages(specs, resume)
        minhash_pairs = staged["05_minhash_pairs"]
        simhash_pairs = staged.get("06_simhash_pairs")
        substr_cands = staged.get("07_substring_cands")
        text_pairs = staged["03_exact_text_pairs"]

        if substr_cands is not None:
            def build_substring_pairs():
                cands = substr_cands.join(
                    minhash_pairs, ["doc_a", "doc_b"], "left_anti"
                )
                return suffix.verify_substring_pairs(
                    cands, url_unique, min_length=cfg.substring_min_len
                ).select("doc_a", "doc_b")

            substr_pairs = self._stage("07_substring_pairs", build_substring_pairs, resume, kind="ephemeral")
        else:
            substr_pairs = None

        # ---- stage 7: clustering ----
        def build_clusters():
            evidence = text_pairs.unionByName(minhash_pairs)
            if simhash_pairs is not None:
                evidence = evidence.unionByName(simhash_pairs)
            if substr_pairs is not None:
                evidence = evidence.unionByName(substr_pairs)
            # no explicit distinct: connected_components dedups its
            # edge input anyway, so the extra shuffle wave would sit
            # on the critical path twice (the observed row count is
            # therefore pre-dedup evidence rows)
            return dedup.cluster_assignments(
                url_unique, observed("evidence_pairs", evidence)
            )

        clusters = self._stage("08_clusters", build_clusters, resume, kind="ephemeral")

        # ---- final output: url -> cluster ----
        def build_output():
            return url_unique.join(clusters, "doc_id").select(
                "doc_id", "norm_url", "domain", "cluster_id"
            )

        output = self._stage("09_assignments", build_output, resume)
        self._join_writes()

        summary = {
            "config": {
                k: v for k, v in vars(cfg).items() if not isinstance(v, dict)
            },
            "stages": self.metrics,
            "n_output": output.count() if self.count_rows else None,
            # observe()-based counters, recorded on the physical pass
            # itself (no extra jobs); absent for resumed stages
            "observed": {
                name: _safe_observation(obs)
                for name, obs in self._observations.items()
            },
        }
        if self.count_rows:
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
        with open(os.path.join(self.workdir, "metrics.json"), "a") as fh:
            fh.write(json.dumps(summary, default=str) + "\n")
        return summary

    def run_incremental(
        self,
        new_pages: DataFrame,
        store: FingerprintStore,
        resume: bool = False,
        shuffle_partitions: int | str | None = "auto",
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
        keeps the store's representative — first-seen-wins, the
        streaming path's semantics).

        The run's workdir gains delta-scoped 02_url_dedup /
        04_fingerprints snapshots plus the merged 09_assignments, so
        ``FingerprintStore.from_workdirs(spark, base, this_workdir)``
        is the store for the NEXT delta — store files are immutable,
        each batch adds its own (the Iceberg-snapshot shape).

        ``shuffle_partitions`` right-sizes the session's shuffle width
        to the DELTA's row count for the duration of the run (restored
        after).  Default "auto" = clamp(ceil(rows/1000), 8, session
        default).  Why this exists: a delta job inherits the session's
        cluster-wide shuffle width, and AQE's partition coalescing
        will not shrink below defaultParallelism
        (coalescePartitions.parallelismFirst=true), so a 12k-row delta
        on a 32-core session runs every stage as 32 ~375-row tasks and
        pays the per-task floor 32x per stage — measured 42s at
        local[32] default vs 24.5s with 16 shuffle partitions (same
        session width; tools/exp_delta_sizing.py).  At production
        scale the same rule holds: size a delta job's shuffle width to
        the delta, not the cluster.  Pass None to leave the session
        untouched, or an int to pin it."""
        cfg = self.config
        if not cfg.fused_fingerprints:
            raise ValueError("run_incremental requires fused_fingerprints=True")
        store.check_config(cfg)
        self._persist_config()

        session_width = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self._delta_rows = None
        if shuffle_partitions == "auto":
            # delta-scale count: reads only parquet footers / the
            # filter column, never text
            n_delta = new_pages.count()
            self._delta_rows = n_delta
            shuffle_partitions = min(
                session_width, max(8, -(-n_delta // 1000))
            )
        if shuffle_partitions is not None and shuffle_partitions != session_width:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
        self._delta_shuffle_partitions = (
            shuffle_partitions if shuffle_partitions is not None else session_width
        )
        try:
            with self._run_scope():
                return self._run_incremental_body(new_pages, store, resume)
        finally:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(session_width)
            )

    def _run_incremental_body(
        self,
        new_pages: DataFrame,
        store: FingerprintStore,
        resume: bool,
    ) -> dict:
        cfg = self.config

        from pyspark.sql import Observation

        from ..operators import incremental as inc
        from ..operators.fingerprints import fused_fingerprints

        self._observations = {}

        def observed(name: str, df: DataFrame) -> DataFrame:
            obs = Observation(name)
            self._observations[name] = obs
            return df.observe(obs, F.count(F.lit(1)).alias("rows"))

        canonical = self._stage(
            "01_canonical",
            lambda: observed("canonical_rows", self._canonical_frame(new_pages)),
            resume,
            kind="ephemeral",
        )

        # guide §3.2 pre-filter gate: the delta's distinct bucket keys
        # (<= rows x bands) must comfortably fit a broadcast before the
        # store side may be semi-join-pruned ahead of its exchange;
        # unknown delta size (caller pinned the shuffle width) keeps
        # the always-safe union shape.  8M keys ~ 64 MB broadcast.
        prune_old = (
            self._delta_rows is not None
            and self._delta_rows * max(cfg.bands, 20) <= 8_000_000
        )

        # delta URL dedup, then first-seen-wins against the store: a
        # norm_url the store already holds keeps its old representative
        def build_url_dedup():
            among_new = dedup.exact_dedup(
                canonical.select("doc_id", "norm_url", "domain", "warc_ts", "text", "lang"),
                key_cols=["norm_url"],
                order_cols=["warc_ts", "doc_id"],
                salt_partitions=cfg.salt_partitions,
            )
            return among_new.join(
                store.docs.select("norm_url"), "norm_url", "left_anti"
            ).select("doc_id", "norm_url", "domain", "warc_ts", "text", "lang", "n_copies")

        url_unique = self._stage("02_url_dedup", build_url_dedup, resume,
                                 kind="persist_lazy", overlap_write=True)

        # optional training-data quality gate (config bounds), applied
        # identically in full and incremental modes — per-row
        # deterministic, so the two stay provably equivalent
        quality = self._quality_condition()
        if quality is not None:
            url_unique = self._stage(
                "02b_quality_gate",
                lambda: observed("quality_kept", url_unique.where(quality)),
                resume,
                kind="lazy",
            )

        # the delta's ONLY text scan: fused MinHash+SimHash+winnow+md5
        fingerprints = self._stage(
            "04_fingerprints",
            lambda: fused_fingerprints(
                url_unique,
                num_perm=cfg.num_perm,
                shingle_k=cfg.shingle_k,
                seed=cfg.seed,
                bands=cfg.bands,
            ),
            resume,
            kind="persist",
            overlap_write=True,
        )
        store_fps = store.fingerprints

        # LSH candidates persist: the verify stage walks them twice
        # (estimate prefilter + payload attach), and the observation
        # must record on exactly one execution of the pass
        def build_candidates():
            lsh_obs = Observation("05_lsh_buckets")
            self._observations["lsh_buckets"] = lsh_obs
            # both sides explode STORED band keys: the store never
            # pays a Python pass, however large it has grown
            def bucket_rows(df):
                return df.select("doc_id", F.explode("bands").alias("band_key"))

            return inc.incremental_minhash_pairs(
                fingerprints.select("doc_id", "signature"),
                store_fps.select("doc_id", "signature"),
                prune_old_by_new_keys=prune_old,
                bands=cfg.bands,
                max_bucket_size=cfg.max_bucket_size,
                observation=lsh_obs,
                new_buckets=bucket_rows(fingerprints),
                old_buckets=(
                    bucket_rows(store_fps)
                    if "bands" in store_fps.columns
                    else None
                ),
            )

        # ---- delta evidence stages, OVERLAPPED (guide §2.6) ----
        # The MinHash chain (candidates -> verify) is the long pole of
        # a delta run; the exact-text, SimHash and substring-candidate
        # stages depend only on the delta fingerprints + the store, so
        # their (snapshot-writing) jobs run concurrently and back-fill
        # the chain's stage tails — in snapshot_mode="all" the r5 shape
        # serialized ELEVEN write jobs end to end, the measured
        # core-count-independent serial term of the spark-submit
        # scaling record.  The MinHash chain is submitted first and
        # keeps FIFO priority.
        def run_minhash_chain():
            candidates = self._stage(
                "05_candidates", build_candidates, resume, kind="persist"
            )

            # verify inputs: the delta side unions with a store side
            # PRUNED to candidate partners — a bounded id collect from
            # the persisted pair set (no DAG re-run, unlike round 3's
            # dropped semi-join prunes) pushed into the store scan as
            # an In predicate, which the doc_id-sorted store snapshots
            # turn into parquet file skipping.  The verify reads store
            # rows proportional to the candidate set, not the corpus.
            def build_minhash_pairs():
                # the pair-payload attach inside verify explodes the
                # (small) pair set and broadcast-joins it against the
                # pruned union: only matched store rows ever shuffle,
                # in the same scan.  One bounded id collect serves both
                # pruned store scans.
                cand_ids = inc.collect_pair_ids([candidates])
                return dedup.verify_pairs_jaccard(
                    candidates,
                    url_unique.select("doc_id", "text").unionByName(
                        inc.prune_store_by_ids(
                            store.docs.select("doc_id", "text"), cand_ids
                        )
                    ),
                    signatures=fingerprints.select("doc_id", "signature").unionByName(
                        inc.prune_store_by_ids(
                            store_fps.select("doc_id", "signature"), cand_ids
                        )
                    ),
                    threshold=cfg.jaccard_threshold,
                    shingle_k=cfg.shingle_k,
                ).select("doc_a", "doc_b")

            return self._stage(
                "05_minhash_pairs", build_minhash_pairs, resume, kind="persist"
            )

        specs = [("05_minhash_pairs", run_minhash_chain)]
        # exact-text edges from stored hashes — no old text read
        specs.append(
            ("03_exact_text_pairs",
             lambda: self._stage(
                 "03_exact_text_pairs",
                 lambda: inc.incremental_text_pairs(
                     fingerprints.select("doc_id", "text_hash"),
                     store_fps.select("doc_id", "text_hash"),
                 ),
                 resume,
                 kind="lazy",
             ))
        )
        if cfg.with_simhash_stage:
            specs.append(
                ("06_simhash_pairs",
                 lambda: self._stage(
                     "06_simhash_pairs",
                     lambda: inc.incremental_simhash_pairs(
                         fingerprints.select("doc_id", "simhash"),
                         store_fps.select("doc_id", "simhash"),
                         max_hamming=cfg.simhash_max_hamming,
                         max_bucket_size=cfg.max_bucket_size,
                         prune_old_by_new_keys=prune_old,
                     ).select("doc_a", "doc_b"),
                     resume,
                     kind="lazy",
                 ))
            )
        if cfg.with_substring_stage:
            # candidates WITHOUT the anti-join against the MinHash
            # verdicts (that dependency would serialize this stage
            # behind the whole 05 chain) — the anti-join applies at
            # verify time below, which is equivalent: evidence is a
            # union, so pruning already-verified pairs from the LCS
            # pass changes nothing in the merged clusters
            specs.append(
                ("07_substring_cands",
                 lambda: self._stage(
                     "07_substring_cands",
                     lambda: inc.incremental_substring_candidates(
                         fingerprints.select("doc_id", "winnow"),
                         store_fps.select("doc_id", "winnow"),
                         max_bucket_size=cfg.max_bucket_size,
                         prune_old_by_new_keys=prune_old,
                     ),
                     resume,
                     kind="persist",
                 ))
            )
        staged = self._materialize_stages(specs, resume)
        minhash_pairs = staged["05_minhash_pairs"]
        text_pairs = staged["03_exact_text_pairs"]
        simhash_pairs = staged.get("06_simhash_pairs")
        substr_cands = staged.get("07_substring_cands")

        if substr_cands is not None:
            fresh_cands = substr_cands.join(
                minhash_pairs, ["doc_a", "doc_b"], "left_anti"
            )
            substr_pairs = self._stage(
                "07_substring_pairs",
                lambda: suffix.verify_substring_pairs(
                    fresh_cands,
                    url_unique.select("doc_id", "text").unionByName(
                        inc.prune_store_by_pair_ids(
                            store.docs.select("doc_id", "text"), [fresh_cands]
                        )
                    ),
                    min_length=cfg.substring_min_len,
                ).select("doc_a", "doc_b"),
                resume,
                kind="ephemeral",
            )
        else:
            substr_pairs = None

        # evidence persists (tiny: two longs per pair): merge_assignments
        # walks it several times — endpoint extraction, the affected-
        # cluster semi-joins, and every CC iteration — and a lazy union
        # would re-run the whole verify DAG for each walk
        def build_evidence():
            evidence = text_pairs.unionByName(minhash_pairs)
            if simhash_pairs is not None:
                evidence = evidence.unionByName(simhash_pairs)
            if substr_pairs is not None:
                evidence = evidence.unionByName(substr_pairs)
            return observed("evidence_pairs", evidence)

        evidence = self._stage("08_evidence", build_evidence, resume,
                               kind="persist", overlap_write=True)

        def build_assignments():
            merged = inc.merge_assignments(
                store.assignments,
                url_unique.select("doc_id"),
                evidence,
            )
            meta = url_unique.select("doc_id", "norm_url", "domain").unionByName(
                store.docs.select("doc_id", "norm_url", "domain")
            )
            return merged.join(meta, "doc_id").select(
                "doc_id", "norm_url", "domain", "cluster_id"
            )

        output = self._stage("09_assignments", build_assignments, resume)
        self._join_writes()

        summary = {
            "mode": "incremental",
            "config": {k: v for k, v in vars(cfg).items() if not isinstance(v, dict)},
            "stages": self.metrics,
            "n_output": output.count() if self.count_rows else None,
            "observed": {
                name: _safe_observation(obs)
                for name, obs in self._observations.items()
            },
        }
        with open(os.path.join(self.workdir, "metrics.json"), "a") as fh:
            fh.write(json.dumps(summary, default=str) + "\n")
        return summary

    def assignments(self) -> DataFrame:
        return _read_snapshot(self.spark, _snapshot_path(self.workdir, "09_assignments"))

    def deduped_docs(self, docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
        """The pipeline's consumable: ``docs`` reduced to one
        representative row per cluster (min member), annotated with
        cluster_size (dedup.keep_representatives over the final
        assignments snapshot)."""
        return dedup.keep_representatives(
            docs, self.assignments().select("doc_id", "cluster_id"), id_col=id_col
        )
