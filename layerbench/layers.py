"""Per-layer probes of the traced run: spans, the kernel layer and the
operator layer.  Every probe times a call into the engine's public
functions from outside; nothing inside the engine is instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from proctree import tree_cpu_s


class Spans:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out once at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
        }
        self._open.append(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self.records.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh, indent=1)


def _us_per_item(fn, items, repeats: int = 5) -> float:
    "Median microseconds per item of fn(items), after one warm call."
    fn(items)
    times = []
    for _ in range(repeats):
        started = time.perf_counter()
        fn(items)
        times.append(time.perf_counter() - started)
    return statistics.median(times) / len(items) * 1e6


def _lcs_reference(a: str, b: str) -> int:
    "Quadratic dynamic-programming LCS length, the parity reference."
    best, prev = 0, [0] * (len(b) + 1)
    for ch in a:
        cur = [0] * (len(b) + 1)
        for j, other in enumerate(b, 1):
            if ch == other:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise RuntimeError(f"kernel parity failed: {what}")


def kernel_layer(
    texts: list[str],
    urls: list[str],
    jaccard_pairs: list[tuple[str, str]],
    lcs_pairs: list[tuple[str, str]],
) -> dict:
    """Single-process microseconds per unit for the hashing, suffix and
    URL kernels, on samples of the workload's own docs, URLs and
    candidate pairs.  Parity is asserted before anything is timed."""
    from numpy.lib.stride_tricks import sliding_window_view

    from courlan_spark.functions import hashing
    from courlan_spark.functions.url_udfs import check_url_batch
    from courlan_spark.operators import suffix
    from courlan_spark.urlkit import check_url

    def scalar_check(batch: list[str]) -> list:
        return [check_url(u) for u in batch]

    feats = [hashing.shingle_hashes(t) for t in texts]
    sigs = np.vstack([hashing.minhash_signature(f) for f in feats])
    pair_feats = [
        (hashing.shingle_hashes(a), hashing.shingle_hashes(b))
        for a, b in jaccard_pairs
    ]

    batch = hashing.band_hashes_batch(sigs)
    _check(
        all(np.array_equal(batch[i], hashing.band_hashes(s)) for i, s in enumerate(sigs)),
        "band_hashes_batch vs band_hashes",
    )
    _check(
        all(
            hashing.simhash64_from_features(f) == hashing.simhash64(t)
            for f, t in zip(feats[:50], texts)
        ),
        "simhash64_from_features vs simhash64",
    )
    for fa, fb in pair_feats:
        sa, sb = set(fa.tolist()), set(fb.tolist())
        _check(
            abs(hashing.jaccard(fa, fb) - len(sa & sb) / len(sa | sb)) < 1e-12,
            "jaccard vs set arithmetic",
        )
    k, w = suffix.DEFAULT_KGRAM, suffix.DEFAULT_WINDOW
    for t in texts[:50]:
        if len(t) >= k + w:
            grams = suffix._kgram_hashes(t, k)
            want = np.unique(sliding_window_view(grams, w).min(axis=1))
            _check(
                np.array_equal(suffix.winnow_fingerprints(t), want.astype(np.int64)),
                "winnow_fingerprints vs sliding-window minimum",
            )
    for a, b in lcs_pairs[:10]:
        _check(
            suffix.longest_common_substring(a[:150], b[:150])
            == _lcs_reference(a[:150], b[:150]),
            "longest_common_substring vs dynamic programming",
        )
    scalar = scalar_check(urls)
    got = check_url_batch(pd.Series(urls, dtype=object))
    _check(
        [c[0] if c else None for c in scalar] == got["norm_url"].tolist()
        and [c[1] if c else None for c in scalar] == got["domain"].tolist(),
        "check_url_batch vs check_url",
    )

    def each(fn):
        return lambda items: [fn(x) for x in items]

    return {
        "kernel.shingle_hashes.us_per_doc": _us_per_item(
            each(hashing.shingle_hashes), texts
        ),
        "kernel.minhash_signature.us_per_doc": _us_per_item(
            each(hashing.minhash_signature), feats
        ),
        "kernel.simhash64_from_features.us_per_doc": _us_per_item(
            each(hashing.simhash64_from_features), feats
        ),
        "kernel.winnow_fingerprints.us_per_doc": _us_per_item(
            each(suffix.winnow_fingerprints), texts
        ),
        "kernel.band_hashes_batch.us_per_doc": _us_per_item(
            lambda s: hashing.band_hashes_batch(s), sigs
        ),
        "kernel.jaccard.us_per_pair": _us_per_item(
            each(lambda p: hashing.jaccard(*p)), pair_feats
        ),
        "kernel.longest_common_substring.us_per_pair": _us_per_item(
            each(lambda p: suffix.longest_common_substring(*p)), lcs_pairs, repeats=3
        ),
        "kernel.check_url.us_per_row": _us_per_item(scalar_check, urls),
        "kernel.check_url_batch.us_per_row": _us_per_item(
            lambda u: check_url_batch(pd.Series(u, dtype=object)), urls
        ),
    }


def operator_layer(spark, docs, spans: Spans, cfg) -> tuple[dict, dict]:
    """Each public dedup operator alone over ``docs`` (doc_id, url, text)
    to the noop sink, its inputs materialized beforehand.  Returns the
    metrics and samples of candidate pairs (with texts) for the kernel
    layer."""
    from pyspark.sql import functions as F

    from courlan_spark.functions.url_udfs import make_check_url_udf
    from courlan_spark.operators import dedup, suffix
    from courlan_spark.operators.fingerprints import fused_fingerprints

    out: dict = {}

    def timed(name: str, df) -> None:
        with spans.span(f"op.{name}"):
            cpu0 = tree_cpu_s()
            started = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            out[f"op.{name}.s"] = time.perf_counter() - started
            out[f"op.{name}.cpu_s"] = tree_cpu_s() - cpu0

    def cached(df):
        df = df.persist()
        return df, df.count()

    docs, n_docs = cached(docs)
    fingerprints = fused_fingerprints(
        docs, num_perm=cfg.num_perm, shingle_k=cfg.shingle_k, seed=cfg.seed,
        bands=cfg.bands,
    )
    timed("fused_fingerprints", fingerprints)
    fps, _ = cached(fingerprints)
    signatures = fps.select("doc_id", "signature")

    candidates, _ = dedup.lsh_candidate_pairs(
        signatures,
        bands=cfg.bands,
        max_bucket_size=cfg.max_bucket_size,
        buckets=fps.select("doc_id", F.explode("bands").alias("band_key")),
    )
    timed("lsh_candidate_pairs", candidates)
    candidates, n_candidates = cached(candidates)
    verified = dedup.verify_pairs_jaccard(
        candidates, docs, signatures=signatures,
        threshold=cfg.jaccard_threshold, shingle_k=cfg.shingle_k,
    )
    timed("verify_pairs_jaccard", verified)
    verified, n_verified = cached(verified.select("doc_a", "doc_b"))

    simhash_pairs = dedup.simhash_candidate_pairs(
        fps.select("doc_id", "simhash"),
        max_hamming=cfg.simhash_max_hamming,
        max_bucket_size=cfg.max_bucket_size,
    )
    timed("simhash_candidate_pairs", simhash_pairs)
    simhash_pairs, _ = cached(simhash_pairs.select("doc_a", "doc_b"))

    substring_cands, n_substring = cached(
        suffix.substring_candidate_pairs(
            docs, max_bucket_size=cfg.max_bucket_size,
            winnow=fps.select("doc_id", "winnow"),
        )
    )
    substring_pairs = suffix.verify_substring_pairs(
        substring_cands, docs, min_length=cfg.substring_min_len
    )
    timed("verify_substring_pairs", substring_pairs)
    substring_pairs, n_substring_ok = cached(substring_pairs.select("doc_a", "doc_b"))

    evidence = verified.unionByName(simhash_pairs).unionByName(substring_pairs)
    timed("cluster_assignments", dedup.cluster_assignments(docs, evidence))
    check = make_check_url_udf(strict=cfg.strict, language=cfg.language)
    timed("check_url_udf", docs.select(check("url").alias("checked")))

    out["lsh.verified_per_candidate"] = n_verified / max(n_candidates, 1)
    out["substring.verified_per_candidate"] = n_substring_ok / max(n_substring, 1)
    out["op.rows"] = n_docs

    texts = docs.select("doc_id", "text")

    def with_texts(pairs, limit: int) -> list[tuple[str, str]]:
        pdf = (
            pairs.limit(limit)
            .join(texts.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("text", "ta"), "doc_a")
            .join(texts.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("text", "tb"), "doc_b")
            .select("ta", "tb")
            .toPandas()
        )
        return [(a or "", b or "") for a, b in zip(pdf["ta"], pdf["tb"])]

    samples = {
        "jaccard_pairs": with_texts(candidates, 300),
        "lcs_pairs": with_texts(substring_cands, 40),
    }
    return out, samples


# The seed-42 sf0.01 tables the catalog's DuckDB oracles are verified on.
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
CATALOG_TABLES = ("lineitem", "orders", "documents", "embeddings")


def catalog_layer(spark, workdir: str, spans: Spans) -> dict:
    """Seconds per headline query of plans.catalog over the fixed tables,
    from the second of two passes; both passes' outputs must equal the
    query's DuckDB oracle.  Outputs go to parquet under ``workdir`` so
    they are checked from the files without running a query twice."""
    import duckdb
    import pyarrow.parquet as pq

    import bench
    from check_oracles import normalize
    from courlan_spark.plans.catalog import ORACLES, QUERIES

    con = duckdb.connect()
    for t in CATALOG_TABLES:
        path = os.path.join(TABLES, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    expected = {q: normalize(con.execute(ORACLES[q]).df())
                for q in bench.HEADLINE_QUERIES}
    con.close()

    out: dict = {}
    for run in ("warm-up", "timed"):
        for q in bench.HEADLINE_QUERIES:
            dest = os.path.join(workdir, "catalog", run, q)
            with spans.span(f"query.{q}") as span:
                QUERIES[q](spark, TABLES).write.mode("overwrite").parquet(dest)
            if normalize(pq.read_table(dest).to_pandas()) != expected[q]:
                raise RuntimeError(f"{q} output differs from its DuckDB oracle")
            out[f"query.{q}.s"] = span["end"] - span["start"]
    return out
