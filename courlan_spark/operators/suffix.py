"""Long-verbatim-substring duplicate detection.

Two-stage design, per the north rule's "per-partition suffix-array
pass" (/root/repo/BASELINE.json:6,14) made cross-partition-safe:

1. **Winnowing fingerprints** (Schleimer et al., MOSS): per document,
   hash all k-grams, keep the minimum hash in every window of w
   consecutive k-grams.  Two documents sharing a verbatim block of at
   least w + k - 1 characters are *guaranteed* to share a fingerprint,
   so grouping by fingerprint finds every long-substring pair without
   any cross join — this is the shuffle key that co-locates candidates.

2. **Per-group suffix-array verify**: candidate groups are small; the
   exact longest-common-substring check runs in a grouped pandas pass
   (suffix automaton, O(n+m) per pair).

The removal variant (remove_duplicate_blocks / strip_shared_blocks)
rewrites documents with duplicated long blocks dropped, keeping the
earliest doc's copy — exact against the declarative "union of shared
min_length-gram windows" semantics its DuckDB oracle recomputes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_KGRAM = 25
DEFAULT_WINDOW = 39  # guarantee threshold: blocks >= 39+25-1 = 63 chars


def _kgram_hashes(text: str, k: int) -> np.ndarray:
    # O(n) prefix-inverse rolling hash (same base/mask as the shingle
    # kernel — see hashing._rolling_hashes; bit-identical to the former
    # (n, k) sliding-window matmul, measured 42 -> 9 us/doc at k=25)
    from ..functions.hashing import _rolling_hashes

    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    if codes.size < k:
        return np.empty(0, dtype=np.uint32)
    return _rolling_hashes(codes, k)


def _window_min(hashes: np.ndarray, w: int) -> np.ndarray:
    """Minimum of every length-w window — two-pass block-min (van
    Herk/Gil-Werman): prefix minima and suffix minima over w-sized
    blocks give each window minimum as min(suffix[i], prefix[i+w-1]).
    O(3n) regardless of w, vs the former sliding_window_view
    .min(axis=1)'s O(n*w); identical output (pinned in
    tests/test_kernels.py)."""
    nw = hashes.size - w + 1
    pad = (-hashes.size) % w
    if pad:
        hp = np.concatenate(
            [hashes, np.full(pad, np.iinfo(hashes.dtype).max, dtype=hashes.dtype)]
        )
    else:
        hp = hashes
    blocks = hp.reshape(-1, w)
    pref = np.minimum.accumulate(blocks, axis=1).ravel()
    suf = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suf[:nw], pref[w - 1 : w - 1 + nw])


def winnow_fingerprints(text: str, k: int = DEFAULT_KGRAM, w: int = DEFAULT_WINDOW) -> np.ndarray:
    "Unique winnowed fingerprint set of a document."
    hashes = _kgram_hashes(text, k)
    if hashes.size == 0:
        return np.empty(0, dtype=np.int64)
    if hashes.size <= w:
        return np.unique(hashes.min(keepdims=True)).astype(np.int64)
    wm = _window_min(hashes, w)
    # each window minimum persists for ~w consecutive windows, so wm is
    # run-length redundant by construction; dropping consecutive
    # repeats first (O(n) compare) shrinks the np.unique sort from n
    # elements to ~2n/w without changing the value SET it returns
    # (measured 94 -> ~30 us/doc; identical output pinned in
    # tests/test_kernels.py)
    keep = np.empty(wm.size, dtype=bool)
    keep[0] = True
    np.not_equal(wm[1:], wm[:-1], out=keep[1:])
    return np.unique(wm[keep]).astype(np.int64)


def _suffix_automaton(a: str) -> tuple[list[int], list[int], list[dict[str, int]]]:
    "Build the suffix automaton of `a`: (link, length, transitions)."
    last, size = 0, 1
    link = [-1]
    length = [0]
    trans: list[dict[str, int]] = [{}]
    for ch in a:
        cur = size
        size += 1
        length.append(length[last] + 1)
        link.append(-1)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = trans[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = size
                size += 1
                length.append(length[p] + 1)
                link.append(link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    return link, length, trans


def _match_lengths(
    automaton: tuple[list[int], list[int], list[dict[str, int]]], b: str
) -> list[int]:
    """For each position i of `b`, the length of the longest suffix of
    b[:i+1] that occurs in the automaton's source string."""
    link, length, trans = automaton
    out = []
    cur_len = 0
    v = 0
    for ch in b:
        while v and ch not in trans[v]:
            v = link[v]
            cur_len = length[v]
        if ch in trans[v]:
            v = trans[v][ch]
            cur_len += 1
        else:
            v, cur_len = 0, 0
        out.append(cur_len)
    return out


def longest_common_substring(a: str, b: str) -> int:
    "Exact LCS length via suffix automaton of `a` streamed with `b`."
    if not a or not b:
        return 0
    lengths = _match_lengths(_suffix_automaton(a), b)
    return max(lengths) if lengths else 0


def strip_shared_blocks(
    text: str, refs: list[str], min_length: int = 63
) -> tuple[str, int]:
    """Remove every character of ``text`` lying inside a block of
    >= min_length chars that also occurs verbatim in any of ``refs``.

    Exact declarative semantics (what the DuckDB oracle recomputes):
    position p is removed iff some window text[i : i+min_length]
    containing p is a substring of a ref — equivalently, p lies inside
    a maximal shared block of length >= min_length.  Computed in
    O(len(text) + sum(len(ref))) with one suffix-automaton walk per
    ref (the per-position longest-match lengths give the block spans).
    Returns (rewritten text, number of characters removed); a single
    pass — removal does not iterate on newly adjacent text."""
    if not text or not refs:
        return text, 0
    covered = np.zeros(len(text), dtype=bool)
    for ref in refs:
        if not ref:
            continue
        lengths = _match_lengths(_suffix_automaton(ref), text)
        for i, li in enumerate(lengths):
            if li >= min_length:
                covered[i - li + 1 : i + 1] = True
    if not covered.any():
        return text, 0
    kept = "".join(ch for ch, c in zip(text, covered) if not c)
    return kept, int(covered.sum())


def make_winnow_udf(k: int = DEFAULT_KGRAM, w: int = DEFAULT_WINDOW):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def winnow_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                winnow_fingerprints(t if isinstance(t, str) else "", k, w).tolist()
                for t in texts
            ]
        )

    return winnow_udf


def substring_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_KGRAM,
    w: int = DEFAULT_WINDOW,
    max_bucket_size: int | None = 128,
    min_shared_fps: int = 2,
    winnow: DataFrame | None = None,
    old_winnow: DataFrame | None = None,
    prune_old_by_new_keys: bool = False,
) -> DataFrame:
    """(doc_a, doc_b) sharing >= min_shared_fps winnowed fingerprints.

    min_shared_fps=1 preserves the strict winnowing guarantee (blocks
    >= w+k-1); the default of 2 raises the detection floor to roughly
    2w+k-1 chars but suppresses the quadratic blowup from single
    phrase-level collisions — at web scale the single-fp pairs are
    dominated by boilerplate phrases, not verbatim blocks.  Oversized
    buckets (> max_bucket_size docs) are boilerplate shared by whole
    site families; they are excluded here and belong to the exact-text
    / MinHash paths.

    ``winnow`` (optional): precomputed (doc_id, winnow array<long>)
    fingerprints — e.g. from operators.fingerprints.fused_fingerprints,
    which shares one text scan across all three fingerprint kernels;
    when given, the text column is never touched here.
    ``old_winnow`` (optional) is a store side of the same shape: only
    pairs with at least one new side come out (dedup.bucket_pairs).
    """
    from . import dedup

    if winnow is not None:
        fps = winnow.select(
            F.col(id_col).alias("doc_id"), F.explode("winnow").alias("fp")
        )
    else:
        udf = make_winnow_udf(k, w)
        # hash-spread on the unique id — keyless repartition pays a
        # sortBeforeRepartition pass (see dedup.minhash_signatures)
        source = docs.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
        fps = source.select(
            F.col(id_col).alias("doc_id"), F.explode(udf(F.col(text_col))).alias("fp")
        )
    old_fps = None
    if old_winnow is not None:
        old_fps = old_winnow.select(
            F.col(id_col).alias("doc_id"), F.explode("winnow").alias("fp")
        )
    joined = (
        dedup.bucket_pairs(
            fps,
            "fp",
            max_bucket_size,
            old_rows=old_fps,
            prune_old_by_new_keys=prune_old_by_new_keys,
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_fps"))
    )
    return joined.where(F.col("n_shared_fps") >= min_shared_fps).select(
        "doc_a", "doc_b"
    )


def verify_substring_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_length: int = 63,
    old_docs: DataFrame | None = None,
) -> DataFrame:
    """Exact LCS verification: keep pairs with a shared block >= min_length.

    ``old_docs`` (optional) is a store side: the pairs' partners among
    them, pruned by one bounded collect of the pairs' ids
    (incremental.prune_store_by_ids), join the delta's ``docs``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def lcs_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                longest_common_substring(x or "", y or "")
                for x, y in zip(a, b)
            ],
            dtype="int32",
        )

    # pure, but marked nondeterministic: the lcs_len filter below was
    # being pushed — with a COPY of this ms-per-pair pure-Python UDF —
    # beneath the spread repartition, running the suffix automaton
    # twice per pair (plan nodes 33+37 in the r6 q_substring_pairs
    # capture; guide §4.4).  One evaluation, after the spread exchange.
    lcs_udf = lcs_udf.asNondeterministic()

    from . import incremental as inc
    from .dedup import attach_pair_payloads

    if old_docs is not None:
        docs = inc.with_store_rows(
            docs.select(id_col, text_col), old_docs, inc.collect_pair_ids(pairs), id_col
        )
    paired = attach_pair_payloads(pairs, docs, id_col, text_col, "ta", "tb")
    # spread the (CPU-heavy) LCS work on the pair identity: keyed, so
    # no sortBeforeRepartition pass over the attached text payloads
    # (which round-robin pays), and effectively unique, so a popular
    # keeper doc cannot concentrate its pairs on one task the way a
    # doc_a-only key would
    paired = paired.repartition(
        paired.sparkSession.sparkContext.defaultParallelism, "doc_a", "doc_b"
    )
    return (
        paired.withColumn("lcs_len", lcs_udf("ta", "tb"))
        .where(F.col("lcs_len") >= min_length)
        .select("doc_a", "doc_b", "lcs_len")
    )


def remove_duplicate_blocks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_length: int = DEFAULT_WINDOW + DEFAULT_KGRAM - 1,
    k: int = DEFAULT_KGRAM,
    w: int = DEFAULT_WINDOW,
    max_bucket_size: int | None = None,
    max_refs_per_doc: int | None = 8,
    observation=None,
) -> DataFrame:
    """Long-verbatim-block REMOVAL (the training-data variant of the
    substring stage): every document is rewritten with the characters
    dropped that lie inside a >= min_length block shared with any
    EARLIER document (smaller id); the earliest copy keeps its text.

    Plan: winnowing candidates (min_shared_fps=1 — the strict
    guarantee, so every sharing pair is found) orient earliest->later,
    the later doc collects its partners' distinct texts (one shuffle),
    and a pandas UDF strips the covered spans.  Exact for
    min_length >= w + k - 1, max_bucket_size=None AND
    max_refs_per_doc=None.

    Memory bound (round-3 fix): ``max_refs_per_doc`` caps how many
    partner TEXTS a document's ``_refs`` array may carry — without it,
    a boilerplate block shared by 10^5 documents would make every
    later doc's row collect up to bucket-cap-many full document texts
    (an executor-OOM row at web scale, not a slow one).  The kept
    partners are the ``max_refs_per_doc`` smallest doc ids per dupe
    (deterministic; a window over the same key the collect aggregation
    shuffles on, so the cap shares that exchange).  Accounting is
    unconditional: refs kept/dropped and the number of affected docs
    ride a pyspark Observation — the caller's ``observation`` when
    given, else one created here and exposed as
    ``result._refs_observation`` — so a bounded removal can never
    truncate silently.  Docs whose refs were dropped may under-strip;
    the accounting makes that auditable.

    SCOPE of the attribute: ``_refs_observation`` is a plain Python
    attribute on the directly returned DataFrame ONLY — any further
    transformation (``select``/``filter``/``persist``/...) returns a
    new DataFrame without it.  A caller that transforms the result
    before its first action MUST pass its own ``observation=`` to keep
    the accounting; the Observation object itself is unaffected by
    downstream transformations and fires on the first action that
    executes the observed node (round-4 ADVICE).

    Returns the input columns with ``text`` rewritten plus
    ``n_removed`` (characters dropped)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    if min_length < w + k - 1:
        raise ValueError(
            f"min_length={min_length} below the winnowing guarantee "
            f"threshold w+k-1={w + k - 1}: candidate pairs would miss blocks"
        )
    pairs = substring_candidate_pairs(
        docs,
        id_col=id_col,
        text_col=text_col,
        k=k,
        w=w,
        max_bucket_size=max_bucket_size,
        min_shared_fps=1,
    )
    refs_observation = observation
    if max_refs_per_doc is not None:
        ranked = pairs.withColumn(
            "_ref_rn",
            F.row_number().over(Window.partitionBy("doc_b").orderBy("doc_a")),
        )
        # accounting is unconditional — a bounded removal must never
        # truncate silently: when the caller passes no Observation one
        # is created here and exposed as `_refs_observation` on the
        # returned DataFrame (readable after the first action)
        if refs_observation is None:
            from pyspark.sql import Observation

            refs_observation = Observation("remove_blocks_refs")
        over_cap = F.col("_ref_rn") > max_refs_per_doc
        ranked = ranked.observe(
            refs_observation,
            F.sum((~over_cap).cast("long")).alias("refs_kept"),
            F.sum(over_cap.cast("long")).alias("refs_dropped"),
            F.sum(
                (F.col("_ref_rn") == max_refs_per_doc + 1).cast("long")
            ).alias("docs_with_dropped_refs"),
        )
        pairs = ranked.where(F.col("_ref_rn") <= max_refs_per_doc).drop("_ref_rn")
    texts = docs.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_rtext"))
    refs = (
        pairs.join(texts, "doc_a")  # doc_a < doc_b: doc_a is the keeper
        .groupBy("doc_b")
        .agg(F.collect_set("_rtext").alias("_refs"))
        .withColumnRenamed("doc_b", "__dupe_id")
    )

    @pandas_udf("struct<new_text:string,n_removed:long>")
    def strip_udf(texts: pd.Series, refs: pd.Series) -> pd.DataFrame:
        rows = []
        for text, ref_list in zip(texts, refs):
            if not isinstance(text, str) or ref_list is None or len(ref_list) == 0:
                rows.append({"new_text": text, "n_removed": 0})
                continue
            new_text, removed = strip_shared_blocks(
                text, list(ref_list), min_length
            )
            rows.append({"new_text": new_text, "n_removed": removed})
        return pd.DataFrame(rows)

    out = docs.join(refs, F.col(id_col) == F.col("__dupe_id"), "left").withColumn(
        "_stripped", strip_udf(F.col(text_col), F.col("_refs"))
    )
    keep_cols = [c for c in docs.columns if c != text_col]
    result = out.select(
        *keep_cols,
        F.col("_stripped.new_text").alias(text_col),
        F.col("_stripped.n_removed").alias("n_removed"),
    )
    # surface the drop accounting even when the caller didn't ask: the
    # attribute is the engine's no-silent-caps contract for this op
    result._refs_observation = refs_observation
    return result


def partition_suffix_array_pass(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_length: int = 63,
    group_col: str | None = None,
) -> DataFrame:
    """Per-partition suffix-array scan: within each partition (after an
    optional repartition by a co-location key such as a fingerprint
    bucket or cluster id), build one suffix array over the
    concatenated docs and emit (doc_a, doc_b, block_len) for adjacent
    suffixes from different docs with common prefix >= min_length.

    This is the mapInPandas realization of the north rule's
    per-partition suffix-array stage: exact within a partition, and
    complete overall when fed partitions keyed by winnowing buckets.

    Pairs are emitted *run-complete*: every maximal run of suffixes
    whose adjacent common prefixes all reach ``min_length`` yields
    every cross-document pair inside the run (pairwise block length =
    the minimum adjacent LCP between them, capped at the comparison
    width).  Because LCP(x, z) = min of the adjacent LCPs on the path
    x..z, this emits exactly the pairs sharing a verbatim block of
    >= min_length chars — a set that does not depend on the
    concatenation order of documents within the partition (adjacent-
    only emission, by contrast, leaks the suffix sort order into the
    result).  block_len is min(true longest common block, min_length+1
    comparison width, distance to the document separator).
    """
    width = min_length + 1
    if width > 64:
        raise ValueError(
            f"min_length={min_length} exceeds the 63-char ceiling of the "
            "fixed-width suffix comparison (width 64); use "
            "verify_substring_pairs for longer thresholds"
        )
    source = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    if group_col is not None:
        source = docs.repartition(F.col(group_col)).select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )

    def scan(iterator):
        for pdf in iterator:
            ids = pdf["doc_id"].tolist()
            texts = [t if isinstance(t, str) else "" for t in pdf["text"]]
            if not ids:
                continue
            # concatenate with unique separators, track ownership
            owners = []
            chunks = []
            for i, t in enumerate(texts):
                owners.append(np.full(len(t) + 1, i, dtype=np.int32))
                chunks.append(t + "\x00")
            corpus = "".join(chunks)
            owner = np.concatenate(owners)
            codes = np.frombuffer(corpus.encode("utf-32-le"), dtype=np.uint32)
            n = codes.size
            if n < min_length:
                continue
            # suffix array via numpy argsort on fixed-width prefixes
            padded = np.concatenate([codes, np.zeros(width, dtype=np.uint32)])
            prefixes = sliding_window_view(padded, width)[:n]
            order = np.lexsort(prefixes.T[::-1])
            # adjacent LCPs, vectorized: one (n-1, width) equality pass
            eq = prefixes[order[:-1]] == prefixes[order[1:]]
            adj = np.where(eq.all(axis=1), width, np.argmin(eq, axis=1)).astype(
                np.int64
            )
            # separators terminate matches (only rows at/above the
            # threshold need the per-row string scan)
            for idx in np.nonzero(adj >= min_length)[0]:
                a = order[idx]
                sep = corpus.find("\x00", a, a + int(adj[idx]))
                if sep != -1:
                    adj[idx] = sep - a
            pairs: dict[tuple[int, int], int] = {}
            hot = adj >= min_length
            idx = 0
            m = order.size
            while idx < m - 1:
                if not hot[idx]:
                    idx += 1
                    continue
                start = idx
                while idx < m - 1 and hot[idx]:
                    idx += 1
                members = order[start : idx + 1]
                lcps = adj[start:idx]
                for x in range(len(members)):
                    run_min = width
                    ox = owner[members[x]]
                    for y in range(x + 1, len(members)):
                        run_min = min(run_min, int(lcps[y - 1]))
                        oy = owner[members[y]]
                        if ox == oy:
                            continue
                        ia, ib = int(ids[ox]), int(ids[oy])
                        key = (ia, ib) if ia < ib else (ib, ia)
                        if run_min > pairs.get(key, 0):
                            pairs[key] = run_min
            if pairs:
                yield pd.DataFrame(
                    [
                        {"doc_a": k[0], "doc_b": k[1], "block_len": v}
                        for k, v in pairs.items()
                    ]
                )

    return source.mapInPandas(scan, schema="doc_a long, doc_b long, block_len int")
