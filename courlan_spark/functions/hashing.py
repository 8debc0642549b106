"""Numpy-vectorized text fingerprinting kernels + their pandas UDFs.

MinHash (128-perm, 9-char shingles), SimHash (64-bit) and band
hashing for LSH, per the north rule (/root/repo/BASELINE.json:6,14).
The kernels are pure numpy over Arrow batches — no per-row Python in
the hashing hot path beyond the unavoidable string -> codepoint
decode, which is a single vectorized ``frombuffer`` per document.

Design notes for 100 TB scale:
* shingle hashes are 32-bit values produced by a vectorized rolling
  polynomial over UTF-32 codepoints (_rolling_hashes);
* MinHash uses the classic (a*x + b) mod p family with p = 2^61-1;
  products stay < 2^63 because a,b < 2^31 and x < 2^32 — no overflow
  in uint64 arithmetic, no Python bigints;
* signatures are deduplicated-shingle based and chunked so memory per
  document stays bounded regardless of document length;
* band hashes fold (band_id, r signature values) into one 61-bit key
  so the LSH candidate join is a single equi-join on (band_hash).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

MERSENNE61 = (1 << 61) - 1
_SHINGLE_BASE = np.uint64(1000003)

DEFAULT_NUM_PERM = 128
DEFAULT_SHINGLE_K = 9
DEFAULT_BANDS = 32
DEFAULT_SEED = 42


def _shingle_powers(k: int) -> np.ndarray:
    powers = np.empty(k, dtype=np.uint64)
    acc = np.uint64(1)
    mask = np.uint64(0xFFFFFFFF)
    for i in range(k - 1, -1, -1):
        powers[i] = acc
        acc = (acc * _SHINGLE_BASE) & mask
    return powers


_POWERS_CACHE: dict[int, np.ndarray] = {}

# --- O(n) rolling-hash evaluation (round 6) -------------------------------
#
# h[i] = sum_j codes[i+j] * B^(k-1-j)  (mod 2^32) was computed as an
# (n, k) sliding-window matmul — O(n*k) uint64 multiply-adds per doc.
# B = 1000003 is odd, hence invertible mod 2^32, so the same exact
# values come from prefix sums:  with T[m] = codes[m] * B^(-m) and
# Q = cumsum(T), h[i] = (Q[i+k-1] - Q[i-1]) * B^(i+k-1) — O(n) with two
# cached power tables, all arithmetic wrapping uint32 (= mod 2^32).
# Bit-identical to the matmul form (asserted in tests/test_kernels.py);
# the DuckDB oracles re-derive the same polynomial independently.
_ROLL_BASE_INV = np.uint32(pow(int(_SHINGLE_BASE), -1, 1 << 32))
_ROLL_TABLES: list[np.ndarray] | None = None


def _rolling_tables(n: int) -> tuple[np.ndarray, np.ndarray]:
    "(B^i, B^-i) mod 2^32 tables of length >= n, grown on demand."
    global _ROLL_TABLES
    if _ROLL_TABLES is None or _ROLL_TABLES[0].size < n:
        size = 1 << 15
        while size < n:
            size <<= 1
        pows = np.full(size, np.uint32(_SHINGLE_BASE), dtype=np.uint32)
        pows[0] = 1
        np.multiply.accumulate(pows, out=pows)
        ipows = np.full(size, _ROLL_BASE_INV, dtype=np.uint32)
        ipows[0] = 1
        np.multiply.accumulate(ipows, out=ipows)
        _ROLL_TABLES = [pows, ipows]
    return _ROLL_TABLES[0], _ROLL_TABLES[1]


def _rolling_hashes(codes: np.ndarray, k: int) -> np.ndarray:
    """All k-gram rolling hashes of a uint32 codepoint array as uint32
    (length n-k+1; caller guarantees n >= k).  The hash is mod 2^32 by
    construction, so uint32 carries the exact same values as the former
    uint64 return while halving the memory traffic of every downstream
    sort/unique pass (measured 44 -> 31 us/doc on np.unique alone);
    consumers cast to uint64 before any 64-bit mixing."""
    n = codes.size
    pows, ipows = _rolling_tables(n)
    q = np.add.accumulate(codes * ipows[:n], dtype=np.uint32)
    diff = q[k - 1 :].copy()
    diff[1:] -= q[: n - k]
    return diff * pows[k - 1 : n]


def shingle_hashes(text: str, k: int = DEFAULT_SHINGLE_K) -> np.ndarray:
    """Unique 32-bit rolling hashes of all k-character shingles, as
    uint32 (same integer values the former uint64 form carried).
    Shorter-than-k texts hash as a single whole-text shingle."""
    codes32 = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    if codes32.size == 0:
        codes32 = np.zeros(1, dtype=np.uint32)
    if codes32.size < k:
        if k not in _POWERS_CACHE:
            _POWERS_CACHE[k] = _shingle_powers(k)
        powers = _POWERS_CACHE[k][-codes32.size :]
        value = (codes32.astype(np.uint64) * powers).sum() & np.uint64(0xFFFFFFFF)
        return np.array([value], dtype=np.uint32)
    return np.unique(_rolling_hashes(codes32, k))


def _splitmix64(x: np.ndarray) -> np.ndarray:
    "SplitMix64 finalizer — full-avalanche 64-bit mix, vectorized."
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def minhash_signature(
    shingles: np.ndarray,
    num_perm: int = DEFAULT_NUM_PERM,
    seed: int = DEFAULT_SEED,
) -> np.ndarray:
    """One-permutation MinHash with rotation densification
    (Li/Owen/Zhang 2012; Shrivastava/Li 2014): a single 64-bit hash
    pass buckets each shingle into one of `num_perm` bins; the
    signature is the per-bin minimum, with empty bins densified by
    borrowing from the next non-empty bin (offset-mixed).  O(n) work
    per document — ~num_perm times less compute and memory traffic
    than the k-permutation form, with equivalent collision behavior
    for banded LSH (pipeline recall re-verified by exact Jaccard).
    """
    seed_mix = np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))
    hashed = _splitmix64(shingles.astype(np.uint64) + seed_mix)
    if num_perm & (num_perm - 1) == 0:
        # power-of-two bin count (the default 128): a bit-mask yields
        # the exact same bins as the uint64 modulo at a fraction of the
        # cost (hardware div is the single most expensive op in this
        # kernel's hot loop — measured ~6 us/doc saved)
        bins = (hashed & np.uint64(num_perm - 1)).astype(np.int64)
    else:
        bins = (hashed % np.uint64(num_perm)).astype(np.int64)
    values = _splitmix64(hashed)

    sig = np.full(num_perm, np.iinfo(np.uint64).max, dtype=np.uint64)
    # per-bin minimum via the unbuffered scatter-min ufunc: O(n), vs
    # the previous two-key lexsort's O(n log n) — measured 162us ->
    # 37us per web document (r6); identical minima by definition
    np.minimum.at(sig, bins, values)

    empty = sig == np.iinfo(np.uint64).max
    if empty.any():
        if empty.all():
            return np.zeros(num_perm, dtype=np.int64)
        # rotation densification: forward-fill around the circle, and
        # mix the borrow distance in so different-length rotations of
        # the same bin value stay distinguishable
        idx = np.arange(num_perm)
        filled_idx = np.where(~empty, idx, -1)
        doubled = np.concatenate([filled_idx, filled_idx])
        np.maximum.accumulate(doubled, out=doubled)
        src = doubled[idx + num_perm]
        take = src.copy()
        borrow = (idx - take) % num_perm
        sig = np.where(
            empty,
            _splitmix64(sig[take] + borrow.astype(np.uint64)),
            sig,
        )
    return (sig >> np.uint64(3)).astype(np.int64)


def band_hashes_batch(signatures: np.ndarray, bands: int = DEFAULT_BANDS) -> np.ndarray:
    """(n_docs, bands) int64 — row-for-row equal to band_hashes per
    signature row; the per-band fold runs vectorized over the whole
    batch (rows/band iterations of the loop, each over all docs;
    measured 13x the per-row form, which pays numpy call overhead on
    tiny fixed-size inputs).  Batch forms of MinHash and SimHash were
    measured and REJECTED: at web-document shingle counts (~10^3) the
    per-doc kernels are cache-resident and faster than batch variants
    whose concatenated intermediates spill out of cache (pinned
    rationale in PLANS.md round 3)."""
    sig = signatures.astype(np.uint64)
    n_docs = sig.shape[0]
    rows = sig.shape[1] // bands
    grouped = sig[:, : rows * bands].reshape(n_docs, bands, rows)
    mixer = np.uint64(0x9E3779B97F4A7C15)
    p = np.uint64(MERSENNE61)
    acc = np.zeros((n_docs, bands), dtype=np.uint64)
    for i in range(rows):
        acc = ((acc ^ grouped[:, :, i]) * mixer) % p
    acc = (acc + (np.arange(bands, dtype=np.uint64) * mixer)[None, :]) % p
    return acc.astype(np.int64)


def band_hashes(signature: np.ndarray, bands: int = DEFAULT_BANDS) -> np.ndarray:
    """Fold a signature into `bands` 61-bit LSH bucket keys; the band
    index is mixed in so buckets from different bands never collide."""
    sig = signature.astype(np.uint64)
    rows = sig.size // bands
    grouped = sig[: rows * bands].reshape(bands, rows)
    mixer = np.uint64(0x9E3779B97F4A7C15)
    acc = np.zeros(bands, dtype=np.uint64)
    for i in range(rows):
        acc = ((acc ^ grouped[:, i]) * mixer) % np.uint64(MERSENNE61)
    acc = (acc + np.arange(bands, dtype=np.uint64) * mixer) % np.uint64(MERSENNE61)
    return acc.astype(np.int64)


def jaccard(shingles_a: np.ndarray, shingles_b: np.ndarray) -> float:
    "Exact Jaccard over two unique-shingle arrays."
    inter = np.intersect1d(shingles_a, shingles_b, assume_unique=True).size
    union = shingles_a.size + shingles_b.size - inter
    return inter / union if union else 1.0


_BIT_SHIFTS = np.arange(64, dtype=np.uint64)
_BIT_WEIGHTS = (np.uint64(1) << _BIT_SHIFTS).astype(np.uint64)


def simhash64(text: str, shingle_k: int = DEFAULT_SHINGLE_K) -> int:
    """64-bit SimHash over the document's unique character k-gram
    hashes (feature weight 1).  Fully vectorized: one splitmix64 mix
    of the rolling shingle hashes, a (n, 64) bit expansion and a
    column sum — no per-token Python.  Returned as signed int64 for
    Spark LongType columns."""
    return simhash64_from_features(shingle_hashes(text, shingle_k))


def simhash64_from_features(features: np.ndarray) -> int:
    """SimHash from precomputed shingle features — shared with the
    fused fingerprint pass, which computes the shingle hashes once for
    MinHash and SimHash together."""
    if features.size == 0:
        return 0
    hashes = _splitmix64(features.astype(np.uint64))
    # bit-count per position via unpackbits on the little-endian byte
    # view: (n, 64) uint8 — 8x less memory traffic than an int64 matrix.
    # The flat unpack (no axis) avoids a strided copy, and the einsum
    # int32 reduction beats np.sum's pairwise int64 path (83 -> 52
    # us/doc measured, r6); the counts fit int32 for any document under
    # 2^31 shingles.
    bits = np.unpackbits(hashes.view(np.uint8), bitorder="little").reshape(-1, 64)
    counts = np.einsum("ij->j", bits, dtype=np.int32)
    majority = (2 * counts >= hashes.size).astype(np.uint64)
    fingerprint = (majority * _BIT_WEIGHTS).sum(dtype=np.uint64)
    return int(fingerprint.astype(np.int64))


def hamming64(x: int, y: int) -> int:
    "Hamming distance between two 64-bit fingerprints."
    return int(bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1"))


# --- pandas UDF factories (imported lazily by the operators layer) ------


def make_minhash_udf(
    num_perm: int = DEFAULT_NUM_PERM,
    shingle_k: int = DEFAULT_SHINGLE_K,
    seed: int = DEFAULT_SEED,
):
    "text -> array<long> MinHash signature UDF."
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def minhash_udf(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            if not isinstance(text, str):
                text = ""
            sig = minhash_signature(
                shingle_hashes(text, shingle_k), num_perm=num_perm, seed=seed
            )
            out.append(sig.tolist())
        return pd.Series(out)

    return minhash_udf


def make_band_hash_udf(bands: int = DEFAULT_BANDS):
    """signature array<long> -> array<long> of LSH band bucket keys,
    folded per Arrow batch by band_hashes_batch (the fused UDF's kernel)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def bands_udf(signatures: pd.Series) -> pd.Series:
        if signatures.empty:
            return pd.Series([], dtype=object)
        keys = band_hashes_batch(np.vstack(signatures.to_list()), bands=bands)
        return pd.Series(list(keys))

    return bands_udf


def make_simhash_udf():
    "text -> long 64-bit SimHash fingerprint UDF."
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [simhash64(t) if isinstance(t, str) else 0 for t in texts],
            dtype="int64",
        )

    return simhash_udf


def make_jaccard_udf(shingle_k: int = DEFAULT_SHINGLE_K):
    """(text_a, text_b) -> double exact Jaccard on k-char shingles.

    Documents appear in several candidate pairs, so shingle sets are
    cached per batch (keyed by the text object); pairs co-partitioned
    by doc id concentrate the repeats and raise the hit rate."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        cache: dict[str, np.ndarray] = {}

        def sh(text):
            if not isinstance(text, str):
                text = ""
            got = cache.get(text)
            if got is None:
                got = shingle_hashes(text, shingle_k)
                if len(cache) < 65536:
                    cache[text] = got
            return got

        out = [jaccard(sh(ta), sh(tb)) for ta, tb in zip(a, b)]
        return pd.Series(out, dtype="float64")

    # Pure, but marked nondeterministic (guide §4.4 / make_check_url_udf
    # rationale): verify callers filter on the UDF column right above a
    # doc_a spread repartition, and Catalyst pushed the filter — WITH a
    # copy of the UDF — below that exchange, evaluating the kernel twice
    # (plan nodes 47+51 in the r6 q_minhash_lsh_pairs capture).  The
    # marking yields one evaluation, placed AFTER the co-partitioning
    # exchange, which is also where the per-batch shingle cache was
    # designed to hit.
    return jaccard_udf.asNondeterministic()
