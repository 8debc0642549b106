"""Numpy fingerprint kernels: determinism, similarity behavior, LCS."""

import numpy as np

from courlan_spark.functions import hashing as H
from courlan_spark.operators.suffix import (
    longest_common_substring,
    winnow_fingerprints,
)


def test_shingles_deterministic_and_unique():
    a = H.shingle_hashes("hello world, this is a document")
    b = H.shingle_hashes("hello world, this is a document")
    assert (a == b).all()
    assert len(np.unique(a)) == len(a)


def test_short_text_single_shingle():
    assert H.shingle_hashes("abc").size == 1
    assert H.shingle_hashes("").size == 1


def test_minhash_estimates_jaccard():
    rng = np.random.default_rng(0)
    words = [f"w{i}" for i in range(300)]
    base = " ".join(rng.choice(words, 200))
    tokens = base.split()
    tokens[::10] = ["XX"] * len(tokens[::10])
    variant = " ".join(tokens)
    sa, sb = H.shingle_hashes(base), H.shingle_hashes(variant)
    true_j = H.jaccard(sa, sb)
    est = float(
        (H.minhash_signature(sa) == H.minhash_signature(sb)).mean()
    )
    assert abs(true_j - est) < 0.12


def test_band_hashes_match_iff_band_equal():
    sig = H.minhash_signature(H.shingle_hashes("some document text here"))
    bands_a = H.band_hashes(sig)
    assert len(bands_a) == H.DEFAULT_BANDS
    # identical signature -> identical band keys
    assert (bands_a == H.band_hashes(sig.copy())).all()
    # band keys from different band indexes never collide
    assert len(set(bands_a.tolist())) == len(bands_a)


def test_simhash_hamming_tracks_similarity():
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("dog", "cat")
    far = "entirely different content with other words " * 5
    f_base, f_near, f_far = map(H.simhash64, (base, near, far))
    assert H.hamming64(f_base, f_near) < H.hamming64(f_base, f_far)
    assert H.hamming64(f_base, f_base) == 0


def test_lcs_exact():
    assert longest_common_substring("abcdef", "zabcq") == 3
    assert longest_common_substring("abc", "xyz") == 0
    assert longest_common_substring("", "abc") == 0
    shared = "S" * 80
    assert longest_common_substring("aa" + shared + "bb", "cc" + shared) == 80


def test_winnowing_guarantee():
    import numpy as np

    rng = np.random.default_rng(1)
    letters = list("abcdefghijklmnopqrstuvwxyz ")
    doc_a = "".join(rng.choice(letters, 400))
    doc_b = "".join(rng.choice(letters, 400))
    shared = "".join(rng.choice(letters, 80))  # > w + k - 1 = 63
    fa = winnow_fingerprints(doc_a + shared)
    fb = winnow_fingerprints(shared + doc_b)
    assert set(fa.tolist()) & set(fb.tolist())


def test_partition_suffix_array_pass(spark):
    from courlan_spark.operators.suffix import partition_suffix_array_pass

    shared = (
        "the quick brown fox jumps over the lazy dog while the band plays on "
        * 2
    )
    rows = [
        (1, "aaa " + shared + " bbb"),
        (2, "ccc " + shared + " ddd"),
        (3, "totally unrelated text that shares nothing with the others"),
        (4, "another lonely document with its own words and phrases"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    out = [tuple(r) for r in partition_suffix_array_pass(df, min_length=63).collect()]
    assert len(out) == 1
    doc_a, doc_b, block_len = out[0]
    assert (doc_a, doc_b) == (1, 2) and block_len >= 63


def test_r6_kernel_rewrites_bit_identical():
    """Round-6 kernel rewrites pinned against their naive reference
    forms on random unicode-ish documents: (a) the O(n) prefix-inverse
    rolling hash == the (n, k) sliding-window matmul, (b) the blocked
    two-pass window minimum == sliding_window_view().min(axis=1),
    (c) the minimum.at MinHash == the lexsort first-per-bin MinHash.
    A drift in any of these would silently change every fingerprint
    (and fail the DuckDB oracles, but this catches it in seconds)."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from courlan_spark.functions import hashing
    from courlan_spark.operators.suffix import _kgram_hashes, _window_min

    rng = np.random.default_rng(7)
    alphabet = list("abcdefghij klmnopqrstuvwxyz.,!?é中文")
    for length in (0, 5, 9, 24, 25, 26, 39, 40, 63, 500, 3000):
        text = "".join(rng.choice(alphabet, length)) if length else ""
        codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
        for k in (9, 25):
            if codes.size >= k:
                powers = hashing._shingle_powers(k)
                ref = (
                    sliding_window_view(codes.astype(np.uint64), k) @ powers
                ) & np.uint64(0xFFFFFFFF)
                got = hashing._rolling_hashes(codes, k)
                assert np.array_equal(ref, got), (length, k)
        # window min (w = 39, the winnowing window)
        h = _kgram_hashes(text, 25)
        if h.size > 39:
            ref = sliding_window_view(h, 39).min(axis=1)
            assert np.array_equal(ref, _window_min(h, 39))
        # minhash: scatter-min vs the lexsort reference
        feats = hashing.shingle_hashes(text, 9)
        seed_mix = np.uint64((42 * 0x9E3779B97F4A7C15) % (1 << 64))
        hashed = hashing._splitmix64(feats.astype(np.uint64) + seed_mix)
        bins = (hashed % np.uint64(128)).astype(np.int64)
        values = hashing._splitmix64(hashed)
        ref_sig = np.full(128, np.iinfo(np.uint64).max, dtype=np.uint64)
        order = np.lexsort((values, bins))
        first = np.ones(order.size, dtype=bool)
        sorted_bins = bins[order]
        first[1:] = sorted_bins[1:] != sorted_bins[:-1]
        ref_sig[sorted_bins[first]] = values[order][first]
        got_sig = np.full(128, np.iinfo(np.uint64).max, dtype=np.uint64)
        np.minimum.at(got_sig, bins, values)
        assert np.array_equal(ref_sig, got_sig), length


def test_r6b_micro_opts_bit_identical():
    """Second round-6 micro pass pinned against naive references:
    (a) winnow_fingerprints' consecutive-run dedup before np.unique
    returns exactly unique(sliding window min), (b) the power-of-two
    bit-mask binning equals the uint64 modulo binning inside
    minhash_signature, (c) the uint32 rolling-hash return carries the
    same integer values as the former uint64 form end to end
    (signatures and simhash unchanged)."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    from courlan_spark.functions import hashing
    from courlan_spark.operators.suffix import _kgram_hashes

    rng = np.random.default_rng(11)
    alphabet = list("abcdefghij klmnopqrstuvwxyz.,!?é中文")
    # include a run-heavy text (repeats) so the dedup path sees long runs
    texts = ["".join(rng.choice(alphabet, n)) for n in (0, 24, 25, 63, 64, 500, 3000)]
    texts.append("abcdefghij" * 120)
    for text in texts:
        # (a) winnow set identity vs naive unique(window-min)
        h = _kgram_hashes(text, 25)
        if h.size > 39:
            ref = np.unique(
                sliding_window_view(h, 39).min(axis=1)
            ).astype(np.int64)
            assert np.array_equal(ref, winnow_fingerprints(text)), len(text)
        # (b) mask == modulo binning for the default 128 bins
        feats = hashing.shingle_hashes(text)
        hashed = hashing._splitmix64(
            feats.astype(np.uint64)
            + np.uint64((hashing.DEFAULT_SEED * 0x9E3779B97F4A7C15) % (1 << 64))
        )
        assert np.array_equal(
            hashed % np.uint64(128), hashed & np.uint64(127)
        ), len(text)
        # (c) uint32 shingle values == the former uint64 pipeline values
        codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
        if codes.size >= hashing.DEFAULT_SHINGLE_K:
            powers = hashing._shingle_powers(hashing.DEFAULT_SHINGLE_K)
            ref64 = np.unique(
                (
                    sliding_window_view(
                        codes.astype(np.uint64), hashing.DEFAULT_SHINGLE_K
                    )
                    @ powers
                )
                & np.uint64(0xFFFFFFFF)
            )
            assert np.array_equal(ref64, feats.astype(np.uint64)), len(text)
        assert feats.dtype == np.uint32
