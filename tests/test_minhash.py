"""MinHash-LSH fixed costs: the composed shingle-hash kernel
(``dedup.ngram_hash_batch``) against the string path it replaces, the
agreement estimate on both of its expression forms, and the driver
round trips it takes to build the pair plan."""

from __future__ import annotations

import numpy as np
import pytest

from go_tdigest_spark.operators._batch import poly_hash_batch
from go_tdigest_spark.operators.dedup import (
    FP_BASE,
    FP_MOD,
    SH_MOD,
    lsh_pairs_from_sigs,
    lsh_pairs_vs_index,
    ngram_hash_batch,
    py_shingles,
)

TEXTS = [
    "",
    "   ",
    "one",
    "two words",
    "  Leading and trailing  ",
    "every\tascii\nwhite\rspace\x0bkind\x0cof sep  here",
    "UPPER Case MiXeD words A B C",
    "non bmp \U0001d518\U0001d52b\U0001d526 \U0001f600x and é ß İx",
    "a b c d e f g h i j k l m n o p",
    "the quick brown fox jumps over the lazy dog the quick brown fox",
]


def _string_path(texts, n, mod=FP_MOD):
    doc_pos, shingles, bounds = [], [], [0]
    for i, t in enumerate(texts):
        sh = py_shingles(t, n)
        if sh:
            doc_pos.append(i)
            shingles.extend(sh)
            bounds.append(bounds[-1] + len(sh))
    return poly_hash_batch(shingles, FP_BASE, mod), doc_pos, bounds


@pytest.mark.parametrize("n", [1, 2, 5])
def test_composed_hashes_equal_string_path(n):
    rng = np.random.default_rng(n)
    vocab = ["w%d" % i for i in range(50)] + ["Longer\U0001f600Word", "x"]
    texts = TEXTS + [
        " ".join(rng.choice(vocab, size=int(rng.integers(0, 12))))
        for _ in range(40)
    ]
    h, doc_pos, bounds = ngram_hash_batch(texts, n)
    want_h, want_pos, want_bounds = _string_path(texts, n)
    assert h.dtype == np.int64
    np.testing.assert_array_equal(h, want_h)
    np.testing.assert_array_equal(doc_pos, want_pos)
    np.testing.assert_array_equal(bounds, want_bounds)


def test_composed_hashes_empty_and_short_batches():
    for texts in ([], ["", " \t "], ["too short"]):
        h, doc_pos, bounds = ngram_hash_batch(texts, 5)
        assert h.size == 0 and doc_pos.size == 0
        np.testing.assert_array_equal(bounds, [0])


def test_composed_hashes_refuse_wide_modulus():
    # SH_MOD^2 overflows int64: the composed form would be silently wrong
    with pytest.raises(ValueError, match="mod"):
        ngram_hash_batch(TEXTS, 2, SH_MOD)


def _sig_table(spark, n_hashes, n_docs=24, seed=0):
    """Signatures with planted agreement: every odd doc copies its even
    neighbour and redraws a varying number of positions in the upper
    half (so the first band always matches and every planted pair is a
    candidate); doc 1's signature holds one NULL element."""
    rng = np.random.default_rng(seed)
    sigs = rng.integers(0, 1 << 31, size=(n_docs, n_hashes)).tolist()
    upper = np.arange(n_hashes // 2, n_hashes)
    for d in range(1, n_docs, 2):
        sigs[d] = list(sigs[d - 1])
        for p in rng.choice(upper, size=d % upper.size, replace=False):
            sigs[d][p] = int(rng.integers(0, 1 << 31))
    sigs[1][n_hashes - 1] = None
    return spark.createDataFrame(
        list(enumerate(sigs)), "doc long, sig array<long>"
    )


PLANTED = {(d, d + 1) for d in range(0, 24, 2)}


def _numpy_estimates(rows, pairs, n_hashes):
    # NULL -> NaN, which never compares equal: a disagreement
    sig = {
        d: np.array([np.nan if v is None else v for v in s], dtype=float)
        for d, s in rows
    }
    return {
        (a, b): round(int((sig[a] == sig[b]).sum()) / n_hashes, 4)
        for a, b in pairs
    }


@pytest.mark.parametrize("n_hashes,bands", [(64, 16), (128, 32)])
def test_lsh_pairs_estimate_matches_numpy(spark, n_hashes, bands):
    # 64: the unrolled SQL-string sum; 128: the zip_with fallback
    from go_tdigest_spark.operators import release_dedup_caches

    sigs = _sig_table(spark, n_hashes)
    out = lsh_pairs_from_sigs(sigs, n_hashes, bands, threshold=0.0)
    got = {(a, b): e for a, b, e in out.collect()}
    stored = [tuple(r) for r in out.persisted_sigs.collect()]
    release_dedup_caches()
    assert PLANTED <= set(got)
    assert got == _numpy_estimates(stored, got, n_hashes)
    assert got[(0, 1)] < 1.0  # the NULL position counts as disagreement


def test_lsh_pairs_vs_index_estimate_matches_numpy(spark):
    from pyspark.sql import functions as F

    from go_tdigest_spark.operators import release_dedup_caches

    sigs = _sig_table(spark, 16, seed=3)
    new = sigs.where(F.col("doc") % 2 == 1)
    idx = sigs.where(F.col("doc") % 2 == 0)
    out = lsh_pairs_vs_index(new, idx, 16, 4, threshold=0.0)
    got = {(a, b): e for a, b, e in out.collect()}
    release_dedup_caches()
    rows = [tuple(r) for r in sigs.collect()]
    assert {(b, a) for a, b in PLANTED} <= set(got)
    assert got == _numpy_estimates(rows, got, 16)


def test_lsh_pairs_plan_round_trips(spark, monkeypatch):
    """Building the 64-hash pair plan stays under 1,000 py4j round trips
    (a per-position Column sum took ~6,000: each Column call is ~12)."""
    from py4j.clientserver import ClientServerConnection

    from go_tdigest_spark.operators import release_dedup_caches

    sigs = _sig_table(spark, 64)
    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        calls[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    lsh_pairs_from_sigs(sigs, 64, 16)
    monkeypatch.undo()
    release_dedup_caches()
    assert 0 < calls[0] < 1000, calls[0]
