"""Kernel microbenchmarks mirroring the reference's Go benchmark shapes
(BASELINE.md §1; definitions at /root/reference/tdigest_test.go:681-838
and serialization_test.go:237-300 — the reference publishes no numbers,
so these are our side of the comparison).

Writes BENCH/kernel_micro.json and prints it.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_tdigest_spark import serde  # noqa: E402
from go_tdigest_spark.core import TDigest  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMPRESSIONS = [1, 10, 20, 30, 50, 100]  # tdigest_test.go:681


def timeit(fn, reps=5):
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def merge_stage_case(n_groups: int, n_partials: int = 3, reps: int = 5) -> dict:
    """Tree-merge stage body, driver-side (no Spark): one shuffle
    partition's worth of t-digest partials, ``n_partials`` per group of
    an int64 key, arriving partition by partition as a merge level sees
    them.  ``split_ms`` times ``_tree.merge_groups`` (Arrow group_by,
    per-group merge callback, summed counts, key columns);
    ``callbacks_ms`` times the merge callbacks alone on pre-split
    groups, the floor any split design pays.  Milliseconds, best of
    ``reps``."""
    import pyarrow as pa

    from go_tdigest_spark.operators._tree import merge_groups
    from go_tdigest_spark.operators.aggregate import _merge_digests

    rng = np.random.default_rng(7)
    keys = rng.permutation(np.arange(n_groups, dtype=np.int64) * 7919)
    blobs, key_col = [], []
    for _ in range(n_partials):  # one block of partials per upstream partition
        for k in keys:
            blobs.append(serde.encode(TDigest.from_values(rng.random(2))))
            key_col.append(int(k))
    table = pa.table(
        {
            "k": pa.array(key_col, pa.int64()),
            "digest": pa.array(blobs, pa.binary()),
            "n_rows": pa.array(np.full(len(blobs), 2), pa.int64()),
            "total_weight": pa.array(np.full(len(blobs), 2), pa.int64()),
        }
    )
    groups = [blobs[g::n_groups] for g in range(n_groups)]
    return {
        "split_ms": round(
            timeit(
                lambda: merge_groups(table, ["k"], table.schema, _merge_digests),
                reps,
            )
            * 1e3,
            1,
        ),
        "callbacks_ms": round(
            timeit(lambda: [_merge_digests(b) for b in groups], reps) * 1e3, 1
        ),
    }


# the pyspark.zip entries of a warmed Spark 4.1 Python worker's
# sys.path_importer_cache (the archive on PYTHONPATH and one per imported
# subpackage); the worker also holds the py4j zip and the spark-core jar,
# two entries each
WORKER_ZIP_PREFIXES = (
    "",
    "pyspark",
    "pyspark/cloudpickle",
    "pyspark/core",
    "pyspark/errors",
    "pyspark/errors/exceptions",
    "pyspark/logger",
    "pyspark/resource",
    "pyspark/sql",
    "pyspark/sql/functions",
    "pyspark/sql/pandas",
    "pyspark/sql/streaming",
)


def worker_invalidate_case(reps: int = 5) -> dict | None:
    """A Spark Python worker's per-task ``importlib.invalidate_caches()``
    without Spark: zipimporters for ``$SPARK_HOME/python/lib/pyspark.zip``
    at the prefixes a warmed worker holds are registered in
    ``sys.path_importer_cache`` and the call is timed with the stock
    ``zipimporter.invalidate_caches`` (``stock_ms``) and with
    ``go_tdigest_spark._worker``'s conditional reload (``shim_ms``).
    Milliseconds, best of ``reps``; None when there is no pyspark.zip."""
    import importlib
    import zipimport

    from go_tdigest_spark import _worker

    archive = os.path.join(
        os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip"
    )
    if not os.path.isfile(archive):
        print(f"worker_invalidate_case: skipped, no {archive}")
        return None
    cls = zipimport.zipimporter
    stock = cls.invalidate_caches
    paths = [os.path.join(archive, p) if p else archive for p in WORKER_ZIP_PREFIXES]
    try:
        for path in paths:
            sys.path_importer_cache[path] = cls(path)
        stock_ms = timeit(importlib.invalidate_caches, reps) * 1e3
        _worker._patch()
        shim_ms = timeit(importlib.invalidate_caches, reps) * 1e3
    finally:
        cls.invalidate_caches = stock
        for path in paths:
            sys.path_importer_cache.pop(path, None)
    return {
        "zipimporters": len(paths),
        "stock_ms": round(stock_ms, 2),
        "shim_ms": round(shim_ms, 2),
    }


def shingle_hash_case(n_docs: int = 750, n: int = 5, reps: int = 5) -> dict:
    """MinHash signing's shingle hashing on one seeded batch of
    ``n_docs`` docs shaped like the docs_dedup benchmark's (150-300
    words, Zipf-ish over a 20,000-word vocabulary), ``n``-word shingles.
    ``string_ms`` builds every shingle string (py_shingles) and hashes
    them with ``poly_hash_batch``; ``composed_ms`` is
    ``dedup.ngram_hash_batch`` (words hashed once, shingle hashes
    composed in NumPy).  Milliseconds, best of ``reps``; ``equal`` is
    the bit-identity of hashes, doc bounds and kept positions."""
    from go_tdigest_spark.operators._batch import poly_hash_batch
    from go_tdigest_spark.operators.dedup import (
        FP_BASE,
        FP_MOD,
        ngram_hash_batch,
        py_shingles,
    )

    rng = np.random.default_rng(11)
    vocab = np.array([f"w{i}" for i in range(20_000)], dtype=object)
    texts = [
        " ".join(vocab[(vocab.size * rng.random(k) ** 1.5).astype(np.int64)])
        for k in rng.integers(150, 300, n_docs)
    ]

    def string_path():
        doc_pos, shingles, bounds = [], [], [0]
        for i, t in enumerate(texts):
            sh = py_shingles(t, n)
            if sh:
                doc_pos.append(i)
                shingles.extend(sh)
                bounds.append(bounds[-1] + len(sh))
        return poly_hash_batch(shingles, FP_BASE, FP_MOD), doc_pos, bounds

    composed = ngram_hash_batch(texts, n)
    return {
        "string_ms": round(timeit(string_path, reps) * 1e3, 1),
        "composed_ms": round(
            timeit(lambda: ngram_hash_batch(texts, n), reps) * 1e3, 1
        ),
        "equal": all(
            np.array_equal(x, y) for x, y in zip(string_path(), composed)
        ),
    }


def main() -> None:
    rng = np.random.default_rng(42)
    out: dict = {}

    # BenchmarkTDigestAddOnce shape: throughput of streaming adds,
    # uniform [0,1), per compression (we add in batches — that IS our
    # insert path)
    add_once = {}
    data = rng.random(1_000_000)
    for c in COMPRESSIONS:
        def run(c=c):
            d = TDigest(compression=c)
            for i in range(0, data.size, 10_000):
                d.add_batch(data[i : i + 10_000])
            d.compress()

        sec = timeit(run, reps=3)
        add_once[str(c)] = int(data.size / sec)
    out["add_uniform_values_per_sec_by_compression"] = add_once

    # BenchmarkTDigestAddMulti shape: digest build at n in {10,1e2,1e3,1e4}
    build = {}
    for n in (10, 100, 1_000, 10_000):
        vals = rng.random(n)
        sec = timeit(lambda v=vals: TDigest.from_values(v), reps=20)
        build[str(n)] = round(sec * 1e6, 1)  # microseconds per build
    out["build_micros_by_n"] = build

    # BenchmarkTDigestMerge shape: merge of n sub-digests, each 20*delta
    # samples, then compress (tdigest_test.go:744-791)
    merge = {}
    for n in (1, 10, 100):
        subs = [
            TDigest.from_values(rng.random(20 * 100)) for _ in range(n)
        ]
        def run(subs=subs):
            d = TDigest.merge_all([s.clone() for s in subs])
            d.compress()

        merge[str(n)] = round(timeit(run, reps=10) * 1e3, 3)  # ms
    out["merge_ms_by_n_subdigests"] = merge

    # pathological ordered inserts (BenchmarkAddOrdered)
    ordered = np.arange(1_000_000, dtype=np.float64)
    def run_ordered():
        d = TDigest(compression=100)
        for i in range(0, ordered.size, 10_000):
            d.add_batch(ordered[i : i + 10_000])

    out["ordered_insert_values_per_sec"] = int(
        ordered.size / timeit(run_ordered, reps=3)
    )

    # serialization shapes (serialization_test.go:237-300)
    d100 = TDigest.from_values(rng.random(100))
    dbig = TDigest.from_values(rng.random(1_000_000))
    ref_bytes = serde.to_ref_bytes(d100)
    int_bytes = serde.encode(dbig)
    out["serde_micros"] = {
        "to_ref_bytes_100": round(timeit(lambda: serde.to_ref_bytes(d100), 50) * 1e6, 1),
        "from_ref_bytes_100": round(
            timeit(lambda: serde.from_ref_bytes(ref_bytes), 50) * 1e6, 1
        ),
        "encode_internal_1M_digest": round(timeit(lambda: serde.encode(dbig), 50) * 1e6, 1),
        "decode_internal_1M_digest": round(
            timeit(lambda: serde.decode(int_bytes), 50) * 1e6, 1
        ),
    }

    # dense integer fast path (no reference analogue — our token-id lane)
    toks = (rng.integers(0, 50257, size=5_000_000)).astype(np.int32)
    def run_tok():
        d = TDigest()
        d.add_batch(toks)
        d._flush()

    out["int_token_values_per_sec"] = int(toks.size / timeit(run_tok, reps=3))

    # tree-merge stage at the highcard_sketches benchmark's grouping
    # (~460 groups) and ten times it
    out["merge_stage_by_groups"] = {
        str(g): merge_stage_case(g) for g in (460, 5_000)
    }

    # a Spark Python worker's per-task import-cache invalidation
    out["worker_invalidate_ms"] = worker_invalidate_case()

    # MinHash signing's shingle hashes: shingle strings vs composed
    # from word hashes (750 docs, 5-word shingles)
    out["shingle_hash_ms"] = shingle_hash_case()

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "kernel_micro.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
