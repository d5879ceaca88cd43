"""Seeded inputs and exact oracles for the benchmark workloads.

Only numpy and pyarrow are used here: nothing imports the library under
test, so a change to the library can never change the benchmark's own
inputs.  ``generate(workload, seed, size, root)`` writes parquet once per
(workload, seed, size) under ``root`` and returns a ``Dataset`` whose
oracle was computed from the generated arrays at generation time.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("tokens_by_source", "highcard_sketches", "docs_dedup")

# F1-shaped corpus: five sources with a 70/15/10/4/1 skew
SOURCES = ("web", "books", "code", "papers", "wiki")
SOURCE_P = np.array([0.70, 0.15, 0.10, 0.04, 0.01])
VOCAB = 32_000

SIZES = {
    "full": {
        "tokens_by_source": dict(n_seq=30_000, mean_len=100, files=4),
        "highcard_sketches": dict(n_rows=3_000, n_keys=500, files=4),
        "docs_dedup": dict(n_docs=3_000, n_pairs=150, files=4),
    },
    "tiny": {
        "tokens_by_source": dict(n_seq=2_000, mean_len=40, files=4),
        "highcard_sketches": dict(n_rows=600, n_keys=100, files=4),
        "docs_dedup": dict(n_docs=300, n_pairs=20, files=2),
    },
}


@dataclass
class Dataset:
    workload: str
    path: str  # directory holding part-*.parquet
    files: list  # sorted absolute file paths
    n_values: int  # values the workload digests (its throughput unit)
    oracle: dict  # name -> numpy array or python scalar


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), WORKLOADS.index(workload)])


def _sources(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.choice(len(SOURCES), size=n, p=SOURCE_P).astype(np.int64)


def _seq_lengths(rng: np.random.Generator, n: int, mean_len: int) -> np.ndarray:
    # lognormal sequence lengths (sigma 0.8), at least one token each
    mu = np.log(mean_len) - 0.32
    return np.maximum(1, rng.lognormal(mu, 0.8, n)).astype(np.int64)


def _sorted_by_group(groups: np.ndarray, values: np.ndarray, n_groups: int):
    """(offsets, values sorted by (group, value)): group g's sorted values
    are ``values[offsets[g]:offsets[g+1]]``."""
    order = np.lexsort((values, groups))
    counts = np.bincount(groups, minlength=n_groups)
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    return offsets, values[order]


def _write_parts(table: pa.Table, path: str, files: int) -> None:
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(np.int64)
    for i in range(files):
        part = table.slice(int(bounds[i]), int(bounds[i + 1] - bounds[i]))
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _tokens_table(rng, n_seq: int, mean_len: int):
    src = _sources(rng, n_seq)
    lens = _seq_lengths(rng, n_seq, mean_len)
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    # skewed token ids (low ids frequent), int32 as a tokenizer emits
    tokens = (VOCAB * rng.random(int(offsets[-1])) ** 2.5).astype(np.int32)
    table = pa.table(
        {
            "seq_id": pa.array(np.arange(n_seq, dtype=np.int64)),
            "source": pa.array([SOURCES[s] for s in src], type=pa.string()),
            "n_tok": pa.array(lens.astype(np.int32)),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(tokens)
            ),
        }
    )
    return table, src, lens, tokens


def _seq_oracle(src: np.ndarray, lens: np.ndarray) -> dict:
    offsets, sorted_len = _sorted_by_group(src, lens, len(SOURCES))
    return {"seq_offsets": offsets, "seq_sorted": sorted_len}


def _gen_tokens_by_source(rng, n_seq, mean_len, files):
    table, src, lens, tokens = _tokens_table(rng, n_seq, mean_len)
    tok_src = np.repeat(src, lens)
    # exact per-source token histogram: every rank query is a cumsum read
    hist = np.zeros((len(SOURCES), VOCAB), dtype=np.int64)
    for s in range(len(SOURCES)):
        hist[s] = np.bincount(tokens[tok_src == s], minlength=VOCAB)
    oracle = {"tok_hist": hist, **_seq_oracle(src, lens)}
    # throughput unit: tokens digested plus sequences digested and annotated
    return table, int(tokens.size) + n_seq, oracle, files


def _gen_highcard_sketches(rng, n_rows, n_keys, files):
    # Zipf-skewed key over a sparse id space (a hot head, a long tail)
    key_rank = (n_keys * rng.random(n_rows) ** 2).astype(np.int64)
    key_ids = np.sort(rng.choice(1 << 40, size=n_keys, replace=False))
    key = key_ids[key_rank]
    v = rng.lognormal(3.0, 1.2, n_rows)
    # user ids with repeats inside a key, so distinct < rows per group
    u = rng.integers(0, 1 + n_rows // 4, n_rows)
    table = pa.table({"k": pa.array(key), "v": pa.array(v), "u": pa.array(u)})
    uniq, codes = np.unique(key, return_inverse=True)
    offsets, v_sorted = _sorted_by_group(codes, v, len(uniq))
    _, u_sorted = _sorted_by_group(codes, u, len(uniq))
    u_new = np.ones(u_sorted.size, dtype=bool)
    u_new[1:] = u_sorted[1:] != u_sorted[:-1]
    u_new[offsets[:-1][np.diff(offsets) > 0]] = True
    distinct = np.add.reduceat(u_new.astype(np.int64), offsets[:-1])
    oracle = {
        "keys": uniq,
        "offsets": offsets,
        "v_sorted": v_sorted,
        "u_distinct": distinct,
    }
    return table, n_rows, oracle, files


def _gen_docs_dedup(rng, n_docs, n_pairs, files):
    vocab = np.array([f"w{i}" for i in range(20_000)], dtype=object)
    n_base = n_docs - n_pairs
    lens = rng.integers(150, 300, n_base)
    words = (len(vocab) * rng.random(int(lens.sum())) ** 1.5).astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    docs = [words[offs[i] : offs[i + 1]] for i in range(n_base)]
    # planted near-duplicates: a copy of a base doc with one interior
    # word replaced (word 5-shingle Jaccard >= 0.93); each base doc is
    # planted at most once, so every planted pair is its own cluster
    origin = rng.choice(n_base, size=n_pairs, replace=False)
    for o in origin:
        dup = docs[o].copy()
        pos = int(rng.integers(5, dup.size - 5))
        dup[pos] = (dup[pos] + 1 + int(rng.integers(0, 1000))) % len(vocab)
        docs.append(dup)
    # shuffle doc ids so planted pairs are not adjacent in the input
    doc_ids = rng.permutation(n_docs).astype(np.int64) + 1
    text = [" ".join(vocab[d]) for d in docs]
    n_words = np.array([d.size for d in docs], dtype=np.int32)
    src = _sources(rng, n_docs)
    order = np.argsort(doc_ids)
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids[order]),
            "source": pa.array([SOURCES[s] for s in src], type=pa.string()),
            "n_words": pa.array(n_words[order]),
            "text": pa.array([text[i] for i in order], type=pa.string()),
        }
    )
    pairs = np.stack(
        [doc_ids[origin], doc_ids[n_base + np.arange(n_pairs)]], axis=1
    )
    pairs = np.sort(pairs, axis=1)
    pairs = pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]
    oracle = {"pairs": pairs, **_seq_oracle(src, n_words[order])}
    return table, n_docs, oracle, files


_GENERATORS = {
    "tokens_by_source": _gen_tokens_by_source,
    "highcard_sketches": _gen_highcard_sketches,
    "docs_dedup": _gen_docs_dedup,
}


def _load(workload: str, path: str) -> Dataset:
    with open(os.path.join(path, "oracle.json")) as f:
        meta = json.load(f)
    oracle = {
        name: np.load(os.path.join(path, "oracle", f"{name}.npy"))
        for name in meta["arrays"]
    }
    files = sorted(
        os.path.join(path, "data", f)
        for f in os.listdir(os.path.join(path, "data"))
        if f.endswith(".parquet")
    )
    return Dataset(
        workload, os.path.join(path, "data"), files, meta["n_values"], oracle
    )


def generate(workload: str, seed: int, size: str, root: str) -> Dataset:
    """Write (once) and return the inputs of ``workload`` for ``seed``."""
    if workload not in _GENERATORS:
        raise ValueError(f"unknown workload {workload!r}")
    params = SIZES[size][workload]
    tag = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()
    path = os.path.join(root, f"{workload}-{size}-{tag[:8]}-s{seed}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return _load(workload, path)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "data"))
    os.makedirs(os.path.join(tmp, "oracle"))
    table, n_values, oracle, files = _GENERATORS[workload](
        _rng(workload, seed), **params
    )
    _write_parts(table, os.path.join(tmp, "data"), files)
    for name, arr in oracle.items():
        np.save(os.path.join(tmp, "oracle", f"{name}.npy"), arr)
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump({"n_values": n_values, "arrays": sorted(oracle)}, f)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return _load(workload, path)

