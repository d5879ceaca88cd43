"""The benchmark workloads: what each runs, how its outputs are checked
against the generation-time oracle, and the traced variant that splits
the same work at the library's public layer calls.

Every workload exposes:

  ``run(spark, ds, scratch)``        the timed action sequence (fresh
                                     DataFrames every call) -> outputs
  ``finish(outputs)``                optional, untimed: read back what the
                                     checks need
  ``check(outputs, ds, checks)``     output checks against ``ds.oracle``
  ``sketch_bytes(outputs)``          encoded bytes of the result sketches
  ``traced(spark, ds, scratch, tr)`` the same work split into spans
  ``exact_groups(ds)``               group -> sorted exact values of the
                                     column the core replay digests
  ``columns``                        (group, value, distinct) columns the
                                     controls and the core replay use
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.compute as pc

from gen import SOURCES

Q_GRID = np.array([0.0, 0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 1.0])
# merged t-digest rank error at compression 100 (tests/test_core.py,
# test_merge_parts and test_gamma_distribution pin 0.015 / 0.012)
TD_RANK_BOUND = 0.015
# merged KLL k=200 rank error (tests/test_sketches.py, both merge orders)
KLL_RANK_BOUND = 0.015
# HLL p=12 relative error (tests/test_sketches.py)
HLL_REL_BOUND = 0.05
HLL_P = 12
# highcard: a public fanin below the input partition count, so at least
# one salted merge level runs
HIGHCARD_FANIN = 2
N_BUCKETS = 10


class Checks:
    """Output checks of one run: each ``expect`` is one attempted check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []
        self.stats: dict[str, float] = {}

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def worst(self, name: str, value: float) -> None:
        self.stats[name] = max(self.stats.get(name, 0.0), float(value))


def rank_interval(sorted_vals: np.ndarray, x) -> tuple[np.ndarray, np.ndarray]:
    """Exact (fraction < x, fraction <= x) of a sorted sample."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, x, side="left") / n
    hi = np.searchsorted(sorted_vals, x, side="right") / n
    return lo, hi


def rank_error(vals: np.ndarray, x, q) -> float:
    """Largest distance from target ranks ``q`` to the exact rank interval
    of estimates ``x`` in the sorted sample ``vals``, less one sample of
    rank granularity (1/n): an estimate interpolated between two adjacent
    samples has an exact rank up to 1/n away from any q it answers."""
    lo, hi = rank_interval(vals, x)
    err = np.maximum(0.0, np.maximum(lo - q, q - hi))
    return float(np.max(err, initial=0.0)) - 1.0 / vals.size


def _groups(offsets: np.ndarray, sorted_vals: np.ndarray):
    return [
        sorted_vals[offsets[g] : offsets[g + 1]] for g in range(offsets.size - 1)
    ]


def check_digest_table(table, key_col, oracle_groups, weights, checks, label):
    """t-digest result rows against exact per-group samples.

    ``oracle_groups``: key -> sorted exact values; ``weights``: key ->
    (n_rows, total_weight)."""
    from go_tdigest_spark import serde

    keys = table.column(key_col).to_pylist()
    checks.expect(
        sorted(keys) == sorted(oracle_groups), f"{label}: group set"
    )
    exact_counts = exact_extremes = True
    worst = 0.0
    for key, blob, n_rows, weight in zip(
        keys,
        table.column("digest").to_pylist(),
        table.column("n_rows").to_pylist(),
        table.column("total_weight").to_pylist(),
    ):
        vals = oracle_groups.get(key)
        if vals is None:
            continue
        d = serde.decode(blob)
        exact_counts &= (n_rows, weight) == weights[key] and d.count == weight
        est = np.asarray(d.quantile(Q_GRID), dtype=np.float64)
        exact_extremes &= est[0] == vals[0] and est[-1] == vals[-1]
        worst = max(worst, rank_error(vals, est, Q_GRID))
    checks.expect(exact_counts, f"{label}: n_rows/total_weight exact")
    checks.expect(exact_extremes, f"{label}: q=0/q=1 equal exact min/max")
    checks.expect(worst <= TD_RANK_BOUND, f"{label}: rank error {worst:.4f}")
    checks.worst("rank_err_max", worst)


def hll_allowed_error(n: int, p: int = HLL_P) -> float:
    """Allowed |estimate - n| for an HLL with 2^p registers: the relative
    bound, plus four standard deviations of linear counting (the small-
    cardinality estimator; Whang et al. 1990), plus two register
    collisions, each of which moves a small estimate by about one."""
    m = float(1 << p)
    t = n / m
    sd = np.sqrt(m * (np.exp(t) - t - 1.0))
    return HLL_REL_BOUND * n + 4.0 * sd + 2.0


def digest_bytes(table, col="digest") -> int:
    """Summed length of a binary sketch column."""
    return int(pc.sum(pc.binary_length(table.column(col))).as_py() or 0)


def _source_groups(ds, offsets="seq_offsets", values="seq_sorted"):
    groups = _groups(ds.oracle[offsets], ds.oracle[values])
    return {SOURCES[s]: g for s, g in enumerate(groups) if g.size}


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(path):
        for name in filenames:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


def _partial_bytes(parts) -> int:
    from pyspark.sql import functions as F

    return int(parts.select(F.sum(F.length("digest"))).first()[0] or 0)


class TokensBySource:
    """Per-token digests by source, then a checkpointed per-sequence build
    that stops part-way and resumes, then every sequence ranked and
    bucketed against the stored per-source digests."""

    name = "tokens_by_source"
    columns = ("source", "n_tok", "n_tok")
    replay_column = "tokens"
    n_epochs = 2

    @classmethod
    def _job(cls, spark, ds, scratch):
        from go_tdigest_spark.plans.checkpoint import CheckpointedSketchJob

        ckpt = os.path.join(scratch, "checkpoint")
        shutil.rmtree(ckpt, ignore_errors=True)
        job = CheckpointedSketchJob(
            spark, ds.path, "n_tok", ["source"], ckpt, n_epochs=cls.n_epochs
        )
        return job, ckpt

    @classmethod
    def run(cls, spark, ds, scratch):
        from go_tdigest_spark.operators import (
            tdigest_agg,
            tdigest_bucket,
            tdigest_rank,
        )

        df = spark.read.parquet(ds.path)
        tok = tdigest_agg(df, "tokens", by=["source"], explode_arrays=True)
        tok = tok.toArrow()
        job, ckpt = cls._job(spark, ds, scratch)
        job.run(max_epochs=cls.n_epochs // 2)  # interrupted part-way
        merged = job.run(resume=True)  # resumed to completion
        ranked = tdigest_rank(df, "n_tok", by=["source"], digests=merged)
        # tdigest_bucket has no digests= parameter: it builds its own
        bucketed = tdigest_bucket(df, "n_tok", N_BUCKETS, by=["source"])
        return {
            "tok": tok,
            "rank": ranked.select("source", "n_tok", "pct_rank").toArrow(),
            "bucket": bucketed.select("source", "n_tok", "bucket").toArrow(),
            "merged": merged,
            "ckpt": ckpt,
        }

    @staticmethod
    def finish(out):
        """Untimed: read the stored result back for the checks."""
        out["merged"] = out["merged"].toArrow()
        out["stored_bytes"] = _dir_bytes(os.path.join(out["ckpt"], "partials"))
        return out

    @staticmethod
    def exact_groups(ds):
        hist = ds.oracle["tok_hist"]
        vocab = np.arange(hist.shape[1], dtype=np.int64)
        return {
            name: np.repeat(vocab, hist[s])
            for s, name in enumerate(SOURCES)
            if hist[s].sum()
        }

    @classmethod
    def check(cls, out, ds, checks):
        tok = cls.exact_groups(ds)
        seq = _source_groups(ds)
        tok_w = {k: (seq[k].size, v.size) for k, v in tok.items()}
        check_digest_table(out["tok"], "source", tok, tok_w, checks, "tokens")
        # stored per-sequence digests: one n_tok value per row
        seq_w = {k: (v.size, v.size) for k, v in seq.items()}
        check_digest_table(out["merged"], "source", seq, seq_w, checks, "stored")
        n_seq = sum(v.size for v in seq.values())
        for name, table, col in (
            ("rank", out["rank"], "pct_rank"),
            ("bucket", out["bucket"], "bucket"),
        ):
            checks.expect(table.num_rows == n_seq, f"{name}: one row per sequence")
            src = np.array(table.column("source").to_pylist(), dtype=object)
            x = table.column("n_tok").to_numpy()
            got = table.column(col).to_numpy(zero_copy_only=False)
            worst = 0.0
            for key, vals in seq.items():
                m = src == key
                if name == "rank":
                    err = rank_error(vals, x[m], got[m])
                else:
                    # bucket b holds values whose exact rank interval meets
                    # [b/N, (b+1)/N], widened by the digest's rank error
                    lo, hi = rank_interval(vals, x[m])
                    b = got[m].astype(np.float64)
                    err = np.maximum(b / N_BUCKETS - hi, lo - (b + 1) / N_BUCKETS)
                    err = float(np.max(err, initial=0.0)) - 1.0 / vals.size
                worst = max(worst, err)
            checks.expect(worst <= TD_RANK_BOUND, f"{name}: rank error {worst:.4f}")
            checks.worst("rank_err_max", worst)

    @staticmethod
    def sketch_bytes(out):
        return (
            digest_bytes(out["tok"])
            + digest_bytes(out["merged"])
            + out["stored_bytes"]
        )

    @classmethod
    def traced(cls, spark, ds, scratch, tr):
        from go_tdigest_spark.operators import (
            build_partials,
            merge_partials,
            tdigest_bucket,
            tdigest_rank,
        )

        df = spark.read.parquet(ds.path)
        with tr.span("aggregate.partials"):
            parts = build_partials(
                df, "tokens", ["source"], explode_arrays=True
            ).persist()
            tr.count("partial_rows", parts.count())
        with tr.span("tree.merge"):
            tok = merge_partials(parts, ["source"], fanin=64).toArrow()
        job, ckpt = cls._job(spark, ds, scratch)
        with tr.span("checkpoint.epoch"):
            job.run(max_epochs=cls.n_epochs // 2)
        with tr.span("checkpoint.epoch"):
            merged = job.run(resume=True)
        with tr.span("checkpoint.resume_merge"):
            merged = merged.persist()
            merged.count()
        with tr.span("annotate.collect"):
            ranked = tdigest_rank(df, "n_tok", by=["source"], digests=merged)
        with tr.span("annotate.rank"):
            rank = ranked.select("source", "n_tok", "pct_rank").toArrow()
        with tr.span("annotate.bucket"):
            bucket = tdigest_bucket(df, "n_tok", N_BUCKETS, by=["source"])
            bucket = bucket.select("source", "n_tok", "bucket").toArrow()
        return {
            "tok": tok,
            "rank": rank,
            "bucket": bucket,
            "merged": merged,
            "ckpt": ckpt,
            "partial_bytes": _partial_bytes(parts),
        }


class HighcardSketches:
    name = "highcard_sketches"
    columns = ("k", "v", "u")

    @staticmethod
    def run(spark, ds, scratch):
        from go_tdigest_spark.operators import hll_agg, kll_agg, tdigest_agg

        df = spark.read.parquet(ds.path)
        f = HIGHCARD_FANIN
        return {
            "td": tdigest_agg(df, "v", by=["k"], fanin=f).toArrow(),
            "kll": kll_agg(df, "v", by=["k"], fanin=f).toArrow(),
            "hll": hll_agg(df, ["u"], by=["k"], fanin=f).toArrow(),
        }

    @staticmethod
    def exact_groups(ds):
        o = ds.oracle
        return dict(zip(o["keys"].tolist(), _groups(o["offsets"], o["v_sorted"])))

    @classmethod
    def check(cls, out, ds, checks):
        from go_tdigest_spark.sketches import HLL, KLL

        o = ds.oracle
        keys = o["keys"].tolist()
        groups = cls.exact_groups(ds)
        weights = {k: (g.size, g.size) for k, g in groups.items()}
        check_digest_table(out["td"], "k", groups, weights, checks, "td")

        kll = out["kll"]
        kll_keys = kll.column("k").to_pylist()
        checks.expect(sorted(kll_keys) == keys, "kll: group set")
        exact = True
        worst = 0.0
        for key, blob, n_rows in zip(
            kll_keys,
            kll.column("sketch").to_pylist(),
            kll.column("n_rows").to_pylist(),
        ):
            vals = groups.get(key)
            if vals is None:
                continue
            s = KLL.from_bytes(blob)
            exact &= n_rows == s.count == vals.size
            exact &= s.quantile(0.0) == vals[0] and s.quantile(1.0) == vals[-1]
            worst = max(worst, rank_error(vals, s.quantile(0.5), 0.5))
        checks.expect(exact, "kll: counts and min/max exact")
        checks.expect(worst <= KLL_RANK_BOUND, f"kll: median rank error {worst:.4f}")

        hll = out["hll"]
        hll_keys = hll.column("k").to_pylist()
        checks.expect(sorted(hll_keys) == keys, "hll: group set")
        distinct = dict(zip(keys, o["u_distinct"].tolist()))
        worst = 0.0
        for key, blob in zip(hll_keys, hll.column("sketch").to_pylist()):
            want = distinct.get(key)
            if want:
                err = abs(HLL.from_bytes(blob).estimate() - want)
                worst = max(worst, err / hll_allowed_error(want))
        checks.expect(worst <= 1.0, f"hll: error {worst:.3f} of its bound")

    @staticmethod
    def sketch_bytes(out):
        return (
            digest_bytes(out["td"])
            + digest_bytes(out["kll"], "sketch")
            + digest_bytes(out["hll"], "sketch")
        )

    @staticmethod
    def traced(spark, ds, scratch, tr):
        from go_tdigest_spark.operators import (
            build_partials,
            hll_agg,
            kll_agg,
            merge_partials,
        )

        df = spark.read.parquet(ds.path)
        f = HIGHCARD_FANIN
        out = {}
        with tr.span("sketch_agg.td"):
            with tr.span("aggregate.partials"):
                parts = build_partials(df, "v", ["k"]).persist()
                tr.count("partial_rows", parts.count())
            with tr.span("tree.merge"):
                out["td"] = merge_partials(parts, ["k"], fanin=f).toArrow()
        with tr.span("sketch_agg.kll"):
            out["kll"] = kll_agg(df, "v", by=["k"], fanin=f).toArrow()
        with tr.span("sketch_agg.hll"):
            out["hll"] = hll_agg(df, ["u"], by=["k"], fanin=f).toArrow()
        out["partial_bytes"] = _partial_bytes(parts)
        return out


class DocsDedup:
    name = "docs_dedup"
    columns = ("source", "n_words", "n_words")
    params = dict(n=5, n_hashes=64, bands=16)
    exact_groups = staticmethod(_source_groups)

    @classmethod
    def run(cls, spark, ds, scratch):
        from go_tdigest_spark.operators import dedup_clusters, minhash_lsh_pairs

        docs = spark.read.parquet(ds.path)
        pairs = minhash_lsh_pairs(docs, "text", "doc_id", **cls.params)
        clusters = dedup_clusters(pairs).toArrow()
        return {"clusters": clusters, "sigs": pairs.persisted_sigs}

    @staticmethod
    def finish(out):
        from pyspark.sql import functions as F

        sigs = out.pop("sigs")  # array<long> per doc: 8 bytes a hash
        out["sig_bytes"] = int(
            sigs.select(F.sum(F.size("sig"))).first()[0] or 0
        ) * 8
        return out

    @staticmethod
    def check(out, ds, checks):
        cl = out["clusters"]
        cluster = dict(
            zip(cl.column("doc_id").to_pylist(), cl.column("cluster_id").to_pylist())
        )
        pairs = ds.oracle["pairs"]
        found = sum(
            1
            for a, b in pairs.tolist()
            if a in cluster and cluster.get(a) == cluster.get(b)
        )
        recall = found / len(pairs)
        checks.expect(recall == 1.0, f"dedup: planted-pair recall {recall:.4f}")
        checks.expect(
            set(cluster) == set(pairs.ravel().tolist()),
            "dedup: only planted docs are clustered",
        )
        checks.stats["dup_recall"] = recall

    @staticmethod
    def sketch_bytes(out):
        return out["sig_bytes"]

    @classmethod
    def traced(cls, spark, ds, scratch, tr):
        from go_tdigest_spark.operators import (
            dedup_clusters,
            minhash_signatures,
        )
        from go_tdigest_spark.operators.dedup import lsh_pairs_from_sigs

        p = cls.params
        docs = spark.read.parquet(ds.path)
        with tr.span("dedup.signatures"):
            sigs = minhash_signatures(
                docs, "text", "doc_id", p["n"], p["n_hashes"]
            ).persist()
            sigs.count()
        with tr.span("dedup.pairs"):
            pairs = lsh_pairs_from_sigs(sigs, p["n_hashes"], p["bands"]).persist()
            tr.count("candidate_pairs", pairs.count())
        with tr.span("graph.cc"):
            clusters = dedup_clusters(pairs).toArrow()
        return {"clusters": clusters, "sigs": sigs}


WORKLOADS = {w.name: w for w in (TokensBySource, HighcardSketches, DocsDedup)}
