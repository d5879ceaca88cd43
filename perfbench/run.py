"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  It generates the workload's
seeded inputs (once per workload, seed and size, under ``.perfbench_data``),
starts Spark on ``local[min(4, nproc)]`` several times to time set-up,
runs the workload repeatedly for ``--seconds`` seconds, checks the last
outputs against the generation-time oracle and prints one JSON object as
the last line of stdout.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics of a separate traced run and
writes its spans to ``.perfbench_data/trace-<workload>-s<seed>.json``.
The exit code is nonzero when any action or output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")
CORES = min(4, os.cpu_count() or 1)
SETUP_SAMPLES = 3
MIN_REPS = 1
MAX_REPS = 50
CONTROL_REPS = 5


def _session():
    from pyspark.sql import SparkSession

    tmp = os.path.join(DATA, "tmp")
    return (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        # one scan partition per input file, so partition counts (and the
        # merge tree built over them) follow the generated file layout
        .config("spark.sql.files.openCostInBytes", str(128 << 20))
        .config("spark.local.dir", os.path.join(DATA, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(DATA, "warehouse"))
        # a fixed, pre-touched heap: the JVM's resident size no longer
        # depends on when the collector grew the heap, so peak_rss_mb
        # moves with what the library holds, not with GC timing.  C1 only:
        # on 4 cores background C2 compiles competed with the tasks and
        # kept repetition times drifting
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -Xms1g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
        )
        .getOrCreate()
    )


def _import_library(batches):
    import go_tdigest_spark.operators  # noqa: F401  (import cost is set-up)

    yield from batches


def _warm(spark) -> None:
    """Spawn the whole Python worker pool and import the library in it:
    two chained Python stages hold two workers per task, the pool size
    the workloads' stages reach."""
    spark.range(0, 64 * CORES, 1, CORES).mapInPandas(
        _import_library, "id long"
    ).mapInArrow(_import_library, "id long").count()


def setup():
    """SparkSession start plus worker warm-up, ``SETUP_SAMPLES`` times;
    returns the last (live) session and every sample's seconds."""
    spark, samples = None, []
    for _ in range(SETUP_SAMPLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _session()
        spark.sparkContext.setLogLevel("ERROR")
        _warm(spark)
        samples.append(time.perf_counter() - t0)
    return spark, samples


def timed_reps(spark, w, ds, scratch, seconds):
    """Run the workload until ``seconds`` have passed (at least MIN_REPS
    times): fresh DataFrames every repetition, cache cleared between."""
    from spans import tree_cpu_seconds

    times, cpu = [], []
    deadline = time.perf_counter() + seconds
    while len(times) < MIN_REPS or (
        time.perf_counter() < deadline and len(times) < MAX_REPS
    ):
        spark.catalog.clearCache()
        c0 = tree_cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        out = w.run(spark, ds, scratch)
        times.append(time.perf_counter() - t0)
        cpu.append(tree_cpu_seconds(os.getpid()) - c0)
    return times, cpu, out


def control_frame(spark, w, ds):
    g, v, u = w.columns
    return spark.read.parquet(ds.path).select(*dict.fromkeys((g, v, u)))


def controls(spark, w, ds, tr=None) -> dict:
    """Library-free controls on the same input and session, each the
    median of CONTROL_REPS runs: a noop write of the projected input, and
    Spark's native sketches by the same key."""
    from contextlib import nullcontext

    from pyspark.sql import functions as F

    from workloads import Q_GRID

    g, v, u = w.columns
    span = tr.span if tr is not None else (lambda name: nullcontext())
    scan, floor = [], []
    for _ in range(CONTROL_REPS):
        with span("sources.scan"):
            t0 = time.perf_counter()
            control_frame(spark, w, ds).write.format("noop").mode("overwrite").save()
            scan.append(time.perf_counter() - t0)
        with span("jvm.native_floor"):
            t0 = time.perf_counter()
            control_frame(spark, w, ds).groupBy(g).agg(
                F.percentile_approx(v, [float(q) for q in Q_GRID]),
                F.kll_sketch_agg_double(F.col(v).cast("double")),
                F.hll_sketch_agg(u),
            ).collect()
            floor.append(time.perf_counter() - t0)
    return {
        "sources.scan_s": statistics.median(scan),
        "jvm.native_floor_s": statistics.median(floor),
        "jvm.native_floor_all": floor,
    }


def core_replay(w, ds) -> dict:
    """Single-thread driver-side replay of the digest layers on the
    workload's own (group, value) columns: one partial digest per (input
    file, group), encode, decode, merge per group, query."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from go_tdigest_spark import TDigest, serde
    from workloads import Q_GRID, rank_error

    g, v, _ = w.columns
    v = getattr(w, "replay_column", v)
    per_file = []
    for path in ds.files:
        t = pq.read_table(path, columns=[g, v])
        keys = t.column(g)
        vals = t.column(v)
        if v == "tokens":
            lens = pc.list_value_length(vals).to_numpy(zero_copy_only=False)
            keys = np.repeat(np.asarray(keys.to_pylist(), dtype=object), lens)
            vals = pc.list_flatten(vals).to_numpy(zero_copy_only=False)
        else:
            keys = np.asarray(keys.to_pylist(), dtype=object)
            vals = vals.to_numpy(zero_copy_only=False)
        order = np.argsort(keys, kind="stable")
        keys, vals = keys[order], vals[order]
        starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        bounds = np.r_[starts, keys.size]
        per_file.append(
            [(keys[a], vals[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
        )
    n_values = sum(x.size for part in per_file for _, x in part)

    t0 = time.perf_counter()
    partials = []
    for part in per_file:
        for key, x in part:
            d = TDigest.from_values(x)
            d.compress()
            partials.append((key, d))
    build_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    blobs = [(key, serde.encode(d)) for key, d in partials]
    encode_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    decoded = [(key, serde.decode(b)) for key, b in blobs]
    decode_s = time.perf_counter() - t0

    by_key: dict = {}
    for key, d in decoded:
        by_key.setdefault(key, []).append(d)
    t0 = time.perf_counter()
    merged = {key: TDigest.merge_all(ds_) for key, ds_ in by_key.items()}
    merge_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    answers = {}
    for key, d in merged.items():
        est = d.quantile(Q_GRID)
        d.cdf(est)
        answers[key] = est
    query_s = time.perf_counter() - t0

    exact = w.exact_groups(ds)
    worst = 0.0
    for key, est in answers.items():
        worst = max(worst, rank_error(exact[key], est, Q_GRID))
    return {
        "core.build_values_per_s": n_values / build_s,
        "core.merge_s": merge_s,
        "core.query_s": query_s,
        "core.rank_err_max": worst,
        "serde.encode_s": encode_s,
        "serde.decode_s": decode_s,
        "serde.digest_bytes_mean": float(np.mean([len(b) for _, b in blobs])),
    }


def finish(w, out):
    return w.finish(out) if hasattr(w, "finish") else out


def check(w, out, ds):
    from workloads import Checks

    checks = Checks()
    w.check(out, ds, checks)
    return checks


def layer_metrics(tr, out, checks, job_s, untraced_job_s) -> dict:
    """Per-layer metrics of the traced run (0 for a layer the workload
    does not run)."""
    from workloads import digest_bytes

    d, c = tr.duration, tr.total
    merges = [s for s in tr.spans if s["name"] == "tree.merge"]
    m = {
        "aggregate.partials_s": d("aggregate.partials"),
        "aggregate.partial_rows": c("partial_rows"),
        "aggregate.partial_bytes": out.get("partial_bytes", 0),
        "tree.merge_s": d("tree.merge"),
        "tree.levels": max((s["counts"]["exchanges"] for s in merges), default=0),
        "tree.exchange_bytes": c("exchange_bytes", "tree.merge"),
        "tree.exchange_records": c("exchange_records", "tree.merge"),
        "sketch_agg.td_s": d("sketch_agg.td"),
        "sketch_agg.kll_s": d("sketch_agg.kll"),
        "sketch_agg.hll_s": d("sketch_agg.hll"),
        "pyboundary.boot_s": c("python_boot_s"),
        "pyboundary.total_s": c("python_total_s"),
        "pyboundary.data_sent_bytes": c("python_sent_bytes"),
        "pyboundary.data_received_bytes": c("python_received_bytes"),
        "spark.jobs": c("jobs"),
        "spark.stages": c("stages"),
        "spark.tasks": c("tasks"),
        "spark.exchanges": c("exchanges"),
        "spark.exchange_bytes": c("exchange_bytes"),
        "checkpoint.epoch_s": d("checkpoint.epoch"),
        "checkpoint.resume_merge_s": d("checkpoint.resume_merge"),
        "checkpoint.bytes_written": out.get("stored_bytes", 0),
        "annotate.collect_s": d("annotate.collect"),
        "annotate.broadcast_bytes": (
            digest_bytes(out["merged"]) if "merged" in out else 0
        ),
        "annotate.rank_s": d("annotate.rank"),
        "annotate.bucket_s": d("annotate.bucket"),
        "dedup.signatures_s": d("dedup.signatures"),
        "dedup.pairs_s": d("dedup.pairs"),
        "dedup.candidate_pairs": c("candidate_pairs"),
        "dedup.dup_recall": checks.stats.get("dup_recall", 0.0),
        "graph.cc_s": d("graph.cc"),
        "graph.cc_jobs": c("jobs", "graph.cc"),
        "trace.job_s": job_s,
        "trace.untraced_job_s": untraced_job_s,
        "trace.overhead_s": job_s - untraced_job_s,
    }
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "go_tdigest_spark")):
        print(f"perfbench: no go_tdigest_spark package under {ROOT}", file=sys.stderr)
        return 2
    import gen
    from spans import RssSampler, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    # Python workers import the library and the benchmark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(DATA, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(DATA, "tmp")
    # no JVM performance-data files under /tmp, from the launcher either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    ds = gen.generate(args.workload, args.seed, args.size, DATA)
    scratch = os.path.join(DATA, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    spark = None
    attempted = failed = 0
    info: dict = {"workload": args.workload, "seed": args.seed, "size": args.size}
    try:
        spark, setup_samples = setup()
        # untimed first repetition: lazy first-use work (worker imports,
        # code generation, JIT) finishes before timing
        t0 = time.perf_counter()
        w.run(spark, ds, scratch)
        first_s = time.perf_counter() - t0
        with RssSampler() as rss:
            times, cpu, out = timed_reps(spark, w, ds, scratch, args.seconds)
        attempted += len(times) + 1
        job_s = statistics.median(times)
        out = finish(w, out)
        checks = check(w, out, ds)
        info.update(
            first_rep_s=first_s,
            job_s_samples=len(times),
            job_s_all=times,
            job_cpu_s_all=cpu,
            setup_s_all=setup_samples,
            checks=checks.stats,
        )
        if args.trace == 0:
            ctl = info["controls"] = controls(spark, w, ds)
            info["values_per_s"] = ds.n_values / job_s
            metrics = {
                "setup_s": (statistics.median(setup_samples), "s"),
                # the library's wall time as a multiple of Spark's native
                # sketches on the same data, in the same session and minutes
                "job_vs_native": (job_s / ctl["jvm.native_floor_s"], "ratio"),
                "sketch_bytes": (w.sketch_bytes(out), "bytes"),
                "peak_rss_mb": (rss.peak / 2**20, "MB"),
            }
        else:
            spark.catalog.clearCache()
            tr = Tracer(spark, f"{args.workload}-s{args.seed}")
            try:
                t0 = time.perf_counter()
                t_out = w.traced(spark, ds, scratch, tr)
                traced_s = time.perf_counter() - t0
                t_out = finish(w, t_out)
                t_checks = check(w, t_out, ds)
                attempted += 1
                layers = layer_metrics(tr, t_out, t_checks, traced_s, job_s)
                ctl = controls(spark, w, ds, tr)
                layers["sources.scan_s"] = ctl["sources.scan_s"]
                layers["jvm.native_floor_s"] = ctl["jvm.native_floor_s"]
            finally:
                tr.close()
            layers.update(core_replay(w, ds))
            checks.attempted += t_checks.attempted
            checks.failures += t_checks.failures
            info["self_s"] = tr.self_times()
            info["shares_of_traced_job"] = {
                name: sec / traced_s
                for name, sec in info["self_s"].items()
                if name not in ("sources.scan", "jvm.native_floor")
            }
            tr.dump(os.path.join(DATA, f"trace-{args.workload}-s{args.seed}.json"))
            metrics = {k: (float(v), _unit(k)) for k, v in layers.items()}
        attempted += checks.attempted
        failed += len(checks.failures)
        info["failures"] = checks.failures
    finally:
        if spark is not None:
            spark.stop()
            _stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)

    print(json.dumps(info, default=float))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0 if failed == 0 else 1


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it: it exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_per_s"):
        return "values/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("rank_err_max"):
        return "rank"
    if name.endswith("recall"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
