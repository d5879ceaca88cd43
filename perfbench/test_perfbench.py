"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The smoke tests start Spark and take a few minutes on 4 cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def digest_of(path: str) -> str:
    """sha256 over every file under ``path`` (names and bytes, sorted)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for name in sorted(filenames):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a = gen.generate(workload, 3, "tiny", str(tmp_path / "a"))
    b = gen.generate(workload, 3, "tiny", str(tmp_path / "b"))
    c = gen.generate(workload, 4, "tiny", str(tmp_path / "c"))
    da, db, dc = (digest_of(os.path.dirname(d.path)) for d in (a, b, c))
    assert da == db
    assert da != dc
    # the oracle is part of what is compared, and differs with the seed
    assert set(a.oracle) == set(c.oracle)
    assert any(
        a.oracle[k].shape != c.oracle[k].shape or (a.oracle[k] != c.oracle[k]).any()
        for k in a.oracle
    )


def test_generator_does_not_import_the_library():
    code = (
        "import sys; sys.path.insert(0, %r); import gen; "
        "print(any(m.startswith('go_tdigest_spark') for m in sys.modules))" % HERE
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "False"


def test_oracle_matches_generated_parquet(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    ds = gen.generate("highcard_sketches", 5, "tiny", str(tmp_path))
    t = pq.read_table(ds.path)
    k = t.column("k").to_numpy()
    u = t.column("u").to_numpy()
    keys = ds.oracle["keys"]
    assert np.array_equal(np.unique(k), keys)
    distinct = [np.unique(u[k == key]).size for key in keys]
    assert distinct == ds.oracle["u_distinct"].tolist()

    ds = gen.generate("docs_dedup", 5, "tiny", str(tmp_path))
    t = pq.read_table(ds.path)
    ids = set(t.column("doc_id").to_pylist())
    assert set(ds.oracle["pairs"].ravel().tolist()) <= ids
    assert ds.oracle["seq_sorted"].size == t.num_rows


def test_benchmark_json_declares_valid_names():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert [w["name"] for w in spec["workloads"]] == list(gen.WORKLOADS)
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}


def _run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join("perfbench", "run.py"),
            "--workload", workload,
            "--seed", "7",
            "--seconds", "1",
            "--trace", str(trace),
            "--size", "tiny",
        ],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_tiny_smoke_run_passes_checks_and_emits_declared_metrics(workload):
    spec = _spec()
    for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
        rc, lines = _run(workload, trace)
        assert rc == 0, lines[-3:]
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0
        assert result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want
        assert all(NAME.fullmatch(k) for k in got)


def test_fails_without_the_library(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    rc, lines = _run("tokens_by_source", 0, cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in lines)
