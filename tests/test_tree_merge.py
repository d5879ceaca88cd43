"""Tests of the tree merge's Arrow split (operators/_tree.py): exact keys,
float-key canonicalisation, arrival order (byte identity of the
order-dependent sketches), plan shape, and the annotators' lookup key
agreeing with the tree's grouping."""

from __future__ import annotations

import hashlib
import math
import struct

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from go_tdigest_spark import serde
from go_tdigest_spark.operators import (
    exact_percentiles,
    tdigest_agg,
    tdigest_bucket,
    tdigest_normalize,
    tdigest_rank,
    tdigest_winsorize,
)
from go_tdigest_spark.operators._tree import merge_groups
from go_tdigest_spark.operators.sketch_agg import hll_agg, kll_agg, mg_agg

from test_spark_agg import _n_merge_levels


def test_merge_groups_exact_keys_and_arrival_order():
    """Driver-side split: NULL and >2^53 int64 keys stay distinct and
    exact, groups come out in first-appearance order, each group's
    sketches reach ``merge`` in arrival order, counts are summed and
    extra input columns are ignored."""
    big = 1 << 53
    table = pa.table(
        {
            "k": pa.array([big + 1, None, big, big + 1, None], pa.int64()),
            "sketch": [b"a", b"b", b"c", b"d", b"e"],
            "n_rows": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "extra": [9, 9, 9, 9, 9],
        }
    )
    out_schema = pa.schema(
        [("k", pa.int64()), ("sketch", pa.binary()), ("n_rows", pa.int64())]
    )
    out = merge_groups(table, ["k"], out_schema, b"".join)
    assert out.schema == out_schema
    assert out.to_pydict() == {
        "k": [big + 1, None, big],
        "sketch": [b"ad", b"be", b"c"],
        "n_rows": [5, 7, 3],
    }
    glob = merge_groups(
        table.drop_columns(["k"]), [], out_schema.remove(0), b"".join
    )
    assert glob.to_pydict() == {"sketch": [b"abcde"], "n_rows": [15]}
    # two key columns: Arrow's group_by alone emits (1, 1) before (0, 1)
    two = pa.table(
        {
            "k": [4, 0, 0, 1],
            "s": [0, 1, 1, 1],
            "sketch": [b"a", b"b", b"c", b"d"],
        }
    )
    out2 = merge_groups(two, ["k", "s"], two.schema, b"".join)
    assert out2.to_pydict() == {
        "k": [4, 0, 1],
        "s": [0, 1, 1],
        "sketch": [b"a", b"bc", b"d"],
    }


def test_tree_merge_noncanonical_nan_group_key(spark):
    """Two NaN payloads in one double key column are one SQL group: the
    merge must emit ONE row with the summed n_rows (Arrow's group_by
    compares raw bits, so the JVM-side rewrite must canonicalise)."""
    nan2 = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000001))[0]
    assert math.isnan(nan2)
    rows = [(float("nan"), float(i)) for i in range(10)]
    rows += [(nan2, float(100 + i)) for i in range(10)]
    rows += [(1.0, 5.0)]
    df = spark.createDataFrame(rows, "g double, v double").repartition(4)
    for fanin in (None, 2):
        out = tdigest_agg(df, "v", by=["g"], fanin=fanin).collect()
        nan_rows = [r for r in out if math.isnan(r["g"])]
        assert [r["n_rows"] for r in nan_rows] == [20], fanin
        assert serde.decode(bytes(nan_rows[0]["digest"])).count == 20


def _seeded_frame(spark, n_keys=40, n_parts=6, zipf_a=1.6):
    rng = np.random.default_rng(20261017)
    n = 3000
    keys = rng.zipf(zipf_a, size=n) % n_keys
    vals = rng.standard_normal(n) * 100.0
    rows = [(int(k), float(v)) for k, v in zip(keys, vals)]
    # parallelize slices deterministically: the partial builders and
    # every merge level see the same rows in the same order each run
    return spark.sparkContext.parallelize(rows, n_parts).toDF(
        "k long, v double"
    )


def _sha(df, by) -> str:
    h = hashlib.sha256()
    for r in sorted(df.collect(), key=lambda r: tuple(r[c] for c in by)):
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()


# sha256 of the sorted output rows (keys, sketch bytes, counts), recorded
# with the JSON-keyed pandas merge stage this split replaced: KLL and
# Misra-Gries bytes depend on arrival order, so the Arrow split must keep
# both the per-group row order and the group emission order.
_GOLDEN = {
    ((), None): {
        "td": "2bbba4d87684641dbd3a74d296243d4d9f5ca9cdd395515ea1c90b36eead0ad8",
        "kll": "74d2f8e5f0b506d05698e761c62c4fb422c52be890fc66d3fa7c34f69bb09907",
        "hll": "7a115a3287e239f43923e04b00e7a4581789d4b73bd76c6072ab6faee7701ea1",
        "mg": "832094d811e0cdacbaee49573f8d5c210e380ad151a78d17630724c753b1cbc4",
    },
    ((), 2): {
        "td": "7169708d988aad43ee526e9faaa048aa7ba13341c20e4dd626f6bbded1741cbd",
        "kll": "c54c560c6bc690e795618564974e0ecd1684b804a6e6fd7e6976222fb70fd650",
        "hll": "7a115a3287e239f43923e04b00e7a4581789d4b73bd76c6072ab6faee7701ea1",
        "mg": "832094d811e0cdacbaee49573f8d5c210e380ad151a78d17630724c753b1cbc4",
    },
    (("k",), None): {
        "td": "b10ff9c897ba201a2e52e8f3113a9c965d7032a664b5bd000bb6108dcad383e5",
        "kll": "de1323486110950417bb16dc48dd241319e4e484a1fe3ca1d89d6277ae84a0df",
        "hll": "a0562780e705e07abd7282a9ecf898076c5ee297ed1bfcafee814ac9d0899383",
        "mg": "8ef4cc013628d6923d44b8ae252dc43aba1f6363361a709de8297725f7aa273e",
    },
    (("k",), 2): {
        "td": "04e3ff5b87c3ef98158d1b8a07cd3f70d39ec131e3a7bd43442d7d2da4cb7a05",
        "kll": "d0ef834e60c16e90a7a16c1aa87412b331de3302a3d97f906ac685d0462c5f10",
        "hll": "a0562780e705e07abd7282a9ecf898076c5ee297ed1bfcafee814ac9d0899383",
        "mg": "8ef4cc013628d6923d44b8ae252dc43aba1f6363361a709de8297725f7aa273e",
    },
}


@pytest.mark.parametrize("by,fanin", list(_GOLDEN))
def test_merge_outputs_byte_identical_to_golden(spark, by, fanin):
    df = _seeded_frame(spark)
    by = list(by)
    got = {
        "td": _sha(tdigest_agg(df, "v", by=by, fanin=fanin), by),
        "kll": _sha(kll_agg(df, "v", by=by, fanin=fanin), by),
        "hll": _sha(hll_agg(df, ["v"], by=by, fanin=fanin), by),
        "mg": _sha(mg_agg(df, ["k"], by=by, fanin=fanin), by),
    }
    assert got == _GOLDEN[(tuple(by), fanin)]


def test_kll_bytes_through_salted_level_match_golden(spark):
    """Hundreds of keys over four partitions at fanin=2: both salts of a
    key often meet in one level-0 reducer, so the final KLL bytes also
    pin that reducer's group emission order (first appearance), which
    Arrow's two-key group_by alone does not keep."""
    df = _seeded_frame(spark, n_keys=460, n_parts=4, zipf_a=1.3)
    assert _sha(kll_agg(df, "v", by=["k"], fanin=2), ["k"]) == (
        "ed539365aace871f32a96271a0e4e1de0aa20a68b49a58b7f7b1e1cf569e429b"
    )


def test_merge_levels_plan_has_no_json_or_pandas_stage(spark):
    """Every merge level — salted, keyed final and global final, and the
    exact-percentile merge — is an exchange plus ``MapInArrow run``: no
    JSON key rendering, no pandas grouped or map stage."""
    df = _seeded_frame(spark)
    plans = {
        "keyed": (tdigest_agg(df, "v", by=["k"], fanin=2), 3),
        "global": (kll_agg(df, "v", fanin=2), 3),
        "flat": (hll_agg(df, ["v"], fanin=None), 1),
        "exact": (exact_percentiles(df, "v", [0.5], by=["k"]), 1),
        "exact_global": (exact_percentiles(df, "v", [0.5]), 1),
    }
    for name, (out, levels) in plans.items():
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert _n_merge_levels(plan) == levels, (name, plan)
        for node in ("to_json", "FlatMapGroupsInPandas", "MapInPandas"):
            assert node not in plan, (name, node)


def test_rank_and_normalize_fold_negative_zero_keys(spark):
    """The tree folds -0.0 into the 0.0 group, so the annotators' lookup
    key must too: -0.0-keyed rows get a rank/normalized value from the
    folded digest instead of NULL."""
    rows = [(0.0, float(i)) for i in range(20)]
    rows += [(-0.0, float(20 + i)) for i in range(20)]
    rows += [(1.0, float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "g double, v double").repartition(4)
    ranked = tdigest_rank(df, "v", by=["g"]).collect()
    assert len(ranked) == 60
    assert all(r["pct_rank"] is not None for r in ranked)
    zero = sorted((r["v"], r["pct_rank"]) for r in ranked if r["g"] == 0.0)
    assert len(zero) == 40
    # ranked against the merged 40-value digest: v=39 sits at the top
    assert zero[-1][1] > 0.95 and zero[0][1] < 0.05
    normed = tdigest_normalize(df, "v", by=["g"]).collect()
    assert all(r["v_normalized"] is not None for r in normed)


def test_rank_null_group_key_uses_null_group_digest(spark):
    """``tdigest_agg`` emits a digest for the NULL group (SQL GROUP BY
    semantics), so NULL-keyed rows are ranked against it; only a NULL
    value gets a NULL rank."""
    rows = [(None, float(i)) for i in range(10)]
    rows += [("a", float(100 + i)) for i in range(10)]
    rows += [(None, None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = tdigest_rank(df, "v", by=["g"]).collect()
    null_keyed = sorted(
        (r["v"], r["pct_rank"])
        for r in out
        if r["g"] is None and r["v"] is not None
    )
    assert len(null_keyed) == 10
    ranks = [p for _, p in null_keyed]
    assert all(p is not None for p in ranks)
    assert ranks == sorted(ranks) and ranks[0] < 0.1 and ranks[-1] > 0.9
    assert [r["pct_rank"] for r in out if r["v"] is None] == [None]


def _null_keyed_frame(spark):
    rows = [(None, float(i)) for i in range(40)]
    rows += [("a", float(100 + i)) for i in range(40)]
    rows += [(None, None)]
    return spark.createDataFrame(rows, "g string, v double")


def _fact_side_of_broadcast_join(df) -> list[str]:
    """Plan lines of the streamed (fact) child of the one
    BroadcastHashJoin in ``df``'s plan."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    (at,) = [i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln]
    col = lines[at].index("BroadcastHashJoin")
    fact = []
    for ln in lines[at + 1 :]:
        if ln[col : col + 3] == "+- ":  # the build (broadcast) child
            break
        fact.append(ln)
    return fact


def test_bucket_null_group_key_uses_null_group_bounds(spark):
    """NULL-keyed rows are bucketed by the NULL group's boundaries (as
    tdigest_rank ranks them), through a null-safe broadcast hash join
    with no exchange on the fact side; only a NULL value gets a NULL
    bucket.  Column order is that of a ``using`` join on ``by``."""
    df = _null_keyed_frame(spark)
    b = tdigest_bucket(df, "v", 4, by=["g"])
    assert b.columns == ["g", "v", "bucket"]
    fact = _fact_side_of_broadcast_join(b)
    assert fact and not any("Exchange" in ln for ln in fact)
    out = b.collect()
    assert len(out) == 81
    for g in (None, "a"):
        got = sorted(
            (r["v"], r["bucket"])
            for r in out
            if r["g"] == g and r["v"] is not None
        )
        assert [bk for _, bk in got] == [i // 10 for i in range(40)]
    assert [r["bucket"] for r in out if r["v"] is None] == [None]


def test_winsorize_null_group_key_uses_null_group_bounds(spark):
    """NULL-keyed rows are clipped at the NULL group's quantiles, through
    the same null-safe broadcast hash join; a NULL value stays NULL."""
    df = _null_keyed_frame(spark)
    w = tdigest_winsorize(df, "v", 0.1, 0.9, by=["g"])
    assert w.columns == ["g", "v", "v_winsorized"]
    fact = _fact_side_of_broadcast_join(w)
    assert fact and not any("Exchange" in ln for ln in fact)
    out = w.collect()
    for g, base in ((None, 0.0), ("a", 100.0)):
        got = sorted(
            (r["v"], r["v_winsorized"])
            for r in out
            if r["g"] == g and r["v"] is not None
        )
        assert len(got) == 40
        clipped = [v != wz for v, wz in got]
        assert any(clipped[:6]) and any(clipped[-6:]) and not any(clipped[6:-6])
        assert all(base + 3 <= wz <= base + 36 for _, wz in got)
    assert [r["v_winsorized"] for r in out if r["v"] is None] == [None]


def test_nested_group_keys_fail_at_plan_time(spark):
    """Struct, array and map keys are rejected before any task runs,
    with the column named, by the digest and generic sketch builders and
    the exact-percentile kernel."""
    df = spark.createDataFrame([(1, 2.0)], "a int, v double").select(
        F.struct("a").alias("s"),
        F.array("a").alias("arr"),
        F.create_map("a", "a").alias("m"),
        "v",
    )
    for col in ("s", "arr", "m"):
        with pytest.raises(ValueError, match=f"group column '{col}'"):
            tdigest_agg(df, "v", by=[col])
        with pytest.raises(ValueError, match=f"group column '{col}'"):
            hll_agg(df, ["v"], by=[col])
        with pytest.raises(ValueError, match=f"group column '{col}'"):
            exact_percentiles(df, "v", [0.5], by=[col])
