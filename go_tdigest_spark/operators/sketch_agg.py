"""Two-phase Spark aggregation for the auxiliary sketches (HLL / Bloom /
CMS) — the same partial -> merge deployment as the t-digest, sharing one
generic mapInArrow builder.

Values are hashed JVM-side with ``xxhash64`` before entering Python, so
probe-side hashing (Bloom membership joins, CMS point queries) uses the
identical Spark expression and parity is structural.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..sketches import (
    HLL,
    KLL,
    BloomFilter,
    CountMinSketch,
    MisraGries,
    ThetaSketch,
)
from ._tree import require_flat_keys


def _hash_cols(cols: Sequence[str], seed_salt: int = 0):
    base = [F.col(c) for c in cols]
    if seed_salt:
        return F.xxhash64(*base, F.lit(seed_salt))
    return F.xxhash64(*base)


def _notnull_cond(cols: Sequence[str]):
    """Conjunction of IS NOT NULL over ``cols`` (None when empty) — the
    single definition of which rows the sketch passes count, shared by
    the partial builders and the heavy-hitters verification pass so the
    two can never diverge."""
    cond = None
    for c in cols:
        cur = F.col(c).isNotNull()
        cond = cur if cond is None else cond & cur
    return cond


def _generic_partials(
    df: DataFrame,
    by: Sequence[str],
    hash_exprs: list[Column],
    make_sketch: Callable[[], object],
    update: Callable[[object, list[np.ndarray]], None],
    weight_col: str | None = None,
    notnull_cols: Sequence[str] = (),
    value_cols: Sequence[str] = (),
    batch_values: Callable | None = None,
) -> DataFrame:
    """Stage 1: one sketch per (partition x group), built from one or
    more pre-hashed int64 columns.

    ``notnull_cols``: rows with a NULL in any of these are dropped before
    hashing — xxhash64(NULL) returns the seed, which would otherwise
    count one phantom element (SQL count(DISTINCT ...) excludes NULLs,
    so we match it).  NULL weights are dropped too (NaN->int64 is
    INT64_MIN and silently corrupts counters).

    ``value_cols`` + ``batch_values``: RAW-value mode for sketches that
    consume something other than pre-hashed scalars (Frequent
    Directions eats embedding matrices).  The named columns are
    projected verbatim and ``batch_values(batch, by_len, n_rows)``
    returns the row-aligned arrays handed to ``update`` — everything
    else (group slicing, accumulation, emission) is this one shared
    code path, so a fix here reaches every sketch.
    """
    by = list(by)
    if batch_values is not None and hash_exprs:
        raise ValueError("pass hash_exprs or batch_values, not both")
    n_h = len(hash_exprs)
    cond = _notnull_cond(
        list(notnull_cols) + ([weight_col] if weight_col else [])
    )
    if cond is not None:
        df = df.where(cond)
    proj = (
        [F.col(c) for c in by]
        + [e.alias(f"_h{i}") for i, e in enumerate(hash_exprs)]
        + [F.col(c).alias(f"_v{i}") for i, c in enumerate(value_cols)]
        + ([F.col(weight_col).alias("_w")] if weight_col else [])
    )
    pruned = df.select(*proj)
    by_fields = [f for f in pruned.schema.fields if f.name in set(by)]
    require_flat_keys(by_fields)
    schema = StructType(
        by_fields
        + [
            StructField("sketch", BinaryType(), False),
            StructField("n_rows", LongType(), False),
        ]
    )
    from pyspark.sql.pandas.types import to_arrow_type

    out_schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in schema]
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ._batch import group_codes

        accs: dict[tuple, list] = {}
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            combined, uniq, counts, keys, row_order = group_codes(
                batch, len(by)
            )
            if batch_values is not None:
                hs = batch_values(batch, len(by), n)
            else:
                hs = [
                    batch.column(len(by) + i).to_numpy(zero_copy_only=False)
                    for i in range(n_h)
                ]
            w = (
                batch.column(len(by) + n_h + len(value_cols))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                if weight_col
                else None
            )
            # one stable sort per batch + contiguous slices per group
            # (not an O(groups x rows) boolean mask per group)
            multi = combined is not None and len(uniq) > 1
            if multi:
                hs = [h[row_order] for h in hs]
                w = w[row_order] if w is not None else None
                offsets = np.concatenate(([0], np.cumsum(counts))).astype(
                    np.int64
                )
            for g, (key, cnt) in enumerate(zip(keys, counts)):
                acc = accs.get(key)
                if acc is None:
                    acc = [make_sketch(), 0]
                    accs[key] = acc
                sel = (
                    slice(offsets[g], offsets[g + 1])
                    if multi
                    else slice(None)
                )
                cols = [h[sel] for h in hs]
                if w is not None:
                    cols.append(w[sel])
                update(acc[0], cols)
                acc[1] += int(cnt)
        if accs:
            arrays = []
            items = list(accs.items())
            for j in range(len(by)):
                arrays.append(
                    pa.array(
                        [k[j] for k, _ in items], type=out_schema.field(j).type
                    )
                )
            arrays.append(
                pa.array([a[0].to_bytes() for _, a in items], type=pa.binary())
            )
            arrays.append(pa.array([a[1] for _, a in items], type=pa.int64()))
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return pruned.mapInArrow(gen, schema)


def _merge_stage(
    partials: DataFrame,
    by: Sequence[str],
    decode: Callable[[bytes], object],
    fanin: int | None = 64,
    n_units: int | None = None,
) -> DataFrame:
    """Tree-merge sketch partials with bounded reducer fan-in.

    Same salted-level reduction as the t-digest path (_tree.py): without
    it, a global ``cms_agg(by=[])`` at d=5,w=4096 (~160 KB/partial) would
    funnel ~16 GB into one reducer at 100k input partitions.  HLL/CMS/
    Bloom merges are exact (register-max / counter-add / bit-or) and
    byte-identical to a flat merge in any order; KLL and Misra-Gries are
    order-DEPENDENT in their bytes but carry their error guarantees
    through any merge tree (pinned in tests) — do not assume bitwise
    reproducibility across partition counts for those two.
    """
    from ._tree import tree_merge

    by = list(by)
    schema = StructType(
        [f for f in partials.schema.fields if f.name in set(by)]
        + [
            StructField("sketch", BinaryType(), False),
            StructField("n_rows", LongType(), False),
        ]
    )

    def merge(blobs: list[bytes]) -> bytes:
        sk = decode(blobs[0])
        for b in blobs[1:]:
            sk = sk.merge(decode(b))
        return sk.to_bytes()

    return tree_merge(partials, by, schema, merge, fanin, n_units=n_units)


# ------------------------------------------------------------------ HLL


def hll_partials(
    df: DataFrame, cols: Sequence[str], by: Sequence[str] = (), p: int = 12
) -> DataFrame:
    """Stage 1 only (one HLL per partition x group) — the building block
    for batch aggregation and streaming append-partials alike."""
    return _generic_partials(
        df,
        by,
        [_hash_cols(cols)],
        lambda: HLL(p),
        lambda s, c: s.update_hashes(c[0]),
        notnull_cols=cols,
    )


def hll_agg(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    p: int = 12,
    fanin: int | None = 64,
) -> DataFrame:
    """Distinct-count sketch of the tuple ``cols`` per group."""
    return _merge_stage(hll_partials(df, cols, by, p), by, HLL.from_bytes, fanin=fanin)


@pandas_udf(DoubleType())
def _hll_estimate_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda b: None if b is None else HLL.from_bytes(bytes(b)).estimate()
    )


def hll_estimate(sketch: Column | str) -> Column:
    return _hll_estimate_udf(sketch)


# ------------------------------------------------------- sketch algebra
#
# Pairwise set operations on serialized sketches — the reads that turn
# two cohorts' sketches into overlap/union answers without rescanning
# raw data.  NULL semantics: for UNION/ADD, NULL is the identity
# (an absent group contributes nothing); for the INTERSECTION estimate,
# NULL propagates (an unknown set has an unknown overlap).


def _pair_udf(ret_type, fn, null_identity: bool):
    @pandas_udf(ret_type)
    def _f(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = []
        for ba, bb in zip(sa, sb):
            if ba is None and bb is None:
                out.append(None)
            elif ba is None:
                out.append(bytes(bb) if null_identity else None)
            elif bb is None:
                out.append(bytes(ba) if null_identity else None)
            else:
                out.append(fn(bytes(ba), bytes(bb)))
        return pd.Series(out)

    return _f


def _hll_union_bytes(ba: bytes, bb: bytes) -> bytes:
    return HLL.from_bytes(ba).merge(HLL.from_bytes(bb)).to_bytes()


_hll_union_pair_udf = _pair_udf(BinaryType(), _hll_union_bytes, True)


def hll_union_pair(a: Column | str, b: Column | str) -> Column:
    """Union of two HLL sketches (register-wise max) — NULL identity."""
    return _hll_union_pair_udf(a, b)


@pandas_udf(DoubleType())
def _hll_intersect_udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
    out = []
    for ba, bb in zip(sa, sb):
        if ba is None or bb is None:
            out.append(None)
            continue
        a = HLL.from_bytes(bytes(ba))
        b = HLL.from_bytes(bytes(bb))
        # take both standalone estimates BEFORE the in-place merge, then
        # reuse a as the union — one decode per side
        ea, eb = a.estimate(), b.estimate()
        out.append(max(0.0, ea + eb - a.merge(b).estimate()))
    return pd.Series(out)


def hll_intersect_estimate(a: Column | str, b: Column | str) -> Column:
    """|A ∩ B| by inclusion-exclusion over HLL estimates.  Error is the
    SUM of the three estimates' errors, so relative error blows up when
    the overlap is much smaller than either set — the standard HLL
    intersection caveat; good for overlap fractions ≳ a few percent."""
    return _hll_intersect_udf(a, b)


def _bloom_union_bytes(ba: bytes, bb: bytes) -> bytes:
    return BloomFilter.from_bytes(ba).merge(BloomFilter.from_bytes(bb)).to_bytes()


def _bloom_intersect_bytes(ba: bytes, bb: bytes) -> bytes:
    return (
        BloomFilter.from_bytes(ba)
        .intersect(BloomFilter.from_bytes(bb))
        .to_bytes()
    )


_bloom_union_pair_udf = _pair_udf(BinaryType(), _bloom_union_bytes, True)
_bloom_intersect_pair_udf = _pair_udf(
    BinaryType(), _bloom_intersect_bytes, False
)


def bloom_union_pair(a: Column | str, b: Column | str) -> Column:
    """Bitwise-OR union: exactly the filter a single build over A ∪ B
    would produce.  NULL identity."""
    return _bloom_union_pair_udf(a, b)


def bloom_intersect_pair(a: Column | str, b: Column | str) -> Column:
    """Bitwise-AND intersection: never a false negative for keys in
    A ∩ B, but a HIGHER false-positive rate than a fresh build over the
    intersection (bits set by different keys on each side can
    coincide).  NULL propagates."""
    return _bloom_intersect_pair_udf(a, b)


def _cms_merge_bytes(ba: bytes, bb: bytes) -> bytes:
    return (
        CountMinSketch.from_bytes(ba)
        .merge(CountMinSketch.from_bytes(bb))
        .to_bytes()
    )


_cms_merge_pair_udf = _pair_udf(BinaryType(), _cms_merge_bytes, True)


def cms_merge_pair(a: Column | str, b: Column | str) -> Column:
    """Counter-wise sum of two CMS sketches: point estimates over the
    merged sketch bound the combined true counts from above, exactly as
    a single build over both streams would.  NULL identity."""
    return _cms_merge_pair_udf(a, b)


# ---------------------------------------------------------------- Bloom


def bloom_partials(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    n_bits: int = 1 << 16,
    k: int = 5,
) -> DataFrame:
    """Stage 1 only — batch building block and streaming partials_fn."""
    return _generic_partials(
        df,
        by,
        [_hash_cols(cols), _hash_cols(cols, seed_salt=1)],
        lambda: BloomFilter(n_bits, k),
        lambda s, c: s.update_hashes(c[0], c[1]),
        notnull_cols=cols,
    )


def bloom_agg(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    n_bits: int = 1 << 16,
    k: int = 5,
    fanin: int | None = 64,
) -> DataFrame:
    return _merge_stage(
        bloom_partials(df, cols, by, n_bits, k),
        by,
        BloomFilter.from_bytes,
        fanin=fanin,
    )


def _probe_hashes(h: pd.Series, fn_name: str) -> np.ndarray:
    """int64 probe hashes, guarded against the pandas NULL trap: a hash
    column containing ANY null arrives from Arrow as float64, which
    rounds every other ~2^63 xxhash64 value in the batch (float64 has a
    53-bit mantissa) BEFORE the UDF body can react — silently probing
    wrong positions for all rows.  Refuse loudly instead; the Column API
    wrappers coalesce NULLs JVM-side so they never hit this path."""
    if h.dtype.kind == "f":
        if h.isna().all():
            return np.zeros(len(h), dtype=np.int64)  # caller NULL-masks all
        raise RuntimeError(
            f"{fn_name}: NULL probe hashes reached the vectorized kernel "
            "(pandas converts a nullable int64 column to lossy float64). "
            "Wrap the call as CASE WHEN h IS NULL THEN NULL ELSE "
            f"{fn_name}(sketch, coalesce(h, 0)) END — the Column API does "
            "this automatically."
        )
    return h.to_numpy(dtype=np.int64)


@pandas_udf(BooleanType())
def _bloom_might_contain_udf(s: pd.Series, a: pd.Series, b: pd.Series) -> pd.Series:
    # probe joins repeat the same (broadcast) sketch across many rows:
    # decode each distinct sketch ONCE per batch, then probe all of
    # its rows through the vectorized kernel.  NULL sketch -> NULL.
    # Module-level so the Column API and spark.udf.register share ONE
    # implementation (no per-row-decode SQL twin drifting beside it).
    out = pd.Series(np.zeros(len(s), dtype=object), index=s.index)
    nulls = s.isna() | a.isna() | b.isna()
    out[nulls] = None
    live = s[~nulls]
    groups = live.groupby(live.map(bytes)).groups
    h1v = _probe_hashes(a, "bloom_might_contain")
    h2v = _probe_hashes(b, "bloom_might_contain")
    pos = {ix: i for i, ix in enumerate(s.index)}
    for buf, idx in groups.items():
        bf = BloomFilter.from_bytes(buf)
        rows = np.fromiter((pos[i] for i in idx), dtype=np.int64)
        hits = bf.might_contain_hashes(h1v[rows], h2v[rows])
        out.iloc[rows] = [bool(x) for x in hits]
    return out


def bloom_might_contain(sketch: Column | str, h1: Column, h2: Column) -> Column:
    """Membership probe; pass ``xxhash64(value)`` and
    ``xxhash64(value, lit(1))`` — the same expressions used at build.

    NULLs are masked JVM-side (coalesce into the kernel, CASE back to
    NULL) so the int64 hash columns reach Python null-free — see
    _probe_hashes for why that matters."""
    sk = F.col(sketch) if isinstance(sketch, str) else sketch
    anynull = sk.isNull() | h1.isNull() | h2.isNull()
    probe = _bloom_might_contain_udf(
        sk, F.coalesce(h1, F.lit(0)), F.coalesce(h2, F.lit(0))
    )
    return F.when(~anynull, probe)


# ------------------------------------------------------------------ KLL


def kll_agg(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    k: int = 200,
    fanin: int | None = 64,
) -> DataFrame:
    """Per-group KLL quantile sketch over ``value_col``.

    Unlike the other sketches here, KLL consumes raw *values* (cast to
    double JVM-side), not hashes — the same _generic_partials plumbing
    carries them since the kernel only needs one numeric column.  The
    t-digest remains the primary quantile sketch; KLL adds worst-case
    rank-error guarantees (north rule lists both).

    NULL and NaN values are excluded JVM-side (the reference rejects NaN
    on insert, summary.go:27-29) — so ``n_rows`` equals the sketch count
    and count/min/max stay oracle-exact over the non-NaN values.
    """
    return _merge_stage(
        kll_partials(df, value_col, by, k), by, KLL.from_bytes, fanin=fanin
    )


def kll_partials(
    df: DataFrame, value_col: str, by: Sequence[str] = (), k: int = 200
) -> DataFrame:
    """Stage 1 only — batch building block and streaming partials_fn.
    NULL/NaN excluded JVM-side (see kll_agg)."""
    v = F.col(value_col).cast("double")
    return _generic_partials(
        df.where(~F.isnan(v)),
        by,
        [v],
        lambda: KLL(k),
        lambda s, c: s.update(c[0]),
        notnull_cols=[value_col],
    )


@pandas_udf(DoubleType())
def _kll_quantile_udf(s: pd.Series, q: pd.Series) -> pd.Series:
    # NULL q arrives as NaN in the numeric pandas column — pd.isna, not
    # `is None`, is the correct null test for SQL params
    return pd.Series(
        [
            None
            if b is None or pd.isna(qv)
            else KLL.from_bytes(bytes(b)).quantile(float(qv))
            for b, qv in zip(s, q)
        ]
    )


@pandas_udf(DoubleType())
def _kll_cdf_udf(s: pd.Series, x: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None
            if b is None or pd.isna(xv)
            else KLL.from_bytes(bytes(b)).cdf(float(xv))
            for b, xv in zip(s, x)
        ]
    )


@pandas_udf(LongType())
def _kll_count_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda b: None if b is None else KLL.from_bytes(bytes(b)).count)


def kll_quantile(sketch: Column | str, q: float) -> Column:
    """Quantile estimate; q=0/1 are the exact tracked min/max (which is
    what makes kll_agg oracle-checkable end to end)."""
    return _kll_quantile_udf(sketch, F.lit(float(q)))


def kll_cdf(sketch: Column | str, x: float) -> Column:
    return _kll_cdf_udf(sketch, F.lit(float(x)))


def kll_count(sketch: Column | str) -> Column:
    return _kll_count_udf(sketch)


def _kll_merge_bytes(ba: bytes, bb: bytes) -> bytes:
    return KLL.from_bytes(ba).merge(KLL.from_bytes(bb)).to_bytes()


_kll_merge_pair_udf = _pair_udf(BinaryType(), _kll_merge_bytes, True)


def kll_merge_pair(a: Column | str, b: Column | str) -> Column:
    """Merge two KLL sketches (compactor-level concatenation, same
    associative merge the tree reduction uses — completes the pairwise
    set algebra alongside hll_union_pair / bloom_*_pair /
    cms_merge_pair / td_merge_pair).  Count is exact under merge and
    min/max survive, so merged q=0/1 and kll_count reads stay
    oracle-checkable; rank error keeps the KLL worst-case guarantee
    through any merge order.  NULL identity."""
    return _kll_merge_pair_udf(a, b)


# ----------------------------------------------------------- Misra-Gries


def mg_partials(
    df: DataFrame, cols: Sequence[str], by: Sequence[str] = (), k: int = 64
) -> DataFrame:
    """Stage 1 only — batch building block and streaming partials_fn."""
    return _generic_partials(
        df,
        by,
        [_hash_cols(cols)],
        lambda: MisraGries(k),
        lambda s, c: s.update_hashes(c[0]),
        notnull_cols=cols,
    )


def mg_agg(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    k: int = 64,
    fanin: int | None = 64,
) -> DataFrame:
    """Frequent-items summary of the tuple ``cols`` per group
    (Misra-Gries, mergeable; counters undercount by at most the
    sketch's ``err`` <= N/(k+1))."""
    return _merge_stage(
        mg_partials(df, cols, by, k), by, MisraGries.from_bytes, fanin=fanin
    )


def heavy_hitters(
    df: DataFrame,
    cols: Sequence[str],
    phi: float,
    k: int | None = None,
    by: Sequence[str] = (),
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """EXACT phi-heavy-hitters in two passes: a Misra-Gries sketch pass
    proposes candidates, one targeted verification pass counts them
    exactly.  Output = precisely the tuples with
    count >= ceil(phi * N_group) over non-NULL rows (N_group = that
    group's row count; one global group when ``by`` is empty) —
    hash-checkable against ``GROUP BY ... HAVING`` even though a sketch
    drove the search.

    Why it is exact: MG counters never overcount and undercount by at
    most ``err <= N/(k+1)``; with ``k >= ceil(1/phi)`` (enforced; the
    default uses 2/phi for margin) every true phi-heavy tuple keeps a
    counter >= threshold - err, so the candidate set is a SUPERSET of
    the answer and exact verification only removes false positives (a
    hash collision merely lets a non-candidate tuple into verification,
    where its exact count filters it).  A belt-and-braces runtime check
    re-verifies err < threshold on the merged sketch.  Fully
    distributed: nothing collects to the driver — the O(groups x k)
    candidate table explodes out of the sketch rows and joins back onto
    the input, replacing a full distinct-tuple groupBy with a
    semi-filtered aggregation over candidate rows only.

    ``broadcast_candidates``: the candidate table is O(groups x k) rows;
    forcing a broadcast is only unconditionally safe when that bound is
    known small.  Default (None): force-broadcast for the GLOBAL case
    (1 x k rows, k already validated), but leave the grouped case to
    Spark's own planner/AQE, which broadcasts from actual runtime sizes
    and falls back to a shuffle hash join when groups x k is large —
    an explicit F.broadcast would bypass that safety valve.  Pass
    True/False to override either way.
    """
    import math

    if not 0.0 < phi < 1.0:
        raise ValueError("phi must be in (0, 1)")
    by = list(by)
    reserved = {"_ch", "_thresh", "_i", "cnt"} & (set(cols) | set(by))
    if reserved:
        # withColumn("_ch", ...) would silently REPLACE a data column
        # of that name and emit its hash as the "exact" item
        raise ValueError(
            f"input columns collide with reserved names: {sorted(reserved)}"
        )
    k_min = int(math.ceil(1.0 / phi))
    if k is None:
        k = max(8, int(math.ceil(2.0 / phi)))
    elif k < k_min:
        # err <= N/(k+1) must stay below thresh = ceil(phi*N), or a true
        # heavy hitter can be evicted and silently missing from an
        # "exact" result
        raise ValueError(
            f"k={k} cannot guarantee phi={phi} recall; need k >= {k_min}"
        )
    sk = mg_agg(df, cols, by=by, k=k)

    @pandas_udf("struct<cands: array<long>, thresh: long>")
    def _cand_struct(s: pd.Series) -> pd.DataFrame:
        cands, threshes = [], []
        for b in s:
            mg = MisraGries.from_bytes(bytes(b))
            thresh = int(math.ceil(phi * mg.total))
            if mg.total and mg.err >= max(thresh, 1):
                raise RuntimeError(
                    f"MG error {mg.err} >= threshold {thresh}: the "
                    "recall guarantee is void (k too small for phi)"
                )
            hs, _ = mg.candidates(max(1, thresh - mg.err))
            cands.append([int(x) for x in hs])
            threshes.append(thresh)
        return pd.DataFrame({"cands": cands, "thresh": threshes})

    cand = sk.select(
        *by, _cand_struct("sketch").alias("_i")
    ).select(
        *by,
        F.col("_i.thresh").alias("_thresh"),
        F.explode("_i.cands").alias("_ch"),
    )

    cond = _notnull_cond(cols)
    base = (df.where(cond) if cond is not None else df).withColumn(
        "_ch", _hash_cols(cols)
    )
    if broadcast_candidates is None:
        # global case: 1 x k rows, safe; grouped: let the planner/AQE
        # pick from runtime sizes (no hint either way)
        hinted = F.broadcast(cand) if not by else cand
    elif broadcast_candidates:
        hinted = F.broadcast(cand)
    else:
        # hard opt-out: shuffle hash join even if AQE would broadcast
        hinted = cand.hint("shuffle_hash")
    h, c = base.alias("h"), hinted.alias("c")
    on = [F.col(f"h.{x}").eqNullSafe(F.col(f"c.{x}")) for x in by] + [
        F.col("h._ch") == F.col("c._ch")
    ]
    joined = h.join(c, on, "inner").select(
        *[F.col(f"h.{x}") for x in by + list(cols)], F.col("c._thresh")
    )
    return (
        joined.groupBy(*(by + list(cols)), "_thresh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= F.col("_thresh"))
        .drop("_thresh")
    )


# ------------------------------------------------------------------ CMS


def cms_agg(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    d: int = 5,
    w: int = 2048,
    weight_col: str | None = None,
    fanin: int | None = 64,
) -> DataFrame:
    return _merge_stage(
        cms_partials(df, cols, by, d, w, weight_col),
        by,
        CountMinSketch.from_bytes,
        fanin=fanin,
    )


def _require_integral_weight(df: DataFrame, weight_col: str, ctx: str) -> None:
    """CMS/MG counters are integers; a silent float->int64 cast would
    truncate fractional weights and break the counter invariants.  The
    gate lives at the PARTIALS layer so every entry point (batch agg,
    streaming sketch_stream_writer, partials-only callers) fails loudly
    on a float weight column."""
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        IntegerType,
        LongType,
        ShortType,
    )

    # case-insensitive lookup: Spark column resolution is
    # case-insensitive by default, the gate must match it
    matches = [
        f for f in df.schema.fields if f.name.lower() == weight_col.lower()
    ]
    if not matches:
        raise ValueError(f"weight column {weight_col!r} not in DataFrame")
    dt = matches[0].dataType
    integral = isinstance(
        dt, (ByteType, ShortType, IntegerType, LongType)
    ) or (isinstance(dt, DecimalType) and dt.scale == 0)
    if not integral:
        raise TypeError(
            f"{ctx} weight column must be integral, got "
            f"{dt.simpleString()} — cast explicitly"
        )


def cms_partials(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    d: int = 5,
    w: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Stage 1 only — batch building block and streaming partials_fn."""
    if weight_col is not None:
        _require_integral_weight(df, weight_col, "cms_partials")
    return _generic_partials(
        df,
        by,
        [_hash_cols(cols)],
        lambda: CountMinSketch(d, w),
        (lambda s, c: s.update_hashes(c[0], c[1]))
        if weight_col
        else (lambda s, c: s.update_hashes(c[0])),
        weight_col=weight_col,
        notnull_cols=cols,
    )


@pandas_udf(LongType())
def _cms_point_query_udf(s: pd.Series, hh: pd.Series) -> pd.Series:
    # one decode per distinct sketch per batch, vectorized probes;
    # NULL sketch or NULL probe hash -> NULL (SQL semantics)
    out = pd.Series(np.zeros(len(s), dtype=object), index=s.index)
    nulls = s.isna() | hh.isna()
    out[nulls] = None
    live = s[~nulls]
    groups = live.groupby(live.map(bytes)).groups
    hv = _probe_hashes(hh, "cms_point_query")
    pos = {ix: i for i, ix in enumerate(s.index)}
    for buf, idx in groups.items():
        cms = CountMinSketch.from_bytes(buf)
        rows = np.fromiter((pos[i] for i in idx), dtype=np.int64)
        ests = cms.point_query_hashes(hv[rows])
        out.iloc[rows] = [int(x) for x in ests]
    return out


def cms_point_query(sketch: Column | str, h: Column) -> Column:
    """Estimated frequency of the item whose build-side hash is ``h``
    (= ``xxhash64(value)``).  NULLs masked JVM-side (see _probe_hashes)."""
    sk = F.col(sketch) if isinstance(sketch, str) else sketch
    anynull = sk.isNull() | h.isNull()
    return F.when(~anynull, _cms_point_query_udf(sk, F.coalesce(h, F.lit(0))))


@pandas_udf(LongType())
def _cms_total_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda b: None if b is None else CountMinSketch.from_bytes(bytes(b)).total
    )


def cms_total(sketch: Column | str) -> Column:
    """EXACT total weight added to the sketch (tracked alongside the
    counters and summed on merge) — the CMS analogue of kll_count: it
    makes the scan -> partial -> tree-merge pipeline hash-checkable
    against ``count(*)`` / ``sum(weight)`` even though point queries are
    overcount-only estimates."""
    return _cms_total_udf(sketch)


# ------------------------------------------------- Frequent Directions


def fd_partials(
    df: DataFrame,
    vec_col: str,
    dim: int,
    by: Sequence[str] = (),
    ell: int = 64,
) -> DataFrame:
    """Stage 1 for the Frequent Directions matrix sketch: one FD per
    (partition x group) over an ``array<float|double>`` embedding
    column.  Unlike the hashed-scalar sketches this consumes the raw
    vectors, so it rides _generic_partials' raw-value mode (one shared
    group-slice/accumulate/emit path for every sketch); ``dim`` is the
    fixed-width contract, validated per batch by the shared _vec_matrix
    guard.  NULL vectors are dropped (matching count(vec) semantics);
    rows with non-finite values fail loudly in the kernel."""
    from ..sketches import FrequentDirections
    from .ann import _vec_matrix

    return _generic_partials(
        df,
        by,
        hash_exprs=[],
        make_sketch=lambda: FrequentDirections(ell, dim),
        update=lambda fd, cols: fd.update(cols[0]),
        notnull_cols=[vec_col],
        value_cols=[vec_col],
        batch_values=lambda batch, by_len, n: [
            _vec_matrix(batch.column(by_len), n, dim)
        ],
    )


def fd_agg(
    df: DataFrame,
    vec_col: str,
    dim: int,
    by: Sequence[str] = (),
    ell: int = 64,
    fanin: int | None = 64,
) -> DataFrame:
    """Distributed Frequent Directions: covariance/spectral sketch of an
    embedding column per group, through the same salted bounded-fan-in
    tree merge as every other sketch.  Each partial is O(ell * dim)
    bytes, so the exchange carries sketches, never vectors; the merged
    sketch certifies its own spectral error (fd_spectral_bound) and its
    exact row count / Frobenius mass (fd_rows / fd_fnorm2) stay
    oracle-checkable against count(*) / sum of squares."""
    from ..sketches import FrequentDirections

    return _merge_stage(
        fd_partials(df, vec_col, dim, by, ell),
        by,
        FrequentDirections.from_bytes,
        fanin=fanin,
    )


@pandas_udf(LongType())
def _fd_rows_udf(s: pd.Series) -> pd.Series:
    from ..sketches import FrequentDirections

    return s.map(
        lambda b: None
        if b is None
        else FrequentDirections.from_bytes(bytes(b)).n_rows
    )


@pandas_udf(DoubleType())
def _fd_fnorm2_udf(s: pd.Series) -> pd.Series:
    from ..sketches import FrequentDirections

    return s.map(
        lambda b: None
        if b is None
        else FrequentDirections.from_bytes(bytes(b)).fnorm2
    )


@pandas_udf(DoubleType())
def _fd_bound_udf(s: pd.Series) -> pd.Series:
    from ..sketches import FrequentDirections

    return s.map(
        lambda b: None
        if b is None
        else FrequentDirections.from_bytes(bytes(b)).shrink_total
    )


def fd_rows(sketch: Column | str) -> Column:
    """EXACT number of vectors absorbed (summed on merge) — the
    oracle-checkable companion, same role as kll_count/cms_total."""
    return _fd_rows_udf(sketch)


def fd_fnorm2(sketch: Column | str) -> Column:
    """EXACT squared Frobenius mass ||A||_F^2 (associative float sum;
    oracle-checkable against sum(x_i^2) within float tolerance)."""
    return _fd_fnorm2_udf(sketch)


def fd_spectral_bound(sketch: Column | str) -> Column:
    """Certified ||A'A - B'B||_2 bound carried by the sketch (sum of
    applied shrink deltas; always <= fnorm2 / ell)."""
    return _fd_bound_udf(sketch)


@pandas_udf(ArrayType(DoubleType()))
def _fd_singular_values_udf(s: pd.Series, k: pd.Series) -> pd.Series:
    from ..sketches import FrequentDirections

    kv = k.to_numpy()
    out = []
    for b, ki in zip(s, kv):
        # pd.isna, not `is None`: a SQL NULL k arrives as float64 NaN
        # through the pandas conversion and int(NaN) raises (the
        # _kll_quantile_udf convention)
        if b is None or pd.isna(ki):
            out.append(None)
        else:
            sv = FrequentDirections.from_bytes(bytes(b)).singular_values(
                int(ki)
            )
            out.append([float(x) for x in sv])
    return pd.Series(out, index=s.index)


def fd_singular_values(sketch: Column | str, k: int) -> Column:
    """Top-k singular values of the sketch, as array<double> (each is
    in [sqrt(max(sigma_j^2 - bound, 0)), sigma_j] of the true value)."""
    return _fd_singular_values_udf(sketch, F.lit(int(k)))


# ------------------------------------------------------------ Theta/KMV


def theta_partials(
    df: DataFrame, cols: Sequence[str], by: Sequence[str] = (), k: int = 4096
) -> DataFrame:
    """Stage 1: one ThetaSketch per (partition x group) over the tuple
    ``cols`` (same pre-hashed xxhash64 contract as HLL — a probe or a
    second cohort built with the same ``cols`` shape is directly
    algebra-compatible)."""
    return _generic_partials(
        df,
        by,
        [_hash_cols(cols)],
        lambda: ThetaSketch(k),
        lambda s, c: s.update_hashes(c[0]),
        notnull_cols=cols,
    )


def theta_agg(
    df: DataFrame,
    cols: Sequence[str],
    by: Sequence[str] = (),
    k: int = 4096,
    fanin: int | None = 64,
) -> DataFrame:
    """Distinct-count + set-algebra sketch of the tuple ``cols`` per
    group.  vs hll_agg: ~8x bigger sketch at the same relative error,
    but union/intersection/difference CLOSE over sketches with per-
    result error bounds (theta_rse_bound) — inclusion-exclusion over
    HLL estimates cannot bound a small overlap.  Partial size is
    O(k) = 32 KB at k=4096, constant in row count, so the salted tree's
    per-reducer fan-in bound carries the same 100-TB posture as HLL."""
    return _merge_stage(
        theta_partials(df, cols, by, k), by, ThetaSketch.from_bytes, fanin=fanin
    )


@pandas_udf(DoubleType())
def _theta_estimate_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda b: None if b is None else ThetaSketch.from_bytes(bytes(b)).estimate()
    )


def theta_estimate(sketch: Column | str) -> Column:
    """Unbiased distinct-count estimate (exact while the sketch is
    unsaturated, i.e. fewer than k distincts seen)."""
    return _theta_estimate_udf(sketch)


@pandas_udf(LongType())
def _theta_n_retained_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda b: None
        if b is None
        else ThetaSketch.from_bytes(bytes(b)).n_retained()
    )


def theta_n_retained(sketch: Column | str) -> Column:
    """Retained-sample size — the quantity that governs the error of a
    derived (intersection/difference) sketch."""
    return _theta_n_retained_udf(sketch)


@pandas_udf(DoubleType())
def _theta_rse_bound_udf(s: pd.Series, n_std: pd.Series) -> pd.Series:
    out = []
    for b, ns in zip(s, n_std):
        # pd.isna: a SQL NULL n_std arrives as NaN, never None
        if b is None or pd.isna(ns):
            out.append(None)
        else:
            v = ThetaSketch.from_bytes(bytes(b)).rse_bound(float(ns))
            out.append(None if v == float("inf") else v)
    return pd.Series(out, dtype="float64")


def theta_rse_bound(sketch: Column | str, n_std: float = 3.0) -> Column:
    """n_std-sigma RELATIVE error bound on theta_estimate of THIS sketch
    (0 when exact; NULL when fewer than 2 hashes are retained — the
    estimate is then unbounded and should be treated as 'no signal')."""
    return _theta_rse_bound_udf(sketch, F.lit(float(n_std)))


def _theta_union_bytes(ba: bytes, bb: bytes) -> bytes:
    return (
        ThetaSketch.from_bytes(ba)
        .merge(ThetaSketch.from_bytes(bb))
        .to_bytes()
    )


def _theta_intersect_bytes(ba: bytes, bb: bytes) -> bytes:
    return (
        ThetaSketch.from_bytes(ba)
        .intersect(ThetaSketch.from_bytes(bb))
        .to_bytes()
    )


def _theta_a_not_b_bytes(ba: bytes, bb: bytes) -> bytes:
    return (
        ThetaSketch.from_bytes(ba)
        .a_not_b(ThetaSketch.from_bytes(bb))
        .to_bytes()
    )


_theta_union_pair_udf = _pair_udf(BinaryType(), _theta_union_bytes, True)
_theta_intersect_pair_udf = _pair_udf(
    BinaryType(), _theta_intersect_bytes, False
)
_theta_a_not_b_pair_udf = _pair_udf(BinaryType(), _theta_a_not_b_bytes, False)


def theta_union_pair(a: Column | str, b: Column | str) -> Column:
    """A ∪ B as a sketch (associative; NULL identity)."""
    return _theta_union_pair_udf(a, b)


def theta_intersect_pair(a: Column | str, b: Column | str) -> Column:
    """A ∩ B as a sketch — estimate it with theta_estimate, bound it
    with theta_rse_bound on the RESULT (retained intersection sample).
    NULL propagates (unknown set -> unknown overlap)."""
    return _theta_intersect_pair_udf(a, b)


def theta_a_not_b_pair(a: Column | str, b: Column | str) -> Column:
    """A \\ B as a sketch.  NULL propagates."""
    return _theta_a_not_b_pair_udf(a, b)
