"""Exact grouped percentiles as a two-stage Arrow kernel.

``exact_percentiles`` computes the same values as Spark's
``percentile(col, array(...))`` aggregate (sorted-order linear
interpolation at rank ``q * (n - 1)``, two-sided lerp in double
arithmetic — Percentile.scala's formula replicated bit-for-bit) but
through the library's partial->merge shape instead of the JVM's
OpenHashMap-of-boxed-doubles aggregation buffer:

  * stage 1 (``mapInArrow``, zero shuffle): per (input partition x
    group), sort the partition's values with NumPy and emit ONE binary
    blob of sorted float64 plus nothing else — the same radix-argsort
    batch grouping as the digest builder (``_batch.group_codes``);
  * stage 2: the tree merge's single level (``_tree.grouped_merge``):
    hash-repartition the O(partitions x groups) blob rows by group,
    merge-sort each group's runs, and interpolate.

Shuffle posture at scale: identical to Spark's own ``percentile`` — the
per-partition pre-aggregation ships every distinct value to one reducer
per group (an exact percentile is not sketchable; that is what the
t-digest is for).  The blobs here are packed float64 runs rather than
boxed-object hash maps, which is why the kernel is several times
faster per byte.  This is the library's VERIFICATION-tier companion for
exact-percentile oracle arms; production reads use digest quantiles.

Groups whose values are all NULL emit no row (Spark's aggregate emits a
NULL array for them) — identical join behavior downstream of a
tdigest_agg estimate arm, which also drops value-less groups.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    StructField,
    StructType,
)

from ._tree import grouped_merge, require_flat_keys


def _arrow_schema(schema: StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in schema]
    )


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    qs: Sequence[float],
    by: Sequence[str] = (),
    out_col: str = "_pb",
) -> DataFrame:
    """One row per group: ``by..., out_col array<double>`` with the exact
    percentiles of ``value_col`` at each q in ``qs`` — value-identical
    to ``percentile(value_col, array(qs...))``."""
    qarr = np.asarray([float(q) for q in qs], dtype=np.float64)
    if qarr.size == 0:
        raise ValueError("qs must be non-empty")
    if ((qarr < 0.0) | (qarr > 1.0)).any():
        raise ValueError("percentile points must be in [0, 1]")
    by = list(by)
    pruned = df.select(*by, value_col).where(F.col(value_col).isNotNull())
    by_set = set(by)
    by_fields = [f for f in pruned.schema.fields if f.name in by_set]
    require_flat_keys(by_fields)
    # the sorted-run blobs travel under the output column's name, which
    # the merge replaces with the interpolated percentiles
    s1_schema = StructType(
        by_fields + [StructField(out_col, BinaryType(), False)]
    )
    arrow1 = _arrow_schema(s1_schema)
    v_idx = len(by)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ._batch import group_codes

        accs: dict[tuple, list] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            combined, uniq_codes, row_counts, keys, row_order = group_codes(
                batch, len(by)
            )
            v_all = (
                batch.column(v_idx)
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
            )
            multi = combined is not None and len(uniq_codes) > 1
            if multi:
                v_all = v_all[row_order]
                offsets = np.concatenate(([0], np.cumsum(row_counts)))
            for g, key in enumerate(keys):
                if multi:
                    vals = v_all[offsets[g] : offsets[g + 1]]
                else:
                    vals = v_all
                accs.setdefault(key, []).append(vals)
        if accs:
            items = list(accs.items())
            arrays = []
            for j in range(len(by)):
                arrays.append(
                    pa.array(
                        [k[j] for k, _ in items], type=arrow1.field(j).type
                    )
                )
            blobs = []
            for _, chunks in items:
                run = (
                    chunks[0].copy()
                    if len(chunks) == 1
                    else np.concatenate(chunks)
                )
                run.sort()
                blobs.append(run.tobytes())
            arrays.append(pa.array(blobs, type=pa.binary()))
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow1)

    partials = pruned.mapInArrow(build, s1_schema)
    out_schema = StructType(
        by_fields + [StructField(out_col, ArrayType(DoubleType()), False)]
    )

    def interpolate(sorted_vals: np.ndarray) -> list[float]:
        n = sorted_vals.size
        pos = qarr * (n - 1)
        lo = np.floor(pos).astype(np.int64)
        hi = np.ceil(pos).astype(np.int64)
        # Spark Percentile.scala: (higher - position) * lowerValue +
        # (position - lower) * higherValue, exact value when hi == lo
        res = np.where(
            hi == lo,
            sorted_vals[lo],
            (hi - pos) * sorted_vals[lo] + (pos - lo) * sorted_vals[hi],
        )
        return [float(v) for v in res]

    def merge(blobs: list[bytes]) -> list[float]:
        runs = [np.frombuffer(b, dtype=np.float64) for b in blobs]
        allv = runs[0] if len(runs) == 1 else np.concatenate(runs)
        return interpolate(np.sort(allv))

    return grouped_merge(partials, by, out_schema, merge)
