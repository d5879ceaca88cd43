"""Shared salted tree-merge for mergeable-sketch partials.

One reduction shape serves every sketch in the library (t-digest, HLL,
CMS, Bloom, KLL): stage-1 emits one partial row per (input partition x
group); this helper merges them down to one row per group with *bounded
reducer fan-in* at every level, which is what keeps a global or hot-key
merge from funnelling 100k partials into a single python worker.

Salt derivation is deterministic at every level (advisor finding,
round 1): level 0 uses ``spark_partition_id() % n_salts`` — a hard bound
because each input partition contributes at most one partial per group —
and each subsequent level re-buckets the *carried* salt via integer
division by ``fanin``, so the per-reducer fan-in is exactly ``<= fanin``
at every level, not just in expectation under hash partitioning.

Every level is one exchange (hash on the group columns; a single
partition for the global level) followed by ``mapInArrow`` over
``merge_groups``: Arrow's ``group_by`` finds the groups and each group's
rows in arrival order, so key values stay exact for every Arrow key type
and no row passes through pandas.

Merge associativity (reference: tdigest.go:262-272 for the digest; HLL
register-max / CMS counter-add / Bloom bit-or are trivially associative)
is what makes tree depth irrelevant to correctness.
"""

from __future__ import annotations

import math
from typing import Callable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    MapType,
    StructField,
    StructType,
)

_ROW = "_row"


def require_flat_keys(fields: Sequence[StructField]) -> None:
    """Reject struct, array and map group keys at plan time: Arrow can
    neither dictionary-encode them (the partial builders) nor ``group_by``
    them (the merge levels), so they would otherwise fail inside a
    Python task."""
    for f in fields:
        if isinstance(f.dataType, (StructType, ArrayType, MapType)):
            raise ValueError(
                f"group column {f.name!r} has nested type "
                f"{f.dataType.simpleString()}; group keys must be atomic"
            )


def canonical_key(field: StructField) -> Column:
    """``field``'s column with float keys canonicalised, aliased to its
    name: -0.0 becomes +0.0 and every NaN payload becomes the one
    canonical NaN.  Spark's own groupBy folds both
    (NormalizeFloatingNumbers), but the hash exchange, Arrow's
    ``group_by`` and ``to_json`` see raw values: without this one logical
    group would split into several rows.  SQL ``-0.0 == 0.0`` is TRUE, so
    the second branch rewrites exactly the two zeros."""
    c = F.col(field.name)
    t = field.dataType
    if isinstance(t, (FloatType, DoubleType)):
        c = (
            F.when(F.isnan(c), F.lit(float("nan")).cast(t))
            .when(c == 0.0, F.lit(0.0).cast(t))
            .otherwise(c)
        )
    return c.alias(field.name)


def merge_groups(
    table: pa.Table,
    keys: Sequence[str],
    out_schema: pa.Schema,
    merge: Callable[[list], object],
) -> pa.Table:
    """One output row per distinct ``keys`` tuple of ``table``, groups in
    order of first appearance.

    ``out_schema`` holds the key columns, then the merged column, built
    as ``merge(values)`` from the same-named input column's values of
    the group (python objects in arrival order — KLL and Misra-Gries
    bytes depend on it), then count columns, each summed from the
    same-named int64 input column.  Other input columns are ignored.
    """
    keys = list(keys)
    payload = next(f for f in out_schema if f.name not in keys)
    if keys:
        # group_by keeps each group's rows in arrival order but does not
        # promise first-appearance group order (it breaks with two key
        # columns), so the groups are sorted by their first row
        grouped = (
            table.append_column(_ROW, pa.array(np.arange(table.num_rows)))
            .group_by(keys, use_threads=False)
            .aggregate([(_ROW, "list"), (_ROW, "min")])
            .sort_by(_ROW + "_min")
        )
        lists = grouped.column(_ROW + "_list").combine_chunks()
        order = lists.flatten().to_numpy()
        lengths = lists.value_lengths().to_numpy()
    else:
        grouped = None
        order = np.arange(table.num_rows)
        lengths = np.array([table.num_rows])
    starts = np.concatenate(([0], np.cumsum(lengths)))

    values = table.column(payload.name).take(order).to_pylist()
    merged = [merge(values[a:b]) for a, b in zip(starts[:-1], starts[1:])]

    cols = []
    for f in out_schema:
        if f.name in keys:
            col = grouped.column(f.name)
        elif f.name == payload.name:
            col = pa.array(merged, type=f.type)
        else:
            counts = table.column(f.name).to_numpy()[order]
            col = pa.array(np.add.reduceat(counts, starts[:-1]), type=f.type)
        cols.append(col if col.type == f.type else col.cast(f.type))
    return pa.Table.from_arrays(cols, schema=out_schema)


def grouped_merge(
    df: DataFrame,
    group_cols: Sequence[str],
    out_schema: StructType,
    merge: Callable[[list], object],
    n_upstream: int | None = None,
) -> DataFrame:
    """One-row-per-group merge: an exchange that co-locates each group
    (hash on ``group_cols``; one partition when there are none), then
    ``merge_groups`` once per shuffle partition — one python call per
    partition, not one per group.

    The exchange width is DERIVED from the upstream partition count
    instead of pinned to spark.sql.shuffle.partitions: the partial
    tables carry at most (upstream partitions x groups) rows of
    O(compression) bytes, so min(shuffle.partitions, upstream) reducers
    is always enough — at scale upstream >> shuffle.partitions and the
    width is unchanged, while a small input stops scheduling one
    python-worker task per configured shuffle partition for a handful
    of partial rows (guide §2.2: size the exchange from the data, not
    the core count).
    """
    from pyspark.sql.pandas.types import to_arrow_type

    group_cols = list(group_cols)
    # float keys are canonicalised BEFORE the exchange, so both zeros
    # and every NaN payload hash to one reducer and one Arrow group
    floats = {
        f.name: canonical_key(f)
        for f in df.schema.fields
        if f.name in group_cols
        and isinstance(f.dataType, (FloatType, DoubleType))
    }
    if floats:
        df = df.withColumns(floats)
    if group_cols:
        try:
            n_shuffle = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            n_shuffle = df.sparkSession.sparkContext.defaultParallelism
        if n_upstream is None:
            n_upstream = df.rdd.getNumPartitions()
        n_target = max(1, min(n_shuffle, n_upstream))
        dist = df.repartition(n_target, *[F.col(c) for c in group_cols])
    else:
        dist = df.repartition(1)
    arrow_out = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in out_schema]
    )

    def run(batches):
        batches = [b for b in batches if b.num_rows]
        if batches:
            yield from merge_groups(
                pa.Table.from_batches(batches), group_cols, arrow_out, merge
            ).to_batches()

    return dist.mapInArrow(run, out_schema)


def tree_merge(
    partials: DataFrame,
    by: Sequence[str],
    schema: StructType,
    merge_fn: Callable[[list[bytes]], bytes],
    fanin: int | None,
    n_units: int | None = None,
) -> DataFrame:
    """Merge partial rows to one row per group.

    ``schema`` is the ``by`` columns, the sketch column, then int64
    count columns (see ``merge_groups``); ``merge_fn(list[bytes]) ->
    bytes`` merges one group's sketches.  ``fanin=None`` disables
    salting (single-level merge).

    ``n_units``: upper bound on partials per group.  The default (None)
    assumes the stage-1 builder invariant — at most one partial per
    (input partition, group), true for mapInArrow builder output — and
    sizes/salts level 0 by partition id (hard bound).  Partials read
    back FROM STORAGE break that invariant (the parquet reader packs
    many small files into one partition), so those callers must pass the
    actual partial row count: level 0 then salts by a hash of a unique
    row id (uniform in expectation over >= fanin rows per salt), and
    every later level re-buckets the carried salt deterministically
    (hard bound again, since level 0 leaves one row per (group, salt)).
    """
    by = list(by)
    if fanin is not None and fanin < 2:
        raise ValueError("fanin must be >= 2")
    require_flat_keys([f for f in schema.fields if f.name in by])

    if not fanin:
        n_parts = 0
    elif n_units is not None:
        n_parts = n_units
    else:
        n_parts = partials.rdd.getNumPartitions()
    if fanin:
        salted_schema = StructType(
            [StructField("_salt", LongType(), False)] + list(schema.fields)
        )
        first = True
        while n_parts > fanin:
            n_salts = int(math.ceil(n_parts / fanin))
            if first and n_units is not None:
                # storage-read partials: rows per (partition, group) are
                # unbounded, so spread by hashed unique row id instead
                salt = F.pmod(
                    F.xxhash64(F.monotonically_increasing_id()),
                    F.lit(n_salts),
                ).cast("long")
            elif first:
                # hard bound: partition ids 0..P-1 map round-robin onto
                # salts, and each input partition holds <=1 partial/group
                salt = (F.spark_partition_id() % F.lit(n_salts)).cast("long")
            else:
                # hard bound: previous level left exactly one row per
                # (group, salt<n_parts); consecutive-salt blocks of size
                # `fanin` collapse into one reducer
                salt = F.floor(F.col("_salt") / F.lit(fanin)).cast("long")
            first = False
            partials = grouped_merge(
                partials.withColumn("_salt", salt),
                by + ["_salt"],
                salted_schema,
                merge_fn,
                n_upstream=n_parts,
            )
            n_parts = n_salts

    # after salt levels the upstream width is the last level's reducer
    # count; fanin=None probes the plan directly
    return grouped_merge(
        partials, by, schema, merge_fn, n_upstream=n_parts if fanin else None
    )
