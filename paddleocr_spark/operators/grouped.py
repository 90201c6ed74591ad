"""The one grouped Arrow driver: repartition + sortWithinPartitions +
``mapInArrow`` with batch-boundary carry.

``groupBy().applyInPandas`` pays a per-GROUP toll twice — the JVM slices one
Arrow batch per group, and Python constructs one pandas DataFrame per group
(~300-500 µs/group measured in PERF.md's flagship history). Fine at gate SF;
ruinous when 10^12 docs mean millions of tiny (doc, class) groups. Every
per-group operator (the flagship reading order, per-image NMS, Deteval
matching, the *_gt target generators) therefore takes the same shape:
hash-partition by the group key (explicit repartition — exempt from AQE
byte-based coalescing), sort within partitions so groups arrive contiguous,
then stream WHOLE Arrow batches into Python, carrying each batch's trailing
group into the next (:func:`carry_groups`) — zero per-group Arrow
round-trips, zero per-group pandas frames.

Two entry points sit on that shape:

* :func:`grouped_map_arrow` — ``emit(pa.Table) -> pa.RecordBatch`` over
  complete groups, for kernels that return Arrow ``take`` results
  (nms_per_class, east_nms_locality);
* :func:`grouped_map_rows` — ``per_group(g)`` over one group's numpy
  slices, returning row tuples; the driver finds group boundaries and
  builds each batch against the Arrow form of the output DDL.

The flagship (pipeline.order_and_assemble) clusters with :func:`cluster`
and runs its own ``mapInArrow`` body over :func:`carry_groups`.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame


def group_starts(*code_arrays: np.ndarray) -> np.ndarray:
    """Start indices of each contiguous group in already-sorted code
    arrays (one per key column). Vectorized; returns array of starts
    (first element 0) for a non-empty input."""
    n = len(code_arrays[0])
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for arr in code_arrays:
        change[1:] |= arr[1:] != arr[:-1]
    return np.flatnonzero(change)


def _last_group_start(tbl, keys: list[str]) -> int:
    """Start index of the trailing (possibly batch-spanning) group in a
    sorted Arrow table — the batch-boundary cut point. Vectorized: one
    shifted not-equal per key column instead of a per-row Python scalar
    walk (which cost O(group_size) per batch when one group spanned a
    whole batch). Null keys compare equal to null, like the scalar form."""
    import pyarrow.compute as pc

    n = tbl.num_rows
    if n <= 1:
        return 0
    neq = None
    for k in keys:
        col = tbl.column(k).combine_chunks()
        a, b = col.slice(1), col.slice(0, n - 1)
        d = pc.or_(pc.fill_null(pc.not_equal(a, b), False),
                   pc.xor(pc.is_null(a), pc.is_null(b)))
        neq = d if neq is None else pc.or_(neq, d)
    idx = np.flatnonzero(neq.to_numpy(zero_copy_only=False))
    return int(idx[-1]) + 1 if idx.size else 0


def _complete_groups(batches: Iterator, keys: list[str]) -> Iterator:
    """Tables of complete groups from Arrow batches sorted by ``keys``:
    the trailing (possibly incomplete) group of each batch is carried
    into the next, and the last carry comes out at the end."""
    import pyarrow as pa

    carry: pa.Table | None = None
    for rb in batches:
        tbl = pa.Table.from_batches([rb])
        if carry is not None:
            tbl = pa.concat_tables([carry, tbl]).combine_chunks()
        if tbl.num_rows == 0:
            continue
        cut = _last_group_start(tbl, keys)
        carry = tbl.slice(cut)
        if cut > 0:
            yield tbl.slice(0, cut)
    if carry is not None and carry.num_rows:
        yield carry


def carry_groups(batches: Iterator, keys: list[str],
                 emit: Callable) -> Iterator:
    """Yield ``emit(pa.Table)`` over runs of complete groups of
    ``batches`` (Arrow record batches sorted by ``keys``), skipping
    ``None`` and empty outputs."""
    for tbl in _complete_groups(batches, keys):
        out = emit(tbl)
        if out is not None and out.num_rows:
            yield out


def cluster(df: DataFrame, keys: list[str],
            sort_cols: list[str]) -> DataFrame:
    """Hash-partition by ``keys`` into 2× defaultParallelism partitions
    (an explicit count, so AQE does not coalesce the Python stage narrow)
    and sort by ``keys + sort_cols`` within each partition, so every group
    is contiguous and in a deterministic order — output is therefore
    invariant to partition count and input row order."""
    n = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n, *keys).sortWithinPartitions(*keys, *sort_cols)


def grouped_map_arrow(df: DataFrame, keys: list[str], sort_cols: list[str],
                      emit: Callable, schema: str) -> DataFrame:
    """Run ``emit(pa.Table) -> pa.RecordBatch`` over tables of complete
    groups (:func:`cluster` + :func:`carry_groups`)."""
    def run(it: Iterator) -> Iterator:
        return carry_groups(it, keys, emit)

    return cluster(df, keys, sort_cols).mapInArrow(run, schema=schema)


def _rows_emitter(keys: list[str], per_group: Callable[[dict], Iterable],
                  schema) -> Callable:
    """The ``emit`` of :func:`grouped_map_rows` for an Arrow ``schema``:
    slices a table of complete groups into ``{column: numpy slice}``
    dicts, calls ``per_group`` on each and builds one batch of the rows
    (Python values cast to the schema's types); ``None`` when no group
    returned a row."""
    import pyarrow as pa

    def emit(tbl):
        cols = {c: tbl.column(c).to_numpy() for c in tbl.column_names}
        starts = group_starts(*(string_codes(tbl.column(k)) for k in keys))
        ends = np.append(starts[1:], tbl.num_rows)
        rows = [row for s, e in zip(starts, ends)
                for row in per_group({c: a[s:e] for c, a in cols.items()})]
        if not rows:
            return None
        return pa.RecordBatch.from_arrays(
            [pa.array(col, type=f.type)
             for col, f in zip(zip(*rows), schema)], schema=schema)
    return emit


def grouped_map_rows(df: DataFrame, keys: list[str], sort_cols: list[str],
                     per_group: Callable[[dict], Iterable],
                     schema: str) -> DataFrame:
    """Run ``per_group(g)`` over every group of ``df``.

    ``g`` maps each column to its numpy slice for one group (rows in
    ``sort_cols`` order); ``per_group`` returns (or yields) row tuples in
    the column order of the DDL ``schema``, which is the only place the
    output columns are declared."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    emit = _rows_emitter(keys, per_group,
                         to_arrow_schema(DataType.fromDDL(schema)))
    return grouped_map_arrow(df, keys, sort_cols, emit, schema)


def string_codes(col) -> np.ndarray:
    """Dictionary codes for an Arrow key column — group-boundary
    comparisons on int codes instead of Python strings."""
    import pyarrow.compute as pc
    return pc.dictionary_encode(col).combine_chunks().indices.to_numpy(
        zero_copy_only=False)
