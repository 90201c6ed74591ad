"""The one Python-stage driver: every per-row and per-group Python kernel
of the dataflow runs as ``mapInArrow`` through this module.

Two entry points, one contract — the kernel returns (or yields) row
tuples in the column order of the output DDL ``schema``, which is the
only place the output columns are declared:

* :func:`map_rows` — ``per_row(*values)`` on every input row (values in
  the input's column order), in the input's own partitioning: no
  exchange, so per-row kernels (decoders, detectors, scorers) fan out
  with the scan;
* :func:`grouped_map_rows` — ``per_group(g)`` over one group's numpy
  slices. ``groupBy().applyInPandas`` pays a per-GROUP toll twice (the
  JVM slices one Arrow batch per group, Python builds one pandas frame
  per group), so groups instead take one shape: hash-partition by the
  key into one partition per core (explicit repartition, exempt from
  AQE byte-based coalescing; one wave of Python tasks), sort within
  partitions so groups arrive contiguous, then stream WHOLE Arrow
  batches into Python, carrying each batch's trailing group into the
  next (:func:`carry_groups`).

Both read each input batch as numpy columns (:func:`_numpy_columns`) and
build each output batch with :func:`_batch`, which casts every Python
value into its column's Arrow type: ints into ``double`` and floats into
``long`` columns (truncating) are cast, but a float NaN stays NaN (it is
not NULL) and a Python ``bool`` is not an integer, so kernels emit
``None`` and ``int`` for those.

The flagship (pipeline.order_and_assemble) needs no :func:`cluster`: each
of its input rows is one whole document, so its exploded spans already
arrive contiguous and in order within their scan partition, and it runs
its own ``mapInArrow`` body over :func:`carry_groups` in the scan's stage.
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
    """Tables of complete groups from Arrow batches in which each ``keys``
    group is one contiguous run (sorted, or as the flagship's scan emits):
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
    ``batches`` (Arrow record batches, each ``keys`` group contiguous),
    skipping ``None`` and empty outputs."""
    for tbl in _complete_groups(batches, keys):
        out = emit(tbl)
        if out is not None and out.num_rows:
            yield out


def cluster(df: DataFrame, keys: list[str],
            sort_cols: list[str]) -> DataFrame:
    """Hash-partition by ``keys`` into defaultParallelism partitions (an
    explicit count, so AQE does not coalesce the Python stage narrow) and
    sort by ``keys + sort_cols`` within each partition, so every group is
    contiguous and in a deterministic order — output is therefore
    invariant to partition count and input row order.

    One partition per core makes the Python stage one wave of tasks. Each
    Python task pays a fixed ~0.05 s before its first row, most of it
    waiting for the JVM's first Arrow message (PERF.md, "The per-task
    Python toll"), so a second wave costs more than the load-balancing
    slack it buys."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys).sortWithinPartitions(*keys, *sort_cols)


def _numpy_columns(data) -> dict:
    """``{column: numpy array}`` of an Arrow table or record batch
    (strings, lists and binaries as object arrays, a nullable integer
    column as float with NaN)."""
    return {c: data.column(c).to_numpy(zero_copy_only=False)
            for c in data.schema.names}


def _batch(rows: list, schema):
    """One record batch of ``rows`` (tuples in the column order of the
    Arrow ``schema``), each value cast to its column's type; ``None``
    for no rows."""
    import pyarrow as pa

    if not rows:
        return None
    return pa.RecordBatch.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(zip(*rows), schema)],
        schema=schema)


def _arrow_schema(ddl: str):
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType
    return to_arrow_schema(DataType.fromDDL(ddl))


def _rows_mapper(per_row: Callable[..., Iterable], schema) -> Callable:
    """The ``mapInArrow`` function of :func:`map_rows` for an Arrow
    ``schema``: one output batch per input batch that yields rows."""
    def run(batches: Iterator) -> Iterator:
        for rb in batches:
            out = _batch([row for values in zip(*_numpy_columns(rb).values())
                          for row in per_row(*values)], schema)
            if out is not None:
                yield out
    return run


def map_rows(df: DataFrame, per_row: Callable[..., Iterable],
             schema: str) -> DataFrame:
    """Run ``per_row(*values)`` on every row of ``df`` (values in ``df``'s
    column order) in one ``mapInArrow`` stage; ``per_row`` returns (or
    yields) row tuples in the column order of the DDL ``schema``."""
    return df.mapInArrow(_rows_mapper(per_row, _arrow_schema(schema)),
                         schema=schema)


def _rows_emitter(keys: list[str], per_group: Callable[[dict], Iterable],
                  schema) -> Callable:
    """The ``emit`` of :func:`grouped_map_rows` for an Arrow ``schema``:
    slices a table of complete groups into ``{column: numpy slice}``
    dicts and calls ``per_group`` on each; one batch of all their rows,
    ``None`` when no group returned a row."""
    def emit(tbl):
        cols = _numpy_columns(tbl)
        starts = group_starts(*(string_codes(tbl.column(k)) for k in keys))
        ends = np.append(starts[1:], tbl.num_rows)
        return _batch([row for s, e in zip(starts, ends)
                       for row in per_group({c: a[s:e]
                                             for c, a in cols.items()})],
                      schema)
    return emit


def grouped_map_rows(df: DataFrame, keys: list[str], sort_cols: list[str],
                     per_group: Callable[[dict], Iterable],
                     schema: str) -> DataFrame:
    """Run ``per_group(g)`` over every group of ``df``.

    ``g`` maps each column to its numpy slice for one group (rows in
    ``sort_cols`` order); ``per_group`` returns (or yields) row tuples in
    the column order of the DDL ``schema``."""
    emit = _rows_emitter(keys, per_group, _arrow_schema(schema))

    def run(batches: Iterator) -> Iterator:
        return carry_groups(batches, keys, emit)

    return cluster(df, keys, sort_cols).mapInArrow(run, schema=schema)


def string_codes(col) -> np.ndarray:
    """Dictionary codes for an Arrow key column — group-boundary
    comparisons on int codes instead of Python strings."""
    import pyarrow.compute as pc
    return pc.dictionary_encode(col).combine_chunks().indices.to_numpy(
        zero_copy_only=False)
