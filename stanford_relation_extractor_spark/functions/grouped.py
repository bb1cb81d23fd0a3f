"""Grouped scans over one clustered Arrow stream.

``groupBy(keys).applyInPandas(fn)`` ships every group as its own Arrow
exchange and Python call — measured ~1-3ms of pure overhead per group,
i.e. ~15s for a few thousand tiny groups (guide §4: the boundary cost,
not the compute). The grouped operators here instead cluster the stream
on the group key once (one explicit scale-derived repartition +
in-partition sort) and pay the Python boundary once per Arrow batch:

* ``complete_groups`` turns the clustered batches into frames of
  complete groups: the group at the end of each batch may continue in
  the next one, so it is carried over and handed on there, and every
  group is seen exactly once on complete rows. It is the one copy of
  that carry-over: ``map_groups_in_pandas`` and
  ``consistency.greedy_consistency`` both scan through it.
* ``map_groups_in_pandas`` applies a pandas function per group and
  buffers the outputs into consolidated frames, so the return path is a
  few Arrow batches per task, not one per group.

Row ORDER differs from applyInPandas (group iteration order inside
partitions); row SET is identical — callers of this helper are
set-semantics operators checked by order-insensitive oracles.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, MapType, StructType

_EMIT_ROWS = 4096


def complete_groups(
    batches: Iterator[pd.DataFrame], keys: list[str]
) -> Iterator[pd.DataFrame]:
    """Frames of complete ``keys`` groups from batches clustered on
    ``keys``: the rows sharing the last row's key are held back and
    prepended to the next batch (a non-empty frame is yielded only when
    it ends on a group boundary or the stream ends)."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        is_last = None
        for k in keys:
            v = pdf[k].iloc[-1]
            # NaN-safe: `col == NaN` is all-False, which would split a
            # NULL-keyed group across batches instead of carrying it.
            cond = pdf[k].isna() if pd.isna(v) else (pdf[k] == v)
            is_last = cond if is_last is None else (is_last & cond)
        carry = pdf[is_last]
        body = pdf[~is_last]
        if len(body):
            yield body
    if carry is not None and len(carry):
        yield carry


def map_groups_in_pandas(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
) -> DataFrame:
    """Apply ``fn`` once per distinct ``keys`` group of ``df``.

    ``fn`` receives the group's complete rows (a pandas frame with the
    input columns) and returns a frame matching ``schema``.

    Keys must be atomic columns (string, number, date, ...): an array,
    map or struct key raises ``ValueError`` at call time, since its pandas
    values (ndarrays, dicts, Rows) cannot be compared as scalars when
    a group is carried across Arrow batches.
    """
    for k in keys:
        t = df.schema[k].dataType
        if isinstance(t, (ArrayType, MapType, StructType)):
            raise ValueError(
                f"map_groups_in_pandas: key column {k!r} has non-atomic type "
                f"{t.simpleString()}"
            )
    parts = df.sparkSession.sparkContext.defaultParallelism
    src = df.repartition(parts, *keys).sortWithinPartitions(*keys)

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buffer: list[pd.DataFrame] = []
        buffered = 0
        for pdf in complete_groups(batches, keys):
            # dropna=False: groupBy().applyInPandas treats NULL keys as a
            # group; pandas silently drops NaN groups by default.
            for _, g in pdf.groupby(keys, sort=False, dropna=False):
                out = fn(g)
                if out is not None and len(out):
                    buffer.append(out)
                    buffered += len(out)
                if buffered >= _EMIT_ROWS:
                    yield pd.concat(buffer, ignore_index=True)
                    buffer.clear()
                    buffered = 0
        if buffer:
            yield pd.concat(buffer, ignore_index=True)

    return src.mapInPandas(runner, schema=schema)
