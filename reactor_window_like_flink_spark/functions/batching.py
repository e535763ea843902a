"""Sorted-group walks for partition-wise mapInPandas kernels.

A per-group kernel (one KLL sketch per (event_type, day), one gram
matrix per LSH (band, bucket)) could run as
``groupBy(keys).applyInPandas``, but that pays one Python call and one
pandas frame per group. ``map_sorted_groups`` runs the same per-group
work as ONE exchange and one Python call per partition:

1. ``repartition(keys) + sortWithinPartitions(*keys, *order)`` makes
   every group contiguous inside one partition, rows in ``order``;
2. only ``keys + cols`` cross into Python, as the partition's Arrow
   batches (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows each);
3. ``complete_group_chunks`` re-chunks those batches into frames of
   whole groups, holding back only the one group that may straddle a
   batch boundary — peak Python memory is one batch plus one group;
4. the kernel is called as ``kernel(pdf, bounds)`` per chunk, where
   group ``i`` is ``pdf.iloc[bounds[i]:bounds[i + 1]]``.

Each group lands whole in exactly one chunk with its rows in sort order,
so per-group results equal the whole-partition or per-group forms.

``group_bounds`` is the one place that decides where a group starts. It
is NA-aware: two null (None/NaN/NaT) keys compare equal, so a group
keyed by null or NaN stays one group, as in Spark's ``groupBy``. A null
and a NaN in a float column both arrive in pandas as NaN and therefore
count as one key.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Mapping, Sequence
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def group_bounds(pdf: pd.DataFrame | Mapping, cols: Sequence[str]) -> np.ndarray:
    """Group boundaries of group-contiguous rows: ``[0, s1, ..., n]``,
    where each ``s`` is a row whose ``cols`` key differs from the row
    before it. ``pdf`` is a frame or a mapping of column arrays."""
    n = len(pdf[cols[0]])
    if not n:
        return np.zeros(1, dtype=np.int64)
    starts = np.zeros(n - 1, dtype=bool)
    for c in cols:
        vals = np.asarray(pdf[c])
        na = pd.isna(vals)
        if na.any():
            # NaN != NaN and NaT != NaT: compare values only where both
            # rows are non-null, and start a group where nullness flips
            both = ~(na[1:] | na[:-1])
            starts |= np.asarray((vals[1:] != vals[:-1]) & both, dtype=bool)
            starts |= na[1:] != na[:-1]
        else:
            starts |= vals[1:] != vals[:-1]
    return np.concatenate(([0], np.flatnonzero(starts) + 1, [n]))


def _complete_groups(
    batches: Iterable[pd.DataFrame], cols: Sequence[str]
) -> Iterator[tuple[pd.DataFrame, np.ndarray]]:
    """``(chunk, group_bounds(chunk))`` for every chunk of complete
    groups. The trailing group of each batch is carried as a list of
    frames and concatenated once, when it completes."""
    carry: list[pd.DataFrame] = []
    for pdf in batches:
        if not len(pdf):
            continue
        keys = {c: pdf[c].to_numpy() for c in cols}
        lead = 1 if carry else 0
        if carry:
            # lead with the carried group's last key, so the carried
            # group ends at bounds[1] (rows of tail + this batch)
            keys = {c: np.concatenate([tail[c], v]) for c, v in keys.items()}
        tail = {c: v[-1:] for c, v in keys.items()}
        bounds = group_bounds(keys, cols)
        if bounds[-2] == 0:  # the whole batch continues one group
            carry.append(pdf)
            continue
        cut = int(bounds[-2]) - lead
        done = [*carry, pdf.iloc[:cut]] if cut else carry
        shifted = bounds[:-1] + (sum(map(len, carry)) - lead)
        shifted[0] = 0
        yield _concat(done), shifted
        carry = [pdf.iloc[cut:]]
    if carry:
        done = _concat(carry)
        yield done, np.array([0, len(done)])


def _concat(frames: list[pd.DataFrame]) -> pd.DataFrame:
    return pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]


def complete_group_chunks(
    batches: Iterable[pd.DataFrame], cols: Sequence[str]
) -> Iterator[pd.DataFrame]:
    """Re-chunk an iterator of group-contiguous pandas frames into
    frames of complete ``cols``-groups (see module docstring)."""
    for chunk, _ in _complete_groups(batches, cols):
        yield chunk


def map_sorted_groups(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    cols: Sequence[str],
    kernel: Callable[[pd.DataFrame, np.ndarray], pd.DataFrame | None],
    schema: str,
) -> DataFrame:
    """Run ``kernel(pdf, bounds)`` over every complete ``keys``-group of
    ``df``, rows sorted by ``order`` inside each group (see module
    docstring). ``pdf`` holds ``keys + cols``; a ``None`` result emits
    nothing."""
    keys, cols = list(keys), list(cols)

    def walk(batches):
        for pdf, bounds in _complete_groups(batches, keys):
            out = kernel(pdf, bounds)
            if out is not None:
                yield out

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts, *keys)
        .sortWithinPartitions(*keys, *order)
        .select(*keys, *cols)
        .mapInPandas(walk, schema)
    )
