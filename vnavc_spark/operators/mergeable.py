"""Mergeable-partial specs: one definition per statistic that both the
batch query and its streaming twin call.

A :class:`Spec` is ``(partial, merge, finalize)``:

- ``partial(rows)`` is the statistic's row extraction plus one
  aggregate that is unique on its keys — the same function the batch
  query runs over the whole table and the twin runs over each
  micro-batch;
- ``merge(staged)`` folds the union of staged per-batch partials back
  to one row per key (a sum, max, min or union — or, for session
  spans, the gap rule);
- ``finalize(merged)`` is exactly the query's output.

The batch path is ``finalize(partial(table))`` and never calls
``merge``: a partial is already unique per key, so a merge would only
add an aggregate to every batch plan. The twin path is
``finalize(merge(union of partial(batch_i)))`` (see
``streaming/ingest.start_partials`` / ``snapshot``). A spec whose
partial stages more than one frame names them in ``frames``; its
partial returns, and its merge and finalize take, a dict keyed by
those names.

Specs are built by small factory functions beside the shared core
each statistic already uses (``aggregates``, ``ordering``, ``dedup``);
their keyword arguments are the statistic's tunables.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Spec:
    partial: Callable
    merge: Callable
    finalize: Callable
    frames: tuple[str, ...] = ()

    def batch(self, rows: DataFrame) -> DataFrame:
        """The batch query over ``rows``: ``finalize(partial(rows))``."""
        return self.finalize(self.partial(rows))


_AGG = {"sum": F.sum, "max": F.max, "min": F.min}


def merge_by(*keys: str, how: str = "sum", **per_col: str) -> Callable:
    """Merge staged partials by re-aggregating every non-key column per
    ``keys`` — ``how`` for all of them unless ``per_col`` names another
    of sum/max/min. Each merged column keeps its staged type."""

    def merge(staged: DataFrame) -> DataFrame:
        dtypes = dict(staged.dtypes)
        return staged.groupBy(*keys).agg(
            *[
                _AGG[per_col.get(c, how)](c).cast(dtypes[c]).alias(c)
                for c in staged.columns
                if c not in keys
            ]
        )

    return merge


def union_merge(staged):
    """Merge for partials whose rows are already final (one row per
    doc) or whose finalize is insensitive to repeats."""
    return staged


def distinct_merge(staged: DataFrame) -> DataFrame:
    """Set union: the distinct rows of the staged partials."""
    return staged.distinct()
