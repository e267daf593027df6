"""Set-ops / reshaping operators (SURVEY.md §2.6, R1-R5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def narrator_pivot(
    df: DataFrame,
    id_col: str = "id",
    array_col: str = "narrator",
    max_arity: int | None = None,
    fields: tuple[str, ...] = ("name", "url"),
) -> DataFrame:
    """R1: explode the variable-arity narrator array into wide
    ``narrator_{i}_{field}`` columns (reference CSV export shape,
    ``crawler/metadata.py:276-291``). The canonical storage stays
    ArrayType (SURVEY §1.3); this is an export *view*.

    ``max_arity`` defaults to the observed max (one tiny agg — the
    reference computes the same max at ``crawler/metadata.py:276-279``).
    Static column fan-out (no pivot shuffle): max arity is tiny (≤3).
    """
    if max_arity is None:
        max_arity = (
            df.agg(F.max(F.size(array_col))).first()[0] or 0
        )
    cols: list[Column] = [F.col(c) for c in df.columns if c != array_col]
    for i in range(max_arity):
        for fld in fields:
            # try_element_at: NULL past the end (ANSI-safe; plain
            # getItem/element_at raise on out-of-bounds under ANSI)
            cols.append(
                F.try_element_at(F.col(array_col), F.lit(i + 1))
                .getField(fld)
                .alias(f"narrator_{i + 1}_{fld}")
            )
    return df.select(*cols)


def union_append(base: DataFrame, extra: DataFrame) -> DataFrame:
    """R3: row append tolerant of column drift
    (``pd.concat`` in the upsert loop, ``process_all.py:817,837-839``)."""
    return base.unionByName(extra, allowMissingColumns=True)


def dedup_exact(df: DataFrame, keys: list[str]) -> DataFrame:
    """R5: exact dedup on key columns — absent from the reference
    (re-crawls duplicate rows silently); ``dropDuplicates`` is a
    map-side-combinable aggregate, not a global sort."""
    return df.dropDuplicates(keys)
