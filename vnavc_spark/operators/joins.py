"""Join operators (SURVEY.md §2.3, J1-J6).

Scale notes: every join here is a key equi-join, so Catalyst is free
to pick broadcast-hash (small dims: narrators/nation/region — we hint
with ``broadcast()``), shuffled-hash, or sort-merge; AQE converts to
broadcast at runtime when a side turns out small and splits skewed
partitions (20-hour books vs 2-hour books).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vnavc_spark.functions.text import file_stem


def stem_pairing(
    audio: DataFrame,
    text: DataFrame,
    audio_path: str = "audio_path",
    text_path: str = "text_path",
) -> DataFrame:
    """J1: pair audio↔text files on filename stem — the reference's
    hand-rolled sorted two-pointer merge join
    (``aeneas_batch_align.py:652-671``, duplicated at
    ``mfa_batch_align.py:93-110``) becomes a plain inner equi-join;
    Spark picks the physical strategy (unmatched rows drop, same
    semantics)."""
    a = audio.withColumn("stem", file_stem(audio_path))
    t = text.withColumn("stem", file_stem(text_path))
    return a.join(t, on="stem", how="inner")


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key: str | Sequence[str],
    update_cols: Sequence[str] | None = None,
) -> DataFrame:
    """J3: metadata upsert — for each update row, overwrite the
    matching base row's columns where the update is non-null, else
    append as a new row (reference's per-result CSV merge loop,
    ``process_all.py:797-839``).

    Implemented as one full-outer join + per-column ``coalesce(new,
    old)`` — a single shuffle instead of the reference's O(n) row
    loop; with Delta/Iceberg in production this is ``MERGE INTO``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if update_cols is None:
        update_cols = [c for c in updates.columns if c not in keys]
    missing_in_base = [c for c in update_cols if c not in base.columns]
    u = updates.select(*keys, *update_cols)
    joined = base.alias("b").join(u.alias("u"), on=keys, how="full_outer")
    out_cols = []
    for c in base.columns:
        if c in keys:
            out_cols.append(F.col(c))
        elif c in update_cols:
            out_cols.append(F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c))
        else:
            out_cols.append(F.col(f"b.{c}").alias(c))
    for c in missing_in_base:
        out_cols.append(F.col(f"u.{c}").alias(c))
    return joined.select(*out_cols)


def books_with_narrator(
    books: DataFrame,
    narrators: DataFrame,
    narrator_array: str = "narrator",
    roster_key: str = "narrator_id",
) -> DataFrame:
    """J5: book ↔ narrator reference join. The reference keys output
    directories on the *first* narrator id of a possibly-multi
    narrator list (``aeneas_batch_align.py:198-213``); we keep the
    full array and left-join the roster on the first element.
    Narrator roster is a few-hundred-row dimension → broadcast."""
    # try_element_at: NULL for empty arrays (ANSI-safe)
    first_id = F.try_element_at(F.col(narrator_array), F.lit(1)).getField("id")
    return books.withColumn("first_narrator_id", first_id).join(
        F.broadcast(narrators),
        on=F.col("first_narrator_id") == narrators[roster_key],
        how="left",
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str,
    right_prefix: str = "asof_",
) -> DataFrame:
    """As-of join (an operator Spark lacks natively): attach to each
    left row the LATEST right row with ``right.ts_col <= left.ts_col``
    per key — left join semantics (no prior right row → NULL payload).

    Implementation is the union trick, not a range join: tag both
    sides, union, and carry the right payload forward with
    ``last(payload, ignorenulls)`` over (key, ts, side) — right sorts
    before left at equal ts, so ties match. The payload travels as ONE
    struct so multi-column payloads stay row-atomic (independent
    per-column ``last`` could stitch different right rows when a
    payload field is legitimately NULL).

    Scale: ONE shuffle on the key for both sides combined — no range
    explosion, no per-key driver loop; skewed keys split by AQE.
    Ties within right (same key, same ts) are caller-resolved —
    pre-aggregate right to one row per (key, ts)."""
    payload = [c for c in right.columns if c not in (on, ts_col)]
    lcols = left.columns
    l2 = left.select(
        *lcols,
        F.lit(None).cast(
            "struct<" + ", ".join(
                f"{c}: {right.schema[c].dataType.simpleString()}" for c in payload
            ) + ">"
        ).alias("_asof"),
        F.lit(1).alias("_side"),
    )
    r2 = right.select(
        F.col(on),
        F.col(ts_col),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in (on, ts_col)
        ],
        F.struct(*payload).alias("_asof"),
        F.lit(0).alias("_side"),
    ).select(*lcols, "_asof", "_side")
    u = l2.unionByName(r2)
    from pyspark.sql import Window

    w = (
        Window.partitionBy(on)
        .orderBy(ts_col, "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_c", F.last("_asof", ignorenulls=True).over(w))
    return carried.filter(F.col("_side") == 1).select(
        *lcols,
        *[F.col(f"_c.{c}").alias(f"{right_prefix}{c}") for c in payload],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Range (interval-containment) join — Spark plans a raw
    ``ON p BETWEEN s AND e`` as BroadcastNestedLoopJoin, O(|P|·|I|).

    Scale-safe shape: quantize the axis into ``bucket_width`` buckets;
    each interval explodes to the buckets it overlaps (⌈len/width⌉+1
    rows), each point maps to exactly ONE bucket; an equi-join on the
    bucket then an exact range filter. A (point, interval) pair meets
    in exactly one bucket — the point's — so no dedup pass is needed.
    Pick ``bucket_width`` ≈ typical interval length: candidate volume
    is then O(matches + points·avg_intervals_per_bucket).

    Columns of both inputs are preserved (names must not collide)."""
    iv = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket_width),
                F.floor(F.col(end_col) / bucket_width),
            )
        ),
    )
    pt = points.withColumn("_b", F.floor(F.col(point_col) / bucket_width))
    return (
        pt.join(iv, on="_b")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("_b")
    )


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    order_cols: list[str],
    op_col: str = "op",
    delete_val: str = "D",
) -> DataFrame:
    """CDC changelog apply — the lakehouse MERGE INTO / APPLY CHANGES
    semantics: reduce the changelog to the LATEST change per key
    (last-writer-wins by ``order_cols`` version), then upsert it over
    the base table; keys whose latest op is a delete disappear; base
    rows never touched by the log pass through. ``base`` and
    ``changes`` (minus the op column) must share a schema.

    Scale shape: one window shuffle on key over the changelog (the
    log is the small/medium side; the base table is only read through
    an anti-join — broadcastable when the day's distinct-key set is
    small, the standard CDC case), no base rewrite ahead of the sink.
    """
    w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", *order_cols)
    )
    upserts = latest.filter(F.col(op_col) != delete_val).drop(op_col)
    touched = latest.select(key)
    kept = base.join(touched, on=key, how="left_anti")
    return kept.unionByName(upserts)


