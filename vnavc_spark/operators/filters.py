"""Filter/predicate operators (SURVEY.md §2.2, F1-F12).

All are plain Catalyst predicates — they push down into the parquet
scan (verify with ``df.explain``: they appear under PushedFilters /
as early Filter nodes), which is the whole game at 100 TB: rows die
at the scan, not after a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_contains(df: DataFrame, col: str, needle: str) -> DataFrame:
    """F1: drop rows whose ``col`` contains ``needle`` (reference:
    tvshow filter, ``crawler/metadata.py:228-229``). Null-safe: null
    values are kept, matching pandas ``str.contains(na=False)`` under
    ``~``."""
    c = F.col(col)
    return df.filter(c.isNull() | ~c.contains(needle))


def substring_query(
    df: DataFrame,
    **needles: str | None,
) -> DataFrame:
    """F3: conjunctive case-insensitive substring query over named
    columns — the reference's only ad-hoc query operator
    (``crawler/utils.py:43-82``). ``None``/``"all"`` bypasses a
    column, like the reference's ``query == "all"``."""
    pred: Column = F.lit(True)
    for col, needle in needles.items():
        if needle is None or needle == "all":
            continue
        pred = pred & F.lower(F.col(col)).contains(needle.lower())
    return df.filter(pred)


def min_words(df: DataFrame, col: str, n: int = 3) -> DataFrame:
    """F6: keep sentences with ≥ n whitespace words
    (``process_all.py:299``)."""
    return df.filter(F.size(F.split(F.trim(F.col(col)), r"\s+")) >= n)


def flag_duration_outliers(
    df: DataFrame,
    duration_col: str = "duration",
    lo: float = 3.0,
    hi: float = 12.0,
    flag_col: str = "is_outlier",
) -> DataFrame:
    """F7: segment outlier predicate as a *column*, not a side file
    (reference writes outlier.txt, ``aeneas_batch_align.py:227-242``;
    bounds 3-12 default / 3-20 shipped config)."""
    return df.withColumn(flag_col, ~F.col(duration_col).between(lo, hi))


def sample_rate_gate(
    df: DataFrame,
    sr_col: str = "sample_rate",
    min_sr: int = 16000,
    flag_col: str = "qualified",
) -> DataFrame:
    """F8: book qualification flag (min part sample rate ≥ 16 kHz,
    ``process_all.py:461-510``); downstream writes partition by this
    flag so QC reads prune."""
    return df.withColumn(flag_col, F.col(sr_col) >= min_sr)


def wer_gate(
    book_wer: DataFrame,
    books: DataFrame,
    on: str = "book_id",
    wer_col: str = "wer_pct",
    threshold: float = 50.0,
) -> DataFrame:
    """F9: drop whole books whose mean WER ≥ threshold — an anti-join
    against the failing set (``whisper_qc.py:324-341``)."""
    bad = book_wer.filter(F.col(wer_col) >= threshold).select(on)
    return books.join(bad, on=on, how="left_anti")


def orphan_cleanup(
    left: DataFrame, right: DataFrame, on: list[str] | str
) -> DataFrame:
    """F12: keep left rows with a partner in right (wav↔txt pairing,
    ``whisper_qc.py:71-75``) — a left-semi join."""
    return left.join(right, on=on, how="left_semi")


def bloom_positions(key, n_hashes: int = 3, n_bits: int = 1024):
    """The ``n_hashes`` md5-derived bit positions of a key in an
    ``n_bits`` Bloom filter — deterministic (no seed state), so the
    filter built on one engine validates on any other."""
    return [
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"b{i}|"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % n_bits
        for i in range(n_hashes)
    ]


def bloom_prefilter(
    build: DataFrame,
    build_key: str,
    probe: DataFrame,
    probe_key: str,
    n_hashes: int = 3,
    n_bits: int = 1024,
) -> DataFrame:
    """Bloom-filter join prefilter: build a bit-set from the build
    side's keys, pass only probe rows whose every position is set —
    the classic semi-join reduction that prunes the probe side BEFORE
    the expensive join/shuffle (Spark's runtime row-group Bloom
    pushdown, materialized as an explicit, engine-portable operator).
    No false negatives by construction; false-positive rate ≈
    (1-e^(-kn/m))^k.

    Scale shape: the bit-set is ≤ n_bits rows (broadcast); the probe
    explodes to n_hashes position rows, left-joins the set, and keeps
    keys with all hits — probe payloads never shuffle, only
    (key, position) pairs."""
    set_bits = (
        build.select(
            F.explode(
                F.array(*bloom_positions(F.col(build_key), n_hashes, n_bits))
            ).alias("pos")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    probed = probe.select(probe_key).distinct()
    probed = probed.select(
        probe_key,
        F.explode(
            F.array(*bloom_positions(F.col(probe_key), n_hashes, n_bits))
        ).alias("pos"),
    )
    hits = probed.join(F.broadcast(set_bits), on="pos", how="left").groupBy(
        probe_key
    ).agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_n_hit"))
    return hits.filter(F.col("_n_hit") == n_hashes).select(probe_key)


def bloom_row_prefilter(
    build: DataFrame,
    build_key: str,
    probe: DataFrame,
    probe_key: str,
    n_hashes: int = 3,
    n_bits: int = 1 << 20,
) -> DataFrame:
    """Row-level Bloom prefilter: keep every ``probe`` ROW (all
    columns) whose key passes the Bloom filter built from ``build``'s
    keys — the shuffle-avoiding form of :func:`bloom_prefilter` for
    probes too large to distinct first (a corpus-sized fact table
    heading into a membership semi join, q175's reference gate).

    Shape: the bit-set is ≤ ``n_bits`` rows, aggregated once and
    BROADCAST; each of the ``n_hashes`` membership probes is a
    broadcast hash join + filter, so probe rows NEVER shuffle and
    misses drop progressively (the first join already removes most
    OOV rows in the high-OOV regime). The same bit-set plan feeds
    every join, so Spark reuses one broadcast exchange. No false
    negatives by construction — composing with an exact semi join
    afterwards changes the COST, never the result. A reference
    larger than ~n_bits/10 keys saturates the filter (passes
    everything, still correct); size ``n_bits`` to the reference.

    See :func:`bloom_bitmap_prefilter` for the zero-join literal
    form (cheaper when the query runs the prefilter in its hot
    path and the build side is already small/aggregated)."""
    set_bits = (
        build.select(
            F.explode(
                F.array(*bloom_positions(F.col(build_key), n_hashes, n_bits))
            ).alias("_bloom_pos")
        )
        .distinct()
        .withColumn("_bloom_hit", F.lit(1))
    )
    out = probe
    for pc in bloom_positions(F.col(probe_key), n_hashes, n_bits):
        out = (
            out.join(
                F.broadcast(set_bits),
                on=pc == F.col("_bloom_pos"),
                how="left",
            )
            .filter(F.col("_bloom_hit") == 1)
            .drop("_bloom_pos", "_bloom_hit")
        )
    return out


def bloom_bitmap_prefilter(
    build: DataFrame,
    build_key: str,
    probe: DataFrame,
    probe_key: str,
    n_hashes: int = 3,
    n_bits: int = 1 << 20,
) -> DataFrame:
    """Bloom prefilter with the bit-set materialized as a LITERAL
    BINARY bitmap — the zero-join form of :func:`bloom_row_prefilter`
    for probes in a query's hot path: the build side aggregates its
    bit positions into ≤ n_bits/64 bit-OR words (ONE map-side-
    combinable job; driver state bounded by the n_bits contract —
    16 KiB of longs at the default), the driver packs them into an
    n_bits/8-byte base64 literal, and each probe row tests its
    ``n_hashes`` bits in pure whole-stage codegen — no broadcast
    exchange, no join, probe rows never leave their partition.

    The bitmap MUST be binary, not a hex string: ``substring`` on
    StringType is CHARACTER-indexed, so every probe would scan
    O(position) bytes for UTF-8 boundaries (measured: 20 s for 300k
    rows against a 256 KiB hex literal vs 0.3 s against the
    byte-indexed binary). ``unbase64`` of the literal constant-folds
    once; the per-row work is an O(1) byte slice + one hex of a
    single byte.

    No false negatives by construction, so composing with an exact
    semi join afterwards changes the COST, never the result. A build
    side much larger than ~n_bits/10 keys saturates the bitmap
    (passes everything, still correct); size ``n_bits`` to the
    reference. The bitmap is collected EAGERLY when the plan is
    built (bounded driver state, same contract as the exact-rank
    narrowing state)."""
    import base64

    words = (
        build.select(
            F.explode(
                F.array(*bloom_positions(F.col(build_key), n_hashes, n_bits))
            ).alias("pos")
        )
        .select(
            F.expr("pos div 64").alias("wi"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("wi")
        .agg(F.bit_or("bit").alias("w"))
        .collect()
    )
    # little-endian byte packing: byte index = pos div 8 (0-based),
    # bit within byte = pos % 8 — consistent with the word agg above
    # (wi = pos div 64 and the in-word shift by pos % 64)
    raw = bytearray(n_bits // 8)
    for r in words:
        w = r["w"] & ((1 << 64) - 1)
        base = r["wi"] * 8
        for j in range(8):
            raw[base + j] = (w >> (8 * j)) & 0xFF
    bm = base64.b64encode(bytes(raw)).decode("ascii")
    out = probe
    for pc in bloom_positions(F.col(probe_key), n_hashes, n_bits):
        byte_val = F.conv(
            F.hex(
                F.substring(
                    F.unbase64(F.lit(bm)),
                    (F.floor(pc / 8) + 1).cast("int"),
                    1,
                )
            ),
            16,
            10,
        ).cast("int")
        out = (
            out.withColumn("_bloom_v", byte_val)
            .withColumn("_bloom_b", (pc % 8).cast("int"))
            .filter(F.expr("(_bloom_v & shiftleft(1, _bloom_b)) != 0"))
            .drop("_bloom_v", "_bloom_b")
        )
    return out
