"""Ordering / id-assignment / chunking operators (SURVEY.md §2.5,
O1-O5). Row order is never implicit: every sequencing the reference
gets from sorted directory listings or enumerate() becomes an
explicit key column, so plans stay shuffle-minimal and deterministic
under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vnavc_spark.functions.text import trailing_int
from vnavc_spark.operators.mergeable import Spec, merge_by


def with_natural_part_order(df: DataFrame, path_col: str = "path") -> DataFrame:
    """O1: natural-order sort key from the trailing integer in the
    filename (reference regex sort, ``process_all.py:566-617``)."""
    return df.withColumn("part_idx", trailing_int(path_col))


def explode_parts(
    df: DataFrame, array_col: str = "audio_download_url", out_col: str = "part_url"
) -> DataFrame:
    """O3: part index assignment — ``enumerate(urls, start=1)`` in the
    reference (``crawler/download.py:141-145``) is ``posexplode``;
    1-based to keep reference file naming ``{book}_{idx}.mp3``."""
    return df.select(
        *[c for c in df.columns if c != array_col],
        F.posexplode(array_col).alias("pos0", out_col),
    ).withColumn("part_idx", F.col("pos0") + 1).drop("pos0")


def assign_seg_ids(
    df: DataFrame,
    book_col: str = "book_id",
    order_col: str = "start",
    out_col: str = "seg_id",
) -> DataFrame:
    """O4: consistent 0-based per-book segment ids ordered by segment
    start time — replaces the reference's three inconsistent id
    spaces (1-based text line, raw DataFrame index, filename id;
    SURVEY §2.11). Window shuffle keys on book, the same partitioning
    the aligner already produced."""
    w = Window.partitionBy(book_col).orderBy(order_col)
    return df.withColumn(out_col, (F.row_number().over(w) - 1).cast("int"))


def chunk_ids(
    df: DataFrame,
    order_key: str | list[str],
    chunk_size: int = 500,
    out_col: str = "chunk_id",
) -> DataFrame:
    """O5: fixed-size batch ids (reference 500-sample GPU subsets,
    ``prepare_prompt_for_vnavc.py:296-333``). On Spark natural
    partitioning usually replaces this; kept for exports that need
    stable chunk numbering."""
    keys = [order_key] if isinstance(order_key, str) else list(order_key)
    w = Window.orderBy(*keys)
    # explicit floor: portable (DuckDB casts double→int by *rounding*,
    # Spark truncates — floor agrees everywhere for non-negatives)
    return df.withColumn(
        out_col, F.floor((F.row_number().over(w) - 1) / float(chunk_size))
    )


def top_k(
    df: DataFrame, order_cols: list, k: int
) -> DataFrame:
    """orderBy+limit — physical plan is TakeOrderedAndProject (per-
    partition heap + single merge, no global sort)."""
    return df.orderBy(*order_cols).limit(k)


def pack_greedy(
    df,
    group_col: str,
    order_col: str,
    token_col: str,
    capacity: int,
):
    """Sequence packing for LLM training prep: greedily pack items
    (docs) into fixed token-budget packs, preserving order within
    each shard — pack_id increments when adding the next item would
    exceed ``capacity`` (an oversized single item still gets its own
    pack).

    The fold is inherently sequential WITHIN a shard and
    embarrassingly parallel ACROSS shards — the standard production
    layout (pack per language/domain/hash shard); a single global
    order would serialize. One shuffle on the shard key; state per
    group is two integers.

    Rows with a NULL token count (e.g. null-text documents upstream)
    are dropped before packing — an unknown length cannot reserve
    budget in a fixed-capacity pack."""
    import pandas as pd
    from pyspark.sql import functions as F

    schema = (
        f"{group_col} string, {order_col} long, {token_col} long, "
        "pack_id long, pack_pos long"
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        packs, positions = [], []
        pack, running, pos = 0, 0, 0
        for t in pdf[token_col]:
            t = int(t)
            if running > 0 and running + t > capacity:
                pack += 1
                running, pos = 0, 0
            packs.append(pack)
            positions.append(pos)
            running += t
            pos += 1
        out = pdf[[group_col, order_col, token_col]].copy()
        out["pack_id"] = packs
        out["pack_pos"] = positions
        return out

    return (
        df.select(group_col, order_col, token_col)
        .filter(F.col(token_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(group_col)
        .applyInPandas(_pack, schema=schema)
    )


def morton_z16(x: Column, y: Column) -> Column:
    """Morton (z-order) interleave of two 16-bit values into one
    BIGINT — the space-filling-curve key behind lakehouse layout
    clustering (Delta/Iceberg ``OPTIMIZE ZORDER``): sorting/range-
    partitioning files by z keeps BOTH dimensions locally bounded per
    file, so min/max footer stats prune scans on either predicate.

    Pure integer magic-mask spreading (4 shift/mask steps per dim) —
    bit-identical in any engine; mirror the same constants in SQL.
    Inputs must already be reduced to 16 bits (`% 65536`)."""

    def spread(v: Column) -> Column:
        v = (v.bitwiseOR(F.shiftleft(v, 8))).bitwiseAND(F.lit(0x00FF00FF))
        v = (v.bitwiseOR(F.shiftleft(v, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
        v = (v.bitwiseOR(F.shiftleft(v, 2))).bitwiseAND(F.lit(0x33333333))
        v = (v.bitwiseOR(F.shiftleft(v, 1))).bitwiseAND(F.lit(0x55555555))
        return v

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))


def ewma_per_key(
    df,
    key_col: str,
    order_cols: list[str],
    x_col: str,
    alpha: float = 0.25,
    out_col: str = "ewma",
):
    """Exponentially-weighted moving average per key — the canonical
    order-dependent recurrence (e₀ = x₀; eᵢ = α·xᵢ + (1-α)·eᵢ₋₁),
    used for time-decayed user metrics / smoothed telemetry.

    Sequential WITHIN a key, embarrassingly parallel ACROSS keys:
    one shuffle on the key, then an in-order scalar fold per group.
    Each step is the fixed IEEE tree ``α·x + (1-α)·e`` evaluated in
    stream order, so the result is bit-reproducible and certifiable
    against a DuckDB RECURSIVE CTE computing the identical fold
    (see q81). Keep α a dyadic rational (0.25, 0.5 …) if you want
    the multiplications exact as well."""
    import pandas as pd

    order_sql = ", ".join(f"{c} long" for c in order_cols)
    schema = f"{key_col} long, {order_sql}, {x_col} double, {out_col} double"
    beta = 1.0 - alpha

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols)
        out, e = [], None
        for x in pdf[x_col]:
            x = float(x)
            e = x if e is None else alpha * x + beta * e
            out.append(e)
        res = pdf[[key_col, *order_cols, x_col]].copy()
        res[out_col] = out
        return res

    return (
        df.select(key_col, *order_cols, x_col)
        .groupBy(key_col)
        .applyInPandas(_fold, schema=schema)
    )


def sliding_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "x",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """RAG-style sliding-window chunking with overlap: each document's
    token array becomes ⌈max(n-window,0)/stride⌉+1 chunks of up to
    ``window`` tokens starting every ``stride`` tokens (overlap =
    window - stride), so retrieval context never loses a span to a
    hard boundary. Complements CDC chunking (content-defined, for
    dedup) — this is the fixed-geometry variant retrieval indexes
    want.

    Pure Catalyst: sequence → explode → slice → array_join; no UDF,
    no extra shuffle (chunking is map-side; the explode multiplies
    rows ~n/stride, carrying token slices only). chunk_id is the
    start offset / stride, so ids are stable under re-runs and
    appends."""
    n = F.size(F.col(tokens_col))
    # integer chunk count via a double floor: counts are < 2^53 so
    # the division is exact — portable to the SQL oracle verbatim
    nch = F.when(n <= window, F.lit(1)).otherwise(
        F.floor((n - window + stride - 1) / F.lit(float(stride))) + 1
    )
    starts = F.sequence(F.lit(0), (nch.cast("int") - 1) * stride, F.lit(stride))
    c = df.select(
        id_col, F.col(tokens_col).alias("_toks"), F.explode(starts).alias("start_tok")
    )
    chunk = F.slice(F.col("_toks"), F.col("start_tok") + 1, window)
    return c.select(
        id_col,
        (F.col("start_tok") / stride).cast("long").alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def ranked_mass_cumsum(
    df: DataFrame,
    key_col: str,
    mass_col: str,
    pfx_chars: int = 2,
) -> DataFrame:
    """Exact running sum of ``mass_col`` over the global order
    (mass DESC, key ASC) with NO single-task global sort — the
    frequency-ranked-cumsum primitive behind nucleus-vocabulary
    truncation (q114) and any "mass before this row" statistic over a
    corpus-derived ranking.

    A plain ``Window.orderBy(desc(mass))`` running sum funnels every
    distinct key through ONE task's sort (10^8–10^9 vocab rows at
    web scale). Here the global order is decomposed into a hierarchy
    whose levels are each small or partitioned:

      band DESC  >  mass DESC within band  >  key-prefix ASC within
      mass  >  key ASC within prefix

    (band = floor(log2(mass)) is monotone in mass; a fixed-length
    character prefix is monotone in the key — so the composite order
    equals the global one exactly.) Each level contributes a carry:

      lcum   — sum over (mass, prefix) partitions ordered by key
                (partitioned window, no global sort);
      c_pfx  — per-mass prefix carry: ≤ alphabet^pfx_chars rows per
                mass partition;
      c_mass — per-band mass carry: distinct masses per band, and
                Σ distinct masses ≤ √(2·total) by the sum bound;
      c_band — ≤ ~64-row global carry window, bounded by
                construction (the lone unpartitioned window, over
                log2 bands, never corpus-sized).

    cum = c_band + c_mass + c_pfx + lcum. Returns exactly
    (``key_col``, ``mass_col``, ``cum`` long, ``total`` long — same
    on every row); other input columns are NOT carried through (join
    them back on the key if needed). All arithmetic is integer —
    engine-exact, hash-certifiable.

    ``key_col`` MUST be a string column (enforced): the level-1
    carry orders key PREFIXES lexicographically while level 0 orders
    the native key, so a non-string key whose cast-to-string order
    differs (10 sorts before 9) would silently diverge from the
    documented global order. Non-positive masses band into an
    explicit sentinel BELOW all real log2 bands (they contribute 0
    or negative mass after every positive row, preserving the
    mass-DESC order without relying on NULL-ordering defaults).
    """
    from pyspark.sql.types import StringType

    if not isinstance(df.schema[key_col].dataType, StringType):
        raise TypeError(
            f"ranked_mass_cumsum: key_col {key_col!r} must be a string "
            f"column (got {df.schema[key_col].dataType}); the prefix "
            "carry orders lexicographically, which diverges from the "
            "native order of non-string keys — cast explicitly if "
            "lexicographic key order is really intended"
        )
    key, mass = F.col(key_col), F.col(mass_col)
    base = df.select(
        key,
        mass.cast("long").alias("_m"),
        F.substring(key, 1, pfx_chars).alias("_p"),
    )
    # level 0: within (mass, prefix), ordered by key
    w0 = (
        Window.partitionBy("_m", "_p")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lvl0 = base.withColumn("_lcum", F.sum("_m").over(w0))

    # level 1: prefix totals within each mass; carry = mass-local
    # running sum over prefixes that sort BEFORE this one
    g1 = base.groupBy("_m", "_p").agg(F.sum("_m").alias("_g1"))
    w1 = (
        Window.partitionBy("_m")
        .orderBy("_p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g1 = g1.withColumn(
        "_cp", F.coalesce(F.sum("_g1").over(w1), F.lit(0).cast("long"))
    )

    # level 2: mass totals within each log2 band; carry over HEAVIER
    # masses in the same band (DESC — heavier mass sorts first)
    g2 = g1.groupBy("_m").agg(F.sum("_g1").alias("_g2"))
    # m <= 0 gets sentinel band -1 (below every real log2 band):
    # within the band, desc(_m) still orders 0 before negatives, so
    # the composite order stays exactly (mass DESC, key ASC) without
    # leaning on desc-NULLS-LAST placement of a NULL band
    g2 = g2.withColumn(
        "_fb",
        F.when(
            F.col("_m") >= 1,
            F.floor(F.log2(F.col("_m").cast("double"))),
        ).otherwise(F.lit(-1)),
    )
    w2 = (
        Window.partitionBy("_fb")
        .orderBy(F.desc("_m"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g2 = g2.withColumn(
        "_cm", F.coalesce(F.sum("_g2").over(w2), F.lit(0).cast("long"))
    )

    # level 3: band totals; ≤ ~64 rows — the only unpartitioned
    # window, bounded by construction
    g3 = g2.groupBy("_fb").agg(F.sum("_g2").alias("_g3"))
    w3 = Window.orderBy(F.desc("_fb")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    g3 = g3.withColumn(
        "_cb", F.coalesce(F.sum("_g3").over(w3), F.lit(0).cast("long"))
    ).withColumn("_total", F.sum("_g3").over(Window.partitionBy()))

    # compose carries downward: band → mass → (mass, prefix)
    mass_carry = g2.join(F.broadcast(g3.select("_fb", "_cb", "_total")), "_fb")
    mass_carry = mass_carry.select(
        "_m", (F.col("_cb") + F.col("_cm")).alias("_cin"), "_total"
    )
    pfx_carry = g1.join(mass_carry, "_m").select(
        "_m", "_p", (F.col("_cin") + F.col("_cp")).alias("_carry"), "_total"
    )
    out = lvl0.join(pfx_carry, ["_m", "_p"])
    return out.select(
        key_col,
        F.col("_m").alias(mass_col),
        (F.col("_carry") + F.col("_lcum")).cast("long").alias("cum"),
        F.col("_total").cast("long").alias("total"),
    )


#: Default grid-row ceiling for ordered_cumsum's single-window small
#: path (see its docstring): ≤ this many distinct (group, value) rows
#: run one per-group running-sum window over the cached grid instead
#: of the range-exchange + carry machinery. 2**21 skinny rows is
#: ~100 MB of window state worst-case (one group owning the grid) —
#: comfortably single-task on any executor sizing; larger value
#: domains take the distributed path. Conf spark.vnavc.cumsum.gridCap
#: / env $SPARK_GRAFT_CUMSUM_GRID_CAP; 0 disables the gate.
CUMSUM_GRID_CAP = 2**21


def _cumsum_grid_cap(spark) -> int:
    import os as _os

    try:
        return int(
            spark.conf.get(
                "spark.vnavc.cumsum.gridCap",
                _os.environ.get(
                    "SPARK_GRAFT_CUMSUM_GRID_CAP",
                    str(CUMSUM_GRID_CAP),
                ),
            )
        )
    except ValueError:
        return CUMSUM_GRID_CAP


def ordered_cumsum(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    mass_cols: list[str] | None = None,
    num_parts: int | None = None,
    slot: str | None = None,
) -> DataFrame:
    """Exact per-group running sum over a NUMERIC key ascending —
    the CDF / distributed-rank primitive (empirical CDFs for KS
    drift, rank(v) = cum - mass + 1 for rank statistics) — with no
    single-task global sort.

    A plain ``Window.partitionBy(group).orderBy(value)`` running sum
    funnels each group through ONE task (and groups here are often
    low-cardinality dimensions: the q126/q138 lesson). Instead:

    1. pre-aggregate to DISTINCT (group, value) rows with the mass
       summed per value (map-side combinable; the cumsum input is
       vocabulary-sized, not corpus-sized);
    2. ``repartitionByRange(group..., value)`` — Spark's range
       sampler balances partitions by DATA density, so clustered
       values spread across tasks (a fixed value-space banding such
       as log2/digit-prefix buckets concentrates uniform data in the
       top band);
    3. local running sum in a window partitioned by
       (group..., partition id) — never group-global;
    4. per-(group, pid) totals carried by a window over at most
       ``num_parts`` rows per group — bounded by CLUSTER CONFIG, not
       data (ungrouped calls: one global window over <= num_parts
       rows, allowlisted in plans/audit).

    cum(v) = carry(earlier pids) + local cum — algebraically equal to
    "total mass at values <= v in the group" for ANY disjoint ordered
    partitioning, so the result is independent of where the sampled
    range boundaries fall (partition-independence is pin-testable).
    The pid-stamped frame is persisted once (``tracked_persist``):
    steps 3 and 4 are two consumers of the SAME range exchange, and a
    re-evaluated exchange may re-sample boundaries, which would
    misalign the carry with the local sums. The persisted frame is
    the distinct-value table — at 100 TB that is the value-domain
    aggregate (vocabulary-sized), not the corpus.

    SMALL-GRID GATE (round 14; guide §1.2/§3.1 pick-strategy-by-size,
    §2.4 remove shuffles outright). The distinct-value table is now
    persisted FIRST and counted (one job — and it removes a whole
    duplicate evaluation even on the large path, because
    ``repartitionByRange``'s boundary-sampling job used to re-run the
    full upstream lineage that the exchange then ran again). When the
    grid holds at most ``spark.vnavc.cumsum.gridCap`` rows (env
    $SPARK_GRAFT_CUMSUM_GRID_CAP, default 2**21; 0 disables), the
    range exchange, the pid bookkeeping, the carry cascade and the
    carry join are all skipped in favor of ONE per-group running-sum
    window over the cached grid: at ≤2M skinny rows a single-task
    sort is far below the multi-job scheduling floor the machinery
    pays (measured at sf0.1: 150-row grid 0.65 → 0.11 s, 594k-row
    grid 1.45 → 0.37 s per call, rows bit-identical). Above the cap —
    a value domain too large for one task — the range-partitioned
    carry path is unchanged; that is the 100 TB posture, and the cap
    gates on the EXACT grid count, not an estimate.

    ``value_col`` must already be integer-typed (pre-scale doubles
    with the cents convention); masses sum as long, or as
    decimal(38,0) when the input mass column is already DECIMAL-typed
    — pass a decimal mass when per-row masses are themselves
    n-sized so the cumulated total can exceed ~10^18 (the q185
    Σd_x mass; round-13 advice). NULL values drop (a NULL key holds
    no rank). Returns the distinct-value rows: group cols +
    ``value_col`` + one ``<m>`` (mass at the value) and ``cum_<m>``
    (mass at values <= it) per mass column; with ``mass_cols=None``
    a count mass named ``mass`` / ``cum``.
    """
    from pyspark.sql.types import (
        ByteType,
        DecimalType,
        IntegerType,
        LongType,
        ShortType,
    )

    if not isinstance(
        df.schema[value_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        raise TypeError(
            f"ordered_cumsum: value_col {value_col!r} must be integer-typed "
            f"(got {df.schema[value_col].dataType}); scale doubles to exact "
            "integers first (the cents convention) so cumulation and the "
            "downstream rank arithmetic stay engine-exact"
        )
    spark = df.sparkSession
    if num_parts is None:
        num_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # per-mass accumulator type: long for counts/long masses (the
    # historical contract), decimal(38,0) when the caller hands a
    # decimal mass (exact integer sums well past the int64 wrap)
    if mass_cols is None:
        masses = {"mass": F.count(F.lit(1)).cast("long")}
        out_types = {"mass": "long"}
    else:
        masses = {}
        out_types = {}
        for m in mass_cols:
            if isinstance(df.schema[m].dataType, DecimalType):
                masses[m] = F.sum(F.col(m).cast("decimal(38,0)"))
                out_types[m] = "decimal(38,0)"
            else:
                masses[m] = F.sum(F.col(m).cast("long"))
                out_types[m] = "long"
    base = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(*[expr.alias(name) for name, expr in masses.items()])
    )
    from vnavc_spark.cache import tracked_persist

    slot = slot or f"ordered_cumsum:{value_col}"
    base = tracked_persist(base, f"{slot}:grid")
    n_grid = base.count()
    cap = _cumsum_grid_cap(spark)
    if cap and n_grid <= cap:
        w_one = (
            Window.partitionBy(*group_cols)
            .orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return base.select(
            *group_cols,
            value_col,
            *[
                c
                for name in masses
                for c in (
                    F.col(name).cast(out_types[name]).alias(name),
                    F.sum(name)
                    .over(w_one)
                    .cast(out_types[name])
                    .alias(f"cum_{name}" if mass_cols else "cum"),
                )
            ],
        )
    ranged = base.repartitionByRange(
        num_parts, *[F.col(c) for c in (*group_cols, value_col)]
    ).withColumn("_pid", F.spark_partition_id())
    ranged = tracked_persist(ranged, slot)

    w_loc = (
        Window.partitionBy(*group_cols, "_pid")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = ranged
    for name in masses:
        loc = loc.withColumn(f"_l_{name}", F.sum(name).over(w_loc))

    totals = ranged.groupBy(*group_cols, "_pid").agg(
        *[F.sum(name).alias(f"_t_{name}") for name in masses]
    )
    w_carry = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    for name in masses:
        totals = totals.withColumn(
            f"_c_{name}",
            F.coalesce(
                F.sum(f"_t_{name}").over(w_carry),
                F.lit(0).cast(out_types[name]),
            ),
        )
    out = loc.join(
        totals.select(*group_cols, "_pid", *[f"_c_{n}" for n in masses]),
        [*group_cols, "_pid"],
    )
    return out.select(
        *group_cols,
        value_col,
        *[
            c
            for name in masses
            for c in (
                F.col(name).cast(out_types[name]).alias(name),
                (F.col(f"_c_{name}") + F.col(f"_l_{name}"))
                .cast(out_types[name])
                .alias(f"cum_{name}" if mass_cols else "cum"),
            )
        ],
    )


def ks_drift_from_counts(sv: DataFrame, group_col: str = "source",
                         value_col: str = "n_chars") -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic of each group's
    value distribution against the pooled corpus, from a
    pre-aggregated (group, value, cnt) count table — the shared core
    of queries.q170 (batch) and its streaming twin, both through
    :func:`ks_drift_spec` (additive batch partials summed to the
    same count table, so streaming == batch by construction).

    See q170's docstring for the math; the input contract is that
    ``cnt`` is an exact long count per DISTINCT (group, value) pair
    (nulls already dropped). Cost is value-domain × group-dimension —
    never corpus-sized."""
    from vnavc_spark.cache import tracked_persist
    from vnavc_spark.functions.portable import stable_round

    sv = tracked_persist(
        sv.select(group_col, value_col, F.col("cnt").cast("long").alias("cnt")),
        f"ks_sv:{group_col}",
    )
    vals = sv.select(value_col).distinct()
    grps = sv.groupBy(group_col).agg(F.sum("cnt").alias("n_s"))
    n = sv.agg(F.sum("cnt").cast("decimal(38,0)").alias("n"))
    grid = (
        vals.crossJoin(F.broadcast(grps.select(group_col)))
        .join(sv, [group_col, value_col], "left")
        .select(
            group_col, value_col, F.coalesce("cnt", F.lit(0)).alias("cnt")
        )
    )
    cums = ordered_cumsum(
        grid, [group_col], value_col, mass_cols=["cnt"],
        slot=f"ks_cums:{group_col}",
    )
    corp = cums.groupBy(value_col).agg(F.sum("cum_cnt").alias("cum"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return (
        cums.join(corp, value_col)
        .join(F.broadcast(grps), group_col)
        .crossJoin(F.broadcast(n))
        .groupBy(group_col, "n_s", "n")
        .agg(
            F.max(
                F.abs(dec("cum_cnt") * dec("n") - dec("cum") * dec("n_s"))
            ).alias("max_diff")
        )
        .select(
            group_col,
            F.col("n_s").cast("long").alias("n_docs"),
            stable_round(
                F.col("max_diff").cast("double")
                / (dec("n_s") * dec("n")).cast("double"),
                6,
            ).alias("ks_stat"),
        )
    )


def score_separation_from_counts(
    sv: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
) -> DataFrame:
    """Exact AUC / Gini / KS separation of a numeric score against a
    binary label per group, from a pre-aggregated (group, value, cnt,
    cnt_pos) count table — the classifier-evaluation triple (ROC AUC,
    Gini = 2·AUC − 1, and the KS statistic credit-scoring reports as
    "maximum separation") computed with ZERO per-group buffering and
    no global sort. Shared by queries.q186 (batch) and its
    streaming twin, both through :func:`score_separation_spec`
    (additive batch partials summed to the same count table, so
    streaming == batch by construction).

    Math: with midranks, AUC = U/(n1·n0) where U = R1 − n1(n1+1)/2
    and 2·R1 = Σ_v c1(v)·(2·C(<v) + c(v) + 1) needs only per-value
    counts plus the running total below each value — the
    ``ordered_cumsum`` CDF primitive (grid is the value domain, never
    the corpus). This equals the trapezoid area under the exact ROC
    curve evaluated at every distinct score (ties handled by the
    midrank/trapezoid convention). KS = max_v |TPR(v) − FPR(v)|
    cross-multiplied to the exact integer max_v |cum1(v)·n0 −
    cum0(v)·n1| with ONE terminal division. Everything left of the
    two divisions is exact decimal(38,0) integer arithmetic (long
    rank mass overflows past ~10^9 rows/group); the double trees
    match the DuckDB oracle bit-for-bit.

    Input contract: ``cnt`` / ``cnt_pos`` are exact long counts per
    DISTINCT (group, value) pair (nulls already dropped, cnt_pos ≤
    cnt). Groups with an empty class (n1 = 0 or n0 = 0) drop — no
    separation is defined there."""
    from vnavc_spark.cache import tracked_persist
    from vnavc_spark.functions.portable import stable_round

    sv = tracked_persist(
        sv.select(
            group_col,
            value_col,
            F.col("cnt").cast("long").alias("cnt"),
            F.col("cnt_pos").cast("long").alias("cnt_pos"),
        ),
        f"aucsep_sv:{group_col}",
    )
    grps = sv.groupBy(group_col).agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt_pos").cast("long").alias("n1"),
    )
    cums = ordered_cumsum(
        sv,
        [group_col],
        value_col,
        mass_cols=["cnt", "cnt_pos"],
        slot=f"aucsep_cums:{group_col}",
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    j = cums.join(F.broadcast(grps), group_col)
    a = j.groupBy(group_col, "n", "n1").agg(
        F.sum(
            dec("cnt_pos")
            * (
                F.lit(2) * (dec("cum_cnt") - dec("cnt"))
                + dec("cnt")
                + F.lit(1)
            )
        ).alias("two_r1"),
        F.max(
            F.abs(
                dec("cum_cnt_pos") * (dec("n") - dec("n1"))
                - (dec("cum_cnt") - dec("cum_cnt_pos")) * dec("n1")
            )
        ).alias("ks_num"),
    )
    n0 = dec("n") - dec("n1")
    u2 = (F.col("two_r1") - dec("n1") * (dec("n1") + F.lit(1))).cast(
        "double"
    )
    den = (F.lit(2) * dec("n1") * n0).cast("double")
    auc = u2 / den
    return (
        a.filter((F.col("n1") >= 1) & (F.col("n") - F.col("n1") >= 1))
        .select(
            group_col,
            F.col("n1").alias("n_pos"),
            (F.col("n") - F.col("n1")).alias("n_neg"),
            stable_round(auc, 6).alias("auc"),
            stable_round(auc * F.lit(2.0) - F.lit(1.0), 6).alias("gini"),
            stable_round(
                F.col("ks_num").cast("double")
                / (dec("n1") * n0).cast("double"),
                6,
            ).alias("ks_stat"),
        )
    )


def average_precision_from_counts(
    sv: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
) -> DataFrame:
    """Exact AVERAGE PRECISION (area under the precision-recall
    curve, step convention) of a numeric score against a binary
    label per group, from the SAME pre-aggregated (group, value,
    cnt, cnt_pos) count table :func:`score_separation_from_counts`
    consumes — the PR-side companion to the ROC triple, and the
    metric quality-classifier gates for training corpora actually
    report (PR is the informative curve under class imbalance,
    where ROC AUC saturates). No new staging contract: the
    streaming label-histogram twin's additive partials sum to this
    count table exactly as they do for the AUC family.

    Math: thresholds sweep the distinct score values DESCENDING
    (predict positive at-or-above v). With the ascending
    ``ordered_cumsum`` masses cum(v), cum1(v): at-or-above masses
    are A(v) = n − cum(v) + c(v) and A1(v) = n1 − cum1(v) + c1(v);
    precision(v) = A1/A, the recall step is c1(v)/n1, and the
    step-function AP (the standard average-precision convention:
    AP = Σ (r_i − r_{i−1})·p_i with ties collapsed into one
    threshold) is AP = Σ_v c1(v)·A1(v) / (n1·A(v)).

    Cross-engine determinism: every factor is an exactly-
    representable integer-valued double (< 2^53 by the long input
    contract), each term's double tree is identical in both
    engines, and each term is quantized floor(x·1e9 + 0.5) BEFORE
    the per-group sum (``functions.portable.exact_sum``) so the sum
    is an order-independent INTEGER sum — summation order can never
    split the engines. The certified value is that quantized-sum
    definition (within 0.5e-9 per grid row of the real-valued AP).

    Scale shape: identical to the AUC core — one value-domain
    cumsum grid, a broadcast totals join, one partial-aggregable
    sum; the corpus participates only in building ``sv``. Groups
    with an empty class drop (same non-degeneracy contract as the
    ROC triple; a negative-free group has AP ≡ 1 and a
    positive-free one has AP undefined — neither says anything
    about separation). Output: (group, n_pos, n_neg, ap,
    prevalence) — prevalence n1/n is AP's random-classifier
    baseline, riding along so a reader can see the lift."""
    from vnavc_spark.cache import tracked_persist
    from vnavc_spark.functions.portable import exact_sum, stable_round

    sv = tracked_persist(
        sv.select(
            group_col,
            value_col,
            F.col("cnt").cast("long").alias("cnt"),
            F.col("cnt_pos").cast("long").alias("cnt_pos"),
        ),
        f"apsep_sv:{group_col}",
    )
    grps = sv.groupBy(group_col).agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt_pos").cast("long").alias("n1"),
    )
    cums = ordered_cumsum(
        sv,
        [group_col],
        value_col,
        mass_cols=["cnt", "cnt_pos"],
        slot=f"apsep_cums:{group_col}",
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # degenerate groups dropped BEFORE the term so the n1 division
    # can never produce NaN/inf on either engine
    j = cums.join(F.broadcast(grps), group_col).filter(
        (F.col("n1") >= 1) & (F.col("n") - F.col("n1") >= 1)
    )
    above = d("n") - d("cum_cnt") + d("cnt")
    above_pos = d("n1") - d("cum_cnt_pos") + d("cnt_pos")
    term = d("cnt_pos") * above_pos / (d("n1") * above)
    a = j.groupBy(group_col, "n", "n1").agg(
        exact_sum(term, 9).alias("ap_raw")
    )
    return a.select(
        group_col,
        F.col("n1").alias("n_pos"),
        (F.col("n") - F.col("n1")).alias("n_neg"),
        stable_round(F.col("ap_raw"), 6).alias("ap"),
        stable_round(d("n1") / d("n"), 6).alias("prevalence"),
    )


def quantile_drift_from_counts(
    sv: DataFrame,
    group_col: str = "source",
    value_col: str = "v",
) -> DataFrame:
    """Per-group decile table vs the pooled-corpus deciles, from a
    pre-aggregated (group, value, cnt) count table — the inverse-CDF
    lookup core shared by queries.q192 (batch) and its streaming
    twin, both through :func:`quantile_drift_spec` (the SAME
    additive length-histogram partials the KS twin stages reproduce
    this count table exactly, so streaming == batch by construction).

    The q-th decile is min{v : cum(v) ≥ ⌈q·n/10⌉}; the ceiling is
    (q·n + 9) div 10 in exact longs — the whole computation is
    integer, so the hash is trivially stable. See q192's docstring
    for the grid/reuse shape; cost is value-domain × groups, never
    corpus."""
    from vnavc_spark.cache import tracked_persist

    spark = sv.sparkSession
    sv = tracked_persist(
        sv.select(
            group_col,
            value_col,
            F.col("cnt").cast("long").alias("cnt"),
        ),
        f"qdrift_sv:{group_col}",
    )
    vals = sv.select(value_col).distinct()
    grps = sv.groupBy(group_col).agg(
        F.sum("cnt").cast("long").alias("n_s")
    )
    grid = (
        vals.crossJoin(F.broadcast(grps.select(group_col)))
        .join(sv, [group_col, value_col], "left")
        .select(
            group_col,
            value_col,
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
    )
    cums = ordered_cumsum(
        grid,
        [group_col],
        value_col,
        mass_cols=["cnt"],
        slot=f"qdrift_cums:{group_col}",
    )
    cums = tracked_persist(cums, f"qdrift_cums_out:{group_col}")
    corp = cums.groupBy(value_col).agg(
        F.sum("cum_cnt").cast("long").alias("ccum")
    )
    n = sv.agg(F.sum("cnt").cast("long").alias("n"))
    qs = spark.range(1, 10).select(F.col("id").cast("int").alias("q"))
    rank_of = lambda qc, nc: (  # noqa: E731
        F.expr(f"CAST(({qc} * {nc} + 9) DIV 10 AS BIGINT)")
    )
    sq = (
        cums.join(F.broadcast(grps), group_col)
        .crossJoin(F.broadcast(qs))
        .filter(F.col("cum_cnt") >= rank_of("q", "n_s"))
        .groupBy(group_col, "q")
        .agg(F.min(value_col).alias("src_value"))
    )
    cq = (
        corp.crossJoin(F.broadcast(qs))
        .crossJoin(F.broadcast(n))
        .filter(F.col("ccum") >= rank_of("q", "n"))
        .groupBy("q")
        .agg(F.min(value_col).alias("corpus_value"))
    )
    return sq.join(cq, "q").select(
        group_col,
        F.col("q").cast("long").alias("decile"),
        "src_value",
        "corpus_value",
        (F.col("src_value") - F.col("corpus_value")).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Mergeable-partial specs (operators/mergeable.py): each batch query
# below and its streaming twin (streaming/ingest.TWINS) call the same
# partial and finalize.
# ---------------------------------------------------------------------------


def window_topk_spec(k: int = 3) -> Spec:
    """q156's top-k event types per tumbling hour. Partial: (wstart,
    event_type, n) counts; merge: sum (a late row lands in its
    event-time window through whatever batch it arrives in). The rank
    filter stays on the raw row_number so WindowGroupLimit keeps each
    hour's sort to a k-element heap."""

    def partial(rows: DataFrame) -> DataFrame:
        e = rows.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        return e.groupBy(
            F.date_trunc("hour", "ts").alias("wstart"), "event_type"
        ).agg(F.count("*").cast("long").alias("n"))

    def finalize(h: DataFrame) -> DataFrame:
        rk = F.row_number().over(
            Window.partitionBy("wstart").orderBy(
                F.col("n").desc(), F.col("event_type").asc()
            )
        )
        return (
            h.withColumn("rk", rk)
            .filter(F.col("rk") <= k)
            .select(
                F.date_format("wstart", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                F.col("n").alias("n_events"),
                F.col("rk").cast("long").alias("rk"),
            )
        )

    return Spec(partial, merge_by("wstart", "event_type"), finalize)


def _length_counts(rows: DataFrame) -> DataFrame:
    """(source, n_chars, cnt) document-length histogram, nulls dropped —
    the one corpus-sized pass of q170 and q192."""
    return rows.filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).groupBy("source", "n_chars").agg(F.count("*").cast("long").alias("cnt"))


def ks_drift_spec() -> Spec:
    """q170's per-source KS drift. Partial: the length histogram;
    merge: sum."""
    return Spec(
        _length_counts, merge_by("source", "n_chars"), ks_drift_from_counts
    )


def quantile_drift_spec() -> Spec:
    """q192's per-source decile drift, from the same staged length
    histogram as :func:`ks_drift_spec`."""

    def finalize(sv: DataFrame) -> DataFrame:
        return quantile_drift_from_counts(
            sv.select("source", F.col("n_chars").cast("long").alias("v"), "cnt"),
            "source",
            "v",
        )

    return Spec(_length_counts, merge_by("source", "n_chars"), finalize)


def label_counts(
    rows: DataFrame, group_col: str, value: str | Column, pos: Column
) -> DataFrame:
    """Class-conditional histogram (group, value, cnt, cnt_pos): ``pos``
    is the row's 0/1 positive-label indicator and ``value`` a column
    name or an aliased Column. The count table that
    :func:`score_separation_from_counts` and
    :func:`average_precision_from_counts` consume; q186, q203, q204
    and q217 each build theirs with it."""
    return rows.groupBy(group_col, value).agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(pos).cast("long").alias("cnt_pos"),
    )


def _label_histogram_spec(core, group, value, label, pos) -> Spec:
    def partial(rows: DataFrame) -> DataFrame:
        return label_counts(
            rows.filter(F.col(group).isNotNull() & F.col(value).isNotNull()),
            group,
            F.col(value).cast("long").alias(value),
            F.when(F.col(label) == F.lit(pos), 1).otherwise(F.lit(0)),
        )

    return Spec(
        partial, merge_by(group, value), lambda sv: core(sv, group, value)
    )


def score_separation_spec(
    group: str = "source",
    value: str = "n_chars",
    label: str = "lang",
    pos: str = "en",
) -> Spec:
    """AUC/Gini/KS separation of ``value`` against ``label == pos`` per
    ``group``: q186 with the defaults. Partial: the class-conditional
    histogram (:func:`label_counts`); merge: sum. The events shapes of
    q203 (group=event_type, value=cents) and q204 (a composite
    group) stage the same histogram from their own projections."""
    return _label_histogram_spec(
        score_separation_from_counts, group, value, label, pos
    )


def average_precision_spec(
    group: str = "source",
    value: str = "n_chars",
    label: str = "lang",
    pos: str = "en",
) -> Spec:
    """Average precision of ``value`` against ``label == pos`` per
    ``group``, from the same staged histogram as
    :func:`score_separation_spec` (q217 in the events shape)."""
    return _label_histogram_spec(
        average_precision_from_counts, group, value, label, pos
    )
